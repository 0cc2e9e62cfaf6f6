"""Unit + golden tests for the SQL workload miner (SURVEY §5.2.2 — the
most bug-prone layer; parity with reference parse_underlying_query,
src/partitioning.py:22-66)."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from trino_adaptive_partitioning_tool_spark.operators import mining


def test_simple_join_where():
    m = mining.mine_statement(
        "SELECT o.o_orderkey, c.c_name FROM orders o "
        "JOIN customer c ON o.o_custkey = c.c_custkey "
        "WHERE c.c_mktsegment = 'BUILDING'"
    )
    assert m["parsed"]
    assert m["tables"] == ["orders", "customer"]
    assert m["join_columns"] == {"o_custkey": 1, "c_custkey": 1}
    assert m["where_columns"] == {"c_mktsegment": 1}
    assert not m["has_limit"]


def test_three_way_join():
    m = mining.mine_statement(
        "SELECT l.l_orderkey FROM lineitem l "
        "JOIN orders o ON l.l_orderkey = o.o_orderkey "
        "JOIN customer c ON o.o_custkey = c.c_custkey"
    )
    assert m["tables"] == ["lineitem", "orders", "customer"]
    assert m["join_columns"] == {
        "l_orderkey": 1, "o_orderkey": 1, "o_custkey": 1, "c_custkey": 1,
    }


def test_where_function_call_skipped_column_counted():
    m = mining.mine_statement(
        "SELECT 1 FROM customer WHERE upper(c_name) = 'A' AND c_acctbal > 10"
    )
    assert m["where_columns"] == {"c_name": 1, "c_acctbal": 1}


def test_alias_not_counted_as_column():
    m = mining.mine_statement(
        "SELECT 1 FROM orders o WHERE o.o_orderstatus = 'F'"
    )
    assert m["where_columns"] == {"o_orderstatus": 1}


def test_repeated_column_occurrences_counted():
    m = mining.mine_statement(
        "SELECT 1 FROM orders WHERE o_totalprice > 10 AND o_totalprice < 100"
    )
    assert m["where_columns"] == {"o_totalprice": 2}


def test_limit_detection():
    assert mining.mine_statement("SELECT 1 FROM orders LIMIT 5")["has_limit"]
    assert not mining.mine_statement("SELECT 1 FROM orders")["has_limit"]


def test_unparseable_statement():
    m = mining.mine_statement("EXPLAIN ANALYZE ??? not really sql (")
    assert not m["parsed"]
    assert m["tables"] == []
    assert not m["join_columns"] and not m["where_columns"]


def test_subquery_in_from_mined_recursively():
    m = mining.mine_statement(
        "SELECT x FROM (SELECT o_orderkey AS x FROM orders) t WHERE x > 1"
    )
    # derived table: base table attributed (sqlglot parity), outer WHERE
    # still mined; the derived-table alias t is not a table
    assert m["tables"] == ["orders"]
    assert m["where_columns"] == {"x": 1}


# ---------------------------------------------------------------------------
# Adversarial corpus — parser-grade inputs a naive tokenizer mishandles
# (VERDICT r2 item 5; reference semantics: sqlglot tree walk,
# src/partitioning.py:34-60)
# ---------------------------------------------------------------------------


def test_nested_derived_tables_with_aliased_as():
    m = mining.mine_statement(
        "SELECT a AS b FROM (SELECT x AS y FROM "
        "(SELECT l_orderkey AS x FROM lineitem WHERE l_discount > 0) AS inner1"
        " WHERE x > 2) AS outer1 WHERE b < 9"
    )
    assert m["tables"] == ["lineitem"]
    assert m["where_columns"] == {"l_discount": 1, "x": 1, "b": 1}


def test_cte_shadowing_table_name_not_counted_as_scan():
    m = mining.mine_statement(
        "WITH orders AS (SELECT * FROM lineitem WHERE l_tax > 0) "
        "SELECT 1 FROM orders WHERE x = 3"
    )
    # `orders` here is the CTE, not the base table; lineitem is the scan
    assert m["tables"] == ["lineitem"]
    assert m["where_columns"] == {"l_tax": 1, "x": 1}


def test_multiple_ctes_with_recursive_keyword():
    m = mining.mine_statement(
        "WITH RECURSIVE a AS (SELECT 1 FROM t1), b (c1, c2) AS "
        "(SELECT * FROM a JOIN t2 ON a.k = t2.k) "
        "SELECT * FROM b WHERE c1 > 0"
    )
    assert m["tables"] == ["t1", "t2"]
    assert m["join_columns"] == {"k": 2}
    assert m["where_columns"] == {"c1": 1}


def test_quoted_identifier_with_dot_is_one_name():
    m = mining.mine_statement(
        'SELECT 1 FROM "my.schema"."weird.table" WHERE "od.d" = 1'
    )
    # dots inside quotes are part of the name, not qualifiers
    assert m["tables"] == ["weird.table"]
    assert m["where_columns"] == {"od.d": 1}


def test_quoted_keyword_identifier():
    m = mining.mine_statement(
        'SELECT 1 FROM "select" WHERE "where" = 2'
    )
    assert m["tables"] == ["select"]
    assert m["where_columns"] == {"where": 1}


def test_using_join_columns_counted():
    m = mining.mine_statement(
        "SELECT 1 FROM orders JOIN customer USING (custkey) "
        "JOIN nation USING (nationkey, regionkey)"
    )
    assert m["tables"] == ["orders", "customer", "nation"]
    assert m["join_columns"] == {
        "custkey": 1, "nationkey": 1, "regionkey": 1,
    }


def test_in_subquery_tables_attributed_not_counted_as_columns():
    m = mining.mine_statement(
        "SELECT 1 FROM orders WHERE o_custkey IN "
        "(SELECT c_custkey FROM customer WHERE c_acctbal > 0)"
    )
    assert m["tables"] == ["orders", "customer"]
    # customer must NOT appear as a where_column (r2 flat-scan bug class)
    assert m["where_columns"] == {"o_custkey": 1, "c_acctbal": 1}


def test_lateral_comma_join():
    m = mining.mine_statement(
        "SELECT 1 FROM orders o, LATERAL (SELECT * FROM lineitem l "
        "WHERE l.l_orderkey = o.o_orderkey) x WHERE o.o_totalprice > 5"
    )
    assert m["tables"] == ["orders", "lineitem"]
    assert m["where_columns"] == {
        "l_orderkey": 1, "o_orderkey": 1, "o_totalprice": 1,
    }


def test_join_to_derived_table():
    m = mining.mine_statement(
        "SELECT 1 FROM orders o JOIN "
        "(SELECT l_orderkey FROM lineitem) q ON o.o_orderkey = q.l_orderkey"
    )
    assert m["tables"] == ["orders", "lineitem"]
    assert m["join_columns"] == {"o_orderkey": 1, "l_orderkey": 1}


def test_exists_subquery():
    m = mining.mine_statement(
        "SELECT 1 FROM supplier s WHERE EXISTS "
        "(SELECT 1 FROM lineitem l WHERE l.l_suppkey = s.s_suppkey)"
    )
    assert m["tables"] == ["supplier", "lineitem"]
    assert m["where_columns"] == {"l_suppkey": 1, "s_suppkey": 1}


def test_cte_not_leaked_across_statements():
    # CTE names are per-statement scope
    m1 = mining.mine_statement(
        "WITH x AS (SELECT 1 FROM t1) SELECT * FROM x"
    )
    m2 = mining.mine_statement("SELECT * FROM x")
    assert m1["tables"] == ["t1"]
    assert m2["tables"] == ["x"]


def test_comma_join_from_list():
    m = mining.mine_statement(
        "SELECT 1 FROM orders o, customer c WHERE o.o_custkey = c.c_custkey"
    )
    assert m["tables"] == ["orders", "customer"]
    assert m["where_columns"] == {"o_custkey": 1, "c_custkey": 1}


def test_extract_select_from_mv_ddl():
    sql = (
        "CREATE MATERIALIZED VIEW analytics.orders AS "
        "SELECT o_orderkey AS key FROM orders"
    )
    assert mining.extract_select_statement(sql) == (
        "SELECT o_orderkey AS key FROM orders"
    )


def test_extract_select_alias_containing_as_not_split():
    # the reference's " AS " string-split breaks here (SURVEY F1/§8);
    # the anchored regex must not
    sql = (
        "CREATE MATERIALIZED VIEW s.v AS "
        "SELECT o_orderkey AS order_as_key FROM orders"
    )
    out = mining.extract_select_statement(sql)
    assert out.startswith("SELECT o_orderkey AS order_as_key")


def test_schema_qualified_table_base_name():
    m = mining.mine_statement("SELECT 1 FROM analytics.orders WHERE o_orderkey = 1")
    assert m["tables"] == ["orders"]


@given(st.text(max_size=200))
@settings(max_examples=200, deadline=None)
def test_miner_never_crashes(sql):
    m = mining.mine_statement(sql)
    assert isinstance(m["parsed"], bool)
    assert all(c >= 1 for c in m["join_columns"].values())
    assert all(c >= 1 for c in m["where_columns"].values())
    assert len(m["tables"]) == len(set(m["tables"]))


def test_mine_query_log_dataframe(spark):
    from trino_adaptive_partitioning_tool_spark.sources import fixtures

    logs = fixtures.query_logs_df(spark)
    mined = mining.mine_query_log(logs).collect()
    kinds = {r["kind"] for r in mined}
    assert kinds == {"table", "join_column", "where_column", "limit_marker"}
    q3 = [r for r in mined if r["query_id"] == "q_0003"]
    assert {(r["kind"], r["name"]) for r in q3} == {
        ("table", "orders"), ("table", "customer"),
        ("join_column", "o_custkey"), ("join_column", "c_custkey"),
        ("where_column", "c_mktsegment"),
    }
    # unparseable q_0011 yields nothing
    assert not [r for r in mined if r["query_id"] == "q_0011"]


def test_select_list_scalar_subquery_scoped():
    """A scalar subquery in the select list is its own scope: its WHERE
    must not swallow the outer FROM, and the outer alias/table names must
    not leak into where-column counts."""
    m = mining.mine_statement(
        "SELECT (SELECT MAX(x) FROM t2 WHERE t2.y = t1.y) AS mx "
        "FROM t1 WHERE z = 1"
    )
    assert sorted(m["tables"]) == ["t1", "t2"]
    assert dict(m["where_columns"]) == {"y": 2, "z": 1}
    assert dict(m["join_columns"]) == {}


def test_cte_body_join_columns_scoped():
    """ON-clause collection must stop at the CTE body's closing paren —
    the outer select list is not a join column."""
    m = mining.mine_statement(
        "WITH a AS (SELECT 1 FROM t1 JOIN t2 ON t1.k = t2.k) "
        "SELECT c5 FROM a"
    )
    assert sorted(m["tables"]) == ["t1", "t2"]
    assert dict(m["join_columns"]) == {"k": 2}
    assert dict(m["where_columns"]) == {}


def test_set_ops_terminate_where_collection():
    m = mining.mine_statement(
        "SELECT a FROM t1 WHERE x = 1 EXCEPT SELECT a FROM t2 WHERE y = 2"
    )
    assert sorted(m["tables"]) == ["t1", "t2"]
    assert dict(m["where_columns"]) == {"x": 1, "y": 1}
    m = mining.mine_statement(
        "SELECT a FROM t1 WHERE x IN (1, 2) UNION ALL SELECT b FROM t2"
    )
    assert sorted(m["tables"]) == ["t1", "t2"]
    assert dict(m["where_columns"]) == {"x": 1}


def test_window_function_over_clause_not_collected():
    m = mining.mine_statement(
        "SELECT rank() OVER (PARTITION BY seg ORDER BY amt DESC) AS r "
        "FROM t1 WHERE d = 5"
    )
    assert m["tables"] == ["t1"]
    assert dict(m["where_columns"]) == {"d": 1}
    assert dict(m["join_columns"]) == {}


def test_nested_expression_parens_collect_through():
    """Depth-tracked parens: a ')' closing an expression group must not
    terminate the clause; only a ')' closing the enclosing scope does."""
    m = mining.mine_statement("SELECT 1 FROM t WHERE (a = 1 OR b = 2) AND c = 3")
    assert dict(m["where_columns"]) == {"a": 1, "b": 1, "c": 1}


def test_quoted_alias_spelling_keyword():
    m = mining.mine_statement(
        'SELECT "from".x FROM t1 AS "from" WHERE "from".y = 1'
    )
    assert m["tables"] == ["t1"]
    assert dict(m["where_columns"]) == {"y": 1}


# ---------------------------------------------------------------------------
# Generative-grammar differential fuzz (r5): build SQL from a small
# grammar TOGETHER with its ground-truth mining expectation, then assert
# the miner reproduces it exactly — a differential check over the whole
# grammar, not just invariants. Covers joins (ON / USING / comma / outer
# variants), nested derived tables, predicate subqueries (IN / EXISTS),
# scalar select-list subqueries, CTEs (forward references, shadowing
# scope inheritance), set ops, window OVER clauses, GROUP/ORDER tails,
# function calls, quoted identifiers (incl. keyword spellings), and
# LIMIT. Identifier pools are disjoint by construction so alias/column
# suppression can't produce ambiguous expectations.
#
# Default examples keep CI fast; the certification sweep is
#   MINER_FUZZ_EXAMPLES=10000 python -m pytest tests/test_mining.py -k grammar
# (green over 10^4 statements as of r5).
# ---------------------------------------------------------------------------

import os
from collections import Counter

# (sql_token, mined_base) pairs; r12 adds the quoted-identifier edge
# cases from Trino's grammar — embedded spaces, keyword spellings,
# dots INSIDE quotes (part of the name, not a qualifier), doubled-quote
# escapes, and schema-qualified quoted segments
_F_TABLES = [
    ("tbl_alpha", "tbl_alpha"),
    ("tbl_beta", "tbl_beta"),
    ("tbl_gamma", "tbl_gamma"),
    ('"Tbl Eps"', "tbl eps"),
    ('sch_one."Tbl.Zeta"', "tbl.zeta"),
]
_F_COLS = [
    ("col_one", "col_one"),
    ("col_two", "col_two"),
    ("col_three", "col_three"),
    ('"Quoted Col"', "quoted col"),
    ('"select"', "select"),  # keyword spelled as a quoted identifier
    ('"Dot.Col"', "dot.col"),  # dot inside quotes is not a qualifier
    ('"esc""col"', 'esc"col'),  # doubled-quote escape in the name
]
# includes keywords spelled as QUOTED identifiers — legal alias names
# that must not terminate clause collection or leak into column counts
_F_ALIASES = ["a1", "a2", "a3", "a4", '"where"', '"from"']
_F_CTES = ["cte_x", "cte_y"]
_F_FUNCS = ["upper", "abs", "length"]
# disjoint pools for the r7 Trino-dialect corners: lambda params and
# UNNEST output aliases must never collide with real column names, so
# suppression can't blur the ground-truth expectation
_F_LAMBDA_PARAMS = ["lam_one", "lam_two"]
_F_UNNEST_ALIASES = ["u_t1", "u_t2"]
_F_UNNEST_COLS = ["u_c1", "u_c2", "u_c3"]
# r8 long-tail sources: VALUES derived tables and ROWS FROM table
# functions — both contribute NO base tables and NO columns; their
# output names come from disjoint pools so suppression stays exact
_F_VALUES_ALIASES = ["v_t1", "v_t2"]
_F_VALUES_COLS = ["v_c1", "v_c2", "v_c3"]
# r9: MATCH_RECOGNIZE MEASURES output names (disjoint, like the rest)
_F_MR_OUTS = ["mr_o1", "mr_o2"]


def _fz_merge(dst, src):
    dst["tables"] |= src["tables"]
    dst["join"].update(src["join"])
    dst["where"].update(src["where"])
    dst["limit"] = dst["limit"] or src["limit"]


@st.composite
def _fz_column(draw):
    tok, base = draw(st.sampled_from(_F_COLS))
    if draw(st.booleans()):
        tok = f"{draw(st.sampled_from(_F_ALIASES))}.{tok}"
    return tok, base


@st.composite
def _fz_table_source(draw, depth, exp, ctes):
    kinds = ["base", "base", "sampled", "unnest", "values", "rowsfrom",
             "mr"]
    if ctes:
        kinds.append("cte")
    if depth > 0:
        kinds.append("derived")
    kind = draw(st.sampled_from(kinds))
    if kind == "mr":
        # MATCH_RECOGNIZE over a base table (r9): PARTITION BY mines as
        # a join (co-location) signal, ORDER BY and DEFINE predicate
        # refs as where signals; pattern vars / MEASURES outputs /
        # navigation calls contribute nothing. MEASURES output names
        # come from a disjoint pool so suppression stays exact.
        t_tok, t_base = draw(st.sampled_from(_F_TABLES))
        exp["tables"].add(t_base)
        pcol = draw(st.sampled_from(_F_COLS))
        ocol = draw(st.sampled_from(_F_COLS))
        dcol = draw(st.sampled_from(_F_COLS))
        exp["join"].update([pcol[1]])
        exp["where"].update([ocol[1], dcol[1], dcol[1]])
        mr_out = draw(st.sampled_from(_F_MR_OUTS))
        alias = draw(st.sampled_from(_F_ALIASES))
        as_kw = "AS " if draw(st.booleans()) else ""
        return (
            f"{t_tok} MATCH_RECOGNIZE("
            f" PARTITION BY {pcol[0]} ORDER BY {ocol[0]} DESC"
            f" MEASURES A.{dcol[0]} AS {mr_out}"
            f" ONE ROW PER MATCH AFTER MATCH SKIP TO NEXT ROW"
            f" PATTERN (A B+)"
            f" DEFINE B AS B.{dcol[0]} > PREV(B.{dcol[0]})"
            f") {as_kw}{alias}"
        )
    if kind == "values":
        # Trino VALUES derived table: no base-table scan, and the
        # t(cols) output names are derived columns — never phantom
        # base columns
        n_cols = draw(st.integers(1, 2))
        n_rows = draw(st.integers(1, 2))
        lits = ["7", "'v'", "3.5"]
        rows = ", ".join(
            "(" + ", ".join(draw(st.sampled_from(lits))
                            for _ in range(n_cols)) + ")"
            for _ in range(n_rows)
        )
        va = draw(st.sampled_from(_F_VALUES_ALIASES))
        vcols = draw(st.lists(st.sampled_from(_F_VALUES_COLS),
                              min_size=n_cols, max_size=n_cols,
                              unique=True))
        as_kw = "AS " if draw(st.booleans()) else ""
        return f"(VALUES {rows}) {as_kw}{va}(" + ", ".join(vcols) + ")"
    if kind == "rowsfrom":
        # Trino ROWS FROM multi-table-function source: `rows` must not
        # mine as a table name; outputs are derived columns
        fns = ", ".join(
            f"{draw(st.sampled_from(_F_FUNCS))}('x')"
            for _ in range(draw(st.integers(1, 2)))
        )
        va = draw(st.sampled_from(_F_VALUES_ALIASES))
        vcols = draw(st.lists(st.sampled_from(_F_VALUES_COLS),
                              min_size=1, max_size=2, unique=True))
        ord_ = " WITH ORDINALITY" if draw(st.booleans()) else ""
        as_kw = "AS " if draw(st.booleans()) else ""
        return (f"ROWS FROM ({fns}){ord_} {as_kw}{va}("
                + ", ".join(vcols) + ")")
    if kind == "base":
        t_tok, t_base = draw(st.sampled_from(_F_TABLES))
        exp["tables"].add(t_base)
        alias = draw(st.sampled_from(_F_ALIASES + [""]))
        if alias:
            return (f"{t_tok} AS {alias}" if draw(st.booleans())
                    else f"{t_tok} {alias}")
        return t_tok
    if kind == "sampled":
        # Trino sampledRelation: tbl [alias] TABLESAMPLE kind (pct) —
        # the sample clause contributes no tables/columns and must not
        # derail a following comma/join source
        t_tok, t_base = draw(st.sampled_from(_F_TABLES))
        exp["tables"].add(t_base)
        alias = draw(st.sampled_from(_F_ALIASES + [""]))
        meth = draw(st.sampled_from(["BERNOULLI", "SYSTEM"]))
        base = f"{t_tok} {alias}".strip()
        return f"{base} TABLESAMPLE {meth} (10)"
    if kind == "unnest":
        # relational UNNEST: no base-table scan; the AS t(cols) output
        # names are derived columns, suppressed from later collections
        # (disjoint pools keep the expectation exact)
        arr = draw(_fz_column())[0]
        ua = draw(st.sampled_from(_F_UNNEST_ALIASES))
        ucols = draw(st.lists(st.sampled_from(_F_UNNEST_COLS), min_size=1,
                              max_size=2, unique=True))
        ord_ = " WITH ORDINALITY" if draw(st.booleans()) else ""
        return f"UNNEST({arr}){ord_} AS {ua}(" + ", ".join(ucols) + ")"
    if kind == "cte":
        c = draw(st.sampled_from(sorted(ctes)))
        alias = draw(st.sampled_from(_F_ALIASES + [""]))
        return f"{c} {alias}".strip()  # a CTE reference is never a scan
    sub_sql, sub_exp = draw(_fz_query(depth - 1, ctes))
    _fz_merge(exp, sub_exp)
    return f"({sub_sql}) AS {draw(st.sampled_from(_F_ALIASES))}"


@st.composite
def _fz_predicate(draw, depth, exp, ctes):
    kinds = ["cmp", "cmp", "func", "lambda"]
    if depth > 0:
        kinds += ["in_sub", "exists"]
    kind = draw(st.sampled_from(kinds))
    if kind == "lambda":
        # Trino array-function lambdas: params are NOT columns; free
        # columns inside the body and the array argument ARE. Param
        # scoping is per-lambda — a later predicate may legally use a
        # column even if some other lambda bound the same name (the
        # disjoint pools make the expectation exact regardless).
        form = draw(st.sampled_from(["filter", "transform_free", "reduce"]))
        arr_tok, arr_base = draw(_fz_column())
        exp["where"][arr_base] += 1
        p1, p2 = draw(st.permutations(_F_LAMBDA_PARAMS))
        if form == "filter":
            return (
                f"cardinality(filter({arr_tok}, {p1} -> {p1} > 3)) > 0"
            )
        if form == "transform_free":
            free_tok, free_base = draw(_fz_column())
            exp["where"][free_base] += 1
            return (
                f"cardinality(transform({arr_tok},"
                f" {p1} -> {p1} + {free_tok})) > 0"
            )
        return (
            f"reduce({arr_tok}, 0, ({p1}, {p2}) -> {p1} + {p2},"
            f" {p1} -> {p1}) > 1"
        )
    if kind == "cmp":
        tok, base = draw(_fz_column())
        exp["where"][base] += 1
        op = draw(st.sampled_from(["=", ">", "<", ">=", "<>", "!="]))
        lit = draw(st.sampled_from(["5", "'x'", "'it''s'", "3.14", "'AND'"]))
        return f"{tok} {op} {lit}"
    if kind == "func":
        tok, base = draw(_fz_column())
        exp["where"][base] += 1
        return f"{draw(st.sampled_from(_F_FUNCS))}({tok}) = 'v'"
    if kind == "in_sub":
        tok, base = draw(_fz_column())
        exp["where"][base] += 1
        sub_sql, sub_exp = draw(_fz_query(depth - 1, ctes))
        _fz_merge(exp, sub_exp)
        return f"{tok} IN ({sub_sql})"
    sub_sql, sub_exp = draw(_fz_query(depth - 1, ctes))
    _fz_merge(exp, sub_exp)
    return f"EXISTS ({sub_sql})"


@st.composite
def _fz_query(draw, depth, ctes=frozenset(), allow_cte=True):
    exp = {"tables": set(), "join": Counter(), "where": Counter(),
           "limit": False}
    ctes = frozenset(ctes)
    prefix = ""
    if depth > 0 and allow_cte and draw(st.booleans()):
        names = draw(st.lists(st.sampled_from(_F_CTES), min_size=1,
                              max_size=2, unique=True))
        # the miner pre-scans ALL names before walking bodies, so every
        # declared name is in scope for every body (incl. forward refs)
        ctes = ctes | frozenset(names)
        decls = []
        for name in names:
            body_sql, body_exp = draw(_fz_query(depth - 1, ctes))
            _fz_merge(exp, body_exp)
            decls.append(f"{name} AS ({body_sql})")
        rec = "RECURSIVE " if draw(st.booleans()) else ""
        prefix = f"WITH {rec}" + ", ".join(decls) + " "

    sel_items = []
    for _ in range(draw(st.integers(1, 2))):
        kinds = ["col", "num", "win", "aggfilter"] + (
            ["scalar"] if depth > 0 else []
        )
        kind = draw(st.sampled_from(kinds))
        if kind == "col":
            sel_items.append(draw(_fz_column())[0])
        elif kind == "aggfilter":
            # aggregate FILTER (WHERE pred): the predicate filters the
            # aggregate's input rows — mined as a where column
            ftok, fbase = draw(_fz_column())
            exp["where"][fbase] += 1
            agg = draw(st.sampled_from(["count(1)", "sum(1)"]))
            sel_items.append(f"{agg} FILTER (WHERE {ftok} > 7)")
        elif kind == "num":
            sel_items.append("1")
        elif kind == "win":
            t1 = draw(_fz_column())[0]
            t2 = draw(_fz_column())[0]
            frame = draw(st.sampled_from([
                "",
                " ROWS BETWEEN 1 PRECEDING AND CURRENT ROW",
                " RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING",
                " ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING",
            ]))
            sel_items.append(
                f"sum({t1}) OVER (PARTITION BY {t2} ORDER BY {t1} DESC{frame})"
            )
        else:
            sub_sql, sub_exp = draw(_fz_query(depth - 1, ctes))
            _fz_merge(exp, sub_exp)
            sel_items.append(f"({sub_sql}) AS {draw(st.sampled_from(_F_ALIASES))}")

    srcs = [draw(_fz_table_source(depth, exp, ctes))
            for _ in range(draw(st.integers(1, 2)))]
    sql = prefix + "SELECT " + ", ".join(sel_items) + " FROM " + ", ".join(srcs)

    for _ in range(draw(st.integers(0, 2))):
        src = draw(_fz_table_source(depth, exp, ctes))
        style = draw(st.sampled_from(["on", "on", "using", "cross"]))
        if style == "on":
            jt = draw(st.sampled_from(
                ["JOIN", "INNER JOIN", "LEFT JOIN", "LEFT OUTER JOIN",
                 "RIGHT JOIN", "FULL OUTER JOIN"]))
            conds = []
            for _ in range(draw(st.integers(1, 2))):
                t1, b1 = draw(_fz_column())
                t2, b2 = draw(_fz_column())
                exp["join"][b1] += 1
                exp["join"][b2] += 1
                conds.append(f"{t1} = {t2}")
            sql += f" {jt} {src} ON " + " AND ".join(conds)
        elif style == "using":
            cols = draw(st.lists(st.sampled_from(_F_COLS), min_size=1,
                                 max_size=2, unique=True))
            for _tok, b in cols:
                exp["join"][b] += 1
            sql += f" JOIN {src} USING (" + ", ".join(t for t, _ in cols) + ")"
        else:
            sql += f" CROSS JOIN {src}"

    if draw(st.booleans()):
        preds = [draw(_fz_predicate(depth, exp, ctes))
                 for _ in range(draw(st.integers(1, 2)))]
        body = draw(st.sampled_from([" AND ", " OR "])).join(preds)
        if len(preds) > 1 and draw(st.booleans()):
            body = f"({body})"
        sql += " WHERE " + body
    if draw(st.booleans()):
        sql += f" GROUP BY {draw(_fz_column())[0]}"
    if draw(st.booleans()):
        sql += f" ORDER BY {draw(_fz_column())[0]} DESC"

    if depth > 0 and draw(st.booleans()):
        op = draw(st.sampled_from(
            ["UNION", "UNION ALL", "EXCEPT", "INTERSECT"]))
        # rhs shares the lhs scope in the miner's linear walk, so no WITH
        # prefix there (a mid-statement WITH is invalid SQL anyway)
        rhs_sql, rhs_exp = draw(_fz_query(depth - 1, ctes, allow_cte=False))
        _fz_merge(exp, rhs_exp)
        sql += f" {op} {rhs_sql}"

    if draw(st.booleans()):
        sql += " LIMIT 10"
        exp["limit"] = True
    return sql, exp


@given(qe=_fz_query(depth=2))
@settings(max_examples=int(os.environ.get("MINER_FUZZ_EXAMPLES", "300")),
          deadline=None)
def test_miner_grammar_differential(qe):
    sql, exp = qe
    m = mining.mine_statement(sql)
    assert m["parsed"], sql
    assert set(m["tables"]) == exp["tables"], sql
    # invariants: no CTE name or alias ever surfaces as a base table,
    # no duplicate table entries, all counts strictly positive
    alias_bases = {a.strip('"').lower() for a in _F_ALIASES}
    assert not (set(m["tables"]) & (set(_F_CTES) | alias_bases)), sql
    assert len(m["tables"]) == len(set(m["tables"])), sql
    assert dict(m["join_columns"]) == dict(exp["join"]), sql
    assert dict(m["where_columns"]) == dict(exp["where"]), sql
    assert m["has_limit"] == exp["limit"], sql
    assert all(
        c > 0
        for c in (*m["join_columns"].values(), *m["where_columns"].values())
    ), sql


def test_mine_query_log_invariant_under_input_layout(spark):
    """The miner hash-partitions its input to defaultParallelism
    partitions, so one input partition still mines on every core and the
    rows do not depend on how the log was laid out."""
    from trino_adaptive_partitioning_tool_spark.sources import fixtures

    logs = fixtures.query_logs_df(spark)
    one = mining.mine_query_log(logs.coalesce(1))
    seven = mining.mine_query_log(logs.repartition(7))
    assert sorted(map(tuple, one.collect())) == sorted(map(tuple, seven.collect()))
    n = spark.sparkContext.defaultParallelism
    sizes = one.rdd.glom().map(len).collect()
    assert len(sizes) == n
    assert sum(1 for s in sizes if s) >= min(n, 2)


def test_unnest_alias_columns_not_scanned_or_counted():
    m = mining.mine_statement(
        "SELECT t.x FROM orders, UNNEST(orders.o_tags) AS t(x) "
        "WHERE t.x > 1 AND o_custkey > 5"
    )
    assert m["tables"] == ["orders"]
    assert dict(m["where_columns"]) == {"o_custkey": 1}


def test_unnest_with_ordinality_cross_join():
    m = mining.mine_statement(
        "SELECT u.elem FROM lineitem CROSS JOIN UNNEST(l_list) "
        "WITH ORDINALITY AS u(elem, pos) "
        "WHERE u.elem > 2 AND l_quantity < 10"
    )
    assert m["tables"] == ["lineitem"]
    assert dict(m["where_columns"]) == {"l_quantity": 1}


def test_lambda_params_scoped_per_lambda():
    m = mining.mine_statement(
        "SELECT * FROM t WHERE reduce(arr, 0, (s, x) -> s + x, s -> s)"
        " > lim AND s > 1 AND x = 2"
    )
    # params suppressed inside their bodies only: the later bare s and x
    # are real columns and still count
    assert dict(m["where_columns"]) == {"arr": 1, "lim": 1, "s": 1, "x": 1}


def test_lambda_free_variable_counted():
    m = mining.mine_statement(
        "SELECT * FROM documents WHERE "
        "cardinality(transform(tags, x -> x || suffix)) > 0"
    )
    assert dict(m["where_columns"]) == {"tags": 1, "suffix": 1}


def test_aggregate_filter_where_mined():
    m = mining.mine_statement(
        "SELECT count(*) FILTER (WHERE o_totalprice > 100), sum(1) "
        "FROM orders WHERE o_orderkey < 9"
    )
    assert dict(m["where_columns"]) == {"o_totalprice": 1, "o_orderkey": 1}


def test_tablesample_consumed_mid_from_list():
    m = mining.mine_statement(
        "SELECT * FROM orders TABLESAMPLE SYSTEM (10), lineitem "
        "WHERE o_orderkey = 1"
    )
    assert m["tables"] == ["orders", "lineitem"]
    assert dict(m["where_columns"]) == {"o_orderkey": 1}


def test_grouping_sets_keywords_not_columns():
    got = mining.mine_group_columns(
        "SELECT a FROM t GROUP BY GROUPING SETS ((a), (a, b)), c"
    )
    assert dict(got) == {"a": 2, "b": 1, "c": 1}


def test_mine_group_columns_scoping():
    from collections import Counter

    from trino_adaptive_partitioning_tool_spark.operators.mining import (
        mine_group_columns,
    )

    assert mine_group_columns(
        "SELECT a, count(*) FROM t GROUP BY a, upper(b), t2.c ORDER BY a"
    ) == Counter({"a": 1, "b": 1, "c": 1})
    # ordinals ignored; nested scope collected; boundary respected
    assert mine_group_columns(
        "SELECT * FROM (SELECT x, sum(v) FROM u GROUP BY x) q "
        "GROUP BY 1 HAVING count(*) > 2"
    ) == Counter({"x": 1})
    assert mine_group_columns("SELECT 1") == Counter()
    # GROUPING SETS parens are depth-tracked
    assert mine_group_columns(
        "SELECT a, b FROM t GROUP BY GROUPING SETS ((a), (a, b)) LIMIT 5"
    )["a"] == 2


@given(st.text(max_size=200))
@settings(max_examples=200, deadline=None)
def test_group_miner_never_crashes(sql):
    from trino_adaptive_partitioning_tool_spark.operators.mining import (
        _KEYWORDS,
        mine_group_columns,
    )

    gb = mine_group_columns(sql)
    assert all(c >= 1 for c in gb.values())
    # only identifier base names, never keywords or punctuation
    assert all(
        name and name.lower() not in _KEYWORDS and not name.startswith("(")
        for name in gb
    )


def test_values_derived_table_no_phantom_columns():
    m = mining.mine_statement(
        "SELECT t.id, t.name FROM (VALUES (1, 'a'), (2, 'b')) AS t(id, name) "
        "JOIN orders o ON o.o_custkey = t.id "
        "WHERE t.name <> 'a' AND o.o_orderstatus = 'F'"
    )
    assert m["tables"] == ["orders"]
    assert dict(m["join_columns"]) == {"o_custkey": 1}
    assert dict(m["where_columns"]) == {"o_orderstatus": 1}


def test_values_without_as_keyword():
    """r9 semantics: derived-output names suppress only QUALIFIED
    references. A BARE reference to a derived-only name (`x` below)
    now counts — on realistic logs a bare name colliding with a real
    column is usually a pass-through of that column, and a derived-only
    phantom drops out downstream where mined counts join against real
    table/column metadata. Qualified refs (t.x) stay suppressed."""
    m = mining.mine_statement(
        "SELECT * FROM (VALUES (1), (2)) t(x) WHERE x > 1"
    )
    assert m["tables"] == []
    assert dict(m["where_columns"]) == {"x": 1}
    # the unambiguous form: a qualified ref to the derived output
    m2 = mining.mine_statement(
        "SELECT * FROM (VALUES (1), (2)) t(x) WHERE t.x > 1"
    )
    assert dict(m2["where_columns"]) == {}


def test_rows_from_not_mined_as_table():
    m = mining.mine_statement(
        "SELECT a FROM ROWS FROM (my_func(1), other_func('x')) "
        "WITH ORDINALITY AS t(a, b, ord) WHERE t.a > 0"
    )
    assert m["tables"] == []
    assert dict(m["where_columns"]) == {}


def test_derived_passthrough_column_stays_countable():
    """The r8-advice motivating case: a derived table passes a REAL
    column through under its own name; the outer bare-name filter is a
    genuine signal on that column and must count (the old scope-wide
    suppression starved the advisor of it)."""
    m = mining.mine_statement(
        "SELECT * FROM (SELECT o_orderdate FROM orders) t(o_orderdate) "
        "WHERE o_orderdate > DATE '1995-01-01'"
    )
    assert m["tables"] == ["orders"]
    assert dict(m["where_columns"]) == {"o_orderdate": 1}


def test_rows_from_joined_with_base_table():
    m = mining.mine_statement(
        "SELECT * FROM lineitem l CROSS JOIN ROWS FROM (seq(1, 5)) AS t(n) "
        "WHERE l.l_quantity > t.n"
    )
    assert m["tables"] == ["lineitem"]
    assert dict(m["where_columns"]) == {"l_quantity": 1}


def test_match_recognize_sections_mined_for_partition_worthy_columns():
    """r9 (verdict #6): the MR block's PARTITION BY / ORDER BY / DEFINE
    sections reference exactly the partition-worthy base columns the
    advisor wants from pattern queries — PARTITION BY mines as a join
    (co-location) signal, ORDER BY and DEFINE predicates as where
    (range/filter) signals. DEFINE's `var AS predicate` keeps the r8
    fix: the pattern VARIABLE before AS never registers or counts, and
    the predicate after AS is mined as columns, not harvested as an
    alias. Pattern-var qualifiers (B.totalprice) strip like alias
    qualifiers; navigation funcs (PREV/LAST) skip like any call."""
    m = mining.mine_statement(
        "SELECT * FROM orders MATCH_RECOGNIZE("
        " PARTITION BY custkey ORDER BY orderdate"
        " MEASURES A.totalprice AS start_price, CAST(B.qty AS BIGINT) AS q"
        " ONE ROW PER MATCH PATTERN (A B+)"
        " DEFINE B AS B.totalprice > PREV(B.totalprice)"
        ") AS m WHERE totalprice > 100 AND custkey = 7"
    )
    # join: the MR partition key; where: ORDER BY ts + DEFINE refs
    # (totalprice twice inside DEFINE) + the outer WHERE pair
    assert dict(m["join_columns"]) == {"custkey": 1}
    assert dict(m["where_columns"]) == {
        "totalprice": 3, "orderdate": 1, "custkey": 1,
    }
    # ...while the MEASURES outputs stay suppressed outside the block
    # for QUALIFIED references (m.start_price)
    m2 = mining.mine_statement(
        "SELECT m.start_price FROM orders MATCH_RECOGNIZE("
        " MEASURES A.totalprice AS start_price ONE ROW PER MATCH"
        " PATTERN (A) DEFINE A AS A.totalprice > 1"
        ") AS m WHERE m.start_price > 5 AND o_orderkey = 1"
    )
    assert dict(m2["where_columns"]) == {
        "totalprice": 1, "o_orderkey": 1,
    }


def test_match_recognize_pattern_vars_never_counted_and_warned():
    m = mining.mine_statement(
        "SELECT m.userid FROM orders MATCH_RECOGNIZE ("
        " PARTITION BY custkey ORDER BY orderdate"
        " MEASURES A.totalprice AS start_price, LAST(B.orderdate) AS ed"
        " ONE ROW PER MATCH"
        " PATTERN (A B+ C*)"
        " DEFINE B AS B.totalprice > PREV(B.totalprice),"
        " C AS C.totalprice < 100"
        ") AS m WHERE m.userid > 10"
    )
    assert m["tables"] == ["orders"]
    # pattern variables themselves never mine as columns; MEASURES
    # expressions (select-list projections) don't either
    assert "a" not in m["where_columns"]
    assert "b" not in m["where_columns"] and "c" not in m["where_columns"]
    assert dict(m["join_columns"]) == {"custkey": 1}
    assert dict(m["where_columns"]) == {
        "orderdate": 1, "totalprice": 3, "userid": 1,
    }
    # the pattern semantics (quantifiers/exclusions) stay outside what
    # a tokenizer certifies: the counted warning row remains
    assert dict(m["skipped"]) == {"match_recognize": 1}
    rows = mining._explode_mined("q9", m)
    assert ("q9", "skipped_construct", "match_recognize", 1) in rows


def test_match_recognize_over_derived_table_keeps_from_list():
    """r9 review finding: consume_derived must not swallow
    MATCH_RECOGNIZE as the derived table's alias (the MR parens would
    parse as a derived-column list, poisoning derived_cols with every
    identifier in the block, and the comma-joined FROM list after the
    pattern relation was dropped)."""
    m = mining.mine_statement(
        "SELECT * FROM (SELECT * FROM orders) MATCH_RECOGNIZE("
        " PARTITION BY custkey ORDER BY orderdate"
        " MEASURES A.totalprice AS sp ONE ROW PER MATCH PATTERN (A B+)"
        " DEFINE B AS B.totalprice > PREV(B.totalprice)"
        ") AS m, lineitem WHERE l_quantity > 1"
    )
    assert m["tables"] == ["orders", "lineitem"]
    assert dict(m["join_columns"]) == {"custkey": 1}
    assert dict(m["where_columns"]) == {
        "orderdate": 1, "totalprice": 2, "l_quantity": 1,
    }
    assert dict(m["skipped"]) == {"match_recognize": 1}
    # without AS: the bare alias form must not mine a phantom table
    m2 = mining.mine_statement(
        "SELECT * FROM (SELECT * FROM orders) MATCH_RECOGNIZE("
        " PARTITION BY custkey ONE ROW PER MATCH PATTERN (A)"
        " DEFINE A AS A.x > 1) m, lineitem"
    )
    assert m2["tables"] == ["orders", "lineitem"]
