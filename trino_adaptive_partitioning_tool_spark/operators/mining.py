"""SQL-text workload mining.

Parity target: ``parse_underlying_query`` in the reference
(reference: src/partitioning.py:22-66) — given untrusted SQL text, extract
(a) referenced tables, (b) join-clause columns with occurrence counts,
(c) where-clause columns with occurrence counts. The reference leans on
sqlglot; sqlglot is not in this environment, so the miner is a small
self-contained tokenizer with the same observable outputs. It also fixes
the reference's fragile ``" AS "`` string split for MV DDL
(src/partitioning.py:9-20) by anchoring on the statement head instead.

Spark integration is Arrow-batched ``mapInPandas`` (UDTF-shaped: one SQL
string in, many ``(kind, name, cnt)`` rows out) — no driver-side loop over
log rows; everything downstream is JVM-side DataFrame algebra. The input
is hash-partitioned on ``query_id`` into ``defaultParallelism`` partitions
before the Python stage, so mining uses every core whatever the log's file
layout: a log written as one parquet row group scans into one non-empty
partition, and without the exchange the whole miner ran as a single task.

Supported Trino grammar (tokenizer-level; each row certified by
tests/test_mining.py — unit/golden cases plus the generative
DIFFERENTIAL grammar fuzz, green at MINER_FUZZ_EXAMPLES=10000):

==============================================  ===========================
construct                                       handling
==============================================  ===========================
SELECT / WITH [RECURSIVE] CTEs                  names pre-scanned and
                                                scoped; bodies mined;
                                                CTE refs never count as
                                                base-table scans
joins: ON / USING(...) / comma / LATERAL /      join-column counts;
outer variants                                  USING lists expanded
WHERE + aggregate FILTER (WHERE ...)            where-column counts
derived tables ``(SELECT ...) [AS] t(c, ...)``  recursed as own scope;
and ``(VALUES ...) t(c, ...)``                  output names are derived
                                                columns (qualified refs
                                                suppressed)
predicate subqueries (IN / EXISTS / scalar)     recursed as own scope
UNNEST(...) [WITH ORDINALITY] [AS t(c, ...)]    no scan; outputs derived
ROWS FROM (fn(...), ...) [WITH ORDINALITY]      no scan; outputs derived
TABLESAMPLE BERNOULLI/SYSTEM (expr)             consumed, no signal
lambdas ``x -> ...`` / ``(a, b) -> ...``        params suppressed for
                                                exactly their body; free
                                                variables still count
quoted identifiers                              keyword spellings, spaces,
                                                dots inside quotes (part
                                                of the name), doubled-
                                                quote escapes, qualified
                                                quoted segments
MATCH_RECOGNIZE (...)                           sectioned mining
                                                (PARTITION BY → join,
                                                ORDER BY/DEFINE → where,
                                                MEASURES outputs derived)
                                                AND logged in
                                                ``skipped`` — the
                                                partially-supported
                                                marker
set ops / GROUP / ORDER / HAVING / OFFSET       clause boundaries; LIMIT
/ LIMIT                                         sets the has_limit marker
==============================================  ===========================

Anything the walk cannot attribute is dropped from counts, and
partially-supported constructs are COUNTED in
``mine_statement()['skipped']`` and emitted as
``kind='skipped_construct'`` rows by the Spark integration — visible
downstream, never a silent mis-attribution.
"""

from __future__ import annotations

import re
from collections import Counter
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import rowmap

_TOKEN_RE = re.compile(
    r"""
    '(?:[^']|'')*'            # single-quoted string
  | \d+(?:\.\d+)?             # number
  | (?:"(?:[^"]|"")+"|[A-Za-z_][\w$]*)      # (qualified) identifier,
    (?:\.(?:"(?:[^"]|"")+"|[A-Za-z_][\w$]*))*   # quoted segments allowed
  | -> | <> | <= | >= | != | \|\|
  | \S                        # any other single non-space char
    """,
    re.VERBOSE,
)

_KEYWORDS = frozenset(
    """
    select from where group by order having limit offset join inner left
    right full outer cross on and or not in is null like between as union
    all distinct case when then else end exists any some asc desc with
    date timestamp time interval cast extract substring trim count sum avg
    min max coalesce nullif over partition rows range preceding following
    unbounded current row using natural values insert into update delete
    create materialized view table if replace true false lateral recursive
    except intersect minus grouping sets cube rollup tablesample
    """.split()
)

# Tokens that end a clause-column collection at nesting depth 0.
# `select`/`from` can only appear at depth 0 after a WHERE/ON when a
# set-op continuation starts a new query block (UNION/EXCEPT/INTERSECT
# keyword itself, or a bare second SELECT) — inside expressions they are
# always behind parens, which collect_columns depth-tracks.
_CLAUSE_BOUNDARY = frozenset(
    {"join", "where", "group", "order", "limit", "having", "union", "on",
     "inner", "left", "right", "full", "outer", "cross",
     "except", "intersect", "minus", "select", "from"}
)

_STATEMENT_HEADS = ("select", "with", "create")


def tokenize(sql: str) -> list[str]:
    # no alternative of _TOKEN_RE can start at a whitespace char, so the
    # search skips whitespace rather than emitting it as tokens
    return _TOKEN_RE.findall(sql)


def _is_identifier(tok: str) -> bool:
    if tok.startswith('"'):
        # double-quoted → identifier by definition (even if it spells a
        # keyword), matching standard SQL and sqlglot semantics
        return True
    return bool(re.match(r"^[A-Za-z_]", tok)) and tok.lower() not in _KEYWORDS


_SEGMENT_RE = re.compile(r'"(?:[^"]|"")*"|[A-Za-z_][\w$]*')


def _base_name(tok: str) -> str:
    """Last segment of a possibly-quoted qualified name, unquoted +
    lowercased: `alias.col` → `col`, `"s"."Tab"` → `tab`, `"a.b"` → `a.b`
    (dots INSIDE quotes are part of the name, not qualifiers). The
    reference counts sqlglot Column names the same way — qualifier
    stripped (src/partitioning.py:53-55)."""
    segs = _SEGMENT_RE.findall(tok)
    last = segs[-1] if segs else tok
    if last.startswith('"'):
        return last[1:-1].replace('""', '"').lower()
    return last.lower()


# both call sites read as their role; same canonicalization
_base_column = _base_name
_base_table = _base_name


def extract_select_statement(ddl: str) -> str | None:
    """Pull the underlying SELECT out of a CREATE [MATERIALIZED] VIEW DDL.

    Anchored on the statement head rather than the first ``" AS "``
    occurrence, so aliases containing " AS " in the body don't break it
    (reference bug at src/partitioning.py:14-17).
    """
    m = re.match(
        r"\s*CREATE\s+(?:OR\s+REPLACE\s+)?(?:MATERIALIZED\s+)?VIEW\s+\S+\s+AS\s+(.*)$",
        ddl,
        re.IGNORECASE | re.DOTALL,
    )
    if m:
        return m.group(1).strip().rstrip(";").strip()
    stripped = ddl.strip()
    if stripped.lower().startswith(("select", "with")):
        return stripped.rstrip(";")
    return None


def _skip_parens(toks: list[str], i: int) -> int:
    """toks[i] == '(' → index just past the matching ')'."""
    depth = 1
    i += 1
    while i < len(toks) and depth:
        depth += toks[i] == "("
        depth -= toks[i] == ")"
        i += 1
    return i


def _mine_tokens(
    toks: list[str],
    tables: list[str],
    join_cols: Counter,
    where_cols: Counter,
    outer_aliases: frozenset[str],
    skipped: Counter | None = None,
    outer_derived: frozenset[str] = frozenset(),
) -> None:
    """Recursive token walk: mines one SELECT/WITH scope, descending into
    derived tables and predicate subqueries (the reference's sqlglot
    walks the whole statement tree the same way — a flat scan would miss
    base tables and filters inside them). Aliases and CTE names are
    scoped: inherited from enclosing scopes, never leaked back out.

    Two suppression sets with different reach: ``aliases``
    (table aliases, CTE names) suppress BARE references — a bare `t`
    in an expression is a table ref, never a column. Derived-OUTPUT
    column names (`t(x, y)` lists, MEASURES aliases) live in
    ``derived_cols`` and suppress only QUALIFIED references
    (`alias.x`): a bare mention of a name that collides with a real
    base-table column is, on realistic logs, usually a pass-through of
    that very column (SELECT price ... then WHERE price > 10), so
    suppressing it scope-wide starves the advisor of a genuine
    signal; a qualified reference to a derived name is unambiguous.
    The cost is a phantom count when a derived-ONLY name is referenced
    bare — harmless downstream, where mined counts join against real
    table/column metadata and phantoms drop out."""
    low = [t.lower() for t in toks]
    aliases: set[str] = set(outer_aliases)
    derived_cols: set[str] = set(outer_derived)
    if skipped is None:
        skipped = Counter()

    # CTE pre-scan — WITH [RECURSIVE] name [(cols)] AS ( body ) [, ...]:
    # the names must be known BEFORE any FROM references them (a CTE
    # shadowing a real table name is an alias, not a base-table scan).
    # Bodies are mined by the main walk below, which visits every token.
    i = 0
    if low and low[0] == "with":
        i = 1
        if i < len(low) and low[i] == "recursive":
            i += 1
        while i < len(toks) and _is_identifier(toks[i]):
            aliases.add(_base_table(toks[i]))
            i += 1
            if i < len(toks) and toks[i] == "(":  # optional column list
                i = _skip_parens(toks, i)
            if i < len(low) and low[i] == "as":
                i += 1
            if i < len(toks) and toks[i] == "(":  # CTE body
                i = _skip_parens(toks, i)
            if i < len(toks) and toks[i] == ",":
                i += 1
                continue
            break

    def recurse_if_subquery(i: int) -> int:
        """toks[i] == '(': if it opens a subquery, mine it recursively;
        either way return the index just past the matching ')'."""
        end = _skip_parens(toks, i)
        inner = toks[i + 1 : end - 1]
        if inner and inner[0].lower() in ("select", "with"):
            _mine_tokens(
                inner, tables, join_cols, where_cols, frozenset(aliases),
                skipped, frozenset(derived_cols),
            )
        return end

    def read_table_ref(i: int) -> int:
        """Consume `tbl [AS] [alias] [TABLESAMPLE kind (expr)]` starting
        at toks[i]; returns next idx. The sample clause is consumed here
        (not left to the main walk) so a comma-separated FROM list keeps
        scanning sources after a sampled table."""
        if i < len(toks) and _is_identifier(toks[i]):
            name = _base_table(toks[i])
            if name not in aliases:  # CTE/alias reference → not a scan
                tables.append(name)
            i += 1
            if i < len(low) and low[i] == "as":
                i += 1
            if (
                i < len(toks)
                and _is_identifier(toks[i])
                # MATCH_RECOGNIZE after a table ref is a row-pattern
                # block, not the table's alias — leave it for the main
                # walk's hard-skip branch
                and low[i] != "match_recognize"
            ):
                aliases.add(_base_name(toks[i]))
                i += 1
            if i < len(low) and low[i] == "tablesample":
                i += 1
                if i < len(toks) and _is_identifier(toks[i]):
                    i += 1  # BERNOULLI / SYSTEM
                if i < len(toks) and toks[i] == "(":
                    i = _skip_parens(toks, i)
        return i

    def collect_columns(i: int, sink: Counter) -> int:
        """Collect column identifiers until a clause boundary; returns idx.
        Predicate subqueries (IN / EXISTS / scalar) are mined recursively
        as their own scope, not flattened into this clause's columns.
        Parens are depth-tracked: boundary keywords only terminate at
        depth 0, and a ')' at depth 0 is a HARD boundary — it closes an
        enclosing scope, so running past it would bleed this clause's
        collection into the parent query block.

        Lambda parameters (Trino `x -> ...` / `(a, b) -> ...` inside
        transform/filter/reduce) are NOT columns: each lambda's params
        are suppressed for exactly its body — until the `)` that closes
        the enclosing call, or a `,` separating the lambda from the
        call's next argument — so a real column sharing a param's name
        elsewhere in the clause still counts."""
        depth = 0
        # (depth the lambda's argument lives at, its param names); a
        # param suppresses collection only while its entry is live
        lambda_stack: list[tuple[int, frozenset[str]]] = []
        while i < len(toks):
            tl = low[i]
            if depth == 0 and tl in _CLAUSE_BOUNDARY:
                break
            if toks[i] == "(":
                end = _skip_parens(toks, i)
                if end < len(toks) and toks[end] == "->":
                    # (a, b) -> body : parenthesized lambda params
                    params = frozenset(
                        _base_column(t)
                        for t in toks[i + 1 : end - 1]
                        if _is_identifier(t)
                    )
                    lambda_stack.append((depth, params))
                    i = end + 1
                    continue
                inner = toks[i + 1 : end - 1]
                if inner and inner[0].lower() in ("select", "with"):
                    i = recurse_if_subquery(i)
                else:
                    depth += 1
                    i += 1  # expression parens: walk the inside normally
                continue
            if toks[i] == ")":
                if depth == 0:
                    break
                depth -= 1
                while lambda_stack and lambda_stack[-1][0] > depth:
                    lambda_stack.pop()
                i += 1
                continue
            if toks[i] == ",":
                # argument separator at the lambda's own depth ends it
                while lambda_stack and lambda_stack[-1][0] == depth:
                    lambda_stack.pop()
                i += 1
                continue
            if _is_identifier(toks[i]):
                if i + 1 < len(toks) and toks[i + 1] == "->":
                    # x -> body : single-param lambda
                    lambda_stack.append(
                        (depth, frozenset((_base_column(toks[i]),)))
                    )
                    i += 2
                    continue
                # skip function calls: identifier immediately followed by (
                if i + 1 < len(toks) and toks[i + 1] == "(":
                    i += 1
                    continue
                name = _base_column(toks[i])
                # derived-output names suppress only QUALIFIED refs
                # (alias.x is unambiguously the derived column); bare
                # collisions with real columns stay countable
                qualified = len(_SEGMENT_RE.findall(toks[i])) > 1
                if (
                    name not in aliases
                    and not (qualified and name in derived_cols)
                    and not any(name in p for _d, p in lambda_stack)
                ):
                    sink[name] += 1
            i += 1
        return i

    def collect_using(i: int) -> int:
        """USING (a, b) → join columns a and b; returns idx past ')'."""
        if i < len(toks) and toks[i] == "(":
            end = _skip_parens(toks, i)
            for t in toks[i + 1 : end - 1]:
                if _is_identifier(t):
                    join_cols[_base_column(t)] += 1
            return end
        return i

    def consume_derived(i: int) -> int:
        """toks[i] == '(': mine the derived table and consume its
        [AS] alias plus optional derived-column list; returns the next
        index. Covers `(SELECT ...) AS t(x, y)` and Trino
        `(VALUES (...), (...)) AS t(x, y)` — a VALUES body contains no
        base-table scans (recurse_if_subquery skips it), and the
        derived column names register as ALIASES so later references
        to them never count as phantom base-table columns.

        Known trade-off (shared with consume_unnest and the
        MATCH_RECOGNIZE skip): the alias set is scope-wide and
        unqualified, so a derived column name that COLLIDES with a real
        base-table column suppresses that column's mentions in this
        scope. The alternative — not registering — fabricates phantom
        columns for every derived-output reference, which corrupts the
        advisor's candidate list; suppression of a rare same-name
        collision only slightly under-counts a real signal. sqlglot
        resolves this with full scope-qualified binding; this miner
        deliberately stays a tokenizer."""
        i = recurse_if_subquery(i)
        if i < len(low) and low[i] == "as":
            i += 1
        if (
            i < len(toks)
            and _is_identifier(toks[i])
            # MATCH_RECOGNIZE after a derived table is a row-pattern
            # block, not the table's alias (same guard as
            # read_table_ref) — swallowing it here parsed the MR parens
            # as a derived-column list and poisoned derived_cols with
            # every identifier in the block
            and low[i] != "match_recognize"
        ):
            aliases.add(_base_name(toks[i]))
            i += 1
            if i < len(toks) and toks[i] == "(":
                end = _skip_parens(toks, i)
                for t in toks[i + 1 : end - 1]:
                    if _is_identifier(t):
                        derived_cols.add(_base_name(t))
                i = end
        return i

    def consume_rows_from(i: int) -> int:
        """toks[i:i+2] == ROWS FROM '(': Trino's multi-table-function
        source — skip the function list (their arguments are function
        inputs, not this scope's columns), optional WITH ORDINALITY,
        then register `[AS] t(cols)` like consume_unnest: the outputs
        are derived columns, never base-table scans. Without this the
        FROM walk would mine `rows` itself as a table name."""
        i += 2  # past ROWS FROM
        if i < len(toks) and toks[i] == "(":
            i = _skip_parens(toks, i)
        if (
            i + 1 < len(low)
            and low[i] == "with"
            and low[i + 1] == "ordinality"
        ):
            i += 2
        if i < len(low) and low[i] == "as":
            i += 1
        if i < len(toks) and _is_identifier(toks[i]):
            aliases.add(_base_name(toks[i]))
            i += 1
            if i < len(toks) and toks[i] == "(":
                end = _skip_parens(toks, i)
                for t in toks[i + 1 : end - 1]:
                    if _is_identifier(t):
                        derived_cols.add(_base_name(t))
                i = end
        return i

    def consume_unnest(i: int) -> int:
        """toks[i] is UNNEST in a table position: skip the array
        argument list and optional WITH ORDINALITY, then register the
        `AS t(x, ...)` alias AND its output column names as aliases —
        unnest outputs are derived columns, not base-table scans
        (Trino's relational UNNEST form; sqlglot models it as a table
        function, reference src/partitioning.py:34-60)."""
        i += 1
        if i < len(toks) and toks[i] == "(":
            i = _skip_parens(toks, i)
        if (
            i + 1 < len(low)
            and low[i] == "with"
            and low[i + 1] == "ordinality"
        ):
            i += 2
        if i < len(low) and low[i] == "as":
            i += 1
        if i < len(toks) and _is_identifier(toks[i]):
            aliases.add(_base_name(toks[i]))
            i += 1
            if i < len(toks) and toks[i] == "(":
                end = _skip_parens(toks, i)
                for t in toks[i + 1 : end - 1]:
                    if _is_identifier(t):
                        derived_cols.add(_base_name(t))
                i = end
        return i

    def consume_match_recognize(i: int) -> int:
        """toks[i] is MATCH_RECOGNIZE followed by '(': mine the
        block section by section and consume the
        optional [AS] alias; returns the next index. Shared by the
        FROM-list loop (a pattern relation inside a comma join must
        not end the list) and the main walk (the
        JOIN-context form). Section semantics documented inline.
        """
        skipped["match_recognize"] += 1
        end = _skip_parens(toks, i + 1)
        _MR_SECTIONS = {"partition", "order", "measures", "one",
                        "all", "after", "pattern", "subset", "define"}
        _MR_NOISE = {"by", "asc", "desc", "nulls", "first", "last",
                     "match", "row", "rows", "per", "skip", "to",
                     "next", "past", "initial", "seek", "and", "or",
                     "not", "between", "in", "is", "null", "true",
                     "false", "prev", "cast", "as"}
        depth = 0
        section = ""
        expect_var = False  # in DEFINE: next identifier is a
        # pattern variable, not a column
        for j in range(i + 2, end - 1):
            if toks[j] == "(":
                depth += 1
                continue
            if toks[j] == ")":
                depth -= 1
                continue
            if depth == 0 and low[j] in _MR_SECTIONS:
                section = low[j]
                expect_var = section == "define"
                continue
            if section == "measures":
                if (
                    depth == 0
                    and low[j] == "as"
                    and j + 1 < end - 1
                    and _is_identifier(toks[j + 1])
                ):
                    derived_cols.add(_base_name(toks[j + 1]))
                continue
            if section not in ("partition", "order", "define"):
                continue
            if section == "define" and depth == 0 and toks[j] == ",":
                expect_var = True
                continue
            if not _is_identifier(toks[j]) or low[j] in _MR_NOISE:
                continue
            if j + 1 < end and toks[j + 1] == "(":
                continue  # function call (PREV/LAST/aggregates)
            if section == "define" and expect_var:
                expect_var = False
                continue  # the pattern variable being defined
            name = _base_column(toks[j])
            qualified = len(_SEGMENT_RE.findall(toks[j])) > 1
            if name in aliases or (
                qualified and name in derived_cols
            ):
                continue
            (join_cols if section == "partition"
             else where_cols)[name] += 1
        i = end
        if i < len(low) and low[i] == "as":
            i += 1
        if i < len(toks) and _is_identifier(toks[i]):
            aliases.add(_base_name(toks[i]))
            i += 1
        return i

    i = 0
    while i < len(toks):
        tl = low[i]
        if tl == "from":
            i += 1
            # comma-separated table list; derived tables recurse
            while i < len(toks):
                if low[i] == "lateral":
                    i += 1
                    continue
                if toks[i] == "(":
                    i = consume_derived(i)
                    if (
                        i + 1 < len(toks)
                        and low[i] == "match_recognize"
                        and toks[i + 1] == "("
                    ):
                        i = consume_match_recognize(i)
                    if i < len(toks) and toks[i] == ",":
                        i += 1
                    continue
                if (
                    low[i] == "unnest"
                    and i + 1 < len(toks)
                    and toks[i + 1] == "("
                ):
                    i = consume_unnest(i)
                elif (
                    low[i] == "rows"
                    and i + 1 < len(low)
                    and low[i + 1] == "from"
                    and i + 2 < len(toks)
                    and toks[i + 2] == "("
                ):
                    i = consume_rows_from(i)
                elif _is_identifier(toks[i]):
                    i = read_table_ref(i)
                elif toks[i] == ",":
                    i += 1
                    continue
                else:
                    break
                # a pattern relation inside a comma-joined FROM list:
                # consume the MR block here so the list keeps scanning
                # (breaking out here would drop the later tables)
                if (
                    i + 1 < len(toks)
                    and low[i] == "match_recognize"
                    and toks[i + 1] == "("
                ):
                    i = consume_match_recognize(i)
                if i < len(toks) and toks[i] == ",":
                    i += 1
                    continue
                break
        elif tl == "join":
            i += 1
            if i < len(low) and low[i] == "lateral":
                i += 1
            if i < len(toks) and toks[i] == "(":
                i = consume_derived(i)
            elif (
                i < len(low)
                and low[i] == "unnest"
                and i + 1 < len(toks)
                and toks[i + 1] == "("
            ):
                i = consume_unnest(i)
            elif (
                i < len(low)
                and low[i] == "rows"
                and i + 1 < len(low)
                and low[i + 1] == "from"
                and i + 2 < len(toks)
                and toks[i + 2] == "("
            ):
                i = consume_rows_from(i)
            else:
                i = read_table_ref(i)
        elif tl == "on":
            i = collect_columns(i + 1, join_cols)
        elif tl == "using":
            i = collect_using(i + 1)
        elif tl == "where":
            i = collect_columns(i + 1, where_cols)
        elif (
            tl == "match_recognize"
            and i + 1 < len(toks)
            and toks[i + 1] == "("
        ):
            i = consume_match_recognize(i)
        elif (
            tl == "filter"
            and i + 2 < len(toks)
            and toks[i + 1] == "("
            and low[i + 2] == "where"
        ):
            # aggregate FILTER (WHERE ...) clause: the predicate filters
            # the aggregate's input rows — mined as where columns (the
            # Trino form; collect_columns stops at the closing paren)
            i = collect_columns(i + 3, where_cols)
        elif toks[i] == "(":
            # Select-list / expression subqueries (scalar subqueries, CTE
            # bodies reached by the main walk) are their own scope:
            # recurse instead of walking them flatly, which would bleed
            # their FROM/WHERE into this scope's collections (and swallow
            # this scope's own FROM). Non-subquery parens (OVER(...),
            # CASE groups, VALUES lists) are skipped wholesale — the main
            # walk collects nothing outside on/using/where clauses.
            i = recurse_if_subquery(i)
        else:
            i += 1


def mine_statement(sql: str) -> dict[str, Any]:
    """Extract tables / join columns / where columns from one statement.

    Returns ``{"parsed": bool, "tables": [..], "join_columns": Counter,
    "where_columns": Counter, "has_limit": bool}``. Unparseable statements
    (anything that isn't SELECT/WITH/CREATE-headed) come back with
    ``parsed=False`` and empty collections — the log-and-skip path of the
    reference (src/partitioning.py:96-97).
    """
    empty = {
        "parsed": False,
        "tables": [],
        "join_columns": Counter(),
        "where_columns": Counter(),
        "has_limit": False,
        "skipped": Counter(),
    }
    if not sql:
        return empty
    body = extract_select_statement(sql) or sql
    head = body.strip().lower()
    if not head.startswith(_STATEMENT_HEADS):
        return empty

    toks = tokenize(body)
    tables: list[str] = []
    join_cols: Counter = Counter()
    where_cols: Counter = Counter()
    skipped: Counter = Counter()
    _mine_tokens(toks, tables, join_cols, where_cols, frozenset(), skipped)

    return {
        "parsed": True,
        "tables": list(dict.fromkeys(tables)),
        "join_columns": join_cols,
        "where_columns": where_cols,
        "has_limit": any(t.lower() == "limit" for t in toks),
        # constructs the miner consciously refused to mine (e.g.
        # MATCH_RECOGNIZE blocks) — a counted warning, not silence
        "skipped": skipped,
    }


MINED_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("name", T.StringType(), False),
        T.StructField("cnt", T.LongType(), False),
    ]
)


def _explode_mined(query_id: str, mined: dict[str, Any]) -> list[tuple]:
    rows: list[tuple] = []
    for t in mined["tables"]:
        rows.append((query_id, "table", t, 1))
    for c, n in mined["join_columns"].items():
        rows.append((query_id, "join_column", c, n))
    for c, n in mined["where_columns"].items():
        rows.append((query_id, "where_column", c, n))
    if mined["has_limit"]:
        rows.append((query_id, "limit_marker", "", 1))
    for c, n in mined.get("skipped", Counter()).items():
        rows.append((query_id, "skipped_construct", c, n))
    return rows


def _mine_row(key: str, sql: str) -> list[tuple]:
    return _explode_mined(key, mine_statement(sql))


def mine_query_log(logs_df: DataFrame) -> DataFrame:
    """query_logs(query_id, query, ...) → (query_id, kind, name, cnt) rows.

    kind ∈ {table, join_column, where_column, limit_marker}. Distributed:
    hash-partitioned on query_id into defaultParallelism partitions, one
    Arrow batch in, exploded rows out; unparseable SQL yields nothing.

    The exchange runs whatever the input layout, because the partition
    count cannot tell a skewed log from a spread one: a single parquet row
    group still scans into several file splits, all but one of them empty.
    Its cost is one shuffle of the (query_id, query) text per call, and a
    Python stage of defaultParallelism tasks even when the input had more
    partitions. Mining a 30k-statement window on a 4-core VM at
    defaultParallelism 4 (median of 3 process pairs): a log in 8 files,
    already spread over 4 scan partitions, went from 1.90 to 2.05 s with
    2.4 MB shuffled; the same log in one file went from 5.4 to 1.8 s. A
    defaultParallelism above the real core count makes the Python stage
    oversubscribe: at 32 on those 4 cores the 8-file log took 3.95 s
    instead of 2.13 s.
    """
    parallelism = logs_df.sparkSession.sparkContext.defaultParallelism
    return rowmap.map_rows(
        logs_df.select("query_id", "query").repartition(
            parallelism, "query_id"
        ),
        MINED_SCHEMA,
        _mine_row,
    )


def mine_view_ddl(views_df: DataFrame) -> DataFrame:
    """catalog_views(.., ddl) → (view, kind, name, cnt) rows keyed by the
    fq view name (reference walks each MV's underlying query the same way,
    src/partitioning.py:80-90)."""
    keyed = views_df.select(
        F.concat_ws(".", "table_schema", "table_name").alias("view"), "ddl"
    )
    return rowmap.map_rows(keyed, MINED_SCHEMA, _mine_row).withColumnRenamed(
        "query_id", "view"
    )


def mined_tables(mined_df: DataFrame) -> DataFrame:
    """Distinct (query_id, table) pairs for exec-time attribution joins."""
    return (
        mined_df.where(F.col("kind") == "table")
        .select("query_id", F.col("name").alias("table"))
        .distinct()
    )


def mine_group_columns(sql: str) -> Counter:
    """Frequency of column identifiers appearing in GROUP BY clauses
    (every query scope). Standalone companion to mine_statement — kept
    out of its (query_id, kind, name, cnt) output so the certified
    mined-workload contract is untouched; consumed by the rollup
    advisor (queries/advisor.rollup_advice).

    Same tokenizer discipline as collect_columns: depth-tracked parens,
    clause-boundary termination, function-call names skipped. GROUP BY
    ordinals (1, 2) and quoted aliases are not identifiers and are
    ignored; a SELECT-alias in GROUP BY is counted as written."""
    toks = tokenize(sql)
    low = [t.lower() for t in toks]
    out: Counter = Counter()
    i = 0
    while i < len(toks):
        if (
            low[i] == "group"
            and i + 1 < len(toks)
            and low[i + 1] == "by"
        ):
            i += 2
            depth = 0
            while i < len(toks):
                tl = low[i]
                if depth == 0 and tl in _CLAUSE_BOUNDARY and tl != "group":
                    break
                if toks[i] == "(":
                    depth += 1
                elif toks[i] == ")":
                    if depth == 0:
                        break
                    depth -= 1
                elif _is_identifier(toks[i]):
                    if not (i + 1 < len(toks) and toks[i + 1] == "("):
                        out[_base_column(toks[i])] += 1
                i += 1
        else:
            i += 1
    return out
