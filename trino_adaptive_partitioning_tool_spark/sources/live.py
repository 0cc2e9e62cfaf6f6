"""Live dashboard server — the running-process analog of the reference's
Streamlit app (reference: src/ui/app.py:62-471 page renderers with
interactive date filtering; src/ui_dashboard.py:6-24 launcher).

The static HTML dashboard (sources/dashboard.py) already covers offline
viewing with client-side filter/sort; what it cannot do is RE-QUERY —
change a parameter and recompute from the engine. This module serves
exactly that from the Python stdlib (http.server, no dependencies):

* ``GET /``                      — the dashboard HTML, freshly rendered
  from the session-memoized run_analysis results (+ advisor extension
  tables), with an added toolbar for the live endpoints.
* ``GET /api/queries``           — the registered query names.
* ``GET /api/query?name=X``      — run registered query X and return its
  rows as JSON (capped; the cap is a response-size guard, not a plan
  change — Spark's limit pushes into the plan).
* ``GET /api/refresh?from=T&to=T`` — re-run the full analysis with a
  Column time filter over the query log (the reference app's date-range
  widget, src/ui/app.py:96-108) and return the recomputed overview.

Queries execute on the HTTP thread against the shared SparkSession —
actions are thread-safe; this is an operator console, not a multi-tenant
service.
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Any
from urllib.parse import parse_qs, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..memo import evict, session_memo

_ROW_CAP = 500


def _parseable_ts(s: str) -> bool:
    """True iff Spark's timestamp cast will parse `s` (ISO date or
    date+time) — checked with the same grammar datetime accepts."""
    import datetime as _dt

    for fmt in ("%Y-%m-%d", "%Y-%m-%d %H:%M:%S", "%Y-%m-%dT%H:%M:%S"):
        try:
            _dt.datetime.strptime(s, fmt)
            return True
        except ValueError:
            continue
    return False


def _rows(df: DataFrame, cap: int = _ROW_CAP) -> list[dict[str, Any]]:
    out = []
    for r in df.limit(cap).collect():
        d = r.asDict(recursive=True)
        for k, v in d.items():
            if not isinstance(v, (str, int, float, bool, list, dict, type(None))):
                d[k] = str(v)
        out.append(d)
    return out


class _Handler(BaseHTTPRequestHandler):
    # injected by serve_dashboard via type(); silences the type checker
    spark: SparkSession
    sf_dir: str

    def log_message(self, fmt: str, *args: Any) -> None:  # quiet server
        pass

    def _send(self, status: int, body: bytes, ctype: str) -> None:
        self.send_response(status)
        self.send_header("Content-Type", ctype)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def _json(self, obj: Any, status: int = 200) -> None:
        self._send(
            status,
            json.dumps(obj, default=str).encode(),
            "application/json",
        )

    def do_GET(self) -> None:  # noqa: N802 - stdlib handler contract
        try:
            url = urlparse(self.path)
            q = {k: v[0] for k, v in parse_qs(url.query).items()}
            if url.path == "/":
                self._send(200, self._page().encode(), "text/html")
            elif url.path == "/api/queries":
                from ..queries import registry

                self._json(sorted(registry.queries()))
            elif url.path == "/api/query":
                from ..queries import registry

                name = q.get("name", "")
                qs = registry.queries()
                if name not in qs:
                    self._json({"error": f"unknown query {name!r}"}, 404)
                    return
                # always the server's own sf_dir: letting the request
                # pick a filesystem path would hand any local process
                # that can reach the port an arbitrary-directory read
                # through the shared SparkSession
                df = qs[name](self.spark, self.sf_dir)
                self._json({"name": name, "rows": _rows(df)})
            elif url.path == "/api/refresh":
                # validate BEFORE the Spark filter: an unparseable bound
                # would cast to NULL and silently drop every log row —
                # indistinguishable from a genuinely empty window
                for bound in (q.get("from"), q.get("to")):
                    if bound is not None and not _parseable_ts(bound):
                        self._json(
                            {"error": f"unparseable timestamp {bound!r}; "
                             "use YYYY-MM-DD[ HH:MM:SS]"},
                            400,
                        )
                        return
                self._json(self._refresh(q.get("from"), q.get("to")))
            else:
                self._json({"error": "not found"}, 404)
        except Exception as exc:  # surface, don't kill the server thread
            self._json({"error": repr(exc)}, 500)

    def _refresh(self, t_from: str | None, t_to: str | None) -> dict:
        """The reference app's date-range re-query: re-run the analysis
        over a filtered log window and return the recomputed overview
        (views considered, recommendations, top columns)."""
        from ..operators import recommend

        cond = F.lit(True)
        if t_from:
            cond = cond & (F.col("create_time") >= F.lit(t_from).cast("timestamp"))
        if t_to:
            cond = cond & (F.col("create_time") < F.lit(t_to).cast("timestamp"))
        res = recommend.run_analysis(
            self.spark,
            self.sf_dir,
            time_filter=cond,
            profile_percentiles=False,
        )
        recs = res["recommendations"].where(F.size("partition_keys") > 0)
        usage = (
            res["usage"]
            .groupBy("name")
            .agg(F.sum("weighted_frequency").alias("wf"))
            .orderBy(F.desc("wf"), "name")
            .limit(5)
        )
        try:
            return {
                "window": {"from": t_from, "to": t_to},
                "n_queries": res["query_logs"].count(),
                "recommendations": _rows(
                    recs.select(
                        F.col("view"),
                        F.array_join("partition_keys", ", ").alias("keys"),
                        F.round("total_score", 2).alias("score"),
                    )
                ),
                "top_columns": _rows(usage),
            }
        finally:
            recommend.release_analysis(res)

    def _page(self) -> str:
        from ..operators import recommend
        from . import dashboard

        res = recommend.run_analysis(
            self.spark, self.sf_dir, profile_percentiles=False
        )
        extras = dashboard.advisor_extras(self.spark, self.sf_dir)
        html = dashboard.render_dashboard(res, extras=extras)
        toolbar = (
            "<div class='tiles'>"
            "<div class='tile'><div class='k'>live endpoints</div>"
            "<div style='font-size:12px'>"
            "<a href='/api/queries'>/api/queries</a> · "
            "<a href='/api/query?name=partition_recommendations'>"
            "/api/query?name=…</a> · "
            "<a href='/api/refresh?from=2025-06-01'>"
            "/api/refresh?from=…&amp;to=…</a></div></div></div>"
        )
        return html.replace("<body>", "<body>" + toolbar, 1)


# servers open and close on different threads
_REFS_LOCK = threading.Lock()


def serve_dashboard(
    spark: SparkSession, sf_dir: str, port: int = 0
) -> ThreadingHTTPServer:
    """Bind the live dashboard on localhost:port (0 = ephemeral) and
    return the server (caller drives serve_forever / shutdown — the CLI
    runs it in the foreground, tests in a thread). server_close()
    additionally evicts this sf_dir's session-memo entries and
    unpersists their frames, so a long-lived process cycling through
    many sf_dirs does not accumulate executor memory. Eviction is
    reference-counted per (session, sf_dir): with several servers (or a
    server and a bench) on the same sf_dir, only the last close evicts;
    an earlier one would drop fits still in use and force silent
    re-fits."""
    handler = type(
        "BoundHandler", (_Handler,), {"spark": spark, "sf_dir": sf_dir}
    )
    app_id = spark.sparkContext.applicationId
    # live servers on this (session, sf_dir); its key leads with None so
    # the eviction it triggers does not reset it
    refs = session_memo(spark, "live.servers", (None, sf_dir), lambda: [0])
    with _REFS_LOCK:
        refs[0] += 1

    class _Server(ThreadingHTTPServer):
        _closed = False

        def server_close(self) -> None:  # noqa: D102 - stdlib contract
            super().server_close()
            if self._closed:
                return  # stdlib allows repeated close; decrement once
            self._closed = True
            with _REFS_LOCK:
                refs[0] -= 1
                if refs[0] == 0:
                    evict(app_id, sf_dir)

    return _Server(("127.0.0.1", port), handler)
