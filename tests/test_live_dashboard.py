"""Live dashboard server (sources/live.py): the re-query surface the
static HTML cannot provide — served from stdlib http.server and driven
here over real localhost HTTP with urllib."""

from __future__ import annotations

import json
import threading
import urllib.request

import pytest

from conftest import SMOKE_SF_DIR
from trino_adaptive_partitioning_tool_spark.sources import live


@pytest.fixture(scope="module")
def server(spark):
    srv = live.serve_dashboard(spark, SMOKE_SF_DIR, port=0)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield srv
    srv.shutdown()
    # full lifecycle: release the socket AND this server's cache ref
    # (eviction is refcounted per (session, sf_dir) — a shut-down-but-
    # never-closed server would pin the sf_dir's memo entries forever)
    srv.server_close()


def _get(server, path: str):
    host, port = server.server_address[:2]
    with urllib.request.urlopen(f"http://{host}:{port}{path}", timeout=120) as r:
        return r.status, r.headers.get("Content-Type", ""), r.read()


def test_query_endpoint_runs_registered_query(server):
    status, ctype, body = _get(
        server, "/api/query?name=resource_scores"
    )
    assert status == 200 and ctype.startswith("application/json")
    payload = json.loads(body)
    assert payload["name"] == "resource_scores"
    rows = payload["rows"]
    assert len(rows) == 20
    assert {"query_id", "resource_score"} <= set(rows[0])


def test_query_endpoint_unknown_name_404(server):
    try:
        status, _, body = _get(server, "/api/query?name=nope")
    except urllib.error.HTTPError as e:  # urllib raises on 4xx
        status, body = e.code, e.read()
    assert status == 404
    assert "unknown query" in json.loads(body)["error"]


def test_queries_endpoint_lists_registry(server):
    status, _, body = _get(server, "/api/queries")
    names = json.loads(body)
    assert status == 200
    assert "partition_recommendations" in names
    assert "partition_recommendation_drift" in names


def test_refresh_recomputes_with_time_window(server):
    """The reference app's date-range widget: a narrowed window must
    re-run the analysis over fewer log rows, and the full window must
    reproduce the unfiltered query count."""
    status, _, body = _get(server, "/api/refresh")
    full = json.loads(body)
    assert status == 200
    assert full["n_queries"] == 20  # the fixture log
    assert full["recommendations"], "full window should recommend keys"

    status, _, body = _get(server, "/api/refresh?from=2025-06-01")
    late = json.loads(body)
    assert status == 200
    assert 0 < late["n_queries"] < full["n_queries"]
    assert late["window"]["from"] == "2025-06-01"


def test_refresh_releases_the_frames_it_cached(server, spark):
    """A time-filtered run_analysis caches usage, column_performance and
    column_scores for itself; /api/refresh must release them, so repeated
    refreshes leave the session's cached frames where the first left them
    (the shared mined log and profiles stay cached)."""
    def cached_frames() -> int:
        return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())

    # distinct windows: a repeated identical plan would reuse its cache
    # entry and hide the growth
    paths = ["/api/refresh?from=2025-06-01", "/api/refresh?from=2025-05-01",
             "/api/refresh?to=2025-06-01"]
    first = json.loads(_get(server, paths[0])[2])
    after_first = cached_frames()
    for path in paths[1:]:
        _get(server, path)
        assert cached_frames() == after_first
    assert json.loads(_get(server, paths[0])[2]) == first


def test_root_serves_dashboard_html_with_live_toolbar(server):
    status, ctype, body = _get(server, "/")
    assert status == 200 and ctype.startswith("text/html")
    html = body.decode()
    assert "Adaptive partitioning dashboard" in html
    assert "/api/refresh" in html  # the live toolbar
    assert "Re-partitioning triggers" in html


def test_refresh_rejects_unparseable_timestamp(server):
    """An unparseable bound must 400, not silently NULL-filter every log
    row into an empty-looking overview (r7 review finding)."""
    try:
        status, _, body = _get(server, "/api/refresh?from=06%2F01%2F2025")
    except urllib.error.HTTPError as e:
        status, body = e.code, e.read()
    assert status == 400
    assert "unparseable timestamp" in json.loads(body)["error"]


def test_query_endpoint_ignores_sf_dir_override(server):
    """The request must not be able to point the shared SparkSession at
    an arbitrary filesystem path (r7 review finding): an sf_dir param is
    ignored and the server's own directory is used."""
    status, _, body = _get(
        server, "/api/query?name=resource_scores&sf_dir=/nonexistent/path"
    )
    assert status == 200
    assert len(json.loads(body)["rows"]) == 20  # served from self.sf_dir


def test_server_close_evicts_clustering_caches_refcounted(spark):
    """A long-lived dashboard server must release this sf_dir's
    session-memoized fits and persisted assignment frames on close (the
    memo otherwise holds them per sf_dir for the session) — but ONLY
    when it is the LAST server on that (session, sf_dir): with two
    concurrent servers, closing one must not drop fits the other (or a
    concurrent bench) still uses. Runs on its own sf_dir so the module
    fixture's server can't interfere."""
    from conftest import PARITY_SF_DIR, memo_entry
    from trino_adaptive_partitioning_tool_spark import memo
    from trino_adaptive_partitioning_tool_spark.queries import (
        clustering as qc,
    )

    key = (PARITY_SF_DIR,)
    srv_a = live.serve_dashboard(spark, PARITY_SF_DIR, port=0)
    srv_b = live.serve_dashboard(spark, PARITY_SF_DIR, port=0)
    try:
        frame = qc._assignments(spark, PARITY_SF_DIR)
        assert memo_entry(spark, "clustering.fit", key) is not None
    finally:
        srv_a.server_close()
        srv_a.server_close()  # double close must not double-decrement
        # first close: the sibling server still owns the entries
        assert memo_entry(spark, "clustering.fit", key) is not None
        srv_b.server_close()
    # last close: evicted and unpersisted
    assert memo_entry(spark, "clustering.fit", key) is None
    assert not frame.storageLevel.useMemory
    # a later server on the same sf_dir counts from zero again
    srv_c = live.serve_dashboard(spark, PARITY_SF_DIR, port=0)
    memo.session_memo(spark, "t", (PARITY_SF_DIR,), object)
    srv_c.server_close()
    assert memo_entry(spark, "t", (PARITY_SF_DIR,)) is None
