"""The session memo (trino_adaptive_partitioning_tool_spark/memo.py):
session scope, single builds under concurrency, nested builds, eviction
by data directory, and removal of memoized temp dirs at exit."""

from __future__ import annotations

import os
import subprocess
import sys
import threading
import time

from trino_adaptive_partitioning_tool_spark import memo
from trino_adaptive_partitioning_tool_spark.sources import fixtures

_DIR = "/session-memo-test"
_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_insert_drops_other_sessions_and_unpersists(spark):
    stale = spark.range(100).persist()
    stale.count()
    assert stale.storageLevel.useMemory
    memo._ENTRIES["app-of-a-stopped-session"] = {("t", (_DIR,)): stale}
    try:
        memo.session_memo(spark, "t", (_DIR, "fresh"), lambda: 1)
        assert "app-of-a-stopped-session" not in memo._ENTRIES
        assert not stale.storageLevel.useMemory
        assert not stale.storageLevel.useDisk
    finally:
        memo._ENTRIES.pop("app-of-a-stopped-session", None)
        memo.evict(spark.sparkContext.applicationId, _DIR)


def test_concurrent_misses_build_once(spark):
    n = 8  # more threads than the cores a test host has
    calls = []
    barrier = threading.Barrier(n)
    got = []

    def build():
        calls.append(1)
        time.sleep(0.2)  # hold the lock while the other lookups miss
        return object()

    def lookup():
        barrier.wait()
        got.append(memo.session_memo(spark, "t", (_DIR, "race"), build))

    threads = [threading.Thread(target=lookup) for _ in range(n)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
        assert not any(t.is_alive() for t in threads)
        assert len(calls) == 1
        assert len(got) == n and all(v is got[0] for v in got)
    finally:
        sys.setswitchinterval(interval)
        memo.evict(spark.sparkContext.applicationId, _DIR)


def test_nested_build_does_not_deadlock(spark):
    result = []

    def outer():
        inner = memo.session_memo(spark, "t", (_DIR, "inner"), lambda: 41)
        return inner + 1

    t = threading.Thread(
        target=lambda: result.append(
            memo.session_memo(spark, "t", (_DIR, "outer"), outer)
        ),
        daemon=True,
    )
    t.start()
    t.join(timeout=30)
    # a deadlocked build still holds the lock: fail before evict() waits
    assert not t.is_alive(), "nested memo build deadlocked"
    memo.evict(spark.sparkContext.applicationId, _DIR)
    assert result == [42]


def test_evict_leaves_other_data_dirs(spark):
    from conftest import memo_entry

    app = spark.sparkContext.applicationId
    other = _DIR + "-other"
    memo.session_memo(spark, "t", (_DIR, "a"), lambda: "a")
    memo.session_memo(spark, "t", (other, "b"), lambda: "b")
    memo.session_memo(spark, "t", (None, "c"), lambda: "c")
    try:
        assert memo.evict(app, _DIR) == 1
        assert memo_entry(spark, "t", (_DIR, "a")) is None
        assert memo_entry(spark, "t", (other, "b")) == "b"
        assert memo_entry(spark, "t", (None, "c")) == "c"
    finally:
        memo.evict(app, other)
        memo._ENTRIES.get(app, {}).pop(("t", (None, "c")), None)


def test_fixture_log_query_ids_are_unique():
    # a time-filtered run_analysis semi-joins the memoized mined log on
    # query_id, which over-counts unless query_id is the log's key
    ids = [row[0] for row in fixtures.QUERY_LOG_ROWS]
    assert len(ids) == len(set(ids))


def _last_line_of(script: str) -> str:
    """Run ``script`` in a fresh interpreter; its last stdout line."""
    out = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True, text=True, timeout=120, cwd=_REPO,
        env={**os.environ, "PYTHONPATH": _REPO},
    )
    assert out.returncode == 0, out.stderr
    return out.stdout.strip().splitlines()[-1]


def test_memoized_feed_dir_removed_at_exit():
    feed = _last_line_of(
        "import types\n"
        "from trino_adaptive_partitioning_tool_spark.queries import streaming_q\n"
        "spark = types.SimpleNamespace(\n"
        "    sparkContext=types.SimpleNamespace(applicationId='stub-app'))\n"
        "def write(d):\n"
        "    open(d + '/part-0.json', 'w').write('{}')\n"
        "print(streaming_q._memo_feed(spark, 'probe', '/data', write))\n"
    )
    assert "tapt_feed_probe_" in feed
    assert not os.path.exists(feed)


def test_checkpoint_dir_removed_at_exit():
    ckpt = _last_line_of(
        "import os\n"
        "from trino_adaptive_partitioning_tool_spark.streaming import (\n"
        "    query_log_stream)\n"
        "ckpt = query_log_stream._fresh_ckpt()\n"
        "os.makedirs(ckpt + '/offsets')\n"
        "print(ckpt)\n"
    )
    tmp = os.path.dirname(ckpt)
    assert os.path.basename(tmp).startswith("tapt_ckpt_")
    assert not os.path.exists(tmp)
