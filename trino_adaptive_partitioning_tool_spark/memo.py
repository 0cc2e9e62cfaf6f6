"""One memo for values built once per Spark session and shared after.

A k-means fit, the mined fixture log, a table profile, a prepared plan,
a feed directory: each is built on first use and handed back for the
rest of the session.
"""

# Entries are scoped by applicationId, which is unique per SparkContext
# lifetime (id(spark) is not: a stopped session's id can be reused and
# would hand back frames bound to a dead context). An insert drops every
# entry of any other session and unpersists its frames, so a process
# that restarts its context holds no stale ones.
#
# A key is a tuple whose first item is the data directory the value was
# built from, or None when it reads none; evict() matches on it. Builders
# persist their own frames; dropping an entry unpersists the persisted
# DataFrames it holds (the value itself, or the items of a tuple value).

from __future__ import annotations

import threading
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession

# re-entrant: builds nest (the analysis memo builds the mined-log memo,
# which builds a fixture frame)
_LOCK = threading.RLock()
# applicationId -> {(namespace, key): value}
_ENTRIES: dict[str, dict[tuple[str, tuple], Any]] = {}
_MISSING = object()


def session_memo(
    spark: SparkSession, namespace: str, key: tuple, build: Callable[[], Any]
) -> Any:
    """The session's value for (namespace, key), built by build() on the
    first call. A hit does not take the lock; concurrent misses build
    once."""
    app_id = spark.sparkContext.applicationId
    slot = (namespace, key)
    hit = _ENTRIES.get(app_id, {}).get(slot, _MISSING)
    if hit is not _MISSING:
        return hit
    with _LOCK:
        for stale in [a for a in _ENTRIES if a != app_id]:
            _release(_ENTRIES.pop(stale).values())
        entries = _ENTRIES.setdefault(app_id, {})
        if slot not in entries:
            entries[slot] = build()
        return entries[slot]


def evict(app_id: str, sf_dir: str) -> int:
    """Drop the session's entries built from sf_dir; returns how many."""
    with _LOCK:
        entries = _ENTRIES.get(app_id, {})
        slots = [s for s in entries if s[1] and s[1][0] == sf_dir]
        _release(entries.pop(s) for s in slots)
    return len(slots)


def _release(values) -> None:
    for value in values:
        for df in value if isinstance(value, tuple) else (value,):
            if isinstance(df, DataFrame) and df.is_cached:
                try:
                    df.unpersist()
                except Exception:
                    pass  # a stopped context has no blocks left to free
