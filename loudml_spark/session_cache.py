"""One in-session cache for everything the package reuses within a
Spark session: the catalog's memoized frames, models and streaming
staging dirs, ``load_table``'s lazy scan plans, parquet buckets' lazy
relations, and the frames operators persist internally.

* One ``OrderedDict`` LRU with one count cap (``CAP``), guarded by one
  lock that is never held while an entry builds.
* Every key comes from ``_key``: the applicationId, the session confs
  a cached plan reads (``KEY_CONFS``), a tag, and the ``st_mtime_ns``
  of each named input path.  A new session, a conf change or a
  rewritten input therefore misses instead of returning a stale
  answer.  Operator-internal persists (``persist``) use the frame's
  semantic hash as the tag.
* Each entry is released by its value type: a DataFrame is
  unpersisted, an absolute path (or a tuple of them) is removed, and
  anything else is dropped.  Eviction and ``release_all`` share one
  release loop.
* ``stats()`` reports hits, misses, evictions and build seconds.

Nothing is cached across processes: every entry is built from the
inputs inside the session and ends at eviction or ``release_all``.
"""

from __future__ import annotations

import os
import shutil
import threading
import time
from collections import OrderedDict

from pyspark import SparkContext, StorageLevel
from pyspark.sql import DataFrame

# Session confs that decide what a cached plan computes: the events
# loader derives ts_ns through current_timezone(), and the ANSI flag
# is fixed into every cast of an analyzed plan.
KEY_CONFS = ("spark.sql.session.timeZone", "spark.sql.ansi.enabled")

# Count cap of the one LRU.  Measured after one full catalog pass
# (269 queries at sf0.01 in one session, tools/check_oracle.py):
#
#   load_table plans          11
#   catalog memos             26   (frames, models, staging dirs)
#   operator persists         21   (semantic-hash keyed)
#   total                     58   (348 hits, 58 misses, 0 evictions)
#
# The cap is about twice that, so a pass never evicts (an evicted
# entry is rebuilt on its next use) and a second input dir fits too.
# A parquet bucket adds one relation per file listing it is read at;
# a perfbench serve run (3 set-ups, 12 s of 2 clients, writes
# included) ends with 10 entries (24 hits, 10 misses, 0 evictions).
# Every entry is bounded: a lazy plan, a staging dir, or a model- or
# result-sized frame held MEMORY_AND_DISK.
CAP = 128

_ENTRIES: OrderedDict = OrderedDict()
_LOCK = threading.Lock()
_COUNTS = {"hits": 0, "misses": 0, "evictions": 0, "build_s": 0.0}


def _mtime_ns(path: str):
    try:
        return os.stat(path).st_mtime_ns
    except OSError:
        return None


def _key(spark, tag, inputs=()) -> tuple:
    return (
        spark.sparkContext.applicationId,
        tuple(spark.conf.get(k) for k in KEY_CONFS),
        tag,
        tuple((os.path.abspath(p), _mtime_ns(p)) for p in inputs),
    )


def memo(spark, tag, build, *inputs):
    """The session's value for ``tag`` over the input paths
    ``inputs``.  A hit moves the entry to the end of the LRU; a miss
    calls ``build()`` outside the lock and registers its result."""
    key = _key(spark, tag, inputs)
    with _LOCK:
        if key in _ENTRIES:
            _ENTRIES.move_to_end(key)
            _COUNTS["hits"] += 1
            return _ENTRIES[key]
        _COUNTS["misses"] += 1
    t0 = time.perf_counter()
    value = build()
    with _LOCK:
        _COUNTS["build_s"] += time.perf_counter() - t0
        kept = _ENTRIES.setdefault(key, value)
        _ENTRIES.move_to_end(key)
        evicted = []
        while len(_ENTRIES) > CAP:
            evicted.append(_ENTRIES.popitem(last=False)[1])
        _COUNTS["evictions"] += len(evicted)
    # a concurrent build of the same key won: drop ours, except a
    # frame, which shares the winner's cache-manager entry
    if kept is not value and not isinstance(value, DataFrame):
        evicted.append(value)
    _release_each(evicted)
    return kept


def memo_frame(spark, tag, build, *inputs) -> DataFrame:
    """``memo`` of ``build()`` persisted MEMORY_AND_DISK and counted
    once, so its consumers' branches read one materialization instead
    of racing to compute and cache the same partitions."""
    def persisted():
        df = build().persist(StorageLevel.MEMORY_AND_DISK)
        df.count()
        return df
    return memo(spark, tag, persisted, *inputs)


def persist(df: DataFrame) -> DataFrame:
    """Persist an operator-internal frame MEMORY_AND_DISK and register
    it under its semantic hash.  Two frames with the same analyzed
    plan share one cache-manager entry, so they share one slot:
    re-registering refreshes it, and no second slot can unpersist the
    blocks the other frame still reads."""
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    memo(df.sparkSession, ("persist", df.semanticHash()), lambda: df)
    return df


def _release(value) -> None:
    if isinstance(value, DataFrame):
        value.unpersist()
        return
    for path in value if isinstance(value, tuple) else (value,):
        if isinstance(path, str) and os.path.isabs(path):
            shutil.rmtree(path, ignore_errors=True)


def _release_each(values) -> None:
    """The one release loop.  It releases every value, then re-raises
    the first error, unless the SparkContext has stopped: an
    unpersist on a stopped session fails and has nothing to free."""
    error = None
    for value in values:
        try:
            _release(value)
        except Exception as e:
            if SparkContext._active_spark_context is not None:
                error = error or e
    if error is not None:
        raise error


def release_all() -> None:
    """Empty the cache and release every entry."""
    with _LOCK:
        values = list(_ENTRIES.values())
        _ENTRIES.clear()
    _release_each(values)


def stats() -> dict:
    """Cumulative counters and the current entry count."""
    with _LOCK:
        return dict(_COUNTS, entries=len(_ENTRIES))
