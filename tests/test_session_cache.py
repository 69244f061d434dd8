"""The one in-session cache (loudml_spark/session_cache.py): keys that
cover what decides the answer, LRU refresh and eviction, release by
value type, and the release loop's error contract."""

import glob
import os
import re
import shutil
import sys
import tempfile
import threading

import pytest
from pyspark import SparkContext, StorageLevel
from pyspark.sql import DataFrame

from loudml_spark import session_cache
from loudml_spark.catalog import QUERIES, release_caches
from loudml_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"
LMS = os.path.join(tempfile.gettempdir(), "lms_*")


@pytest.fixture
def registry():
    """An empty registry for the test; the entries other tests left
    are put back afterwards (and the test's own are released)."""
    saved = list(session_cache._ENTRIES.items())
    session_cache._ENTRIES.clear()
    yield session_cache._ENTRIES
    session_cache.release_all()
    session_cache._ENTRIES.update(saved)


def _delta(before, key):
    return session_cache.stats()[key] - before[key]


def test_timezone_change_misses(spark, registry):
    tz = spark.conf.get("spark.sql.session.timeZone")
    first = load_table(spark, SF, "events")
    before = session_cache.stats()
    assert load_table(spark, SF, "events") is first
    assert _delta(before, "hits") == 1
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        other = load_table(spark, SF, "events")
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)
    assert other is not first
    assert _delta(before, "misses") == 1
    assert load_table(spark, SF, "events") is first


def test_rewritten_input_misses(spark, registry, tmp_path):
    src = os.path.join(SF, "nation.parquet")
    dst = tmp_path / "nation.parquet"
    shutil.copy(src, dst)
    first = load_table(spark, str(tmp_path), "nation")
    assert load_table(spark, str(tmp_path), "nation") is first
    before = session_cache.stats()
    shutil.copy(src, dst)
    st = os.stat(dst)
    os.utime(dst, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    again = load_table(spark, str(tmp_path), "nation")
    assert again is not first
    assert _delta(before, "misses") == 1
    assert again.count() == first.count()


def test_hit_refreshes_lru(spark, registry, monkeypatch):
    monkeypatch.setattr(session_cache, "CAP", 2)
    session_cache.memo(spark, "a", lambda: ["a"])
    session_cache.memo(spark, "b", lambda: ["b"])
    before = session_cache.stats()
    assert session_cache.memo(spark, "a", lambda: ["rebuilt"]) == ["a"]
    assert _delta(before, "hits") == 1
    session_cache.memo(spark, "c", lambda: ["c"])
    assert [k[2] for k in registry] == ["a", "c"]
    assert _delta(before, "evictions") == 1


def test_eviction_releases_and_next_call_misses(spark, registry,
                                                 monkeypatch):
    """An evicted frame is unpersisted AND forgotten: the next call
    rebuilds a persisted frame instead of returning the evicted one,
    which would recompute silently on every action."""
    monkeypatch.setattr(session_cache, "CAP", 1)
    first = session_cache.memo_frame(spark, "topk", lambda: spark.range(5))
    assert first.storageLevel.useMemory
    session_cache.memo_frame(spark, "other", lambda: spark.range(6))
    assert first.storageLevel == StorageLevel.NONE
    assert all(k[2] != "topk" for k in registry)
    before = session_cache.stats()
    again = session_cache.memo_frame(spark, "topk", lambda: spark.range(5))
    assert _delta(before, "misses") == 1
    assert again.storageLevel.useMemory
    assert again.count() == 5


def test_concurrent_memo_keeps_counts_and_cap(spark, registry,
                                              monkeypatch):
    """Threads racing on overlapping keys under a small cap: every
    call is counted once, the cap holds, and each caller gets the
    value built for its own key."""
    monkeypatch.setattr(session_cache, "CAP", 4)
    before = session_cache.stats()
    wrong = []

    def worker(seed):
        for i in range(60):
            tag = f"k{(seed * 7 + i) % 9}"
            if session_cache.memo(spark, tag, lambda: [tag]) != [tag]:
                wrong.append(tag)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=worker, args=(n,))
                   for n in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not wrong
    assert _delta(before, "hits") + _delta(before, "misses") == 8 * 60
    assert len(registry) <= 4


def test_release_error_propagates_while_session_alive(spark, registry):
    df = spark.range(3)

    def boom(*_):
        raise RuntimeError("release failed")

    df.unpersist = boom
    staged = tempfile.mkdtemp(prefix="lms_test_")
    session_cache.memo(spark, "bad", lambda: df)
    session_cache.memo(spark, "dir", lambda: staged)
    with pytest.raises(RuntimeError, match="release failed"):
        session_cache.release_all()
    # the loop still released every other entry before re-raising
    assert not registry
    assert not os.path.exists(staged)


def test_release_error_swallowed_after_session_stop(spark, registry,
                                                    monkeypatch):
    df = spark.range(3)

    def boom(*_):
        raise RuntimeError("session stopped")

    df.unpersist = boom
    session_cache.memo(spark, "bad", lambda: df)
    monkeypatch.setattr(SparkContext, "_active_spark_context", None)
    session_cache.release_all()
    assert not registry


def test_release_caches_after_catalog_slice(spark):
    before = set(glob.glob(LMS))
    for name in ("graph_components_docs", "dedup_clusters_docs",
                 "ann_sq8_topk", "streaming_dedup_events"):
        QUERIES[name]["fn"](spark, SF).collect()
    frames = [v for v in session_cache._ENTRIES.values()
              if isinstance(v, DataFrame)]
    assert any(f.storageLevel.useMemory for f in frames)
    release_caches()
    assert not session_cache._ENTRIES
    assert all(f.storageLevel == StorageLevel.NONE for f in frames)
    assert not set(glob.glob(LMS)) - before


def test_same_plan_registers_once_and_refreshes_lru(spark, registry):
    """Re-registering a frame with the SAME analyzed plan must not
    create a second entry: both objects share one cache-manager
    entry, and evicting the older would drop the data the newer
    still reads."""
    a = spark.range(5)
    b = spark.range(5)   # same analyzed plan as a
    other = spark.range(7)
    session_cache.persist(a)
    session_cache.persist(other)
    session_cache.persist(b)      # dedup + move-to-end
    assert len(registry) == 2
    # `a`'s slot was refreshed by `b`: evicting one more frame must
    # drop `other`, never the shared range(5) plan
    hashes = [k[2][1] for k in registry]
    assert hashes[-1] == a.semanticHash()


def test_cap_evicts_oldest_and_unpersists(spark, registry, monkeypatch):
    monkeypatch.setattr(session_cache, "CAP", 8)
    frames = [spark.range(10 + i) for i in range(session_cache.CAP + 2)]
    for f in frames:
        session_cache.persist(f).count()
    assert len(registry) == session_cache.CAP
    # the two oldest were evicted AND unpersisted
    assert frames[0].storageLevel.useMemory is False
    assert frames[1].storageLevel.useMemory is False
    assert frames[-1].storageLevel.useMemory is True


def test_release_caches_removes_staging_dirs(spark):
    """The streaming queries cache their staging dir as a path in the
    session cache; release_caches() must delete it, not just drop the
    entry (an unpersist() on a str used to fail silently and leave the
    lms_* dir on disk)."""
    before = set(glob.glob(LMS))
    QUERIES["streaming_dedup_events"]["fn"](spark, SF).collect()
    (staged,) = [v for k, v in session_cache._ENTRIES.items()
                 if k[2] == "stage_dedup"][0]
    assert os.path.isdir(staged)
    release_caches()
    assert not os.path.exists(staged)
    assert not set(glob.glob(LMS)) - before


def test_catalog_modules_persist_only_through_the_cache():
    root = os.path.join(os.path.dirname(__file__), "..", "loudml_spark")
    bare = re.compile(r"(?<!session_cache)\.persist\(|\.cache\(\)")
    for name in ("catalog.py", "catalog_ext.py", "catalog_pipeline.py"):
        with open(os.path.join(root, name)) as f:
            hits = [line for line in f if bare.search(line)]
        assert not hits, (name, hits)
