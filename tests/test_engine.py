"""Engine façade — the reference server's semantic surface
(SURVEY §2.11) end-to-end without HTTP."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from loudml_spark import errors
from loudml_spark.api import Engine
from loudml_spark.ml.hooks import Hook

BASE = 1704067200


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("engine")
    eng = Engine(spark, storage_path=str(root / "models"))
    rng = np.random.default_rng(9)
    rows = [
        (BASE + i * 3600 + (7 if i % 2 else 13),
         "web" if i % 3 else "db",
         10.0 + 5.0 * math.sin(2 * math.pi * i / 24)
         + float(rng.normal(0, 0.05)))
        for i in range(480)
    ]
    src = spark.createDataFrame(rows, "ts long, host string, value double")
    path = str(root / "events")
    src.write.parquet(path)
    eng.add_bucket({"name": "events", "type": "parquet", "path": path})
    eng.add_bucket({"name": "out", "type": "mem"})
    return eng


def test_bucket_crud_and_read(engine):
    assert "events" in engine.list_buckets()
    res = engine.read(
        "events", BASE, BASE + 86400, "6h", ["avg(value)", "count(value)"],
        ts_col="ts",
    )
    assert len(res["timestamps"]) == 4
    assert all(v is not None for v in res["observed"]["avg_value"])
    with pytest.raises(errors.BucketNotFound):
        engine.read("nope", BASE, BASE + 3600, "1h", ["avg(value)"])


def test_model_lifecycle_train_eval_forecast(engine, spark):
    engine.create_model({
        "name": "seasonal", "type": "seasonal_naive",
        "bucket_interval": 3600,
    })
    assert "seasonal" in engine.list_models()
    engine.train("seasonal", "events", BASE, BASE + 15 * 86400,
                 "avg(value)", ts_col="ts")
    scored = engine.eval_model(
        "seasonal", "events", BASE + 15 * 86400, BASE + 17 * 86400,
        "avg(value)", ts_col="ts", output_bucket="out",
    )
    rows = scored.orderBy("bucket_ts").collect()
    assert len(rows) == 48
    assert all(r["score"] is not None for r in rows)
    # prediction write-back reached the output bucket with the
    # reference's sink schema (@feature / lower_ / upper_)
    out_rows = engine.buckets.get("out").rows
    assert len(out_rows) == 48
    assert {"timestamp", "value", "lower_value", "upper_value",
            "@value", "score", "model"} <= set(out_rows[0])
    fc = engine.forecast(
        "seasonal", BASE + 17 * 86400, BASE + 18 * 86400,
        percent_interval=0.95,
    ).collect()
    assert len(fc) == 24
    # storage round-trip happened on train
    assert engine.storage.load("seasonal").is_trained()


def test_background_train_job(engine):
    engine.create_model({
        "name": "g1", "type": "gaussian", "bucket_interval": 3600,
    })
    job = engine.train("g1", "events", BASE, BASE + 7 * 86400,
                       "avg(value)", ts_col="ts", bg=True)
    model = job.wait(120)
    assert model.is_trained()
    assert job.state == "done"


def test_top_abnormal_keys(engine):
    engine.create_model({
        "name": "g2", "type": "gaussian", "bucket_interval": 3600,
    })
    engine.train("g2", "events", BASE, BASE + 7 * 86400,
                 "avg(value)", ts_col="ts")
    top = engine.top(
        "g2", "events", BASE, BASE + 7 * 86400, "avg(value)",
        ["host"], size=1, ts_col="ts",
    ).collect()
    assert len(top) == 1
    assert top[0]["host"] in ("web", "db")
    assert top[0]["max_score"] >= 0.0


def test_hook_test_endpoint_fires_fake_prediction(engine):
    fired = []

    class Rec(Hook):
        def on_anomaly_start(self, model, start_ts, score, **kw):
            fired.append(("start", model, score))

        def on_anomaly_end(self, model, end_ts, score, **kw):
            fired.append(("end", model, score))

    engine.create_model({
        "name": "hooked", "type": "gaussian", "bucket_interval": 60,
    })
    engine.add_hook("hooked", Rec("rec"))
    assert engine.list_hooks("hooked") == ["rec"]
    n = engine.test_hook("hooked", now=BASE)
    assert n == 1  # the fake prediction contains exactly one episode
    kinds = {k for k, *_ in fired}
    assert "start" in kinds
    assert all(m == "hooked" for _, m, _ in fired)
    assert all(s == 100.0 for *_, s in fired)  # float-max observed
    engine.delete_hook("hooked", "rec")
    assert engine.list_hooks("hooked") == []


def test_periodic_eval_schedule(engine):
    engine.create_model({
        "name": "p1", "type": "gaussian", "bucket_interval": 3600,
    })
    engine.train("p1", "events", BASE, BASE + 7 * 86400,
                 "avg(value)", ts_col="ts")
    sj = engine.start_periodic_eval(
        "p1", "events", "avg(value)",
        {"count": 30, "unit": "seconds"}, now=float(BASE),
        ts_col="ts",
    )
    assert sj.next_run_at == BASE + 30
    assert any(d["name"] == "eval[p1]"
               for d in engine.scheduled.list_scheduled())
    engine.stop_periodic_eval("p1")
    assert not engine.scheduled.list_scheduled()


def test_patch_model_recadences_periodic_eval(engine):
    # reference PATCH changes-loop (server.py:808-826): an interval
    # change must re-create a live eval[<model>] job at the new
    # cadence; the rebound job keeps the original fire fn
    engine.create_model({
        "name": "p2", "type": "gaussian", "bucket_interval": 3600,
        "interval": 30,
    })
    engine.train("p2", "events", BASE, BASE + 7 * 86400,
                 "avg(value)", ts_col="ts")
    engine.start_periodic_eval(
        "p2", "events", "avg(value)",
        {"count": 30, "unit": "seconds"}, now=float(BASE), ts_col="ts")
    old_fn = engine.scheduled.find("eval[p2]").fn
    engine.patch_model("p2", {"interval": "2m"})
    sj = engine.scheduled.find("eval[p2]")
    assert sj is not None and sj.fn is old_fn
    assert sj.desc["every"] == {"count": 120.0, "unit": "seconds"}
    # unrelated patches leave the job alone; patch with no live job
    # is a no-op
    engine.patch_model("p2", {"max_threshold": 99.0})
    assert engine.scheduled.find("eval[p2]") is sj
    engine.stop_periodic_eval("p2")
    engine.patch_model("p2", {"interval": "5m"})
    assert engine.scheduled.find("eval[p2]") is None


def test_model_versions_and_restore(engine):
    engine.create_model({
        "name": "ver", "type": "gaussian", "bucket_interval": 3600,
    })
    engine.train("ver", "events", BASE, BASE + 5 * 86400,
                 "avg(value)", ts_col="ts")
    engine.train("ver", "events", BASE, BASE + 10 * 86400,
                 "avg(value)", ts_col="ts")
    assert engine.model_versions("ver") == [1, 2]
    m2_mean = engine.get_model("ver").state["mean"]
    m1 = engine.restore_model("ver", 1)
    assert m1.is_trained()
    # v1 trained on half the data: state differs from v2
    assert m1.state["mean"] != m2_mean or m1.state["std"] != \
        engine.storage.load("ver", version=2).state["std"]
    with pytest.raises(errors.ModelNotFound):
        engine.model_versions("never-created")


def test_versions_empty_for_untrained_model(engine):
    engine.create_model({
        "name": "unt", "type": "gaussian", "bucket_interval": 3600,
    })
    assert engine.model_versions("unt") == []  # exists, no checkpoints
    engine.delete_model("unt")  # no disk state: must still succeed
    assert "unt" not in engine.list_models()


def test_engine_from_config(spark, tmp_path):
    cfg = tmp_path / "config.yml"
    data_path = str(tmp_path / "events")
    spark.createDataFrame(
        [(BASE + i * 3600, float(i)) for i in range(48)],
        "ts long, value double",
    ).write.parquet(data_path)
    cfg.write_text(f"""
buckets:
  - name: events
    type: parquet
    path: {data_path}
storage:
  path: {tmp_path}/models
scheduled_jobs:
  - name: "eval-{{{{ model_name }}}}"
    method: post
    relative_url: "/models/{{{{ model_name }}}}/_eval"
    params: {{bucket: events, features: "avg(value)", ts_col: ts}}
    every: {{count: 1, unit: hours}}
""")
    from loudml_spark.api import Engine

    eng = Engine.from_config(spark, str(cfg))
    assert eng.list_buckets() == ["events"]
    assert eng.storage is not None
    res = eng.read("events", BASE, BASE + 12 * 3600, "1h",
                   ["avg(value)"], ts_col="ts")
    assert len(res["timestamps"]) == 12
    # no models stored yet → the templated job fans out to zero jobs
    assert eng.scheduled.list_scheduled() == []


def test_eval_flag_abnormal(engine):
    # _eval?flag_abnormal_data=true parity: detection columns appended
    engine.create_model({
        "name": "flagm", "type": "seasonal_naive", "bucket_interval": 3600,
    })
    engine.train("flagm", "events", BASE, BASE + 15 * 86400,
                 "avg(value)", ts_col="ts")
    scored = engine.eval_model(
        "flagm", "events", BASE + 15 * 86400, BASE + 16 * 86400,
        "avg(value)", ts_col="ts", flag_abnormal=True,
    )
    cols = set(scored.columns)
    assert {"is_anomaly", "episode_id"} <= cols
    assert scored.count() == 24


def test_eval_fires_hooks_on_injected_anomaly(spark, tmp_path_factory):
    # a spiked series must drive on_anomaly_start through _eval's
    # flag_abnormal path (the reference's hook loop inside detect)
    root = tmp_path_factory.mktemp("hookeval")
    eng = Engine(spark)
    rows = [(BASE + i * 3600, 10.0 + (300.0 if i == 460 else 0.0)
             + 0.01 * (i % 7))
            for i in range(480)]
    spark.createDataFrame(rows, "ts long, value double") \
        .write.parquet(str(root / "ev"))
    eng.add_bucket({"name": "ev", "type": "parquet",
                    "path": str(root / "ev")})
    eng.create_model({
        "name": "hm", "type": "seasonal_naive", "bucket_interval": 3600,
    })
    eng.train("hm", "ev", BASE, BASE + 18 * 86400, "avg(value)",
              ts_col="ts")
    fired = []

    class Rec(Hook):
        def on_anomaly_start(self, model, start_ts, score, **kw):
            fired.append((model, start_ts, score))

    eng.add_hook("hm", Rec("rec"))
    eng.eval_model("hm", "ev", BASE + 18 * 86400, BASE + 20 * 86400,
                   "avg(value)", ts_col="ts", flag_abnormal=True)
    assert fired, "hook did not fire on the injected spike"
    assert fired[0][0] == "hm"
    assert fired[0][1] == BASE + 460 * 3600


def test_concurrent_appends_to_one_parquet_bucket(engine, tmp_path):
    """Appends to one parquet path share Spark's ``_temporary`` commit
    dir: unserialized, one can fail or lose rows.  Engine.write must
    make every append commit all its rows."""
    import threading

    engine.add_bucket({"name": "sink", "type": "parquet",
                       "path": str(tmp_path / "sink")})
    n_writers, n_rows = 6, 25  # more writers than local[4] cores
    frames = [
        engine.spark.createDataFrame(
            [(w, j) for j in range(n_rows)], "writer long, j long")
        for w in range(n_writers)
    ]
    barrier = threading.Barrier(n_writers)
    failures = []

    def append(df):
        barrier.wait(timeout=60)
        try:
            engine.write("sink", df)
        except Exception as e:  # noqa: BLE001 - reported below
            failures.append(e)

    threads = [threading.Thread(target=append, args=(df,))
               for df in frames]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    try:
        assert not any(t.is_alive() for t in threads)
        assert failures == []
        assert engine.spark.read.parquet(
            str(tmp_path / "sink")).count() == n_writers * n_rows
    finally:
        engine.delete_bucket("sink")


def _points(spark, start, n, value=1.0):
    return spark.createDataFrame(
        [(BASE + (start + i) * 60, value) for i in range(n)],
        "ts long, value double")


def _total(engine, name):
    res = engine.read(name, BASE, BASE + 86400, "1d", "count(value)",
                      ts_col="ts")
    return res["observed"]["count_value"][0]


def test_parquet_read_memo_two_jobs(engine, tmp_path, count_jobs):
    """A repeat read of an unchanged parquet bucket reuses its
    relation: no listing, no footer-schema job, only the aggregation's
    scan and result jobs."""
    path = str(tmp_path / "memo")
    _points(engine.spark, 0, 50).write.parquet(path)
    engine.add_bucket({"name": "memo", "type": "parquet", "path": path})
    try:
        first = engine.read("memo", BASE, BASE + 7200, "10m",
                            "avg(value);count(value)", ts_col="ts")
        again, jobs = count_jobs(lambda: engine.read(
            "memo", BASE + 600, BASE + 7800, "10m",
            "avg(value);count(value)", ts_col="ts"))
        assert jobs <= 2
        assert first["observed"]["count_value"][1:] == \
            again["observed"]["count_value"][:-1]
        bucket = engine.buckets.get("memo")
        assert bucket.read(engine.spark) is bucket.read(engine.spark)
    finally:
        engine.delete_bucket("memo")


def test_parquet_read_memo_sees_every_change(engine, tmp_path):
    """Engine.write, an overwrite, a parquet file copied in out of band
    and a deleted file each change the listing, so the next read
    misses the memo and sees the change."""
    import glob
    import os
    import shutil

    path = str(tmp_path / "changing")
    _points(engine.spark, 0, 10).coalesce(1).write.parquet(path)
    engine.add_bucket({"name": "ch", "type": "parquet", "path": path})
    try:
        assert _total(engine, "ch") == 10
        engine.write("ch", _points(engine.spark, 10, 5).coalesce(1))
        assert _total(engine, "ch") == 15
        engine.write("ch", _points(engine.spark, 0, 7).coalesce(1),
                     mode="overwrite")
        assert _total(engine, "ch") == 7
        (only,) = glob.glob(os.path.join(path, "*.parquet"))
        shutil.copy(only, os.path.join(path, "part-copied.parquet"))
        assert _total(engine, "ch") == 14
        os.remove(only)
        assert _total(engine, "ch") == 7
    finally:
        engine.delete_bucket("ch")


def test_parquet_read_memo_never_older_than_a_returned_write(
        engine, tmp_path):
    """Readers racing one writer, more threads than local[4] cores and
    a short switch interval: every read counts at least the rows of
    each write that had returned before the read started."""
    import sys
    import threading

    path = str(tmp_path / "raced")
    _points(engine.spark, 0, 10).coalesce(1).write.parquet(path)
    engine.add_bucket({"name": "raced", "type": "parquet", "path": path})
    n_readers, n_writes, n_rows = 5, 4, 5
    frames = [_points(engine.spark, 10 + w * n_rows, n_rows).coalesce(1)
              for w in range(n_writes)]
    barrier = threading.Barrier(n_readers + 1)
    returned = []  # writes that have returned, appended after each
    finished = threading.Event()
    reads, stale, failures = [], [], []

    def writer():
        barrier.wait(timeout=60)
        try:
            for df in frames:
                engine.write("raced", df)
                returned.append(1)
        except Exception as e:  # noqa: BLE001 - reported below
            failures.append(e)
        finally:
            finished.set()

    def reader():
        barrier.wait(timeout=60)
        try:
            while not finished.is_set():
                done = len(returned)
                seen = _total(engine, "raced")
                reads.append(seen)
                if seen < 10 + done * n_rows:
                    stale.append((done, seen))
        except Exception as e:  # noqa: BLE001 - reported below
            failures.append(e)

    threads = [threading.Thread(target=writer)] + [
        threading.Thread(target=reader) for _ in range(n_readers)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    try:
        assert not any(t.is_alive() for t in threads)
        assert failures == []
        assert stale == []
        assert len(reads) >= n_readers
        assert _total(engine, "raced") == 10 + n_writes * n_rows
    finally:
        engine.delete_bucket("raced")


def test_parquet_read_glob_path_not_memoized(engine, tmp_path):
    from loudml_spark import session_cache

    path = str(tmp_path / "globbed")
    _points(engine.spark, 0, 10).write.parquet(path)
    engine.add_bucket({"name": "gl", "type": "parquet",
                       "path": path + "/*.parquet"})
    try:
        bucket = engine.buckets.get("gl")
        before = session_cache.stats()
        first, second = bucket.read(engine.spark), bucket.read(engine.spark)
        after = session_cache.stats()
        assert first is not second
        assert (after["hits"], after["misses"]) == (
            before["hits"], before["misses"])
        assert _total(engine, "gl") == 10
    finally:
        engine.delete_bucket("gl")
