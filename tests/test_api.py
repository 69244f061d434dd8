"""API façade tests — response shapes from the reference
(loudml/worker.py:150-163, donut.py:331-412, bucket.py:232-253)."""

import pytest
from pyspark.sql import functions as F

from loudml_spark.api import (
    Engine,
    format_buckets,
    format_series,
    forecast_model,
    prediction_frame,
    read_bucket,
)
from loudml_spark.ml.models import GaussianModel


@pytest.fixture(scope="module")
def simple_df(spark):
    rows = [(0.0, 1.0), (1.0, 2.0), (2.0, 3.0), (8.0, 4.0), (10.0, 5.0)]
    return spark.createDataFrame(rows, "timestamp double, foo double")


def test_read_bucket_response_shape(spark, simple_df):
    res = read_bucket(
        simple_df, 1, 9, 3, "avg(foo);count(foo)", ts_col="timestamp"
    )
    assert res["timestamps"] == [0, 3, 6]
    assert res["observed"]["avg_foo"] == [2.5, None, 4.0]
    assert res["observed"]["count_foo"] == [2.0, 0.0, 1.0]


def test_engine_facade(spark, tmp_path, simple_df):
    path = str(tmp_path / "b1")
    simple_df.write.parquet(path)
    eng = Engine(spark)
    eng.add_bucket({"name": "b1", "type": "parquet", "path": path})
    res = eng.read("b1", 1, 9, 3, "avg(foo)", ts_col="timestamp")
    assert res["observed"]["avg_foo"] == [2.5, None, 4.0]


def test_prediction_frame_schema(spark):
    scored = spark.createDataFrame(
        [(0, 1.0, 2.0, 0.5, 3.5, 12.0, False)],
        "bucket_ts long, observed double, predicted double, "
        "lower double, upper double, score double, is_anomaly boolean",
    )
    out = prediction_frame(scored, "count_foo", "my-model")
    assert set(out.columns) == {
        "timestamp", "count_foo", "lower_count_foo", "upper_count_foo",
        "@count_foo", "score", "model", "is_anomaly",
    }
    row = out.collect()[0]
    assert row["count_foo"] == 2.0 and row["@count_foo"] == 1.0


def test_format_series_and_buckets(spark):
    scored = spark.createDataFrame(
        [(0, 1.0, 2.0, 0.5, 3.5, 12.0, False),
         (60, None, 2.5, 1.0, 4.0, 99.9, True)],
        "bucket_ts long, observed double, predicted double, "
        "lower double, upper double, score double, is_anomaly boolean",
    ).orderBy("bucket_ts").collect()
    series = format_series(scored, ["foo"])
    assert series["timestamps"] == [0, 60]
    assert series["observed"]["foo"] == [1.0, None]
    assert series["predicted"]["lower_foo"] == [0.5, 1.0]
    buckets = format_buckets(scored, ["foo"])
    assert buckets[1]["stats"]["anomaly"] is True
    assert buckets[0]["predicted"]["foo"] == 2.0


def test_forecast_model_alignment(spark):
    train = spark.createDataFrame(
        [(i * 60, 5.0) for i in range(10)], "bucket_ts long, value double"
    )
    m = GaussianModel("f", bucket_interval=60).fit(train)
    out = forecast_model(m, spark, 630, 750)
    ts = [r["bucket_ts"] for r in out.orderBy("bucket_ts").collect()]
    assert ts == [600, 660, 720]  # floor/ceil alignment


def test_json_and_orc_buckets_roundtrip(spark, tmp_path):
    from loudml_spark.sources.base import load_bucket

    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5)], "ts long, k string, v double")
    for btype in ("json", "orc"):
        b = load_bucket({
            "name": f"t_{btype}", "type": btype,
            "path": str(tmp_path / btype),
        })
        b.write(df)
        back = b.read(spark)
        assert back.count() == 2
        assert {r["k"] for r in back.collect()} == {"a", "b"}
        b.drop()


def test_max_series_per_request_guard(spark, simple_df, tmp_path):
    """The reference's per-bucket result cap (loudml/bucket.py:41-44,
    87-89, default 2000): a read whose date histogram exceeds the cap
    raises Invalid; at or under the cap it succeeds; the setting
    validates to int >= 1 at bucket creation."""
    from loudml_spark import errors

    # direct API: the 1..9 range at interval 3 yields 3 series
    with pytest.raises(errors.Invalid, match="max_series_per_request"):
        read_bucket(simple_df, 1, 9, 3, "avg(foo)",
                    ts_col="timestamp", max_series=2)
    ok = read_bucket(simple_df, 1, 9, 3, "avg(foo)",
                     ts_col="timestamp", max_series=3)
    assert ok["observed"]["avg_foo"] == [2.5, None, 4.0]

    # engine path: the bucket's configured cap applies
    path = str(tmp_path / "capped")
    simple_df.write.parquet(path)
    eng = Engine(spark)
    eng.add_bucket({"name": "capped", "type": "parquet", "path": path,
                    "max_series_per_request": 2})
    with pytest.raises(errors.Invalid, match="max_series_per_request"):
        eng.read("capped", 1, 9, 3, "avg(foo)", ts_col="timestamp")
    # caller override wins (and the default 2000 never triggers here)
    res = eng.read("capped", 1, 9, 3, "avg(foo)", ts_col="timestamp",
                   max_series=None)
    assert res["observed"]["avg_foo"] == [2.5, None, 4.0]

    # config validation matches the reference's Range(min=1)
    with pytest.raises(errors.Invalid):
        eng.add_bucket({"name": "bad", "type": "parquet", "path": path,
                        "max_series_per_request": 0})


PARITY_BASE = 1704067200


@pytest.fixture(scope="module")
def gapped_df(spark):
    """A gapped, unaligned source with nulls, a tag, a long column and
    the same instants as long seconds, long milliseconds, TIMESTAMP
    and TIMESTAMP_NTZ.  Values are halves and one partition, so every
    aggregate is exact and independent of the merge order."""
    rows = [
        (PARITY_BASE + i * 600 + (i * 37) % 600, (i * 7) % 1000,
         "a" if i % 3 else "b",
         None if i % 11 == 0 else float(i % 17) / 2, i % 5)
        for i in range(300) if (i // 20) % 3 != 1
    ]
    df = spark.createDataFrame(
        rows, "ts_s long, frac_ms long, host string, value double, n long")
    return (
        df.withColumn("ts_ms", F.col("ts_s") * 1000 + F.col("frac_ms"))
        .withColumn("ts_t", F.expr("timestamp_millis(ts_ms)"))
        .withColumn("ts_ntz", F.col("ts_t").cast("timestamp_ntz"))
        .drop("frac_ms")
        .coalesce(1)
    )


def _driver_spine_features():
    """Every non-post metric plus a percentile, with ``default`` unset
    and constant, tag filters and a scripted field."""
    from loudml_spark.functions.metrics import METRICS

    plain = [m for m, spec in METRICS.items() if spec.post is None]
    feats = [{"metric": m, "field": "value", "name": f"{m}_v"}
             for m in plain + ["90percentile"]]
    feats += [{"metric": m, "field": "value", "name": f"{m}_d",
               "default": 1.5} for m in plain + ["90percentile"]]
    feats += [
        {"metric": "max", "field": "n", "name": "max_n"},
        {"metric": "min", "field": "n", "name": "min_n", "default": -1},
        {"metric": "avg", "field": "value", "name": "avg_a",
         "match_all": [{"tag": "host", "value": "a"}]},
        {"metric": "count", "field": "value", "name": "count_b",
         "match_all": [{"tag": "host", "value": "b"}]},
        {"metric": "sum", "field": "value", "name": "sum_script",
         "script": "value * 2 + n", "default": 0},
    ]
    return feats


def _spark_spine_requests():
    """One request per feature that reads the previous bucket, next to
    a plain feature, so each one alone decides the path."""
    from loudml_spark.functions.metrics import METRICS

    post = [{"metric": m, "field": "value", "name": f"{m}_v"}
            for m, spec in METRICS.items() if spec.post is not None]
    return [[feat, {"metric": "max", "field": "value", "name": "max_v"}]
            for feat in post + [
                {"metric": "avg", "field": "value", "name": "avg_prev",
                 "default": "previous"},
                {"metric": "sum", "field": "value", "name": "sum_diff",
                 "transform": "diff"},
            ]]


PARITY_RANGES = {
    "aligned": (PARITY_BASE, PARITY_BASE + 40 * 3600),
    "unaligned": (PARITY_BASE + 1234.5, PARITY_BASE + 30 * 3600 + 77),
    "empty": (PARITY_BASE + 7200, PARITY_BASE + 7200),
    "point": (PARITY_BASE + 100, PARITY_BASE + 100),
    "no_data": (PARITY_BASE + 100 * 3600, PARITY_BASE + 110 * 3600),
}


def _assert_spine_parity(df, feats, ts_col, ts_unit):
    """``read_bucket`` returns, byte for byte, what the Spark spine
    join returns: ``bucketize(...)`` ordered and collected, on every
    range shape."""
    import json

    from loudml_spark.api import _nan_to_none
    from loudml_spark.features import parse_features
    from loudml_spark.operators.bucketize import BUCKET_COL, bucketize

    names = [f.name for f in parse_features(feats)]
    for label, (lo, hi) in PARITY_RANGES.items():
        got = read_bucket(df, lo, hi, "1h", feats,
                          ts_col=ts_col, ts_unit=ts_unit)
        rows = bucketize(df, feats, lo, hi, "1h", ts_col=ts_col,
                         ts_unit=ts_unit).orderBy(BUCKET_COL).collect()
        want = {
            "timestamps": [r[BUCKET_COL] for r in rows],
            "observed": {n: [_nan_to_none(r[n]) for r in rows]
                         for n in names},
        }
        assert json.dumps(got, sort_keys=True) == json.dumps(
            want, sort_keys=True), (ts_col, label, names[0])


@pytest.mark.parametrize(
    "feats", [_driver_spine_features()] + _spark_spine_requests(),
    ids=lambda feats: feats[0]["name"] if len(feats) == 2
    else "driver_spine")
def test_read_bucket_matches_spark_spine(gapped_df, feats):
    _assert_spine_parity(gapped_df, feats, "ts_s", "s")


@pytest.mark.parametrize("ts_col,ts_unit", [
    ("ts_ms", "ms"), ("ts_t", "s"), ("ts_ntz", "s")])
def test_read_bucket_matches_spark_spine_time_types(
        gapped_df, ts_col, ts_unit):
    feats = [
        {"metric": "avg", "field": "value", "name": "avg_v"},
        {"metric": "count", "field": "value", "name": "count_v"},
        {"metric": "max", "field": "n", "name": "max_n", "default": 2},
    ]
    _assert_spine_parity(gapped_df, feats, ts_col, ts_unit)


def test_read_bucket_jobs(gapped_df, count_jobs):
    """A read without previous-bucket features runs the aggregation
    only (2 jobs under AQE: the scan stage and the result stage), and
    a ``max_series`` refusal is arithmetic: it starts no job."""
    from loudml_spark import errors

    lo, hi = PARITY_RANGES["aligned"]
    res, jobs = count_jobs(lambda: read_bucket(
        gapped_df, lo, hi, "1h", "avg(value);count(value)",
        ts_col="ts_s"))
    assert len(res["timestamps"]) == 40
    assert jobs <= 2

    def refused():
        with pytest.raises(errors.Invalid, match="max_series_per_request"):
            read_bucket(gapped_df, lo, hi, "1h", "avg(value)",
                        ts_col="ts_s", max_series=39)
    _, jobs = count_jobs(refused)
    assert jobs == 0


def test_patch_mem_bucket_keeps_rows(spark):
    # PATCH rebuilds the bucket from merged settings; a MemBucket holds
    # its rows in-process, so the rebuilt instance must adopt them (the
    # reference's PATCH cannot lose data — its buckets are external
    # TSDBs, server.py:1105-1114)
    from loudml_spark.sources.base import BucketRegistry

    reg = BucketRegistry()
    reg.add({"name": "m", "type": "mem"})
    reg.get("m").insert_times_data({"ts": 1, "value": 2.0})
    reg.get("m").insert_times_data({"ts": 2, "value": 3.0})
    patched = reg.patch("m", {"max_series_per_request": 7})
    assert patched.max_series_per_request == 7
    assert [r["value"] for r in patched.rows] == [2.0, 3.0]
    assert patched.read(spark).count() == 2
