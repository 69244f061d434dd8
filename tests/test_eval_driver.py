"""``Engine.eval_model`` and ``forecast`` on the driver: one
aggregation job, then numpy prediction, scoring and detection into a
local frame.  The values must equal the Spark column composition that
``_top`` and ``predict_range`` keep."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from loudml_spark.api import Engine
from loudml_spark.ml.detect import detect_anomalies
from loudml_spark.ml.models import _slot_cols, _slot_values, local_frame
from loudml_spark.ml.scoring import score_col, score_values

BASE = 1704067200
HOUR = 3600
TRAIN = (BASE, BASE + 15 * 86400)
EVAL = (BASE + 15 * 86400, BASE + 17 * 86400)
# floats agree to rounding: numpy's exp and Java's Math.exp may round
# the last bit apart, and the window regression sums its window
# pairwise on the driver but left to right in Spark
TOL = 1e-12
PREVIOUS = {"name": "avg_value", "metric": "avg", "field": "value",
            "default": "previous"}

# name → (settings, feature, flag_abnormal)
MODELS = {
    "gauss": ({"type": "gaussian"}, "avg(value)", True),
    "gauss_plain": ({"type": "gaussian"}, "avg(value)", False),
    "seas_low": ({"type": "seasonal_naive", "anomaly_type": "low"},
                 "avg(value)", True),
    "seas_week_high": ({"type": "seasonal_naive", "anomaly_type": "high",
                        "grace_period": 4 * HOUR,
                        "seasonality": {"daytime": True, "weekday": True}},
                       "avg(value)", True),
    "seas_count": ({"type": "seasonal_naive"}, "count(value)", True),
    "donut": ({"type": "donut", "span": 6, "epochs": 2, "latent_dim": 3,
               "intermediate_dim": 8}, "avg(value)", True),
    "donut_prev": ({"type": "donut", "span": 6, "epochs": 2,
                    "latent_dim": 3, "intermediate_dim": 8},
                   PREVIOUS, False),
    "ar": ({"type": "window_regression", "span": 5}, "avg(value)", True),
    "ar_plain": ({"type": "window_regression", "span": 5}, "avg(value)",
                 False),
    "ar_prev": ({"type": "window_regression", "span": 5,
                 "anomaly_type": "low"}, PREVIOUS, True),
    # trained over the NaN observation: μ (gaussian) or one slot's
    # mean (seasonal) is NaN, which must stay NaN, not become null
    "gauss_nan": ({"type": "gaussian"}, "avg(value)", False),
    "seas_nan": ({"type": "seasonal_naive"}, "avg(value)", False),
    # trained over a range without data: no global mean, null bands
    "seas_dataless": ({"type": "seasonal_naive"}, "avg(value)", False),
}
TRAIN_RANGES = {
    "gauss_nan": EVAL, "seas_nan": EVAL,
    "seas_dataless": (BASE - 2 * 86400, BASE),
}


def _value(i):
    v = 10.0 + 5.0 * math.sin(2 * math.pi * i / 24) + 0.1 * ((i * 7) % 5)
    if i in (15 * 24 + 9, 16 * 24 + 3):
        v += 40.0  # high spikes
    if i == 15 * 24 + 20:
        v -= 40.0  # low spike
    if i == 16 * 24 + 12:
        v = float("nan")  # a NaN observation: avg → NaN, not null
    return v


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("evaldriver")
    eng = Engine(spark)
    # gapped: every 11th hour has no row, and hours 16d+14..16d+16 none
    rows = [(BASE + i * HOUR + 60, _value(i)) for i in range(20 * 24)
            if i % 11 != 4 and not 16 * 24 + 14 <= i <= 16 * 24 + 16]
    path = str(root / "src")
    spark.createDataFrame(rows, "ts long, value double").write.parquet(path)
    eng.add_bucket({"name": "src", "type": "parquet", "path": path})
    eng.add_bucket({"name": "sink", "type": "parquet",
                    "path": str(root / "sink")})
    for name, (settings, feature, _) in MODELS.items():
        eng.create_model({"name": name, "bucket_interval": HOUR, **settings})
        eng.train(name, "src", *TRAIN_RANGES.get(name, TRAIN), feature,
                  ts_col="ts")
    return eng


def _old_eval(engine, name, from_date, to_date, flag):
    """The Spark composition ``eval_model`` ran before it moved to the
    driver."""
    _, feature, _ = MODELS[name]
    model = engine.get_model(name)
    series, from_ts, _ = model.bucket_series(
        engine.buckets.get("src").read(engine.spark), from_date, to_date,
        feature, widen=True, ts_col="ts")
    scored = model.predict(series).filter(F.col(model.ts_col) >= from_ts)
    if flag:
        scored = detect_anomalies(
            scored, model.min_threshold, model.max_threshold,
            model.grace_period, ts_col=model.ts_col)
    return scored


def _same(a, b, tol):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return math.isclose(a, b, rel_tol=tol, abs_tol=tol)
    return type(a) is type(b) and a == b


def _assert_frames_equal(new, old, ts_col, tol):
    assert new.schema == old.schema
    new_rows = sorted(new.collect(), key=lambda r: r[ts_col])
    old_rows = sorted(old.collect(), key=lambda r: r[ts_col])
    assert len(new_rows) == len(old_rows)
    for rn, ro in zip(new_rows, old_rows):
        for c in new.columns:
            assert _same(rn[c], ro[c], tol), (c, rn, ro)


@pytest.mark.parametrize("name", sorted(MODELS))
def test_eval_equals_spark_composition(engine, name):
    _, feature, flag = MODELS[name]
    new = engine.eval_model(name, "src", *EVAL, feature, ts_col="ts",
                            flag_abnormal=flag)
    old = _old_eval(engine, name, *EVAL, flag)
    _assert_frames_equal(new, old, engine.get_model(name).ts_col, TOL)


def test_eval_parity_covers_the_edge_cases(engine):
    """The data behind the parity test holds what it claims to:
    null and NaN observations, anomalies both ways, a grace period."""
    rows = engine.eval_model("gauss", "src", *EVAL, "avg(value)",
                             ts_col="ts", flag_abnormal=True).collect()
    assert any(r["observed"] is None for r in rows)  # gaps, NaN → null
    plain = engine.eval_model("gauss_plain", "src", *EVAL, "avg(value)",
                              ts_col="ts").collect()
    assert any(r["observed"] is not None and math.isnan(r["observed"])
               for r in plain)
    assert {r["anomaly_type"] for r in rows if r["is_anomaly"]} \
        >= {"low", "high"}
    low = engine.eval_model("seas_low", "src", *EVAL, "avg(value)",
                            ts_col="ts", flag_abnormal=True).collect()
    assert any(r["is_anomaly"] for r in low)
    # the grace period suppresses a trigger that low_high would keep
    high = engine.eval_model("seas_week_high", "src", *EVAL, "avg(value)",
                             ts_col="ts", flag_abnormal=True).collect()
    assert any(r["score"] >= 99.7 and not r["is_anomaly"] for r in high)


def test_eval_flags_a_nan_band_as_null(engine):
    """With ``flag_abnormal`` a NaN turns null, as the old Arrow round
    trip made it; that round trip failed on a NaN band, which is
    non-nullable for a gaussian model.  The band column is nullable
    then, and every other value is the unflagged eval's."""
    args = ("gauss_nan", "src", *EVAL, "avg(value)")
    plain = engine.eval_model(*args, ts_col="ts")
    flagged = engine.eval_model(*args, ts_col="ts", flag_abnormal=True)
    assert not plain.schema["predicted"].nullable
    assert flagged.schema["predicted"].nullable
    for p, f in zip(plain.collect(), flagged.collect()):
        assert math.isnan(p["predicted"]) and f["predicted"] is None
        assert f["score"] == p["score"]


def test_eval_unaligned_range_equals_spark_composition(engine):
    lo, hi = EVAL[0] + 1234, EVAL[0] + 30 * HOUR + 5
    new = engine.eval_model("seas_week_high", "src", lo, hi, "avg(value)",
                            ts_col="ts", flag_abnormal=True)
    old = _old_eval(engine, "seas_week_high", lo, hi, True)
    _assert_frames_equal(new, old, "bucket_ts", TOL)


def test_eval_jobs(engine, count_jobs):
    args = ("gauss", "src", *EVAL, "avg(value)")
    engine.eval_model(*args, ts_col="ts")  # the source listing is memoized
    out, n = count_jobs(lambda: engine.eval_model(
        *args, ts_col="ts", flag_abnormal=True).collect())
    assert len(out) == 48 and n <= 2
    out, n = count_jobs(lambda: engine.eval_model(
        *args, ts_col="ts", flag_abnormal=True, output_bucket="sink"))
    assert n <= 3


def test_eval_and_forecast_frames_are_local(engine, count_jobs):
    """The server collects what eval_model and forecast return: that
    collect must start no Spark job, so their work stays inside the
    engine's own calls."""
    for name in ("gauss", "donut", "ar", "seas_week_high"):
        _, feature, flag = MODELS[name]
        scored = engine.eval_model(name, "src", *EVAL, feature, ts_col="ts",
                                   flag_abnormal=flag)
        rows, n = count_jobs(scored.collect)
        assert len(rows) == 48 and n == 0
    history = [10.0] * 5
    for name, kw in (("gauss", {"percent_interval": 0.9}),
                     ("seas_week_high", {}), ("donut", {}),
                     ("ar", {"history": history})):
        fc = engine.forecast(name, EVAL[1], EVAL[1] + 24 * HOUR, **kw)
        rows, n = count_jobs(fc.collect)
        assert len(rows) == 24 and n == 0
    # a constraint that holds: forecast and check start no job either
    _, n = count_jobs(lambda: engine.forecast(
        "gauss", EVAL[1], EVAL[1] + 24 * HOUR,
        constraint="value:high:1e9").collect())
    assert n == 0


def test_write_back_evals_leave_no_persisted_rdds(engine):
    sc = engine.spark.sparkContext
    before = set(sc._jsc.getPersistentRDDs().keys())
    for name in ("gauss", "donut", "ar"):
        _, feature, _ = MODELS[name]
        engine.eval_model(name, "src", *EVAL, feature, ts_col="ts",
                          flag_abnormal=True, output_bucket="sink")
    engine._run_scheduled({"relative_url": "/models/gauss/_eval",
                           "params": {"bucket": "src", "ts_col": "ts"}})
    assert set(sc._jsc.getPersistentRDDs().keys()) == before


def _score_rows():
    nan = float("nan")
    return [
        # observed, predicted, lower, upper
        (10.0, 10.0, 7.0, 13.0),
        (14.0, 10.0, 7.0, 13.0),
        (6.5, 10.0, 7.0, 13.0),
        (10.5, 10.0, 10.0, 10.0),   # std 0 → 1
        (9.0, 10.0, 10.0, 10.0),
        (None, 10.0, 7.0, 13.0),    # empty bucket
        (10.0, None, 7.0, 13.0),
        (10.0, 10.0, None, 13.0),
        (10.0, 10.0, 7.0, None),
        (nan, 10.0, 7.0, 13.0),
        (10.0, nan, 7.0, 13.0),
        (10.0, 10.0, nan, 13.0),
        (12.0, 10.0, 13.0, 7.0),    # inverted band: negative std
        (1e300, 0.0, -1.0, 1.0),
        (14.0, None, 7.0, 13.0),    # no prediction: the raw sign
    ]


def _masked(col):
    # a value under the mask must not matter
    return np.ma.array([1e9 if v is None else v for v in col],
                       mask=[v is None for v in col])


@pytest.mark.parametrize("anomaly_type", ["low", "high", "low_high"])
def test_score_values_equals_score_col(spark, anomaly_type):
    rows = _score_rows()
    df = spark.createDataFrame(
        rows, "observed double, predicted double, lower double, "
        "upper double")
    want = [r["s"] for r in df.select(score_col(
        F.col("observed"), F.col("predicted"), F.col("lower"),
        F.col("upper"), anomaly_type).alias("s")).collect()]
    got = score_values(*(_masked(c) for c in zip(*rows)),
                       anomaly_type=anomaly_type)
    assert len(got) == len(want)
    for g, w in zip(got.tolist(), want):
        assert w is not None and _same(g, w, TOL), (g, w)
    by_case = dict(zip(range(len(rows)), got.tolist()))
    if anomaly_type == "low_high":
        assert by_case[5] == by_case[7] == by_case[8] == 100.0
    assert by_case[9] == (0.0 if anomaly_type == "low" else 100.0)


def test_slot_values_follow_spark_truncation(spark):
    ts = [-1, -3599, -3600, -3601, -86400 * 3 - 1, -86400 * 8, 0, 3599,
          3600, 86400 * 7 + 5, BASE + 13 * HOUR]
    frame = local_frame(spark, T.StructType(
        [T.StructField("bucket_ts", T.LongType())]), [ts])
    season = {"daytime": True, "weekday": True}
    want = frame.select(*_slot_cols(season, "bucket_ts")).collect()
    got = _slot_values(season, ts)
    assert got["__hod"].tolist() == [r["__hod"] for r in want]
    assert got["__wd"].tolist() == [r["__wd"] for r in want]
    assert min(got["__hod"]) < 0  # pre-1970 slots stay negative


def test_local_frame_keeps_nulls_and_nan(spark):
    schema = T.StructType([T.StructField("a", T.DoubleType()),
                           T.StructField("b", T.DoubleType())])
    rows = local_frame(spark, schema, [
        [1.0, None, float("nan")],
        np.ma.array([1.0, float("nan"), 3.0], mask=[False, False, True]),
    ]).collect()
    assert rows[0]["a"] == 1.0 and rows[1]["a"] is None
    assert math.isnan(rows[2]["a"])
    assert math.isnan(rows[1]["b"]) and rows[2]["b"] is None

