"""Query catalog — the driver-facing inventory of implemented operators.

Each entry pairs a Spark implementation (built from loudml_spark
operators) with an equivalent ANSI-SQL oracle that DuckDB runs on the
same parquet tables.  Conventions that make the value-hash comparison
robust across engines:

* time bucketing is **integer** arithmetic on int64 nanoseconds
  (``ts_ns div N`` in Spark ≡ ``epoch_ns(ts) // N`` in DuckDB) — no
  double rounding at bucket edges;
* sums of fixed-point inputs go through DECIMAL so they are exact in
  both engines, then cast to DOUBLE (identical IEEE value);
* other floating aggregates are rounded on BOTH sides (6 dp for
  means/percentiles, 4 dp for stddev/variance — wide enough that the
  engines' different summation orders can't straddle a boundary);
* count columns cast to DOUBLE (loudml counts are floats,
  loudml/worker.py:158) and fill 0 for empty buckets;
* every computed column is aliased identically in Spark and SQL.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from loudml_spark import session_cache
from loudml_spark.features import Feature
from loudml_spark.operators.align import align_features
from loudml_spark.operators.bucketize import bucketize
from loudml_spark.operators.ranking import top_k
from loudml_spark.operators.seasonal import daytime_col
from loudml_spark.session_cache import release_all as release_caches  # noqa: F401
from loudml_spark.sources.tables import load_table, table_path

NS = 10**9
JAN1 = 1704067200          # 2024-01-01T00:00:00Z
JAN31 = JAN1 + 30 * 86400  # 2024-01-31T00:00:00Z

# ---------------------------------------------------------------- helpers


def _events(spark, sf_dir):
    return load_table(spark, sf_dir, "events")


def _ev_bucketize(spark, sf_dir, features, interval):
    return bucketize(
        _events(spark, sf_dir), features, JAN1, JAN31, interval,
        ts_col="ts_ns", ts_unit="ns",
    )


def _spine_sql(interval: int, cols: str = "value, event_type, user_id") -> str:
    """Shared oracle scaffolding: bucketed points + full bucket spine."""
    return f"""
WITH pts AS (
  SELECT (epoch_ns(ts) // {interval * NS}) * {interval} AS bucket_ts, {cols}
  FROM events
  WHERE epoch_ns(ts) >= {JAN1 * NS} AND epoch_ns(ts) < {JAN31 * NS}
),
spine AS (SELECT range AS bucket_ts FROM range({JAN1}, {JAN31}, {interval}))
"""


# ---------------------------------------------------------------- queries


def q_ts_avg_1h(spark, sf_dir):
    out = _ev_bucketize(spark, sf_dir, ["avg(value)"], 3600)
    return out.select("bucket_ts", F.round("avg_value", 6).alias("avg_value"))


SQL_TS_AVG_1H = _spine_sql(3600) + """
SELECT s.bucket_ts AS bucket_ts, ROUND(AVG(p.value), 6) AS avg_value
FROM spine s LEFT JOIN pts p USING (bucket_ts)
GROUP BY s.bucket_ts
"""


def q_ts_multi_metric_6h(spark, sf_dir):
    out = _ev_bucketize(
        spark, sf_dir,
        ["avg(value)", "count(value)", "min(value)", "max(value)",
         "spread(value)"],
        21600,
    )
    return out.select(
        "bucket_ts",
        F.round("avg_value", 6).alias("avg_value"),
        F.col("count_value"),
        "min_value", "max_value", "spread_value",
    )


SQL_TS_MULTI_METRIC_6H = _spine_sql(21600) + """
SELECT s.bucket_ts AS bucket_ts,
       ROUND(AVG(p.value), 6) AS avg_value,
       CAST(COUNT(p.value) AS DOUBLE) AS count_value,
       MIN(p.value) AS min_value,
       MAX(p.value) AS max_value,
       MAX(p.value) - MIN(p.value) AS spread_value
FROM spine s LEFT JOIN pts p USING (bucket_ts)
GROUP BY s.bucket_ts
"""


def q_ts_sum_1d(spark, sf_dir):
    df = _events(spark, sf_dir).withColumn(
        "value_dec", F.col("value").cast("decimal(18,2)")
    )
    out = bucketize(
        df, [Feature(metric="sum", field="value_dec", name="sum_value")],
        JAN1, JAN31, 86400, ts_col="ts_ns", ts_unit="ns",
    )
    return out.select(
        "bucket_ts", F.col("sum_value").cast("double").alias("sum_value")
    )


SQL_TS_SUM_1D = _spine_sql(86400) + """
SELECT s.bucket_ts AS bucket_ts,
       CAST(SUM(CAST(p.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM spine s LEFT JOIN pts p USING (bucket_ts)
GROUP BY s.bucket_ts
"""


_EVENT_TYPES = ("click", "signup", "error", "view", "purchase")


def q_ts_count_by_type_6h(spark, sf_dir):
    feats = [
        Feature(metric="count", field="value", name=f"count_{t}",
                match_all=[{"tag": "event_type", "value": t}])
        for t in _EVENT_TYPES
    ]
    return _ev_bucketize(spark, sf_dir, feats, 21600)


SQL_TS_COUNT_BY_TYPE_6H = _spine_sql(21600) + """
SELECT s.bucket_ts AS bucket_ts,
""" + ",\n".join(
    f"       CAST(COUNT(CASE WHEN p.event_type = '{t}' THEN p.value END)"
    f" AS DOUBLE) AS count_{t}"
    for t in _EVENT_TYPES
) + """
FROM spine s LEFT JOIN pts p USING (bucket_ts)
GROUP BY s.bucket_ts
"""


def q_ts_match_all_12h(spark, sf_dir):
    feats = [
        Feature(metric="avg", field="value", name="avg_value",
                match_all=[{"tag": "event_type", "value": "purchase"},
                           {"tag": "user_id", "value": 42}]),
        Feature(metric="count", field="value", name="count_value",
                match_all=[{"tag": "event_type", "value": "purchase"},
                           {"tag": "user_id", "value": 42}]),
    ]
    out = _ev_bucketize(spark, sf_dir, feats, 43200)
    return out.select(
        "bucket_ts", F.round("avg_value", 6).alias("avg_value"), "count_value"
    )


SQL_TS_MATCH_ALL_12H = _spine_sql(43200) + """
SELECT s.bucket_ts AS bucket_ts,
       ROUND(AVG(CASE WHEN p.event_type = 'purchase' AND p.user_id = 42
                 THEN p.value END), 6) AS avg_value,
       CAST(COUNT(CASE WHEN p.event_type = 'purchase' AND p.user_id = 42
                  THEN p.value END) AS DOUBLE) AS count_value
FROM spine s LEFT JOIN pts p USING (bucket_ts)
GROUP BY s.bucket_ts
"""


def q_ts_stddev_var_1d(spark, sf_dir):
    out = _ev_bucketize(
        spark, sf_dir, ["std_deviation(value)", "variance(value)"], 86400
    )
    return out.select(
        "bucket_ts",
        F.round("std_deviation_value", 4).alias("std_deviation_value"),
        F.round("variance_value", 4).alias("variance_value"),
    )


SQL_TS_STDDEV_VAR_1D = _spine_sql(86400) + """
SELECT s.bucket_ts AS bucket_ts,
       ROUND(STDDEV_POP(p.value), 4) AS std_deviation_value,
       ROUND(VAR_POP(p.value), 4) AS variance_value
FROM spine s LEFT JOIN pts p USING (bucket_ts)
GROUP BY s.bucket_ts
"""


def q_ts_percentiles_1d(spark, sf_dir):
    feats = [
        Feature(metric="median", field="value", name="median_value"),
        Feature(metric="5percentile", field="value", name="p05_value"),
        Feature(metric="95percentile", field="value", name="p95_value"),
    ]
    out = _ev_bucketize(spark, sf_dir, feats, 86400)
    return out.select(
        "bucket_ts",
        F.round("median_value", 6).alias("median_value"),
        F.round("p05_value", 6).alias("p05_value"),
        F.round("p95_value", 6).alias("p95_value"),
    )


SQL_TS_PERCENTILES_1D = _spine_sql(86400) + """
SELECT s.bucket_ts AS bucket_ts,
       ROUND(QUANTILE_CONT(p.value, 0.5), 6) AS median_value,
       ROUND(QUANTILE_CONT(p.value, 0.05), 6) AS p05_value,
       ROUND(QUANTILE_CONT(p.value, 0.95), 6) AS p95_value
FROM spine s LEFT JOIN pts p USING (bucket_ts)
GROUP BY s.bucket_ts
"""


def q_ts_fill_previous_1h(spark, sf_dir):
    # mean_exact (DECIMAL sum ÷ count), not avg: a double-summed mean
    # ROUND(…,6) straddled a rounding boundary against DuckDB at
    # sf0.1 (engines sum in different orders); the exact mean needs
    # no rounding at any scale
    feat = Feature(
        metric="mean_exact", field="value", name="avg_value",
        match_all=[{"tag": "event_type", "value": "signup"}],
        default="previous",
    )
    out = _ev_bucketize(spark, sf_dir, [feat], 3600)
    return out.select("bucket_ts", "avg_value")


SQL_TS_FILL_PREVIOUS_1H = _spine_sql(3600) + """
, agg AS (
  SELECT s.bucket_ts AS bucket_ts,
         CAST(SUM(CASE WHEN p.event_type = 'signup'
                       THEN CAST(p.value AS DECIMAL(18,2)) END) AS DOUBLE)
         / COUNT(CASE WHEN p.event_type = 'signup' THEN p.value END) AS a
  FROM spine s LEFT JOIN pts p USING (bucket_ts)
  GROUP BY s.bucket_ts
)
SELECT bucket_ts,
       LAST_VALUE(a IGNORE NULLS) OVER (
         ORDER BY bucket_ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS avg_value
FROM agg
"""


def q_ts_fill_default_1h(spark, sf_dir):
    feat = Feature(
        metric="avg", field="value", name="avg_value",
        match_all=[{"tag": "event_type", "value": "error"}],
        default=0.0,
    )
    out = _ev_bucketize(spark, sf_dir, [feat], 3600)
    return out.select("bucket_ts", F.round("avg_value", 6).alias("avg_value"))


SQL_TS_FILL_DEFAULT_1H = _spine_sql(3600) + """
SELECT s.bucket_ts AS bucket_ts,
       ROUND(COALESCE(AVG(CASE WHEN p.event_type = 'error' THEN p.value END),
                      0.0), 6) AS avg_value
FROM spine s LEFT JOIN pts p USING (bucket_ts)
GROUP BY s.bucket_ts
"""


def q_ts_derivative_1h(spark, sf_dir):
    out = _ev_bucketize(spark, sf_dir, ["derivative(value)"], 3600)
    return out.select(
        "bucket_ts", F.round("derivative_value", 9).alias("derivative_value")
    )


SQL_TS_DERIVATIVE_1H = _spine_sql(3600) + """
, agg AS (
  SELECT s.bucket_ts AS bucket_ts, AVG(p.value) AS a
  FROM spine s LEFT JOIN pts p USING (bucket_ts)
  GROUP BY s.bucket_ts
)
SELECT bucket_ts,
       ROUND((a - LAG(a) OVER (ORDER BY bucket_ts)) / 3600.0, 9)
         AS derivative_value
FROM agg
"""


def q_ts_integral_6h(spark, sf_dir):
    out = _ev_bucketize(spark, sf_dir, ["integral(value)"], 21600)
    return out.select(
        "bucket_ts", F.round("integral_value", 4).alias("integral_value")
    )


SQL_TS_INTEGRAL_6H = _spine_sql(21600) + """
SELECT s.bucket_ts AS bucket_ts,
       ROUND(AVG(p.value) * 21600.0, 4) AS integral_value
FROM spine s LEFT JOIN pts p USING (bucket_ts)
GROUP BY s.bucket_ts
"""


def q_ts_diff_1d(spark, sf_dir):
    feat = Feature(metric="avg", field="value", name="avg_value",
                   transform="diff")
    out = _ev_bucketize(spark, sf_dir, [feat], 86400)
    return out.select("bucket_ts", F.round("avg_value", 6).alias("avg_value"))


SQL_TS_DIFF_1D = _spine_sql(86400) + """
, agg AS (
  SELECT s.bucket_ts AS bucket_ts, AVG(p.value) AS a
  FROM spine s LEFT JOIN pts p USING (bucket_ts)
  GROUP BY s.bucket_ts
)
SELECT bucket_ts,
       ROUND(a - LAG(a) OVER (ORDER BY bucket_ts), 6) AS avg_value
FROM agg
"""


def q_ts_mode_1d(spark, sf_dir):
    """Deterministic mode (lowest among the most frequent) of the
    integer-rounded value per day — Spark's mode(col, deterministic)
    vs an explicit count+argmin oracle."""
    df = _events(spark, sf_dir).withColumn(
        "v", F.round("value").cast("long")
    )
    out = bucketize(
        df, [Feature(metric="mode", field="v", name="mode_v")],
        JAN1, JAN31, 86400, ts_col="ts_ns", ts_unit="ns",
    )
    return out.select("bucket_ts", F.col("mode_v").cast("long").alias("mode_v"))


SQL_TS_MODE_1D = _spine_sql(86400) + """
, vals AS (
  SELECT bucket_ts, CAST(ROUND(value) AS BIGINT) AS v FROM pts
),
counts AS (
  SELECT bucket_ts, v, COUNT(*) AS c FROM vals GROUP BY 1, 2
),
ranked AS (
  SELECT bucket_ts, v, c,
         MAX(c) OVER (PARTITION BY bucket_ts) AS mx
  FROM counts
),
m AS (
  SELECT bucket_ts, MIN(v) AS mode_v FROM ranked WHERE c = mx GROUP BY 1
)
SELECT s.bucket_ts AS bucket_ts, m.mode_v AS mode_v
FROM spine s LEFT JOIN m USING (bucket_ts)
"""


def q_ts_hourofday_profile(spark, sf_dir):
    df = _events(spark, sf_dir)
    hod = daytime_col(df, "ts", ts_unit="ns").alias("hod")
    # seasonality encoding (loudml/misc.py:201-212) as a group key
    out = (
        df.withColumn("hod", daytime_col(df, "ts_ns", ts_unit="ns"))
        .groupBy("hod")
        .agg(
            F.round(F.avg("value"), 6).alias("avg_value"),
            F.count("value").cast("double").alias("count_value"),
        )
    )
    _ = hod
    return out


SQL_TS_HOUROFDAY_PROFILE = """
SELECT CAST((epoch_ns(ts) // 3600000000000) % 24 AS INTEGER) AS hod,
       ROUND(AVG(value), 6) AS avg_value,
       CAST(COUNT(value) AS DOUBLE) AS count_value
FROM events
GROUP BY 1
"""


def q_ts_align_measurements_1d(spark, sf_dir):
    ev = _events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click")
    purchases = ev.filter(F.col("event_type") == "purchase")
    feats = [
        Feature(metric="avg", field="value", name="avg_click",
                measurement="clicks"),
        Feature(metric="avg", field="value", name="avg_purchase",
                measurement="purchases"),
    ]
    out = align_features(
        {"clicks": clicks, "purchases": purchases}, feats,
        JAN1, JAN31, 86400, ts_col="ts_ns", ts_unit="ns",
    )
    return out.select(
        "bucket_ts",
        F.round("avg_click", 6).alias("avg_click"),
        F.round("avg_purchase", 6).alias("avg_purchase"),
    )


SQL_TS_ALIGN_MEASUREMENTS_1D = _spine_sql(86400) + """
SELECT s.bucket_ts AS bucket_ts,
       ROUND(AVG(CASE WHEN p.event_type = 'click' THEN p.value END), 6)
         AS avg_click,
       ROUND(AVG(CASE WHEN p.event_type = 'purchase' THEN p.value END), 6)
         AS avg_purchase
FROM spine s LEFT JOIN pts p USING (bucket_ts)
GROUP BY s.bucket_ts
"""


def q_events_top3_users_daily(spark, sf_dir):
    ev = _events(spark, sf_dir)
    day = F.expr(f"(ts_ns div {86400 * NS}L) * 86400L").alias("bucket_ts")
    cnts = ev.groupBy(day, "user_id").agg(F.count("*").alias("cnt"))
    return top_k(
        cnts, 3, ["bucket_ts"], [F.col("cnt"), F.col("user_id").asc()],
    ).select("bucket_ts", "user_id", "cnt", "rank")


SQL_EVENTS_TOP3_USERS_DAILY = f"""
WITH cnts AS (
  SELECT (epoch_ns(ts) // {86400 * NS}) * 86400 AS bucket_ts, user_id,
         COUNT(*) AS cnt
  FROM events GROUP BY 1, 2
)
SELECT bucket_ts, user_id, cnt,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY bucket_ts ORDER BY cnt DESC, user_id ASC
       ) AS INTEGER) AS rank
FROM cnts QUALIFY rank <= 3
"""


def q_tpch_pricing_summary(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    # l_shipdate is TIMESTAMP_NTZ: compare wall-clock against an NTZ
    # literal (timezone-independent, same as DuckDB's naive compare)
    return (
        li.filter(F.expr("l_shipdate < TIMESTAMP_NTZ '1998-09-02 00:00:00'"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double").alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double").alias("sum_base_price"),
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (F.lit(1).cast("decimal(3,2)")
                   - F.col("l_discount").cast("decimal(4,2)"))
            ).cast("double").alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
    )


SQL_TPCH_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
         AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))))
            AS DOUBLE) AS sum_disc_price,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate < TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


JAN22 = JAN1 + 21 * 86400  # train/test boundary for model queries


# perfbench/env.py reads this name: it is the one session-cache registry.
_CACHED_SERIES = session_cache._ENTRIES


def _exact_series(spark, sf_dir, interval, group_by=()):
    """DECIMAL-exact mean series for MODEL INPUT: identical bits in
    both engines with NO rounding.  A rounded double avg is only
    almost portable — engine/merge-order ulps can straddle the 6 dp
    boundary, and a single flipped training value amplifies through
    the fit into many flipped predictions (seen as sf0.1
    predicted-column flips before round 5 switched the ML series to
    mean_exact)."""
    feat = Feature(metric="mean_exact", field="value", name="value")
    return bucketize(
        _events(spark, sf_dir), [feat], JAN1, JAN31, interval,
        ts_col="ts_ns", ts_unit="ns", group_by=list(group_by),
    )


def _hourly_series(spark, sf_dir):
    """Hourly avg(value) over the full month — model input series.

    Cached: the aggregated series is ≤ n_buckets rows (720), but the
    model queries walk it several times (profile fit, fallback stats,
    predict) and each walk would otherwise re-scan the full events
    table.  One session-cache entry serves all the catalog's model
    queries; release_caches() ends the lifecycle."""
    return session_cache.memo_frame(
        spark, "hourly_series",
        lambda: _ev_bucketize(spark, sf_dir, ["avg(value)"], 3600)
        .withColumnRenamed("avg_value", "value"),
        table_path(sf_dir, "events"))


def _scored_series(spark, sf_dir):
    """Train a seasonal-naive profile on days 1-21, score days 22-30.

    The whole pipeline — profile fit (one groupBy), predict (broadcast
    join), scoring (erf column math) — is deterministic and
    SQL-expressible, so it carries a full value-hash oracle."""
    from loudml_spark.ml.models import SeasonalNaiveModel

    series = _hourly_series(spark, sf_dir)
    train = series.filter(F.col("bucket_ts") < JAN22)
    test = series.filter(F.col("bucket_ts") >= JAN22)
    model = SeasonalNaiveModel("catalog_seasonal", bucket_interval=3600)
    scored = model.fit(train).predict(test)
    # round BEFORE thresholding so both engines flag identical buckets
    return scored.withColumn("score", F.round("score", 4))


def q_anomaly_scores_1h(spark, sf_dir):
    scored = _scored_series(spark, sf_dir)
    return scored.select(
        "bucket_ts",
        F.round("observed", 6).alias("observed"),
        F.round("predicted", 6).alias("predicted"),
        "score",
    )


# Abramowitz-Stegun erf mirrored textually from ml/scoring.py so both
# engines evaluate the identical IEEE expression tree.
_SQL_SCORED_SERIES = _spine_sql(3600) + f"""
, series AS (
  SELECT s.bucket_ts AS bucket_ts, AVG(p.value) AS value
  FROM spine s LEFT JOIN pts p USING (bucket_ts)
  GROUP BY s.bucket_ts
),
prof AS (
  SELECT CAST((bucket_ts // 3600) % 24 AS INTEGER) AS hod,
         AVG(value) AS mu,
         CASE WHEN STDDEV_POP(value) > 0 THEN STDDEV_POP(value)
              ELSE 1.0 END AS sigma
  FROM series WHERE bucket_ts < {JAN22}
  GROUP BY 1
),
j AS (
  SELECT t.bucket_ts, t.value AS observed, pr.mu AS predicted,
         pr.mu - 3.0 * pr.sigma AS lower, pr.mu + 3.0 * pr.sigma AS upper
  FROM series t
  JOIN prof pr ON CAST((t.bucket_ts // 3600) % 24 AS INTEGER) = pr.hod
  WHERE t.bucket_ts >= {JAN22}
),
z AS (
  SELECT bucket_ts, observed, predicted,
         ABS(observed - (lower + upper) / 2.0)
           / (CASE WHEN (upper - (lower + upper) / 2.0) / 3.0 = 0 THEN 1.0
                   ELSE (upper - (lower + upper) / 2.0) / 3.0 END)
           / SQRT(2.0) AS x
  FROM j
),
tt AS (SELECT *, 1.0 / (1.0 + 0.3275911 * x) AS t FROM z),
scored AS (
  SELECT bucket_ts, observed, predicted,
         ROUND(100.0 * GREATEST(0.0, LEAST(1.0,
           2.0 * (0.5 * (1.0 + (1.0 - (0.254829592 * t
             + (-0.284496736) * t * t
             + 1.421413741 * t * t * t
             + (-1.453152027) * t * t * t * t
             + 1.061405429 * t * t * t * t * t) * EXP(-x * x)))) - 1.0
         )), 4) AS score
  FROM tt
)
"""

SQL_ANOMALY_SCORES_1H = _SQL_SCORED_SERIES + """
SELECT bucket_ts, ROUND(observed, 6) AS observed,
       ROUND(predicted, 6) AS predicted, score
FROM scored
"""


def q_anomaly_detect_1h(spark, sf_dir):
    """Hysteresis state machine over the scored series (thresholds
    99.7 / 68, the reference defaults, donut.py:652-658)."""
    from loudml_spark.ml.detect import detect_anomalies

    detected = detect_anomalies(
        _scored_series(spark, sf_dir), min_threshold=68.0,
        max_threshold=99.7,
    )
    return detected.select("bucket_ts", "is_anomaly", "episode_id")


SQL_ANOMALY_DETECT_1H = _SQL_SCORED_SERIES + """
, m AS (
  SELECT bucket_ts, score,
         CASE WHEN score >= 99.7 THEN 1
              WHEN score < 68.0 THEN 0 END AS mark
  FROM scored
),
c AS (
  SELECT *,
         COALESCE(LAST_VALUE(mark IGNORE NULLS) OVER (
           ORDER BY bucket_ts
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS open_now,
         COALESCE(LAST_VALUE(mark IGNORE NULLS) OVER (
           ORDER BY bucket_ts
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS was_open
  FROM m
),
d AS (
  SELECT *,
         CASE WHEN COALESCE(mark, -1) = 1 AND was_open = 0
              THEN 1 ELSE 0 END AS is_start
  FROM c
)
SELECT bucket_ts,
       COALESCE(mark, -1) = 1 AS is_anomaly,
       CASE WHEN open_now = 1
            THEN SUM(is_start) OVER (ORDER BY bucket_ts
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) END
         AS episode_id
FROM d
"""


def q_keyed_anomaly_detect_6h(spark, sf_dir):
    """Per-series fan-out: one model per event_type trained/scored/
    detected in a single plan — keyed spine bucketize → per-key
    gaussian profile (broadcast join) → erf scoring → keyed hysteresis
    sweep.  The reference cannot do this at all (single-series models,
    loudml/donut.py:543-545)."""
    from loudml_spark.ml.detect import detect_anomalies
    from loudml_spark.ml.scoring import score_col

    series = bucketize(
        _events(spark, sf_dir), ["avg(value)"], JAN1, JAN31, 21600,
        ts_col="ts_ns", ts_unit="ns", group_by=["event_type"],
    ).withColumnRenamed("avg_value", "value")
    train = series.filter(F.col("bucket_ts") < JAN22)
    prof = train.groupBy("event_type").agg(
        F.avg("value").alias("mu"),
        F.when(F.stddev_pop("value") > 0, F.stddev_pop("value"))
        .otherwise(F.lit(1.0)).alias("sigma"),
    )
    test = series.filter(F.col("bucket_ts") >= JAN22)
    joined = test.join(F.broadcast(prof), "event_type")
    mu, sigma = F.col("mu"), F.col("sigma")
    scored = joined.select(
        "event_type", "bucket_ts",
        F.col("value").alias("observed"),
        mu.alias("predicted"),
        (mu - 3.0 * sigma).alias("lower"),
        (mu + 3.0 * sigma).alias("upper"),
    )
    scored = scored.withColumn(
        "score",
        F.round(score_col(
            F.col("observed"), F.col("predicted"),
            F.col("lower"), F.col("upper"),
        ), 4),
    )
    detected = detect_anomalies(
        scored, min_threshold=68.0, max_threshold=99.7,
        key_cols=["event_type"],
    )
    return detected.select(
        "event_type", "bucket_ts", "score", "is_anomaly", "episode_id"
    )


SQL_KEYED_ANOMALY_DETECT_6H = f"""
WITH pts AS (
  SELECT event_type,
         (epoch_ns(ts) // {21600 * NS}) * 21600 AS bucket_ts, value
  FROM events
  WHERE epoch_ns(ts) >= {JAN1 * NS} AND epoch_ns(ts) < {JAN31 * NS}
),
keys AS (SELECT DISTINCT event_type FROM events),
spine AS (
  SELECT k.event_type, r.range AS bucket_ts
  FROM keys k, range({JAN1}, {JAN31}, 21600) r
),
series AS (
  SELECT s.event_type, s.bucket_ts, AVG(p.value) AS value
  FROM spine s LEFT JOIN pts p
    ON p.event_type = s.event_type AND p.bucket_ts = s.bucket_ts
  GROUP BY s.event_type, s.bucket_ts
),
prof AS (
  SELECT event_type, AVG(value) AS mu,
         CASE WHEN STDDEV_POP(value) > 0 THEN STDDEV_POP(value)
              ELSE 1.0 END AS sigma
  FROM series WHERE bucket_ts < {JAN22}
  GROUP BY event_type
),
j AS (
  SELECT t.event_type, t.bucket_ts, t.value AS observed, pr.mu AS predicted,
         pr.mu - 3.0 * pr.sigma AS lower, pr.mu + 3.0 * pr.sigma AS upper
  FROM series t JOIN prof pr ON t.event_type = pr.event_type
  WHERE t.bucket_ts >= {JAN22}
),
z AS (
  SELECT event_type, bucket_ts, observed, predicted,
         ABS(observed - (lower + upper) / 2.0)
           / (CASE WHEN (upper - (lower + upper) / 2.0) / 3.0 = 0 THEN 1.0
                   ELSE (upper - (lower + upper) / 2.0) / 3.0 END)
           / SQRT(2.0) AS x
  FROM j
),
tt AS (SELECT *, 1.0 / (1.0 + 0.3275911 * x) AS t FROM z),
scored AS (
  SELECT event_type, bucket_ts,
         ROUND(100.0 * GREATEST(0.0, LEAST(1.0,
           2.0 * (0.5 * (1.0 + (1.0 - (0.254829592 * t
             + (-0.284496736) * t * t
             + 1.421413741 * t * t * t
             + (-1.453152027) * t * t * t * t
             + 1.061405429 * t * t * t * t * t) * EXP(-x * x)))) - 1.0
         )), 4) AS score
  FROM tt
),
m AS (
  SELECT event_type, bucket_ts, score,
         CASE WHEN score >= 99.7 THEN 1
              WHEN score < 68.0 THEN 0 END AS mark
  FROM scored
),
c AS (
  SELECT *,
         COALESCE(LAST_VALUE(mark IGNORE NULLS) OVER (
           PARTITION BY event_type ORDER BY bucket_ts
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS open_now,
         COALESCE(LAST_VALUE(mark IGNORE NULLS) OVER (
           PARTITION BY event_type ORDER BY bucket_ts
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS was_open
  FROM m
),
d AS (
  SELECT *,
         CASE WHEN COALESCE(mark, -1) = 1 AND was_open = 0
              THEN 1 ELSE 0 END AS is_start
  FROM c
)
SELECT event_type, bucket_ts, score,
       COALESCE(mark, -1) = 1 AS is_anomaly,
       CASE WHEN open_now = 1
            THEN SUM(is_start) OVER (PARTITION BY event_type
              ORDER BY bucket_ts
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) END
         AS episode_id
FROM d
"""


AR_FLEET_SPAN = 28


def q_ar_fleet_predict_6h(spark, sf_dir):
    """Learned-model fleet: one AR(28) ridge model per event_type,
    trained in parallel (applyInPandas closed-form solve) and scored
    with vectorized window dot-products over a span of true history
    (every output bucket has a full window — the history-extension
    convention of the predict API).

    Fully VALUE-ORACLED since round 5 (the IVF-centroid pattern,
    similarity.py): the bucket series is the DECIMAL-exact mean — identical
    bits in both engines with no rounding;
    the oracle generator recomputes the same series via DuckDB,
    retrains through the SHARED closed-form numpy fit
    (regression._fit_arrays) and prediction mirror
    (regression.ar_predict_values), and inlines the resulting
    predicted/lower/upper as SQL literals — the final SQL recomputes
    observed and the erf score from data, so the value-hash covers
    the series computation, the per-key fit fan-out, the window
    scoring and the score math."""
    from loudml_spark.ml.regression import fit_many, predict_many
    from loudml_spark.ml.scoring import score_col

    span = AR_FLEET_SPAN
    series = _exact_series(spark, sf_dir, 21600, group_by=["event_type"])
    train = series.filter(F.col("bucket_ts") < JAN22)
    models = fit_many(train, ["event_type"], span=span)
    scored = predict_many(
        series.filter(F.col("bucket_ts") >= JAN22 - span * 21600),
        models, ["event_type"], span=span,
    ).filter(F.col("bucket_ts") >= JAN22)
    return scored.select(
        "event_type", "bucket_ts",
        F.col("value").alias("observed"),
        F.round("predicted", 6).alias("predicted"),
        F.round(score_col(
            F.col("value"), F.col("predicted"),
            F.col("lower"), F.col("upper"),
        ), 4).alias("score"),
    )


def q_donut_predict_1h(spark, sf_dir):
    """Donut VAE (numpy, arXiv 1802.03903) trained on days 1-21 of the
    hourly series, scoring days 22-30 with the last window point
    masked (MCMC imputation + MC integration).  Deterministic under
    fixed seeds; quality is unit-gated (tests/test_donut_model.py).

    VALUE-ORACLED since round 5: the series is the DECIMAL-exact mean
    (bit-identical across engines, no rounding) and the oracle replays
    training/inference through the shared numpy cores
    (models.donut_fit_values / donut_predict_values), inlining the
    band as literals while the SQL recomputes observed and the erf
    score from parquet (catalog_oracle_ml.py)."""
    from loudml_spark.ml.models import DonutModel

    series = _exact_series(spark, sf_dir, 3600)
    train = series.filter(F.col("bucket_ts") < JAN22)
    # include span-1 history so the first test bucket has a full window
    span = 24
    test = series.filter(
        F.col("bucket_ts") >= JAN22 - (span - 1) * 3600
    )
    model = DonutModel(
        "catalog_donut", span=span, latent_dim=3, intermediate_dim=34,
        epochs=40, bucket_interval=3600,
    ).fit(train)
    scored = model.predict(test).filter(F.col("bucket_ts") >= JAN22)
    return scored.select(
        "bucket_ts",
        "observed",
        F.round("predicted", 4).alias("predicted"),
        F.round("score", 4).alias("score"),
    )


def q_forecast_donut_48h(spark, sf_dir):
    """Donut VAE roll-forward forecast (donut.py:1333-1475): train on
    the full month, then forecast 48 hourly buckets past the end by
    iteratively MCMC-imputing the next bucket and rolling the window,
    band from MC spread scaled to a 95% interval (norm ppf).
    Tracking gate in tests/test_donut_model.py mirrors the
    reference's ±1.5 head/tail check (tests/test_donut.py:408-424).

    VALUE-ORACLED since round 5 via the shared-core replay
    (catalog_oracle_ml.sql_forecast_donut_48h): the oracle retrains
    on the DuckDB-recomputed exact-mean series with
    models.donut_fit_values and rolls the forecast forward with
    models.donut_forecast_values; like the fleet forecast, the
    output has no observed column, so the SQL carries the band as
    literals — the hash pins the Spark path to the single-process
    replay."""
    from loudml_spark.api import forecast_model
    from loudml_spark.ml.models import DonutModel

    series = _exact_series(spark, sf_dir, 3600)
    model = DonutModel(
        "catalog_donut_fc", span=24, latent_dim=3, intermediate_dim=34,
        epochs=40, bucket_interval=3600,
    ).fit(series)
    out = forecast_model(
        model, spark, JAN31, JAN31 + 48 * 3600, percent_interval=0.95,
    )
    return out.select(
        "bucket_ts",
        F.round("predicted", 4).alias("predicted"),
        F.round("lower", 4).alias("lower"),
        F.round("upper", 4).alias("upper"),
    )


def q_forecast_donut_fleet_6h(spark, sf_dir):
    """Per-key VAE roll-forward forecast INSIDE executors
    (applyInPandas): one model per event_type trained on its own month
    of 6h buckets, each forecasting 8 buckets (2 days) past the end —
    the fleet generalization of the reference's single-model
    `_forecast` (donut.py:1333-1475).  Tracking + determinism gates
    in tests/test_donut_fleet.py.

    VALUE-ORACLED since round 5 via the shared-group-function replay
    (catalog_oracle_ml.py): the oracle retrains each key's VAE with
    donut_fleet.donut_forecast_group on the DuckDB-recomputed
    exact-mean series and inlines the roll-forward band as literals over a
    SQL-generated future spine.  Forecast output has no observed
    column, so unlike the predict oracles nothing downstream of the
    literals is recomputed from data — the hash still pins Spark's
    distributed fleet orchestration to the single-process replay."""
    from loudml_spark.ml.donut_fleet import donut_forecast_many

    series = _exact_series(spark, sf_dir, 21600, group_by=["event_type"])
    out = donut_forecast_many(
        series, ["event_type"], horizon=8, span=28, epochs=30,
        bucket_interval=21600, percent_interval=0.95,
    )
    return out.select(
        "event_type", "bucket_ts",
        F.round("predicted", 4).alias("predicted"),
        F.round("lower", 4).alias("lower"),
        F.round("upper", 4).alias("upper"),
    )


def q_donut_fleet_6h(spark, sf_dir):
    """VAE fleet: one Donut model per event_type trained INSIDE
    executors (applyInPandas), scored with the shared erf column math.
    Deterministic per key (seeds derived from the key).

    VALUE-ORACLED since round 5: the series is the DECIMAL-exact mean (identical
    bits in both engines, no rounding), and the oracle
    generator replays the SAME per-key group function
    (donut_fleet.donut_fit_predict_group — module-level precisely so
    the oracle can import it) on the DuckDB-recomputed series,
    inlining predicted/lower/upper as literals while the SQL
    recomputes observed and the erf score from data
    (catalog_oracle_ml.py)."""
    from loudml_spark.ml.donut_fleet import donut_fit_predict_many
    from loudml_spark.ml.scoring import score_col

    series = _exact_series(spark, sf_dir, 21600, group_by=["event_type"])
    out = donut_fit_predict_many(
        series, ["event_type"], span=28, epochs=30, train_before=JAN22,
    )
    return out.select(
        "event_type", "bucket_ts",
        "observed",
        F.round("predicted", 4).alias("predicted"),
        F.round(score_col(
            F.col("observed"), F.col("predicted"),
            F.col("lower"), F.col("upper"),
        ), 4).alias("score"),
    )


def q_tpch_q3_shipping(spark, sf_dir):
    """Q3-style: filtered 3-way join + decimal-exact revenue +
    deterministic top-10.

    Broadcast policy: orders and customer are FACT-sized (¼ and 1/10
    of lineitem at any TPC-H scale) so they get NO broadcast hint —
    AQE picks broadcast at small SF and shuffled-hash/sort-merge at
    scale.  Forcing `F.broadcast` on a fact table OOMs executors at
    100×."""
    from loudml_spark.operators.ranking import top_k

    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.expr("o_orderdate < TIMESTAMP_NTZ '1998-03-15 00:00:00'")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.expr("l_shipdate > TIMESTAMP_NTZ '1998-03-15 00:00:00'")
    )
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
    )
    agg = joined.groupBy("l_orderkey", "o_orderdate", "o_orderpriority").agg(
        F.sum(
            F.col("l_extendedprice").cast("decimal(18,2)")
            * (F.lit(1).cast("decimal(3,2)")
               - F.col("l_discount").cast("decimal(4,2)"))
        ).cast("double").alias("revenue")
    )
    return top_k(
        agg, 10, [], [F.col("revenue"), F.col("l_orderkey").asc()]
    ).select("l_orderkey", "o_orderdate", "o_orderpriority",
             "revenue", "rank")


SQL_TPCH_Q3_SHIPPING = """
WITH agg AS (
  SELECT l_orderkey, o_orderdate, o_orderpriority,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
              * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))))
              AS DOUBLE) AS revenue
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  WHERE c_mktsegment = 'BUILDING'
    AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
    AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
  GROUP BY l_orderkey, o_orderdate, o_orderpriority
)
SELECT l_orderkey, o_orderdate, o_orderpriority, revenue,
       CAST(ROW_NUMBER() OVER (ORDER BY revenue DESC, l_orderkey ASC)
            AS INTEGER) AS rank
FROM agg QUALIFY rank <= 10
"""


def q_tpch_q5_local_supplier(spark, sf_dir):
    """Q5-style: 6-way join (lineitem↔orders↔customer↔supplier↔nation↔
    region) with the local-supplier condition, decimal-exact revenue
    per nation.  Only the FIXED-size dims (nation 25 rows / region 5
    rows) are broadcast; supplier is 10k×SF — it scales with the data
    like orders/customer, so all three join unhinted and AQE decides
    (broadcast at small SF, shuffle join at scale; a forced hint on
    an SF-scaling table OOMs executors at 100×)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.expr("o_orderdate >= TIMESTAMP_NTZ '1996-01-01 00:00:00' AND "
               "o_orderdate < TIMESTAMP_NTZ '1998-01-01 00:00:00'")
    )
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "ASIA"
    )
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp,
              (li.l_suppkey == supp.s_suppkey)
              & (cust.c_nationkey == supp.s_nationkey))
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return joined.groupBy("n_name").agg(
        F.sum(
            F.col("l_extendedprice").cast("decimal(18,2)")
            * (F.lit(1).cast("decimal(3,2)")
               - F.col("l_discount").cast("decimal(4,2)"))
        ).cast("double").alias("revenue"),
        F.count("*").alias("n_lineitems"),
    )


SQL_TPCH_Q5_LOCAL_SUPPLIER = """
SELECT n_name,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
            * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))))
            AS DOUBLE) AS revenue,
       COUNT(*) AS n_lineitems
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n_name
"""


def q_tpch_q7_volume_shipping(spark, sf_dir):
    """Q7-style: bidirectional nation-pair trade volume by ship year.
    Only the fixed-size nation dims (25 rows, ×2 aliased) broadcast;
    supplier is 10k×SF and orders/customer fact-sized, so all three
    join unhinted and AQE picks the strategy (broadcast at small SF,
    shuffled-hash/sort-merge at scale — a forced hint on an
    SF-scaling table OOMs executors at 100×).  The pair condition is
    a disjunction over both directions; one shuffle for the
    (supp_nation, cust_nation, year) rollup."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.expr("l_shipdate >= TIMESTAMP_NTZ '1996-01-01 00:00:00' AND "
               "l_shipdate < TIMESTAMP_NTZ '1998-01-01 00:00:00'")
    )
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"),
        F.col("n_name").alias("supp_nation"),
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"),
        F.col("n_name").alias("cust_nation"),
    )
    pair = (
        ((F.col("supp_nation") == "NATION_1")
         & (F.col("cust_nation") == "NATION_2"))
        | ((F.col("supp_nation") == "NATION_2")
           & (F.col("cust_nation") == "NATION_1"))
    )
    joined = (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
    )
    return joined.groupBy(
        "supp_nation", "cust_nation",
        F.year("l_shipdate").alias("l_year"),
    ).agg(
        F.sum(
            F.col("l_extendedprice").cast("decimal(18,2)")
            * (F.lit(1).cast("decimal(3,2)")
               - F.col("l_discount").cast("decimal(4,2)"))
        ).cast("double").alias("revenue"),
        F.count("*").alias("n_lineitems"),
    )


SQL_TPCH_Q7_VOLUME_SHIPPING = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INTEGER) AS l_year,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
            * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))))
            AS DOUBLE) AS revenue,
       COUNT(*) AS n_lineitems
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY 1, 2, 3
"""


def q_tpch_q8_market_share(spark, sf_dir):
    """Q8-style national market share: NATION_1's fraction of PROMO-
    part revenue sold into ASIA per order year.  8-way join — only
    the fixed-cardinality dims (nation ×2 aliased, region) broadcast;
    part/supplier/orders/customer are SF-scaling and join unhinted
    (AQE decides: broadcast at small SF, shuffle join at 100× — the
    q3/q5/q7 policy the gate test pins).  Revenue partials ride
    DECIMAL; the share is ONE double division of two decimal-exact
    sums, so it is bit-deterministic across engines with no
    rounding."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_type") == "PROMO")
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.expr("o_orderdate >= TIMESTAMP_NTZ '1996-01-01 00:00:00' AND "
               "o_orderdate < TIMESTAMP_NTZ '1998-01-01 00:00:00'"))
    cust = load_table(spark, sf_dir, "customer")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"),
        F.col("n_regionkey").alias("n1_region"))
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"),
        F.col("n_name").alias("supp_nation"))
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "ASIA")
    vol = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1).cast("decimal(3,2)")
           - F.col("l_discount").cast("decimal(4,2)"))
    )
    joined = (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), cust.c_nationkey == F.col("n1_key"))
        .join(F.broadcast(region),
              F.col("n1_region") == region.r_regionkey)
        .join(F.broadcast(n2), supp.s_nationkey == F.col("n2_key"))
    )
    per_year = joined.groupBy(
        F.year("o_orderdate").alias("o_year")
    ).agg(
        F.sum(F.when(F.col("supp_nation") == "NATION_1", vol)
              .otherwise(F.lit(0).cast("decimal(18,2)"))).alias("num"),
        F.sum(vol).alias("den"),
        F.count("*").alias("n_lineitems"),
    )
    return per_year.select(
        "o_year",
        (F.col("num").cast("double") / F.col("den").cast("double"))
        .alias("mkt_share"),
        "n_lineitems",
    )


SQL_TPCH_Q8_MARKET_SHARE = """
WITH base AS (
  SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
         CAST(l_extendedprice AS DECIMAL(18,2))
           * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))
           AS volume,
         n2.n_name AS supp_nation
  FROM lineitem
  JOIN part     ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region   ON n1.n_regionkey = r_regionkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'ASIA' AND p_type = 'PROMO'
    AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
)
SELECT o_year,
       CAST(SUM(CASE WHEN supp_nation = 'NATION_1'
                     THEN volume ELSE CAST(0 AS DECIMAL(18,2)) END)
            AS DOUBLE)
         / CAST(SUM(volume) AS DOUBLE) AS mkt_share,
       COUNT(*) AS n_lineitems
FROM base
GROUP BY o_year
"""


def q_tpch_q10_returned_items(spark, sf_dir):
    """Q10-style: top-20 customers by revenue lost to returned items
    in one quarter.  Fact-sized customer/orders/lineitem join plain
    (AQE picks broadcast at small SF, shuffle join at 100× — the
    no-forced-broadcast policy of q3/q5/q7); the 25-row nation dim
    broadcasts.  DECIMAL-exact revenue; top-20 is
    TakeOrderedAndProject (per-task heaps), with (revenue DESC,
    c_custkey) a deterministic total order."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.expr("o_orderdate >= TIMESTAMP_NTZ '1996-10-01 00:00:00' AND "
               "o_orderdate < TIMESTAMP_NTZ '1997-01-01 00:00:00'")
    )
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    rev = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1).cast("decimal(3,2)")
           - F.col("l_discount").cast("decimal(4,2)"))
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


SQL_TPCH_Q10_RETURNED_ITEMS = """
SELECT c_custkey, c_name, c_acctbal, n_name,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
            * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))))
            AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY 1, 2, 3, 4
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


def q_events_by_segment(spark, sf_dir):
    """Stream-table enrichment: events joined to the customer table
    and rolled up by market segment.  customer scales with SF (a fact
    in TPC-H terms) so no broadcast hint — AQE broadcasts it at small
    SF and falls back to a shuffle join at scale."""
    ev = _events(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer")
    return (
        ev.join(cust, ev.user_id == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double").alias("sum_value"),
        )
    )


SQL_EVENTS_BY_SEGMENT = """
SELECT c_mktsegment,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment
"""


def _asof_inputs(spark, sf_dir):
    """Left = raw events keyed by customer; right = per-(customer, day)
    order rollup with exact-int64 ns timestamps on both sides.  The
    right side is pre-aggregated to one row per (key, ts) so the
    as-of match is deterministic in every engine."""
    ev = _events(spark, sf_dir).select(
        "event_id",
        F.col("ts_ns").alias("ts"),
        F.col("user_id").alias("custkey"),
        "value",
    )
    orders = load_table(spark, sf_dir, "orders")
    right = (
        orders.groupBy(
            F.col("o_custkey").alias("custkey"),
            # o_orderdate loads as TIMESTAMP_NTZ; the convert_timezone
            # round-trip reads the wall clock AS UTC under ANY session
            # timezone (a bare NTZ→TIMESTAMP cast shifts by the session
            # offset), matching DuckDB epoch_ns without relying on a
            # session-wide UTC pin.
            F.expr(
                "unix_micros(cast(convert_timezone('UTC', "
                "current_timezone(), o_orderdate) as timestamp)) * 1000L"
            ).alias("ts"),
        )
        .agg(
            F.max("o_totalprice").alias("last_price"),
            F.count("*").cast("double").alias("n_orders"),
        )
    )
    return ev, right


_ASOF_SELECT = (
    "event_id", "custkey", "ts", "value", "order_ts",
    "last_price", "n_orders",
)


def q_asof_enrich_events_orders(spark, sf_dir):
    """Point-in-time enrichment: each event picks up the most recent
    order activity of the same customer (backward inclusive).  One
    shuffle on the key (union + window forward-fill), no range
    theta-join — see operators/asof.py.  Oracle: DuckDB native
    ``ASOF LEFT JOIN``."""
    from loudml_spark.operators.asof import asof_join

    ev, right = _asof_inputs(spark, sf_dir)
    out = asof_join(ev, right, on="ts", by=["custkey"])
    return out.withColumnRenamed("__asof_ts", "order_ts").select(
        *_ASOF_SELECT)


ASOF_TOL_NS = 7 * 86400 * NS  # 7-day staleness cutoff


def q_asof_enrich_tolerance_7d(spark, sf_dir):
    """Same as-of enrichment but with a 7-day tolerance: matches older
    than the cutoff are nulled (payload AND matched ts together —
    the whole right row is attached or dropped atomically)."""
    from loudml_spark.operators.asof import asof_join

    ev, right = _asof_inputs(spark, sf_dir)
    out = asof_join(ev, right, on="ts", by=["custkey"],
                    tolerance=ASOF_TOL_NS)
    return out.withColumnRenamed("__asof_ts", "order_ts").select(
        *_ASOF_SELECT)


_SQL_ASOF_BASE = """
WITH ro AS (
  SELECT o_custkey AS custkey, epoch_ns(o_orderdate) AS ts,
         MAX(o_totalprice) AS last_price,
         CAST(COUNT(*) AS DOUBLE) AS n_orders
  FROM orders GROUP BY 1, 2
),
le AS (
  SELECT event_id, epoch_ns(ts) AS ts, user_id AS custkey, value
  FROM events
),
j AS (
  SELECT le.event_id, le.custkey, le.ts, le.value,
         ro.ts AS order_ts, ro.last_price, ro.n_orders
  FROM le ASOF LEFT JOIN ro
    ON le.custkey = ro.custkey AND le.ts >= ro.ts
)
"""

SQL_ASOF_ENRICH_EVENTS_ORDERS = _SQL_ASOF_BASE + """
SELECT event_id, custkey, ts, value, order_ts, last_price, n_orders
FROM j
"""

SQL_ASOF_ENRICH_TOLERANCE_7D = _SQL_ASOF_BASE + f"""
SELECT event_id, custkey, ts, value,
       CASE WHEN ts - order_ts > {ASOF_TOL_NS} THEN NULL
            ELSE order_ts END AS order_ts,
       CASE WHEN ts - order_ts > {ASOF_TOL_NS} THEN NULL
            ELSE last_price END AS last_price,
       CASE WHEN ts - order_ts > {ASOF_TOL_NS} THEN NULL
            ELSE n_orders END AS n_orders
FROM j
"""


# ---------------------------------------------------------------- registry

# oracle generators for the learned-model queries (lazy: they import
# this module back inside their functions, never at import time)
from loudml_spark import catalog_oracle_ml as _oracle_ml  # noqa: E402

QUERIES: dict[str, dict] = {
    "ts_avg_1h": {"fn": q_ts_avg_1h, "oracle": SQL_TS_AVG_1H},
    "ts_multi_metric_6h": {
        "fn": q_ts_multi_metric_6h, "oracle": SQL_TS_MULTI_METRIC_6H},
    "ts_sum_1d": {"fn": q_ts_sum_1d, "oracle": SQL_TS_SUM_1D},
    "ts_count_by_type_6h": {
        "fn": q_ts_count_by_type_6h, "oracle": SQL_TS_COUNT_BY_TYPE_6H},
    "ts_match_all_12h": {
        "fn": q_ts_match_all_12h, "oracle": SQL_TS_MATCH_ALL_12H},
    "ts_stddev_var_1d": {
        "fn": q_ts_stddev_var_1d, "oracle": SQL_TS_STDDEV_VAR_1D},
    "ts_percentiles_1d": {
        "fn": q_ts_percentiles_1d, "oracle": SQL_TS_PERCENTILES_1D},
    "ts_fill_previous_1h": {
        "fn": q_ts_fill_previous_1h, "oracle": SQL_TS_FILL_PREVIOUS_1H},
    "ts_fill_default_1h": {
        "fn": q_ts_fill_default_1h, "oracle": SQL_TS_FILL_DEFAULT_1H},
    "ts_derivative_1h": {
        "fn": q_ts_derivative_1h, "oracle": SQL_TS_DERIVATIVE_1H},
    "ts_integral_6h": {"fn": q_ts_integral_6h, "oracle": SQL_TS_INTEGRAL_6H},
    "ts_diff_1d": {"fn": q_ts_diff_1d, "oracle": SQL_TS_DIFF_1D},
    "ts_mode_1d": {"fn": q_ts_mode_1d, "oracle": SQL_TS_MODE_1D},
    "ts_hourofday_profile": {
        "fn": q_ts_hourofday_profile, "oracle": SQL_TS_HOUROFDAY_PROFILE},
    "ts_align_measurements_1d": {
        "fn": q_ts_align_measurements_1d,
        "oracle": SQL_TS_ALIGN_MEASUREMENTS_1D},
    "events_top3_users_daily": {
        "fn": q_events_top3_users_daily,
        "oracle": SQL_EVENTS_TOP3_USERS_DAILY},
    "tpch_pricing_summary": {
        "fn": q_tpch_pricing_summary, "oracle": SQL_TPCH_PRICING_SUMMARY},
    "anomaly_scores_1h": {
        "fn": q_anomaly_scores_1h, "oracle": SQL_ANOMALY_SCORES_1H},
    "anomaly_detect_1h": {
        "fn": q_anomaly_detect_1h, "oracle": SQL_ANOMALY_DETECT_1H},
    "keyed_anomaly_detect_6h": {
        "fn": q_keyed_anomaly_detect_6h,
        "oracle": SQL_KEYED_ANOMALY_DETECT_6H},
    "tpch_q3_shipping": {
        "fn": q_tpch_q3_shipping, "oracle": SQL_TPCH_Q3_SHIPPING},
    "tpch_q5_local_supplier": {
        "fn": q_tpch_q5_local_supplier,
        "oracle": SQL_TPCH_Q5_LOCAL_SUPPLIER},
    "tpch_q8_market_share": {
        "fn": q_tpch_q8_market_share,
        "oracle": SQL_TPCH_Q8_MARKET_SHARE,
    },
    "tpch_q7_volume_shipping": {
        "fn": q_tpch_q7_volume_shipping,
        "oracle": SQL_TPCH_Q7_VOLUME_SHIPPING},
    "tpch_q10_returned_items": {
        "fn": q_tpch_q10_returned_items,
        "oracle": SQL_TPCH_Q10_RETURNED_ITEMS},
    "events_by_segment": {
        "fn": q_events_by_segment, "oracle": SQL_EVENTS_BY_SEGMENT},
    "asof_enrich_events_orders": {
        "fn": q_asof_enrich_events_orders,
        "oracle": SQL_ASOF_ENRICH_EVENTS_ORDERS},
    "asof_enrich_tolerance_7d": {
        "fn": q_asof_enrich_tolerance_7d,
        "oracle": SQL_ASOF_ENRICH_TOLERANCE_7D},
    "ar_fleet_predict_6h": {
        "fn": q_ar_fleet_predict_6h,
        "oracle_fn": _oracle_ml.sql_ar_fleet_predict_6h},
    "donut_predict_1h": {
        "fn": q_donut_predict_1h,
        "oracle_fn": _oracle_ml.sql_donut_predict_1h},
    "forecast_donut_48h": {
        "fn": q_forecast_donut_48h,
        "oracle_fn": _oracle_ml.sql_forecast_donut_48h},
    "forecast_donut_fleet_6h": {
        "fn": q_forecast_donut_fleet_6h,
        "oracle_fn": _oracle_ml.sql_forecast_donut_fleet_6h},
    "donut_fleet_6h": {
        "fn": q_donut_fleet_6h,
        "oracle_fn": _oracle_ml.sql_donut_fleet_6h},
}

# training-data pipeline operators (dedup / similarity / text)
from loudml_spark.catalog_pipeline import PIPELINE_QUERIES  # noqa: E402

# TPC-H completion: the 15 query patterns beyond q1/q3/q4/q5/q7/q8/q10
from loudml_spark.catalog_tpch import TPCH_QUERIES  # noqa: E402

# relational/time-series extensions (sessionize / range join / rollup /
# corpus vocabulary + TF-IDF)
from loudml_spark.catalog_ext import EXT_QUERIES  # noqa: E402


def _merge_disjoint(base, *parts):
    """dict.update is last-write-wins, so a name collision between
    catalog modules would silently shadow a query AND its oracle while
    every downstream gate stayed green (it would only ever see the
    survivor).  Fail loudly at import time instead."""
    for name, extra in parts:
        dup = base.keys() & extra.keys()
        if dup:
            raise RuntimeError(
                "catalog registry collision from %s: %s" % (name, sorted(dup)))
        base.update(extra)


_merge_disjoint(
    QUERIES,
    ("catalog_pipeline", PIPELINE_QUERIES),
    ("catalog_tpch", TPCH_QUERIES),
    ("catalog_ext", EXT_QUERIES),
)


def queries():
    return {name: spec["fn"] for name, spec in QUERIES.items()}


def oracle_sql(sf_dir=None):
    """``sf_dir`` is threaded to data-derived oracles (IVF centroids
    train from the same parquet the Spark side reads) — callers
    comparing at a non-default scale factor MUST pass it, or the
    centroids silently mismatch.  Defaults to the driver's sf0.01."""
    out = {}
    for name, spec in QUERIES.items():
        sql = spec.get("oracle")
        if sql is None and spec.get("oracle_fn"):
            sql = spec["oracle_fn"](sf_dir)
        if sql:
            out[name] = sql
    return out
