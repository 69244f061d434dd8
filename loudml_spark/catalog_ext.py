"""Catalog: relational/time-series extensions beyond the reference —
sessionization, binned range join, hierarchical rollup, corpus
vocabulary and TF-IDF.

Same oracle conventions as catalog.py: integer-ns time arithmetic,
DECIMAL-routed sums, ROUND on both sides of any float the two engines
would otherwise sum in different orders, identical aliases.
"""

from __future__ import annotations

import shutil
import tempfile
from contextlib import contextmanager

from pyspark.sql import functions as F

from loudml_spark import session_cache
from loudml_spark.sources.tables import load_table, table_path

NS = 10**9

SESSION_GAP_NS = 1800 * NS         # 30 min
RJ_WIN_NS = 2 * 3600 * NS          # 2 h maintenance windows
RJ_EVERY = 199                     # every 199th event opens a window
ROLLUP_LEVELS = (3600, 21600, 86400)   # 1h → 6h → 1d
VOCAB_TOP_K = 100
TFIDF_MAX_DOC = 100                # bound the per-doc term output
TFIDF_TOP_TERMS = 5


@contextmanager
def _small_shuffle(spark):
    """Run a streaming drain with ``spark.sql.shuffle.partitions`` at
    2, restored on exit: one small staged input spread over dozens of
    state-store partitions is pure overhead (a state dir and a commit
    per partition per batch)."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def _stage(spark, sf_dir, table, tag, *writes):
    """Temp dirs staged once per session, one per ``write(dir)``, as a
    session-cache entry on the input ``table`` (released by rmtree).
    The staged files are a pure function of the input parquet:
    re-writing them per call (bench reps, repeated reads) would only
    re-measure the disk, not the operator."""
    def build():
        dirs = tuple(tempfile.mkdtemp(prefix=f"lms_{tag}_") for _ in writes)
        try:
            for d, write in zip(dirs, writes):
                write(d)
        except BaseException:
            for d in dirs:
                shutil.rmtree(d, ignore_errors=True)
            raise
        return dirs
    return session_cache.memo(spark, tag, build, table_path(sf_dir, table))


def _median_split(df, col):
    """A staging writer: ``df`` as two files split at the median of
    ``col`` (two ts-range files, so a drain runs two micro-batches)."""
    def write(tmp):
        cut = df.agg(F.expr(f"percentile({col}, 0.5)")).first()[0]
        for part in (df.filter(F.col(col) <= cut),
                     df.filter(F.col(col) > cut)):
            part.coalesce(1).write.mode("append").parquet(tmp)
    return write


def _day_ts():
    """Epoch-day (UTC) label from int64-ns `ts_ns` — the shared
    negative-safe integer floor (operators/bucketize.py semantics)."""
    step = 86400 * NS
    return F.expr(
        f"((`ts_ns` - pmod(`ts_ns`, {step}L)) div {step}L) * 86400"
    ).cast("long").alias("day_ts")


def _events_ts(spark, sf_dir):
    return load_table(spark, sf_dir, "events").select(
        "event_id",
        F.col("ts_ns").alias("ts"),
        "user_id",
        "value",
    )


# ------------------------------------------------------------ sessionize


def q_sessionize_users_30m(spark, sf_dir):
    """Gap-based sessionization of the event stream per user (30-min
    inactivity closes a session), collapsed to per-session stats.
    One shuffle on user_id + two window passes — see
    operators/sessionize.py.  Oracle: the same lag/running-sum
    construction in DuckDB window SQL."""
    from loudml_spark.operators.sessionize import session_stats

    ev = _events_ts(spark, sf_dir).withColumn(
        "value", F.col("value").cast("decimal(18,2)")
    )
    out = session_stats(
        ev, gap=SESSION_GAP_NS, ts_col="ts", by=["user_id"],
        value_col="value",
    )
    return out.select(
        "user_id",
        "session_id",
        "session_start",
        "session_end",
        "duration",
        "n_events",
        F.col("sum_value").cast("double").alias("sum_value"),
    )


SQL_SESSIONIZE_USERS_30M = f"""
WITH t AS (
  SELECT user_id, epoch_ns(ts) AS ts, value,
         CASE WHEN lag(epoch_ns(ts)) OVER w IS NULL
                   OR epoch_ns(ts) - lag(epoch_ns(ts)) OVER w
                      > {SESSION_GAP_NS}
              THEN 1 ELSE 0 END AS is_start
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts))
),
s AS (
  SELECT user_id, ts, value,
         SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS session_id
  FROM t
)
SELECT user_id,
       CAST(session_id AS BIGINT) AS session_id,
       MIN(ts) AS session_start,
       MAX(ts) AS session_end,
       MAX(ts) - MIN(ts) AS duration,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM s
GROUP BY user_id, session_id
"""


def q_sessionize_native_30m(spark, sf_dir):
    """Same sessionization via Spark's NATIVE session_window — the
    streaming-compatible formulation (identical expression runs under
    readStream + watermark).  Boundary semantics match the lag-based
    operator (an event exactly `gap` after its predecessor merges —
    tests/test_relational_ext.py pins this), so the oracle is the
    same `diff > gap` construction in µs."""
    from loudml_spark.operators.sessionize import session_stats_native

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", F.col("value").cast("decimal(18,2)").alias("value")
    )
    out = session_stats_native(
        ev, gap_seconds=1800, ts_col="ts", by=["user_id"],
        value_col="value",
    )
    return out.select(
        "user_id", "session_start", "session_end", "n_events",
        F.col("sum_value").cast("double").alias("sum_value"),
    )


def q_streaming_sessionize_30m(spark, sf_dir):
    """Gap-based sessionization executed THROUGH Structured Streaming
    (file source drained one file per trigger → session_window state
    → memory sink, the q_streaming_detect_1h harness pattern): the
    state store opens/merges sessions ACROSS micro-batches — the
    staged files are ts-range splits consumed in arbitrary order, so
    cross-batch merging is exercised for real — and the final
    complete-mode output must equal the batch plan bit-for-bit.
    Shares the batch query's oracle (SQL_SESSIONIZE_NATIVE_30M)."""
    from loudml_spark.streaming.job import (
        drain_stream_to_df,
        stream_sessionize,
    )

    # 10% user slice: sessions are per-user, so the parity statement
    # is identical while the per-call staging write stays small.
    # The loader's ts is TIMESTAMP_NTZ: read the wall clock AS UTC
    # under any session timezone (a bare NTZ→TIMESTAMP cast shifts
    # by the session offset — the exact trap session_stats_native
    # guards against).
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id") % 10 == 0
    ).select(
        "user_id",
        F.expr("cast(convert_timezone('UTC', current_timezone(), ts) "
               "as timestamp)").alias("ts"),
        F.col("value").cast("decimal(18,2)").alias("value"),
    )
    tmp = tempfile.mkdtemp(prefix="lms_sess_stream_")
    try:
        with _small_shuffle(spark):
            # 2 ts-range files → 2 micro-batches: exercises cross-batch
            # session merging while paying complete-mode re-output (the
            # whole session table re-materializes per trigger) only twice
            ev.repartitionByRange(2, "ts").write.mode("overwrite").parquet(tmp)
            stream = (
                spark.readStream.schema(
                    "user_id bigint, ts timestamp, value decimal(18,2)")
                .option("maxFilesPerTrigger", 1).parquet(tmp)
            )
            out = stream_sessionize(
                stream, gap_seconds=1800, ts_col="ts", by=["user_id"],
                value_col="value",
            )
            return drain_stream_to_df(
                out,
                ["user_id", "session_start", "session_end", "n_events",
                 F.col("sum_value").cast("double").alias("sum_value")],
                output_mode="complete", prefix="stream_sess",
            )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


US = 10**6

SQL_SESSIONIZE_NATIVE_30M = f"""
WITH t AS (
  SELECT user_id, epoch_us(ts) AS ts, value,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                   OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                      > {1800 * US}
              THEN 1 ELSE 0 END AS is_start
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts))
),
s AS (
  SELECT user_id, ts, value,
         SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS session_id
  FROM t
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) AS session_end,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM s
GROUP BY user_id, session_id
"""

# the streaming query's 10%-user slice of the same construction
SQL_STREAMING_SESSIONIZE_30M = SQL_SESSIONIZE_NATIVE_30M.replace(
    "FROM events\n", "FROM events WHERE user_id % 10 = 0\n")



# ------------------------------------------------------------ range join


def q_range_join_windows_2h(spark, sf_dir):
    """Point-in-interval join: events against 2-hour "maintenance
    windows" (opened by every {RJ_EVERY}th event), aggregated per
    window.  Binned equi-join — no nested-loop range join; see
    operators/rangejoin.py.  Oracle: DuckDB theta-join."""
    from loudml_spark.operators.rangejoin import range_join

    ev = _events_ts(spark, sf_dir).select("event_id", "ts", "value")
    wins = ev.filter(F.col("event_id") % RJ_EVERY == 0).select(
        F.col("event_id").alias("window_id"),
        F.col("ts").alias("win_start"),
        (F.col("ts") + F.lit(RJ_WIN_NS)).alias("win_end"),
    )
    j = range_join(
        ev, wins, on="ts", start_col="win_start", end_col="win_end",
        bin_width=RJ_WIN_NS,
    )
    return j.groupBy("window_id", "win_start").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("double").alias("sum_value"),
    )


SQL_RANGE_JOIN_WINDOWS_2H = f"""
WITH ev AS (
  SELECT event_id, epoch_ns(ts) AS ts, value FROM events
),
w AS (
  SELECT event_id AS window_id, ts AS win_start,
         ts + {RJ_WIN_NS} AS win_end
  FROM ev WHERE event_id % {RJ_EVERY} = 0
)
SELECT w.window_id AS window_id, w.win_start AS win_start,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(ev.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM ev JOIN w ON ev.ts >= w.win_start AND ev.ts < w.win_end
GROUP BY 1, 2
"""


def q_ts_moving_avg_6x1h(spark, sf_dir):
    """Trailing-window smoothing (PromQL avg_over_time): per 1h
    bucket, the mean over the last 6 buckets' events.  Windowed sums
    of DECIMAL partials (exact in both engines — window'd double sums
    would drift), one final IEEE division.  Rows exist only for
    non-empty buckets (compression semantics, like the rollup; the
    spine variant is bucketize's job).  One shuffle for the bucket
    aggregation; the window pass runs on ≤ n_buckets rows — the
    deliberate single-partition window documented safe in SCALE.md."""
    from pyspark.sql import Window

    from loudml_spark.operators.rollup import rollup_partials

    ev = _events_ts(spark, sf_dir)
    base = rollup_partials(
        ev, value_col="value", interval=3600, ts_col="ts", ts_scale=NS)
    w = Window.orderBy("bucket_ts").rowsBetween(-5, 0)
    return base.select(
        "bucket_ts",
        (F.sum("sum_dec").over(w).cast("double")
         / F.sum("n").over(w)).alias("avg_6h"),
    )


SQL_TS_MOVING_AVG_6X1H = f"""
WITH b AS (
  SELECT (epoch_ns(ts) // {3600 * NS}) * 3600 AS bucket_ts,
         COUNT(value) AS n,
         SUM(CAST(value AS DECIMAL(18,2))) AS sum_dec
  FROM events
  GROUP BY 1
)
SELECT bucket_ts,
       CAST(SUM(sum_dec) OVER w AS DOUBLE) / SUM(n) OVER w AS avg_6h
FROM b
WINDOW w AS (ORDER BY bucket_ts ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
"""


def q_histogram_values_by_type(spark, sf_dir):
    """Value-distribution histogram per event_type (bin width 10):
    one map-side-combined shuffle, |types|·|bins| output rows
    regardless of input size — see operators/histogram.py.  Oracle:
    the same floor arithmetic in SQL."""
    from loudml_spark.operators.histogram import histogram

    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    return histogram(ev, value_col="value", bin_width=10.0,
                     by=["event_type"])


SQL_HISTOGRAM_VALUES_BY_TYPE = """
SELECT event_type, FLOOR(value / 10.0) * 10.0 AS bin, COUNT(*) AS n
FROM events
WHERE value IS NOT NULL
GROUP BY 1, 2
"""


def q_distinct_users_daily(spark, sf_dir):
    """Exact per-day distinct-user counts: Spark plans COUNT(DISTINCT)
    as a two-stage expand/partial-agg (the dedup shuffle carries
    (day, user) pairs, already reduced map-side — not raw events).
    For approximate-at-scale use approx_count_distinct; this query is
    the exact anchor."""
    ev = load_table(spark, sf_dir, "events")
    day = _day_ts()
    return (
        ev.select(day, "user_id", "event_type")
        .groupBy("day_ts")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.countDistinct("event_type").alias("n_types"),
            F.count("*").alias("n_events"),
        )
    )


SQL_DISTINCT_USERS_DAILY = f"""
SELECT (epoch_ns(ts) // {86400 * NS}) * 86400 AS day_ts,
       COUNT(DISTINCT user_id) AS n_users,
       COUNT(DISTINCT event_type) AS n_types,
       COUNT(*) AS n_events
FROM events
GROUP BY 1
"""


def q_approx_distinct_users_daily(spark, sf_dir):
    """Sketch anchor: HyperLogLog distinct counts with a verified
    error bound.  At 100 TB a user reaches for
    ``approx_count_distinct`` (bounded-memory mergeable sketch, pure
    map-side partials) before exact COUNT(DISTINCT) (which shuffles
    every distinct pair); this anchor runs BOTH and emits a boolean
    proving the sketch landed within 5% of truth.  Spark's HLL++ and
    DuckDB's HLL produce different raw estimates, so the estimates
    themselves cannot hash-match — the exact count and the bound
    verdict can, and do.  See SCALE.md "exact vs sketch" policy."""
    ev = load_table(spark, sf_dir, "events")
    day = _day_ts()
    exact = F.countDistinct("user_id")
    approx = F.approx_count_distinct("user_id", 0.02)
    return (
        ev.select(day, "user_id")
        .groupBy("day_ts")
        .agg(
            exact.alias("n_users"),
            (F.abs(approx - exact) <= 0.05 * exact).alias("approx_ok"),
        )
    )


SQL_APPROX_DISTINCT_USERS_DAILY = f"""
SELECT (epoch_ns(ts) // {86400 * NS}) * 86400 AS day_ts,
       COUNT(DISTINCT user_id) AS n_users,
       ABS(approx_count_distinct(user_id) - COUNT(DISTINCT user_id))
         <= 0.05 * COUNT(DISTINCT user_id) AS approx_ok
FROM events
GROUP BY 1
"""


def q_approx_percentiles_1d(spark, sf_dir):
    """Sketch anchor: approximate per-day value percentiles with a
    verified error bound.  ``percentile_approx`` (Greenwald-Khanna /
    KLL-style, bounded memory, mergeable) is the 100 TB path; exact
    ``percentile`` sorts every group.  Engines' sketches differ, so
    the query emits the EXACT p50/p95 plus a boolean verdict — and
    the bound is a RANK window (approx p50 within the exact p45–p55
    band, p95 within p90–max), because rank accuracy is what these
    sketches actually guarantee: a VALUE-relative bound fails
    legitimately on small heavy-tailed groups where one sample step
    near the tail exceeds 10% (seen at sf0.001), and which days
    fail differs per engine, breaking the hash."""
    ev = load_table(spark, sf_dir, "events")
    day = _day_ts()
    p50e = F.expr("percentile(value, 0.5)")
    p95e = F.expr("percentile(value, 0.95)")
    p50a = F.expr("percentile_approx(value, 0.5, 10000)")
    p95a = F.expr("percentile_approx(value, 0.95, 10000)")
    ok = (
        (p50a >= F.expr("percentile(value, 0.45)"))
        & (p50a <= F.expr("percentile(value, 0.55)"))
        & (p95a >= F.expr("percentile(value, 0.90)"))
        & (p95a <= F.max("value"))
    )
    return (
        ev.select(day, "value")
        .groupBy("day_ts")
        .agg(
            F.round(p50e, 6).alias("p50"),
            F.round(p95e, 6).alias("p95"),
            ok.alias("approx_ok"),
        )
    )


SQL_APPROX_PERCENTILES_1D = f"""
SELECT (epoch_ns(ts) // {86400 * NS}) * 86400 AS day_ts,
       ROUND(quantile_cont(value, 0.5), 6) AS p50,
       ROUND(quantile_cont(value, 0.95), 6) AS p95,
       (approx_quantile(value, 0.5) >= quantile_cont(value, 0.45)
        AND approx_quantile(value, 0.5) <= quantile_cont(value, 0.55)
        AND approx_quantile(value, 0.95) >= quantile_cont(value, 0.90)
        AND approx_quantile(value, 0.95) <= MAX(value)) AS approx_ok
FROM events
GROUP BY 1
"""


def q_token_divergence_en_rest(spark, sf_dir):
    """Token-distribution drift between corpus slices: per-token
    Jensen-Shannon contributions between the 'en' documents and the
    rest — the text analogue of the numeric PSI query.  Both sides
    reduce map-side to |vocab| counts; only vocab-sized aggregates
    join.  Top 50 movers by (rounded) contribution; p/q stay exact
    rationals, only the libm ln rounds (9 dp)."""
    from loudml_spark.pipeline.corpus import token_divergence

    docs = load_table(spark, sf_dir, "documents")
    out = token_divergence(
        docs.filter("lang = 'en'"), docs.filter("lang != 'en'"))
    return (
        out.orderBy(F.desc("js_contrib"), F.asc("token"))
        .limit(50)
    )


SQL_TOKEN_DIVERGENCE_EN_REST = """
WITH ta AS (
  SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS token
  FROM documents WHERE lang = 'en'
),
tb AS (
  SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS token
  FROM documents WHERE lang != 'en'
),
ca AS (SELECT token, COUNT(*) AS c FROM ta GROUP BY 1),
cb AS (SELECT token, COUNT(*) AS c FROM tb GROUP BY 1),
pa AS (SELECT token, c / (SELECT SUM(c) FROM ca) AS p FROM ca),
pb AS (SELECT token, c / (SELECT SUM(c) FROM cb) AS q FROM cb),
j AS (
  SELECT COALESCE(pa.token, pb.token) AS token,
         COALESCE(p, 0.0) AS p, COALESCE(q, 0.0) AS q
  FROM pa FULL OUTER JOIN pb ON pa.token = pb.token
)
SELECT token, p, q,
       ROUND(0.5 * (
         (CASE WHEN p > 0 THEN p * ln(p / ((p + q) / 2.0)) ELSE 0 END)
         + (CASE WHEN q > 0 THEN q * ln(q / ((p + q) / 2.0)) ELSE 0 END)
       ), 9) AS js_contrib
FROM j
ORDER BY js_contrib DESC, token ASC
LIMIT 50
"""


def q_rollup_grouping_sets(spark, sf_dir):
    """SQL ROLLUP (grouping sets): per-(segment, event_type) sums
    with segment subtotals and a grand total in ONE pass — Spark's
    Expand operator replicates each row once per grouping set before
    a single aggregation (no per-level rescan).  NULL marks the
    rolled-up level, same convention both engines.

    No broadcast hint on `customer`: it is a fact-sized table that
    grows with scale factor (150k x SF rows in TPC-H), and forcing
    F.broadcast on it OOMs executors at 100x — the same policy as
    tpch_q3/q5/q7 (catalog.py).  AQE picks broadcast at small SF and
    switches to sort-merge when the dim outgrows the threshold."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "value")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment")
    j = ev.join(cust, "user_id").withColumn(
        "value_dec", F.col("value").cast("decimal(18,2)"))
    return (
        j.rollup("c_mktsegment")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value_dec").cast("double").alias("sum_value"),
        )
    )


SQL_ROLLUP_GROUPING_SETS = """
SELECT c_mktsegment,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY ROLLUP (c_mktsegment)
"""


EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def q_pivot_types_daily(spark, sf_dir):
    """Pivot: one row per day, one column per event type (explicit
    value list, so the plan is a single conditional-aggregation pass
    — no second job to discover pivot values, which at 100 TB would
    be a full extra scan).  Oracle: CASE-based conditional sums."""
    ev = load_table(spark, sf_dir, "events")
    day = _day_ts()
    return (
        ev.select(day, "event_type",
                  F.col("value").cast("decimal(18,2)").alias("v"))
        .groupBy("day_ts")
        .pivot("event_type", list(EVENT_TYPES))
        .agg(F.sum("v").cast("double"))
    )


SQL_PIVOT_TYPES_DAILY = f"""
SELECT (epoch_ns(ts) // {86400 * NS}) * 86400 AS day_ts,
  {", ".join(
      f"CAST(SUM(CASE WHEN event_type = '{t}' "
      f"THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS {t}"
      for t in EVENT_TYPES)}
FROM events
GROUP BY 1
"""


def q_tpch_q4_priority_semi(spark, sf_dir):
    """TPC-H Q4 shape (order-priority checking): LEFT SEMI join —
    each order counted once if ANY line item shipped after the order
    date (EXISTS semantics; a plain join would double-count
    multi-line orders).  Semi joins stop probing on first match and
    never materialize the right payload.  Date columns adapted to
    this testdata (no l_commitdate/l_receiptdate).  Reference shape:
    TPC-H spec Q4."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.expr("o_orderdate >= TIMESTAMP_NTZ '1996-01-01 00:00:00' AND "
               "o_orderdate < TIMESTAMP_NTZ '1996-04-01 00:00:00'"))
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate")
    semi = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > orders.o_orderdate),
        "left_semi",
    )
    return semi.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"))


SQL_TPCH_Q4_PRIORITY_SEMI = """
SELECT o_orderpriority, COUNT(*) AS n_orders
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate)
GROUP BY 1
"""


def q_orders_no_late_lines_anti(spark, sf_dir):
    """NOT EXISTS via LEFT ANTI join: orders in the quarter with NO
    line item shipped after the order date — the complement of the
    semi-join query (their n_orders sum to the quarter's order count,
    pinned by the shared oracle data).  Anti joins are the scalable
    NOT IN: no right payload, null-safe, one hash probe per row."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.expr("o_orderdate >= TIMESTAMP_NTZ '1996-01-01 00:00:00' AND "
               "o_orderdate < TIMESTAMP_NTZ '1996-04-01 00:00:00'"))
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate")
    anti = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > orders.o_orderdate),
        "left_anti",
    )
    return anti.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"))


SQL_ORDERS_NO_LATE_LINES_ANTI = """
SELECT o_orderpriority, COUNT(*) AS n_orders
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
  AND NOT EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate)
GROUP BY 1
"""




UNPIVOT_MAX_KEY = 200


def q_unpivot_lineitem_measures(spark, sf_dir):
    """Unpivot (melt): wide per-line measures → long (measure, value)
    rows, the normalization step feeding generic per-metric pipelines.
    Spark's native unpivot is an Expand (one pass, rows × n_measures,
    no join); bounded here by order key for a stable row count.
    Oracle: UNION ALL of per-measure projections (portable SQL)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") < UNPIVOT_MAX_KEY)
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "measure",
        "value",
    )


SQL_UNPIVOT_LINEITEM_MEASURES = f"""
WITH src AS (
  SELECT * FROM lineitem WHERE l_orderkey < {UNPIVOT_MAX_KEY}
)
SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure,
       l_quantity AS value FROM src
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
FROM src
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM src
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM src
"""


PSI_MID = 1704067200 + 15 * 86400   # 2024-01-16T00:00:00Z


def q_psi_value_drift_by_type(spark, sf_dir):
    """Dataset-drift score: PSI of the value distribution per
    event_type between the first and second half of the month.  Two
    histogram aggregations + one tiny full-outer join on (type, bin)
    — cost is |types|·|bins| however large the corpus.  ln is
    computed on identical doubles in both engines; ROUND(6) guards
    the last ulp."""
    from loudml_spark.operators.histogram import histogram, psi

    ev = load_table(spark, sf_dir, "events").select(
        "ts_ns", "event_type", "value")
    first = ev.filter(F.col("ts_ns") < PSI_MID * NS)
    second = ev.filter(F.col("ts_ns") >= PSI_MID * NS)
    h_e = histogram(first, value_col="value", bin_width=10.0,
                    by=["event_type"])
    h_a = histogram(second, value_col="value", bin_width=10.0,
                    by=["event_type"])
    out = psi(h_e, h_a, by=["event_type"])
    return out.select(
        "event_type", F.round("psi", 6).alias("psi"))


SQL_PSI_VALUE_DRIFT_BY_TYPE = f"""
WITH he AS (
  SELECT event_type, FLOOR(value / 10.0) * 10.0 AS bin, COUNT(*) AS ne
  FROM events
  WHERE value IS NOT NULL AND epoch_ns(ts) < {PSI_MID * NS}
  GROUP BY 1, 2
),
ha AS (
  SELECT event_type, FLOOR(value / 10.0) * 10.0 AS bin, COUNT(*) AS na
  FROM events
  WHERE value IS NOT NULL AND epoch_ns(ts) >= {PSI_MID * NS}
  GROUP BY 1, 2
),
te AS (SELECT event_type, SUM(ne) AS t FROM he GROUP BY 1),
ta AS (SELECT event_type, SUM(na) AS t FROM ha GROUP BY 1),
j AS (
  SELECT COALESCE(he.event_type, ha.event_type) AS event_type,
         COALESCE(he.bin, ha.bin) AS bin, he.ne, ha.na
  FROM he FULL OUTER JOIN ha
    ON he.event_type = ha.event_type AND he.bin = ha.bin
)
SELECT j.event_type AS event_type,
       ROUND(SUM(
         (CASE WHEN ta.t IS NULL THEN 1e-6
               ELSE GREATEST(COALESCE(j.na, 0) / CAST(ta.t AS DOUBLE),
                             1e-6) END
          - CASE WHEN te.t IS NULL THEN 1e-6
                 ELSE GREATEST(COALESCE(j.ne, 0) / CAST(te.t AS DOUBLE),
                               1e-6) END)
         * LN(CASE WHEN ta.t IS NULL THEN 1e-6
                   ELSE GREATEST(COALESCE(j.na, 0) / CAST(ta.t AS DOUBLE),
                                 1e-6) END
              / CASE WHEN te.t IS NULL THEN 1e-6
                     ELSE GREATEST(COALESCE(j.ne, 0) / CAST(te.t AS DOUBLE),
                                   1e-6) END)
       ), 6) AS psi
FROM j
LEFT JOIN te ON j.event_type = te.event_type
LEFT JOIN ta ON j.event_type = ta.event_type
GROUP BY 1
"""


def q_salted_agg_users(spark, sf_dir):
    """Skew-safe two-phase aggregation (salted partials → re-agg) per
    user, bit-identical to the plain groupBy — the declarative
    fallback for aggregation skew AQE cannot rewrite.  Oracle: the
    UNSALTED GROUP BY, proving the salt only changes shuffle layout."""
    from loudml_spark.operators.skew import salted_agg

    ev = _events_ts(spark, sf_dir).withColumn(
        "value_dec", F.col("value").cast("decimal(18,2)")
    )
    out = salted_agg(
        ev, keys=["user_id"], salt_on="event_id", n_salt=8,
        sums=["value_dec"], mins=["value"], maxs=["value"],
    )
    return out.select(
        "user_id", "n",
        F.col("sum_value_dec").cast("double").alias("sum_value"),
        "min_value", "max_value",
    )


SQL_SALTED_AGG_USERS = """
SELECT user_id,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
       MIN(value) AS min_value,
       MAX(value) AS max_value
FROM events
GROUP BY user_id
"""


def q_salted_join_segments(spark, sf_dir):
    """Skew-safe shuffle join: the (big) events side is salted, the
    (dim) customer side replicated n_salt times, each hot user spread
    over n_salt reducers.  Oracle: the plain join — identical rows."""
    from loudml_spark.operators.skew import salted_join

    ev = _events_ts(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    j = salted_join(ev, cust, ["user_id"], salt_on="event_id", n_salt=8)
    return j.groupBy("c_mktsegment", "user_id").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("double").alias("sum_value"),
    )


SQL_SALTED_JOIN_SEGMENTS = """
SELECT c_mktsegment, user_id,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY 1, 2
"""


# ------------------------------------------------------------ rollup


def q_rollup_1h_6h_1d(spark, sf_dir):
    """Hierarchical rollup 1h → 6h → 1d where each coarser level
    re-aggregates the previous level's partials (sum-of-sums /
    min-of-mins…), the continuous-aggregate pattern — raw events are
    scanned once and the 6h/1d levels run over ~tiny inputs (Spark
    reuses the level-0 exchange across the union's branches).
    Oracle: three direct aggregations of the raw table, proving the
    cascade is exactly equal to recomputation (sums ride DECIMAL, so
    re-association is exact)."""
    from loudml_spark.operators.rollup import rollup_cascade

    ev = _events_ts(spark, sf_dir)
    out = rollup_cascade(
        ev, value_col="value", intervals=list(ROLLUP_LEVELS),
        ts_col="ts", ts_scale=NS,
    )
    return out.select(
        "interval_s", "bucket_ts", "n", "sum_value",
        "min_value", "max_value",
        F.round("avg_value", 6).alias("avg_value"),
    )


def _sql_rollup_level(interval: int) -> str:
    return f"""
SELECT CAST({interval} AS BIGINT) AS interval_s,
       (epoch_ns(ts) // {interval * NS}) * {interval} AS bucket_ts,
       COUNT(value) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
       MIN(value) AS min_value,
       MAX(value) AS max_value,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
             / COUNT(value), 6) AS avg_value
FROM events
GROUP BY 1, 2
"""


SQL_ROLLUP_1H_6H_1D = " UNION ALL ".join(
    _sql_rollup_level(iv) for iv in ROLLUP_LEVELS
)


# ------------------------------------------------------------ corpus


def q_vocab_top100(spark, sf_dir):
    """Corpus vocabulary over `documents`: total term frequency and
    document frequency per token, deterministic top-{VOCAB_TOP_K}
    (tf desc, token asc).  Map-side partial aggregation bounds the
    shuffle at |vocab|·|tasks| rows; top-k is TakeOrderedAndProject
    (per-task heaps, no global sort) — see pipeline/corpus.py."""
    from loudml_spark.pipeline.corpus import vocabulary

    docs = load_table(spark, sf_dir, "documents")
    return vocabulary(docs, top_k=VOCAB_TOP_K)


SQL_VOCAB_TOP100 = f"""
WITH tok AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(text), '[a-z]+')) AS token
  FROM documents
),
per_doc AS (
  SELECT doc_id, token, COUNT(*) AS tf_doc
  FROM tok GROUP BY doc_id, token
)
SELECT token, CAST(SUM(tf_doc) AS BIGINT) AS tf, COUNT(*) AS df
FROM per_doc
GROUP BY token
ORDER BY tf DESC, token ASC
LIMIT {VOCAB_TOP_K}
"""


ZIPF_TOP_K = 1000


def q_zipf_fit_vocab(spark, sf_dir):
    """Zipf's-law fit over the documents vocabulary (top-1000 tokens):
    OLS of ln(tf) on ln(rank) — slope ≈ −1 for healthy natural text;
    collapsed/steepened slopes flag boilerplate floods or vocabulary
    collapse.  The rank window runs on the vocab-bounded top-k frame
    only.  ln() values quantize at 6 dp into DECIMAL before the
    moment sums, so the fit hashes identically across engines.  See
    pipeline/corpus.py zipf_fit."""
    from loudml_spark.pipeline.corpus import zipf_fit

    docs = load_table(spark, sf_dir, "documents")
    return zipf_fit(docs, top_k=ZIPF_TOP_K)


SQL_ZIPF_FIT_VOCAB = f"""
WITH tok AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(text), '[a-z]+')) AS token
  FROM documents
),
vocab AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS tf FROM tok GROUP BY 1
  ORDER BY tf DESC, token ASC LIMIT {ZIPF_TOP_K}
),
ranked AS (
  SELECT tf,
         row_number() OVER (ORDER BY tf DESC, token ASC) AS rank
  FROM vocab
),
xy AS (
  SELECT CAST(ROUND(ln(rank), 6) AS DECIMAL(18,6)) AS x,
         CAST(ROUND(ln(tf), 6) AS DECIMAL(18,6)) AS y
  FROM ranked
),
m AS (
  SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
         SUM(x*x) AS sxx, SUM(x*y) AS sxy, SUM(y*y) AS syy
  FROM xy
),
d AS (
  SELECT CAST(n AS BIGINT) AS n, CAST(n AS DOUBLE) AS nd,
         CAST(sx AS DOUBLE) AS sx, CAST(sy AS DOUBLE) AS sy,
         CAST(sxx AS DOUBLE) AS sxx, CAST(sxy AS DOUBLE) AS sxy,
         CAST(syy AS DOUBLE) AS syy
  FROM m
)
SELECT n,
  ROUND((nd*sxy - sx*sy) / NULLIF(nd*sxx - sx*sx, 0), 6) + 0.0
    AS slope,
  ROUND((sy - ((nd*sxy - sx*sy) / NULLIF(nd*sxx - sx*sx, 0)) * sx)
        / NULLIF(nd, 0), 6) + 0.0 AS intercept,
  ROUND((nd*sxy - sx*sy) * (nd*sxy - sx*sy)
        / NULLIF((nd*sxx - sx*sx) * (nd*syy - sy*sy), 0), 6) + 0.0
    AS r2
FROM d
"""


BPE_TOP_K = 50


def q_bpe_pairs_docs(spark, sf_dir):
    """BPE-trainer pair statistics over `documents`: adjacent
    character-pair frequencies, weighted by word frequency — the top
    row is the next BPE merge.  Occurrences reduce to the vocab-sized
    word-frequency table BEFORE the pair explode, so the pair stage
    scales with |vocab|, not corpus tokens; top-k lowers to
    TakeOrderedAndProject.  See pipeline/corpus.py bpe_pair_counts."""
    from loudml_spark.pipeline.corpus import bpe_pair_counts

    docs = load_table(spark, sf_dir, "documents")
    return bpe_pair_counts(docs, top_k=BPE_TOP_K)


SQL_BPE_PAIRS_DOCS = f"""
WITH tok AS (
  SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
  FROM documents
),
wf AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY 1),
pr AS (
  SELECT substring(w, CAST(i AS INTEGER), 2) AS pair, c
  FROM wf, LATERAL unnest(generate_series(1, length(w) - 1)) AS t(i)
  WHERE length(w) >= 2
)
SELECT pair, CAST(SUM(c) AS BIGINT) AS n
FROM pr GROUP BY pair
ORDER BY n DESC, pair ASC
LIMIT {BPE_TOP_K}
"""


def q_inverted_index_docs(spark, sf_dir):
    """Posting lists over `documents` (min_df=2): token → sorted
    doc-id array + document frequency.  Two map-side-combined
    shuffles; output row count is |vocab|, posting length bounded by
    |docs| — see pipeline/corpus.py.  The catalog wrapper posexplodes
    the posting array to scalar (token, df, k, doc_id) rows so every
    output column canonicalizes in a pandas frame (driver compare).
    Oracle: DuckDB list aggregation over the same tokenization,
    unnested with ordinals."""
    from loudml_spark.pipeline.corpus import inverted_index

    docs = load_table(spark, sf_dir, "documents")
    idx = inverted_index(docs, min_df=2)
    return idx.select(
        "token", "df", F.posexplode("postings").alias("k", "doc_id"))


SQL_INVERTED_INDEX_DOCS = """
WITH tok AS (
  SELECT DISTINCT doc_id,
         unnest(regexp_extract_all(lower(text), '[a-z]+')) AS token
  FROM documents
),
idx AS (
  SELECT token, COUNT(*) AS df,
         list_sort(list(doc_id)) AS postings
  FROM tok
  GROUP BY token
  HAVING COUNT(*) >= 2
)
SELECT token, df, CAST(u.k AS INTEGER) AS k, u.v AS doc_id
FROM (
  SELECT token, df,
         unnest(list_transform(range(len(postings)),
                i -> {'k': i, 'v': postings[i + 1]})) AS u
  FROM idx
) t
"""


def q_tfidf_top5_per_doc(spark, sf_dir):
    """Smoothed TF-IDF (sklearn formula) for the top
    {TFIDF_TOP_TERMS} terms of each document with
    doc_id < {TFIDF_MAX_DOC} (bounded output).  Term ranking is by
    integer (tf desc, token asc) so the cut is engine-deterministic;
    the float tfidf itself is ROUNDed on both sides."""
    from pyspark.sql import Window

    from loudml_spark.pipeline.corpus import tf_idf

    docs = load_table(spark, sf_dir, "documents")
    scored = tf_idf(docs).filter(F.col("doc_id") < TFIDF_MAX_DOC)
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tf"), F.asc("token"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TFIDF_TOP_TERMS)
        .select(
            "doc_id", "token", "tf", "doc_len", "df",
            F.round("tfidf", 6).alias("tfidf"), "rank",
        )
    )


SQL_TFIDF_TOP5_PER_DOC = f"""
WITH tok AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(text), '[a-z]+')) AS token
  FROM documents
),
per_doc AS (
  SELECT doc_id, token, COUNT(*) AS tf
  FROM tok GROUP BY doc_id, token
),
lens AS (
  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS doc_len
  FROM per_doc GROUP BY doc_id
),
dfreq AS (
  SELECT token, COUNT(*) AS df FROM per_doc GROUP BY token
),
n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
scored AS (
  SELECT p.doc_id, p.token, p.tf, l.doc_len, d.df,
         (CAST(p.tf AS DOUBLE) / l.doc_len)
         * (ln((1.0 + n.n_docs) / (1.0 + d.df)) + 1.0) AS tfidf
  FROM per_doc p
  JOIN lens l USING (doc_id)
  JOIN dfreq d USING (token)
  CROSS JOIN n
  WHERE p.doc_id < {TFIDF_MAX_DOC}
)
SELECT doc_id, token, tf, doc_len, df, ROUND(tfidf, 6) AS tfidf,
       CAST(row_number() OVER (PARTITION BY doc_id
                               ORDER BY tf DESC, token ASC)
            AS INTEGER) AS rank
FROM scored
QUALIFY rank <= {TFIDF_TOP_TERMS}
"""


BM25_TERMS = ("spark", "window", "merge", "hash")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP_K = 25


def q_bm25_top25_docs(spark, sf_dir):
    """Okapi BM25 retrieval (pipeline/corpus.py bm25_scores) for the
    literal query {BM25_TERMS}: Lucene-style non-negative idf, k1=1.2
    b=0.75, top-{BM25_TOP_K} by (score desc, doc_id asc).  The tf/df
    legs filter to the 4 query terms before aggregating; doc lengths
    ride one map-side-combined shuffle; N and the DECIMAL-exact avgdl
    inline as literals (no 1-row constant join).  Per-term scores
    round at 6 dp and sum as DECIMAL so the total is
    addition-order-independent — both engines rank identical
    doubles."""
    from loudml_spark.pipeline.corpus import bm25_scores

    docs = load_table(spark, sf_dir, "documents")
    return bm25_scores(
        docs, BM25_TERMS, k1=BM25_K1, b=BM25_B, top_k=BM25_TOP_K)


_BM25_IN = ", ".join(f"'{t}'" for t in BM25_TERMS)

SQL_BM25_TOP25_DOCS = f"""
WITH tok AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(text), '[a-z]+')) AS token
  FROM documents
),
per_doc AS (
  SELECT doc_id, token, COUNT(*) AS tf
  FROM tok GROUP BY doc_id, token
),
lens AS (
  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS doc_len
  FROM per_doc GROUP BY doc_id
),
n AS (
  SELECT COUNT(*) AS n_docs,
         CAST(SUM(CAST(doc_len AS DECIMAL(30,6))) AS DOUBLE)
         / COUNT(*) AS avgdl
  FROM lens
),
qt AS (
  SELECT * FROM per_doc WHERE token IN ({_BM25_IN})
),
dfreq AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM qt GROUP BY token
),
per_term AS (
  SELECT q.doc_id,
         ROUND(
           ln(1.0 + (n.n_docs - d.df + 0.5) / (d.df + 0.5))
           * (q.tf * {BM25_K1 + 1.0})
           / (q.tf + {BM25_K1} * (
                {1.0 - BM25_B} + {BM25_B} * l.doc_len / n.avgdl)),
           6) AS s
  FROM qt q
  JOIN dfreq d USING (token)
  JOIN lens l USING (doc_id)
  CROSS JOIN n
)
SELECT doc_id, COUNT(*) AS n_terms,
       CAST(SUM(CAST(s AS DECIMAL(18,6))) AS DOUBLE) + 0.0 AS score
FROM per_term
GROUP BY doc_id
ORDER BY score DESC, doc_id ASC
LIMIT {BM25_TOP_K}
"""


LM_ADD_K = 0.5
DSIR_TARGET_LANG = "en"


def q_lm_perplexity_docs(spark, sf_dir):
    """Per-doc perplexity under the corpus's own add-½-smoothed
    unigram LM (pipeline/corpus.py lm_perplexity) — the cheap
    quality filter: corpus-typical docs score low, junk scores
    high."""
    from loudml_spark.pipeline.corpus import lm_perplexity

    docs = load_table(spark, sf_dir, "documents")
    return lm_perplexity(docs, add_k=LM_ADD_K)


def _corpus_totals(sf_dir, where: str = "TRUE") -> tuple[int, int]:
    """Exact (total_tokens, vocab_size) of the documents corpus via
    DuckDB with the SAME tokenization — integers, so equality with
    the Spark-side eager computation is guaranteed."""
    import os

    import duckdb

    from loudml_spark.oracle_util import resolve_oracle_sf_dir
    sf_dir = resolve_oracle_sf_dir(sf_dir)
    con = duckdb.connect()
    t, v = con.execute(f"""
WITH tok AS (
  SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS token
  FROM read_parquet('{os.path.join(sf_dir, "documents.parquet")}')
  WHERE {where}
)
SELECT COUNT(*), COUNT(DISTINCT token) FROM tok""").fetchone()
    con.close()
    return int(t), int(v)


def _sql_lm_perplexity_docs(sf_dir=None) -> str:
    t_total, v = _corpus_totals(sf_dir)
    denom = t_total + LM_ADD_K * v
    return f"""
WITH tok AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(text), '[a-z]+')) AS token
  FROM documents
),
per_doc AS (
  SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2
),
cnt AS (
  SELECT token, CAST(SUM(tf) AS BIGINT) AS c FROM per_doc GROUP BY 1
),
per_term AS (
  SELECT p.doc_id, p.tf,
         ROUND(p.tf * ln((c.c + {LM_ADD_K!r}) / {denom!r}), 6) AS s
  FROM per_doc p JOIN cnt c USING (token)
)
SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
       ROUND(exp(-(CAST(SUM(CAST(s AS DECIMAL(18,6))) AS DOUBLE))
                 / SUM(tf)), 6) + 0.0 AS ppl
FROM per_term GROUP BY doc_id
"""


def q_dsir_weights_docs(spark, sf_dir):
    """DSIR-style importance weights of every document against the
    English subset as target (pipeline/corpus.py
    importance_weights): log p_en(doc)/p_corpus(doc) under smoothed
    unigram models — sampling ∝ exp(weight) reproduces the paper's
    importance resampling."""
    from loudml_spark.pipeline.corpus import importance_weights

    docs = load_table(spark, sf_dir, "documents")
    return importance_weights(
        docs, F.col("lang") == DSIR_TARGET_LANG, add_k=LM_ADD_K)


def _sql_dsir_weights_docs(sf_dir=None) -> str:
    # joint vocab sizes: V from the whole corpus, Tt from the target
    tt, _vt = _corpus_totals(
        sf_dir, where=f"lang = '{DSIR_TARGET_LANG}'")
    ts, v = _corpus_totals(sf_dir)
    den_t = tt + LM_ADD_K * v
    den_s = ts + LM_ADD_K * v
    return f"""
WITH tok AS (
  SELECT doc_id, COALESCE(lang = '{DSIR_TARGET_LANG}', FALSE) AS tgt,
         unnest(regexp_extract_all(lower(text), '[a-z]+')) AS token
  FROM documents
),
per_doc AS (
  SELECT doc_id, tgt, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2, 3
),
cnt AS (
  SELECT token,
         CAST(COALESCE(SUM(CASE WHEN tgt THEN tf END), 0) AS BIGINT)
           AS ct,
         CAST(SUM(tf) AS BIGINT) AS cs
  FROM per_doc GROUP BY 1
),
per_term AS (
  SELECT p.doc_id, p.tf,
         ROUND(p.tf * ln(((c.ct + {LM_ADD_K!r}) / {den_t!r})
                         / ((c.cs + {LM_ADD_K!r}) / {den_s!r})), 6) AS s
  FROM per_doc p JOIN cnt c USING (token)
)
SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
       CAST(SUM(CAST(s AS DECIMAL(18,6))) AS DOUBLE) + 0.0
         AS log_weight
FROM per_term GROUP BY doc_id
"""


DSIR_KEY_A = 1299721
DSIR_KEY_B = 15485863
DSIR_TEMP = 200.0


def q_dsir_resample_docs(spark, sf_dir):
    """The second half of DSIR (Xie et al. 2023): importance
    RESAMPLING — keep each document with probability
    min(1, exp(T · log_weight / n_tokens)), i.e. ∝ a TEMPERED
    per-token target-likeness ratio.  The per-token mean keeps exp()
    bounded (the raw sum saturates to keep-all/drop-all for long
    documents); the temperature T={DSIR_TEMP} sharpens the near-1
    ratios a homogeneous corpus produces into a usable keep gradient
    (importance tempering, standard practice when weights are
    low-variance).  The coin is the portable affine hash of doc_id
    against the probability threshold, so the selection is
    reproducible across runs/partitionings/engines, and the whole
    resample stays a map stage after the weight computation.  exp()
    quantizes at 6 dp before the threshold compare (the repo's
    transcendental-parity rule).  See pipeline/sampling.py
    weighted_keep."""
    from loudml_spark.pipeline.corpus import importance_weights
    from loudml_spark.pipeline.sampling import weighted_keep

    docs = load_table(spark, sf_dir, "documents")
    w = importance_weights(
        docs, F.col("lang") == DSIR_TARGET_LANG, add_k=LM_ADD_K)
    key = (F.col("doc_id") * F.lit(DSIR_KEY_A) + F.lit(DSIR_KEY_B)) \
        % F.lit(1_000_000_007)
    prob = F.round(
        F.exp(F.lit(DSIR_TEMP) * F.col("log_weight")
              / F.col("n_tokens")), 6)
    return weighted_keep(w, key=key, weight=prob, scale=1.0)


def _sql_dsir_resample_docs(sf_dir=None) -> str:
    return f"""
WITH dw AS ({_sql_dsir_weights_docs(sf_dir)})
SELECT doc_id, n_tokens, log_weight,
       COALESCE(
         (doc_id * {DSIR_KEY_A} + {DSIR_KEY_B}) % 1000000007 % 10000
           < LEAST(1.0,
                   ROUND(exp({DSIR_TEMP!r} * log_weight / n_tokens),
                         6) * 1.0)
             * 10000,
         FALSE) AS keep
FROM dw
"""


TEXTRANK_MAX_DOC = 200
TEXTRANK_MIN_PAIR = 20
TEXTRANK_DAMPING = 0.85
TEXTRANK_ITER = 10
TEXTRANK_TOP = 50

_SQL_TEXTRANK_GRAPH = f"""
WITH d AS (SELECT doc_id, text FROM documents
           WHERE doc_id < {TEXTRANK_MAX_DOC}),
t AS (
  SELECT DISTINCT doc_id,
         unnest(regexp_extract_all(lower(text), '[a-z]+')) AS token
  FROM d
),
pr AS (
  SELECT a.token AS u, b.token AS v, COUNT(*) AS c
  FROM t a JOIN t b ON a.doc_id = b.doc_id AND a.token < b.token
  GROUP BY 1, 2 HAVING COUNT(*) >= {TEXTRANK_MIN_PAIR}
),
ed AS (SELECT u, v, c FROM pr UNION ALL SELECT v, u, c FROM pr),
ow AS (SELECT u, CAST(SUM(c) AS BIGINT) AS w FROM ed GROUP BY 1),
e AS (
  SELECT ed.u, ed.v, CAST(ed.c AS DOUBLE) / CAST(ow.w AS DOUBLE) AS p
  FROM ed JOIN ow USING (u)
)"""


def q_textrank_keywords_docs(spark, sf_dir):
    """TextRank keywords over a fixed 200-doc slice
    (pipeline/corpus.py textrank_keywords): 10 distributed PageRank
    iterations on the token co-occurrence graph, top-50 by score.
    The oracle replays the SAME iteration schedule as generated
    chained SQL CTEs — ranks stay bit-identical by the
    round-then-DECIMAL-sum induction."""
    from loudml_spark.pipeline.corpus import textrank_keywords

    docs = load_table(spark, sf_dir, "documents") \
        .filter(F.col("doc_id") < TEXTRANK_MAX_DOC) \
        .select("doc_id", "text")
    return textrank_keywords(
        docs, damping=TEXTRANK_DAMPING, iterations=TEXTRANK_ITER,
        min_pair_count=TEXTRANK_MIN_PAIR, top_k=TEXTRANK_TOP)


def _sql_textrank_keywords_docs(sf_dir=None) -> str:
    import os

    import duckdb

    from loudml_spark.oracle_util import resolve_oracle_sf_dir
    sf_dir = resolve_oracle_sf_dir(sf_dir)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM read_parquet('"
        + os.path.join(sf_dir, "documents.parquet") + "')")
    n = con.execute(
        _SQL_TEXTRANK_GRAPH + "\nSELECT COUNT(DISTINCT u) FROM e"
    ).fetchone()[0]
    con.close()
    n = int(n)
    base = (1.0 - TEXTRANK_DAMPING) / n
    # float literals go through CAST('<repr>' AS DOUBLE): strtod is
    # correctly rounded, so both engines see bit-identical doubles
    d_lit = f"CAST('{TEXTRANK_DAMPING!r}' AS DOUBLE)"
    iters = [f",\nr0 AS (SELECT DISTINCT u AS token, "
             f"CAST('{1.0 / n!r}' AS DOUBLE) AS r FROM e)"]
    for i in range(1, TEXTRANK_ITER + 1):
        iters.append(f""",
r{i} AS (
  SELECT e.v AS token,
         ROUND(CAST('{base!r}' AS DOUBLE) + {d_lit}
               * CAST(SUM(CAST(ROUND(r{i - 1}.r * e.p, 9)
                               AS DECIMAL(28,9))) AS DOUBLE), 9) AS r
  FROM e JOIN r{i - 1} ON r{i - 1}.token = e.u
  GROUP BY e.v
)""")
    return (
        _SQL_TEXTRANK_GRAPH + "".join(iters)
        + f"""
SELECT token, ROUND(r, 6) + 0.0 AS score
FROM r{TEXTRANK_ITER}
ORDER BY score DESC, token ASC
LIMIT {TEXTRANK_TOP}
""")


# -------------------------------------------------------- tsmath ops


CUSUM_K = 52.0      # drift reference level (events value mean ≈ 49.6)
CUSUM_H = 30.0      # alarm threshold on the accumulated drift


def q_ts_rate_counter_1h(spark, sf_dir):
    """PromQL-style counter increase/rate per event_type per hour,
    reset-aware (operators/tsmath.py counter_increase): deltas of
    consecutive samples per key, a negative delta credits the
    post-reset value.  ONE shuffle — the lag window partitions on
    event_type and the (event_type, bucket) aggregation reuses that
    clustering.  Ties broken by event_id so lag order is
    engine-independent.  Deltas route through DECIMAL: the bucket
    sum is exact in both engines."""
    from loudml_spark.operators.tsmath import counter_increase

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts_ns", "event_type", "value")
    out = counter_increase(
        ev, ts_col="ts_ns", value_col="value", interval=3600,
        by=["event_type"], order_col="event_id", ts_scale=NS,
    )
    return out.select(
        "event_type", "bucket_ts", "increase",
        F.round("rate", 6).alias("rate"),
    )


SQL_TS_RATE_COUNTER_1H = f"""
WITH d AS (
  SELECT event_type,
         (epoch_ns(ts) // {3600 * NS}) * 3600 AS bucket_ts,
         CAST(value AS DECIMAL(18,2)) AS v,
         CAST(value AS DECIMAL(18,2))
           - LAG(CAST(value AS DECIMAL(18,2))) OVER (
               PARTITION BY event_type ORDER BY epoch_ns(ts), event_id
             ) AS delta
  FROM events
)
SELECT event_type, bucket_ts,
       CAST(SUM(CASE WHEN delta < 0 THEN v ELSE delta END)
            AS DOUBLE) AS increase,
       ROUND(CAST(SUM(CASE WHEN delta < 0 THEN v ELSE delta END)
                  AS DOUBLE) / 3600.0, 6) AS rate
FROM d
GROUP BY 1, 2
"""


def q_ts_interp_linear_1h(spark, sf_dir):
    """Gap repair by time-weighted linear interpolation — the third
    fill mode next to `default: <float>` and `default: "previous"`
    (reference fill layer loudml/donut.py:597-610).  Same sparse
    signup series as ts_fill_previous_1h; interior gaps get the
    line between bracketing observations, edge gaps stay null.
    Two window passes over the bucketized (bounded) series."""
    from loudml_spark.catalog import _ev_bucketize
    from loudml_spark.features import Feature
    from loudml_spark.operators.tsmath import interpolate_linear

    feat = Feature(
        metric="mean_exact", field="value", name="avg_value",
        match_all=[{"tag": "event_type", "value": "signup"}],
    )
    out = _ev_bucketize(spark, sf_dir, [feat], 3600)
    out = interpolate_linear(out, value_col="avg_value")
    return out.select(
        "bucket_ts", F.round("avg_value", 6).alias("avg_value"))


def _sql_ts_interp_linear_1h() -> str:
    from loudml_spark.catalog import _spine_sql

    return _spine_sql(3600) + """
, agg AS (
  SELECT s.bucket_ts AS bucket_ts,
         CAST(SUM(CASE WHEN p.event_type = 'signup'
                       THEN CAST(p.value AS DECIMAL(18,2)) END) AS DOUBLE)
         / COUNT(CASE WHEN p.event_type = 'signup' THEN p.value END) AS a
  FROM spine s LEFT JOIN pts p USING (bucket_ts)
  GROUP BY s.bucket_ts
),
w AS (
  SELECT bucket_ts, a,
         LAST_VALUE(a IGNORE NULLS) OVER wb AS pv,
         LAST_VALUE(CASE WHEN a IS NOT NULL THEN bucket_ts END
                    IGNORE NULLS) OVER wb AS pt,
         FIRST_VALUE(a IGNORE NULLS) OVER wf AS nv,
         FIRST_VALUE(CASE WHEN a IS NOT NULL THEN bucket_ts END
                     IGNORE NULLS) OVER wf AS nt
  FROM agg
  WINDOW wb AS (ORDER BY bucket_ts
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wf AS (ORDER BY bucket_ts
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT bucket_ts,
       ROUND(CASE WHEN a IS NOT NULL THEN a
                  WHEN pv IS NOT NULL AND nv IS NOT NULL
                  THEN pv + (nv - pv) * (CAST(bucket_ts - pt AS DOUBLE)
                                         / CAST(nt - pt AS DOUBLE))
             END, 6) AS avg_value
FROM w
"""


def q_ts_cusum_1d(spark, sf_dir):
    """One-sided CUSUM drift statistic on the daily mean per
    event_type — sequential changepoint detection via the prefix
    closed form (operators/tsmath.py cusum: cumulative sum +
    cumulative min, no recursion).  Daily means are DECIMAL-exact so
    the windowed double cumsum adds identical values in identical
    order in both engines."""
    from loudml_spark.operators.tsmath import cusum

    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select("event_type", _day_ts().alias("bucket_ts"),
                  F.col("value").cast("decimal(18,2)").alias("v"))
        .groupBy("event_type", "bucket_ts")
        .agg((F.sum("v").cast("double") / F.count("v")).alias("avg_value"))
    )
    out = cusum(daily, value_col="avg_value", k=CUSUM_K,
                by=["event_type"], h=CUSUM_H)
    # avg_value unrounded (DECIMAL-exact, bit-identical both sides);
    # cusum rounded: DuckDB's segment-tree windowed SUM associates
    # additions differently than Spark's running accumulation
    return out.select(
        "event_type", "bucket_ts", "avg_value",
        F.round("cusum", 6).alias("cusum"),
        "is_change",
    )


SQL_TS_CUSUM_1D = f"""
WITH daily AS (
  SELECT event_type,
         ((epoch_ns(ts) - (epoch_ns(ts) % {86400 * NS}))
          // {86400 * NS}) * 86400 AS bucket_ts,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
           / COUNT(value) AS avg_value
  FROM events
  GROUP BY 1, 2
),
c AS (
  SELECT event_type, bucket_ts, avg_value,
         SUM(avg_value - {CUSUM_K}) OVER (
           PARTITION BY event_type ORDER BY bucket_ts
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs
  FROM daily
),
s AS (
  SELECT event_type, bucket_ts, avg_value,
         cs - LEAST(MIN(cs) OVER (
           PARTITION BY event_type ORDER BY bucket_ts
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0.0)
           AS raw_cusum
  FROM c
)
SELECT event_type, bucket_ts,
       avg_value,
       ROUND(raw_cusum, 6) AS cusum,
       raw_cusum > {CUSUM_H} AS is_change
FROM s
"""


def _series_6h(spark, sf_dir):
    """Per-event_type 6h DECIMAL-exact mean series — shared input of
    the mad/ewma queries and bit-identical to _SQL_SERIES_6H_CTE."""
    ev = load_table(spark, sf_dir, "events")
    step = 21600 * NS
    return (
        ev.select(
            "event_type",
            F.expr(
                f"((`ts_ns` - pmod(`ts_ns`, {step}L)) div {step}L) * 21600"
            ).cast("long").alias("bucket_ts"),
            F.col("value").cast("decimal(18,2)").alias("v"),
        )
        .groupBy("event_type", "bucket_ts")
        .agg((F.sum("v").cast("double") / F.count("v")).alias("avg_value"))
    )


_SQL_SERIES_6H_CTE = f"""
WITH series AS (
  SELECT event_type,
         (epoch_ns(ts) // {21600 * NS}) * 21600 AS bucket_ts,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
           / COUNT(value) AS avg_value
  FROM events
  GROUP BY 1, 2
)"""


def q_ts_mad_scores_6h(spark, sf_dir):
    """MAD-based robust outlier score per (event_type, 6h bucket) —
    the heavy-tail-safe alternative to anomaly_scores' mean/σ z-score
    (operators/tsmath.py mad_scores).  Exact interpolated medians on
    the bounded per-key bucket series via whole-partition window
    aggregates.  Spark percentile(·,0.5) ≡ DuckDB QUANTILE_CONT — the
    parity ts_percentiles_1d already pins."""
    from loudml_spark.operators.tsmath import mad_scores

    out = mad_scores(
        _series_6h(spark, sf_dir), value_col="avg_value",
        by=["event_type"])
    # avg_value stays UNROUNDED: the DECIMAL-exact mean is already
    # bit-identical in both engines, and ROUND itself can disagree on
    # identical doubles at a half-way boundary (seen at sf0.1)
    return out.select(
        "event_type", "bucket_ts", "avg_value",
        F.round("robust_score", 6).alias("robust_score"),
    )


SQL_TS_MAD_SCORES_6H = _SQL_SERIES_6H_CTE + """,
med AS (
  SELECT event_type, QUANTILE_CONT(avg_value, 0.5) AS m
  FROM series GROUP BY 1
),
mad AS (
  SELECT s.event_type, m.m,
         QUANTILE_CONT(ABS(s.avg_value - m.m), 0.5) AS d
  FROM series s JOIN med m USING (event_type)
  GROUP BY 1, 2
)
SELECT s.event_type, s.bucket_ts,
       s.avg_value AS avg_value,
       ROUND(CASE WHEN mad.d <> 0
                  THEN 0.6745 * (s.avg_value - mad.m) / mad.d END, 6)
         AS robust_score
FROM series s JOIN mad USING (event_type)
"""


EWMA_HALFLIFE = 4.0
EWMA_N_LAGS = 16


def q_ts_ewma_6h(spark, sf_dir):
    """Truncated EWMA smoothing of the keyed 6h series (halflife 4
    buckets, 16 lags — trailing weight (1/2)^4 ≈ 6% of total, the
    standard monitoring smoother next to ts_moving_avg's flat
    window).  16 lag() terms over ONE shared window spec = a single
    window pass after the aggregation shuffle; identical float
    literals and left-assoc op order on both engines
    (operators/tsmath.py ewma_trunc / ewma_trunc_sql)."""
    from loudml_spark.operators.tsmath import ewma_trunc

    out = ewma_trunc(
        _series_6h(spark, sf_dir), value_col="avg_value",
        halflife=EWMA_HALFLIFE, n_lags=EWMA_N_LAGS, by=["event_type"],
    )
    return out.select(
        "event_type", "bucket_ts", "avg_value",
        F.round("ewma", 6).alias("ewma"),
    )


def _sql_ts_ewma_6h() -> str:
    from loudml_spark.operators.tsmath import ewma_trunc_sql

    expr = ewma_trunc_sql(
        "avg_value", EWMA_N_LAGS, halflife=EWMA_HALFLIFE)
    return _SQL_SERIES_6H_CTE + f"""
SELECT event_type, bucket_ts, avg_value,
       ROUND({expr}, 6) AS ewma
FROM series
WINDOW w AS (PARTITION BY event_type ORDER BY bucket_ts)
"""


PROFILE_COLS = ("event_id", "user_id", "event_type", "value", "props")


def q_profile_events(spark, sf_dir):
    """Single-pass per-column intake profile of the events table —
    null counts, exact cardinality + HLL bound verdict, numeric
    range/mean (DECIMAL-exact), string length range — every stat an
    agg expression in ONE groupBy().agg() (operators/profile.py).
    The engine-specific HLL estimate is reduced to the portable
    approx_ok verdict, same policy as approx_distinct_users_daily."""
    from loudml_spark.operators.profile import profile

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value", "props")
    return profile(ev, list(PROFILE_COLS), distinct="both")


def _sql_profile_col(c: str, numeric: bool) -> str:
    num_fields = (
        f"CAST(MIN(CAST({c} AS DOUBLE)) AS DOUBLE) AS min_value, "
        f"CAST(MAX(CAST({c} AS DOUBLE)) AS DOUBLE) AS max_value, "
        f"CASE WHEN COUNT({c}) > 0 THEN "
        f"CAST(SUM(CAST({c} AS DECIMAL(38,6))) AS DOUBLE) / COUNT({c}) "
        f"END AS mean_value, "
        "CAST(NULL AS BIGINT) AS min_len, CAST(NULL AS BIGINT) AS max_len"
        if numeric else
        "CAST(NULL AS DOUBLE) AS min_value, "
        "CAST(NULL AS DOUBLE) AS max_value, "
        "CAST(NULL AS DOUBLE) AS mean_value, "
        f"CAST(MIN(LENGTH({c})) AS BIGINT) AS min_len, "
        f"CAST(MAX(LENGTH({c})) AS BIGINT) AS max_len"
    )
    return (
        f"SELECT '{c}' AS col_name, COUNT(*) AS n_rows, "
        f"COUNT(*) - COUNT({c}) AS n_nulls, "
        f"COUNT(DISTINCT {c}) AS n_distinct, "
        f"ABS(approx_count_distinct({c}) - COUNT(DISTINCT {c})) "
        f"<= 0.05 * COUNT(DISTINCT {c}) AS approx_ok, "
        + num_fields + " FROM events"
    )


SQL_PROFILE_EVENTS = "\nUNION ALL\n".join(
    _sql_profile_col(c, c not in ("event_type", "props"))
    for c in PROFILE_COLS
)


def q_scd2_user_tiers(spark, sf_dir):
    """SCD2 dimension history from the event change log: per user,
    versioned validity ranges of the value tier (high/low), with
    consecutive no-change updates collapsed
    (operators/scd2.py scd2_from_changelog — one shuffle on user_id,
    three window expressions, no joins).  Pairs with asof_join for
    as-of-correct training enrichment."""
    from loudml_spark.operators.scd2 import scd2_from_changelog

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id",
        F.col("ts_ns").alias("ts"),
        F.when(F.col("value") >= 50, "high").otherwise("low").alias("tier"),
    )
    return scd2_from_changelog(
        ev, key_cols=["user_id"], attr_cols=["tier"], ts_col="ts",
        order_col="event_id",
    )


SQL_SCD2_USER_TIERS = """
WITH log AS (
  SELECT user_id, event_id, epoch_ns(ts) AS ts,
         CASE WHEN value >= 50 THEN 'high' ELSE 'low' END AS tier
  FROM events
),
flag AS (
  SELECT *,
         (ROW_NUMBER() OVER w = 1)
           OR (tier IS DISTINCT FROM LAG(tier) OVER w) AS is_new
  FROM log
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
starts AS (SELECT user_id, event_id, ts, tier FROM flag WHERE is_new)
SELECT user_id, tier,
       ts AS valid_from,
       LEAD(ts) OVER w2 AS valid_to,
       CAST(ROW_NUMBER() OVER w2 AS INTEGER) AS version
FROM starts
WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


DECOMP_PERIOD = 24  # daily cycle over hourly buckets


def q_ts_decompose_24x1h(spark, sf_dir):
    """Additive seasonal decomposition of the hourly series (daily
    period): value = trend + seasonal + resid
    (operators/tsmath.py decompose_additive).  Trend is an EXACT
    centered MA over DECIMAL partials (ts_moving_avg's trick,
    widened to ±12); seasonal/resid carry the 6 dp avg-rounding
    convention.  Bounded single-partition windows over the 720-row
    series — the documented unkeyed case."""
    from loudml_spark.operators.rollup import rollup_partials
    from loudml_spark.operators.tsmath import decompose_additive

    ev = _events_ts(spark, sf_dir)
    base = rollup_partials(
        ev, value_col="value", interval=3600, ts_col="ts", ts_scale=NS)
    return decompose_additive(
        base, period=DECOMP_PERIOD, interval=3600,
    ).select("bucket_ts", "value", "trend", "seasonal", "resid")


SQL_TS_DECOMPOSE_24X1H = f"""
WITH b AS (
  SELECT (epoch_ns(ts) // {3600 * NS}) * 3600 AS bucket_ts,
         COUNT(value) AS n,
         SUM(CAST(value AS DECIMAL(18,2))) AS sum_dec
  FROM events
  GROUP BY 1
),
t AS (
  SELECT bucket_ts,
         CAST(sum_dec AS DOUBLE) / n AS value,
         CASE WHEN COUNT(*) OVER wt = 25
              THEN CAST(SUM(sum_dec) OVER wt AS DOUBLE) / SUM(n) OVER wt
         END AS trend
  FROM b
  WINDOW wt AS (ORDER BY bucket_ts
                ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
),
p AS (
  SELECT bucket_ts, value, trend,
         (bucket_ts // 3600) % {DECOMP_PERIOD} AS phase,
         value - trend AS detr
  FROM t
),
s AS (
  SELECT bucket_ts, value, trend,
         ROUND(AVG(detr) OVER (PARTITION BY phase), 6) AS seasonal
  FROM p
)
SELECT bucket_ts, value, trend, seasonal,
       ROUND(value - trend - seasonal, 6) AS resid
FROM s
"""


def q_decile_bins_by_type(spark, sf_dir):
    """Equal-frequency decile binning of event values per event_type
    (operators/tsmath.py quantile_bins, exact NTILE mode with
    event_id tie-break), rolled up to per-bin summaries.  One
    shuffle: NTILE's per-key sort partitioning also satisfies the
    (event_type, bin) aggregation."""
    from loudml_spark.operators.tsmath import quantile_bins

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value")
    binned = quantile_bins(
        ev, value_col="value", n_bins=10, by=["event_type"],
        order_col="event_id",
    )
    return (
        binned.groupBy("event_type", "bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
    )


SQL_DECILE_BINS_BY_TYPE = """
WITH b AS (
  SELECT event_type, value,
         NTILE(10) OVER (PARTITION BY event_type
                         ORDER BY value, event_id) AS bin
  FROM events
)
SELECT event_type, bin, COUNT(*) AS n,
       MIN(value) AS min_value, MAX(value) AS max_value
FROM b
GROUP BY 1, 2
"""


FUNNEL_STEPS = ("view", "click", "purchase")


def q_funnel_view_click_purchase(spark, sf_dir):
    """Ordered-sequence funnel over the event stream: users who
    viewed, then later clicked, then later purchased
    (operators/funnel.py).  One shuffle on user_id + one window pass
    — the running-max flag chain, not the textbook k self-joins
    (which shuffle the fact table k times)."""
    from loudml_spark.operators.funnel import funnel

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.col("ts_ns").alias("ts"), "event_type")
    return funnel(ev, steps=list(FUNNEL_STEPS))


SQL_FUNNEL_VIEW_CLICK_PURCHASE = """
WITH e AS (
  SELECT user_id, epoch_ns(ts) AS ts, event_type FROM events
),
d0 AS (
  SELECT user_id, ts, event_type,
         CASE WHEN event_type = 'view' THEN ts END AS c0
  FROM e
),
d1 AS (
  SELECT *, CASE WHEN event_type = 'click'
                  AND MIN(c0) OVER wp < ts THEN ts END AS c1
  FROM d0
  WINDOW wp AS (PARTITION BY user_id ORDER BY ts
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
d2 AS (
  SELECT *, CASE WHEN event_type = 'purchase'
                  AND MIN(c1) OVER wp < ts THEN ts END AS c2
  FROM d1
  WINDOW wp AS (PARTITION BY user_id ORDER BY ts
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
u AS (
  SELECT user_id,
         MAX(c0 IS NOT NULL) AS r0,
         MAX(c1 IS NOT NULL) AS r1,
         MAX(c2 IS NOT NULL) AS r2
  FROM d2 GROUP BY user_id
)
SELECT 1 AS step_index, 'view' AS step,
       CAST(SUM(CAST(r0 AS BIGINT)) AS BIGINT) AS n_users FROM u
UNION ALL
SELECT 2, 'click', CAST(SUM(CAST(r1 AS BIGINT)) AS BIGINT) FROM u
UNION ALL
SELECT 3, 'purchase', CAST(SUM(CAST(r2 AS BIGINT)) AS BIGINT) FROM u
"""


def q_funnel_latency_view_click_purchase(spark, sf_dir):
    """Conversion-latency distribution per funnel transition: exact
    p50/p90 and mean of the time from a user's earliest chain
    completion of step k-1 to their earliest completion of step k
    (operators/funnel.py funnel_latency).  Single aggregation over
    the same one-shuffle flag chain as the funnel counts.  Latencies
    are exact integer ns differences; percentiles are sort-based on
    identical values in both engines, so only the float mean needs
    rounding."""
    from loudml_spark.operators.funnel import funnel_latency

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.col("ts_ns").alias("ts"), "event_type")
    out = funnel_latency(ev, steps=list(FUNNEL_STEPS))
    return out.select(
        "step_index", "step", "n_converted",
        "p50_latency", "p90_latency",
        F.round("mean_latency", 4).alias("mean_latency"),
    )


SQL_FUNNEL_LATENCY_VIEW_CLICK_PURCHASE = """
WITH e AS (
  SELECT user_id, epoch_ns(ts) AS ts, event_type FROM events
),
d0 AS (
  SELECT user_id, ts, event_type,
         CASE WHEN event_type = 'view' THEN ts END AS c0
  FROM e
),
d1 AS (
  SELECT *, CASE WHEN event_type = 'click'
                  AND MIN(c0) OVER wp < ts THEN ts END AS c1
  FROM d0
  WINDOW wp AS (PARTITION BY user_id ORDER BY ts
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
d2 AS (
  SELECT *, CASE WHEN event_type = 'purchase'
                  AND MIN(c1) OVER wp < ts THEN ts END AS c2
  FROM d1
  WINDOW wp AS (PARTITION BY user_id ORDER BY ts
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
u AS (
  SELECT user_id, MIN(c0) AS t0, MIN(c1) AS t1, MIN(c2) AS t2
  FROM d2 GROUP BY user_id
)
SELECT 2 AS step_index, 'click' AS step,
       COUNT(t1 - t0) AS n_converted,
       QUANTILE_CONT(t1 - t0, 0.5) AS p50_latency,
       QUANTILE_CONT(t1 - t0, 0.9) AS p90_latency,
       ROUND(AVG(CAST(t1 - t0 AS DOUBLE)), 4) AS mean_latency
FROM u
UNION ALL
SELECT 3, 'purchase',
       COUNT(t2 - t1),
       QUANTILE_CONT(t2 - t1, 0.5),
       QUANTILE_CONT(t2 - t1, 0.9),
       ROUND(AVG(CAST(t2 - t1 AS DOUBLE)), 4)
FROM u
"""


def q_cohort_retention_daily(spark, sf_dir):
    """Daily cohort retention triangle: users bucketed by first-seen
    day; per (cohort, day offset) the count still active
    (operators/funnel.py cohort_retention).  Two aggregations over
    the same user-keyed shuffle + a bounded (cohort, offset)
    rollup."""
    from loudml_spark.operators.funnel import cohort_retention

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.col("ts_ns").alias("ts"))
    return cohort_retention(
        ev, user_col="user_id", ts_col="ts", interval=86400,
        ts_scale=NS)


SQL_COHORT_RETENTION_DAILY = f"""
WITH a AS (
  SELECT DISTINCT user_id AS u,
         (epoch_ns(ts) // {86400 * NS}) * 86400 AS b
  FROM events
),
f AS (SELECT u, MIN(b) AS cohort_ts FROM a GROUP BY u)
SELECT f.cohort_ts, (a.b - f.cohort_ts) // 86400 AS offset,
       COUNT(*) AS n_active
FROM a JOIN f USING (u)
GROUP BY 1, 2
"""


def q_twa_value_by_type(spark, sf_dir):
    """Time-weighted (trapezoidal) mean of value per event_type over
    the RAW irregular samples — the TSDB ``time_weight('Linear')``
    surface (operators/irregular.py).  One shuffle; event_id breaks
    timestamp ties so the bridging value of each segment is
    engine-independent."""
    from loudml_spark.operators.irregular import time_weighted_avg

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "event_id", F.col("ts_ns").alias("ts"), "value")
    out = time_weighted_avg(
        ev, ts_col="ts", value_col="value", by=["event_type"],
        order_col="event_id")
    return out.select(
        "event_type", F.round("twa", 6).alias("twa"),
        "t_first", "t_last", "n_samples")


SQL_TWA_VALUE_BY_TYPE = """
WITH e AS (
  SELECT event_type, event_id, epoch_ns(ts) AS t, value FROM events
),
seg AS (
  SELECT event_type, t,
         CASE WHEN LAG(t) OVER w IS NOT NULL THEN
           (LAG(value) OVER w + value) / 2.0
             * CAST(t - LAG(t) OVER w AS DOUBLE)
         END AS s
  FROM e
  WINDOW w AS (PARTITION BY event_type ORDER BY t, event_id)
)
SELECT event_type,
       ROUND(SUM(s) / CAST(MAX(t) - MIN(t) AS DOUBLE), 6) AS twa,
       MIN(t) AS t_first, MAX(t) AS t_last,
       COUNT(*) AS n_samples
FROM seg
GROUP BY event_type
"""


GAP_THRESHOLD_NS = 1800 * NS


def q_gap_report_30m(spark, sf_dir):
    """Heartbeat monitoring: per event_type, the silent intervals
    longer than 30 minutes between consecutive samples — the inverse
    of sessionize (operators/irregular.py gap_report).  One shuffle;
    dense scales may legitimately report zero gaps (sf0.1 does)."""
    from loudml_spark.operators.irregular import gap_report

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.col("ts_ns").alias("ts"))
    return gap_report(
        ev, ts_col="ts", threshold=GAP_THRESHOLD_NS, by=["event_type"])


SQL_GAP_REPORT_30M = f"""
WITH g AS (
  SELECT event_type,
         LAG(epoch_ns(ts)) OVER (
           PARTITION BY event_type ORDER BY epoch_ns(ts)
         ) AS gap_start,
         epoch_ns(ts) AS gap_end
  FROM events
)
SELECT event_type, gap_start, gap_end,
       gap_end - gap_start AS gap
FROM g
WHERE gap_end - gap_start > {GAP_THRESHOLD_NS}
"""


TRAIL_RANGE_NS = 7200 * NS


def q_trailing_counts_2h(spark, sf_dir):
    """Per-event trailing 2 h count + exact sum over a true RANGE
    frame (operators/irregular.py trailing_count_range) — the
    sliding burst-detection primitive a rows-frame cannot express on
    irregular data; simultaneous events see identical windows, so
    the result is tie-order-independent by construction.  Integer
    counts and DECIMAL sums: no rounding anywhere."""
    from loudml_spark.operators.irregular import trailing_count_range

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", F.col("ts_ns").alias("ts"), "value")
    out = trailing_count_range(
        ev, ts_col="ts", range_width=TRAIL_RANGE_NS,
        by=["event_type"], value_col="value")
    return out.select(
        "event_id", "event_type", "trailing_n", "trailing_sum")


SQL_TRAILING_COUNTS_2H = f"""
SELECT event_id, event_type,
       COUNT(*) OVER w AS trailing_n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
         AS trailing_sum
FROM events
WINDOW w AS (PARTITION BY event_type ORDER BY epoch_ns(ts)
             RANGE BETWEEN {TRAIL_RANGE_NS} PRECEDING AND CURRENT ROW)
"""


def q_rolling_p95_6x1h(spark, sf_dir):
    """Rolling percentile monitoring: per event_type, the exact
    p95/p50 of the trailing six HOURLY MEANS (the percentile-over-
    preaggregates shape dashboards use — raw-value rolling
    percentiles belong to the sketch path, SCALE.md).  The six frame
    values are DECIMAL-exact doubles and percentile is sort-based,
    so both engines produce identical bits — no rounding anywhere.
    One shuffle; the per-key window reuses the agg partitioning."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    step = 3600 * NS
    series = (
        ev.select(
            "event_type",
            F.expr(
                f"((`ts_ns` - pmod(`ts_ns`, {step}L)) div {step}L) * 3600"
            ).cast("long").alias("bucket_ts"),
            F.col("value").cast("decimal(18,2)").alias("v"),
        )
        .groupBy("event_type", "bucket_ts")
        .agg((F.sum("v").cast("double") / F.count("v")).alias("avg_value"))
    )
    w = Window.partitionBy("event_type").orderBy("bucket_ts") \
        .rowsBetween(-5, 0)
    return series.select(
        "event_type", "bucket_ts", "avg_value",
        F.expr("percentile(avg_value, 0.95)").over(w).alias("p95_6h"),
        F.expr("percentile(avg_value, 0.5)").over(w).alias("p50_6h"),
    )


SQL_ROLLING_P95_6X1H = f"""
WITH series AS (
  SELECT event_type,
         (epoch_ns(ts) // {3600 * NS}) * 3600 AS bucket_ts,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
           / COUNT(value) AS avg_value
  FROM events
  GROUP BY 1, 2
)
SELECT event_type, bucket_ts, avg_value,
       QUANTILE_CONT(avg_value, 0.95) OVER w AS p95_6h,
       QUANTILE_CONT(avg_value, 0.5) OVER w AS p50_6h
FROM series
WINDOW w AS (PARTITION BY event_type ORDER BY bucket_ts
             ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
"""


SLO_BUDGET = 0.25          # error-fraction objective
SLO_SHORT_BURN = 1.2       # short-window burn multiple that pages
SLO_LONG_BURN = 1.05       # long-window burn multiple that pages


def q_slo_burn_rate_1h_6h(spark, sf_dir):
    """Multiwindow SLO burn-rate alerting (the SRE-workbook pattern):
    error fraction over a short (1 h) and long (6 h) trailing window,
    each divided by the error budget; a page fires only when BOTH
    burn rates exceed their thresholds — fast detection without
    one-bucket flappiness.  Integer window sums and one division per
    ratio: bit-identical across engines, no rounding.  One shuffle
    (bucket rollup), two frames over one ordered window."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    step = 3600 * NS
    per_bucket = (
        ev.select(
            F.expr(
                f"((`ts_ns` - pmod(`ts_ns`, {step}L)) div {step}L) * 3600"
            ).cast("long").alias("bucket_ts"),
            (F.col("event_type") == "error").cast("long").alias("is_err"),
        )
        .groupBy("bucket_ts")
        .agg(F.sum("is_err").alias("n_err"),
             F.count(F.lit(1)).alias("n_all"))
    )
    w6 = Window.orderBy("bucket_ts").rowsBetween(-5, 0)
    short_rate = F.col("n_err") / F.col("n_all")
    long_rate = F.sum("n_err").over(w6) / F.sum("n_all").over(w6)
    short_burn = short_rate / F.lit(SLO_BUDGET)
    long_burn = long_rate / F.lit(SLO_BUDGET)
    return per_bucket.select(
        "bucket_ts", "n_err", "n_all",
        short_burn.alias("short_burn"),
        long_burn.alias("long_burn"),
        ((short_burn > SLO_SHORT_BURN)
         & (long_burn > SLO_LONG_BURN)).alias("page"),
    )


SQL_SLO_BURN_RATE_1H_6H = f"""
WITH b AS (
  SELECT (epoch_ns(ts) // {3600 * NS}) * 3600 AS bucket_ts,
         CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_err,
         COUNT(*) AS n_all
  FROM events
  GROUP BY 1
)
SELECT bucket_ts, n_err, n_all,
       (CAST(n_err AS DOUBLE) / n_all) / {SLO_BUDGET} AS short_burn,
       (CAST(SUM(n_err) OVER w6 AS DOUBLE) / SUM(n_all) OVER w6)
         / {SLO_BUDGET} AS long_burn,
       ((CAST(n_err AS DOUBLE) / n_all) / {SLO_BUDGET} > {SLO_SHORT_BURN}
        AND (CAST(SUM(n_err) OVER w6 AS DOUBLE) / SUM(n_all) OVER w6)
              / {SLO_BUDGET} > {SLO_LONG_BURN}) AS page
FROM b
WINDOW w6 AS (ORDER BY bucket_ts ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
"""


STL_OUTLIER_Z = 3.5


def q_stl_anomaly_24x1h(spark, sf_dir):
    """Seasonal-aware robust anomaly detection (S-H-ESD-lite): remove
    trend + daily seasonality with decompose_additive, then score
    the residual with MAD robust z-scores — a spike at 3am scores
    against 3am-adjusted expectations, where the plain z-score of
    anomaly_scores_1h would blur the cycle.  Pure composition of two
    catalog operators; |score| > 3.5 flags outliers (the standard
    MAD cut).  Bounded single-partition windows over the 720-row
    series."""
    from loudml_spark.operators.rollup import rollup_partials
    from loudml_spark.operators.tsmath import decompose_additive, mad_scores

    ev = _events_ts(spark, sf_dir)
    base = rollup_partials(
        ev, value_col="value", interval=3600, ts_col="ts", ts_scale=NS)
    dec = decompose_additive(base, period=24, interval=3600)
    scored = mad_scores(
        dec.filter(F.col("resid").isNotNull()),
        value_col="resid")
    return scored.select(
        "bucket_ts", "value", "resid",
        F.round("robust_score", 6).alias("robust_score"),
        (F.abs(F.col("robust_score")) > STL_OUTLIER_Z).alias("is_outlier"),
    )


SQL_STL_ANOMALY_24X1H = SQL_TS_DECOMPOSE_24X1H.replace(
    "SELECT bucket_ts, value, trend, seasonal,\n"
    "       ROUND(value - trend - seasonal, 6) AS resid\nFROM s",
    """SELECT * FROM (
  WITH r AS (
    SELECT bucket_ts, value,
           ROUND(value - trend - seasonal, 6) AS resid
    FROM s
    WHERE trend IS NOT NULL
  ),
  med AS (SELECT QUANTILE_CONT(resid, 0.5) AS m FROM r),
  mad AS (
    SELECT m.m, QUANTILE_CONT(ABS(r.resid - m.m), 0.5) AS d
    FROM r, med m GROUP BY m.m
  )
  SELECT r.bucket_ts, r.value, r.resid,
         ROUND(CASE WHEN mad.d <> 0
                    THEN 0.6745 * (r.resid - mad.m) / mad.d END, 6)
           AS robust_score,
         ABS(CASE WHEN mad.d <> 0
                  THEN 0.6745 * (r.resid - mad.m) / mad.d END)
           > """ + str(STL_OUTLIER_Z) + """ AS is_outlier
  FROM r, mad
)""")

# the .replace() splice depends on the decompose oracle's exact tail;
# a silent no-op would surface as a column mismatch at check time,
# but fail fast here instead
assert "QUANTILE_CONT" in SQL_STL_ANOMALY_24X1H


def q_rolling_active_users_24h(spark, sf_dir):
    """Rolling 24 h distinct active users at hourly steps (rolling
    DAU): per-bucket DISTINCT user sets (one shuffle, map-side
    combined), then the trailing-24-bucket union of the SETS —
    distinct aggregates aren't allowed in Spark windows, but
    flatten + array_distinct over collect_list of the per-bucket
    sets is the decomposable-set formulation (and at 100 TB the sets
    become HLL partials merged over the same frame, SCALE.md).
    The frame is a time RANGE on bucket_ts, not 23 PRECEDING ROWS —
    sparse data skips empty buckets, and a rows-frame would then
    silently span more than 24 h (bit exactly this at sf0.001).
    Exact integer output, no rounding."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    step = 3600 * NS
    per_bucket = (
        ev.select(
            F.expr(
                f"((`ts_ns` - pmod(`ts_ns`, {step}L)) div {step}L) * 3600"
            ).cast("long").alias("bucket_ts"),
            "user_id",
        )
        .groupBy("bucket_ts")
        .agg(F.collect_set("user_id").alias("users"))
    )
    w24 = Window.orderBy("bucket_ts").rangeBetween(-82800, 0)
    return per_bucket.select(
        "bucket_ts",
        F.size("users").alias("hourly_users"),
        F.size(F.array_distinct(F.flatten(
            F.collect_list("users").over(w24)))).alias("rolling_24h_users"),
    )


SQL_ROLLING_ACTIVE_USERS_24H = f"""
WITH a AS (
  SELECT DISTINCT (epoch_ns(ts) // {3600 * NS}) * 3600 AS bucket_ts,
         user_id
  FROM events
),
b AS (SELECT DISTINCT bucket_ts FROM a)
SELECT b.bucket_ts,
       (SELECT COUNT(*) FROM a
        WHERE a.bucket_ts = b.bucket_ts) AS hourly_users,
       (SELECT COUNT(DISTINCT a.user_id) FROM a
        WHERE a.bucket_ts BETWEEN b.bucket_ts - 82800 AND b.bucket_ts)
         AS rolling_24h_users
FROM b
"""


LTTB_N_OUT = 100


def q_lttb_hourly_100(spark, sf_dir):
    """LTTB visual downsampling of the hourly series to 100 points
    (operators/downsample.py): keeps the extremes a coarser mean
    would erase.  Keyed applyInPandas over the bounded bucketized
    series; the oracle replays the SHARED numpy selection on the
    DuckDB-recomputed series and re-fetches the values from parquet
    — only the selection is inlined."""
    from loudml_spark.operators.downsample import lttb
    from loudml_spark.operators.rollup import rollup_partials

    ev = _events_ts(spark, sf_dir)
    base = rollup_partials(
        ev, value_col="value", interval=3600, ts_col="ts", ts_scale=NS)
    series = base.select(
        "bucket_ts",
        (F.col("sum_dec").cast("double") / F.col("n")).alias("value"),
    )
    return lttb(series, ts_col="bucket_ts", value_col="value",
                n_out=LTTB_N_OUT)


_SQL_HOURLY_SERIES = f"""
WITH series AS (
  SELECT (epoch_ns(ts) // {3600 * NS}) * 3600 AS bucket_ts,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
           / COUNT(value) AS value
  FROM events
  GROUP BY 1
)"""


def _sql_lttb_hourly_100(sf_dir=None) -> str:
    import os

    import duckdb
    import numpy as np

    from loudml_spark.operators.downsample import lttb_values

    from loudml_spark.oracle_util import resolve_oracle_sf_dir
    sf_dir = resolve_oracle_sf_dir(sf_dir)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM read_parquet('"
        + os.path.join(sf_dir, "events.parquet") + "')")
    rows = con.execute(
        _SQL_HOURLY_SERIES
        + "\nSELECT bucket_ts, value FROM series ORDER BY bucket_ts"
    ).fetchall()
    con.close()
    ts = np.array([r[0] for r in rows], dtype=np.int64)
    vals = np.array([r[1] for r in rows], dtype=np.float64)
    idx = lttb_values(ts, vals, LTTB_N_OUT)
    keep = ", ".join(f"({int(t)})" for t in ts[idx])
    return _SQL_HOURLY_SERIES + f""",
keep(ts) AS (VALUES {keep})
SELECT s.bucket_ts, s.value
FROM series s JOIN keep k ON s.bucket_ts = k.ts
"""


CMS_DEPTH, CMS_WIDTH = 4, 256


def q_cms_heavy_hitters(spark, sf_dir):
    """Count-min sketch anchor: estimate the top-20 tokens'
    frequencies from a depth×width=4×256 counter sketch and emit the
    exact counts beside them (pipeline/corpus.py cms_counters /
    cms_estimate).  The third sketch family next to HLL and the
    quantile sketches — sub-linear state, mergeable, and NEVER an
    undercount (asserted per row).  Fully deterministic integer
    arithmetic, so unlike the HLL/quantile anchors the ESTIMATES
    themselves hash-match across engines, not just a bound verdict."""
    from loudml_spark.pipeline.corpus import (
        cms_counters,
        cms_estimate,
        vocabulary,
    )

    docs = load_table(spark, sf_dir, "documents")
    counters = cms_counters(docs, depth=CMS_DEPTH, width=CMS_WIDTH)
    top = vocabulary(docs, top_k=20).select("token", "tf")
    est = cms_estimate(counters, top, depth=CMS_DEPTH, width=CMS_WIDTH)
    return est.select(
        "token", "tf", "cms_estimate",
        (F.col("cms_estimate") >= F.col("tf")).alias("no_undercount"),
    )


def _sql_cms_heavy_hitters(sf_dir=None) -> str:
    from loudml_spark.catalog_pipeline import _sql_rh
    from loudml_spark.pipeline.corpus import CMS_A, CMS_B

    a = "[" + ", ".join(str(x) for x in CMS_A) + "]"
    b = "[" + ", ".join(str(x) for x in CMS_B) + "]"
    mod = 1_000_000_007
    rh = _sql_rh("token")
    return f"""
WITH tok AS (
  SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS token
  FROM documents
),
h AS (SELECT token, {rh} AS h FROM tok),
p AS (
  SELECT CAST(d.range AS INTEGER) AS d,
         ((h * ({a})[CAST(d.range AS INTEGER) + 1]
           + ({b})[CAST(d.range AS INTEGER) + 1]) % {mod})
           % {CMS_WIDTH} AS bucket
  FROM h, range({CMS_DEPTH}) d
),
counters AS (SELECT d, bucket, COUNT(*) AS n FROM p GROUP BY 1, 2),
vocab AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS tf
  FROM tok GROUP BY token
  ORDER BY tf DESC, token ASC
  LIMIT 20
),
vb AS (
  SELECT v.token, v.tf, CAST(d.range AS INTEGER) AS d,
         (({rh.replace('token', 'v.token')}
            * ({a})[CAST(d.range AS INTEGER) + 1]
           + ({b})[CAST(d.range AS INTEGER) + 1]) % {mod})
           % {CMS_WIDTH} AS bucket
  FROM vocab v, range({CMS_DEPTH}) d
)
SELECT vb.token, vb.tf,
       MIN(c.n) AS cms_estimate,
       MIN(c.n) >= vb.tf AS no_undercount
FROM vb JOIN counters c USING (d, bucket)
GROUP BY 1, 2
"""




def q_streaming_dedup_events(spark, sf_dir):
    """Exactly-once ingestion from an at-least-once source, executed
    THROUGH Structured Streaming: the staged source delivers a 10%
    event slice and then RE-delivers a third of it in a later file
    (the crash/retry shape of real ingestion); maxFilesPerTrigger=1
    makes the re-delivery arrive in a separate micro-batch, so
    dropDuplicatesWithinWatermark's state store — not within-batch
    luck — is what suppresses the duplicates.  The drained append
    output must equal the batch DISTINCT slice row-for-row (oracle);
    the watermark (90 days) exceeds the staged data's full span so no
    dedup state expires mid-drain — production sizes it to the
    source's max re-delivery delay instead (see stream_dedupe).
    Duplicate deliveries are byte-identical rows, so which delivery
    survives is immaterial to the value hash."""
    from loudml_spark.streaming.job import (
        drain_stream_to_df,
        stream_dedupe,
    )

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id") % 10 == 0
    ).select(
        "event_id",
        F.expr("cast(convert_timezone('UTC', current_timezone(), ts) "
               "as timestamp)").alias("ts"),
        "user_id", "event_type", "value",
    )

    def stage(tmp):
        ev.coalesce(1).write.mode("overwrite").parquet(tmp)
        ev.filter(F.col("event_id") % 3 == 0).coalesce(1) \
            .write.mode("append").parquet(tmp)

    with _small_shuffle(spark):
        (tmp,) = _stage(spark, sf_dir, "events", "stage_dedup", stage)
        stream = (
            spark.readStream.schema(
                "event_id bigint, ts timestamp, user_id bigint, "
                "event_type string, value double")
            .option("maxFilesPerTrigger", 1).parquet(tmp)
        )
        out = stream_dedupe(
            stream, ["event_id"], ts_col="ts", watermark="90 days")
        return drain_stream_to_df(
            out, ["event_id", "user_id", "event_type", "value"],
            output_mode="append", prefix="stream_dedup",
        )


SQL_STREAMING_DEDUP_EVENTS = """
SELECT event_id, user_id, event_type, value
FROM events WHERE user_id % 10 = 0
"""


def q_benford_prices_by_flag(spark, sf_dir):
    """Benford first-digit conformance of lineitem extended prices
    per return flag (operators/validate.py benford_digits) — the
    fabricated-numbers screen as ONE conditional-aggregation pass.
    TPC-H prices are uniform-ish, so the χ² verdict is honestly
    data-derived (both engines agree on the exact statistic, not
    just the boolean)."""
    from loudml_spark.operators.validate import benford_digits

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice")
    return benford_digits(li, "l_extendedprice", by="l_returnflag")


def _sql_benford_prices_by_flag(sf_dir=None) -> str:
    from loudml_spark.operators.validate import (
        BENFORD_CHI2_CRIT,
        BENFORD_P,
    )

    digit = ("substring(printf('%.16e', abs(l_extendedprice)), 1, 1)")
    counts = ",\n         ".join(
        f"CAST(SUM(CASE WHEN {digit} = '{d}' THEN 1 ELSE 0 END) "
        f"AS BIGINT) AS n{d}"
        for d in range(1, 10))
    terms = " + ".join(
        f"CAST(ROUND((CAST(n{d} AS DOUBLE) - CAST(n AS DOUBLE) "
        f"* CAST('{BENFORD_P[d - 1]!r}' AS DOUBLE)) "
        f"* (CAST(n{d} AS DOUBLE) - CAST(n AS DOUBLE) "
        f"* CAST('{BENFORD_P[d - 1]!r}' AS DOUBLE)) "
        f"/ (CAST(n AS DOUBLE) * CAST('{BENFORD_P[d - 1]!r}' AS DOUBLE)), "
        f"6) AS DECIMAL(28,6))"
        for d in range(1, 10))
    return f"""
WITH agg AS (
  SELECT l_returnflag, COUNT(*) AS n,
         {counts}
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_extendedprice <> 0
  GROUP BY l_returnflag
),
stat AS (
  SELECT l_returnflag, n,
         ROUND(CAST({terms} AS DOUBLE), 6) + 0.0 AS chi2
  FROM agg
)
SELECT l_returnflag, n, chi2, chi2 <= {BENFORD_CHI2_CRIT} AS conforms
FROM stat
"""


def q_streaming_cms_heavy_hitters(spark, sf_dir):
    """The batch CMS heavy-hitters query executed THROUGH Structured
    Streaming: documents staged as 3 files (maxFilesPerTrigger=1 →
    3 micro-batches), the sketch maintained as streaming state
    (streaming/job.py stream_cms_counters — depth×width state rows
    however large the corpus), drained in complete mode.  CMS cells
    add and the arithmetic is deterministic integers, so the
    micro-batch-merged sketch is BIT-IDENTICAL to the batch sketch —
    this query shares the batch query's SQL oracle verbatim, the
    strongest batch↔streaming parity claim in the catalog."""
    from loudml_spark.pipeline.corpus import cms_estimate, vocabulary
    from loudml_spark.streaming.job import (
        drain_stream_to_df,
        stream_cms_counters,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def stage(tmp):
        for i in range(3):
            docs.filter(F.col("doc_id") % 3 == i).coalesce(1) \
                .write.mode("append").parquet(tmp)

    with _small_shuffle(spark):
        (tmp,) = _stage(spark, sf_dir, "documents", "stage_cms", stage)
        stream = (
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", 1).parquet(tmp)
        )
        counters = drain_stream_to_df(
            stream_cms_counters(stream, depth=CMS_DEPTH, width=CMS_WIDTH),
            ["d", "bucket", "n"],
            output_mode="complete", prefix="stream_cms",
        )
    top = vocabulary(docs, top_k=20).select("token", "tf")
    est = cms_estimate(counters, top, depth=CMS_DEPTH, width=CMS_WIDTH)
    return est.select(
        "token", "tf", "cms_estimate",
        (F.col("cms_estimate") >= F.col("tf")).alias("no_undercount"),
    )



def q_streaming_join_click_purchase(spark, sf_dir):
    """Click→purchase attribution as a STREAM-STREAM interval join:
    both sides are unbounded file streams (each staged as 2 ts-range
    files so matches must form ACROSS micro-batches through the join
    state store), paired on user_id with the purchase inside
    [click, click + 6 hours].  The drained append output must equal
    the batch interval join row-for-row (oracle).  The staged drain
    uses a data-spanning watermark so no join state evicts mid-drain;
    production sets it to the streams' max skew and state stays
    bounded by throughput × (watermark + window) — see
    stream_interval_join."""
    from loudml_spark.streaming.job import (
        drain_stream_to_df,
        stream_interval_join,
    )

    ts_utc = F.expr("cast(convert_timezone('UTC', current_timezone(), "
                    "ts) as timestamp)")
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter("event_type = 'click'").select(
        "user_id", ts_utc.alias("ts"))
    purchases = ev.filter("event_type = 'purchase'").select(
        "user_id", ts_utc.alias("ts"), "value")

    def stage(side):
        return lambda tmp: (side.repartitionByRange(2, "ts").write
                            .mode("overwrite").parquet(tmp))

    with _small_shuffle(spark):
        tmpc, tmpp = _stage(spark, sf_dir, "events", "stage_ij",
                            stage(clicks), stage(purchases))
        sc = (spark.readStream
              .schema("user_id bigint, ts timestamp")
              .option("maxFilesPerTrigger", 1).parquet(tmpc))
        sp = (spark.readStream
              .schema("user_id bigint, ts timestamp, value double")
              .option("maxFilesPerTrigger", 1).parquet(tmpp))
        out = stream_interval_join(
            sc, sp, key="user_id", within="6 hours",
            watermark="90 days")
        return drain_stream_to_df(
            out,
            ["user_id",
             F.expr("cast(l_ts as bigint)").alias("click_s"),
             F.expr("cast(r_ts as bigint)").alias("purchase_s"),
             F.col("r_value").alias("value")],
            output_mode="append", prefix="stream_ij",
        )


SQL_STREAMING_JOIN_CLICK_PURCHASE = """
SELECT c.user_id,
       CAST(epoch_us(c.ts) // 1000000 AS BIGINT) AS click_s,
       CAST(epoch_us(p.ts) // 1000000 AS BIGINT) AS purchase_s,
       p.value
FROM events c
JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 6 HOUR
"""

def q_xcorr_click_view_1h(spark, sf_dir):
    """Lead/lag scan: Pearson cross-correlation of the hourly mean
    value of 'click' vs 'view' events at lags -6..+6 hours
    (operators/tsmath.py cross_correlation — lag fan-out is a
    13-literal explode on the aggregated series, one equi-join on
    the shifted bucket, no range join).  Hourly means route through
    DECIMAL so corr's inputs are bit-identical in both engines; the
    corr itself is rounded (association order differs)."""
    from loudml_spark.operators.tsmath import cross_correlation

    ev = load_table(spark, sf_dir, "events")
    step = 3600 * NS

    def series(t):
        return (
            ev.filter(F.col("event_type") == t)
            .select(
                F.expr(f"((`ts_ns` - pmod(`ts_ns`, {step}L)) "
                       f"div {step}L) * 3600")
                .cast("long").alias("bucket_ts"),
                F.col("value").cast("decimal(18,2)").alias("v"))
            .groupBy("bucket_ts")
            .agg((F.sum("v").cast("double") / F.count("v"))
                 .alias("value"))
        )

    return cross_correlation(
        series("click"), series("view"),
        interval=3600, max_lag=6).orderBy("lag")


SQL_XCORR_CLICK_VIEW_1H = """
WITH a AS (
  SELECT (epoch_ns(ts) // 3600000000000) * 3600 AS bucket_ts,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
         / COUNT(value) AS v
  FROM events WHERE event_type = 'click' GROUP BY 1
),
b AS (
  SELECT (epoch_ns(ts) // 3600000000000) * 3600 AS bucket_ts,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
         / COUNT(value) AS v
  FROM events WHERE event_type = 'view' GROUP BY 1
),
l AS (SELECT CAST(unnest(range(-6, 7)) AS INTEGER) AS lag),
bs AS (
  SELECT l.lag, b.bucket_ts + l.lag * 3600 AS shifted, b.v
  FROM b CROSS JOIN l
)
SELECT bs.lag AS lag, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(corr(a.v, bs.v), 6) AS xcorr
FROM a JOIN bs ON a.bucket_ts = bs.shifted
GROUP BY 1 ORDER BY 1
"""


def _daily_mean_by_type(spark, sf_dir):
    """Shared DECIMAL-exact daily-mean series per event_type (the
    cusum/xcorr input convention: inputs bit-identical both engines)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select("event_type", _day_ts().alias("bucket_ts"),
                  F.col("value").cast("decimal(18,2)").alias("v"))
        .groupBy("event_type", "bucket_ts")
        .agg((F.sum("v").cast("double") / F.count("v")).alias("value"))
    )


_SQL_DAILY_MEAN_BY_TYPE = """
daily AS (
  SELECT event_type,
         (epoch_ns(ts) // 86400000000000) * 86400 AS bucket_ts,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
         / COUNT(value) AS value
  FROM events GROUP BY 1, 2
)
"""


def q_theil_sen_daily_by_type(spark, sf_dir):
    """Theil–Sen robust trend of the daily mean per event_type —
    median of all pairwise slopes (operators/tsmath.py theil_sen;
    30-point series → 435 pairs/key via a keyed self equi-join).
    Slope/intercept inputs are DECIMAL-exact; the medians interpolate
    identically (percentile ≡ quantile_cont) and round at 6 dp."""
    from loudml_spark.operators.tsmath import theil_sen

    return theil_sen(
        _daily_mean_by_type(spark, sf_dir), by=["event_type"])


SQL_THEIL_SEN_DAILY_BY_TYPE = f"""
WITH {_SQL_DAILY_MEAN_BY_TYPE},
sl AS (
  SELECT a.event_type,
         quantile_cont((b.value - a.value)
                       / CAST(b.bucket_ts - a.bucket_ts AS DOUBLE),
                       0.5) AS slope
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND a.bucket_ts < b.bucket_ts
  GROUP BY 1
)
SELECT d.event_type AS event_type,
       ROUND(ANY_VALUE(sl.slope), 6) AS slope,
       ROUND(quantile_cont(d.value - sl.slope * d.bucket_ts, 0.5), 6)
         AS intercept,
       CAST(COUNT(*) AS BIGINT) AS n_points
FROM daily d JOIN sl ON sl.event_type = d.event_type
GROUP BY 1
"""


def q_naive_forecast_daily_by_type(spark, sf_dir):
    """Seasonal-naive + drift baseline forecast (FPP3 §5.2): 14-day
    horizon off the weekly season of the daily mean per event_type
    (operators/tsmath.py naive_forecast).  The benchmark every
    trained Donut forecast must beat; literal-explode horizon
    fan-out, all equi-joins."""
    from loudml_spark.operators.tsmath import naive_forecast

    return naive_forecast(
        _daily_mean_by_type(spark, sf_dir), interval=86400,
        horizon=14, season=7, drift=True, by=["event_type"])


SQL_NAIVE_FORECAST_DAILY_BY_TYPE = f"""
WITH {_SQL_DAILY_MEAN_BY_TYPE},
scal AS (
  SELECT event_type, arg_min(value, bucket_ts) AS y1,
         arg_max(value, bucket_ts) AS yT, max(bucket_ts) AS xT,
         COUNT(*) AS n
  FROM daily GROUP BY 1
),
ls AS (
  SELECT event_type,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY bucket_ts DESC) AS r,
         value AS src
  FROM daily QUALIFY r <= 7
),
h AS (SELECT CAST(unnest(range(1, 15)) AS INTEGER) AS h)
SELECT s.event_type AS event_type, h.h AS h,
       s.xT + h.h * 86400 AS forecast_ts,
       ROUND(ls.src + h.h * ((s.yT - s.y1) / CAST(s.n - 1 AS DOUBLE)),
             6) AS yhat
FROM scal s
CROSS JOIN h
JOIN ls ON ls.event_type = s.event_type
       AND ls.r = 7 * CAST(ceil(h.h / 7.0) AS INTEGER) - h.h + 1
"""


def q_backtest_naive_daily(spark, sf_dir):
    """Rolling-origin accuracy of the naive forecaster at horizons
    1/2/7 days per event_type (operators/tsmath.py forecast_backtest)
    — the honesty check behind 'which forecaster do I trust': one
    window pass computes every horizon's lag column, a struct-array
    explode unpivots, MAE/RMSE per (key, h).  Error inputs are
    DECIMAL-exact differences; the error aggregates round at 6 dp."""
    from loudml_spark.operators.tsmath import forecast_backtest

    return forecast_backtest(
        _daily_mean_by_type(spark, sf_dir), horizons=(1, 2, 7),
        by=["event_type"])


SQL_BACKTEST_NAIVE_DAILY = f"""
WITH {_SQL_DAILY_MEAN_BY_TYPE},
l AS (
  SELECT event_type,
         value - lag(value, 1) OVER w AS e1,
         value - lag(value, 2) OVER w AS e2,
         value - lag(value, 7) OVER w AS e7
  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY bucket_ts)
),
u AS (
  SELECT event_type, 1 AS h, e1 AS e FROM l
  UNION ALL SELECT event_type, 2, e2 FROM l
  UNION ALL SELECT event_type, 7, e7 FROM l
)
SELECT event_type, CAST(h AS INTEGER) AS h,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(AVG(ABS(e)), 6) AS mae,
       ROUND(sqrt(AVG(e * e)), 6) AS rmse
FROM u WHERE e IS NOT NULL
GROUP BY 1, 2
"""


_JAN1 = 1704067200
_JAN31 = _JAN1 + 30 * 86400


def q_survival_view_to_purchase(spark, sf_dir):
    """Kaplan–Meier time-to-conversion: hours from a user's first
    view to their first subsequent purchase, right-censored at the
    observation window end for users who never convert
    (operators/funnel.py survival_curve).  The estimator handles
    censoring correctly — a naive mean over converters only would
    bias conversion time down.  Durations are exact int64-ns
    divisions; the survival product is exp(Σ ln(·)) rounded 6."""
    from loudml_spark.operators.funnel import survival_curve

    ev = load_table(spark, sf_dir, "events") \
        .select("user_id", "event_type", "ts_ns")
    v = ev.filter(F.col("event_type") == "view") \
        .groupBy("user_id").agg(F.min("ts_ns").alias("tv"))
    p = ev.filter(F.col("event_type") == "purchase") \
        .join(v, "user_id") \
        .filter(F.col("ts_ns") >= F.col("tv")) \
        .groupBy("user_id").agg(F.min("ts_ns").alias("tp"))
    step = 3600 * NS
    subj = v.join(p, "user_id", "left").select(
        F.expr(f"(coalesce(tp, {_JAN31 * NS}L) - tv) div {step}L")
        .alias("dur_h"),
        F.col("tp").isNotNull().cast("int").alias("converted"))
    return survival_curve(
        subj, duration_col="dur_h", event_col="converted")


SQL_SURVIVAL_VIEW_TO_PURCHASE = f"""
WITH v AS (
  SELECT user_id, MIN(epoch_ns(ts)) AS tv
  FROM events WHERE event_type = 'view' GROUP BY 1
),
p AS (
  SELECT e.user_id, MIN(epoch_ns(e.ts)) AS tp
  FROM events e JOIN v USING (user_id)
  WHERE e.event_type = 'purchase' AND epoch_ns(e.ts) >= v.tv
  GROUP BY 1
),
subj AS (
  SELECT (COALESCE(p.tp, {_JAN31 * NS}) - v.tv) // {3600 * NS} AS t,
         CASE WHEN p.tp IS NULL THEN 0 ELSE 1 END AS ev
  FROM v LEFT JOIN p USING (user_id)
),
per_t AS (
  SELECT t, CAST(SUM(ev) AS BIGINT) AS d,
         CAST(COUNT(*) AS BIGINT) AS tot
  FROM subj GROUP BY t
),
st AS (
  SELECT t, d, tot,
         CAST(SUM(tot) OVER ()
              - (SUM(tot) OVER w - tot) AS BIGINT) AS n_risk
  FROM per_t
  WINDOW w AS (ORDER BY t ROWS UNBOUNDED PRECEDING)
),
km AS (
  SELECT t, n_risk, d,
         CASE WHEN MAX(CASE WHEN d >= n_risk THEN 1 ELSE 0 END)
                   OVER w = 1
              THEN 0.0
              ELSE exp(SUM(CASE WHEN d < n_risk
                           THEN ln(1.0 - CAST(d AS DOUBLE) / n_risk)
                           ELSE 0.0 END) OVER w)
         END AS s
  FROM st
  WINDOW w AS (ORDER BY t ROWS UNBOUNDED PRECEDING)
)
SELECT t, n_risk, d AS n_events, ROUND(s, 6) + 0.0 AS survival
FROM km WHERE d > 0
"""


def q_acf_hourly_clicks(spark, sf_dir):
    """Autocorrelation function of the hourly click series at lags
    0..24 — cross_correlation of the series WITH ITSELF (zero new
    operator code: the self-pairing is the definition), the
    seasonality fingerprint that says which `season` to hand
    naive_forecast/decompose (a daily cycle shows as the lag-24
    peak).  Same DECIMAL-exact inputs + rounded Pearson as xcorr."""
    from loudml_spark.operators.tsmath import cross_correlation

    ev = load_table(spark, sf_dir, "events")
    step = 3600 * NS
    s = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.expr(f"((`ts_ns` - pmod(`ts_ns`, {step}L)) "
                   f"div {step}L) * 3600").cast("long")
            .alias("bucket_ts"),
            F.col("value").cast("decimal(18,2)").alias("v"))
        .groupBy("bucket_ts")
        .agg((F.sum("v").cast("double") / F.count("v")).alias("value"))
    )
    return cross_correlation(
        s, s, interval=3600, max_lag=24).filter(F.col("lag") >= 0)


SQL_ACF_HOURLY_CLICKS = """
WITH a AS (
  SELECT (epoch_ns(ts) // 3600000000000) * 3600 AS bucket_ts,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
         / COUNT(value) AS v
  FROM events WHERE event_type = 'click' GROUP BY 1
),
l AS (SELECT CAST(unnest(range(0, 25)) AS INTEGER) AS lag),
bs AS (
  SELECT l.lag, a.bucket_ts + l.lag * 3600 AS shifted, a.v
  FROM a CROSS JOIN l
)
SELECT bs.lag AS lag, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(covar_pop(a.v, bs.v)
             / NULLIF(stddev_pop(a.v) * stddev_pop(bs.v), 0), 6)
         AS xcorr
FROM a JOIN bs ON a.bucket_ts = bs.shifted
GROUP BY 1
"""


def q_mann_kendall_daily_by_type(spark, sf_dir):
    """Mann–Kendall trend significance of the daily mean per
    event_type (operators/tsmath.py mann_kendall) — paired with
    theil_sen_daily_by_type: the slope AND whether it is real.
    S and the tie-corrected variance are exact integers over the
    DECIMAL-exact means; only z rounds (sqrt)."""
    from loudml_spark.operators.tsmath import mann_kendall

    return mann_kendall(
        _daily_mean_by_type(spark, sf_dir), by=["event_type"])


SQL_MANN_KENDALL_DAILY_BY_TYPE = f"""
WITH {_SQL_DAILY_MEAN_BY_TYPE},
s AS (
  SELECT a.event_type,
         CAST(SUM(CASE WHEN b.value > a.value THEN 1
                       WHEN b.value < a.value THEN -1
                       ELSE 0 END) AS BIGINT) AS s_stat
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND a.bucket_ts < b.bucket_ts
  GROUP BY 1
),
ties AS (
  SELECT event_type, CAST(SUM(t) AS BIGINT) AS n,
         CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie
  FROM (SELECT event_type, COUNT(*) AS t
        FROM daily GROUP BY event_type, value)
  GROUP BY 1
),
v AS (
  SELECT s.event_type, ties.n, s.s_stat,
         CAST(ties.n * (ties.n - 1) * (2 * ties.n + 5) - ties.tie
              AS DOUBLE) / 18.0 AS var_s
  FROM s JOIN ties USING (event_type)
),
z AS (
  SELECT event_type, n, s_stat, var_s,
         ROUND(CASE WHEN s_stat > 0
                    THEN (s_stat - 1) / sqrt(var_s)
                    WHEN s_stat < 0
                    THEN (s_stat + 1) / sqrt(var_s)
                    ELSE 0.0 END, 6) + 0.0 AS z
  FROM v
)
SELECT event_type, n, s_stat, var_s, z,
       CASE WHEN z > 1.96 THEN 'increasing'
            WHEN z < -1.96 THEN 'decreasing'
            ELSE 'no trend' END AS trend
FROM z
"""


def q_periodogram_hourly_clicks(spark, sf_dir):
    """Spectral power of the hourly click series at Fourier
    frequencies 1..40 (operators/tsmath.py periodogram) — the
    quantitative sequel to acf_hourly_clicks: the argmax row names
    the dominant period outright (a daily cycle on the 720-bucket
    month peaks at freq 30 = 720/24).  Same DECIMAL-exact series as
    the ACF; angles reduce through exact integer (k·t mod n_span)
    before cos/sin so both engines transcend the same doubles."""
    from loudml_spark.operators.tsmath import periodogram

    ev = load_table(spark, sf_dir, "events")
    step = 3600 * NS
    s = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.expr(f"((`ts_ns` - pmod(`ts_ns`, {step}L)) "
                   f"div {step}L) * 3600").cast("long")
            .alias("bucket_ts"),
            F.col("value").cast("decimal(18,2)").alias("v"))
        .groupBy("bucket_ts")
        .agg((F.sum("v").cast("double") / F.count("v")).alias("value"))
    )
    return periodogram(s, interval=3600, max_freq=40)


SQL_PERIODOGRAM_HOURLY_CLICKS = """
WITH a AS (
  SELECT (epoch_ns(ts) // 3600000000000) * 3600 AS bucket_ts,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
         / COUNT(value) AS v
  FROM events WHERE event_type = 'click' GROUP BY 1
),
st AS (
  SELECT MIN(bucket_ts) AS t0, MAX(bucket_ts) AS t1,
         CAST(SUM(CAST(v AS DECIMAL(30,12))) AS DOUBLE) / COUNT(v) AS m,
         CAST(COUNT(v) AS BIGINT) AS n
  FROM a
),
b AS (
  SELECT CAST((a.bucket_ts - st.t0) // 3600 AS BIGINT) AS t,
         CAST((st.t1 - st.t0) // 3600 + 1 AS BIGINT) AS nspan,
         a.v - st.m AS d, st.n AS n
  FROM a CROSS JOIN st
),
k AS (SELECT CAST(unnest(range(1, 41)) AS INTEGER) AS freq),
terms AS (
  SELECT k.freq, b.n, b.nspan,
         b.d * cos(2 * pi() * CAST((k.freq * b.t) % b.nspan AS DOUBLE)
                   / CAST(b.nspan AS DOUBLE)) AS c,
         b.d * sin(2 * pi() * CAST((k.freq * b.t) % b.nspan AS DOUBLE)
                   / CAST(b.nspan AS DOUBLE)) AS s
  FROM b CROSS JOIN k
)
SELECT freq, MAX(n) AS n,
       ROUND(CAST(MAX(nspan) AS DOUBLE) / CAST(freq AS DOUBLE), 6) + 0.0
         AS period,
       ROUND((ROUND(SUM(c), 6) * ROUND(SUM(c), 6)
              + ROUND(SUM(s), 6) * ROUND(SUM(s), 6)) / MAX(n), 6) + 0.0
         AS power
FROM terms GROUP BY freq
"""


def q_ljung_box_daily_by_type(spark, sf_dir):
    """Ljung–Box whiteness of the daily mean per event_type
    (operators/tsmath.py ljung_box) — the residual-structure gate
    that closes the trend/season toolkit: theil_sen gives the slope,
    mann_kendall its significance, and this says whether anything
    beyond noise remains at lags 1..10.  r rounds before it squares
    into Q on BOTH engines, so the cumulative statistic accumulates
    identical summands."""
    from loudml_spark.operators.tsmath import ljung_box

    return ljung_box(
        _daily_mean_by_type(spark, sf_dir),
        by=["event_type"], interval=86400, max_lag=10)


SQL_LJUNG_BOX_DAILY_BY_TYPE = f"""
WITH {_SQL_DAILY_MEAN_BY_TYPE},
st AS (
  SELECT event_type,
         CAST(SUM(CAST(value AS DECIMAL(30,12))) AS DOUBLE)
         / COUNT(value) AS m,
         CAST(COUNT(value) AS BIGINT) AS n
  FROM daily GROUP BY 1
),
b AS (
  SELECT d.event_type, d.bucket_ts, d.value - st.m AS dd, st.n AS n
  FROM daily d JOIN st USING (event_type)
),
den AS (
  SELECT event_type, SUM(dd * dd) AS ss, MAX(n) AS n
  FROM b GROUP BY 1
),
lags AS (SELECT CAST(unnest(range(1, 11)) AS INTEGER) AS lag),
num AS (
  SELECT a.event_type, lags.lag, SUM(a.dd * c.dd) AS num
  FROM b a
  CROSS JOIN lags
  JOIN b c ON c.event_type = a.event_type
          AND c.bucket_ts = a.bucket_ts + lags.lag * 86400
  GROUP BY 1, 2
),
r AS (
  SELECT nm.event_type, nm.lag, den.n,
         ROUND(nm.num / NULLIF(den.ss, 0), 6) + 0.0 AS r
  FROM num nm JOIN den USING (event_type)
),
q AS (
  SELECT event_type, lag, n, r,
         ROUND(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2.0)
               * SUM(r * r / (CAST(n AS DOUBLE) - CAST(lag AS DOUBLE)))
                 OVER (PARTITION BY event_type ORDER BY lag), 6) + 0.0
           AS q_stat,
         ROUND(CAST([3.841, 5.991, 7.815, 9.488, 11.070, 12.592, 14.067,
                     15.507, 16.919, 18.307][lag] AS DOUBLE), 6) + 0.0
           AS q_crit
  FROM r
)
SELECT event_type, lag, n, r, q_stat, q_crit,
       q_stat <= q_crit AS white
FROM q
"""


BROWN_ALPHA = 0.5
BROWN_N_LAGS = 16


def q_brown_forecast_daily(spark, sf_dir):
    """Brown double-exponential-smoothing 7-day forecast per
    event_type (operators/tsmath.py brown_forecast) — the
    trend-aware classical forecaster between the naive baselines and
    the learned models.  Both smoothing passes reuse ewma_trunc's
    renormalized truncation with literals shared by the SQL mirror,
    so s1/s2 are bit-identical and yhat rounds trivially."""
    from loudml_spark.operators.tsmath import brown_forecast

    return brown_forecast(
        _daily_mean_by_type(spark, sf_dir), interval=86400,
        horizon=7, alpha=BROWN_ALPHA, n_lags=BROWN_N_LAGS,
        by=["event_type"])


def _sql_brown_forecast_daily(sf_dir=None) -> str:
    from loudml_spark.operators.tsmath import ewma_trunc_sql

    e1 = ewma_trunc_sql("value", BROWN_N_LAGS, alpha=BROWN_ALPHA)
    e2 = ewma_trunc_sql("s1", BROWN_N_LAGS, alpha=BROWN_ALPHA)
    slope_lit = f"CAST({BROWN_ALPHA / (1.0 - BROWN_ALPHA)!r} AS DOUBLE)"
    return f"""
WITH {_SQL_DAILY_MEAN_BY_TYPE},
t1 AS (
  SELECT event_type, bucket_ts, value, {e1} AS s1
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY bucket_ts)
),
t2 AS (
  SELECT event_type, bucket_ts, s1, {e2} AS s2
  FROM t1
  WINDOW w AS (PARTITION BY event_type ORDER BY bucket_ts)
),
lastrow AS (
  SELECT event_type, bucket_ts, s1, s2 FROM t2
  QUALIFY row_number() OVER (PARTITION BY event_type
                             ORDER BY bucket_ts DESC) = 1
),
h AS (SELECT CAST(unnest(range(1, 8)) AS INTEGER) AS h)
SELECT l.event_type AS event_type, h.h AS h,
       l.bucket_ts + h.h * 86400 AS forecast_ts,
       ROUND((CAST(2.0 AS DOUBLE) * l.s1 - l.s2)
             + CAST(h.h AS DOUBLE)
               * ({slope_lit} * (l.s1 - l.s2)), 6) AS yhat
FROM lastrow l CROSS JOIN h
"""


def q_conformal_naive_daily(spark, sf_dir):
    """Split-conformal prediction intervals for the naive daily
    forecaster per event_type (operators/tsmath.py conformal_naive):
    the band half-width at horizon h is the ⌈(n+1)(1−α)⌉-th smallest
    historical h-step absolute error — an order statistic, so the
    ≥ 90% coverage guarantee is distribution-free and finite-sample
    (the modern counterpart to the reference's Gaussian ±3σ bands).
    The rank computes in exact integer arithmetic; the scores are
    plain differences of the DECIMAL-exact series — no rounding
    schedule needed."""
    from loudml_spark.operators.tsmath import conformal_naive

    return conformal_naive(
        _daily_mean_by_type(spark, sf_dir), interval=86400,
        horizon=7, alpha_num=1, alpha_den=10, by=["event_type"])


SQL_CONFORMAL_NAIVE_DAILY = f"""
WITH {_SQL_DAILY_MEAN_BY_TYPE},
h AS (SELECT CAST(unnest(range(1, 8)) AS INTEGER) AS h),
res AS (
  SELECT a.event_type, h.h, ABS(b.value - a.value) AS r
  FROM daily a CROSS JOIN h
  JOIN daily b ON b.event_type = a.event_type
              AND b.bucket_ts = a.bucket_ts + h.h * 86400
),
ranked AS (
  SELECT event_type, h, r,
         row_number() OVER (PARTITION BY event_type, h ORDER BY r)
           AS rn,
         COUNT(*) OVER (PARTITION BY event_type, h) AS n
  FROM res
),
qv AS (
  SELECT event_type, h,
         MAX(CASE WHEN rn = ((n + 1) * 9 + 9) // 10 THEN r END) AS q,
         MAX(n) AS n_cal
  FROM ranked GROUP BY 1, 2
),
lastrow AS (
  SELECT event_type, bucket_ts AS xt, value AS yt FROM daily
  QUALIFY row_number() OVER (PARTITION BY event_type
                             ORDER BY bucket_ts DESC) = 1
)
SELECT qv.event_type AS event_type, qv.h AS h,
       l.xt + qv.h * 86400 AS forecast_ts,
       ROUND(l.yt, 6) + 0.0 AS yhat,
       ROUND(qv.q, 6) + 0.0 AS q,
       ROUND(l.yt - qv.q, 6) + 0.0 AS lower,
       ROUND(l.yt + qv.q, 6) + 0.0 AS upper,
       CAST(qv.n_cal AS BIGINT) AS n_cal
FROM qv JOIN lastrow l USING (event_type)
"""


PH_DELTA = 0.5
PH_LAM = 30.0


def q_page_hinkley_daily(spark, sf_dir):
    """Page–Hinkley sequential drift test on the daily mean per
    event_type — the reference-level-free companion to the CUSUM
    query: deviations accumulate against the RUNNING mean, alarm
    when the statistic exceeds its running minimum by λ
    (operators/tsmath.py page_hinkley; prefix closed form, pure
    window algebra).  ph rounds at 6 for display; the decision is on
    the raw statistic — the CUSUM query's convention."""
    from loudml_spark.operators.tsmath import page_hinkley

    out = page_hinkley(
        _daily_mean_by_type(spark, sf_dir), value_col="value",
        delta=PH_DELTA, lam=PH_LAM, by=["event_type"])
    return out.select(
        "event_type", "bucket_ts", "value",
        (F.round(F.col("ph"), 6) + F.lit(0.0)).alias("ph"),
        "is_change")


SQL_PAGE_HINKLEY_DAILY = f"""
WITH {_SQL_DAILY_MEAN_BY_TYPE},
s AS (
  SELECT event_type, bucket_ts, value,
         value - AVG(value) OVER (
           PARTITION BY event_type ORDER BY bucket_ts
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - {PH_DELTA!r} AS dev
  FROM daily
),
m AS (
  SELECT event_type, bucket_ts, value,
         SUM(dev) OVER (
           PARTITION BY event_type ORDER BY bucket_ts
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mt
  FROM s
),
g AS (
  SELECT event_type, bucket_ts, value,
         COALESCE(mt - LEAST(MIN(mt) OVER (
           PARTITION BY event_type ORDER BY bucket_ts
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0.0),
           0.0) AS raw_ph
  FROM m
)
SELECT event_type, bucket_ts, value,
       ROUND(raw_ph, 6) + 0.0 AS ph,
       raw_ph > {PH_LAM!r} AS is_change
FROM g
"""


def q_streaming_page_hinkley_daily(spark, sf_dir):
    """The batch Page–Hinkley query executed THROUGH Structured
    Streaming: the daily series staged as 2 ts-range files (→ 2
    micro-batches), the drift statistic carried across batches as
    O(1)-per-key state (streaming/job.py stream_page_hinkley).  The
    state update is the same arithmetic sequence as the batch
    cumulative windows, so the drained rows are bit-identical and
    this query shares the batch query's SQL oracle VERBATIM — the
    CMS-style strongest batch↔streaming parity claim, now for a
    sequential statistic (order matters, not just commutativity)."""
    from loudml_spark.streaming.job import (
        drain_stream_to_df,
        stream_page_hinkley,
    )

    daily = _daily_mean_by_type(spark, sf_dir)
    with _small_shuffle(spark):
        (tmp,) = _stage(spark, sf_dir, "events", "stage_ph",
                        _median_split(daily, "bucket_ts"))
        stream = (
            spark.readStream
            .schema("event_type string, bucket_ts bigint, value double")
            .option("maxFilesPerTrigger", 1).parquet(tmp)
        )
        out = drain_stream_to_df(
            stream_page_hinkley(
                stream, delta=PH_DELTA, lam=PH_LAM),
            ["event_type", "bucket_ts", "value", "ph", "is_change"],
            output_mode="append", prefix="stream_ph",
        )
    return out.select(
        "event_type", "bucket_ts", "value",
        (F.round(F.col("ph"), 6) + F.lit(0.0)).alias("ph"),
        "is_change")


def q_ks_click_vs_view(spark, sf_dir):
    """Two-sample KS drift test between the value distributions of
    click and view events — the binning-free companion to the PSI
    monitor (operators/tsmath.py ks_two_sample).  D and the α=0.05
    verdict are exact integer arithmetic (cross-multiplied ECDF
    fractions; squared critical-value compare in DECIMAL(38,0) /
    HUGEINT) — no sqrt, no float boundary anywhere."""
    from loudml_spark.operators.tsmath import ks_two_sample

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.col("value").cast("decimal(18,2)")
        .cast("double").alias("v"))
    return ks_two_sample(
        ev, value_col="v", group_col="event_type",
        group_a="click", group_b="view")


SQL_KS_CLICK_VS_VIEW = """
WITH base AS (
  SELECT CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS v,
         event_type AS g
  FROM events
  WHERE value IS NOT NULL AND event_type IN ('click', 'view')
),
d AS (
  SELECT v,
         SUM(CASE WHEN g = 'click' THEN 1 ELSE 0 END) AS ca,
         SUM(CASE WHEN g = 'view' THEN 1 ELSE 0 END) AS cb
  FROM base GROUP BY v
),
c AS (
  SELECT SUM(ca) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cuma,
         SUM(cb) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cumb,
         SUM(ca) OVER () AS na,
         SUM(cb) OVER () AS nb
  FROM d
),
agg AS (
  SELECT CAST(MAX(na) AS BIGINT) AS n_a,
         CAST(MAX(nb) AS BIGINT) AS n_b,
         CAST(MAX(ABS(cuma * nb - cumb * na)) AS BIGINT) AS dnum
  FROM c
)
SELECT n_a, n_b,
       ROUND(CAST(dnum AS DOUBLE)
             / NULLIF(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE), 0),
             6) + 0.0 AS d,
       CASE WHEN n_a > 0 AND n_b > 0 THEN
         CAST(dnum AS HUGEINT) * CAST(dnum AS HUGEINT) * 100000000
           > CAST(184443561 AS HUGEINT) * (n_a + n_b) * n_a * n_b
       END AS reject
FROM agg
"""


SR_MA_WINDOW = 3
SR_THRESHOLD = 3.0


def q_spectral_residual_daily(spark, sf_dir):
    """Spectral Residual saliency (Ren et al., KDD 2019) of the
    daily mean per event_type — the modern non-learned anomaly
    detector beside the learned Donut band: one FFT per series, no
    training, saliency relative to the series' own spectral
    background (operators/tsmath.py spectral_residual).  Oracle
    replays the identical shared numpy function on the
    DuckDB-computed DECIMAL-exact series; scores round at 6 dp (FFT
    transcendentals — the repo's parity rule)."""
    from loudml_spark.operators.tsmath import spectral_residual

    return spectral_residual(
        _daily_mean_by_type(spark, sf_dir), ma_window=SR_MA_WINDOW,
        threshold=SR_THRESHOLD, by=["event_type"])


def _sql_spectral_residual_daily(sf_dir=None) -> str:
    import os

    import duckdb

    from loudml_spark.operators.tsmath import spectral_residual_scores
    from loudml_spark.oracle_util import resolve_oracle_sf_dir

    sf = resolve_oracle_sf_dir(sf_dir)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM read_parquet("
        f"'{os.path.join(sf, 'events.parquet')}')")
    rows = con.execute(f"""
WITH {_SQL_DAILY_MEAN_BY_TYPE}
SELECT event_type, bucket_ts, value FROM daily
ORDER BY event_type, bucket_ts
""").fetchall()
    con.close()
    series: dict = {}
    for et, ts, v in rows:
        series.setdefault(et, []).append((int(ts), float(v)))
    vals = []
    for et in sorted(series):
        pts = series[et]
        sal = spectral_residual_scores(
            [v for _, v in pts], ma_window=SR_MA_WINDOW)
        for (ts, _v), s in zip(pts, sal):
            vals.append(
                f"('{et}', {ts}, CAST({s!r} AS DOUBLE), "
                f"{str(s > SR_THRESHOLD).upper()})")
    # `value` joins back from the DECIMAL-exact SQL expression (a
    # python-float literal does not round-trip DuckDB's decimal
    # literal parser bit-exactly — measured one-ulp drift)
    return f"""
WITH {_SQL_DAILY_MEAN_BY_TYPE},
sal(event_type, bucket_ts, saliency, is_anomaly) AS (VALUES
  {", ".join(vals)})
SELECT d.event_type AS event_type, d.bucket_ts AS bucket_ts,
       d.value AS value, s.saliency AS saliency,
       s.is_anomaly AS is_anomaly
FROM daily d
JOIN sal s ON s.event_type = d.event_type
          AND s.bucket_ts = d.bucket_ts
"""


HW_PERIOD = 7
HW_HORIZON = 7
HW_ALPHA, HW_BETA, HW_GAMMA = 0.3, 0.1, 0.2


def q_hw_forecast_daily(spark, sf_dir):
    """Additive Holt–Winters (level + trend + weekly seasonal)
    7-day forecast of the daily mean per event_type — the seasonal
    classical forecaster completing the ladder naive → drift → Brown
    → Holt-Winters → learned models (operators/tsmath.py
    holt_winters_forecast).  The recurrence is keyed applyInPandas
    (genuinely sequential state); the oracle REPLAYS the identical
    shared numpy recurrence on the DuckDB-computed (bit-identical,
    DECIMAL-exact) daily series and inlines the forecasts as
    literals, proving the distributed execution reproduces the
    sequential semantics."""
    from loudml_spark.operators.tsmath import holt_winters_forecast

    return holt_winters_forecast(
        _daily_mean_by_type(spark, sf_dir), interval=86400,
        period=HW_PERIOD, horizon=HW_HORIZON, alpha=HW_ALPHA,
        beta=HW_BETA, gamma=HW_GAMMA, by=["event_type"])


def _sql_hw_forecast_daily(sf_dir=None) -> str:
    import os

    import duckdb

    from loudml_spark.operators.tsmath import hw_fit_forecast
    from loudml_spark.oracle_util import resolve_oracle_sf_dir

    sf = resolve_oracle_sf_dir(sf_dir)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM read_parquet("
        f"'{os.path.join(sf, 'events.parquet')}')")
    rows = con.execute(f"""
WITH {_SQL_DAILY_MEAN_BY_TYPE}
SELECT event_type, bucket_ts, value FROM daily
ORDER BY event_type, bucket_ts
""").fetchall()
    con.close()
    series: dict = {}
    for et, ts, v in rows:
        series.setdefault(et, []).append((int(ts), float(v)))
    vals = []
    for et in sorted(series):
        pts = series[et]
        if len(pts) < 2 * HW_PERIOD:
            continue
        yh = hw_fit_forecast(
            [v for _, v in pts], period=HW_PERIOD,
            horizon=HW_HORIZON, alpha=HW_ALPHA, beta=HW_BETA,
            gamma=HW_GAMMA)
        last_ts = pts[-1][0]
        for h, f in enumerate(yh, 1):
            vals.append(
                f"('{et}', {h}, {last_ts + h * 86400}, "
                f"CAST({f!r} AS DOUBLE))")
    return ("SELECT * FROM (VALUES "
            + ", ".join(vals)
            + ") AS t(event_type, h, forecast_ts, yhat)")


def q_ts_strength_by_type(spark, sf_dir):
    """Hyndman trend/seasonal strength (FPP3 §4.3) of each
    event_type's hourly series, from the keyed additive
    decomposition (operators/tsmath.py decomposition_strength) —
    the series-routing diagnostic: which series deserve a seasonal
    model.  Trend is the DECIMAL-exact MA; seasonal/resid carry the
    6 dp convention; strengths round at 6 with NULLIF/try_divide
    zero-variance parity."""
    from loudml_spark.operators.rollup import rollup_partials
    from loudml_spark.operators.tsmath import (
        decompose_additive, decomposition_strength,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.col("ts_ns").alias("ts"), "value")
    base = rollup_partials(
        ev, value_col="value", interval=3600, ts_col="ts",
        ts_scale=NS, group_by=["event_type"])
    dec = decompose_additive(
        base, period=DECOMP_PERIOD, interval=3600, by=["event_type"])
    return decomposition_strength(dec, by=["event_type"])


SQL_TS_STRENGTH_BY_TYPE = f"""
WITH b AS (
  SELECT event_type,
         (epoch_ns(ts) // {3600 * NS}) * 3600 AS bucket_ts,
         COUNT(value) AS n,
         SUM(CAST(value AS DECIMAL(18,2))) AS sum_dec
  FROM events
  GROUP BY 1, 2
),
t AS (
  SELECT event_type, bucket_ts,
         CAST(sum_dec AS DOUBLE) / n AS value,
         CASE WHEN COUNT(*) OVER wt = 25
              THEN CAST(SUM(sum_dec) OVER wt AS DOUBLE)
                   / SUM(n) OVER wt
         END AS trend
  FROM b
  WINDOW wt AS (PARTITION BY event_type ORDER BY bucket_ts
                ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
),
p AS (
  SELECT event_type, bucket_ts, value, trend,
         (bucket_ts // 3600) % {DECOMP_PERIOD} AS phase,
         value - trend AS detr
  FROM t
),
s AS (
  SELECT event_type, bucket_ts, value, trend,
         ROUND(AVG(detr) OVER (PARTITION BY event_type, phase), 6)
           AS seasonal
  FROM p
),
d AS (
  SELECT event_type, trend, seasonal,
         ROUND(value - trend - seasonal, 6) AS resid
  FROM s WHERE trend IS NOT NULL
)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(GREATEST(0.0, 1.0 - var_pop(resid)
             / NULLIF(var_pop(trend + resid), 0)), 6)
         AS trend_strength,
       ROUND(GREATEST(0.0, 1.0 - var_pop(resid)
             / NULLIF(var_pop(seasonal + resid), 0)), 6)
         AS seasonal_strength
FROM d WHERE resid IS NOT NULL
GROUP BY 1
"""


def q_changepoint_daily_by_type(spark, sf_dir):
    """Mean-shift split point of the daily series per event_type
    (operators/tsmath.py changepoint_mean — binary-segmentation
    step 1, argmax of the centered-cumsum deviation).  Inputs are
    DECIMAL-exact daily means; the statistic rounds at 6 dp
    (windowed-SUM association differs), and the argmax is stable
    because deviation gaps on this series are orders of magnitude
    above float noise (exact ties break to the earliest day in both
    engines via lexicographic (dev, -ts))."""
    from loudml_spark.operators.tsmath import changepoint_mean

    return changepoint_mean(
        _daily_mean_by_type(spark, sf_dir), by=["event_type"])


SQL_CHANGEPOINT_DAILY_BY_TYPE = f"""
WITH {_SQL_DAILY_MEAN_BY_TYPE},
st AS (
  SELECT event_type, bucket_ts,
         ABS(SUM(value) OVER w
             - (CAST(row_number() OVER w2 AS DOUBLE)
                / COUNT(*) OVER (PARTITION BY event_type))
               * SUM(value) OVER (PARTITION BY event_type)) AS dev,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY bucket_ts
               ROWS UNBOUNDED PRECEDING),
         w2 AS (PARTITION BY event_type ORDER BY bucket_ts)
)
SELECT event_type, bucket_ts AS changepoint_ts,
       ROUND(dev, 6) AS statistic,
       CAST(n AS BIGINT) AS n_points
FROM st
QUALIFY row_number() OVER (PARTITION BY event_type
                           ORDER BY dev DESC, bucket_ts ASC) = 1
"""


def q_winsorized_mean_by_type(spark, sf_dir):
    """Tail-tamed mean per event_type: values clipped to their
    per-key [5%, 95%] exact quantiles (operators/tsmath.py
    winsorize — one window shuffle computes both cut points), then
    averaged beside the raw mean.  Cut points interpolate
    identically (percentile ≡ quantile_cont); means round at 6 dp."""
    from loudml_spark.operators.tsmath import winsorize

    ev = load_table(spark, sf_dir, "events") \
        .select("event_type", "value")
    w = winsorize(ev, value_col="value", lower=0.05, upper=0.95,
                  by=["event_type"], out_col="w")
    return w.groupBy("event_type").agg(
        F.count("value").alias("n"),
        F.round(F.avg("value"), 6).alias("mean_raw"),
        F.round(F.avg("w"), 6).alias("mean_winsorized"))


SQL_WINSORIZED_MEAN_BY_TYPE = """
WITH cuts AS (
  SELECT event_type,
         quantile_cont(value, 0.05) AS lo,
         quantile_cont(value, 0.95) AS hi
  FROM events GROUP BY 1
)
SELECT e.event_type AS event_type,
       CAST(COUNT(e.value) AS BIGINT) AS n,
       ROUND(AVG(e.value), 6) AS mean_raw,
       ROUND(AVG(LEAST(GREATEST(e.value, c.lo), c.hi)), 6)
         AS mean_winsorized
FROM events e JOIN cuts c USING (event_type)
GROUP BY 1
"""


def q_dq_audit_lineitem(spark, sf_dir):
    """Data-quality audit of lineitem (operators/validate.py):
    row-local rules fuse into ONE aggregation pass, uniqueness is a
    group-count, the orders foreign key a LEFT join + conditional
    count — the intake gate a daily load runs before anything
    downstream trusts the table.  Output (rule, n_checked,
    n_violations, passed), one row per rule."""
    from loudml_spark.operators.validate import (
        expect, foreign_key, in_range, not_null, unique, validate,
    )

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    return validate(li, [
        not_null("l_orderkey"),
        not_null("l_quantity"),
        in_range("l_discount", 0.0, 0.1),
        in_range("l_quantity", 1.0, 50.0),
        unique("l_orderkey", "l_linenumber"),
        foreign_key("l_orderkey", orders, "o_orderkey"),
        expect("price_positive", F.col("l_extendedprice") > 0),
    ])


SQL_DQ_AUDIT_LINEITEM = """
WITH row_rules AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS v_nn_ok,
         CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS v_nn_qty,
         CAST(SUM(CASE WHEN NOT (l_discount IS NULL
                    OR (l_discount >= 0.0 AND l_discount <= 0.1))
                  THEN 1 ELSE 0 END) AS BIGINT) AS v_rng_disc,
         CAST(SUM(CASE WHEN NOT (l_quantity IS NULL
                    OR (l_quantity >= 1.0 AND l_quantity <= 50.0))
                  THEN 1 ELSE 0 END) AS BIGINT) AS v_rng_qty,
         CAST(SUM(CASE WHEN l_extendedprice > 0 THEN 0 ELSE 1 END)
              AS BIGINT) AS v_price
  FROM lineitem
),
uq AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n,
         CAST(SUM(c - 1) AS BIGINT) AS v
  FROM (SELECT COUNT(*) AS c FROM lineitem
        GROUP BY l_orderkey, l_linenumber)
),
fk AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS v
  FROM (SELECT l_orderkey FROM lineitem WHERE l_orderkey IS NOT NULL) l
  LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
    ON l.l_orderkey = o.o_orderkey
)
SELECT rule, n_checked, n_violations, n_violations = 0 AS passed
FROM (
  SELECT 'not_null(l_orderkey)' AS rule, n AS n_checked,
         v_nn_ok AS n_violations FROM row_rules
  UNION ALL SELECT 'not_null(l_quantity)', n, v_nn_qty FROM row_rules
  UNION ALL SELECT 'in_range(l_discount,0.0,0.1)', n, v_rng_disc
    FROM row_rules
  UNION ALL SELECT 'in_range(l_quantity,1.0,50.0)', n, v_rng_qty
    FROM row_rules
  UNION ALL SELECT 'expect(price_positive)', n, v_price FROM row_rules
  UNION ALL SELECT 'unique(l_orderkey,l_linenumber)', n, v FROM uq
  UNION ALL SELECT 'foreign_key(l_orderkey->o_orderkey)', n, v FROM fk
)
ORDER BY rule
"""


EXT_QUERIES: dict[str, dict] = {
    "xcorr_click_view_1h": {
        "fn": q_xcorr_click_view_1h,
        "oracle": SQL_XCORR_CLICK_VIEW_1H},
    "theil_sen_daily_by_type": {
        "fn": q_theil_sen_daily_by_type,
        "oracle": SQL_THEIL_SEN_DAILY_BY_TYPE},
    "backtest_naive_daily": {
        "fn": q_backtest_naive_daily,
        "oracle": SQL_BACKTEST_NAIVE_DAILY},
    "dq_audit_lineitem": {
        "fn": q_dq_audit_lineitem,
        "oracle": SQL_DQ_AUDIT_LINEITEM},
    "winsorized_mean_by_type": {
        "fn": q_winsorized_mean_by_type,
        "oracle": SQL_WINSORIZED_MEAN_BY_TYPE},
    "survival_view_to_purchase": {
        "fn": q_survival_view_to_purchase,
        "oracle": SQL_SURVIVAL_VIEW_TO_PURCHASE},
    "changepoint_daily_by_type": {
        "fn": q_changepoint_daily_by_type,
        "oracle": SQL_CHANGEPOINT_DAILY_BY_TYPE},
    "ts_strength_by_type": {
        "fn": q_ts_strength_by_type,
        "oracle": SQL_TS_STRENGTH_BY_TYPE},
    "brown_forecast_daily": {
        "fn": q_brown_forecast_daily,
        "oracle_fn": _sql_brown_forecast_daily},
    "hw_forecast_daily": {
        "fn": q_hw_forecast_daily,
        "oracle_fn": _sql_hw_forecast_daily},
    "conformal_naive_daily": {
        "fn": q_conformal_naive_daily,
        "oracle": SQL_CONFORMAL_NAIVE_DAILY},
    "spectral_residual_daily": {
        "fn": q_spectral_residual_daily,
        "oracle_fn": _sql_spectral_residual_daily},
    "ks_click_vs_view": {
        "fn": q_ks_click_vs_view, "oracle": SQL_KS_CLICK_VS_VIEW},
    "page_hinkley_daily": {
        "fn": q_page_hinkley_daily, "oracle": SQL_PAGE_HINKLEY_DAILY},
    "streaming_page_hinkley_daily": {
        "fn": q_streaming_page_hinkley_daily,
        "oracle": SQL_PAGE_HINKLEY_DAILY},
    "acf_hourly_clicks": {
        "fn": q_acf_hourly_clicks,
        "oracle": SQL_ACF_HOURLY_CLICKS},
    "mann_kendall_daily_by_type": {
        "fn": q_mann_kendall_daily_by_type,
        "oracle": SQL_MANN_KENDALL_DAILY_BY_TYPE},
    "periodogram_hourly_clicks": {
        "fn": q_periodogram_hourly_clicks,
        "oracle": SQL_PERIODOGRAM_HOURLY_CLICKS},
    "ljung_box_daily_by_type": {
        "fn": q_ljung_box_daily_by_type,
        "oracle": SQL_LJUNG_BOX_DAILY_BY_TYPE},
    "naive_forecast_daily_by_type": {
        "fn": q_naive_forecast_daily_by_type,
        "oracle": SQL_NAIVE_FORECAST_DAILY_BY_TYPE},
    "cms_heavy_hitters": {
        "fn": q_cms_heavy_hitters,
        "oracle_fn": lambda sf_dir=None: _sql_cms_heavy_hitters(),
    },
    "lttb_hourly_100": {
        "fn": q_lttb_hourly_100,
        "oracle_fn": _sql_lttb_hourly_100,
    },
    "rolling_active_users_24h": {
        "fn": q_rolling_active_users_24h,
        "oracle": SQL_ROLLING_ACTIVE_USERS_24H,
    },
    "stl_anomaly_24x1h": {
        "fn": q_stl_anomaly_24x1h,
        "oracle": SQL_STL_ANOMALY_24X1H,
    },
    "rolling_p95_6x1h": {
        "fn": q_rolling_p95_6x1h,
        "oracle": SQL_ROLLING_P95_6X1H,
    },
    "slo_burn_rate_1h_6h": {
        "fn": q_slo_burn_rate_1h_6h,
        "oracle": SQL_SLO_BURN_RATE_1H_6H,
    },
    "twa_value_by_type": {
        "fn": q_twa_value_by_type,
        "oracle": SQL_TWA_VALUE_BY_TYPE,
    },
    "gap_report_30m": {
        "fn": q_gap_report_30m,
        "oracle": SQL_GAP_REPORT_30M,
    },
    "trailing_counts_2h": {
        "fn": q_trailing_counts_2h,
        "oracle": SQL_TRAILING_COUNTS_2H,
    },
    "funnel_view_click_purchase": {
        "fn": q_funnel_view_click_purchase,
        "oracle": SQL_FUNNEL_VIEW_CLICK_PURCHASE,
    },
    "funnel_latency_vcp": {
        "fn": q_funnel_latency_view_click_purchase,
        "oracle": SQL_FUNNEL_LATENCY_VIEW_CLICK_PURCHASE,
    },
    "cohort_retention_daily": {
        "fn": q_cohort_retention_daily,
        "oracle": SQL_COHORT_RETENTION_DAILY,
    },
    "decile_bins_by_type": {
        "fn": q_decile_bins_by_type,
        "oracle": SQL_DECILE_BINS_BY_TYPE,
    },
    "ts_decompose_24x1h": {
        "fn": q_ts_decompose_24x1h,
        "oracle": SQL_TS_DECOMPOSE_24X1H,
    },
    "scd2_user_tiers": {
        "fn": q_scd2_user_tiers,
        "oracle": SQL_SCD2_USER_TIERS,
    },
    "ts_ewma_6h": {
        "fn": q_ts_ewma_6h,
        "oracle_fn": lambda sf_dir=None: _sql_ts_ewma_6h(),
    },
    "profile_events": {
        "fn": q_profile_events,
        "oracle": SQL_PROFILE_EVENTS,
    },
    "ts_rate_counter_1h": {
        "fn": q_ts_rate_counter_1h,
        "oracle": SQL_TS_RATE_COUNTER_1H,
    },
    "ts_interp_linear_1h": {
        "fn": q_ts_interp_linear_1h,
        "oracle_fn": lambda sf_dir=None: _sql_ts_interp_linear_1h(),
    },
    "ts_cusum_1d": {
        "fn": q_ts_cusum_1d,
        "oracle": SQL_TS_CUSUM_1D,
    },
    "ts_mad_scores_6h": {
        "fn": q_ts_mad_scores_6h,
        "oracle": SQL_TS_MAD_SCORES_6H,
    },
    "sessionize_users_30m": {
        "fn": q_sessionize_users_30m,
        "oracle": SQL_SESSIONIZE_USERS_30M,
    },
    "streaming_sessionize_30m": {
        "fn": q_streaming_sessionize_30m,
        "oracle": SQL_STREAMING_SESSIONIZE_30M,
    },
    "streaming_dedup_events": {
        "fn": q_streaming_dedup_events,
        "oracle": SQL_STREAMING_DEDUP_EVENTS,
    },
    "streaming_join_click_purchase": {
        "fn": q_streaming_join_click_purchase,
        "oracle": SQL_STREAMING_JOIN_CLICK_PURCHASE,
    },
    "sessionize_native_30m": {
        "fn": q_sessionize_native_30m,
        "oracle": SQL_SESSIONIZE_NATIVE_30M,
    },
    "range_join_windows_2h": {
        "fn": q_range_join_windows_2h,
        "oracle": SQL_RANGE_JOIN_WINDOWS_2H,
    },
    "salted_agg_users": {
        "fn": q_salted_agg_users,
        "oracle": SQL_SALTED_AGG_USERS,
    },
    "salted_join_segments": {
        "fn": q_salted_join_segments,
        "oracle": SQL_SALTED_JOIN_SEGMENTS,
    },
    "rollup_1h_6h_1d": {
        "fn": q_rollup_1h_6h_1d,
        "oracle": SQL_ROLLUP_1H_6H_1D,
    },
    "ts_moving_avg_6x1h": {
        "fn": q_ts_moving_avg_6x1h,
        "oracle": SQL_TS_MOVING_AVG_6X1H,
    },
    "histogram_values_by_type": {
        "fn": q_histogram_values_by_type,
        "oracle": SQL_HISTOGRAM_VALUES_BY_TYPE,
    },
    "psi_value_drift_by_type": {
        "fn": q_psi_value_drift_by_type,
        "oracle": SQL_PSI_VALUE_DRIFT_BY_TYPE,
    },
    "distinct_users_daily": {
        "fn": q_distinct_users_daily,
        "oracle": SQL_DISTINCT_USERS_DAILY,
    },
    "approx_distinct_users_daily": {
        "fn": q_approx_distinct_users_daily,
        "oracle": SQL_APPROX_DISTINCT_USERS_DAILY,
    },
    "approx_percentiles_1d": {
        "fn": q_approx_percentiles_1d,
        "oracle": SQL_APPROX_PERCENTILES_1D,
    },
    "token_divergence_en_rest": {
        "fn": q_token_divergence_en_rest,
        "oracle": SQL_TOKEN_DIVERGENCE_EN_REST,
    },
    "rollup_grouping_sets": {
        "fn": q_rollup_grouping_sets,
        "oracle": SQL_ROLLUP_GROUPING_SETS,
    },
    "pivot_types_daily": {
        "fn": q_pivot_types_daily,
        "oracle": SQL_PIVOT_TYPES_DAILY,
    },
    "tpch_q4_priority_semi": {
        "fn": q_tpch_q4_priority_semi,
        "oracle": SQL_TPCH_Q4_PRIORITY_SEMI,
    },
    "orders_no_late_lines_anti": {
        "fn": q_orders_no_late_lines_anti,
        "oracle": SQL_ORDERS_NO_LATE_LINES_ANTI,
    },
    "unpivot_lineitem_measures": {
        "fn": q_unpivot_lineitem_measures,
        "oracle": SQL_UNPIVOT_LINEITEM_MEASURES,
    },
    "bm25_top25_docs": {
        "fn": q_bm25_top25_docs,
        "oracle": SQL_BM25_TOP25_DOCS},
    "lm_perplexity_docs": {
        "fn": q_lm_perplexity_docs,
        "oracle_fn": _sql_lm_perplexity_docs},
    "dsir_weights_docs": {
        "fn": q_dsir_weights_docs,
        "oracle_fn": _sql_dsir_weights_docs},
    "dsir_resample_docs": {
        "fn": q_dsir_resample_docs,
        "oracle_fn": _sql_dsir_resample_docs},
    "textrank_keywords_docs": {
        "fn": q_textrank_keywords_docs,
        "oracle_fn": _sql_textrank_keywords_docs},
    "benford_prices_by_flag": {
        "fn": q_benford_prices_by_flag,
        "oracle_fn": _sql_benford_prices_by_flag},
    "streaming_cms_heavy_hitters": {
        "fn": q_streaming_cms_heavy_hitters,
        # the BATCH sketch oracle verbatim: the streaming execution
        # must reproduce it bit-for-bit (CMS = mergeable integers)
        "oracle_fn": lambda sf_dir=None: _sql_cms_heavy_hitters()},
    "bpe_pairs_docs": {
        "fn": q_bpe_pairs_docs, "oracle": SQL_BPE_PAIRS_DOCS},
    "zipf_fit_vocab": {
        "fn": q_zipf_fit_vocab, "oracle": SQL_ZIPF_FIT_VOCAB},
    "vocab_top100": {
        "fn": q_vocab_top100,
        "oracle": SQL_VOCAB_TOP100,
    },
    "inverted_index_docs": {
        "fn": q_inverted_index_docs,
        "oracle": SQL_INVERTED_INDEX_DOCS,
    },
    "tfidf_top5_per_doc": {
        "fn": q_tfidf_top5_per_doc,
        "oracle": SQL_TFIDF_TOP5_PER_DOC,
    },
}


# ------------------------------------------------ round-9 curation ops


def q_ccnet_ppl_buckets(spark, sf_dir):
    """CCNet-style head/middle/tail perplexity bucketing per
    language (Wenzek et al. 2020; pipeline/corpus.py
    perplexity_buckets): exact per-language tertile cutoffs reduce
    to |langs| rows and join back — no per-language global sort."""
    from loudml_spark.pipeline.corpus import perplexity_buckets

    docs = load_table(spark, sf_dir, "documents")
    return perplexity_buckets(docs, add_k=LM_ADD_K)


def _sql_ccnet_ppl_buckets(sf_dir=None) -> str:
    ppl_sql = _sql_lm_perplexity_docs(sf_dir)
    return f"""
WITH ppl AS ({ppl_sql}),
scored AS (
  SELECT d.doc_id, d.lang, p.ppl
  FROM documents d JOIN ppl p USING (doc_id)
),
cut AS (
  SELECT lang,
         ROUND(quantile_cont(ppl, 1.0/3), 6) AS c1,
         ROUND(quantile_cont(ppl, 2.0/3), 6) AS c2
  FROM scored GROUP BY lang
)
SELECT s.doc_id, s.lang, s.ppl,
       CASE WHEN s.ppl <= c.c1 THEN 'head'
            WHEN s.ppl <= c.c2 THEN 'middle'
            ELSE 'tail' END AS ppl_bucket
FROM scored s JOIN cut c USING (lang)
"""


MIX_MAX_EPOCHS = 1.5
MIX_BUDGET_FACTOR = 1.45


def _mix_budget(sf_dir) -> int:
    """budget = ceil(1.45 × total whitespace tokens) with a 1.5-epoch
    cap — exercises BOTH water-filling branches at every test SF
    (small sources saturate, large ones sit below cap).  Integer,
    computed identically on both engines; 1.5 is dyadic so caps are
    exact doubles."""
    import math
    import os

    import duckdb

    from loudml_spark.oracle_util import resolve_oracle_sf_dir
    sf_dir = resolve_oracle_sf_dir(sf_dir)
    con = duckdb.connect()
    total = con.execute(f"""
SELECT SUM(len(string_split(text, ' ')))
FROM read_parquet('{os.path.join(sf_dir, "documents.parquet")}')
""").fetchone()[0]
    con.close()
    return int(math.ceil(MIX_BUDGET_FACTOR * int(total)))


def q_token_budget_mix_docs(spark, sf_dir):
    """Epoch-capped token-budget mixing across sources (closed-form
    water-filling; pipeline/sampling.py token_budget_mix): one
    aggregation reduces the corpus to |sources| rows, the windows
    run on that bounded dimension frame."""
    from loudml_spark.pipeline.sampling import token_budget_mix

    docs = load_table(spark, sf_dir, "documents")
    return token_budget_mix(
        docs, budget=_mix_budget(sf_dir), max_epochs=MIX_MAX_EPOCHS)


def _sql_token_budget_mix_docs(sf_dir=None) -> str:
    budget = float(_mix_budget(sf_dir))
    return f"""
WITH toks AS (
  SELECT source, CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
           AS tokens
  FROM documents GROUP BY source
),
base AS (
  SELECT source, tokens, {MIX_MAX_EPOCHS!r} * tokens AS cap
  FROM toks
),
cums AS (
  SELECT *,
         COALESCE(SUM(cap) OVER (ORDER BY cap, source
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0)
           AS cum_c,
         COALESCE(COUNT(*) OVER (ORDER BY cap, source
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS n_prev,
         COUNT(*) OVER () AS n_src
  FROM base
),
sat AS (
  SELECT *,
         (cap * (n_src - n_prev) <= {budget!r} - cum_c) AS saturated
  FROM cums
),
lam AS (
  SELECT *,
         {budget!r} - SUM(CASE WHEN saturated THEN cap ELSE 0.0 END)
           OVER () AS rem_budget,
         SUM(CASE WHEN saturated THEN 0 ELSE 1 END) OVER ()
           AS rem_cnt
  FROM sat
)
SELECT source, tokens, ROUND(cap, 6) AS cap, saturated,
       ROUND(CASE WHEN saturated THEN cap
            ELSE LEAST(rem_budget / rem_cnt, cap) END, 6) AS alloc,
       ROUND(CASE WHEN saturated THEN cap
            ELSE LEAST(rem_budget / rem_cnt, cap) END
            / tokens, 6) AS epochs
FROM lam
"""


EXT_QUERIES.update({
    "ccnet_ppl_buckets": {
        "fn": q_ccnet_ppl_buckets, "oracle_fn": _sql_ccnet_ppl_buckets},
    "token_budget_mix_docs": {
        "fn": q_token_budget_mix_docs,
        "oracle_fn": _sql_token_budget_mix_docs},
})


BPE_N_MERGES = 8


def q_bpe_merges_docs(spark, sf_dir):
    """The BPE tokenizer TRAINER over `documents`: 8 merges learned
    by the distributed loop (pipeline/corpus.py bpe_train_merges) —
    one corpus shuffle to the word-frequency table, then vocab-sized
    iterations with a 1-row argmax collect per step."""
    from loudml_spark.pipeline.corpus import bpe_train_merges

    docs = load_table(spark, sf_dir, "documents")
    return bpe_train_merges(docs, n_merges=BPE_N_MERGES)


def _py_bpe_apply(syms: list, a: str, b: str) -> list:
    """Greedy left-to-right application of one merge — the oracle's
    independent implementation (plain lists, no Spark)."""
    out, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _py_bpe_train(sf_dir) -> list:
    """INDEPENDENT plain-Python BPE trainer over the same word
    frequencies read via DuckDB.  Same argmax tie-break (n desc,
    left asc, right asc), same overlapping adjacent-pair counting,
    same greedy left-to-right application as the Spark operator.
    Returns [(step, "a b", n, "ab"), ...]."""
    import os

    import duckdb

    from loudml_spark.oracle_util import resolve_oracle_sf_dir
    d = resolve_oracle_sf_dir(sf_dir)
    con = duckdb.connect()
    wf = con.execute(f"""
WITH tok AS (
  SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
  FROM read_parquet('{os.path.join(d, "documents.parquet")}')
)
SELECT w, COUNT(*) AS c FROM tok GROUP BY 1""").fetchall()
    con.close()
    words = [(list(w), int(c)) for w, c in wf]
    rows = []
    for step in range(BPE_N_MERGES):
        counts: dict = {}
        for syms, c in words:
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] = counts.get(
                    (syms[i], syms[i + 1]), 0) + c
        if not counts:
            break
        (a, b), n = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        words = [(_py_bpe_apply(syms, a, b), c) for syms, c in words]
        rows.append((step, f"{a} {b}", n, a + b))
    return rows


def _sql_bpe_merges_docs(sf_dir=None) -> str:
    """Data-derived oracle: the independent Python trainer's merge
    table as a VALUES literal (see _py_bpe_train)."""
    rows = _py_bpe_train(sf_dir)
    values = ", ".join(
        f"({s}, '{p}', {n}, '{ns}')" for s, p, n, ns in rows)
    return f"""
SELECT CAST(step AS INTEGER) AS step, pair,
       CAST(n AS BIGINT) AS n, new_symbol
FROM (VALUES {values}) AS t(step, pair, n, new_symbol)
"""


EXT_QUERIES.update({
    "bpe_merges_docs": {
        "fn": q_bpe_merges_docs, "oracle_fn": _sql_bpe_merges_docs},
})


def _bpe_merges(spark, sf_dir):
    """Learn the merge list once per (app, sf) — the trained-model
    cache idiom (same as the classifier weights / Bloom words)."""
    from loudml_spark.pipeline.corpus import bpe_train_merges

    def train():
        rows = bpe_train_merges(
            load_table(spark, sf_dir, "documents"),
            n_merges=BPE_N_MERGES).collect()
        return [tuple(r["pair"].split(" ")) for r in rows]
    return session_cache.memo(spark, "bpe_merges", train,
                              table_path(sf_dir, "documents"))


def q_bpe_encode_docs(spark, sf_dir):
    """Apply the trained BPE merges corpus-wide (pipeline/corpus.py
    bpe_encode): per-doc symbol count + compression under the learned
    vocabulary.  Each distinct word encodes once (vocab-frame folds),
    then joins back on the token key."""
    from loudml_spark.pipeline.corpus import bpe_encode

    docs = load_table(spark, sf_dir, "documents")
    return bpe_encode(docs, _bpe_merges(spark, sf_dir))


def _sql_bpe_encode_docs(sf_dir=None) -> str:
    """Data-derived oracle: the merges come from the independent
    Python trainer (see _sql_bpe_merges_docs); each DISTINCT word is
    encoded by an independent Python greedy loop and emitted as a
    vocab-sized VALUES table; the per-doc rollup is then pure SQL
    over the same tokenization."""
    import os

    import duckdb

    from loudml_spark.oracle_util import resolve_oracle_sf_dir
    d = resolve_oracle_sf_dir(sf_dir)
    con = duckdb.connect()
    wf = con.execute(f"""
WITH tok AS (
  SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
  FROM read_parquet('{os.path.join(d, "documents.parquet")}')
)
SELECT DISTINCT w FROM tok""").fetchall()
    con.close()
    merges = [p.split(" ") for _, p, _, _ in _py_bpe_train(sf_dir)]
    enc_rows = []
    for (w,) in wf:
        syms = list(w)
        for a, b in merges:
            syms = _py_bpe_apply(syms, a, b)
        enc_rows.append((w, len(w), len(syms)))
    values = ", ".join(
        f"('{w}', {ln}, {ns})" for w, ln, ns in enc_rows)
    return f"""
WITH enc(token, len, ns) AS (VALUES {values}),
tok AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(text), '[a-z]+')) AS token
  FROM documents
),
per_doc AS (
  SELECT t.doc_id,
         CAST(SUM(e.len) AS BIGINT) AS n_chars,
         CAST(SUM(e.ns) AS BIGINT) AS n_syms
  FROM tok t JOIN enc e USING (token)
  GROUP BY t.doc_id
)
SELECT d.doc_id,
       COALESCE(p.n_chars, 0) AS n_chars,
       COALESCE(p.n_syms, 0) AS n_syms,
       CASE WHEN p.n_syms > 0 THEN p.n_chars / p.n_syms END
         AS chars_per_token
FROM documents d LEFT JOIN per_doc p USING (doc_id)
"""


EXT_QUERIES.update({
    "bpe_encode_docs": {
        "fn": q_bpe_encode_docs, "oracle_fn": _sql_bpe_encode_docs},
})


def q_bpe_fertility_by_lang(spark, sf_dir):
    """Tokenizer fertility audit under the trained BPE merges
    (pipeline/corpus.py bpe_fertility): subword tokens per word and
    chars per token BY LANGUAGE — the multilingual-equity check
    (Ács 2019): a tokenizer that fragments one language 2× more
    than another halves its effective context window."""
    from loudml_spark.pipeline.corpus import bpe_fertility

    docs = load_table(spark, sf_dir, "documents")
    return bpe_fertility(docs, _bpe_merges(spark, sf_dir), by="lang")


def _sql_bpe_fertility_by_lang(sf_dir=None) -> str:
    """Data-derived oracle: the independent Python trainer+encoder's
    per-word symbol counts as a VALUES table (see
    _sql_bpe_encode_docs); the per-language rollup is pure SQL over
    the same tokenization — ratios of exact integer sums."""
    import os

    import duckdb

    from loudml_spark.oracle_util import resolve_oracle_sf_dir
    d = resolve_oracle_sf_dir(sf_dir)
    con = duckdb.connect()
    wf = con.execute(f"""
WITH tok AS (
  SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
  FROM read_parquet('{os.path.join(d, "documents.parquet")}')
)
SELECT DISTINCT w FROM tok""").fetchall()
    con.close()
    merges = [p.split(" ") for _, p, _, _ in _py_bpe_train(sf_dir)]
    enc_rows = []
    for (w,) in wf:
        syms = list(w)
        for a, b in merges:
            syms = _py_bpe_apply(syms, a, b)
        enc_rows.append((w, len(w), len(syms)))
    values = ", ".join(
        f"('{w}', {ln}, {ns})" for w, ln, ns in enc_rows)
    return f"""
WITH enc(token, len, ns) AS (VALUES {values}),
tok AS (
  SELECT doc_id, lang,
         unnest(regexp_extract_all(lower(text), '[a-z]+')) AS token
  FROM documents
)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(e.len) AS BIGINT) AS n_chars,
       CAST(SUM(e.ns) AS BIGINT) AS n_syms,
       ROUND(SUM(e.ns) / COUNT(*), 6) AS fertility,
       ROUND(SUM(e.len) / SUM(e.ns), 6) AS chars_per_token
FROM tok JOIN enc e USING (token)
GROUP BY lang
"""


EXT_QUERIES.update({
    "bpe_fertility_by_lang": {
        "fn": q_bpe_fertility_by_lang,
        "oracle_fn": _sql_bpe_fertility_by_lang},
})


def q_doremi_weights_docs(spark, sf_dir):
    """One-shot DoReMi-style domain reweighting
    (pipeline/sampling.py excess_loss_weights): per-source mean
    unigram perplexity vs the corpus baseline; sources with excess
    loss get exp-boosted mixture weights.  The corpus reduces to
    |sources| rows in one map-side-combined pass."""
    from loudml_spark.pipeline.corpus import lm_perplexity
    from loudml_spark.pipeline.sampling import excess_loss_weights

    docs = load_table(spark, sf_dir, "documents")
    ppl = lm_perplexity(docs, add_k=LM_ADD_K)
    scored = docs.select("doc_id", "source").join(ppl, "doc_id")
    return excess_loss_weights(
        scored, domain_col="source", loss_col="ppl",
        size_col="n_tokens", eta=1.0)


def _sql_doremi_weights_docs(sf_dir=None) -> str:
    ppl_sql = _sql_lm_perplexity_docs(sf_dir)
    return f"""
WITH ppl AS ({ppl_sql}),
scored AS (
  SELECT d.doc_id, d.source, p.n_tokens, p.ppl
  FROM documents d JOIN ppl p USING (doc_id)
),
g AS (
  SELECT ROUND(CAST(SUM(CAST(ROUND(ppl, 6) AS DECIMAL(18,6)))
               AS DOUBLE) / COUNT(*), 6) AS baseline,
         SUM(n_tokens) AS tok
  FROM scored
),
per AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
         ROUND(CAST(SUM(CAST(ROUND(ppl, 6) AS DECIMAL(18,6)))
               AS DOUBLE) / COUNT(*), 6) AS mean_loss
  FROM scored GROUP BY source
),
x AS (
  SELECT p.source, p.n_docs, p.n_tokens, p.mean_loss,
         ROUND(greatest(p.mean_loss - g.baseline, 0.0), 6) AS excess,
         ROUND(p.n_tokens / CAST(g.tok AS DOUBLE), 9) AS share,
         g.baseline
  FROM per p, g
),
s AS (
  SELECT source, n_docs, n_tokens, mean_loss, excess, share,
         ROUND(share * ROUND(exp(1.0 * excess / baseline), 9), 9)
           AS score
  FROM x
)
SELECT source, n_docs, n_tokens, mean_loss, excess, share,
       ROUND(score / CAST(SUM(CAST(score AS DECIMAL(28,9)))
             OVER () AS DOUBLE), 9) AS weight
FROM s
"""


EXT_QUERIES.update({
    "doremi_weights_docs": {
        "fn": q_doremi_weights_docs,
        "oracle_fn": _sql_doremi_weights_docs},
})


# ------------------------------------------------- basket / markov (r10)

ASSOC_MIN_COUNT = 20
DAY_NS = 86400 * NS


def q_assoc_rules_events(spark, sf_dir):
    """A-Priori association rules over (user, day) baskets of the
    props-k decile item (operators/basket.py assoc_rules): frequent
    items prune first, the pair step is a basket-key equi-join, and
    supports/basket-count ride as broadcast dimension frames.  The
    reference has no basket analytics (bucket.py is per-metric
    aggregation only); Agrawal & Srikant, VLDB 1994."""
    from loudml_spark.operators.basket import assoc_rules

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.expr(f"(`ts_ns` div {DAY_NS}L) * 86400")
        .cast("long").alias("day_ts"),
        F.regexp_extract("props", '"k":\\s*(\\d+)', 1)
        .cast("int").alias("k"),
    ).withColumn("item", F.expr("k div 10").cast("int"))
    return assoc_rules(
        ev, basket_cols=["user_id", "day_ts"], item_col="item",
        min_count=ASSOC_MIN_COUNT)


SQL_ASSOC_RULES_EVENTS = f"""
WITH ev AS (
  SELECT user_id,
         (epoch_ns(ts) // {DAY_NS}) * 86400 AS day_ts,
         CAST(TRY_CAST(regexp_extract(props, '"k":\\s*(\\d+)', 1)
                       AS INTEGER) // 10 AS INTEGER) AS item
  FROM events
),
baskets AS (
  SELECT DISTINCT user_id, day_ts, item FROM ev WHERE item IS NOT NULL
),
supp AS (SELECT item, COUNT(*) AS n_item FROM baskets GROUP BY item),
freq AS (SELECT item FROM supp WHERE n_item >= {ASSOC_MIN_COUNT}),
nb AS (SELECT COUNT(*) AS n_baskets
       FROM (SELECT DISTINCT user_id, day_ts FROM baskets)),
pruned AS (SELECT b.* FROM baskets b JOIN freq f USING (item)),
pairs AS (
  SELECT a.item AS item_a, b.item AS item_b, COUNT(*) AS n_pair
  FROM pruned a JOIN pruned b
    ON a.user_id = b.user_id AND a.day_ts = b.day_ts
   AND a.item < b.item
  GROUP BY 1, 2 HAVING COUNT(*) >= {ASSOC_MIN_COUNT}
),
directed AS (
  SELECT item_a AS antecedent, item_b AS consequent, n_pair FROM pairs
  UNION ALL
  SELECT item_b, item_a, n_pair FROM pairs
)
SELECT d.antecedent, d.consequent, d.n_pair,
       sa.n_item AS n_ante, sc.n_item AS n_cons,
       ROUND(d.n_pair / CAST(nb.n_baskets AS DOUBLE), 6) AS support,
       ROUND(d.n_pair / CAST(sa.n_item AS DOUBLE), 6) AS confidence,
       ROUND((d.n_pair / CAST(sa.n_item AS DOUBLE))
             / (sc.n_item / CAST(nb.n_baskets AS DOUBLE)), 6) AS lift
FROM directed d
JOIN supp sa ON sa.item = d.antecedent
JOIN supp sc ON sc.item = d.consequent
CROSS JOIN nb
"""


def q_event_transitions_users(spark, sf_dir):
    """First-order Markov transition matrix of event types per user
    (operators/basket.py event_transitions): one shuffle on the user
    key, one lag window (event_id breaks timestamp ties), then the
    bounded |S|x|S| matrix with row-normalized probabilities."""
    from loudml_spark.operators.basket import event_transitions

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts_ns", "event_id")
    return event_transitions(
        ev, state_col="event_type", ts_col="ts_ns", by=["user_id"],
        tie_col="event_id")


SQL_EVENT_TRANSITIONS_USERS = """
WITH t AS (
  SELECT user_id, event_type AS state,
         lag(event_type) OVER (
           PARTITION BY user_id ORDER BY epoch_ns(ts), event_id
         ) AS prev_state
  FROM events
)
SELECT prev_state, state, COUNT(*) AS n,
       ROUND(COUNT(*) / CAST(SUM(COUNT(*)) OVER (
         PARTITION BY prev_state) AS DOUBLE), 6) AS p
FROM t WHERE prev_state IS NOT NULL
GROUP BY prev_state, state
"""


EXT_QUERIES.update({
    "assoc_rules_events": {
        "fn": q_assoc_rules_events,
        "oracle": SQL_ASSOC_RULES_EVENTS},
    "event_transitions_users": {
        "fn": q_event_transitions_users,
        "oracle": SQL_EVENT_TRANSITIONS_USERS},
})


# --------------------------------------------- kmv / zorder stats (r10)

KMV_K = 32


def q_kmv_distinct_users_daily(spark, sf_dir):
    """KMV distinct-count sketch per day (operators/sketch.py): the
    k-minimum-values estimate is a deterministic function of a
    portable md5-derived hash, so — unlike the HLL anchor, which can
    only value-match a bound verdict — the ESTIMATE itself
    cross-checks bit-for-bit against the SQL reconstruction."""
    from loudml_spark.operators.sketch import kmv_distinct

    ev = load_table(spark, sf_dir, "events").select(
        F.expr(f"(`ts_ns` div {DAY_NS}L) * 86400")
        .cast("long").alias("day_ts"),
        "user_id",
    ).where(F.col("user_id").isNotNull())
    return kmv_distinct(
        ev, key_col="user_id", by=["day_ts"], k=KMV_K)


def _sql_kmv_distinct_users_daily() -> str:
    from loudml_spark.operators.sketch import sql_kmv_hash

    h = sql_kmv_hash("user_id")
    est = (f"CASE WHEN n_exact < {KMV_K} THEN CAST(n_exact AS DOUBLE) "
           f"ELSE {float(KMV_K - 1)!r} * 1152921504606846976.0 "
           f"/ CAST(kth_hash AS DOUBLE) END")
    return f"""
WITH h AS (
  SELECT DISTINCT (epoch_ns(ts) // {86400 * NS}) * 86400 AS day_ts,
         {h} AS h
  FROM events WHERE user_id IS NOT NULL
),
r AS (
  SELECT day_ts, h,
         ROW_NUMBER() OVER (PARTITION BY day_ts ORDER BY h) AS rn
  FROM h WHERE h IS NOT NULL
),
g AS (
  SELECT day_ts, COUNT(*) AS n_exact,
         MAX(CASE WHEN rn = {KMV_K} THEN h END) AS kth_hash
  FROM r GROUP BY day_ts
)
SELECT day_ts, n_exact, kth_hash,
       ROUND({est}, 6) AS est_kmv,
       ROUND(ABS(({est}) - n_exact) / n_exact, 6) AS rel_err
FROM g
"""


SQL_KMV_DISTINCT_USERS_DAILY = _sql_kmv_distinct_users_daily()


ZORDER_BITS = 8
ZORDER_DIMS = (("l_quantity", 1.0, 50.0),
               ("l_extendedprice", 900.0, 105000.0))


def q_zorder_locality_lineitem(spark, sf_dir):
    """Z-order layout locality stats: bucket lineitem by the top 8
    interleaved bits of the (quantity, price) Morton key
    (sources/layout.py zorder_value — the write_zordered clustering
    key) and report each bucket's min/max span per dimension.  The
    narrow per-bucket spans ARE the file-skipping argument: after a
    z-ordered write every parquet footer is selective on BOTH
    columns at once.  Pure integer Column arithmetic; the oracle
    re-derives the identical key from the same double math."""
    from loudml_spark.sources.layout import zorder_value

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_quantity", "l_extendedprice")
    z = zorder_value(list(ZORDER_DIMS), bits=ZORDER_BITS)
    return (
        li.withColumn("z_bucket", F.shiftright(z, 8))
        .groupBy("z_bucket")
        .agg(
            F.count("*").alias("n"),
            F.min("l_quantity").alias("qty_min"),
            F.max("l_quantity").alias("qty_max"),
            F.min("l_extendedprice").alias("price_min"),
            F.max("l_extendedprice").alias("price_max"),
        )
        .withColumn("qty_span", F.col("qty_max") - F.col("qty_min"))
        .withColumn("price_span",
                    F.col("price_max") - F.col("price_min"))
    )


def _sql_zorder_locality_lineitem() -> str:
    top = (1 << ZORDER_BITS) - 1
    qs = []
    for c, lo, hi in ZORDER_DIMS:
        pos = f"(({c} - {lo!r}) / {hi - lo!r})"
        qs.append(
            f"CAST(floor(least(greatest({pos}, 0.0), 1.0) * {top}) "
            f"AS BIGINT)")
    terms = []
    for b in range(ZORDER_BITS):
        for i, q in enumerate(qs):
            terms.append(f"((q{i} // {1 << b}) % 2) * {1 << (b * 2 + i)}")
    z = " + ".join(terms)
    return f"""
WITH q AS (
  SELECT l_quantity, l_extendedprice,
         {qs[0]} AS q0, {qs[1]} AS q1
  FROM lineitem
),
z AS (
  SELECT l_quantity, l_extendedprice, ({z}) // 256 AS z_bucket
  FROM q
)
SELECT z_bucket, COUNT(*) AS n,
       MIN(l_quantity) AS qty_min, MAX(l_quantity) AS qty_max,
       MIN(l_extendedprice) AS price_min,
       MAX(l_extendedprice) AS price_max,
       MAX(l_quantity) - MIN(l_quantity) AS qty_span,
       MAX(l_extendedprice) - MIN(l_extendedprice) AS price_span
FROM z GROUP BY z_bucket
"""


SQL_ZORDER_LOCALITY_LINEITEM = _sql_zorder_locality_lineitem()


EXT_QUERIES.update({
    "kmv_distinct_users_daily": {
        "fn": q_kmv_distinct_users_daily,
        "oracle": SQL_KMV_DISTINCT_USERS_DAILY},
    "zorder_locality_lineitem": {
        "fn": q_zorder_locality_lineitem,
        "oracle": SQL_ZORDER_LOCALITY_LINEITEM},
})


# --------------------------------------------------- rank fusion (r10)

RRF_K0 = 60
RRF_TOP = 10


def q_rrf_bm25_tfidf_docs(spark, sf_dir):
    """Reciprocal Rank Fusion (pipeline/corpus.py rrf_fuse, Cormack
    2009) of two retrieval runs for the same literal query terms:
    the Okapi BM25 top-25 and a smoothed-TF-IDF query-term-sum
    top-25 — the calibration-free way to merge rankers whose raw
    scores live on different scales.  Both runs are bounded top-k
    frames, so fusion is two 25-row equi-joins; each reciprocal term
    rounds at 6dp and sums as DECIMAL (order-independent, portable)."""
    from pyspark.sql import Window

    from loudml_spark.pipeline.corpus import bm25_scores, rrf_fuse, tf_idf

    docs = load_table(spark, sf_dir, "documents")
    bm = bm25_scores(
        docs, BM25_TERMS, k1=BM25_K1, b=BM25_B, top_k=BM25_TOP_K)
    wa = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    run_a = bm.withColumn("rank", F.row_number().over(wa))
    ti = (
        tf_idf(docs)
        .filter(F.col("token").isin(list(BM25_TERMS)))
        .groupBy("doc_id")
        .agg((F.sum(F.round("tfidf", 6).cast("decimal(18,6)"))
              .cast("double") + F.lit(0.0)).alias("score")))
    wb = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    run_b = (
        ti.withColumn("rank", F.row_number().over(wb))
        .filter(F.col("rank") <= BM25_TOP_K))
    return rrf_fuse([run_a, run_b], k0=RRF_K0, top_k=RRF_TOP)


SQL_RRF_BM25_TFIDF_DOCS = f"""
WITH bm AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC)
              AS BIGINT) AS r
  FROM ({SQL_BM25_TOP25_DOCS}) t
),
tok AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(text), '[a-z]+')) AS token
  FROM documents
),
per_doc AS (
  SELECT doc_id, token, COUNT(*) AS tf
  FROM tok GROUP BY doc_id, token
),
lens AS (
  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS doc_len
  FROM per_doc GROUP BY doc_id
),
dfreq AS (
  SELECT token, COUNT(*) AS df FROM per_doc GROUP BY token
),
nn AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
ti AS (
  SELECT p.doc_id,
         CAST(SUM(CAST(ROUND(
             (CAST(p.tf AS DOUBLE) / l.doc_len)
             * (ln((1.0 + nn.n_docs) / (1.0 + d.df)) + 1.0),
             6) AS DECIMAL(18,6))) AS DOUBLE) + 0.0 AS score
  FROM per_doc p
  JOIN lens l USING (doc_id)
  JOIN dfreq d USING (token)
  CROSS JOIN nn
  WHERE p.token IN ({_BM25_IN})
  GROUP BY p.doc_id
),
tf_run AS (
  SELECT doc_id, r FROM (
    SELECT doc_id,
           CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC)
                AS BIGINT) AS r
    FROM ti
  ) WHERE r <= {BM25_TOP_K}
),
fused AS (
  SELECT COALESCE(bm.doc_id, tf_run.doc_id) AS doc_id,
         CAST((bm.r IS NOT NULL)::INT
              + (tf_run.r IS NOT NULL)::INT AS INTEGER) AS n_runs,
         CAST(COALESCE(CAST(ROUND(1.0 / ({RRF_K0} + bm.r), 6)
                            AS DECIMAL(18,6)),
                       CAST(0 AS DECIMAL(18,6)))
              + COALESCE(CAST(ROUND(1.0 / ({RRF_K0} + tf_run.r), 6)
                              AS DECIMAL(18,6)),
                         CAST(0 AS DECIMAL(18,6)))
              AS DOUBLE) + 0.0 AS rrf
  FROM bm FULL OUTER JOIN tf_run USING (doc_id)
)
SELECT doc_id, n_runs, rrf,
       CAST(row_number() OVER (ORDER BY rrf DESC, doc_id ASC)
            AS INTEGER) AS rank
FROM fused
QUALIFY rank <= {RRF_TOP}
"""


EXT_QUERIES.update({
    "rrf_bm25_tfidf_docs": {
        "fn": q_rrf_bm25_tfidf_docs,
        "oracle": SQL_RRF_BM25_TFIDF_DOCS},
})


# ----------------------------------------------------------- HLL (r10)

HLL_P = 4


def q_hll_distinct_users_daily(spark, sf_dir):
    """From-the-paper HyperLogLog per day (operators/sketch.py
    hll_distinct, Flajolet 2007): registers over the portable
    md5-derived hash, harmonic sum in EXACT int64 arithmetic
    (Σ 2^(C−ρ) — no float-order sensitivity), linear-counting
    small-range correction.  Completes the sketch family next to
    KMV (order statistics) and CMS (frequency): the ESTIMATE itself
    value-matches the SQL reconstruction, not just a bound."""
    from loudml_spark.operators.sketch import hll_distinct

    ev = load_table(spark, sf_dir, "events").select(
        F.expr(f"(`ts_ns` div {DAY_NS}L) * 86400")
        .cast("long").alias("day_ts"),
        "user_id",
    ).where(F.col("user_id").isNotNull())
    return hll_distinct(ev, key_col="user_id", by=["day_ts"], p=HLL_P)


def _sql_hll_distinct_users_daily() -> str:
    from loudml_spark.operators.sketch import _HASH_BITS, _HLL_ALPHA, sql_kmv_hash

    p = HLL_P
    m = 1 << p
    alpha = _HLL_ALPHA[m]
    w_bits = _HASH_BITS - p
    c_exp = w_bits + 1
    h = sql_kmv_hash("user_id")
    raw = (f"{alpha * m * m!r} * {float(1 << c_exp)!r} "
           f"/ CAST(sum_int AS DOUBLE)")
    est = (f"CASE WHEN ({raw}) <= {2.5 * m!r} AND zeros > 0 "
           f"THEN {float(m)!r} * ln({float(m)!r} / CAST(zeros AS DOUBLE)) "
           f"ELSE ({raw}) END")
    return f"""
WITH hh AS (
  SELECT DISTINCT (epoch_ns(ts) // {86400 * NS}) * 86400 AS day_ts,
         {h} AS h
  FROM events WHERE user_id IS NOT NULL
),
rr AS (
  SELECT day_ts, h % {m} AS reg,
         CASE WHEN h // {m} > 0
              THEN {w_bits} - length(bin(h // {m})) + 1
              ELSE {c_exp} END AS rho
  FROM hh WHERE h IS NOT NULL
),
regs AS (
  SELECT day_ts, reg, MAX(rho) AS mrho, COUNT(*) AS n
  FROM rr GROUP BY day_ts, reg
),
g AS (
  SELECT day_ts,
         CAST(SUM(n) AS BIGINT) AS n_exact,
         CAST(COUNT(*) AS INTEGER) AS present,
         CAST(SUM(CAST(power(2.0, {c_exp} - mrho) AS BIGINT))
              AS BIGINT) AS sum_present
  FROM regs GROUP BY day_ts
),
s AS (
  SELECT day_ts, n_exact,
         CAST({m} - present AS BIGINT) AS zeros,
         sum_present + ({m} - present) * {1 << c_exp} AS sum_int
  FROM g
)
SELECT day_ts, n_exact,
       CAST(zeros AS INTEGER) AS n_zero_regs,
       ROUND({est}, 4) AS est_hll,
       ROUND(ABS(({est}) - n_exact) / n_exact, 4) AS rel_err
FROM s
"""


SQL_HLL_DISTINCT_USERS_DAILY = _sql_hll_distinct_users_daily()


EXT_QUERIES.update({
    "hll_distinct_users_daily": {
        "fn": q_hll_distinct_users_daily,
        "oracle": SQL_HLL_DISTINCT_USERS_DAILY},
})


# -------------------------------------------------------- kalman (r10)

KALMAN_Q = 0.1
KALMAN_R = 25.0


def q_kalman_level_daily(spark, sf_dir):
    """Kalman local-level filter on the daily mean per event_type
    (operators/tsmath.py kalman_level): the adaptive-gain
    generalization of the EWMA smoothers — gain starts at 1 (trust
    the first observation) and relaxes toward steady state, with the
    filter's own variance riding along.  Keyed applyInPandas
    (sequential recursion per key, parallel across keys); the oracle
    replays the identical scalar IEEE loop driver-side over the same
    DECIMAL-exact series."""
    from loudml_spark.operators.tsmath import kalman_level

    return kalman_level(
        _daily_mean_by_type(spark, sf_dir),
        by=["event_type"], q_var=KALMAN_Q, r_var=KALMAN_R)


def _sql_kalman_level_daily(sf_dir=None) -> str:
    import os

    import duckdb

    from loudml_spark.oracle_util import resolve_oracle_sf_dir

    d = resolve_oracle_sf_dir(sf_dir)
    con = duckdb.connect()
    rows = con.execute(f"""
        SELECT event_type,
               (epoch_ns(ts) // 86400000000000) * 86400 AS bucket_ts,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
               / COUNT(value) AS value
        FROM read_parquet('{os.path.join(d, "events.parquet")}')
        GROUP BY 1, 2
        ORDER BY event_type, bucket_ts
    """).fetchall()
    con.close()
    out = []
    lvl, p, cur = None, None, None
    for et, ts, y in rows:
        if et != cur:
            cur, lvl, p = et, None, None
        y = float(y)
        if lvl is None:
            lvl, p, k = y, KALMAN_R, 1.0
        else:
            p_pred = p + KALMAN_Q
            k = p_pred / (p_pred + KALMAN_R)
            lvl = lvl + k * (y - lvl)
            p = (1.0 - k) * p_pred
        out.append((et, int(ts), y, round(lvl, 6), round(k, 6),
                    round(p, 6)))
    # the unrounded value must round-trip bit-exactly: a bare decimal
    # literal would parse as DECIMAL and re-round on the way to
    # DOUBLE, so ship it as a string (correctly-rounded float parse)
    values = ", ".join(
        f"('{et}', {ts}, '{y!r}', {lv!r}, {g!r}, {v!r})"
        for et, ts, y, lv, g, v in out)
    return f"""
SELECT event_type, CAST(bucket_ts AS BIGINT) AS bucket_ts,
       CAST(value AS DOUBLE) AS value,
       CAST(level AS DOUBLE) AS level,
       CAST(gain AS DOUBLE) AS gain,
       CAST(variance AS DOUBLE) AS variance
FROM (VALUES {values})
  AS t(event_type, bucket_ts, value, level, gain, variance)
"""


EXT_QUERIES.update({
    "kalman_level_daily": {
        "fn": q_kalman_level_daily,
        "oracle_fn": _sql_kalman_level_daily},
})


# ---------------------------------------------------- bigram LM (r10)

BIGRAM_LAM = 0.75


def q_bigram_perplexity_docs(spark, sf_dir):
    """Per-doc perplexity under the corpus's own Jelinek–Mercer
    bigram LM (pipeline/corpus.py bigram_perplexity, λ=0.75) — the
    sequence-aware quality filter: corpus-typical unigrams with
    improbable transitions (shuffled text, keyword stuffing) score
    high where the unigram lm_perplexity_docs is blind."""
    from loudml_spark.pipeline.corpus import bigram_perplexity

    docs = load_table(spark, sf_dir, "documents")
    return bigram_perplexity(docs, lam=BIGRAM_LAM)


SQL_BIGRAM_PERPLEXITY_DOCS = f"""
WITH ww AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws
  FROM documents
),
ut AS (SELECT doc_id, unnest(ws) AS token FROM ww),
cu AS (
  SELECT token AS w, CAST(COUNT(*) AS BIGINT) AS cu
  FROM ut GROUP BY token
),
nt AS (SELECT CAST(SUM(cu) AS DOUBLE) AS n FROM cu),
bt AS (
  SELECT doc_id,
         unnest(list_transform(
             range(1, len(ws)),
             i -> ws[i] || ' ' || ws[i + 1])) AS token
  FROM ww
),
pd AS (
  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
  FROM bt GROUP BY doc_id, token
),
cb AS (
  SELECT token, CAST(SUM(tf) AS BIGINT) AS cb FROM pd GROUP BY token
),
ctx AS (
  SELECT string_split(token, ' ')[1] AS prev,
         CAST(SUM(cb) AS BIGINT) AS cctx
  FROM cb GROUP BY 1
),
sc AS (
  SELECT pd.doc_id, pd.tf,
         ROUND(pd.tf * ln(
             {BIGRAM_LAM} * (CAST(cb.cb AS DOUBLE) / ctx.cctx)
             + {1.0 - BIGRAM_LAM} * (CAST(cu.cu AS DOUBLE) / nt.n)),
           6) AS s
  FROM pd
  JOIN cb USING (token)
  JOIN ctx ON ctx.prev = string_split(pd.token, ' ')[1]
  JOIN cu ON cu.w = string_split(pd.token, ' ')[2]
  CROSS JOIN nt
)
SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_bigrams,
       ROUND(exp(-(CAST(SUM(CAST(s AS DECIMAL(18,6))) AS DOUBLE))
                 / SUM(tf)), 6) + 0.0 AS ppl
FROM sc GROUP BY doc_id
"""


EXT_QUERIES.update({
    "bigram_perplexity_docs": {
        "fn": q_bigram_perplexity_docs,
        "oracle": SQL_BIGRAM_PERPLEXITY_DOCS},
})


def q_hll_merged_users_daily(spark, sf_dir):
    """HLL mergeability proof (operators/sketch.py
    hll_distinct_merged): daily registers built INDEPENDENTLY per
    event_type shard, combined by register max — the distributive
    property that lets per-partition sketches roll up without
    re-scanning at 100 TB.  The oracle is the DIRECT daily sketch's
    estimate columns: merged == direct, bit for bit, or the query
    fails the value gate."""
    from loudml_spark.operators.sketch import hll_distinct_merged

    ev = load_table(spark, sf_dir, "events").select(
        F.expr(f"(`ts_ns` div {DAY_NS}L) * 86400")
        .cast("long").alias("day_ts"),
        "event_type", "user_id",
    ).where(F.col("user_id").isNotNull())
    return hll_distinct_merged(
        ev, key_col="user_id", by=["day_ts"],
        shard_col="event_type", p=HLL_P)


# merged-by-shard must equal the direct sketch: reuse the direct
# reconstruction, projecting the estimate columns only
SQL_HLL_MERGED_USERS_DAILY = f"""
SELECT day_ts, n_zero_regs, est_hll
FROM ({SQL_HLL_DISTINCT_USERS_DAILY}) t
"""


EXT_QUERIES.update({
    "hll_merged_users_daily": {
        "fn": q_hll_merged_users_daily,
        "oracle": SQL_HLL_MERGED_USERS_DAILY},
})


def q_kalman_smooth_daily(spark, sf_dir):
    """RTS smoother on the daily mean per event_type
    (operators/tsmath.py kalman_smooth): the backward pass revises
    each day's level with the days that came AFTER it — the
    retrospective companion to kalman_level_daily.  Keyed
    applyInPandas, bit-replayable scalar loop (oracle replays both
    passes driver-side)."""
    from loudml_spark.operators.tsmath import kalman_smooth

    return kalman_smooth(
        _daily_mean_by_type(spark, sf_dir),
        by=["event_type"], q_var=KALMAN_Q, r_var=KALMAN_R)


def _sql_kalman_smooth_daily(sf_dir=None) -> str:
    import os

    import duckdb

    from loudml_spark.oracle_util import resolve_oracle_sf_dir

    d = resolve_oracle_sf_dir(sf_dir)
    con = duckdb.connect()
    rows = con.execute(f"""
        SELECT event_type,
               (epoch_ns(ts) // 86400000000000) * 86400 AS bucket_ts,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
               / COUNT(value) AS value
        FROM read_parquet('{os.path.join(d, "events.parquet")}')
        GROUP BY 1, 2
        ORDER BY event_type, bucket_ts
    """).fetchall()
    con.close()
    series: dict = {}
    for et, ts, y in rows:
        series.setdefault(et, []).append((int(ts), float(y)))
    out = []
    for et in sorted(series):
        pts = series[et]
        ys = [y for _, y in pts]
        xs, ps = [], []
        lvl, p = None, None
        for y in ys:
            if lvl is None:
                lvl, p = y, KALMAN_R
            else:
                p_pred = p + KALMAN_Q
                k = p_pred / (p_pred + KALMAN_R)
                lvl = lvl + k * (y - lvl)
                p = (1.0 - k) * p_pred
            xs.append(lvl)
            ps.append(p)
        n = len(ys)
        sm = [0.0] * n
        if n:
            sm[n - 1] = xs[n - 1]
            for t in range(n - 2, -1, -1):
                c = (ps[t] / (ps[t] + KALMAN_Q)
                     if (ps[t] + KALMAN_Q) > 0 else 0.0)
                sm[t] = xs[t] + c * (sm[t + 1] - xs[t])
        for (ts, y), x, s in zip(pts, xs, sm):
            out.append((et, ts, y, round(x, 6), round(s, 6)))
    values = ", ".join(
        f"('{et}', {ts}, '{y!r}', {lv!r}, {s!r})"
        for et, ts, y, lv, s in out)
    return f"""
SELECT event_type, CAST(bucket_ts AS BIGINT) AS bucket_ts,
       CAST(value AS DOUBLE) AS value,
       CAST(level AS DOUBLE) AS level,
       CAST(smoothed AS DOUBLE) AS smoothed
FROM (VALUES {values})
  AS t(event_type, bucket_ts, value, level, smoothed)
"""


EXT_QUERIES.update({
    "kalman_smooth_daily": {
        "fn": q_kalman_smooth_daily,
        "oracle_fn": _sql_kalman_smooth_daily},
})


def q_streaming_hll_users_daily(spark, sf_dir):
    """The daily HLL sketch executed THROUGH Structured Streaming:
    (day, user) rows staged as 2 ts-range files (→ 2 micro-batches),
    registers carried across batches as streaming groupBy-MAX state
    — at most |days|·2^p state rows however many users stream past
    (the exact alternative, dropDuplicates, keeps one row PER user).
    Registers are max-mergeable and the projection is shared with
    the batch path (sketch.hll_reg_rho), so the drained estimate is
    BIT-IDENTICAL to the batch sketch: this query's oracle is the
    batch reconstruction's estimate columns — the CMS parity claim
    for a max-monoid."""
    from loudml_spark.operators.sketch import hll_finish
    from loudml_spark.streaming.job import (
        drain_stream_to_df,
        stream_hll_registers,
    )

    ev = load_table(spark, sf_dir, "events").select(
        F.expr(f"(`ts_ns` div {DAY_NS}L) * 86400")
        .cast("long").alias("day_ts"),
        "user_id",
    ).where(F.col("user_id").isNotNull())
    with _small_shuffle(spark):
        (tmp,) = _stage(spark, sf_dir, "events", "stage_hll",
                        _median_split(ev, "day_ts"))
        stream = (
            spark.readStream
            .schema("day_ts bigint, user_id bigint")
            .option("maxFilesPerTrigger", 1).parquet(tmp)
        )
        regs = drain_stream_to_df(
            stream_hll_registers(
                stream, key_col="user_id", by=["day_ts"], p=HLL_P),
            ["day_ts", "__reg", "__mrho"],
            output_mode="complete", prefix="stream_hll",
        )
    return hll_finish(regs, by=["day_ts"], p=HLL_P)


SQL_STREAMING_HLL_USERS_DAILY = f"""
SELECT day_ts, n_zero_regs, est_hll
FROM ({SQL_HLL_DISTINCT_USERS_DAILY}) t
"""


EXT_QUERIES.update({
    "streaming_hll_users_daily": {
        "fn": q_streaming_hll_users_daily,
        "oracle": SQL_STREAMING_HLL_USERS_DAILY},
})


# ------------------------------------------------ kmv set algebra (r10)

KMVJ_K = 256


def q_kmv_jaccard_sources(spark, sf_dir):
    """Pairwise vocabulary Jaccard between sources from k-minimum-
    value sketches (operators/sketch.py kmv_jaccard, Beyer 2007 §5):
    at 100 TB each source reduces to a {KMVJ_K}-row sketch in one
    pass and every pairwise comparison afterwards touches sketches
    only — the sketch-algebra companion to the exact
    source_overlap_docs scan."""
    from loudml_spark.operators.sketch import kmv_jaccard
    from loudml_spark.pipeline.corpus import tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(docs, id_col="source")
    return kmv_jaccard(
        toks, key_col="token", set_col="source", k=KMVJ_K)


def _sql_kmv_jaccard_sources() -> str:
    from loudml_spark.operators.sketch import sql_kmv_hash

    h = sql_kmv_hash("token")
    return f"""
WITH tk AS (
  SELECT DISTINCT source AS s,
         unnest(regexp_extract_all(lower(text), '[a-z]+')) AS token
  FROM documents
),
hh AS (SELECT DISTINCT s, {h} AS h FROM tk),
sk AS (
  SELECT s, h FROM (
    SELECT s, h,
           row_number() OVER (PARTITION BY s ORDER BY h) AS rn
    FROM hh WHERE h IS NOT NULL
  ) WHERE rn <= {KMVJ_K}
),
ss AS (SELECT DISTINCT s FROM sk),
pr AS (
  SELECT a.s AS sa, b.s AS sb
  FROM ss a JOIN ss b ON a.s < b.s
),
ph AS (
  SELECT pr.sa, pr.sb, sk.h, COUNT(DISTINCT sk.s) AS sides
  FROM pr JOIN sk ON sk.s IN (pr.sa, pr.sb)
  GROUP BY pr.sa, pr.sb, sk.h
),
u AS (
  SELECT *, row_number() OVER (
      PARTITION BY sa, sb ORDER BY h) AS rn
  FROM ph
)
SELECT sa AS set_a, sb AS set_b,
       CAST(COUNT(*) AS BIGINT) AS n_union_sketch,
       CAST(SUM(CASE WHEN sides = 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_both,
       ROUND(CAST(SUM(CASE WHEN sides = 2 THEN 1 ELSE 0 END)
                  AS DOUBLE) / COUNT(*), 6) AS est_jaccard
FROM u WHERE rn <= {KMVJ_K}
GROUP BY sa, sb
"""


SQL_KMV_JACCARD_SOURCES = _sql_kmv_jaccard_sources()


EXT_QUERIES.update({
    "kmv_jaccard_sources": {
        "fn": q_kmv_jaccard_sources,
        "oracle": SQL_KMV_JACCARD_SOURCES},
})


BIGRAM_MIN_COUNT = 2


def q_bigram_perplexity_pruned_docs(spark, sf_dir):
    """bigram_perplexity with the min_count={BIGRAM_MIN_COUNT}
    vocabulary-pruning knob — the measured mitigation for the exact
    model's growth exponent (the bigram count frame is
    vocabulary-bound; dropping hapax bigrams cuts most of its
    distinct keys, the cut every shipped LM makes).  Pruned bigrams
    score on their unigram term alone; the oracle replays the same
    HAVING cut and left join."""
    from loudml_spark.pipeline.corpus import bigram_perplexity

    docs = load_table(spark, sf_dir, "documents")
    return bigram_perplexity(
        docs, lam=BIGRAM_LAM, min_count=BIGRAM_MIN_COUNT)


SQL_BIGRAM_PERPLEXITY_PRUNED_DOCS = f"""
WITH ww AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws
  FROM documents
),
ut AS (SELECT doc_id, unnest(ws) AS token FROM ww),
cu AS (
  SELECT token AS w, CAST(COUNT(*) AS BIGINT) AS cu
  FROM ut GROUP BY token
),
nt AS (SELECT CAST(SUM(cu) AS DOUBLE) AS n FROM cu),
bt AS (
  SELECT doc_id,
         unnest(list_transform(
             range(1, len(ws)),
             i -> ws[i] || ' ' || ws[i + 1])) AS token
  FROM ww
),
pd AS (
  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
  FROM bt GROUP BY doc_id, token
),
cball AS (
  SELECT token, CAST(SUM(tf) AS BIGINT) AS cb FROM pd GROUP BY token
),
ctx AS (
  SELECT string_split(token, ' ')[1] AS prev,
         CAST(SUM(cb) AS BIGINT) AS cctx
  FROM cball GROUP BY 1
),
cbp AS (SELECT token, cb FROM cball WHERE cb >= {BIGRAM_MIN_COUNT}),
sc AS (
  SELECT pd.doc_id, pd.tf,
         ROUND(pd.tf * ln(
             {BIGRAM_LAM} * (CAST(COALESCE(cbp.cb, 0) AS DOUBLE)
                             / ctx.cctx)
             + {1.0 - BIGRAM_LAM} * (CAST(cu.cu AS DOUBLE) / nt.n)),
           6) AS s
  FROM pd
  LEFT JOIN cbp USING (token)
  JOIN ctx ON ctx.prev = string_split(pd.token, ' ')[1]
  JOIN cu ON cu.w = string_split(pd.token, ' ')[2]
  CROSS JOIN nt
)
SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_bigrams,
       ROUND(exp(-(CAST(SUM(CAST(s AS DECIMAL(18,6))) AS DOUBLE))
                 / SUM(tf)), 6) + 0.0 AS ppl
FROM sc GROUP BY doc_id
"""


EXT_QUERIES.update({
    "bigram_perplexity_pruned_docs": {
        "fn": q_bigram_perplexity_pruned_docs,
        "oracle": SQL_BIGRAM_PERPLEXITY_PRUNED_DOCS},
})


def q_streaming_kalman_daily(spark, sf_dir):
    """The batch Kalman filter executed THROUGH Structured
    Streaming: the daily series staged as 2 ts-range files (the
    stream_page_hinkley staging), the (level, variance) pair carried
    across batches as O(1)-per-key state (streaming/job.py
    stream_kalman_level).  The state update is the same scalar IEEE
    sequence as the batch operator, so the drained rows are
    bit-identical and this query shares kalman_level_daily's replay
    oracle VERBATIM — streaming parity for an adaptive-gain
    estimator."""
    from loudml_spark.streaming.job import (
        drain_stream_to_df,
        stream_kalman_level,
    )

    daily = _daily_mean_by_type(spark, sf_dir)
    with _small_shuffle(spark):
        (tmp,) = _stage(spark, sf_dir, "events", "stage_ph",
                        _median_split(daily, "bucket_ts"))
        stream = (
            spark.readStream
            .schema("event_type string, bucket_ts bigint, value double")
            .option("maxFilesPerTrigger", 1).parquet(tmp)
        )
        out = drain_stream_to_df(
            stream_kalman_level(
                stream, q_var=KALMAN_Q, r_var=KALMAN_R),
            ["event_type", "bucket_ts", "value", "level", "gain",
             "variance"],
            output_mode="append", prefix="stream_kalman",
        )
    return out


EXT_QUERIES.update({
    "streaming_kalman_daily": {
        "fn": q_streaming_kalman_daily,
        "oracle_fn": _sql_kalman_level_daily},
})
