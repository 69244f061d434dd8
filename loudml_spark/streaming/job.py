"""Structured Streaming equivalents of the reference's periodic
evaluation loop (SURVEY §2.9).

Reference behavior → Spark mapping:

* `_eval` re-runs every ``model.interval`` seconds
  (loudml/server.py:1559-1580) → ``trigger(processingTime=...)``;
* ``offset`` delays evaluation so late points land before being read
  (server.py:1568-1569) → ``withWatermark(ts, offset)``;
* tumbling ``bucket_interval`` windows only (bucket.py:182-183) →
  ``F.window(ts, interval)``;
* anomaly open/close state persists across evaluations
  (donut.py:1488-1568, set_run_state :579-589) →
  ``applyInPandasWithState`` keyed per model/series with state =
  {episode_no, episode_start, episode_max, last_anomaly_ts,
  open} — the exact fields the reference stores in model run state.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from loudml_spark import errors
from loudml_spark.features import parse_features
from loudml_spark.functions.metrics import get_metric_spec
from loudml_spark.operators.bucketize import _match_all_cond
from loudml_spark import timeutil


def stream_bucketize(
    stream_df: DataFrame,
    features,
    bucket_interval,
    *,
    ts_col: str = "ts",
    watermark: str = "0 seconds",
    group_by: Sequence[str] = (),
    slide=None,
) -> DataFrame:
    """Streaming bucketized aggregation: tumbling window + conditional
    aggregates, one shuffle per micro-batch; late data bounded by the
    watermark (the reference's ``offset``).

    ``slide`` (optional, seconds or timedelta string, must divide the
    interval) switches to SLIDING windows — each event lands in
    interval/slide overlapping buckets (trailing smoothing with
    streaming semantics); state grows by the same factor, still
    bounded by watermark × overlap."""
    features = parse_features(features)
    raw_interval = timeutil.parse_timedelta(bucket_interval)
    if raw_interval <= 0 or raw_interval != int(raw_interval):
        # match batch bucketize's contract — silently truncating
        # '90.5s' to 90 would make streaming buckets disagree with a
        # batch run of the same spec
        raise errors.Invalid(
            "bucket_interval must be a positive whole number of "
            f"seconds, got {bucket_interval!r}")
    interval = int(raw_interval)
    aggs = []
    for feat in features:
        spec = get_metric_spec(feat.metric)
        if spec.post is not None:
            raise errors.Invalid(
                f"post-aggregation metric {feat.metric} is not available "
                "in streaming mode (needs the bucket spine)"
            )
        value = F.col(feat.field)
        cond = _match_all_cond(feat.match_all)
        if cond is not None:
            value = F.when(cond, value)
        aggs.append(spec.agg(value).alias(feat.name))
    if slide is not None:
        s = timeutil.parse_timedelta(slide)
        if s <= 0 or s != int(s) or interval % int(s):
            raise errors.Invalid(
                f"slide must be a positive whole divisor of the "
                f"interval, got {slide!r} vs {interval}s")
        win = F.window(F.col(ts_col), f"{interval} seconds",
                       f"{int(s)} seconds")
    else:
        win = F.window(F.col(ts_col), f"{interval} seconds")
    out = (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(*group_by, win.alias("win"))
        .agg(*aggs)
        .withColumn("bucket_ts", F.col("win.start").cast("long"))
        .drop("win")
    )
    return out


def stream_sessionize(
    stream_df: DataFrame,
    *,
    gap_seconds: int,
    ts_col: str = "ts",
    by: Sequence[str] = (),
    value_col: str | None = None,
    watermark: str | None = None,
) -> DataFrame:
    """Streaming gap-based sessionization via native session windows.

    Identical semantics to the batch
    :func:`loudml_spark.operators.sessionize.session_stats_native`
    (it IS the same expression — session_window groupBy), but over a
    ``readStream`` source: Spark's state store holds open sessions
    and MERGES sessions that span micro-batch boundaries.

    ``watermark`` (e.g. ``"30 minutes"``) bounds state and is
    required for append-mode output (a session emits once the
    watermark passes its close); without it use complete/update
    output modes.  State size is O(open sessions) = O(active keys),
    independent of throughput.
    """
    from loudml_spark.operators.sessionize import session_stats_native

    df = stream_df
    if watermark is not None:
        df = df.withWatermark(ts_col, watermark)
    return session_stats_native(
        df, gap_seconds=gap_seconds, ts_col=ts_col, by=by,
        value_col=value_col,
    )


def stream_dedupe(
    stream_df: DataFrame,
    keys: Sequence[str],
    *,
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Idempotent ingestion: drop re-delivered events by ``keys``
    across micro-batches (at-least-once sources → exactly-once
    downstream).

    Uses ``dropDuplicatesWithinWatermark``: the state store remembers
    seen keys only until the watermark passes them, so state is
    bounded by (throughput × watermark window) instead of growing
    forever — plain ``dropDuplicates`` on a stream retains every key
    EVER seen and OOMs a long-lived pipeline.  The watermark must be
    at least the source's maximum re-delivery delay.
    """
    keys = list(keys)
    if not keys:
        raise ValueError("need at least one dedup key column")
    return stream_df.withWatermark(
        ts_col, watermark
    ).dropDuplicatesWithinWatermark(keys)


#: State-store metrics of the most recent drain — one dict per
#: stateful operator from StreamingQueryProgress.stateOperators
#: (numRowsTotal, stateMemory/customMetrics incl. RocksDB SST sizes).
#: Inspection hook: catalog runs and tests read it to assert the
#: state size a query carried, the number SCALE.md §streaming's
#: bounded-state claims are about.
last_state_metrics: list[dict] = []

_ROCKSDB_PROVIDER = ("org.apache.spark.sql.execution.streaming."
                     "state.RocksDBStateStoreProvider")


def drain_stream_to_df(
    out_stream: DataFrame,
    columns: Sequence[str],
    *,
    output_mode: str = "append",
    timeout: int = 300,
    prefix: str = "drain",
) -> DataFrame:
    """Run a BOUNDED streaming plan to completion and hand back the
    result as a regular DataFrame: memory sink + availableNow
    trigger, await, then ``localCheckpoint(eager)`` the selected
    columns and DROP the sink's temp view — without the drop, every
    invocation leaks one fully-materialized result table into the
    session catalog (and driver memory) for the session's lifetime;
    the checkpointed blocks are freed by the ContextCleaner once the
    returned frame is unreferenced.

    The drained query runs the RocksDB state-store provider — the
    production recommendation for large key cardinality (state spills
    to local SST files instead of executor heap), so the catalog's
    streaming queries run what SCALE.md recommends rather than a
    test-only default.  The provider conf is session-global but only
    read at query START, so it is set just before ``start()`` and
    restored after.  Each drain also records its stateful-operator
    metrics in ``last_state_metrics``.

    This is the batch↔streaming parity harness the oracle-paired
    streaming catalog queries share (streaming_detect_1h,
    streaming_sessionize_30m): the caller stages a bounded source,
    builds the streaming plan, and compares the drained frame to the
    batch oracle."""
    import uuid

    spark = out_stream.sparkSession
    name = prefix + "_" + uuid.uuid4().hex[:8]
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, _ROCKSDB_PROVIDER)
    try:
        q = (
            out_stream.writeStream.format("memory").queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True).start()
        )
        finished = q.awaitTermination(timeout)
        progress = q.lastProgress or {}
        q.stop()
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    global last_state_metrics
    last_state_metrics = list(progress.get("stateOperators") or [])
    if not finished:
        spark.catalog.dropTempView(name)
        raise errors.LoudMLSparkError(
            f"stream drain timed out after {timeout}s; refusing to "
            "return a partial frame")
    out = spark.table(name).select(*columns).localCheckpoint(eager=True)
    spark.catalog.dropTempView(name)
    return out


def idempotent_parquet_sink(out_dir: str, partition_cols: Sequence[str] = ()):
    """Production ``foreachBatch`` sink: partitioned parquet with
    BATCH-ID idempotence.

    Structured Streaming guarantees at-least-once ``foreachBatch``
    invocation — after a crash the last micro-batch REPLAYS with the
    same ``batch_id``.  A plain append sink duplicates that batch; a
    ledger (write-then-mark) leaks duplicates if the crash lands
    between write and mark.  The idempotent shape is OVERWRITE OF THE
    BATCH'S OWN PARTITION: every row carries ``_batch_id``, the write
    partitions by it (plus any user columns), and dynamic partition
    overwrite replaces exactly the partitions this batch produced —
    so replaying batch N rewrites ``_batch_id=N`` byte-for-byte
    instead of appending a second copy.  Readers just
    ``spark.read.parquet(out_dir)``; the extra column doubles as
    ingestion provenance.

    Usage::

        q = (scored.writeStream.outputMode("update")
             .foreachBatch(idempotent_parquet_sink(out, ["event_type"]))
             .option("checkpointLocation", ckpt).start())

    See examples/streaming_parquet_sink.py for the full pipeline and
    tests/test_streaming.py for the replayed-batch proof.
    """
    partition_cols = list(partition_cols)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("_batch_id", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id", *partition_cols)
            .parquet(out_dir)
        )

    return process


_DETECT_STATE_SCHEMA = (
    "episode_no long, episode_start long, episode_max double, "
    "last_anomaly_ts double, open boolean"
)


def _detect_batch(
    pdf: pd.DataFrame,
    state: dict,
    min_threshold: float,
    max_threshold: float,
    grace_period: float,
) -> pd.DataFrame:
    """One hysteresis sweep continuing from ``state`` (mutated)."""
    pdf = pdf.sort_values("bucket_ts").reset_index(drop=True)
    out_flag, out_ep = [], []
    for _, row in pdf.iterrows():
        ts = float(row["bucket_ts"])
        score = float(row["score"]) if pd.notna(row["score"]) else float("nan")
        in_grace = (ts - state["last_anomaly_ts"]) < grace_period
        triggered = (not in_grace) and score >= max_threshold
        if state["open"]:
            if triggered:
                state["episode_max"] = max(state["episode_max"], score)
            elif score < min_threshold:
                state["open"] = False
                state["last_anomaly_ts"] = ts
        elif triggered:
            state["episode_no"] += 1
            state["episode_start"] = int(ts)
            state["episode_max"] = score
            state["open"] = True
        out_flag.append(bool(triggered))
        out_ep.append(state["episode_no"] if state["open"] else None)
    pdf["is_anomaly"] = pd.Series(out_flag, dtype="bool")
    pdf["episode_id"] = pd.Series(out_ep, dtype="object")
    return pdf


def stateful_detect_stream(
    scored: DataFrame,
    min_threshold: float = 68.0,
    max_threshold: float = 99.7,
    grace_period: float = 0.0,
    *,
    key_col: str = "model",
    timeout: str = "NoTimeout",
) -> DataFrame:
    """Streaming hysteresis detection with per-key state that survives
    micro-batch boundaries (applyInPandasWithState).

    Input: a streaming frame with (key_col, bucket_ts long,
    score double, ...).  Output adds is_anomaly / episode_id.
    """
    out_schema = T.StructType([
        T.StructField(key_col, T.StringType()),
        T.StructField("bucket_ts", T.LongType()),
        T.StructField("score", T.DoubleType()),
        T.StructField("is_anomaly", T.BooleanType()),
        T.StructField("episode_id", T.LongType()),
    ])
    state_schema = _DETECT_STATE_SCHEMA

    def fn(key, pdfs, state: GroupState):
        if state.exists:
            (ep_no, ep_start, ep_max, last_ts, is_open) = state.get
        else:
            ep_no, ep_start, ep_max, last_ts, is_open = 0, 0, 0.0, 0.0, False
        st = {
            "episode_no": ep_no, "episode_start": ep_start,
            "episode_max": ep_max, "last_anomaly_ts": last_ts,
            "open": is_open,
        }
        frames = []
        for pdf in pdfs:
            done = _detect_batch(
                pdf, st, min_threshold, max_threshold, grace_period
            )
            frames.append(done[["bucket_ts", "score",
                                "is_anomaly", "episode_id"]])
        state.update((
            st["episode_no"], st["episode_start"], st["episode_max"],
            st["last_anomaly_ts"], st["open"],
        ))
        out = pd.concat(frames) if frames else pd.DataFrame(
            columns=["bucket_ts", "score", "is_anomaly", "episode_id"]
        )
        out.insert(0, key_col, key[0])
        yield out

    return scored.groupBy(key_col).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=getattr(GroupStateTimeout, timeout),
    )


def stream_counter_increase(
    df: DataFrame,
    *,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    timeout: str = "NoTimeout",
) -> DataFrame:
    """Streaming reset-aware counter increases whose deltas survive
    micro-batch boundaries: per-key state is ONLY the last observed
    (ts, value) sample, so the first sample of batch N diffs against
    the last sample of batch N-1 instead of restarting the counter
    (the batch-mode semantics of operators/tsmath.counter_increase).

    Emits one row per input sample: (key, ts, value, increase) with
    increase = delta, or the sample value after a reset (delta < 0),
    or null for the key's very first sample ever.  Compose with
    stream_bucketize/windowed aggregation downstream for per-bucket
    rates — keeping state at one sample per key (not per-bucket
    partials) bounds the state store by key cardinality alone.

    Samples are processed in ts order WITHIN each batch (the key's
    Arrow chunks are concatenated before the sort — chunks arrive in
    shuffle order, so sorting each independently would leave a batch
    spanning multiple chunks globally unordered); cross-batch
    ordering assumes per-key in-order arrival (true of counter
    scrapes; guard upstream with a watermark + dropDuplicates for
    replayed sources)."""
    out_schema = T.StructType([
        T.StructField(key_col, T.StringType()),
        T.StructField(ts_col, T.LongType()),
        T.StructField(value_col, T.DoubleType()),
        T.StructField("increase", T.DoubleType()),
    ])
    state_schema = T.StructType([
        T.StructField("last_ts", T.LongType()),
        T.StructField("last_value", T.DoubleType()),
        T.StructField("seen", T.BooleanType()),
    ])

    def fn(key, pdfs, state: GroupState):
        if state.exists:
            last_ts, last_value, seen = state.get
        else:
            last_ts, last_value, seen = 0, 0.0, False
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if not chunks:
            state.update((last_ts, last_value, seen))
            out = pd.DataFrame(columns=[ts_col, value_col, "increase"])
            out.insert(0, key_col, key[0])
            yield out
            return
        # one global sort over the key's whole batch — chunk-local
        # sorts are not a batch order (chunks arrive in shuffle order)
        pdf = pd.concat(chunks, ignore_index=True).sort_values(ts_col)
        vals = pdf[value_col].to_numpy(dtype=float)
        prev = np.empty(len(vals))
        prev[0] = last_value if seen else np.nan
        prev[1:] = vals[:-1]
        d = vals - prev
        # delta, except a reset (d < 0) credits the post-reset value;
        # NaN (no prior sample ever) propagates through d untouched
        inc = np.where(d < 0, vals, d)
        state.update((int(pdf[ts_col].iloc[-1]), float(vals[-1]), True))
        out = pd.DataFrame({
            ts_col: pdf[ts_col].to_numpy(),
            value_col: vals,
            "increase": inc,
        })
        out.insert(0, key_col, key[0])
        yield out

    return df.groupBy(key_col).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=getattr(GroupStateTimeout, timeout),
    )


def stream_heartbeat_alerts(
    df: DataFrame,
    *,
    key_col: str = "event_type",
    ts_col: str = "ts",
    gap_seconds: int = 60,
    watermark: str = "0 seconds",
) -> DataFrame:
    """Missing-heartbeat detection: emit one alert row per key whose
    stream has been SILENT for more than ``gap_seconds`` of event
    time — the streaming counterpart of operators/irregular.py
    gap_report, built on EVENT-TIME STATE TIMEOUTS: each key's state
    holds only its last-seen timestamp and re-arms a timeout at
    ``last_seen + gap``; when the watermark passes it with no new
    data, Spark invokes the function with ``state.hasTimedOut`` and
    the alert fires WITHOUT any event from that key — a plain
    aggregation can never notice the absence of data.

    Output (append): (key, last_seen timestamp, due_ts timestamp =
    last_seen + gap).  State per key is one timestamp; a timed-out
    key's state is removed, so a permanently dead key alerts once
    (its next event re-creates the state).  ``ts_col`` must be a
    timestamp column; the watermark bounds both late data and how
    promptly timeouts fire.

    Timezone-robust by construction: applyInPandasWithState hands
    Python tz-NAIVE session-local timestamps (and re-interprets naive
    outputs the same way), so reading/writing timestamps in the state
    function is only correct under a UTC session.  Instead the event
    time crosses the Python boundary as epoch MILLISECONDS both ways
    — a JVM-side ``__ts_ms`` long column in, long ``*_ms`` columns
    out, re-typed with ``timestamp_millis`` after the stateful op —
    so no session-timezone assumption exists anywhere."""
    out_schema = T.StructType([
        T.StructField(key_col, T.StringType()),
        T.StructField("last_seen_ms", T.LongType()),
        T.StructField("due_ms", T.LongType()),
    ])
    state_schema = T.StructType([
        T.StructField("last_seen_ms", T.LongType()),
    ])
    gap_ms = int(gap_seconds) * 1000

    def fn(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            (last_ms,) = state.get
            state.remove()
            yield pd.DataFrame({
                key_col: [key[0]],
                "last_seen_ms": [last_ms],
                "due_ms": [last_ms + gap_ms],
            })
            return
        last_ms = state.get[0] if state.exists else 0
        for pdf in pdfs:
            if len(pdf):
                last_ms = max(last_ms, int(pdf["__ts_ms"].max()))
        if last_ms:
            state.update((last_ms,))
            # a key whose data arrives in a LATE batch can already be
            # overdue (due <= current watermark) — Spark rejects a
            # timeout in the past, so clamp to watermark + 1: the
            # alert then fires on the next watermark advance, with
            # due_ts in the OUTPUT still the true last_seen + gap
            due = last_ms + gap_ms
            wm = state.getCurrentWatermarkMs()
            state.setTimeoutTimestamp(max(due, wm + 1))
        yield pd.DataFrame(columns=[key_col, "last_seen_ms", "due_ms"])

    alerts = (
        df.withWatermark(ts_col, watermark)
        .withColumn(
            "__ts_ms",
            (F.col(ts_col).cast("double") * 1000).cast("long"))
        .groupBy(key_col)
        .applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
    return alerts.select(
        key_col,
        F.timestamp_millis("last_seen_ms").alias("last_seen"),
        F.timestamp_millis("due_ms").alias("due_ts"),
    )


class StreamingEval:
    """The reference's ``_start`` periodic evaluation as one streaming
    query: bucketize → score against a trained model → stateful
    detection → sink (foreachBatch or table).

    ``interval`` drives the processing trigger; ``offset`` becomes the
    watermark (late-data allowance)."""

    def __init__(self, model, bucket, features, *, interval="60s",
                 offset="10s", checkpoint_dir=None):
        self.model = model
        self.bucket = bucket
        self.features = features
        self.interval = int(timeutil.parse_timedelta(interval))
        self.offset = int(timeutil.parse_timedelta(offset))
        self.checkpoint_dir = checkpoint_dir

    def build(self, stream_df: DataFrame) -> DataFrame:
        series = stream_bucketize(
            stream_df, self.features, self.model.bucket_interval,
            watermark=f"{self.offset} seconds",
        )
        feat_name = parse_features(self.features)[0].name
        return series.withColumnRenamed(feat_name, self.model.feature_col)

    def start(self, stream_df: DataFrame, sink_fn, *,
              available_now: bool = False):
        """Run with foreachBatch: each micro-batch is scored with the
        (broadcast-small) model profile and handed to ``sink_fn``.
        ``available_now=True`` drains the source once and stops
        (backfill / test mode) instead of the periodic trigger."""
        series = self.build(stream_df)

        def process(batch_df: DataFrame, batch_id: int):
            if batch_df.isEmpty():
                return
            scored = self.model.predict(batch_df)
            sink_fn(scored, batch_id)

        writer = series.writeStream
        if available_now:
            writer = writer.trigger(availableNow=True)
        else:
            writer = writer.trigger(
                processingTime=f"{self.interval} seconds")
        writer = writer.outputMode("update").foreachBatch(process)
        if self.checkpoint_dir:
            writer = writer.option("checkpointLocation", self.checkpoint_dir)
        return writer.start()

    def start_to_bucket(self, stream_df: DataFrame, out_bucket,
                        model_name: str | None = None, *,
                        available_now: bool = False):
        """The reference's ``save_output_data`` write-back for streams:
        each scored micro-batch lands in ``out_bucket`` with the
        prediction sink schema (``@<feature>`` / ``lower_`` /
        ``upper_`` — loudml/bucket.py:232-253) via foreachBatch.

        Update-mode re-emission (faithful to the reference's periodic
        re-evaluation of the live bucket) means a bucket filled across
        several triggers lands several times with refined values; each
        row carries ``__seq`` (the micro-batch id) so readers keep the
        newest — :func:`latest_predictions` does exactly that.  An
        append-only sink read WITHOUT that filter double-counts
        partially-filled buckets."""
        from loudml_spark.api import prediction_frame

        name = model_name or self.model.name

        def sink(scored: DataFrame, batch_id: int):
            out_bucket.write(
                prediction_frame(scored, self.model.feature_col, name)
                .withColumn("__seq", F.lit(batch_id)))

        return self.start(stream_df, sink, available_now=available_now)


def latest_predictions(df: DataFrame) -> DataFrame:
    """Resolve a streaming prediction bucket to its final state: keep
    each timestamp's newest write (max ``__seq`` per (model,
    timestamp) — update-mode re-emissions of a bucket supersede the
    earlier, partially-filled scores)."""
    from pyspark.sql import Window

    if "__seq" not in df.columns:
        return df
    w = Window.partitionBy("model", "timestamp").orderBy(
        F.col("__seq").desc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__seq")
    )


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    *,
    key: str,
    ts_left: str = "ts",
    ts_right: str = "ts",
    within: str = "1 hour",
    watermark: str = "10 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval join: pair each left event with right
    events of the same ``key`` whose timestamp falls in
    [left.ts, left.ts + ``within``] — the attribution/enrichment
    pattern (click → purchase, request → response) executed with BOTH
    sides unbounded.

    Both inputs get a watermark (Spark's requirement for state
    cleanup in stream-stream joins): each side's join state is
    retained only while the other side's watermark can still produce
    a match, so state is bounded by throughput × (watermark +
    ``within``) — the join NEVER holds a full stream.  The time-range
    predicate is what lets the engine derive those retention bounds;
    an unconstrained stream-stream equi-join would require infinite
    state and is rejected by Spark.

    Output columns: ``key``, left columns prefixed ``l_``, right
    columns prefixed ``r_`` (timestamps included) — prefixing keeps
    the two sides' clocks distinguishable downstream.
    """
    lw = left.withWatermark(ts_left, watermark)
    rw = right.withWatermark(ts_right, watermark)
    lp = lw.select(
        F.col(key).alias("__k"),
        *[F.col(c).alias(f"l_{c}") for c in left.columns if c != key],
    )
    rp = rw.select(
        F.col(key).alias("__rk"),
        *[F.col(c).alias(f"r_{c}") for c in right.columns if c != key],
    )
    cond = (
        (F.col("__k") == F.col("__rk"))
        & (F.col(f"r_{ts_right}") >= F.col(f"l_{ts_left}"))
        & (F.col(f"r_{ts_right}")
           <= F.col(f"l_{ts_left}") + F.expr(f"interval {within}"))
    )
    return (
        lp.join(rp, cond, how)
        .drop("__rk")
        .withColumnRenamed("__k", key)
    )


def stream_validate_sink(
    rules,
    audit_dir: str,
    *,
    fail_fast: bool = False,
):
    """Streaming data-quality gate: a ``foreachBatch`` sink that runs
    :func:`loudml_spark.operators.validate.validate` over every
    micro-batch and lands one audit row per (batch, rule) in a
    batch-id-idempotent parquet table — the intake gate of
    examples/curation_pipeline.py, continuously.

    The audit write uses the same overwrite-own-partition idempotence
    as :func:`idempotent_parquet_sink` (a replayed batch rewrites its
    audit rows instead of duplicating them), so the audit table is a
    faithful per-batch quality history to alert and trend on.

    ``fail_fast=True`` raises on the first failing rule, killing the
    query — the "refuse to ingest garbage" mode; the raise happens
    AFTER the audit lands, so the failure itself is recorded.
    Rules are evaluated as ONE aggregation pass per batch (row rules
    fuse; see operators/validate.py) — cost is a scan of the
    micro-batch, not the stream's history.
    """
    from loudml_spark import errors
    from loudml_spark.operators.validate import validate

    def process(batch_df: DataFrame, batch_id: int) -> None:
        audit = validate(batch_df, rules) \
            .withColumn("_batch_id", F.lit(int(batch_id)))
        (
            audit.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(audit_dir)
        )
        if fail_fast:
            bad = [r["rule"] for r in audit.collect() if not r["passed"]]
            if bad:
                raise errors.Invalid(
                    f"stream batch {batch_id} failed data-quality "
                    f"rules: {bad}")

    return process


def stream_cms_counters(
    stream: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Count-min sketch maintained ACROSS micro-batches: the
    streaming form of ``pipeline/corpus.py cms_counters``.  CMS cells
    add, so the running sketch is just a streaming
    ``groupBy(d, bucket).count()`` — the state store holds
    depth × width rows REGARDLESS of corpus or vocabulary size (the
    whole point of sketches in streams: heavy-hitter state that
    cannot grow).  Run in ``complete`` output mode; because the
    sketch is deterministic integer arithmetic, the drained result is
    bit-identical to the batch sketch over the same rows — the
    catalog pairs the STREAMING execution against the BATCH SQL
    oracle directly.
    """
    from loudml_spark import errors
    from loudml_spark.pipeline.corpus import cms_counters

    if not stream.isStreaming:
        raise errors.Invalid(
            "stream_cms_counters expects a streaming DataFrame; use "
            "pipeline.corpus.cms_counters for batch input")
    return cms_counters(
        stream, text_col=text_col, id_col=id_col,
        depth=depth, width=width)


def _enforce_in_order(pdf, ts_col, last_ts, key, on_late, op):
    """Cross-batch in-order guard shared by the sequential-statistic
    operators (Page–Hinkley, Kalman): given this batch's ts-sorted
    rows and the max ts already folded into the key's state, either
    fail loudly on rows that precede it (``on_late="error"`` — the
    state cannot be rewound, so continuing would be silently wrong)
    or drop them (``on_late="skip"``).  Returns the (possibly
    filtered) batch and the advanced watermark ts.

    Contract caveat (deliberate): the guard is strictly ``<``, so a
    replayed row whose ts EQUALS the per-key max is re-folded into
    the state (a double-count) under both policies.  Equal-ts rows
    are indistinguishable from the legitimate several-rows-per-
    bucket case without a per-(ts, payload) ledger, which would make
    state O(rows) instead of O(1) — the operator's contract is
    therefore "at-most-once delivery per (key, ts)"; upstream
    replays that can re-emit the watermark ts must dedupe first
    (:func:`stream_dedupe` provides exactly that)."""
    if last_ts is not None:
        late = pdf[ts_col] < last_ts
        if late.any():
            if on_late == "error":
                raise ValueError(
                    f"{op}: out-of-order micro-batch for key "
                    f"{key!r} — row ts "
                    f"{int(pdf.loc[late, ts_col].min())} precedes "
                    f"the max already-processed ts {int(last_ts)}; "
                    "sequential state cannot be rewound (stage "
                    "inputs in order, or pass on_late='skip')")
            pdf = pdf[~late]
    if len(pdf):
        batch_max = int(pdf[ts_col].max())
        last_ts = batch_max if last_ts is None \
            else max(int(last_ts), batch_max)
    return pdf, last_ts


def stream_page_hinkley(
    df: DataFrame,
    *,
    key_col: str = "event_type",
    ts_col: str = "bucket_ts",
    value_col: str = "value",
    delta: float = 0.5,
    lam: float = 30.0,
    timeout: str = "NoTimeout",
    on_late: str = "error",
) -> DataFrame:
    """Streaming Page–Hinkley drift detection whose statistic
    survives micro-batch boundaries: per-key state is exactly the
    recursion's four scalars (count, running sum, m, min m) — O(1)
    per key regardless of stream length, the textbook example of why
    sequential drift tests suit streams.

    The update is the SAME arithmetic sequence the batch closed form
    executes (cumulative avg/sum/min in ts order), so the drained
    append output is BIT-IDENTICAL to operators/tsmath.page_hinkley
    over the same rows and the catalog pairs this streaming
    execution against the batch SQL oracle verbatim.  Rows are
    processed in ts order within each batch (one global sort over
    the key's concatenated chunks); cross-batch ordering requires
    in-order arrival, and the contract is now ENFORCED, not assumed:
    the state carries the max ts seen per key, and a batch
    containing older rows either fails the query with a named error
    (``on_late="error"``, the default — a sequential statistic fed
    out of order is silently wrong, the r10 advice) or drops the
    late rows (``on_late="skip"``, the watermark-style policy for
    sources that can genuinely deliver stragglers).  Null values
    leave the statistic unchanged but still emit a row (the batch
    semantics)."""
    from loudml_spark import errors

    if on_late not in ("error", "skip"):
        raise errors.Invalid(
            f"on_late must be 'error' or 'skip', got {on_late!r}")
    out_schema = T.StructType([
        T.StructField(key_col, T.StringType()),
        T.StructField(ts_col, T.LongType()),
        T.StructField(value_col, T.DoubleType()),
        T.StructField("ph", T.DoubleType()),
        T.StructField("is_change", T.BooleanType()),
    ])
    state_schema = T.StructType([
        T.StructField("cnt", T.LongType()),
        T.StructField("total", T.DoubleType()),
        T.StructField("m", T.DoubleType()),
        T.StructField("min_m", T.DoubleType()),
        T.StructField("last_ts", T.LongType()),
    ])

    def fn(key, pdfs, state: GroupState):
        if state.exists:
            cnt, total, m, min_m, last_ts = state.get
        else:
            cnt, total, m, min_m, last_ts = 0, 0.0, 0.0, 0.0, None
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if not chunks:
            state.update((cnt, total, m, min_m, last_ts))
            out = pd.DataFrame(columns=[ts_col, value_col, "ph",
                                        "is_change"])
            out.insert(0, key_col, key[0])
            yield out
            return
        pdf = pd.concat(chunks, ignore_index=True).sort_values(ts_col)
        pdf, last_ts = _enforce_in_order(
            pdf, ts_col, last_ts, key[0], on_late,
            "stream_page_hinkley")
        if not len(pdf):
            state.update((cnt, total, m, min_m, last_ts))
            out = pd.DataFrame(columns=[ts_col, value_col, "ph",
                                        "is_change"])
            out.insert(0, key_col, key[0])
            yield out
            return
        phs, flags, started = [], [], cnt > 0
        for x in pdf[value_col]:
            if x is not None and not pd.isna(x):
                cnt += 1
                total += float(x)
                m += float(x) - total / cnt - delta
                min_m = min(min_m, m)
                started = True
            raw = (m - min(min_m, 0.0)) if started else 0.0
            phs.append(raw)
            flags.append(raw > lam)
        state.update((cnt, total, m, min_m, last_ts))
        out = pd.DataFrame({
            ts_col: pdf[ts_col].to_numpy(),
            value_col: pdf[value_col].to_numpy(dtype=float),
            "ph": phs,
            "is_change": flags,
        })
        out.insert(0, key_col, key[0])
        yield out

    return df.groupBy(key_col).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=getattr(GroupStateTimeout, timeout),
    )


def stream_hll_registers(
    stream: DataFrame,
    *,
    key_col: str,
    by: "Sequence[str]",
    p: int = 4,
) -> DataFrame:
    """HyperLogLog registers maintained ACROSS micro-batches — the
    streaming form of ``operators/sketch.hll_distinct``: registers
    are MAX-mergeable (the property hll_distinct_merged proves in
    batch), so the running sketch is just a streaming
    ``groupBy(by, register).max(ρ)`` — the state store holds at most
    |groups|·2^p rows REGARDLESS of how many distinct keys stream
    past (distinct-count state that cannot grow, the sketch's whole
    point; the exact streaming alternative, dropDuplicates + count,
    keeps one state row PER KEY).

    Run in ``complete`` mode and finish the drained register frame
    with ``operators/sketch.hll_finish``; because register/ρ use the
    same expressions (``hll_reg_rho``) and max is order-insensitive,
    the drained estimate is BIT-IDENTICAL to the batch sketch over
    the same rows — the catalog pairs this streaming execution
    against the batch SQL oracle directly (the CMS parity claim, for
    a max-monoid instead of a sum-monoid)."""
    from loudml_spark import errors
    from loudml_spark.operators.sketch import hll_reg_rho

    if not stream.isStreaming:
        raise errors.Invalid(
            "stream_hll_registers expects a streaming DataFrame; use "
            "operators/sketch.hll_distinct for batch input")
    by = list(by)
    if not by:
        raise errors.Invalid(
            "stream_hll_registers needs at least one group col")
    reg, rho = hll_reg_rho(F.col(key_col), p)
    return (
        stream.where(F.col(key_col).isNotNull())
        .select(*by, reg.alias("__reg"), rho.alias("__rho"))
        .groupBy(*by, "__reg")
        .agg(F.max("__rho").alias("__mrho"))
    )


def stream_kalman_level(
    df: DataFrame,
    *,
    key_col: str = "event_type",
    ts_col: str = "bucket_ts",
    value_col: str = "value",
    q_var: float = 0.1,
    r_var: float = 1.0,
    timeout: str = "NoTimeout",
    on_late: str = "error",
) -> DataFrame:
    """Streaming Kalman local-level filter whose estimate survives
    micro-batch boundaries: per-key state is exactly the recursion's
    two scalars (level, posterior variance) — O(1) per key however
    long the stream runs, the same textbook sequential-statistic fit
    as stream_page_hinkley.

    The update is the SAME scalar IEEE sequence as the batch
    operator (operators/tsmath.kalman_level), executed in ts order
    within each batch over the key's concatenated chunks, so the
    drained append output is BIT-IDENTICAL to the batch filter over
    the same rows and the catalog pairs this streaming execution
    against the batch replay oracle verbatim.  Cross-batch ordering
    requires in-order arrival and is ENFORCED via the max-ts-per-key
    state (the stream_page_hinkley guard): an out-of-order batch
    fails the query with a named error under ``on_late="error"``
    (default) or has its late rows dropped under
    ``on_late="skip"``."""
    from loudml_spark import errors

    if q_var < 0 or r_var <= 0:
        raise errors.Invalid(
            f"need q_var >= 0 and r_var > 0, got {q_var}/{r_var}")
    if on_late not in ("error", "skip"):
        raise errors.Invalid(
            f"on_late must be 'error' or 'skip', got {on_late!r}")
    qv, rv = float(q_var), float(r_var)
    out_schema = T.StructType([
        T.StructField(key_col, T.StringType()),
        T.StructField(ts_col, T.LongType()),
        T.StructField(value_col, T.DoubleType()),
        T.StructField("level", T.DoubleType()),
        T.StructField("gain", T.DoubleType()),
        T.StructField("variance", T.DoubleType()),
    ])
    state_schema = T.StructType([
        T.StructField("started", T.BooleanType()),
        T.StructField("lvl", T.DoubleType()),
        T.StructField("p", T.DoubleType()),
        T.StructField("last_ts", T.LongType()),
    ])

    def fn(key, pdfs, state: GroupState):
        if state.exists:
            started, lvl, p, last_ts = state.get
        else:
            started, lvl, p, last_ts = False, 0.0, 0.0, None
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if not chunks:
            state.update((started, lvl, p, last_ts))
            out = pd.DataFrame(columns=[
                ts_col, value_col, "level", "gain", "variance"])
            out.insert(0, key_col, key[0])
            yield out
            return
        pdf = pd.concat(chunks, ignore_index=True).sort_values(ts_col)
        pdf, last_ts = _enforce_in_order(
            pdf, ts_col, last_ts, key[0], on_late,
            "stream_kalman_level")
        if not len(pdf):
            state.update((started, lvl, p, last_ts))
            out = pd.DataFrame(columns=[
                ts_col, value_col, "level", "gain", "variance"])
            out.insert(0, key_col, key[0])
            yield out
            return
        levels, gains, variances = [], [], []
        for y in pdf[value_col].tolist():
            y = float(y)
            if not started:
                lvl, p, k = y, rv, 1.0
                started = True
            else:
                p_pred = p + qv
                k = p_pred / (p_pred + rv)
                lvl = lvl + k * (y - lvl)
                p = (1.0 - k) * p_pred
            levels.append(round(lvl, 6))
            gains.append(round(k, 6))
            variances.append(round(p, 6))
        state.update((started, lvl, p, last_ts))
        out = pd.DataFrame({
            ts_col: pdf[ts_col].to_numpy(),
            value_col: pdf[value_col].to_numpy(dtype=float),
            "level": levels,
            "gain": gains,
            "variance": variances,
        })
        out.insert(0, key_col, key[0])
        yield out

    return df.groupBy(key_col).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=getattr(GroupStateTimeout, timeout),
    )
