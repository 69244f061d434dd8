"""Structured Streaming tests: windowed aggregation with watermark and
stateful detection whose episodes span micro-batch boundaries."""

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from loudml_spark.streaming.job import stateful_detect_stream, stream_bucketize

BASE = 1704067200


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp()
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _write_batch(spark, path, rows, schema):
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "append").parquet(path)


def test_stream_bucketize_counts(spark, tmpdir):
    src = f"{tmpdir}/src"
    rows = [
        (BASE + i * 10, float(i), "error" if i % 2 else "click")
        for i in range(12)
    ]
    _write_batch(
        spark, src,
        [(f"{t}", v, e) for t, v, e in
         [(r[0], r[1], r[2]) for r in rows]],
        "ts string, value double, event_type string",
    )
    stream = (
        spark.readStream.schema("ts string, value double, event_type string")
        .parquet(src)
        .withColumn("ts", F.timestamp_seconds(F.col("ts").cast("long")))
    )
    out = stream_bucketize(
        stream,
        ["count(value)", "avg(value)"],
        60,
        watermark="30 seconds",
    )
    q = (
        out.writeStream.format("memory").queryName("agg_test")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination(60)
    got = {
        r["bucket_ts"]: (r["count_value"], r["avg_value"])
        for r in spark.sql("select * from agg_test").collect()
    }
    assert got[BASE][0] == 6  # first 6 events in bucket 0
    assert got[BASE + 60][0] == 6
    assert got[BASE][1] == pytest.approx(2.5)


def test_stateful_detection_across_batches(spark, tmpdir):
    src = f"{tmpdir}/scored"
    schema = "model string, bucket_ts long, score double"
    # file 1 → micro-batch 1: episode opens (99.9), stays open (80)
    _write_batch(spark, src, [
        ("m1", BASE, 0.0), ("m1", BASE + 60, 99.9), ("m1", BASE + 120, 80.0),
    ], schema)
    # file 2 → micro-batch 2: still open (70), closes (10), NEW episode
    # (99.8) — state must carry across the batch boundary
    _write_batch(spark, src, [
        ("m1", BASE + 180, 70.0), ("m1", BASE + 240, 10.0),
        ("m1", BASE + 300, 99.8),
    ], schema)

    # maxFilesPerTrigger=1 + availableNow → one micro-batch per file
    # within a single query run (state carried by the state store)
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", "1").parquet(src)
    out = stateful_detect_stream(stream, key_col="model")
    q = (
        out.writeStream.format("memory").queryName("det_test")
        .outputMode("append")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    assert len(q.recentProgress) >= 2  # really ran as multiple batches

    rows = {
        r["bucket_ts"]: r
        for r in spark.sql("select * from det_test").collect()
    }
    assert rows[BASE]["episode_id"] is None
    assert rows[BASE + 60]["is_anomaly"] and rows[BASE + 60]["episode_id"] == 1
    assert rows[BASE + 120]["episode_id"] == 1
    # continuation in the NEXT micro-batch keeps the same episode
    assert rows[BASE + 180]["episode_id"] == 1
    assert rows[BASE + 240]["episode_id"] is None  # closed
    assert rows[BASE + 300]["episode_id"] == 2     # new episode number


def test_streaming_eval_write_back_to_bucket(spark, tmpdir):
    """StreamingEval end-to-end: stream → bucketize → model score →
    prediction-sink write-back into a MemBucket (the reference's
    save_output_data loop for streams)."""
    from loudml_spark.ml.models import GaussianModel
    from loudml_spark.sources.base import MemBucket
    from loudml_spark.streaming.job import StreamingEval

    src = f"{tmpdir}/src"
    rows = [(BASE + i * 10, 5.0 + (i % 3)) for i in range(18)]
    _write_batch(spark, src, rows, "ts long, value double")

    train = spark.createDataFrame(
        [(BASE + i * 60, 6.0) for i in range(20)],
        "bucket_ts long, value double",
    )
    model = GaussianModel("g", bucket_interval=60).fit(train)
    out = MemBucket("out")
    ev = StreamingEval(model, None, ["avg(value)"], offset="0s")
    stream = (
        spark.readStream.schema("ts long, value double").parquet(src)
        .withColumn("ts", F.timestamp_seconds(F.col("ts")))
    )
    q = ev.start_to_bucket(stream, out, available_now=True)
    q.awaitTermination(120)
    q.stop()
    assert len(out.rows) == 3  # 3 one-minute buckets
    row = out.rows[0]
    assert {"timestamp", "value", "lower_value", "upper_value",
            "@value", "score", "model"} <= set(row)
    assert row["model"] == "g"


def test_stream_sessionize_merges_across_batches(spark, tmpdir):
    from loudml_spark.streaming.job import stream_sessionize

    src = f"{tmpdir}/sess_src"
    # batch 1: u starts a session; batch 2 continues it within the gap,
    # then jumps past the gap to open a second session
    _write_batch(
        spark, src,
        [("u", BASE), ("u", BASE + 60), ("v", BASE)],
        "k string, sec long",
    )
    _write_batch(
        spark, src,
        [("u", BASE + 120), ("u", BASE + 10_000)],
        "k string, sec long",
    )
    stream = (
        spark.readStream.schema("k string, sec long")
        .option("maxFilesPerTrigger", "1")  # force >=2 micro-batches
        .parquet(src)
        .withColumn("ts", F.timestamp_seconds(F.col("sec")))
    )
    out = stream_sessionize(stream, gap_seconds=300, by=["k"])
    q = (
        out.writeStream.format("memory").queryName("sess_test")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from sess_test").collect()
    sessions = {}
    for r in rows:
        sessions.setdefault(r["k"], []).append(r)
    # u: one merged session across both micro-batches + one later
    by_start = sorted(sessions["u"], key=lambda r: r["session_start"])
    assert len(by_start) == 2
    assert by_start[0]["n_events"] == 3  # BASE, +60, +120 merged
    assert by_start[0]["session_end"] - by_start[0]["session_start"] \
        == 120 * 10**6
    assert by_start[1]["n_events"] == 1
    assert len(sessions["v"]) == 1


def test_stream_dedupe_across_batches(spark, tmpdir):
    from loudml_spark.streaming.job import stream_dedupe

    src = f"{tmpdir}/dedup_src"
    # duplicate event ids within AND across micro-batches
    _write_batch(
        spark, src,
        [(1, BASE), (2, BASE + 5), (1, BASE)],
        "event_id long, sec long",
    )
    _write_batch(
        spark, src,
        [(2, BASE + 5), (3, BASE + 10)],
        "event_id long, sec long",
    )
    stream = (
        spark.readStream.schema("event_id long, sec long")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .withColumn("ts", F.timestamp_seconds(F.col("sec")))
    )
    out = stream_dedupe(stream, ["event_id"], watermark="1 hour")
    q = (
        out.writeStream.format("memory").queryName("dedup_test")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select event_id from dedup_test").collect()
    ids = sorted(r["event_id"] for r in rows)
    assert ids == [1, 2, 3]  # each event exactly once, even cross-batch


def test_idempotent_parquet_sink_replay_no_duplicates(spark, tmpdir):
    """A crashed micro-batch REPLAYS with the same batch_id; the sink
    must overwrite that batch's own partition, not append a second
    copy.  Direct-invoke the foreachBatch function exactly as the
    engine would: batch 0, batch 1, then batch 1 AGAIN (replay)."""
    from loudml_spark.streaming.job import idempotent_parquet_sink

    out = f"{tmpdir}/sink_out"
    sink = idempotent_parquet_sink(out, ["event_type"])
    b0 = spark.createDataFrame(
        [(1000, "click", 1.0), (1000, "view", 2.0)],
        "bucket_ts long, event_type string, avg_value double")
    b1 = spark.createDataFrame(
        [(2000, "click", 3.0)],
        "bucket_ts long, event_type string, avg_value double")
    sink(b0, 0)
    sink(b1, 1)
    assert spark.read.parquet(out).count() == 3
    # replay batch 1 (same id, same rows) — count must NOT change
    sink(b1, 1)
    got = spark.read.parquet(out)
    assert got.count() == 3
    # replay with a REVISED batch (engine re-computed after recovery):
    # the batch's partition is replaced wholesale, never merged
    b1_revised = spark.createDataFrame(
        [(2000, "click", 4.0)],
        "bucket_ts long, event_type string, avg_value double")
    sink(b1_revised, 1)
    rows = {(r["bucket_ts"], r["event_type"]): r["avg_value"]
            for r in spark.read.parquet(out).collect()}
    assert rows[(2000, "click")] == 4.0 and len(rows) == 3
    # provenance column present and correct
    assert {r["_batch_id"] for r in spark.read.parquet(out)
            .select("_batch_id").distinct().collect()} == {0, 1}


def test_idempotent_sink_end_to_end_stream(spark, tmpdir):
    """The example pipeline end-to-end: file stream → watermarked
    window agg → foreachBatch idempotent parquet; append-mode windows
    flush as the watermark passes them across micro-batches."""
    import pyspark.sql.functions as F

    from loudml_spark.streaming.job import idempotent_parquet_sink

    src = f"{tmpdir}/e2e_src"
    out = f"{tmpdir}/e2e_out"
    ckpt = f"{tmpdir}/e2e_ckpt"
    base = 1704067200
    rows = [
        ((base + h * 3600 + m * 600) * 10**6, "click", float(h))
        for h in range(4) for m in range(3)
    ]
    df = spark.createDataFrame(
        rows, "us long, event_type string, value double"
    ).select(
        F.timestamp_micros(F.col("us")).cast("timestamp").alias("ts"),
        "event_type", "value")
    df.repartitionByRange(4, "ts").write.parquet(src)

    stream = (
        spark.readStream.schema(
            "ts timestamp, event_type string, value double")
        .option("maxFilesPerTrigger", 1).parquet(src)
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.avg("value").alias("avg_value"), F.count("*").alias("n"))
        .select(F.col("w.start").alias("bucket_ts"), "event_type",
                "avg_value", "n")
    )
    q = (
        agg.writeStream.outputMode("append")
        .foreachBatch(idempotent_parquet_sink(out, ["event_type"]))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out).collect()
    # file-consumption order is not guaranteed, so out-of-order files
    # may drop late rows (watermark semantics) and the final window
    # never flushes in a bounded run — the invariants that MUST hold:
    # at least one window flushed, append mode emitted each window
    # EXACTLY once, every average is exact for its contributing rows
    assert len(got) >= 1
    keys = [(r["bucket_ts"], r["event_type"]) for r in got]
    assert len(keys) == len(set(keys))  # no window emitted twice
    for r in got:
        assert 1 <= r["n"] <= 3
        assert r["avg_value"] == float(int(r["avg_value"]))


def test_stream_counter_increase_across_batches(spark, tmpdir):
    from loudml_spark.streaming.job import stream_counter_increase

    src = f"{tmpdir}/ctr"
    schema = "event_type string, ts long, value double"
    # batch 1: counter climbs 0 -> 10
    _write_batch(spark, src, [
        ("a", BASE, 0.0), ("a", BASE + 10, 4.0), ("a", BASE + 20, 10.0),
    ], schema)
    # batch 2: continues from 10 (delta 2, NOT a fresh series), then
    # the counter restarts (3 < 12 -> credit the post-reset value)
    _write_batch(spark, src, [
        ("a", BASE + 30, 12.0), ("a", BASE + 40, 3.0),
        ("b", BASE + 40, 100.0),
    ], schema)

    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", "1").parquet(src)
    out = stream_counter_increase(stream, key_col="event_type")
    q = (
        out.writeStream.format("memory").queryName("ctr_test")
        .outputMode("append")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    assert len(q.recentProgress) >= 2

    rows = {(r["event_type"], r["ts"]): r["increase"]
            for r in spark.sql("select * from ctr_test").collect()}
    assert rows[("a", BASE)] is None        # first sample ever
    assert rows[("a", BASE + 10)] == 4.0
    assert rows[("a", BASE + 20)] == 6.0
    assert rows[("a", BASE + 30)] == 2.0    # state crossed the boundary
    assert rows[("a", BASE + 40)] == 3.0    # reset credits new value
    assert rows[("b", BASE + 40)] is None   # new key's first sample


def test_stream_bucketize_sliding_windows(spark, tmpdir):
    src = f"{tmpdir}/slide_src"
    rows = [(BASE + i * 10, 1.0) for i in range(12)]  # 2 minutes of data
    _write_batch(spark, src, rows, "sec long, value double")
    stream = (
        spark.readStream.schema("sec long, value double").parquet(src)
        .withColumn("ts", F.timestamp_seconds(F.col("sec")))
    )
    out = stream_bucketize(
        stream, ["count(value)"], 60, slide=30, watermark="30 seconds")
    q = (
        out.writeStream.format("memory").queryName("slide_test")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination(60)
    got = {r["bucket_ts"]: r["count_value"]
           for r in spark.sql("select * from slide_test").collect()}
    # 60s windows sliding by 30s: full interior windows hold 6 events,
    # half-overlap edges hold 3
    assert got[BASE] == 6
    assert got[BASE + 30] == 6
    assert got[BASE + 60] == 6
    assert got[BASE - 30] == 3     # leading half-window
    assert got[BASE + 90] == 3     # trailing half-window
    from loudml_spark import errors as err
    with pytest.raises(err.Invalid):
        stream_bucketize(stream, ["count(value)"], 60, slide=45)


def test_stream_heartbeat_alerts_on_silence(spark, tmpdir):
    from loudml_spark.streaming.job import stream_heartbeat_alerts

    src = f"{tmpdir}/hb"
    schema = "event_type string, sec long"
    # batch 1: both keys alive
    _write_batch(spark, src, [("a", BASE), ("a", BASE + 10),
                              ("b", BASE + 10)], schema)
    # batch 2: only b keeps beating — the watermark advances past
    # a's (last_seen + gap) with no a events, so the TIMEOUT path
    # must produce a's alert (no input row from a exists)
    _write_batch(spark, src, [("b", BASE + 300)], schema)
    # batch 3: advances the watermark again so batch 2's timeout fires
    _write_batch(spark, src, [("b", BASE + 600)], schema)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
        .withColumn("ts", F.timestamp_seconds(F.col("sec")))
    )
    out = stream_heartbeat_alerts(
        stream, key_col="event_type", ts_col="ts", gap_seconds=60)
    q = (
        out.writeStream.format("memory").queryName("hb_test")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from hb_test").collect()
    alerts = {r["event_type"]: r for r in rows}
    assert "a" in alerts
    a = alerts["a"]
    assert int(a["last_seen"].timestamp()) == BASE + 10
    assert int(a["due_ts"].timestamp()) == BASE + 70
    # b kept beating within every watermark advance -> no alert
    # (its final silence is after the last batch; nothing advances
    # the watermark past it inside this run)
    assert "b" not in alerts


def test_stream_heartbeat_alerts_non_utc_session(spark, tmpdir):
    """The alert timestamps must be wall-clock-correct whatever
    spark.sql.session.timeZone is: event time crosses the Python
    state function as epoch ms both ways, so a non-UTC session must
    produce byte-identical epochs (the naive-datetime formulation
    shifted last_seen/due_ts by the session offset)."""
    from loudml_spark.streaming.job import stream_heartbeat_alerts

    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
    try:
        src = f"{tmpdir}/hb_tz"
        schema = "event_type string, sec long"
        _write_batch(spark, src, [("a", BASE), ("b", BASE + 10)], schema)
        _write_batch(spark, src, [("b", BASE + 300)], schema)
        _write_batch(spark, src, [("b", BASE + 600)], schema)
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1").parquet(src)
            .withColumn("ts", F.timestamp_seconds(F.col("sec")))
        )
        out = stream_heartbeat_alerts(
            stream, key_col="event_type", ts_col="ts", gap_seconds=60)
        q = (
            out.writeStream.format("memory").queryName("hb_tz_test")
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        alerts = {r["event_type"]: r
                  for r in spark.sql("select * from hb_tz_test").collect()}
        assert "a" in alerts
        assert int(alerts["a"]["last_seen"].timestamp()) == BASE
        assert int(alerts["a"]["due_ts"].timestamp()) == BASE + 60
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)


def test_stream_counter_increase_multi_chunk_batch(spark, tmpdir):
    """A key whose batch spans several Arrow chunks must still be
    processed in GLOBAL ts order: with maxRecordsPerBatch=2 a
    ts-descending input file arrives as multiple unordered chunks,
    and chunk-local sorting would report spurious resets."""
    from loudml_spark.streaming.job import stream_counter_increase

    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    try:
        src = f"{tmpdir}/ctr_chunks"
        schema = "event_type string, ts long, value double"
        # one file, 8 monotonically-increasing samples written in
        # REVERSE ts order -> several descending 2-row chunks
        rows = [("a", BASE + 10 * i, float(10 * i)) for i in range(7, -1, -1)]
        _write_batch(spark, src, rows, schema)
        stream = spark.readStream.schema(schema).parquet(src)
        out = stream_counter_increase(stream, key_col="event_type")
        q = (
            out.writeStream.format("memory").queryName("ctr_chunk_test")
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        got = {r["ts"]: r["increase"]
               for r in spark.sql("select * from ctr_chunk_test").collect()}
        assert got[BASE] is None
        for i in range(1, 8):
            assert got[BASE + 10 * i] == 10.0, (i, got)
    finally:
        spark.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch", prev)


def test_monitoring_pipeline_streaming_tail_e2e(spark, tmpdir):
    """The examples/monitoring_pipeline.py streaming tail runs
    end-to-end: counter increases and missing-heartbeat alerts land
    in idempotent parquet sinks, and every key except the sentinel's
    (kept alive 2 days past the data) alerts exactly once."""
    import importlib.util
    import os

    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "examples", "monitoring_pipeline.py")
    spec = importlib.util.spec_from_file_location("monitoring_example", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    rate_path, alert_path = mod.streaming_tail(
        spark, "/root/testdata/sf0.001", str(tmpdir))

    rate = spark.read.parquet(rate_path)
    assert rate.count() > 0
    assert {"event_type", "ts", "value", "increase"} <= set(rate.columns)

    alerts = spark.read.parquet(alert_path)
    got = {r["event_type"] for r in alerts.collect()}
    all_types = {
        r[0] for r in spark.read.parquet(
            "/root/testdata/sf0.001/events.parquet")
        .select("event_type").distinct().collect()
    }
    assert got == all_types - {"click"}
    assert alerts.count() == len(got)  # exactly once per dead key


def test_stream_heartbeat_alerts_rocksdb_state_store(spark, tmpdir):
    """The production state-store config (RocksDB provider, the
    SCALE.md / example recommendation for large key cardinality) is
    exercised for real: the same heartbeat pipeline produces the same
    alert with per-key state held in RocksDB instead of the default
    in-memory HDFS-backed provider."""
    from loudml_spark.streaming.job import stream_heartbeat_alerts

    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming."
        "state.RocksDBStateStoreProvider")
    try:
        src = f"{tmpdir}/hb_rocks"
        schema = "event_type string, sec long"
        _write_batch(spark, src, [("a", BASE), ("b", BASE + 10)], schema)
        _write_batch(spark, src, [("b", BASE + 300)], schema)
        _write_batch(spark, src, [("b", BASE + 600)], schema)
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1").parquet(src)
            .withColumn("ts", F.timestamp_seconds(F.col("sec")))
        )
        out = stream_heartbeat_alerts(
            stream, key_col="event_type", ts_col="ts", gap_seconds=60)
        q = (
            out.writeStream.format("memory").queryName("hb_rocks_test")
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        alerts = {r["event_type"]: r for r in
                  spark.sql("select * from hb_rocks_test").collect()}
        assert "a" in alerts and "b" not in alerts
        assert int(alerts["a"]["last_seen"].timestamp()) == BASE
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def test_checkpoint_restart_resumes_without_duplicates(spark, tmpdir):
    """Crash-recovery semantics end-to-end: a query stopped after
    draining the first files RESUMES from its checkpoint (offsets +
    state) when restarted with the same checkpointLocation, processes
    only the files that arrived since, and the idempotent parquet
    sink holds every input row exactly once across both runs."""
    from loudml_spark.streaming.job import idempotent_parquet_sink

    src, out, ckpt = f"{tmpdir}/src", f"{tmpdir}/out", f"{tmpdir}/ckpt"
    schema = "event_type string, ts long, value double"

    def run_available():
        stream = spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", "1").parquet(src)
        q = (
            stream.writeStream.outputMode("append")
            .foreachBatch(idempotent_parquet_sink(out, ["event_type"]))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        q.stop()

    # run 1: two files
    _write_batch(spark, src, [("a", BASE, 1.0), ("a", BASE + 1, 2.0)],
                 schema)
    _write_batch(spark, src, [("b", BASE + 2, 3.0)], schema)
    run_available()
    first = spark.read.parquet(out)
    assert first.count() == 3
    batches_run1 = {r[0] for r in first.select("_batch_id").distinct()
                    .collect()}

    # run 2: one NEW file; restart from the same checkpoint
    _write_batch(spark, src, [("a", BASE + 3, 4.0)], schema)
    run_available()
    final = spark.read.parquet(out)
    # exactly once per input row — the old files were NOT reprocessed
    assert final.count() == 4
    rows = {(r["event_type"], r["ts"]): r["value"]
            for r in final.collect()}
    assert rows[("a", BASE + 3)] == 4.0
    # the new batch continued the checkpointed batch-id sequence
    batches_run2 = {r[0] for r in final.select("_batch_id").distinct()
                    .collect()}
    assert batches_run1 < batches_run2


def test_streaming_sessionize_query_tz_independent(spark):
    """The catalog's streaming sessionization must produce identical
    epoch-µs sessions under any session timezone: the events table's
    NTZ wall clock is read AS UTC via convert_timezone (a bare
    NTZ→TIMESTAMP cast would shift every instant by the session
    offset and move session boundaries)."""
    from loudml_spark.catalog import QUERIES

    fn = QUERIES["streaming_sessionize_30m"]["fn"]
    sf = "/root/testdata/sf0.001"
    base = fn(spark, sf).agg(
        F.min("session_start"), F.max("session_end"),
        F.count("*"), F.sum("n_events")).collect()[0]
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
    try:
        tokyo = fn(spark, sf).agg(
            F.min("session_start"), F.max("session_end"),
            F.count("*"), F.sum("n_events")).collect()[0]
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    assert tuple(base) == tuple(tokyo)


def test_drain_defaults_rocksdb_and_exposes_state_metrics(spark):
    """The catalog's streaming queries run through drain_stream_to_df,
    which (r8) defaults to the RocksDB state-store provider — the
    SCALE.md production recommendation — and records the drained
    query's stateful-operator metrics.  Asserted on a real stateful
    catalog query: the dedup state rows are visible and non-zero, and
    the session's provider conf is restored afterwards."""
    from loudml_spark.catalog import QUERIES
    from loudml_spark.streaming import job as sjob

    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    out = QUERIES["streaming_dedup_events"]["fn"](
        spark, "/root/testdata/sf0.001")
    assert out.count() > 0
    ops = sjob.last_state_metrics
    assert ops, "stateful drain exposed no state-operator metrics"
    assert any(op.get("numRowsTotal", 0) > 0 for op in ops), ops
    # dropDuplicatesWithinWatermark is the operator under test
    names = {op.get("operatorName") for op in ops}
    assert any("dedupe" in (n or "").lower() for n in names), names
    assert spark.conf.get(key, None) == prev  # conf restored


def test_stream_interval_join_cross_batch(spark, tmpdir):
    """Stream-stream interval join: a (click, purchase) pair split
    ACROSS micro-batches must still match through the join state
    store; purchases outside [click, click+window] or before the
    click must not."""
    from loudml_spark.streaming.job import stream_interval_join

    lsrc = f"{tmpdir}/ij_left"
    rsrc = f"{tmpdir}/ij_right"
    # left: clicks for users 1 and 2 (one file)
    _write_batch(
        spark, lsrc,
        [(1, BASE), (2, BASE + 100)],
        "user_id long, sec long",
    )
    # right batch 1: in-window purchase for user 1; pre-click for 2
    _write_batch(
        spark, rsrc,
        [(1, BASE + 600, 10.0), (2, BASE + 50, 99.0)],
        "user_id long, sec long, value double",
    )
    # right batch 2 (separate file → separate trigger): in-window for
    # user 2 (cross-batch match), out-of-window for user 1
    _write_batch(
        spark, rsrc,
        [(2, BASE + 1900, 20.0), (1, BASE + 7200, 77.0)],
        "user_id long, sec long, value double",
    )
    mk = lambda p, cols: (
        spark.readStream.schema(cols)
        .option("maxFilesPerTrigger", "1").parquet(p)
        .withColumn("ts", F.timestamp_seconds(F.col("sec")))
        .drop("sec")
    )
    out = stream_interval_join(
        mk(lsrc, "user_id long, sec long"),
        mk(rsrc, "user_id long, sec long, value double"),
        key="user_id", within="30 minutes", watermark="2 hours",
    )
    q = (
        out.writeStream.format("memory").queryName("ij_test")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    rows = spark.sql(
        "select user_id, r_value from ij_test").collect()
    got = sorted((r["user_id"], r["r_value"]) for r in rows)
    assert got == [(1, 10.0), (2, 20.0)]


def test_stream_validate_sink_audits_each_batch(spark, tmpdir):
    """Continuous DQ gate: one audit row per (batch, rule), the bad
    batch's violations recorded; replaying a batch overwrites its
    own audit partition; fail_fast raises AFTER landing the audit."""
    import pytest

    from loudml_spark import errors
    from loudml_spark.operators.validate import in_range, not_null
    from loudml_spark.streaming.job import stream_validate_sink

    src = f"{tmpdir}/dq_src"
    audit_dir = f"{tmpdir}/dq_audit"
    _write_batch(spark, src, [(1, 5.0), (2, 7.0)],
                 "id long, v double")
    _write_batch(spark, src, [(3, None), (4, 99.0)],
                 "id long, v double")
    rules = [not_null("v"), in_range("v", 0.0, 10.0)]
    stream = (
        spark.readStream.schema("id long, v double")
        .option("maxFilesPerTrigger", "1").parquet(src)
    )
    q = (
        stream.writeStream
        .foreachBatch(stream_validate_sink(rules, audit_dir))
        .option("checkpointLocation", f"{tmpdir}/dq_ckpt")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    audit = spark.read.parquet(audit_dir).collect()
    got = {(r["_batch_id"], r["rule"]): (r["n_violations"], r["passed"])
           for r in audit}
    assert len(got) == 4  # 2 batches x 2 rules
    by_batch = {}
    for (b, rule), (v, p) in got.items():
        by_batch.setdefault(b, {})[rule] = (v, p)
    clean = [b for b, rs in by_batch.items()
             if all(p for _, p in rs.values())]
    dirty = [b for b in by_batch if b not in clean]
    assert len(clean) == 1 and len(dirty) == 1
    assert by_batch[dirty[0]]["not_null(v)"] == (1, False)
    assert by_batch[dirty[0]]["in_range(v,0.0,10.0)"] == (1, False)

    # replay: direct-invoke the sink for the dirty batch again —
    # audit rows must not duplicate
    sink = stream_validate_sink(rules, audit_dir)
    sink(spark.createDataFrame([(3, None), (4, 99.0)],
                               "id long, v double"), dirty[0])
    assert len(spark.read.parquet(audit_dir).collect()) == 4

    # fail_fast: raises, but the audit for the failing batch lands
    strict = stream_validate_sink(rules, audit_dir, fail_fast=True)
    with pytest.raises(errors.Invalid, match="failed data-quality"):
        strict(spark.createDataFrame([(9, -5.0)], "id long, v double"),
               99)
    a99 = spark.read.parquet(audit_dir).filter("_batch_id = 99")
    assert a99.filter("NOT passed").count() == 1


def test_stream_cms_counters_merges_across_batches(spark, tmpdir):
    """The streaming CMS must equal the batch CMS over the union of
    all micro-batches — written as 3 separate files with
    maxFilesPerTrigger=1 so the merge happens in the STATE STORE,
    not within one batch — and reject batch input."""
    from loudml_spark import errors
    from loudml_spark.pipeline.corpus import cms_counters
    from loudml_spark.streaming.job import (
        drain_stream_to_df,
        stream_cms_counters,
    )

    src = f"{tmpdir}/src"
    schema = "doc_id long, text string"
    batches = [
        [(1, "alpha beta alpha"), (2, "gamma beta")],
        [(3, "alpha delta")],
        [(4, "beta beta epsilon"), (5, "alpha")],
    ]
    for rows in batches:
        _write_batch(spark, src, rows, schema)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
    )
    got = drain_stream_to_df(
        stream_cms_counters(stream, depth=4, width=64),
        ["d", "bucket", "n"], output_mode="complete",
        prefix="t_cms",
    )
    all_rows = [r for b in batches for r in b]
    expect = cms_counters(
        spark.createDataFrame(all_rows, schema), depth=4, width=64)
    got_m = {(r["d"], r["bucket"]): r["n"] for r in got.collect()}
    exp_m = {(r["d"], r["bucket"]): r["n"] for r in expect.collect()}
    assert got_m == exp_m
    # total mass per depth row = total token count (11)
    for d in range(4):
        assert sum(n for (dd, _), n in got_m.items() if dd == d) == 11

    with pytest.raises(errors.Invalid, match="streaming"):
        stream_cms_counters(spark.createDataFrame(all_rows, schema))


def test_stream_page_hinkley_state_crosses_batches(spark, tmpdir):
    from loudml_spark.operators.tsmath import page_hinkley
    from loudml_spark.streaming.job import stream_page_hinkley

    src = f"{tmpdir}/ph"
    schema = "event_type string, bucket_ts long, value double"
    vals = [50.0, 51.0, 49.0, 50.0, 62.0, 63.0, 61.0, 62.0]
    rows = [("a", BASE + i * 60, v) for i, v in enumerate(vals)]
    # the level shift sits in batch 2: the statistic must carry the
    # batch-1 mean state across the boundary to see it
    _write_batch(spark, src, rows[:4], schema)
    _write_batch(spark, src, rows[4:], schema)

    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", "1").parquet(src)
    out = stream_page_hinkley(stream, key_col="event_type",
                              delta=0.5, lam=10.0)
    q = (out.writeStream.format("memory").queryName("ph_test")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    assert len(q.recentProgress) >= 2

    got = {r["bucket_ts"]: (r["ph"], r["is_change"])
           for r in spark.sql("select * from ph_test").collect()}
    # bit-identical to the batch closed form over the same rows
    df = spark.createDataFrame(rows, schema)
    want = {r["bucket_ts"]: (r["ph"], r["is_change"])
            for r in page_hinkley(df, value_col="value", delta=0.5,
                                  lam=10.0, by=["event_type"]).collect()}
    assert got == want
    # and the shift actually alarms (in batch 2 only)
    flagged = [ts for ts, (_, ch) in got.items() if ch]
    assert flagged and min(flagged) >= BASE + 4 * 60
