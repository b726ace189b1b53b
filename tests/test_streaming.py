"""Streaming-semantics tests (SURVEY §5 fixtures): file-source streams
re-creating the reference's seeded generator scenarios — latest-per-key
changelog, windowed join with late data, stateful running totals,
dead-letter policies, restart-on-transient lifecycle.
"""

from __future__ import annotations

import datetime as dt
import uuid

import pytest

from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from confluent_kafka_streams_examples_spark.streaming.ktable import latest_per_key_stream
from confluent_kafka_streams_examples_spark.streaming.join import windowed_stream_join
from confluent_kafka_streams_examples_spark.streaming.processor import (
    running_total_with_emission,
)
from confluent_kafka_streams_examples_spark.streaming.errors import (
    DeadLetterPolicy,
    DeserializationThresholdExceeded,
    is_transient,
)
from confluent_kafka_streams_examples_spark.streaming.lifecycle import StreamApp

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def ts(seconds: float) -> dt.datetime:
    return T0 + dt.timedelta(seconds=seconds)


EVENT_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("value", DoubleType()),
        StructField("ts", TimestampType()),
    ]
)


def write_batch(spark, path, rows):
    spark.createDataFrame(rows, EVENT_SCHEMA).coalesce(1).write.mode("append").parquet(path)


def run_stream(spark, df, tmpdir, mode="update", name=None):
    """Start -> processAllAvailable -> stop; return collected memory rows."""
    qname = name or f"q{uuid.uuid4().hex[:8]}"
    q = (
        df.writeStream.format("memory")
        .queryName(qname)
        .outputMode(mode)
        .option("checkpointLocation", f"{tmpdir}/ckpt_{qname}")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(f"SELECT * FROM {qname}").collect()


def test_latest_per_key_stream(spark, tmp_path):
    """KTable semantics (reference KTableExample.scala:99-108 generator:
    several records per key -> latest wins)."""
    src = str(tmp_path / "src")
    rows = []
    for k in range(6):
        for i in range(4):
            rows.append((f"key-{k}", float(k * 10 + i), ts(k * 40 + i * 10)))
    write_batch(spark, src, rows)
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(src)
    table = latest_per_key_stream(stream, "key", "ts", ["value"])
    out = run_stream(spark, table, tmp_path, mode="update")
    latest = {r["key"]: r["value"] for r in out}
    assert latest == {f"key-{k}": float(k * 10 + 3) for k in range(6)}


def test_windowed_join_drops_late_data(spark, tmp_path):
    """J1/W2 (reference JoinsExample.scala:47-56,150,176-178): zero-grace
    ±5s window; a right-side record arriving after the watermark passed
    its window is silently dropped."""
    left_p, right_p = str(tmp_path / "l"), str(tmp_path / "r")
    # batch 1: left at t=100 and t=200, right at t=102 (joins with t=100)
    # plus an unmatched right record at t=200 — the global watermark is
    # min over BOTH sides (like Kafka Streams' shared task stream-time),
    # so each side must observe t=200 for the watermark to reach 195
    write_batch(spark, left_p, [("u1", 1.0, ts(100)), ("u2", 2.0, ts(200))])
    write_batch(spark, right_p, [("u1", 10.0, ts(102)), ("wm-advance", 0.0, ts(200))])

    left = spark.readStream.schema(EVENT_SCHEMA).parquet(left_p)
    right = spark.readStream.schema(EVENT_SCHEMA).parquet(right_p)
    joined = windowed_stream_join(left, right, "key", "ts", "ts", window_seconds=5)
    out_cols = joined.select("key", "value", "r_value", "r_ts")

    qname = f"j{uuid.uuid4().hex[:8]}"
    q = (
        out_cols.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .option("checkpointLocation", f"{tmp_path}/ckpt_{qname}")
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: right record for u1 at t=100 — inside the join window
        # of left t=100, but ~95s older than the watermark (200-5): late.
        write_batch(spark, right_p, [("u1", 99.0, ts(100))])
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql(f"SELECT * FROM {qname}").collect()
    assert len(rows) == 1
    assert rows[0]["r_value"] == 10.0  # on-time join emitted, late one dropped


def test_windowed_join_left_outer_null_pads_expired(spark, tmp_path):
    """Left-outer windowed stream-stream join (the Kafka Streams DSL's
    leftJoin, which the reference declares via JoinWindows but leaves
    unused): an unmatched left record is emitted NULL-padded — but only
    once the watermark proves no matching right record can still
    arrive, which Spark does on a subsequent microbatch after state
    expiry."""
    left_p, right_p = str(tmp_path / "l"), str(tmp_path / "r")
    # u1 has no right-side match; per-side watermark-advance records
    # (distinct keys so they never join) push the global watermark far
    # past u1's ±5s window
    write_batch(spark, left_p, [("u1", 1.0, ts(100)), ("wml", 0.0, ts(300))])
    write_batch(spark, right_p, [("wmr", 0.0, ts(300))])

    left = spark.readStream.schema(EVENT_SCHEMA).parquet(left_p)
    right = spark.readStream.schema(EVENT_SCHEMA).parquet(right_p)
    joined = windowed_stream_join(
        left, right, "key", "ts", "ts", window_seconds=5, how="left_outer"
    ).select("key", "value", "r_value")

    qname = f"lo{uuid.uuid4().hex[:8]}"
    q = (
        joined.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .option("checkpointLocation", f"{tmp_path}/ckpt_{qname}")
        .start()
    )
    try:
        q.processAllAvailable()
        # next batch advances the watermark again -> expired unmatched
        # left state is emitted null-padded
        write_batch(spark, left_p, [("wml2", 0.0, ts(400))])
        write_batch(spark, right_p, [("wmr2", 0.0, ts(400))])
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql(f"SELECT * FROM {qname}").collect()
    u1 = [r for r in rows if r["key"] == "u1"]
    assert len(u1) == 1 and u1[0]["value"] == 1.0 and u1[0]["r_value"] is None


def test_windowed_join_full_outer_pads_both_sides(spark, tmp_path):
    """Full-outer windowed stream-stream join (the DSL's outerJoin,
    completing join/leftJoin/outerJoin): unmatched records on EITHER
    side emit null-padded once the opposite side's watermark proves no
    match can still arrive."""
    left_p, right_p = str(tmp_path / "l"), str(tmp_path / "r")
    # u1 only on the left, u2 only on the right; wm* records advance
    # both watermarks past their windows
    write_batch(spark, left_p, [("u1", 1.0, ts(100)), ("wml", 0.0, ts(300))])
    write_batch(spark, right_p, [("u2", 2.0, ts(100)), ("wmr", 0.0, ts(300))])

    left = spark.readStream.schema(EVENT_SCHEMA).parquet(left_p)
    right = spark.readStream.schema(EVENT_SCHEMA).parquet(right_p)
    joined = windowed_stream_join(
        left, right, "key", "ts", "ts", window_seconds=5, how="full_outer"
    ).select("key", "value", "r_key", "r_value")

    qname = f"fo{uuid.uuid4().hex[:8]}"
    q = (
        joined.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .option("checkpointLocation", f"{tmp_path}/ckpt_{qname}")
        .start()
    )
    try:
        q.processAllAvailable()
        write_batch(spark, left_p, [("wml2", 0.0, ts(400))])
        write_batch(spark, right_p, [("wmr2", 0.0, ts(400))])
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql(f"SELECT * FROM {qname}").collect()
    u1 = [r for r in rows if r["key"] == "u1"]
    u2 = [r for r in rows if r["r_key"] == "u2"]
    assert len(u1) == 1 and u1[0]["value"] == 1.0 and u1[0]["r_value"] is None
    assert len(u2) == 1 and u2[0]["r_value"] == 2.0 and u2[0]["key"] is None


def test_running_total_with_emission(spark, tmp_path):
    """A2/A3 (reference AggregationsExample.scala:83-92 generator: a few
    keys x 4 orders): per-key fold through the managed state store."""
    src = str(tmp_path / "src")
    rows = []
    for k in range(5):
        for i in range(4):
            rows.append((f"id-{k}", float(k + 1), ts(i)))
    write_batch(spark, src, rows)
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(src)
    totals = running_total_with_emission(stream, "key", "value")
    out = run_stream(spark, totals, tmp_path, mode="update")
    got = {r["key"]: (r["total"], r["n"]) for r in out}
    assert got == {f"id-{k}": (float((k + 1) * 4), 4) for k in range(5)}


def test_running_total_across_batches(spark, tmp_path):
    """Continuous refinement: a second batch folds into existing state
    (running total, not per-batch total)."""
    src = str(tmp_path / "src")
    write_batch(spark, src, [("a", 1.0, ts(0)), ("a", 2.0, ts(1))])
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(src)
    totals = running_total_with_emission(stream, "key", "value")
    qname = f"t{uuid.uuid4().hex[:8]}"
    q = (
        totals.writeStream.format("memory")
        .queryName(qname)
        .outputMode("update")
        .option("checkpointLocation", f"{tmp_path}/ckpt_{qname}")
        .start()
    )
    try:
        q.processAllAvailable()
        write_batch(spark, src, [("a", 4.0, ts(2))])
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql(f"SELECT * FROM {qname} ORDER BY n").collect()
    assert [(r["total"], r["n"]) for r in rows] == [(3.0, 2), (7.0, 3)]


def test_running_total_aggregate_matches_fold_semantics(spark, tmp_path):
    """The timer-free running total is a JVM streaming aggregate with
    the fold's semantics: null keys dropped, an integer key emitted as
    a string, ``n`` counting null/NaN values that ``total`` skips (an
    all-null key totals 0.0), refined across micro-batches.  The
    punctuator path is still the applyInPandasWithState fold."""
    from confluent_kafka_streams_examples_spark.plans.describe import explain_str

    schema = StructType(
        [StructField("key", LongType()), StructField("value", DoubleType())]
    )
    nan = float("nan")
    src = str(tmp_path / "src")

    def write(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    write([(1, 1.0), (1, None), (1, nan), (2, None), (None, 5.0)])
    stream = spark.readStream.schema(schema).parquet(src)
    totals = running_total_with_emission(stream, "key", "value")
    assert [(f.name, f.dataType) for f in totals.schema] == [
        ("key", StringType()),
        ("total", DoubleType()),
        ("n", LongType()),
    ]
    assert "FlatMapGroupsInPandasWithState" not in explain_str(totals)
    punctuated = running_total_with_emission(
        stream, "key", "value", emit_every_ms=1000
    )
    assert "FlatMapGroupsInPandasWithState" in explain_str(punctuated)

    qname = f"t{uuid.uuid4().hex[:8]}"
    q = (
        totals.writeStream.format("memory")
        .queryName(qname)
        .outputMode("update")
        .option("checkpointLocation", f"{tmp_path}/ckpt_{qname}")
        .start()
    )
    try:
        q.processAllAvailable()
        write([(1, 2.0), (3, nan), (None, 7.0)])
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql(f"SELECT * FROM {qname} ORDER BY key, n").collect()
    assert [(r["key"], r["total"], r["n"]) for r in rows] == [
        ("1", 1.0, 3),
        ("1", 3.0, 4),
        ("2", 0.0, 1),
        ("3", 0.0, 1),
    ]


def test_checkpoint_manager_is_filesystem_based(spark, tmp_path):
    """Checkpoints go through Hadoop's FileSystem API: the default
    FileContext manager forks a ``readlink`` process per rename and
    existence check on a host without native libhadoop (see the
    session module docstring)."""
    jvm = spark._jvm
    manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(str(tmp_path)),
        spark._jsparkSession.sessionState().newHadoopConf(),
    )
    assert manager.getClass().getSimpleName() == "FileSystemBasedCheckpointFileManager"


def _listing_jobs(sc, group: str) -> list[str]:
    """Descriptions of the jobs in ``group`` that run Spark's parallel
    file listing ("Listing leaf files and directories for N paths", one
    task per path).  Waits until the group's jobs have all ended, so the
    status store has seen every job the group ran."""
    import time as _time

    tracker = sc.statusTracker()
    deadline = _time.monotonic() + 30
    while True:
        jobs = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(group)]
        if jobs and all(j and j.status == "SUCCEEDED" for j in jobs):
            break
        assert _time.monotonic() < deadline, f"jobs of {group} did not end: {jobs}"
        _time.sleep(0.1)
    # PySpark's status tracker has no job descriptions; the JVM's
    # status store does
    store = sc._jsc.sc().statusStore()
    descs = [store.job(j.jobId).description() for j in jobs]
    return [
        d.get() for d in descs
        if d.isDefined() and d.get().startswith("Listing leaf files")
    ]


def test_file_listing_launches_no_spark_job(spark, tmp_path):
    """Under a local master a path list is listed on the driver: neither
    a 40-file micro-batch nor a 40-path batch read launches Spark's
    parallel "Listing leaf files" job, which the default threshold of
    32 paths would (see the session module docstring)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from confluent_kafka_streams_examples_spark.sources.files import file_stream

    src = tmp_path / "src"
    src.mkdir()
    paths = []
    for i in range(40):
        # written without Spark, so the only jobs are the reads below
        paths.append(str(src / f"f{i:02d}.parquet"))
        pq.write_table(
            pa.table({
                "key": [f"k{i}"],
                "value": [float(i)],
                "ts": pa.array([ts(i)], pa.timestamp("us")),
            }),
            paths[-1],
        )
    sc = spark.sparkContext

    q = (
        file_stream(spark, str(src), EVENT_SCHEMA)
        .writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        assert q.lastProgress["numInputRows"] == 40
    finally:
        q.stop()
    assert _listing_jobs(sc, str(q.runId)) == []

    group = f"batch-read-{uuid.uuid4().hex[:8]}"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        df = spark.read.parquet(*paths)
        assert df.count() == 40
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert _listing_jobs(sc, group) == []


def test_running_total_path_switch_needs_fresh_checkpoint(spark, tmp_path):
    """The timer-free aggregate and the punctuator fold keep different
    state, so turning emit_every_ms on over an aggregate checkpoint
    fails loudly at state load instead of folding from a misread
    state row (documented on the module)."""
    import time as _time

    src = str(tmp_path / "src")
    ckpt = f"{tmp_path}/ckpt"
    write_batch(spark, src, [("a", 1.0, ts(0))])

    def start(emit_every_ms):
        stream = spark.readStream.schema(EVENT_SCHEMA).parquet(src)
        return (
            running_total_with_emission(stream, "key", "value", emit_every_ms)
            .writeStream.foreachBatch(lambda df, epoch: df.collect())
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .start()
        )

    q = start(None)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    write_batch(spark, src, [("a", 2.0, ts(1))])
    q2 = start(100)
    exc = None
    try:
        deadline = _time.monotonic() + 60
        while exc is None and q2.isActive and _time.monotonic() < deadline:
            _time.sleep(0.5)
            exc = q2.exception()
        exc = exc or q2.exception()
    finally:
        q2.stop()
    assert exc is not None, "switching paths over one checkpoint must fail"
    assert "STATEFUL_OPERATOR_NOT_MATCH_IN_STATE_METADATA" in str(exc), str(exc)


def test_dead_letter_policy(spark):
    """E1/E4 (reference ErrorHandlingExample.scala:32-47 + circe
    drop-on-failure): poison records skipped + counted; threshold fails."""
    schema = StructType([StructField("id", LongType()), StructField("price", DoubleType())])
    good = [(f'{{"id": {i}, "price": 1.5}}',) for i in range(19)]
    df = spark.createDataFrame(good + [("INVALID",)], ["payload"])

    policy = DeadLetterPolicy(value_col="payload", schema=schema, max_errors=25)
    out = policy.process(df)
    assert out.count() == 19
    assert policy.errors_seen == 1

    strict = DeadLetterPolicy(value_col="payload", schema=schema, max_errors=0)
    with pytest.raises(DeserializationThresholdExceeded):
        strict.process(df)


def test_lifecycle_restart_on_transient():
    """E3 (reference ErrorHandlingExample.scala:64-74 + KafkaStreamsApp):
    transient error -> REPLACE_THREAD (restart); fatal -> propagate."""

    class FakeQuery:
        def __init__(self, fail_with=None):
            self.fail_with = fail_with
            self.isActive = False

        def awaitTermination(self, timeout=None):
            if self.fail_with:
                err, self.fail_with = self.fail_with, None
                raise err
            return True

        def stop(self):
            self.isActive = False

    calls = []

    def make_query():
        calls.append(1)
        if len(calls) == 1:
            return FakeQuery(RuntimeError("Transient error! please retry"))
        return FakeQuery()

    states = []
    app = StreamApp(make_query, max_restarts=3, on_state_change=states.append).start()
    assert app.await_termination(timeout=5)
    assert app.restarts == 1 and len(calls) == 2
    assert states == ["RUNNING", "RESTARTING", "RUNNING"]

    fatal_app = StreamApp(lambda: FakeQuery(RuntimeError("boom")), max_restarts=3).start()
    with pytest.raises(RuntimeError, match="boom"):
        fatal_app.await_termination(timeout=5)

    assert is_transient(RuntimeError("Transient error")) is True
    assert is_transient(RuntimeError("fatal")) is False


def test_lifecycle_await_timeout_returns_false():
    """A timeout is not termination: await_termination reports False
    when the query's own awaitTermination(t) timed out."""

    class RunningQuery:
        isActive = True

        def awaitTermination(self, timeout=None):
            return False

    app = StreamApp(RunningQuery).start()
    assert app.await_termination(timeout=0.01) is False
    assert app.restarts == 0


def test_windowed_join_subsecond_precision(spark, tmp_path):
    """The ±window comparison is microsecond-exact: a right record 5.5s
    away must NOT join a ±5s window (whole-second truncation would have
    admitted it), while one 4.4s away does."""
    left_p, right_p = str(tmp_path / "l"), str(tmp_path / "r")
    write_batch(spark, left_p, [("u1", 1.0, ts(100.0))])
    write_batch(
        spark,
        right_p,
        [("u1", 55.0, ts(105.5)), ("u1", 44.0, ts(104.4))],
    )
    left = spark.readStream.schema(EVENT_SCHEMA).parquet(left_p)
    right = spark.readStream.schema(EVENT_SCHEMA).parquet(right_p)
    joined = windowed_stream_join(left, right, "key", "ts", "ts", window_seconds=5)
    qname = f"j{uuid.uuid4().hex[:8]}"
    q = (
        joined.select("key", "r_value")
        .writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .option("checkpointLocation", f"{tmp_path}/ckpt_{qname}")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql(f"SELECT * FROM {qname}").collect()
    assert [r["r_value"] for r in rows] == [44.0]


def test_windowed_join_grace_admits_late_within_grace(spark, tmp_path):
    """W2 grace twin (reference JoinWindows.ofTimeDifferenceAndGrace vs
    the example's ofTimeDifferenceWithNoGrace, JoinsExample.scala:47-49):
    grace extends the watermark BEYOND the join window, so a record that
    is late relative to stream-time but within grace still joins, while
    one older than window+grace is dropped.  The no-grace twin on the
    same data drops both — proving grace (not the window) admits it."""
    for grace, expect in [(60, {10.0}), (0, set())]:
        left_p = str(tmp_path / f"l{grace}")
        right_p = str(tmp_path / f"r{grace}")
        # batch 1 advances both sides to t=200; ±5s window.
        # grace=60 -> watermark 200-65=135; grace=0 -> watermark 195.
        write_batch(
            spark,
            left_p,
            [("u1", 1.0, ts(148)), ("u2", 2.0, ts(100)), ("wm-a", 0.0, ts(200))],
        )
        write_batch(spark, right_p, [("wm-b", 0.0, ts(200))])
        left = spark.readStream.schema(EVENT_SCHEMA).parquet(left_p)
        right = spark.readStream.schema(EVENT_SCHEMA).parquet(right_p)
        joined = windowed_stream_join(
            left, right, "key", "ts", "ts",
            window_seconds=5, grace_seconds=grace,
        ).select("key", "value", "r_value")

        qname = f"g{grace}_{uuid.uuid4().hex[:8]}"
        q = (
            joined.writeStream.format("memory")
            .queryName(qname)
            .outputMode("append")
            .option("checkpointLocation", f"{tmp_path}/ckpt_{qname}")
            .start()
        )
        try:
            q.processAllAvailable()
            # batch 2, both records late vs stream-time 200:
            #   right u1 @150 joins left u1 @148 — within grace (150>135)
            #   right u2 @100 would join left u2 @100 — beyond grace
            write_batch(
                spark, right_p, [("u1", 10.0, ts(150)), ("u2", 99.0, ts(100))]
            )
            q.processAllAvailable()
        finally:
            q.stop()
        got = {r["r_value"] for r in spark.sql(f"SELECT * FROM {qname}").collect()}
        assert got == expect, (grace, got)


def test_keyless_band_join_runs_as_streaming_query(spark, tmp_path):
    """The cell-bucket decomposition (operators/skew.py
    keyless_band_pairs) is exactly what makes a KEYLESS temporal join
    feasible as a stream-stream join: Spark requires an equality
    predicate plus a watermark time-range for state cleanup, and the
    quantized time cell supplies the equality where no key exists.
    Two events within ±2s across ALL keys pair up; a far-apart event
    pairs with nothing."""
    src = str(tmp_path / "src")
    write_batch(
        spark,
        src,
        [("a", 1.0, ts(100)), ("b", 2.0, ts(101)), ("c", 3.0, ts(500))],
    )
    window_s = 2
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(src)

    def side(alias_prefix, explode_cells):
        s = stream.withWatermark("ts", "10 seconds")
        cell = F.floor(F.unix_timestamp("ts") / window_s).cast("long")
        if explode_cells:
            s = s.withColumn(
                "bucket", F.explode(F.array(cell - 1, cell, cell + 1))
            )
        else:
            s = s.withColumn("bucket", cell)
        return s.select(
            F.col("key").alias(f"{alias_prefix}_key"),
            F.col("ts").alias(f"{alias_prefix}_ts"),
            "bucket",
        )

    probe, build = side("a", True), side("b", False)
    joined = probe.join(
        build,
        (probe.bucket == build.bucket)
        & (F.col("a_ts") >= F.col("b_ts") - F.expr(f"INTERVAL {window_s} SECONDS"))
        & (F.col("a_ts") <= F.col("b_ts") + F.expr(f"INTERVAL {window_s} SECONDS"))
        & (F.col("a_key") != F.col("b_key")),
    ).select("a_key", "b_key")
    rows = run_stream(spark, joined, tmp_path, mode="append")
    got = sorted((r.a_key, r.b_key) for r in rows)
    assert got == [("a", "b"), ("b", "a")]


def test_streaming_bench_pipelines_construct(spark, tmp_path):
    """Every bench_streaming pipeline factory must still build a valid
    streaming plan against a tiny fixture — catches bitrot in the
    throughput-bench script (which otherwise only runs ad hoc) without
    draining its 2M-row input."""
    import importlib

    bs = importlib.import_module("bench_streaming")
    left, right = str(tmp_path / "l"), str(tmp_path / "r")
    rows = [("k1", 1.0), ("k2", 2.0), ("k1", 3.0)]
    for path in (left, right):
        spark.createDataFrame(rows, "key string, value double").selectExpr(
            "key", "value", "timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,value) AS ts"
        ).write.mode("overwrite").parquet(path)
    import glob
    import os
    import tempfile

    def corpus_sig_dirs():
        pattern = os.path.join(tempfile.gettempdir(), "ckse_corpus_sig_*")
        return set(glob.glob(pattern))

    before = corpus_sig_dirs()
    for name, factory, _rows in bs.PIPELINES:
        df, mode = factory(spark, left, right)
        assert df.isStreaming, name
        assert mode in ("append", "update"), (name, mode)
    # the corpus-gate pillar's signature table lives under the caller's
    # input root, so removing the input removes it
    assert corpus_sig_dirs() == before


def test_streaming_bench_rejects_unknown_pillar():
    """A pillar name on bench_streaming's command line that names no
    pipeline exits non-zero before any session starts, listing the
    valid names."""
    import importlib

    bs = importlib.import_module("bench_streaming")
    with pytest.raises(SystemExit) as exc:
        bs.main(["tumbling_agg", "no_such_pillar"])
    msg = str(exc.value.code)
    assert "no_such_pillar" in msg
    assert all(name in msg for name, _, _ in bs.PIPELINES)


def test_state_probe_pillars_construct(spark, tmp_path):
    """Same bitrot guard for scripts/stream_state_probe.py: every
    pillar factory must build a valid streaming plan (the probe runs
    ad hoc; its funnel pillar shares bench_stream_to_funnel_columns
    with bench_streaming, and drift here invalidates SCALE.md's
    state-decade tables)."""
    import importlib.util
    import os as _os

    spec = importlib.util.spec_from_file_location(
        "stream_state_probe",
        _os.path.join(_os.path.dirname(__file__), "..", "scripts", "stream_state_probe.py"),
    )
    sp = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(sp)
    path = str(tmp_path / "probe_in")
    spark.createDataFrame(
        [("k1", 1.0), ("k2", 2.0)], "key string, value double"
    ).selectExpr(
        "key", "value",
        "timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,value) AS ts",
    ).write.mode("overwrite").parquet(path)
    for name, factory in sp.PILLARS:
        df, mode = factory(spark, path)
        assert df.isStreaming, name
        assert mode in ("append", "update"), (name, mode)


def _poll_memory(spark, qname, cond, seconds):
    """Collect the memory sink until ``cond(rows)`` holds or the
    deadline passes: with an armed processing-time timeout,
    processAllAvailable never settles."""
    import time as _time

    deadline = _time.monotonic() + seconds
    while _time.monotonic() < deadline:
        rows = spark.sql(f"SELECT * FROM {qname}").collect()
        if cond(rows):
            return rows
        _time.sleep(0.5)
    return spark.sql(f"SELECT * FROM {qname}").collect()


def test_running_total_punctuated_matches_aggregate_semantics(spark, tmp_path):
    """The punctuator fold (bucketed state) keeps the aggregate's value
    semantics across multi-batch refinement, with keys spread over many
    buckets and the pickled bucket map round-tripping the state store
    between batches: ``total`` skips NaN and null values, an all-null
    key totals 0.0, ``n`` counts every row, and null-key rows are
    DROPPED (the groupByKey null-drop guard — ADVICE r9), not folded or
    emitted as 'None'."""
    nan = float("nan")
    src = str(tmp_path / "src")
    rows = []
    for k in range(40):
        for i in range(3):
            rows.append((f"id-{k}", float(k + 1) + i, ts(i)))
    rows += [(None, 999.0, ts(1)), (None, 1.0, ts(2))]
    rows += [("id-7", nan, ts(1)), ("nulls", None, ts(1)), ("nulls", nan, ts(2))]
    write_batch(spark, src, rows)
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(src)
    totals = running_total_with_emission(
        stream, "key", "value", emit_every_ms=100, n_buckets=8
    )
    qname = f"tb{uuid.uuid4().hex[:8]}"
    q = (
        totals.writeStream.format("memory")
        .queryName(qname)
        .outputMode("update")
        .option("checkpointLocation", f"{tmp_path}/ckpt_{qname}")
        .start()
    )

    def final(out):
        # punctuated re-emissions repeat a key's current values, so the
        # largest n is the latest state
        got = {}
        for r in out:
            prev = got.get(r["key"])
            if prev is None or r["n"] > prev[1]:
                got[r["key"]] = (r["total"], r["n"])
        return got

    expect = {
        f"id-{k}": (float((k + 1) * 3 + 3), 3) for k in range(40)
    }
    expect["id-7"] = (expect["id-7"][0], 4)
    expect["nulls"] = (0.0, 2)
    try:
        _poll_memory(spark, qname, lambda out: len(final(out)) >= 41, 60)
        # second batch folds into recovered bucket state
        write_batch(
            spark,
            src,
            [("id-0", 100.0, ts(9)), ("id-39", 1.0, ts(9)), ("id-5", None, ts(9))],
        )
        expect["id-0"] = (expect["id-0"][0] + 100.0, 4)
        expect["id-39"] = (expect["id-39"][0] + 1.0, 4)
        expect["id-5"] = (expect["id-5"][0], 4)
        out = _poll_memory(spark, qname, lambda out: final(out) == expect, 60)
    finally:
        q.stop()
    assert final(out) == expect  # no 'None'/null key row, nulls not folded


def test_windowed_join_random_stream_matches_batch(spark, tmp_path):
    """Differential contract for J1: over a seeded random stream whose
    batches arrive in nondecreasing event time (nothing late, so the
    watermark never drops a row), the streaming interval join's append
    output must equal the batch equi+range join over the union of all
    batches — row multiset, not just counts."""
    import random
    from collections import Counter

    rng = random.Random(7)
    l_batches, r_batches, t = [], [], 0
    for _ in range(3):
        lb, rb = [], []
        for _ in range(120):
            t += rng.randrange(3)  # nondecreasing across ALL batches
            (lb if rng.random() < 0.5 else rb).append(
                (f"u{rng.randrange(12)}", float(t), ts(t))
            )
        l_batches.append(lb)
        r_batches.append(rb)

    lp, rp = str(tmp_path / "l"), str(tmp_path / "r")
    write_batch(spark, lp, l_batches[0] or [("wm", 0.0, ts(0))])
    write_batch(spark, rp, r_batches[0] or [("wm", 0.0, ts(0))])
    left = spark.readStream.schema(EVENT_SCHEMA).parquet(lp)
    right = spark.readStream.schema(EVENT_SCHEMA).parquet(rp)
    joined = windowed_stream_join(
        left, right, "key", "ts", "ts", window_seconds=5
    ).select("key", "value", "r_value")
    qname = f"dj{uuid.uuid4().hex[:8]}"
    q = (
        joined.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .option("checkpointLocation", f"{tmp_path}/ckpt")
        .start()
    )
    try:
        q.processAllAvailable()
        for lb, rb in zip(l_batches[1:], r_batches[1:]):
            write_batch(spark, lp, lb or [("wm", 0.0, ts(t))])
            write_batch(spark, rp, rb or [("wm", 0.0, ts(t))])
            q.processAllAvailable()
        # final empty-ish advance so every in-window pair has been
        # emitted before we compare (inner-join emission needs no
        # watermark, but keep the drain deterministic)
        q.processAllAvailable()
    finally:
        q.stop()
    got = Counter(
        (r["key"], r["value"], r["r_value"])
        for r in spark.sql(f"SELECT * FROM {qname}").collect()
    )

    all_l = [r for b in l_batches for r in b]
    all_r = [r for b in r_batches for r in b]
    expect = Counter(
        (lk, lv, rv)
        for lk, lv, lt in all_l
        for rk, rv, rt in all_r
        if lk == rk and abs((lt - rt).total_seconds()) <= 5
    )
    assert got == expect


def test_latest_per_key_random_stream_matches_batch(spark, tmp_path):
    """Differential for the KTable pillar: over a seeded random stream
    with STRICTLY increasing timestamps (ties excluded — the streaming
    twin breaks them by value ordering, the batch Table by an explicit
    tiebreak column), the final update-mode refinement per key must
    equal the batch latest-per-key over the union."""
    import random
    from collections import defaultdict

    rng = random.Random(23)
    batches, t = [], 0
    for _ in range(3):
        b = []
        for _ in range(150):
            t += 1 + rng.randrange(4)  # strictly increasing: no ties
            b.append((f"k{rng.randrange(15)}", float(rng.randrange(1000)), ts(t)))
        batches.append(b)

    src = str(tmp_path / "src")
    write_batch(spark, src, batches[0])
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(src)
    table = latest_per_key_stream(stream, "key", "ts", ["value"])
    qname = f"lk{uuid.uuid4().hex[:8]}"
    q = (
        table.writeStream.format("memory")
        .queryName(qname)
        .outputMode("update")
        .option("checkpointLocation", f"{tmp_path}/ckpt_{qname}")
        .start()
    )
    try:
        q.processAllAvailable()
        for b in batches[1:]:
            write_batch(spark, src, b)
            q.processAllAvailable()
    finally:
        q.stop()
    final: dict = {}
    latest_ts: dict = defaultdict(lambda: None)
    for r in spark.sql(f"SELECT * FROM {qname}").collect():
        if latest_ts[r["key"]] is None or r["ts"] > latest_ts[r["key"]]:
            latest_ts[r["key"]] = r["ts"]
            final[r["key"]] = r["value"]

    expect: dict = {}
    seen_ts: dict = {}
    for b in batches:
        for k, v, tt in b:
            if k not in seen_ts or tt > seen_ts[k]:
                seen_ts[k] = tt
                expect[k] = v
    assert final == expect


def test_running_total_bucketed_punctuator_per_key_cadence(spark, tmp_path):
    """The punctuator (A4) on bucketed state: with emit_every_ms set, a
    key re-emits its CURRENT total on timeout even when later batches
    carry no rows for it (reference ProcessorApiExample.scala:43-58) —
    and only DUE keys re-emit, not whole buckets: a key that just
    received data is re-armed, not double-emitted."""
    src = str(tmp_path / "src")
    write_batch(spark, src, [("a", 5.0, ts(0)), ("c", 2.0, ts(0))])
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(src)
    # n_buckets=1: 'a' and 'c' share one bucket and ONE bucket timer,
    # yet must keep independent per-key cadence
    totals = running_total_with_emission(
        stream, "key", "value", emit_every_ms=100, n_buckets=1
    )
    qname = f"bp{uuid.uuid4().hex[:8]}"
    q = (
        totals.writeStream.format("memory")
        .queryName(qname)
        .outputMode("update")
        .option("checkpointLocation", f"{tmp_path}/ckpt_{qname}")
        .start()
    )

    rows = []
    try:
        rows = _poll_memory(
            spark, qname, lambda rs: any(r["key"] == "a" for r in rs), 60
        )
        # data only for key b: a and c must re-emit via the bucket timer
        write_batch(spark, src, [("b", 7.0, ts(1))])
        rows = _poll_memory(
            spark,
            qname,
            lambda rs: len([r for r in rs if r["key"] == "a"]) >= 2
            and len([r for r in rs if r["key"] == "c"]) >= 2,
            60,
        )
    finally:
        q.stop()
    emits_a = [r for r in rows if r["key"] == "a"]
    emits_c = [r for r in rows if r["key"] == "c"]
    assert len(emits_a) >= 2, rows  # initial emit + timeout re-emit
    assert len(emits_c) >= 2, rows
    assert all(r["total"] == 5.0 and r["n"] == 1 for r in emits_a)
    assert all(r["total"] == 2.0 and r["n"] == 1 for r in emits_c)
    assert all(r["total"] == 7.0 for r in rows if r["key"] == "b")


@pytest.mark.parametrize("how", ["left_outer", "full_outer"])
def test_outer_windowed_join_random_stream_matches_batch(spark, tmp_path, how):
    """Differential contract for J1b (VERDICT r9 #7): over a seeded
    random stream arriving in nondecreasing event time, the OUTER
    windowed join's append output must equal the batch left/full outer
    equi+range join over the union of all batches — row multiset
    including the null-padded rows, whose emission timing (watermark
    expiry, not arrival) is the hard part the inner differential never
    exercises.  Trailing watermark-advance batches flush every
    remaining pad before the comparison."""
    import random
    from collections import Counter

    rng = random.Random(13 if how == "left_outer" else 29)
    l_batches, r_batches, t = [], [], 0
    for _ in range(3):
        lb, rb = [], []
        for _ in range(120):
            t += rng.randrange(3)  # nondecreasing across ALL batches
            (lb if rng.random() < 0.5 else rb).append(
                (f"u{rng.randrange(12)}", float(t), ts(t))
            )
        l_batches.append(lb)
        r_batches.append(rb)

    lp, rp = str(tmp_path / "l"), str(tmp_path / "r")
    write_batch(spark, lp, l_batches[0] or [("wml", 0.0, ts(0))])
    write_batch(spark, rp, r_batches[0] or [("wmr", 0.0, ts(0))])
    left = spark.readStream.schema(EVENT_SCHEMA).parquet(lp)
    right = spark.readStream.schema(EVENT_SCHEMA).parquet(rp)
    joined = windowed_stream_join(
        left, right, "key", "ts", "ts", window_seconds=5, how=how
    ).select("key", "value", "r_key", "r_value")
    qname = f"od{uuid.uuid4().hex[:8]}"
    q = (
        joined.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .option("checkpointLocation", f"{tmp_path}/ckpt")
        .start()
    )
    try:
        q.processAllAvailable()
        for lb, rb in zip(l_batches[1:], r_batches[1:]):
            write_batch(spark, lp, lb or [("wml", 0.0, ts(t))])
            write_batch(spark, rp, rb or [("wmr", 0.0, ts(t))])
            q.processAllAvailable()
        # two trailing advances: the first moves the watermark past
        # every u-row's window, the second triggers the microbatch
        # that actually emits the expired unmatched state null-padded
        for adv in (t + 100, t + 200):
            write_batch(spark, lp, [("wml", 0.0, ts(adv))])
            write_batch(spark, rp, [("wmr", 0.0, ts(adv))])
            q.processAllAvailable()
    finally:
        q.stop()

    def is_u(k):
        return k is not None and k.startswith("u")

    got = Counter(
        (r["key"], r["value"], r["r_key"], r["r_value"])
        for r in spark.sql(f"SELECT * FROM {qname}").collect()
        if is_u(r["key"]) or is_u(r["r_key"])
    )

    all_l = [r for b in l_batches for r in b]
    all_r = [r for b in r_batches for r in b]

    def in_window(lt, rt):
        return abs((lt - rt).total_seconds()) <= 5

    expect: Counter = Counter()
    for lk, lv, lt in all_l:
        matches = [
            (rk, rv) for rk, rv, rt in all_r if rk == lk and in_window(lt, rt)
        ]
        if matches:
            for rk, rv in matches:
                expect[(lk, lv, rk, rv)] += 1
        else:
            expect[(lk, lv, None, None)] += 1
    if how == "full_outer":
        for rk, rv, rt in all_r:
            if not any(
                lk == rk and in_window(lt, rt) for lk, _, lt in all_l
            ):
                expect[(None, None, rk, rv)] += 1
    assert got == expect
