"""Streaming windowed aggregation + end-to-end dead-letter pipeline."""

from __future__ import annotations

import datetime as dt
import uuid

from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from confluent_kafka_streams_examples_spark.streaming.errors import DeadLetterPolicy
from tests.test_streaming import EVENT_SCHEMA, T0, ts, write_batch


def test_tumbling_agg_watermark_drops_late(spark, tmp_path):
    """Append-mode tumbling aggregation: a window only emits once the
    watermark passes its end; rows older than the watermark are dropped
    (the aggregation analog of W2 late-data semantics)."""
    src = str(tmp_path / "src")
    # batch 1: two rows in window [0,60), one at t=600 advancing watermark
    write_batch(spark, src, [("a", 1.0, ts(10)), ("a", 2.0, ts(20)), ("a", 9.0, ts(600))])
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(src)
    agg = (
        stream.withWatermark("ts", "30 seconds")
        .groupBy(F.window("ts", "60 seconds").alias("win"), "key")
        .agg(F.sum("value").alias("total"))
        .select(F.col("win.start").alias("ws"), "key", "total")
    )
    qname = f"w{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .option("checkpointLocation", f"{tmp_path}/ckpt")
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: late row for window [0,60) — watermark is 570, dropped
        write_batch(spark, src, [("a", 100.0, ts(30)), ("a", 1.0, ts(700))])
        q.processAllAvailable()
    finally:
        q.stop()
    rows = {(r["ws"], r["key"]): r["total"] for r in spark.sql(f"SELECT * FROM {qname}").collect()}
    # window [0,60) emitted with the ON-TIME total only (1+2, not +100)
    assert rows[(T0, "a")] == 3.0


def test_stream_static_enrichment_join(spark, tmp_path):
    """J2 in streaming mode: a streaming fact joined against a static
    dimension DataFrame (broadcast, no state) — the Spark-native form of
    the reference's stream-table enrichment (JoinsExample.scala:41-45)."""
    src = str(tmp_path / "facts")
    write_batch(spark, src, [("u1", 5.0, ts(0)), ("u2", 7.0, ts(1)), ("u9", 1.0, ts(2))])
    users = spark.createDataFrame(
        [("u1", "alice"), ("u2", "bo")], ["key", "name"]
    )
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(src)
    joined = stream.join(F.broadcast(users), "key", "inner")
    qname = f"s{uuid.uuid4().hex[:8]}"
    q = (
        joined.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .option("checkpointLocation", f"{tmp_path}/ckpt_{qname}")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = {r["key"]: r["name"] for r in spark.sql(f"SELECT * FROM {qname}").collect()}
    assert rows == {"u1": "alice", "u2": "bo"}  # u9 has no dimension row


def test_foreachbatch_dead_letter_pipeline(spark, tmp_path):
    """E1/E4 end-to-end: streaming JSON payloads through a foreachBatch
    sink with the counted dead-letter policy (reference
    ErrorHandlingExample.scala:139-157: one poison record among many;
    all valid records survive, the poison one is counted + skipped)."""
    src = str(tmp_path / "json_src")
    payload_schema = StructType(
        [StructField("id", LongType()), StructField("price", DoubleType())]
    )
    raw_schema = StructType([StructField("payload", StringType())])
    rows = [(f'{{"id": {i}, "price": 2.0}}',) for i in range(19)] + [("INVALID",)]
    spark.createDataFrame(rows, raw_schema).coalesce(1).write.parquet(src)

    policy = DeadLetterPolicy(value_col="payload", schema=payload_schema, max_errors=25)
    good_batches = []

    def sink(batch_df, epoch_id):
        good = policy.process(batch_df)
        good_batches.append(good.count())

    stream = spark.readStream.schema(raw_schema).parquet(src)
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", f"{tmp_path}/ckpt_dl")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert sum(good_batches) == 19
    assert policy.errors_seen == 1


def test_checkpoint_restart_no_double_count(spark, tmp_path):
    """Exactly-once across restarts: stop the query, append data, start a
    NEW query object from the same checkpoint — totals continue (no
    reprocessing of batch 1), which exceeds the reference's
    at-least-once default (SURVEY §2.7)."""
    from confluent_kafka_streams_examples_spark.streaming.processor import (
        running_total_with_emission,
    )

    src = str(tmp_path / "src")
    ckpt = f"{tmp_path}/ckpt_restart"
    emitted = []

    def start():
        stream = spark.readStream.schema(EVENT_SCHEMA).parquet(src)
        totals = running_total_with_emission(stream, "key", "value")
        # memory sink cannot recover from a checkpoint; foreachBatch can
        return (
            totals.writeStream.foreachBatch(
                lambda df, epoch: emitted.extend(
                    (r["total"], r["n"]) for r in df.collect()
                )
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .start()
        )

    write_batch(spark, src, [("a", 1.0, ts(0)), ("a", 2.0, ts(1))])
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    write_batch(spark, src, [("a", 10.0, ts(2))])
    q2 = start()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    # run 1 emitted (3.0, 2); run 2 restored state from the checkpoint
    # and folded ONLY the new row: (13.0, 3) — batch 1 not reprocessed
    assert emitted[0] == (3.0, 2)
    assert emitted[-1] == (13.0, 3)
    assert (4.0, 3) not in emitted and (10.0, 1) not in emitted


def test_streaming_session_window(spark, tmp_path):
    """Session windows in streaming: a session closes (and emits, append
    mode) only when the watermark passes its end; the still-open session
    stays unemitted."""
    src = str(tmp_path / "sess_src")
    write_batch(
        spark,
        src,
        [
            ("a", 1.0, ts(0)),
            ("a", 2.0, ts(30)),   # same session (gap 30s < 60s)
            ("a", 4.0, ts(500)),  # far ahead: advances watermark, own session open
        ],
    )
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(src)
    agg = (
        stream.withWatermark("ts", "30 seconds")
        .groupBy(F.session_window("ts", "60 seconds").alias("win"), "key")
        .agg(F.sum("value").alias("total"), F.count(F.lit(1)).alias("cnt"))
        .select(F.col("win.start").alias("ws"), F.col("win.end").alias("we"), "key", "total", "cnt")
    )
    qname = f"sw{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .option("checkpointLocation", f"{tmp_path}/ckpt_{qname}")
        .start()
    )
    try:
        q.processAllAvailable()
        # one more far-future row so the watermark passes the first
        # session's end in a subsequent batch
        write_batch(spark, src, [("a", 0.0, ts(1000))])
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql(f"SELECT * FROM {qname}").collect()
    closed = {(r["ws"], r["we"]): (r["total"], r["cnt"]) for r in rows}
    # session [0, 30+60) emitted with both on-time rows merged
    assert closed.get((T0, ts(90))) == (3.0, 2), rows


def test_idempotent_sink_replay_no_duplicates(spark, tmp_path):
    """Exactly-once at the SINK (reference processing.guarantee=
    exactly_once_v2 analog, SURVEY §2.7): a batch delivered twice —
    the crash-between-sink-write-and-checkpoint-commit scenario — must
    leave exactly one copy of its rows in the output."""
    from confluent_kafka_streams_examples_spark.streaming.sinks import (
        idempotent_parquet_sink,
    )

    out = str(tmp_path / "out")
    sink = idempotent_parquet_sink(out)
    batch1 = spark.range(10).withColumnRenamed("id", "v")
    batch2 = spark.range(10, 15).withColumnRenamed("id", "v")
    sink(batch1, 0)
    sink(batch2, 1)
    sink(batch1, 0)  # replay of epoch 0 after a simulated crash
    got = spark.read.parquet(out)
    assert got.count() == 15
    assert got.select("v").distinct().count() == 15


def test_idempotent_sink_end_to_end_stream(spark, tmp_path):
    """The sink through a real streaming query: multi-batch file-source
    drain, then a full restart from the same checkpoint with no new
    data — output must not change (re-listing produces no new epochs,
    existing epochs are not re-appended)."""
    from confluent_kafka_streams_examples_spark.streaming.sinks import (
        idempotent_parquet_sink,
    )

    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    spark.range(100).coalesce(1).write.mode("append").parquet(src)
    spark.range(100, 200).coalesce(1).write.mode("append").parquet(src)

    def run():
        q = (
            spark.readStream.schema("id long")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(idempotent_parquet_sink(out))
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run()
    first = sorted(r["id"] for r in spark.read.parquet(out).collect())
    run()  # restart from checkpoint, nothing new to process
    second = sorted(r["id"] for r in spark.read.parquet(out).collect())
    assert first == list(range(200))
    assert second == first


def test_stateful_replay_after_crash_between_sink_and_commit(spark, tmp_path):
    """A crash after the sink wrote epoch N but before ``commits/N``
    landed: the restart re-runs epoch N from its offset log and the
    state of epoch N-1, rewrites the same rows in place (overwriting
    the epoch's state delta and log files), and later epochs keep
    folding from the right totals."""
    import os

    from confluent_kafka_streams_examples_spark.streaming.processor import (
        running_total_with_emission,
    )
    from confluent_kafka_streams_examples_spark.streaming.sinks import (
        idempotent_parquet_sink,
    )

    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    batches = [
        [("a", 1.0, ts(0)), ("b", 2.0, ts(1))],
        [("a", 3.0, ts(2)), ("c", 4.0, ts(3))],
        [("a", 5.0, ts(4)), ("b", 6.0, ts(5))],
    ]
    epochs: list[int] = []
    sink = idempotent_parquet_sink(out)

    def recording_sink(df, epoch_id):
        epochs.append(epoch_id)
        sink(df, epoch_id)

    def start():
        stream = spark.readStream.schema(EVENT_SCHEMA).parquet(src)
        return (
            running_total_with_emission(stream, "key", "value")
            .writeStream.foreachBatch(recording_sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .start()
        )

    def epoch_rows(n):
        return sorted(map(tuple, spark.read.parquet(f"{out}/batch_id={n}").collect()))

    write_batch(spark, src, batches[0])
    q = start()
    try:
        q.processAllAvailable()
        write_batch(spark, src, batches[1])
        q.processAllAvailable()
    finally:
        q.stop()
    assert epochs == [0, 1]
    before = epoch_rows(1)
    assert before == [("a", 4.0, 2), ("c", 4.0, 1)]

    # the crash: the sink wrote epoch 1, its commit never landed
    os.remove(f"{ckpt}/commits/1")
    os.remove(f"{ckpt}/commits/.1.crc")
    q = start()
    try:
        q.processAllAvailable()
        assert epochs == [0, 1, 1], "epoch 1 must be re-run, once"
        assert os.path.exists(f"{ckpt}/commits/1")
        assert epoch_rows(1) == before
        write_batch(spark, src, batches[2])
        q.processAllAvailable()
    finally:
        q.stop()
    assert epochs == [0, 1, 1, 2]

    out_rows = spark.read.parquet(out).orderBy("batch_id").collect()
    last = {r["key"]: r["total"] for r in out_rows}
    sums: dict[str, float] = {}
    for k, v, _ in (row for rows in batches for row in rows):
        sums[k] = sums.get(k, 0.0) + v
    assert last == sums


def test_rocksdb_state_store_provider(spark, tmp_path):
    """U2 at scale: the running total's state hosted by the RocksDB
    provider (out-of-heap, incremental snapshots — the 100 TB key-space
    configuration).  Asserts continuity across batches AND that the
    state operator reports rocksdb metrics (i.e. the provider really
    was RocksDB, not the default HDFS-backed heap map)."""
    from confluent_kafka_streams_examples_spark.streaming.processor import (
        running_total_with_emission,
    )

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    src = str(tmp_path / "src")
    try:
        write_batch(spark, src, [("a", 1.0, ts(0)), ("a", 2.0, ts(0)), ("b", 5.0, ts(0))])
        stream = spark.readStream.schema(EVENT_SCHEMA).parquet(src)
        totals = running_total_with_emission(stream, "key", "value")
        qname = f"q{uuid.uuid4().hex[:8]}"
        q = (
            totals.writeStream.format("memory")
            .queryName(qname)
            .outputMode("update")
            .option("checkpointLocation", f"{tmp_path}/ckpt")
            .start()
        )
        try:
            q.processAllAvailable()
            write_batch(spark, src, [("a", 4.0, ts(0))])
            q.processAllAvailable()
            progress = q.lastProgress
        finally:
            q.stop()
        rows = spark.sql(f"SELECT * FROM {qname} ORDER BY key, n").collect()
        finals = {}
        for r in rows:
            finals[r["key"]] = (r["total"], r["n"])
        assert finals == {"a": (7.0, 3), "b": (5.0, 1)}
        metrics = progress["stateOperators"][0]["customMetrics"]
        assert any(k.startswith("rocksdb") for k in metrics), metrics
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)

def test_hll_registers_stream_matches_batch(spark, tmp_path):
    """The portable-HLL register build runs UNCHANGED on a stream:
    groupBy(grp, j).max(rho) is a built-in streaming aggregate, so
    registers refine monotonically per micro-batch with fixed
    (groups+1) x 256 state and zero Python.  Final refinement must
    equal the batch build over the union of all batches — the sketch's
    merge property across arbitrary arrival slicing."""
    from confluent_kafka_streams_examples_spark.operators.sketches import (
        hll_estimate_from_registers,
        hll_portable_registers,
    )

    rows1 = [(f"s{u % 3}", float(u), ts(u % 50)) for u in range(0, 400)]
    rows2 = [(f"s{u % 3}", float(u), ts(u % 50)) for u in range(300, 900)]
    src = str(tmp_path / "src")
    write_batch(spark, src, rows1)

    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(src)
    # key = value (distinct floats); grp = key column of EVENT_SCHEMA
    regs_s = hll_portable_registers(stream, grp_col="key", key_col="value")
    qname = f"h{uuid.uuid4().hex[:8]}"
    q = (
        regs_s.writeStream.format("memory")
        .queryName(qname)
        .outputMode("update")
        .option("checkpointLocation", f"{tmp_path}/ckpt")
        .start()
    )
    try:
        q.processAllAvailable()
        write_batch(spark, src, rows2)
        q.processAllAvailable()
    finally:
        q.stop()
    final: dict = {}
    for r in spark.sql(f"SELECT * FROM {qname}").collect():
        k = (r["grp"], r["j"])
        final[k] = max(final.get(k, 0), r["R"])  # update-mode refinements

    batch_df = spark.createDataFrame(rows1 + rows2, EVENT_SCHEMA)
    expect = {
        (r["grp"], r["j"]): r["R"]
        for r in hll_portable_registers(
            batch_df, grp_col="key", key_col="value"
        ).collect()
    }
    assert final == expect
    # and the integer estimator over those registers is usable: 3 grps
    # + __all__, each within the raw-regime error bound
    reg_rows = [(g, j, R) for (g, j), R in final.items()]
    est_df = hll_estimate_from_registers(
        spark.createDataFrame(reg_rows, "grp string, j int, R long")
    )
    ests = {r["grp"]: r["hll_est"] for r in est_df.collect()}
    assert set(ests) == {"s0", "s1", "s2", "__all__"}
    assert abs(ests["__all__"] - 900) / 900 < 0.3  # m=256 on n=900


def test_cms_cells_stream_match_batch(spark, tmp_path):
    """The portable-CMS cell build runs UNCHANGED on a stream: cell
    counts are additive, so groupBy(r, bucket).count's update-mode
    refinements converge to exactly the batch cells over the union of
    all batches — the second leg (after HLL) of 'the sketch triad
    streams with built-in aggregation, no Python state'."""
    from confluent_kafka_streams_examples_spark.operators.sketches import (
        cms_portable_cells,
    )

    rows1 = [(f"u{u % 40}", 1.0, ts(u % 50)) for u in range(0, 500)]
    rows2 = [(f"u{u % 40}", 1.0, ts(u % 50)) for u in range(0, 700)]
    src = str(tmp_path / "src")
    write_batch(spark, src, rows1)

    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(src)
    cells_s = cms_portable_cells(stream, "key")
    qname = f"c{uuid.uuid4().hex[:8]}"
    q = (
        cells_s.writeStream.format("memory")
        .queryName(qname)
        .outputMode("update")
        .option("checkpointLocation", f"{tmp_path}/ckpt")
        .start()
    )
    try:
        q.processAllAvailable()
        write_batch(spark, src, rows2)
        q.processAllAvailable()
    finally:
        q.stop()
    final: dict = {}
    for r in spark.sql(f"SELECT * FROM {qname}").collect():
        k = (r["r"], r["bucket"])
        final[k] = max(final.get(k, 0), r["c"])  # counts only grow

    expect = {
        (r["r"], r["bucket"]): r["c"]
        for r in cms_portable_cells(
            spark.createDataFrame(rows1 + rows2, EVENT_SCHEMA), "key"
        ).collect()
    }
    assert final == expect


def test_session_window_random_stream_matches_python_reference(spark, tmp_path):
    """Differential for merging session state: over a seeded random
    in-order stream, the closed sessions that streaming
    F.session_window emits (append mode) must equal an independent
    Python gap-sessionizer — start, sum, and count per session.
    Semantics pinned (the differential CAUGHT this): Spark's boundary
    is INCLUSIVE — an event at exactly last_ts + gap still merges into
    the session (merge iff t <= prev_end); only t > prev_end starts a
    new one."""
    import random
    from pyspark.sql import functions as F

    GAP = 60
    rng = random.Random(11)
    batches, t = [], 0
    for _ in range(3):
        b = []
        for _ in range(150):
            t += rng.randrange(0, 50)  # some gaps exceed 60s
            b.append((f"k{rng.randrange(6)}", 1.0 + (t % 7), ts(t)))
        batches.append(b)
    horizon = ts(t + 10_000)

    src = str(tmp_path / "src")
    write_batch(spark, src, batches[0])
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(src)
    agg = (
        stream.withWatermark("ts", "0 seconds")
        .groupBy(F.session_window("ts", f"{GAP} seconds").alias("win"), "key")
        .agg(F.sum("value").alias("total"), F.count("*").alias("n"))
        .select(F.col("win.start").alias("ws"), "key", "total", "n")
    )
    qname = f"sd{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .option("checkpointLocation", f"{tmp_path}/ckpt")
        .start()
    )
    try:
        q.processAllAvailable()
        for b in batches[1:]:
            write_batch(spark, src, b)
            q.processAllAvailable()
        # far-future row closes every session (global watermark)
        write_batch(spark, src, [("wm", 0.0, horizon)])
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r["key"], r["ws"]): (r["total"], r["n"])
        for r in spark.sql(f"SELECT * FROM {qname}").collect()
        if r["key"] != "wm"
    }

    per_key: dict = {}
    for b in batches:
        for k, v, tt in b:
            per_key.setdefault(k, []).append((tt, v))
    expect = {}
    for k, evs in per_key.items():
        evs.sort()
        start, total, n, end = None, 0.0, 0, None
        for tt, v in evs:
            if start is not None and tt > end:
                expect[(k, start)] = (total, n)
                start = None
            if start is None:
                start, total, n = tt, 0.0, 0
            total += v
            n += 1
            end = tt + dt.timedelta(seconds=GAP)
        expect[(k, start)] = (total, n)
    assert got == expect


def test_windowed_session_exact_boundary_matches_oracle(spark, tmp_path):
    """The sf0.01 testdata's microsecond timestamps never produce an
    exact 30-minute gap, so the driver compare can't exercise the
    boundary — this fixture does: an event at exactly last_ts + gap
    must MERGE (Spark session_window inclusive semantics) on BOTH
    engines.  Guards the oracle's > (not >=) split condition."""
    import duckdb

    from confluent_kafka_streams_examples_spark.queries import ORACLES, QUERIES

    rows = [
        # u1: exact 30-min gap -> ONE session of 2 events
        (1, ts(0), 1, "view", 1.0, "{}"),
        (2, ts(1800), 1, "view", 2.0, "{}"),
        # u2: 30 min + 1 s -> TWO sessions
        (3, ts(0), 2, "view", 4.0, "{}"),
        (4, ts(1801), 2, "view", 8.0, "{}"),
    ]
    sf = str(tmp_path / "sf")
    import os

    os.makedirs(sf, exist_ok=True)
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long,"
        " event_type string, value double, props string"
    ).coalesce(1).write.parquet(f"{sf}/events.parquet")

    got = sorted(
        (r["user_id"], r["cnt"], r["total"])
        for r in QUERIES["windowed_session"](spark, sf).collect()
    )
    assert got == [(1, 2, 3.0), (2, 1, 4.0), (2, 1, 8.0)]

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf}/events.parquet/*.parquet')"
    )
    oracle = sorted(
        (r[0], r[3], r[4])
        for r in con.execute(ORACLES["windowed_session"]).fetchall()
    )
    assert oracle == got


def test_tumbling_agg_random_stream_matches_batch(spark, tmp_path):
    """Differential for the tumbling pillar: a seeded random in-order
    stream's closed windows (append mode) must equal the batch
    groupBy(window) aggregation over the union — totals and counts per
    (window_start, key)."""
    import random

    rng = random.Random(17)
    batches, t = [], 0
    for _ in range(3):
        b = []
        for _ in range(200):
            t += rng.randrange(3)
            b.append((f"k{rng.randrange(8)}", float(1 + t % 5), ts(t)))
        batches.append(b)
    horizon = ts(t + 10_000)

    src = str(tmp_path / "src")
    write_batch(spark, src, batches[0])
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(src)
    agg = (
        stream.withWatermark("ts", "0 seconds")
        .groupBy(F.window("ts", "60 seconds").alias("win"), "key")
        .agg(F.sum("value").alias("total"), F.count("*").alias("n"))
        .select(F.col("win.start").alias("ws"), "key", "total", "n")
    )
    qname = f"ta{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .option("checkpointLocation", f"{tmp_path}/ckpt")
        .start()
    )
    try:
        q.processAllAvailable()
        for b in batches[1:]:
            write_batch(spark, src, b)
            q.processAllAvailable()
        write_batch(spark, src, [("wm", 0.0, horizon)])  # close all
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r["ws"], r["key"]): (r["total"], r["n"])
        for r in spark.sql(f"SELECT * FROM {qname}").collect()
        if r["key"] != "wm"
    }

    union = spark.createDataFrame([r for b in batches for r in b], EVENT_SCHEMA)
    expect = {
        (r["ws"], r["key"]): (r["total"], r["n"])
        for r in union.groupBy(F.window("ts", "60 seconds").alias("win"), "key")
        .agg(F.sum("value").alias("total"), F.count("*").alias("n"))
        .select(F.col("win.start").alias("ws"), "key", "total", "n")
        .collect()
    }
    assert got == expect


def test_profile_registers_stream_matches_batch_profile(spark, tmp_path):
    """The profiler's streaming twin (VERDICT r10 #7):
    profile_registers is ONE built-in aggregation, so it runs
    unchanged on a replayed stream — cnt refines additively, R
    monotonically, state fixed at n_cols x 257 rows — and folding the
    final register state through profile_from_registers must equal
    the BATCH events_profile rows over the same data, estimates,
    null counts, linear-counting correction and all."""
    import uuid as _uuid

    from pyspark.sql import functions as F

    from confluent_kafka_streams_examples_spark.operators.profile import (
        canonical,
        profile_from_registers,
        profile_registers,
    )
    from confluent_kafka_streams_examples_spark.queries import QUERIES
    from confluent_kafka_streams_examples_spark.session import load_table

    sf = "/root/testdata/sf0.001"
    ev = load_table(spark, "events", sf)
    src = str(tmp_path / "ev_replay")
    # replay in two arbitrary slices
    ev.filter("event_id % 2 = 0").write.mode("append").parquet(src)
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).parquet(src)
    cols = {
        "event_id": canonical(F.col("event_id")),
        "ts": F.unix_micros(F.col("ts").cast("timestamp")).cast("string"),
        "user_id": canonical(F.col("user_id")),
        "event_type": canonical(F.col("event_type")),
        "value": F.floor(F.col("value") * 100 + F.lit(0.5))
        .cast("bigint")
        .cast("string"),
        "props": canonical(F.col("props")),
    }
    regs_s = profile_registers(stream, cols)
    qname = f"pr{_uuid.uuid4().hex[:8]}"
    q = (
        regs_s.writeStream.format("memory")
        .queryName(qname)
        .outputMode("update")
        .option("checkpointLocation", f"{tmp_path}/ckpt_{qname}")
        .start()
    )
    try:
        q.processAllAvailable()
        ev.filter("event_id % 2 = 1").write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()
    # latest refinement per key: both cnt and R are monotone
    final: dict = {}
    for r in spark.sql(f"SELECT * FROM {qname}").collect():
        k = (r["col_name"], r["j"])
        prev = final.get(k, (0, None))
        final[k] = (
            max(prev[0], r["cnt"]),
            r["R"] if prev[1] is None else max(prev[1], r["R"] or 0),
        )
    regs_df = spark.createDataFrame(
        [(c, j, cnt, R) for (c, j), (cnt, R) in final.items()],
        "col_name string, j int, cnt long, R int",
    )
    got = {
        r["col_name"]: tuple(r)
        for r in profile_from_registers(regs_df).collect()
    }
    expect = {
        r["col_name"]: tuple(r)
        for r in QUERIES["events_profile"](spark, sf).collect()
    }
    assert got == expect
