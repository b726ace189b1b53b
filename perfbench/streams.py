"""The three stream workloads: a drain phase, then an open loop.

Drain: a seeded backlog of files sits in the watched directory when the
query starts; ``processAllAvailable`` returns when it is consumed.
Open loop: one generator thread renames pre-written files into the
watched directory on a fixed schedule that never waits for the engine.
A file's latency runs from its scheduled publish time to the commit of
the micro-batch that consumed it: the checkpoint's source log maps the
file to its batch, and the batch's commit-log entry (whose progress the
listener reports) gives the commit time.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from dataclasses import dataclass

import datagen
from common import median, nearest_rank, tail_percentile, wait_for

KEYED_SCHEMA = "key string, value double, ts timestamp"
ORDER_PAYLOAD_SCHEMA = "value string, ts timestamp"


@dataclass(frozen=True)
class StreamSpec:
    sources: int            # input streams (the join reads two)
    backlog_files: int      # per source, drained first
    backlog_rows: int       # rows per backlog file
    files_per_s: float      # open-loop publish rate, per source
    file_rows: int          # rows per open-loop file
    max_files_per_trigger: int
    n_keys: int = 0
    bad_share: float = 0.0

    @property
    def offered_rows_per_s(self) -> float:
        return self.sources * self.files_per_s * self.file_rows


SPECS = {
    # JoinsExample: two keyed streams, ±5 s window, zero grace
    "stream_join": StreamSpec(sources=2, backlog_files=128, backlog_rows=1000,
                              files_per_s=20, file_rows=250, max_files_per_trigger=64,
                              n_keys=50_000),
    # ProcessorApiExample: per-key running total over 10k keys
    "stream_processor": StreamSpec(sources=1, backlog_files=64, backlog_rows=32,
                                   files_per_s=10, file_rows=12, max_files_per_trigger=64,
                                   n_keys=10_000),
    # ErrorHandlingExample: JSON orders, 2% malformed, dead-letter policy
    "stream_deadletter": StreamSpec(sources=1, backlog_files=128, backlog_rows=300,
                                    files_per_s=10, file_rows=300, max_files_per_trigger=64,
                                    bad_share=0.02),
}

#: how long after the last scheduled publish a file may still commit
SETTLE_S = 10.0
WARM_FILES = 1


# ---------------------------------------------------------------------------
# Inputs
# ---------------------------------------------------------------------------


@dataclass
class Inputs:
    staged: list[list[str]]      # per source: every file, in publish order
    watch: list[str]             # per source: the watched directory
    n_bad: int                   # seeded malformed rows (dead-letter only)
    digest: str


def make_inputs(name: str, spec: StreamSpec, root: str, seed: int, seconds: int) -> Inputs:
    file_rows = ([spec.backlog_rows] * spec.backlog_files
                 + [spec.file_rows] * int(round(seconds * spec.files_per_s)))
    staged, watch, n_bad = [], [], 0
    for s in range(spec.sources):
        src_seed = seed * 1000 + s
        stage = f"{root}/stage{s}"
        if name == "stream_deadletter":
            paths, n_bad = datagen.order_json_files(
                stage, src_seed, file_rows, spec.bad_share)
        else:
            # the right side of the join trails the left by one second
            paths = datagen.keyed_stream_files(
                stage, src_seed, file_rows, spec.n_keys, t0_offset_s=float(s))
        staged.append(paths)
        watch.append(f"{root}/in{s}")
        os.makedirs(watch[-1], exist_ok=True)
    digest = datagen.input_digest([p for paths in staged for p in paths])
    return Inputs(staged, watch, n_bad, digest)


def publish(src: str, watch_dir: str) -> str:
    dst = os.path.join(watch_dir, os.path.basename(src))
    os.rename(src, dst)
    return dst


# ---------------------------------------------------------------------------
# Pipelines: each returns a started StreamingQuery writing through the
# package's idempotent parquet sink.
# ---------------------------------------------------------------------------


class TimedSink:
    """Wraps the foreachBatch sink to time each call (a span when traced)."""

    def __init__(self, tracer, out: str):
        from confluent_kafka_streams_examples_spark.streaming.sinks import (
            idempotent_parquet_sink,
        )

        self.tracer, self.out = tracer, out
        self.sink = idempotent_parquet_sink(out)
        self.seconds = 0.0

    def __call__(self, df, epoch_id: int) -> None:
        t0 = time.perf_counter()
        with self.tracer.span("sinks.write", batch_id=epoch_id):
            self.sink(df, epoch_id)
        self.seconds += time.perf_counter() - t0


def start_query(name: str, spark, spec: StreamSpec, watch: list[str], out: str,
                ckpt: str, tracer, policy_box: list):
    from pyspark.sql import functions as F

    from confluent_kafka_streams_examples_spark.sources.files import file_stream

    sink = TimedSink(tracer, out)
    m = spec.max_files_per_trigger
    if name == "stream_join":
        from confluent_kafka_streams_examples_spark.streaming.join import windowed_stream_join

        left = file_stream(spark, watch[0], KEYED_SCHEMA, max_files_per_trigger=m)
        right = file_stream(spark, watch[1], KEYED_SCHEMA, max_files_per_trigger=m)
        df = windowed_stream_join(left, right, "key", "ts", "ts", window_seconds=5)
        df = df.select(F.col("l.key").alias("key"), F.col("l.value").alias("value"),
                       F.col("r_value"))
        writer = df.writeStream.outputMode("append").foreachBatch(sink)
    elif name == "stream_processor":
        from confluent_kafka_streams_examples_spark.streaming.processor import (
            running_total_with_emission,
        )

        src = file_stream(spark, watch[0], KEYED_SCHEMA, max_files_per_trigger=m)
        df = running_total_with_emission(src, "key", "value")
        writer = df.writeStream.outputMode("update").foreachBatch(sink)
    else:
        from pyspark.sql.types import DoubleType, LongType, StructField, StructType

        from confluent_kafka_streams_examples_spark.streaming.errors import DeadLetterPolicy

        order = StructType([StructField("order_id", LongType()),
                            StructField("user_id", LongType()),
                            StructField("price", DoubleType())])
        policy = DeadLetterPolicy("value", order, max_errors=10**12)
        policy_box.append(policy)

        def handle(batch_df, epoch_id):
            good = policy.process(batch_df).select("order_id", "user_id", "price")
            sink(good, epoch_id)

        src = file_stream(spark, watch[0], ORDER_PAYLOAD_SCHEMA, max_files_per_trigger=m)
        writer = src.writeStream.outputMode("append").foreachBatch(handle)
    query = writer.option("checkpointLocation", ckpt).start()
    return query, sink


def _counting(func, rows_in, bytes_in, bytes_out):
    """A stateful pandas fold that counts what crosses the Python boundary
    into accumulators, then defers to ``func``."""

    def fold(key, pdfs, state):
        def counted():
            for pdf in pdfs:
                rows_in.add(len(pdf))
                bytes_in.add(int(pdf.memory_usage(deep=True).sum()))
                yield pdf

        for out in func(key, counted(), state):
            bytes_out.add(int(out.memory_usage(deep=True).sum()))
            yield out

    return fold


class PythonBoundary:
    """Traced run only: wraps every ``applyInPandasWithState`` fold so the
    rows and (pandas, in-memory) bytes sent to and returned from Python
    workers are counted."""

    def __init__(self, spark):
        from pyspark.sql.group import GroupedData

        sc = spark.sparkContext
        self.rows_sent, self.bytes_sent, self.bytes_received = (
            sc.accumulator(0), sc.accumulator(0), sc.accumulator(0))
        self._cls, self._original = GroupedData, GroupedData.applyInPandasWithState
        original, accs = self._original, (self.rows_sent, self.bytes_sent, self.bytes_received)

        def patched(grouped, func, *args, **kwargs):
            return original(grouped, _counting(func, *accs), *args, **kwargs)

        GroupedData.applyInPandasWithState = patched

    def close(self) -> dict:
        self._cls.applyInPandasWithState = self._original
        return {"python.rows_sent": float(self.rows_sent.value),
                "python.bytes_sent": float(self.bytes_sent.value),
                "python.bytes_received": float(self.bytes_received.value)}


# ---------------------------------------------------------------------------
# Progress: a listener collects every progress event of the measured query.
# ---------------------------------------------------------------------------


def make_listener(store: dict, lock: threading.Lock):
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = json.loads(event.progress.json)
            with lock:
                store.setdefault(p["id"], {})[p["batchId"]] = p

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Progress()


def source_log(ckpt: str, n_sources: int) -> dict[str, int]:
    """Input file basename -> batch id, from the checkpoint's source logs
    (plain and compacted entries alike)."""
    out: dict[str, int] = {}
    for s in range(n_sources):
        for path in glob.glob(f"{ckpt}/sources/{s}/*"):
            if os.path.basename(path).startswith("."):
                continue
            try:
                with open(path, encoding="utf-8") as fh:
                    lines = fh.read().splitlines()[1:]
            except OSError:
                continue  # being compacted or rewritten right now
            for line in lines:
                try:
                    entry = json.loads(line)
                except ValueError:
                    continue
                out[os.path.basename(entry["path"])] = int(entry["batchId"])
    return out


def commit_times(ckpt: str) -> dict[int, float]:
    """batch id -> commit time (wall clock) from the commit log."""
    out = {}
    for path in glob.glob(f"{ckpt}/commits/*"):
        name = os.path.basename(path)
        if name.isdigit():
            out[int(name)] = os.stat(path).st_mtime
    return out


# ---------------------------------------------------------------------------
# The workload
# ---------------------------------------------------------------------------


def _drain(spark, name, spec, root, tag, seed, tracer, staged_count):
    """Warm-up / scaling drain: a small separate input, drained to the end."""
    sub = f"{root}/{tag}"
    inputs = make_inputs(name, spec, sub, seed, 0)
    for s in range(spec.sources):
        for p in inputs.staged[s][:staged_count]:
            publish(p, inputs.watch[s])
    q, _ = start_query(name, spark, spec, inputs.watch, f"{sub}/out", f"{sub}/ckpt",
                       tracer, [])
    t0 = time.perf_counter()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return time.perf_counter() - t0, staged_count * spec.backlog_rows * spec.sources


def run(name: str, engine, seed: int, seconds: int, tracer, work: str,
        setup_reps: int) -> dict:
    spec = SPECS[name]
    setup_times = []
    for rep in range(setup_reps):
        t0 = time.perf_counter()
        with tracer.span("setup", rep=rep):
            spark = engine.start(f"perfbench-{name}")
            rep_root = f"{work}/rep{rep}"
            inputs = make_inputs(name, spec, rep_root, seed, seconds)
            _drain(spark, name, spec, rep_root, "warm", seed + 7919, tracer, WARM_FILES)
        setup_times.append(time.perf_counter() - t0)

    progress: dict = {}
    lock = threading.Lock()
    listener = make_listener(progress, lock)
    spark.streams.addListener(listener)
    ckpt, out = f"{rep_root}/ckpt", f"{rep_root}/out"
    policy_box: list = []
    for s in range(spec.sources):
        for p in inputs.staged[s][: spec.backlog_files]:
            publish(p, inputs.watch[s])
    backlog_rows = spec.sources * spec.backlog_files * spec.backlog_rows

    boundary = PythonBoundary(spark) if tracer.enabled else None

    # --- drain ---------------------------------------------------------
    t_drain0 = time.perf_counter()
    with tracer.span("drain"):
        query, sink = start_query(name, spark, spec, inputs.watch, out, ckpt, tracer,
                                  policy_box)
        query.processAllAvailable()
    drain_s = time.perf_counter() - t_drain0

    # --- open loop -----------------------------------------------------
    open_files = [inputs.staged[s][spec.backlog_files:] for s in range(spec.sources)]
    n_ticks = len(open_files[0])
    period = 1.0 / spec.files_per_s
    published: list[tuple[str, float, float]] = []  # (basename, due, actual)

    def generator(t_start: float) -> None:
        # the schedule is fixed in advance: a slow engine never delays it
        for i in range(n_ticks):
            due = t_start + i * period
            delay = due - time.perf_counter()
            if delay > 0:
                time.sleep(delay)
            for s in range(spec.sources):
                publish(open_files[s][i], inputs.watch[s])
                published.append((os.path.basename(open_files[s][i]), due,
                                  time.perf_counter()))

    wall_minus_perf = time.time() - time.perf_counter()
    t_open = time.perf_counter() + 0.05
    gen = threading.Thread(target=generator, args=(t_open,), name="open-loop")
    with tracer.span("open_loop"):
        gen.start()
        gen.join()
        schedule_end = time.perf_counter()
        batches_at_end = source_log(ckpt, spec.sources)
        backlog_end = sum(1 for b, _, _ in published if b not in batches_at_end)
        want = {b for b, _, _ in published}

        def all_committed() -> bool:
            where = source_log(ckpt, spec.sources)
            done = commit_times(ckpt)
            return all(where.get(b) in done for b in want)

        settled = wait_for(all_committed, SETTLE_S, poll=0.1)
        settle_s = time.perf_counter() - schedule_end
    where = source_log(ckpt, spec.sources)
    committed = commit_times(ckpt)
    latencies, missing = [], []
    for base, due, _actual in published:
        batch = where.get(base)
        if batch is None or batch not in committed:
            missing.append(base)
            continue
        latencies.append(committed[batch] - wall_minus_perf - due)
    late = [actual - due for _, due, actual in published]
    if settled:
        query.processAllAvailable()
    query.stop()
    last_batch = max(commit_times(ckpt), default=-1)

    def all_reported() -> bool:
        with lock:
            return last_batch in progress.get(str(query.id), {})

    wait_for(all_reported, 5.0)  # progress events arrive asynchronously
    spark.streams.removeListener(listener)
    with lock:
        batches = [p for _, p in sorted(progress.get(str(query.id), {}).items())]
    layer = {}
    if tracer.enabled:
        layer = stream_layers(spark, query, batches, sink, policy_box,
                              backlog_rows + spec.sources * n_ticks * spec.file_rows,
                              tracer, wall_minus_perf)
        layer.update(boundary.close())
    layer.update({
        "generator.late_s": max(late) if late else 0.0,
        "generator.backlog_end_files": float(backlog_end),
    })
    if tracer.enabled:
        # single-thread baseline: one trigger's worth of backlog on one core
        engine.start(f"perfbench-{name}-local1", cpus=1)
        took, rows = _drain(engine.spark, name, spec, rep_root, "local1", seed, tracer,
                            spec.max_files_per_trigger)
        layer["scaling.drain_rows_per_s_local1"] = rows / took

    tail_q, tail_v = tail_percentile(latencies) if latencies else (0.0, float("nan"))
    return {
        "setup_times": setup_times,
        "drain_s": drain_s,
        "drain_rows": backlog_rows,
        "latency_p50_s": median(latencies) if latencies else float("nan"),
        "latency_tail_s": tail_v,
        "latency_tail_q": tail_q,
        "arrivals": len(published),
        "missing": missing,
        "phases": {"drain_s": drain_s, "schedule_s": schedule_end - t_open,
                   "settle_s": settle_s},
        "offered_rows_per_s": spec.offered_rows_per_s,
        "input_digest": inputs.digest,
        "inputs": inputs,
        "out": out,
        "policy": policy_box[0] if policy_box else None,
        "layer": layer,
        "late_p99_s": nearest_rank(late, 0.99) if late else 0.0,
    }


# ---------------------------------------------------------------------------
# Per-layer numbers (traced run only)
# ---------------------------------------------------------------------------


def _durations(batches, key):
    vals = [b.get("durationMs", {}).get(key) for b in batches]
    vals = [v for v in vals if v is not None]
    return median(vals) if vals else 0.0


def stream_layers(spark, query, batches, sink, policy_box, rows_fed, tracer,
                  wall_minus_perf) -> dict:
    import datetime as dt

    for b in batches:  # one span per micro-batch, placed on the run's timeline
        start = dt.datetime.fromisoformat(b["timestamp"].replace("Z", "+00:00")).timestamp()
        start -= wall_minus_perf
        dur = b.get("durationMs", {}).get("triggerExecution", 0) / 1000.0
        tracer.add("stream.batch", start, start + dur, batch_id=b["batchId"],
                   input_rows=b.get("numInputRows", 0))
    sink_spans = [s for s in tracer.spans if s["name"] == "sinks.write"]
    batch_spans = {s["attrs"]["batch_id"]: s for s in tracer.spans if s["name"] == "stream.batch"}
    for s in sink_spans:  # the sink call runs inside its batch
        parent = batch_spans.get(s["attrs"].get("batch_id"))
        if parent is not None and s["start"] >= parent["start"] - 0.05:
            s["parent"] = parent["id"]

    states = [op for b in batches for op in b.get("stateOperators", [])]
    last_states = batches[-1].get("stateOperators", []) if batches else []
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(str(query.runId))
    n = max(1, len(batches))
    return {
        "sources.latest_offset_ms": _durations(batches, "latestOffset"),
        "sources.get_batch_ms": _durations(batches, "getBatch"),
        "sources.rows_read_per_input_row": sum(b.get("numInputRows", 0) for b in batches) / rows_fed,
        "stream.batches": float(len(batches)),
        "stream.trigger_p50_ms": _durations(batches, "triggerExecution"),
        "stream.planning_ms": _durations(batches, "queryPlanning"),
        "stream.add_batch_ms": _durations(batches, "addBatch"),
        "stream.wal_commit_ms": _durations(batches, "walCommit"),
        "stream.commit_offsets_ms": _durations(batches, "commitOffsets"),
        "stream.jobs_per_batch": len(jobs) / n,
        "state.rows": float(sum(op.get("numRowsTotal", 0) for op in last_states)),
        "state.memory_bytes": float(max((op.get("memoryUsedBytes", 0) for op in states), default=0)),
        "state.commit_ms": median([op.get("commitTimeMs", 0) for op in states]) if states else 0.0,
        "state.rows_removed": float(sum(op.get("numRowsRemoved", 0) for op in states)),
        "state.rows_dropped_by_watermark": float(
            sum(op.get("numRowsDroppedByWatermark", 0) for op in states)),
        "errors.deadletter_rows": float(policy_box[0].errors_seen) if policy_box else 0.0,
        "sinks.write_s": sink.seconds,
        "sinks.files_written": float(len(glob.glob(f"{sink.out}/*/*.parquet"))),
    }


# ---------------------------------------------------------------------------
# Output checks against DuckDB over the same seeded inputs
# ---------------------------------------------------------------------------


def check(name: str, res: dict) -> list[str]:
    """Returns one message per failed check (empty when all hold)."""
    import duckdb

    inputs: Inputs = res["inputs"]
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    files = [sorted(glob.glob(f"{w}/*.parquet")) for w in inputs.watch]
    out_glob = f"{res['out']}/*/*.parquet"
    have_out = bool(glob.glob(out_glob))
    failures = []
    if name == "stream_join":
        want = con.execute(
            "SELECT count(*) FROM read_parquet(?) l JOIN read_parquet(?) r "
            "ON l.key = r.key AND l.ts BETWEEN r.ts - INTERVAL 5 SECOND "
            "AND r.ts + INTERVAL 5 SECOND", [files[0], files[1]]).fetchone()[0]
        got = con.execute(f"SELECT count(*) FROM read_parquet('{out_glob}')").fetchone()[0] \
            if have_out else 0
        if got != want:
            failures.append(f"stream_join: emitted {got} rows, interval join has {want}")
    elif name == "stream_processor":
        want = dict(con.execute(
            "SELECT key, sum(value) FROM read_parquet(?) GROUP BY key", [files[0]]).fetchall())
        got = dict(con.execute(
            f"SELECT key, arg_max(total, batch_id) FROM read_parquet('{out_glob}', "
            "hive_partitioning = true) GROUP BY key").fetchall()) if have_out else {}
        bad = [k for k in want if k not in got or abs(got[k] - want[k]) > 1e-6 * max(1.0, abs(want[k]))]
        if bad or len(got) != len(want):
            failures.append(f"stream_processor: {len(bad)} of {len(want)} keys' last total "
                            f"differs from sum(value); {len(got)} keys emitted")
    else:
        n_bad_db = con.execute("SELECT count(*) FROM read_parquet(?) WHERE NOT json_valid(value)",
                               [files[0]]).fetchone()[0]
        n_good, price = con.execute(
            "WITH good AS (SELECT value FROM read_parquet(?) WHERE json_valid(value)) "
            "SELECT count(*), sum(CAST(json_extract_string(value, '$.price') AS DOUBLE)) "
            "FROM good", [files[0]]).fetchone()
        seen = res["policy"].errors_seen if res["policy"] else -1
        if seen != inputs.n_bad or n_bad_db != inputs.n_bad:
            failures.append(f"stream_deadletter: dead-letter count {seen}, DuckDB {n_bad_db}, "
                            f"seeded {inputs.n_bad}")
        got_n, got_sum = con.execute(
            f"SELECT count(*), sum(price) FROM read_parquet('{out_glob}')").fetchone() \
            if have_out else (0, 0.0)
        if got_n != n_good or abs((got_sum or 0.0) - (price or 0.0)) > 1e-6 * max(1.0, abs(price or 0.0)):
            failures.append(f"stream_deadletter: good rows {got_n} sum {got_sum}, "
                            f"DuckDB {n_good} sum {price}")
    con.close()
    return failures
