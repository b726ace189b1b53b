"""Streaming STATE-scale probe: key-cardinality decades on the
stateful pillars, RocksDB provider on.

bench_streaming.py tracks throughput at a fixed 10k-key shape; this
probe answers the 100 TB question for the STATE STORE instead: what
happens to rows/s, state-store size, and per-batch duration when the
key universe grows 10x and 100x (10k -> 100k -> 1M distinct keys) at a
fixed input volume?  The three pillars exercised are the ones whose
state scales differently by construction:

- latest_per_key   : state rows == distinct keys (grows with K)
- running_total    : state rows == distinct keys (grows with K)
- dedup_watermark  : state rows bounded by the watermark horizon
                     (rate x delay), NOT by K — the bounded-state claim
                     SCALE.md makes is falsifiable here

Each drain runs 16 single-file micro-batches so state fills
incrementally; per-batch trigger durations come from recentProgress.
The super-linearity signal is the ratio of the mean duration of the
last 4 batches to the first 4 (state fully grown vs near-empty): a
pillar whose per-batch cost grows super-linearly with resident state
would show this ratio inflating with K, which is exactly the failure
mode that kills a 1000-executor job at 100 TB after hours of uptime.

Usage:
    python scripts/stream_state_probe.py [xK ...]      # default: 1 10 100
    SPARK_GRAFT_STREAM_ROWS=2000000                    # rows per pillar

Prints one JSON line per (pillar, xK) and a final markdown table for
SCALE.md.  Reference analog: the persistent store + changelog restore
of ProcessorApiExample.scala:74-78 — Kafka Streams sizes RocksDB per
task by key cardinality, which is this exact axis.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from confluent_kafka_streams_examples_spark.session import get_spark  # noqa: E402

N_ROWS = int(os.environ.get("SPARK_GRAFT_STREAM_ROWS", "2000000"))
N_FILES = 16
BASE_KEYS = 10_000
SCHEMA = "key string, value double, ts timestamp"
ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def _gen(spark, path: str, n: int, n_keys: int, n_files: int = N_FILES) -> None:
    """n events over n_keys distinct keys; event time advances 10k
    rows/s regardless of cardinality, so watermark-bounded state stays
    at rate x delay while keyed state scales with n_keys."""
    (
        spark.range(n)
        .select(
            F.concat(F.lit("k"), F.col("id") % n_keys).alias("key"),
            (F.col("id") % 997).cast("double").alias("value"),
            F.timestamp_seconds(
                F.lit(1704067200.0) + F.col("id") / 10000.0
            ).alias("ts"),
        )
        # range-partition on ts so each file holds a CONTIGUOUS time
        # slice and the file source (maxFilesPerTrigger=1, lexicographic
        # part order == ascending ranges) replays time IN ORDER.  A
        # round-robin repartition makes every file span the full range:
        # the watermark jumps to max(ts)-delay after batch 1 and ~85%
        # of later rows are dropped as late, so watermark-bounded
        # pillars measure late-dropping, not horizon eviction (r8
        # review finding — the dedup rows recorded before this fix
        # were an artifact)
        .repartitionByRange(n_files, "ts")
        .write.mode("overwrite")
        .parquet(path)
    )


def _read(spark, path: str):
    # ONE file per trigger -> 16 micro-batches: state grows across
    # batches, which is what the duration-growth signal needs
    return (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )


def _p_latest(spark, path):
    from confluent_kafka_streams_examples_spark.streaming.ktable import (
        latest_per_key_stream,
    )

    return latest_per_key_stream(_read(spark, path), "key", "ts", ["value"]), "update"


def _p_total(spark, path):
    from confluent_kafka_streams_examples_spark.streaming.processor import (
        running_total_with_emission,
    )

    return running_total_with_emission(_read(spark, path), "key", "value"), "update"


def _p_dedup(spark, path):
    from confluent_kafka_streams_examples_spark.streaming.dedup import (
        dedup_within_watermark,
    )

    return (
        dedup_within_watermark(
            _read(spark, path), ["key", "value"], "ts", delay="30 seconds"
        ),
        "append",
    )


def _buckets_for(n_keys: int) -> int:
    # the SCALE.md sizing rule: n_buckets ~ keys/1000 keeps each bucket
    # blob at a rewrite-friendly ~32-60 KB while staying >> core count
    return max(1024, n_keys // 1000)


def _p_funnel(spark, path, n_keys=BASE_KEYS):
    # stage-machine state: 3 longs per user, packed per hash bucket
    # with a numpy min-cascade across the bucket — the probe asks
    # whether the state machine changes the K-scaling story
    from confluent_kafka_streams_examples_spark.streaming.funnel import (
        bench_stream_to_funnel_columns,
        funnel_stage_stream,
    )

    src = bench_stream_to_funnel_columns(_read(spark, path))
    return (
        funnel_stage_stream(src, n_buckets=_buckets_for(n_keys)),
        "update",
    )


def _p_funnel_exact(spark, path, n_keys=BASE_KEYS):
    # exact-replay funnel: retains per-user candidate events inside the
    # 30 s watermark horizon (state ~ rate x delay on top of the
    # per-user summaries), compacting them into the folded summary as
    # the watermark passes — the probe checks that retention stays
    # horizon-bounded rather than growing with stream length
    from confluent_kafka_streams_examples_spark.streaming.funnel import (
        bench_stream_to_funnel_columns,
        funnel_stage_stream_exact,
    )

    src = bench_stream_to_funnel_columns(_read(spark, path))
    return (
        funnel_stage_stream_exact(
            src, delay="30 seconds", n_buckets=_buckets_for(n_keys)
        ),
        "update",
    )


def _p_total_punctuated(spark, path, n_keys=BASE_KEYS):
    # bucketed PUNCTUATOR (A4 at high K, VERDICT r9 #3): per-key
    # next-fire times live in the bucket blob, the bucket's single
    # processing-time timer fires at the min, and due keys re-emit
    # their current totals — Python calls per trigger bounded by
    # n_buckets while punctuate-emission work stays O(due keys).  The
    # 2 s cadence is far shorter than the drain, so several punctuate
    # rounds fire DURING ingestion and their cost lands inside the
    # measured per-batch durations — the probe asks whether that cost
    # bends with K.
    from confluent_kafka_streams_examples_spark.streaming.processor import (
        running_total_with_emission,
    )

    return (
        running_total_with_emission(
            _read(spark, path),
            "key",
            "value",
            emit_every_ms=2000,
            n_buckets=_buckets_for(n_keys),
        ),
        "update",
    )


PILLARS = [
    ("latest_per_key", _p_latest),
    ("running_total", _p_total),
    ("running_total_punctuated", _p_total_punctuated),
    ("dedup_watermark", _p_dedup),
    ("funnel_stages", _p_funnel),
    ("funnel_exact", _p_funnel_exact),
]

#: pillars whose armed processing-time timers keep scheduling
#: micro-batches forever — processAllAvailable never settles, so the
#: drain polls progress until every input row is processed instead
POLL_DRAIN = {"running_total_punctuated"}


def _drain_with_progress(out, ckpt: str, mode: str):
    t0 = time.perf_counter()
    q = (
        out.writeStream.format("noop")
        .outputMode(mode)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        wall = time.perf_counter() - t0
        progresses = []
        for p in q.recentProgress:
            progresses.append(json.loads(p) if isinstance(p, str) else p)
    finally:
        q.stop()
    return wall, progresses


def _drain_polling(out, ckpt: str, mode: str, n_rows: int):
    """Drain a timer-armed query: poll merged progress (keyed by
    batchId — recentProgress is a rolling window) until the cumulative
    input row count reaches n_rows, then stop.  Punctuate rounds fire
    interleaved with the file batches, so their cost is inside both
    the wall and the per-batch durations."""
    t0 = time.perf_counter()
    q = (
        out.writeStream.format("noop")
        .outputMode(mode)
        .option("checkpointLocation", ckpt)
        .start()
    )
    by_batch: dict[int, dict] = {}
    try:
        deadline = time.monotonic() + 3600
        while time.monotonic() < deadline:
            time.sleep(0.5)
            for p in q.recentProgress:
                p = json.loads(p) if isinstance(p, str) else p
                by_batch[p["batchId"]] = p
            if sum(p.get("numInputRows", 0) for p in by_batch.values()) >= n_rows:
                break
        wall = time.perf_counter() - t0
    finally:
        q.stop()
    return wall, [by_batch[b] for b in sorted(by_batch)]


def _state_metrics(progresses):
    """(state rows, state bytes, per-batch trigger ms) from the drained
    query's progress history; bytes prefer the RocksDB SST size (the
    on-disk footprint that matters at scale) over in-memory usage."""
    batch_ms = []
    rows = size = 0
    for p in progresses:
        if p.get("numInputRows", 0) > 0:
            batch_ms.append(p["durationMs"]["triggerExecution"])
        for op in p.get("stateOperators", []):
            rows = max(rows, op.get("numRowsTotal", 0))
            custom = op.get("customMetrics", {})
            size = max(
                size,
                custom.get("rocksdbSstFileSize", 0)
                or op.get("memoryUsedBytes", 0)
                or custom.get("stateOnCurrentVersionSizeBytes", 0),
            )
    return rows, size, batch_ms


def _soak(
    n_batches: int,
    n_keys: int = 100_000,
    pillar: str = "running_total",
    rows_per_batch: int = 12_500,
) -> None:
    """Long-uptime soak (VERDICT r9 #8, the AGING axis the key-decade
    probes don't cover): a FIXED key universe is folded for n_batches
    micro-batches on the RocksDB provider, so state size is constant
    after warm-up and the only thing that can move per-batch latency
    is store aging — version churn, SST accumulation, compaction debt.
    A healthy store shows flat per-batch duration (tail/head ~ 1) with
    compaction work visible but amortized; a store drowning in debt
    shows the tail bending up.  Prints one JSON line with per-decile
    batch durations and the RocksDB SST/compaction counters from the
    final progress.

    Two useful shapes: the default (running_total, 100k keys, 12.5k
    rows/batch) ages the PYTHON fold path; latest_per_key at 2M keys /
    100k rows/batch builds ~100 MB of SST with every batch rewriting
    5% of it — enough version churn to make RocksDB compaction
    actually run, which the small-state soak never triggers."""
    n = rows_per_batch * n_batches
    root = tempfile.mkdtemp(prefix="ckse_state_soak_")
    try:
        gen = get_spark("ckse-state-soak-gen")
        gen.sparkContext.setLogLevel("ERROR")
        path = f"{root}/in"
        _gen(gen, path, n, n_keys, n_files=n_batches)
        gen.stop()
        spark = get_spark("ckse-state-soak")
        spark.sparkContext.setLogLevel("ERROR")
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER
        )
        if pillar == "latest_per_key":
            from confluent_kafka_streams_examples_spark.streaming.ktable import (
                latest_per_key_stream,
            )

            df = latest_per_key_stream(
                _read(spark, path), "key", "ts", ["value"]
            )
        else:
            from confluent_kafka_streams_examples_spark.streaming.processor import (
                running_total_with_emission,
            )

            df = running_total_with_emission(
                _read(spark, path), "key", "value"
            )
        t0 = time.perf_counter()
        q = (
            df.writeStream.format("noop")
            .outputMode("update")
            .option("checkpointLocation", f"{root}/ckpt")
            .start()
        )
        by_batch: dict[int, dict] = {}
        try:
            while True:
                time.sleep(1.0)
                for p in q.recentProgress:
                    p = json.loads(p) if isinstance(p, str) else p
                    by_batch[p["batchId"]] = p
                done = sum(
                    p.get("numInputRows", 0) for p in by_batch.values()
                )
                if done >= n:
                    break
            wall = time.perf_counter() - t0
        finally:
            q.stop()
            spark.stop()
        progresses = [by_batch[b] for b in sorted(by_batch)]
        batch_ms = [
            p["durationMs"]["triggerExecution"]
            for p in progresses
            if p.get("numInputRows", 0) > 0
        ]
        # skip the first batch (cold JVM/codegen) for the aging signal
        body = batch_ms[1:]
        dec = max(1, len(body) // 10)
        deciles = [
            round(sum(body[i : i + dec]) / len(body[i : i + dec]))
            for i in range(0, dec * 10, dec)
        ]
        tail_over_head = round(
            sum(body[-20:]) / len(body[-20:]) / (sum(body[:20]) / len(body[:20])),
            2,
        )
        # compaction counters are PER-BATCH: sum them over the run
        # (reading only the final progress hides mid-run compactions);
        # SST size and row count are gauges: take the max
        rocks: dict = {}
        for p in progresses:
            for op in p.get("stateOperators", []):
                cm = op.get("customMetrics", {})
                for k, v in cm.items():
                    if "ompaction" in k or "ilesCopied" in k:
                        rocks[k] = rocks.get(k, 0) + v
                    elif "SstFile" in k:
                        rocks[k] = max(rocks.get(k, 0), v)
                rocks["numRowsTotal"] = max(
                    rocks.get("numRowsTotal", 0), op.get("numRowsTotal", 0)
                )
        print(
            json.dumps(
                {
                    "mode": "soak",
                    "pillar": pillar,
                    "n_keys": n_keys,
                    "n_batches": len(batch_ms),
                    "rows_per_sec": round(n / wall),
                    "decile_batch_ms": deciles,
                    "tail20_over_head20": tail_over_head,
                    "rocksdb": rocks,
                }
            ),
            flush=True,
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


def main() -> None:
    args = sys.argv[1:]
    only = None
    for a in list(args):
        if a.startswith("--pillars="):
            only = set(a.split("=", 1)[1].split(","))
            args.remove(a)
        elif a.startswith("--soak="):
            kw = {}
            for b in args:
                if b.startswith("--soak-pillar="):
                    kw["pillar"] = b.split("=", 1)[1]
                elif b.startswith("--soak-keys="):
                    kw["n_keys"] = int(b.split("=", 1)[1])
                elif b.startswith("--soak-rows="):
                    kw["rows_per_batch"] = int(b.split("=", 1)[1])
            _soak(int(a.split("=", 1)[1]), **kw)
            return
    pillars = [(n, f) for n, f in PILLARS if only is None or n in only]
    multipliers = [int(a) for a in args] or [1, 10, 100]
    root = tempfile.mkdtemp(prefix="ckse_state_probe_")
    results = []
    try:
        for xk in multipliers:
            n_keys = BASE_KEYS * xk
            gen = get_spark("ckse-state-probe-gen")
            gen.sparkContext.setLogLevel("ERROR")
            path = f"{root}/in_x{xk}"
            _gen(gen, path, N_ROWS, n_keys)
            gen.stop()
            for name, factory in pillars:
                spark = get_spark(f"ckse-state-probe-{name}-x{xk}")
                spark.sparkContext.setLogLevel("ERROR")
                spark.conf.set(
                    "spark.sql.streaming.stateStore.providerClass",
                    ROCKSDB_PROVIDER,
                )
                try:
                    import inspect

                    kw = (
                        {"n_keys": n_keys}
                        if "n_keys" in inspect.signature(factory).parameters
                        else {}
                    )
                    df, mode = factory(spark, path, **kw)
                    ckpt = f"{root}/ckpt_{name}_x{xk}"
                    if name in POLL_DRAIN:
                        wall, progresses = _drain_polling(
                            df, ckpt, mode, N_ROWS
                        )
                    else:
                        wall, progresses = _drain_with_progress(
                            df, ckpt, mode
                        )
                finally:
                    spark.stop()
                rows, size, batch_ms = _state_metrics(progresses)
                head = batch_ms[:4]
                tail = batch_ms[-4:]
                growth = (
                    round(sum(tail) / len(tail) / (sum(head) / len(head)), 2)
                    if head and tail
                    else None
                )
                rec = {
                    "pillar": name,
                    "x_keys": xk,
                    "n_keys": n_keys,
                    "rows_per_sec": round(N_ROWS / wall),
                    "state_rows": rows,
                    "state_bytes": size,
                    "batches": len(batch_ms),
                    "batch_ms": batch_ms,
                    "tail_over_head": growth,
                }
                results.append(rec)
                print(json.dumps(rec), flush=True)
        print("\n| pillar | keys | rows/s | state rows | state MB | tail/head batch ms |")
        print("|---|---|---|---|---|---|")
        for r in results:
            print(
                f"| {r['pillar']} | {r['n_keys']:,} | {r['rows_per_sec']:,} "
                f"| {r['state_rows']:,} | {r['state_bytes'] / 1e6:.1f} "
                f"| {r['tail_over_head']} |"
            )
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
