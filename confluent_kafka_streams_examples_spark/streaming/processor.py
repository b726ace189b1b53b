"""Processor-API parity: custom stateful fold + timed emission.

Reference ProcessorApiExample.scala:34-72 hand-rolls a per-key running
total in a persistent KeyValueStore (process(): read store, add price,
put back — :60-67) and a *punctuator* that every 10s of stream time
scans the store and forwards every (key, total) downstream (:43-58).

Spark twin: the state store replaces the KeyValueStore (checkpointed,
partition-parallel), and emission happens when a micro-batch touches a
key (update semantics) or when the configured timeout fires (punctuate
semantics).  Without a punctuator the fold is only ``sum`` and
``count`` per key, so it runs as a JVM streaming aggregate
(``groupBy().agg()`` in update mode — no Python worker, no Arrow round
trip).  A processing-time ``GroupState`` timeout is the only way to
punctuate, so with ``emit_every_ms`` set the fold is an
``applyInPandasWithState`` function over hash buckets of keys (block
comment above :func:`_punctuated_fold`).

The two paths keep different state (the aggregate's sum/count buffers
vs the fold's per-bucket blob), so a checkpoint cannot move between
them: Spark rejects it at state load
(``STREAMING_STATEFUL_OPERATOR_NOT_MATCH_IN_STATE_METADATA``).  A
checkpoint written by an earlier per-key punctuator fold (grouped by the
key, state ``(total, n)``) is rejected too, because both the grouping
key and the state schema changed
(``STATE_STORE_KEY_SCHEMA_NOT_COMPATIBLE``): resume it from a fresh
checkpoint.

Documented mapping (SURVEY §7 M5): Kafka Streams punctuates on *stream
time advance*; Spark fires ``GroupStateTimeout`` when the watermark (event
-time timeout) or wall clock (processing-time timeout) passes the set
timestamp.  Emission cadence therefore quantizes to micro-batch
boundaries — same totals, same keys, trigger-aligned timing.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("total", DoubleType()),
        StructField("n", LongType()),
    ]
)


def running_total_with_emission(
    stream: DataFrame,
    key_col: str,
    value_col: str,
    emit_every_ms: int | None = None,
    n_buckets: int = 1024,
) -> DataFrame:
    """Per-key running sum with optional periodic re-emission.

    - Each micro-batch: fold new rows into state, emit updated totals
      (A2/A3 continuous-refinement semantics).  ``total`` skips null
      and NaN values (0.0 when a key has no other), ``n`` counts every
      row.  Without a punctuator this is a JVM streaming aggregate.
    - ``emit_every_ms``: also re-emit each key's current total once
      ``emit_every_ms`` has passed since its last emission — the
      punctuator (A4) analog, run as a bucketed
      ``applyInPandasWithState`` fold whose state is split over
      ``n_buckets`` hash buckets (``n_buckets`` is unused without a
      punctuator; size it ~ keys / 1000).

    Returns an update-mode streaming DataFrame (key string, total
    double, n long).  Switching ``emit_every_ms`` between None and set
    needs a fresh checkpoint (see the module docstring).

    Null-key records are DROPPED before either path — the reference
    semantics: Kafka Streams' groupByKey discards null-key records
    ahead of any aggregation (KGroupedStream contract;
    AggregationsExample.scala's groupBy upstream of :36-44).  The
    JVM-side filter makes that explicit for the fold, whose pandas
    groupby would otherwise drop them silently (ADVICE r9).

    CAUTION: with ``emit_every_ms`` set, armed timers continuously
    schedule micro-batches, so ``query.processAllAvailable()`` never
    settles — drive such queries with sink polling or awaitTermination
    (see tests/test_examples.py::test_processor_pipeline_punctuate_reemission).
    """
    stream = stream.filter(F.col(key_col).isNotNull())
    if emit_every_ms is not None:
        return _punctuated_fold(stream, key_col, value_col, emit_every_ms, n_buckets)
    # pandas Series.sum() semantics: null and NaN are skipped, and a
    # key whose values are all null/NaN totals 0.0; n counts every row
    v = F.col(value_col).cast("double")
    return stream.groupBy(F.col(key_col).cast("string").alias("key")).agg(
        F.coalesce(F.sum(F.when(~F.isnan(v), v)), F.lit(0.0)).alias("total"),
        F.count(F.lit(1)).alias("n"),
    )


# ---------------------------------------------------------------------------
# The punctuator fold: bucketed state (VERDICT r8 #1, r9 #3).
#
# A per-key Python fold pays one invocation per touched key per
# micro-batch (~2 ms of pandas + marshalling each): the measured
# 32k -> 11k rows/s cliff from 10k to 1M keys (SCALE.md state decades).
# Here the state key is pmod(xxhash64(key), n_buckets) and the state
# value is ONE pickled dict {key: (total, n, next_fire_ms)} for every
# key in the bucket, so the per-call overhead amortizes across all of
# them and emission is one wide frame per bucket.  Python calls per
# batch are bounded by n_buckets regardless of key cardinality.
#
# Sizing at scale: ~60 bytes/key pickled => a 1k-key bucket is a
# ~60 KB RocksDB value, rewritten per touched bucket per batch; pick
# n_buckets ~ keys / 1000 to hold that constant (same rule as
# funnel_stage_stream — see streaming/funnel.py for the full
# rationale).
#
# Per-key cadence: each key's NEXT-FIRE time is stored alongside its
# total, the bucket's single processing-time timeout is armed at the
# MIN next-fire across its keys, and a firing (or any data batch)
# re-emits exactly the keys that are DUE — each key re-emits
# emit_every_ms after its own last activity, independent of bucket
# siblings, while Python invocations stay bounded by n_buckets.  A
# naive bucket-level timeout that re-emitted whole buckets would change
# A4's per-key cadence contract; emitting only due keys does not.
#
# Reference analog unchanged: per-key KeyValueStore fold + punctuator
# (ProcessorApiExample.scala:43-67); a bucket is the store partition
# made explicit.
# ---------------------------------------------------------------------------

BUCKET_STATE_SCHEMA = StructType([StructField("blob", BinaryType())])


def _punctuated_fold(
    stream: DataFrame,
    key_col: str,
    value_col: str,
    emit_every_ms: int,
    n_buckets: int,
) -> DataFrame:
    import pickle

    src = stream.select(
        F.col(key_col).cast("string").alias("key"),
        F.col(value_col).cast("double").alias("value"),
    ).withColumn(
        "bucket", F.pmod(F.xxhash64("key"), F.lit(n_buckets)).cast("long")
    )

    def fold(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        chunks = [p for p in pdfs if len(p)]
        if not chunks and not state.hasTimedOut:
            return
        now = state.getCurrentProcessingTimeMs()
        # entry = (total, n, next_fire_ms) — the fire time is state, so
        # it survives checkpoint recovery like everything else in the blob
        totals: dict[str, tuple] = (
            pickle.loads(state.get[0]) if state.exists else {}
        )
        out_k: list[str] = []
        out_t: list[float] = []
        out_n: list[int] = []
        emitted: set[str] = set()
        if chunks:
            pdf = chunks[0] if len(chunks) == 1 else pd.concat(chunks)
            # one C-level groupby over the bucket's rows, then a Python
            # loop over TOUCHED keys only (~rows/n_buckets per call)
            g = pdf.groupby("key", sort=False)["value"].agg(["sum", "size"])
            for k, s, c in zip(
                g.index, g["sum"].to_numpy(), g["size"].to_numpy()
            ):
                total, n, _ = totals.get(k, (0.0, 0, 0))
                total += float(s)
                n += int(c)
                totals[k] = (total, n, now + emit_every_ms)
                emitted.add(k)
                out_k.append(k)
                out_t.append(total)
                out_n.append(n)
        # due keys re-emit their CURRENT total (punctuate), whether this
        # invocation carried data for bucket siblings or the bucket's
        # timer fired with no data at all
        for k, rec in totals.items():
            if k not in emitted and rec[2] <= now:
                totals[k] = (rec[0], rec[1], now + emit_every_ms)
                out_k.append(k)
                out_t.append(rec[0])
                out_n.append(rec[1])
        state.update((pickle.dumps(totals, protocol=pickle.HIGHEST_PROTOCOL),))
        if totals:
            next_fire = min(rec[2] for rec in totals.values())
            state.setTimeoutDuration(max(1, int(next_fire - now)))
        if out_k:
            yield pd.DataFrame({"key": out_k, "total": out_t, "n": out_n})

    return src.groupBy("bucket").applyInPandasWithState(
        fold,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=BUCKET_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )
