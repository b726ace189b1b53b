"""Streaming ordered-funnel processor — the stateful twin of the batch
``funnel_conversion`` query (queries_extra.py).

Per-user state is three stage timestamps (epoch micros): the earliest
``view``, the earliest ``click`` STRICTLY AFTER that view, the earliest
``purchase`` STRICTLY AFTER that click — first-touch semantics, same as
the batch oracle.  State is three longs per user regardless of how many
events the user produces: O(users) state, the shape that survives a
billion-user stream (contrast with keeping per-type candidate sets,
which is O(events) until the watermark closes).

Ordering contract (documented, tested): the within-batch fold is a
VECTORIZED three-step min-cascade (t1 = min over views; t2 = min over
clicks > t1_new, t2_old staying valid because t1 only decreases; t3
likewise) — provably identical to iterating the batch's rows in
event-time order, because a click is admitted iff SOME view precedes
it, i.e. iff the batch-global t1 precedes it (same argument one stage
down for purchases).  So arrival order within a batch never matters,
and any replay whose BATCHES arrive in event-time order reproduces the
batch query exactly (`tests/test_streaming_funnel.py` asserts this).
Across
out-of-order batches the fold is CONSERVATIVE: a late-arriving earlier
``view`` may lower stage-1 time, but clicks already rejected against
the old stage-1 time are not re-admitted (they were not retained) — a
stage is never reported EARLIER than exact, and never reported when the
exact cascade would not have fired... with one documented exception:
a stage time already accepted is kept even if the preceding stage's
time later moves below it (monotone refinement, Kafka-Streams-style
at-arrival semantics).  Exactness under disorder requires retaining
per-type candidate timestamps until the watermark passes them — that
mode EXISTS here as :func:`funnel_stage_stream_exact` (horizon-bounded
candidate retention + finality-proof compaction); the conservative
:func:`funnel_stage_stream` remains the O(users)-state default,
matching the reference's own at-arrival posture
(ProcessorApiExample.scala:34-72).

Both folds keep their state per hash bucket of users, not per user, so
a checkpoint written by an earlier per-user fold (grouped by user id,
state ``(t1, t2, t3)``) is rejected at state load
(``STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE``) — resume it from a fresh
checkpoint.

Reference analog: per-key KeyValueStore fold + downstream forward
(ProcessorApiExample.scala:60-67); the stage cascade generalizes the
single running value to a small state machine.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import BinaryType, LongType, StructField, StructType

OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("stage", LongType()),
        StructField("t1_us", LongType()),
        StructField("t2_us", LongType()),
        StructField("t3_us", LongType()),
    ]
)

# ---------------------------------------------------------------------------
# Bucketed state: the high-key-cardinality layout.
#
# applyInPandasWithState invokes the Python fold ONCE PER GROUP per
# micro-batch; with per-user grouping and K distinct users per batch
# that is K interpreter round-trips of ~2 ms each (pandas masking +
# 1-row frame construction + state marshalling), which is the measured
# 51k -> 13k rows/s cliff from 10k to 100k+ keys (SCALE.md decades,
# VERDICT r8 #1).  So the STATE KEY is a hash bucket of users rather
# than the user: state holds a packed vector of every tracked user's
# (t1,t2,t3) in the bucket, the fold vectorizes the min-cascade across
# ALL users in the bucket with numpy, and emission yields ONE wide
# frame per bucket instead of one 1-row frame per user.  Python calls
# per batch are O(touched buckets) — bounded by ``n_buckets`` no matter
# how many users exist.
#
# Sizing at scale: per-bucket state is 32 bytes/user, so a bucket of
# ~1k users is a ~32 KB RocksDB value — read+rewritten per touched
# bucket per batch.  Pick n_buckets ~ expected_users / 1000 (1024
# covers 1M users; at 1e9 users use ~1M buckets) to hold that blob
# size constant; parallelism is unaffected (buckets >> cores).
#
# Semantics: the conservative at-arrival fold of the module docstring
# — vectorized min-cascade, monotone refinement, "state exists only
# after a qualifying view" — asserted against a plain-Python reference
# fold and the batch oracle in tests/test_streaming_funnel.py.
# Reference analog is unchanged (ProcessorApiExample.scala:60-67);
# bucketing is pure physical layout, like a Kafka Streams store
# partition holding many keys.
# ---------------------------------------------------------------------------

_MAX = np.iinfo(np.int64).max

BUCKET_STATE_SCHEMA = StructType([StructField("blob", BinaryType())])


def _unpack(blob: bytes) -> np.ndarray:
    """blob -> (4, n) int64 matrix: rows = sorted user ids, t1, t2, t3."""
    return np.frombuffer(blob, dtype=np.int64).reshape(4, -1)


def funnel_stage_stream(
    stream: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    n_buckets: int = 1024,
) -> DataFrame:
    """Update-mode stream of (user_id, stage, t1_us, t2_us, t3_us):
    one row per user per micro-batch in which the user's funnel state
    CHANGED (stage advanced or a stage time refined).  ``stage`` is the
    deepest stage reached (1..3); users with no qualifying view emit
    nothing.  State is one packed ``(user, t1, t2, t3)`` vector per
    hash bucket of users; see the block comment above for the
    ``n_buckets`` sizing rule."""
    src = stream.select(
        F.col(user_col).cast("long").alias("user_id"),
        F.when(F.col(type_col) == "view", F.lit(1))
        .when(F.col(type_col) == "click", F.lit(2))
        .when(F.col(type_col) == "purchase", F.lit(3))
        .cast("long")
        .alias("code"),
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("ts_us"),
    ).filter(
        F.col("code").isNotNull()
        & F.col("ts_us").isNotNull()
        & F.col("user_id").isNotNull()
    )
    # stage codes are computed JVM-side (one `when` chain inside the
    # scan projection) so the Python fold never touches strings —
    # object-dtype comparisons are a measurable share of per-call cost.
    # The null-ts filter keeps NaN out of the Arrow batches (an int64
    # cast of a null would raise); SQL min() ignores nulls, so dropping
    # them matches the batch oracle exactly.  The null-USER filter is a
    # poison guard: one malformed record must never take down every
    # user's funnel (E1 posture; a null user has no funnel identity)
    src = src.withColumn(
        "bucket", F.pmod(F.xxhash64("user_id"), F.lit(n_buckets)).cast("long")
    )

    def fold(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        chunks = [p for p in pdfs if len(p)]
        if not chunks:
            return
        pdf = chunks[0] if len(chunks) == 1 else pd.concat(chunks)
        uid = pdf["user_id"].to_numpy(dtype=np.int64)
        code = pdf["code"].to_numpy(dtype=np.int64)
        ts = pdf["ts_us"].to_numpy(dtype=np.int64)

        if state.exists:
            s_uid, s1, s2, s3 = _unpack(state.get[0])
        else:
            s_uid = s1 = s2 = s3 = np.empty(0, dtype=np.int64)

        users = np.union1d(s_uid, uid)  # sorted
        t1 = np.full(len(users), _MAX)
        t2 = np.full(len(users), _MAX)
        t3 = np.full(len(users), _MAX)
        if len(s_uid):
            old_pos = np.searchsorted(users, s_uid)
            t1[old_pos], t2[old_pos], t3[old_pos] = s1, s2, s3

        def stage_min(mask: np.ndarray, gate: np.ndarray) -> np.ndarray:
            """Per-user min of ts[mask] restricted to ts strictly after
            the user's gate time (_MAX gate admits nothing)."""
            pos = np.searchsorted(users, uid[mask])
            t = ts[mask]
            adm = t > gate[pos]
            out = np.full(len(users), _MAX)
            np.minimum.at(out, pos[adm], t[adm])
            return out

        # the provably order-free min-cascade (module docstring),
        # across every user in the bucket
        n1 = np.minimum(
            t1, stage_min(code == 1, np.full(len(users), np.iinfo(np.int64).min))
        )
        n2 = np.minimum(t2, stage_min(code == 2, n1))
        n3 = np.minimum(t3, stage_min(code == 3, n2))

        keep = n1 != _MAX  # no qualifying view => no state, no emission
        changed = ((n1 != t1) | (n2 != t2) | (n3 != t3)) & keep
        state.update(
            (np.concatenate([users[keep], n1[keep], n2[keep], n3[keep]]).tobytes(),)
        )
        if changed.any():
            e1, e2, e3 = n1[changed], n2[changed], n3[changed]
            stage = np.where(e3 != _MAX, 3, np.where(e2 != _MAX, 2, 1))
            yield pd.DataFrame(
                {
                    "user_id": users[changed],
                    "stage": stage.astype(np.int64),
                    "t1_us": e1,
                    "t2_us": pd.arrays.IntegerArray(e2, mask=e2 == _MAX),
                    "t3_us": pd.arrays.IntegerArray(e3, mask=e3 == _MAX),
                }
            )

    return src.groupBy("bucket").applyInPandasWithState(
        fold,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=BUCKET_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

# ---------------------------------------------------------------------------
# EXACT mode (VERDICT r8 #3): watermark-horizon candidate retention.
#
# The conservative fold above is at-arrival: a click rejected because
# no earlier view had arrived yet is NOT re-admitted when a late view
# lowers t1 (it was never retained).  Exact mode retains every event
# newer than the watermark per user, so as long as events arrive within
# the watermark horizon — the standard streaming contract — a replay in
# ANY order reproduces the batch `funnel_conversion` cascade exactly.
#
# State per user = (t1f, t2f, t3f) folded summary + the retained
# events (code, ts) with ts >= watermark; per batch the cascade is
# recomputed as three gated mins over summary + retained:
#     t1 = min(t1f, retained views)
#     t2 = min(t2f, retained clicks  with ts > t1)
#     t3 = min(t3f, retained purchases with ts > t2)
# and events older than the current watermark compact into the summary.
#
# WHY compaction is exact (the finality argument): once the watermark
# passes an event's timestamp, every future arrival has ts >= watermark
# >= that event's ts.  A sub-watermark click c is admitted iff some
# view has ts < c; views that could still arrive are >= c, so c's
# admissibility — judged against t1 over EVERYTHING known now,
# including still-retained views — can never change.  One step down,
# t2 only ever decreases via clicks, and future/retained clicks are
# >= watermark >= p, so a sub-watermark purchase p's admissibility
# (t2 < p) is equally final.  The cascade is a left fold whose
# sub-horizon prefix is therefore frozen into (t1f, t2f, t3f), and
# state stays O(events inside the horizon) per user — rate x delay,
# NOT stream length (the streaming/dedup.py state shape).
#
# Compaction is LAZY (on-touch): a user idle since its last event
# keeps its retained tail until the next event for that user's bucket
# arrives.  The bound per user is still "events within the horizon as
# of last touch"; an anti-idle sweep would need a timeout walk, which
# the probe workload (every key touched steadily) does not exercise.
#
# Without a watermark (delay=None) nothing compacts and state is
# O(events): that is the honest cost of exactness under unbounded
# disorder — the trade the conservative mode's docstring names.  The
# bucketed pickle layout keeps the per-group Python cost amortized
# exactly as in funnel_stage_stream.
# ---------------------------------------------------------------------------


def funnel_stage_stream_exact(
    stream: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    delay: str | None = "30 seconds",
    n_buckets: int = 1024,
) -> DataFrame:
    """Exact-replay funnel: same output contract as
    :func:`funnel_stage_stream`, but out-of-order arrivals WITHIN the
    watermark horizon (``delay``) reproduce the batch cascade exactly —
    a late earlier view re-admits previously rejected clicks.  State is
    bounded by the horizon; ``delay=None`` retains everything (exact
    under arbitrary disorder, O(events) state)."""
    import pickle

    ts_ts = F.col(ts_col).cast("timestamp")
    src = stream.select(
        F.col(user_col).cast("long").alias("user_id"),
        F.when(F.col(type_col) == "view", F.lit(1))
        .when(F.col(type_col) == "click", F.lit(2))
        .when(F.col(type_col) == "purchase", F.lit(3))
        .cast("long")
        .alias("code"),
        ts_ts.alias("ts"),
    ).filter(
        F.col("code").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("user_id").isNotNull()
    )
    if delay is not None:
        src = src.withWatermark("ts", delay)
    # keep the event-time column in the projection: the watermark is
    # metadata ON that attribute, and dropping it here would strip the
    # watermark from the stateful operator's child plan
    src = src.select(
        "user_id", "code", "ts", F.unix_micros(F.col("ts")).alias("ts_us")
    ).withColumn(
        "bucket", F.pmod(F.xxhash64("user_id"), F.lit(n_buckets)).cast("long")
    )

    def _mins(t1f: int, t2f: int, t3f: int, retained: list) -> tuple:
        t1 = min([t1f] + [t for c, t in retained if c == 1])
        t2 = min([t2f] + [t for c, t in retained if c == 2 and t > t1])
        t3 = min([t3f] + [t for c, t in retained if c == 3 and t > t2])
        return t1, t2, t3

    def fold(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        chunks = [p for p in pdfs if len(p)]
        if not chunks:
            return
        pdf = chunks[0] if len(chunks) == 1 else pd.concat(chunks)
        # getCurrentWatermarkMs raises unless the stream declared a
        # watermark; delay=None means "retain everything" (wm 0)
        wm_us = (
            state.getCurrentWatermarkMs() * 1000 if delay is not None else 0
        )
        users: dict = pickle.loads(state.get[0]) if state.exists else {}

        out_rows: list[tuple] = []
        uid_arr = pdf["user_id"].to_numpy(dtype=np.int64)
        code_arr = pdf["code"].to_numpy(dtype=np.int64)
        ts_arr = pdf["ts_us"].to_numpy(dtype=np.int64)
        order = np.argsort(uid_arr, kind="stable")
        bounds = np.searchsorted(
            uid_arr[order], np.unique(uid_arr), side="left"
        )
        touched = np.unique(uid_arr)
        for i, u in enumerate(touched.tolist()):
            lo = bounds[i]
            hi = bounds[i + 1] if i + 1 < len(bounds) else len(order)
            idx = order[lo:hi]
            t1f, t2f, t3f, retained = users.get(
                int(u), (_MAX, _MAX, _MAX, [])
            )
            old = _mins(t1f, t2f, t3f, retained)
            for c, t in zip(code_arr[idx].tolist(), ts_arr[idx].tolist()):
                if t >= wm_us:  # watermark late-drop, exact-mode contract
                    retained.append((c, t))
            t1, t2, t3 = _mins(t1f, t2f, t3f, retained)
            # compact: fold sub-watermark events into the summary
            # (final by the argument above), keep only the horizon
            if wm_us > 0:
                for c, t in retained:
                    if t < wm_us:
                        if c == 1:
                            t1f = min(t1f, t)
                        elif c == 2 and t > t1:
                            t2f = min(t2f, t)
                        elif c == 3 and t > t2:
                            t3f = min(t3f, t)
                retained = [(c, t) for c, t in retained if t >= wm_us]
            if t1 != _MAX:
                users[int(u)] = (t1f, t2f, t3f, retained)
                if (t1, t2, t3) != old:
                    stage = 3 if t3 != _MAX else (2 if t2 != _MAX else 1)
                    out_rows.append((int(u), stage, t1, t2, t3))
            elif retained or t2f != _MAX or t3f != _MAX:
                # no qualifying view yet, but candidates are live —
                # keep them so a late view can still admit them
                users[int(u)] = (t1f, t2f, t3f, retained)
            else:
                # view-less user whose candidates all expired past the
                # watermark: no future view can admit them (a view now
                # arrives with t1 >= wm > t_candidate), so the entry is
                # dead — DELETE it, or the stale un-compacted retained
                # list (appended in place above) pickles into the
                # bucket blob forever and state never shrinks under
                # churn (ADVICE r9)
                users.pop(int(u), None)

        state.update((pickle.dumps(users, protocol=pickle.HIGHEST_PROTOCOL),))
        if out_rows:
            u_, s_, t1_, t2_, t3_ = (np.array(x) for x in zip(*out_rows))
            yield pd.DataFrame(
                {
                    "user_id": u_,
                    "stage": s_,
                    "t1_us": t1_,
                    "t2_us": pd.arrays.IntegerArray(t2_, mask=t2_ == _MAX),
                    "t3_us": pd.arrays.IntegerArray(t3_, mask=t3_ == _MAX),
                }
            )

    return src.groupBy("bucket").applyInPandasWithState(
        fold,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=BUCKET_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def bench_stream_to_funnel_columns(src: DataFrame) -> DataFrame:
    """Map the synthetic bench stream (key 'k<N>', value, ts) onto the
    funnel's input columns: user from the key suffix, event_type
    cycling view/click/purchase from the value — shared by
    bench_streaming.py and scripts/stream_state_probe.py so the two
    harnesses measure the identical pipeline."""
    return src.select(
        F.expr("CAST(substring(key, 2) AS LONG)").alias("user_id"),
        F.element_at(
            F.array(F.lit("view"), F.lit("click"), F.lit("purchase")),
            (F.col("value").cast("long") % 3 + 1).cast("int"),
        ).alias("event_type"),
        F.col("ts"),
    )
