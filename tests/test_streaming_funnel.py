"""Streaming funnel processor vs its batch oracle twin.

The contract documented in streaming/funnel.py: an event-time-ordered
replay reproduces the batch ``funnel_conversion`` query exactly; state
is three longs per user; stage times only refine monotonically."""

from __future__ import annotations

import datetime as dt
import uuid

from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

import pytest

from confluent_kafka_streams_examples_spark.streaming.funnel import (
    funnel_stage_stream,
)


def _fold(stream):
    # n_buckets=8: several users share each bucket's packed state vector
    return funnel_stage_stream(stream, n_buckets=8)


IMPLS = [pytest.param(_fold, id="bucketed")]

SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("ts", TimestampType()),
    ]
)

T0 = dt.datetime(2024, 1, 1, 12, 0, 0)


def _s(n: int) -> dt.datetime:
    return T0 + dt.timedelta(seconds=n)


def _drive(spark, tmp_path, batches, impl=funnel_stage_stream):
    src = str(tmp_path / "src")
    qname = f"f{uuid.uuid4().hex[:8]}"
    # coalesce(1): one part file per logical batch, atomically renamed —
    # a multi-file append can be LISTED PARTIALLY by the continuously
    # triggering query between processAllAvailable calls, splitting one
    # logical batch across two microbatches at a random point; the
    # at-arrival folds are batch-boundary-sensitive, so that race made
    # the batch-by-batch differential flake (~1 in 3 under load)
    spark.createDataFrame(batches[0], SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream = spark.readStream.schema(SCHEMA).parquet(src)
    out = impl(stream)
    q = (
        out.writeStream.format("memory")
        .queryName(qname)
        .outputMode("update")
        .option("checkpointLocation", f"{tmp_path}/ckpt_{qname}")
        .start()
    )
    try:
        q.processAllAvailable()
        for b in batches[1:]:
            spark.createDataFrame(b, SCHEMA).coalesce(1).write.mode(
                "append"
            ).parquet(src)
            q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(f"SELECT * FROM {qname}").collect()


@pytest.mark.parametrize("impl", IMPLS)
def test_funnel_stream_matches_batch_on_inorder_replay(spark, tmp_path, impl):
    """Batches arriving in event-time order: final per-user stage equals
    the batch funnel_conversion cascade on the union of all batches."""
    batches = [
        [  # batch 1
            (1, "view", _s(0)),
            (2, "purchase", _s(0)),  # purchase first: must not count
            (2, "view", _s(1)),
            (4, "view", _s(0)),
            (3, "click", _s(0)),  # click with no view: nothing
        ],
        [  # batch 2
            (1, "click", _s(10)),
            (2, "click", _s(11)),
        ],
        [  # batch 3
            (1, "purchase", _s(20)),
        ],
    ]
    rows = _drive(spark, tmp_path, batches, impl)
    # latest state per user (update mode re-emits on refinement)
    final = {}
    for r in rows:
        final[r["user_id"]] = max(final.get(r["user_id"], 0), r["stage"])
    assert final == {1: 3, 2: 2, 4: 1}

    # batch twin on the union must agree
    import confluent_kafka_streams_examples_spark.queries_extra as qe

    union = [r for b in batches for r in b]
    df = spark.createDataFrame(union, SCHEMA)
    orig = qe.load_table
    qe.load_table = lambda spark, name, sf_dir: df  # noqa: ARG005
    try:
        batch = {
            r["stage"]: r["n_users"]
            for r in qe.funnel_conversion(spark, "unused").collect()
        }
    finally:
        qe.load_table = orig
    stream_counts = {
        "1_view": sum(1 for s in final.values() if s >= 1),
        "2_click": sum(1 for s in final.values() if s >= 2),
        "3_purchase": sum(1 for s in final.values() if s >= 3),
    }
    assert batch == stream_counts


@pytest.mark.parametrize("impl", IMPLS)
def test_funnel_stream_intra_batch_disorder_handled(spark, tmp_path, impl):
    """Arrival order inside ONE micro-batch never matters (the
    vectorized min-cascade is order-independent): click-then-view
    arrival with view-before-click timestamps still reaches stage 2."""
    rows = _drive(
        spark,
        tmp_path,
        [[(7, "click", _s(5)), (7, "view", _s(1))]],
        impl,
    )
    assert [(r["user_id"], r["stage"]) for r in rows] == [(7, 2)]
    assert rows[0]["t1_us"] < rows[0]["t2_us"]


@pytest.mark.parametrize("impl", IMPLS)
def test_funnel_stream_state_is_three_longs_and_silent_users_emit_nothing(
    spark, tmp_path, impl
):
    rows = _drive(
        spark,
        tmp_path,
        [[(9, "purchase", _s(0)), (9, "click", _s(1))]],  # no view ever
        impl,
    )
    assert rows == []


@pytest.mark.parametrize("impl", IMPLS)
def test_funnel_stream_stage_never_regresses_across_batches(spark, tmp_path, impl):
    """A late earlier view refines t1 but keeps the accepted click
    (monotone refinement — the documented at-arrival semantics)."""
    batches = [
        [(5, "view", _s(10)), (5, "click", _s(20))],
        [(5, "view", _s(0))],  # late arrival, earlier than everything
    ]
    rows = _drive(spark, tmp_path, batches, impl)
    per_emit = [(r["stage"], r["t1_us"]) for r in rows]
    # second emission refined t1 downward, stage stayed 2
    assert max(s for s, _ in per_emit) == 2
    assert min(t for _, t in per_emit) < max(t for _, t in per_emit)


@pytest.mark.parametrize("impl", IMPLS)
def test_funnel_stream_null_timestamps_dropped(spark, tmp_path, impl):
    """A null ts must be ignored (SQL min() semantics), not poison the
    Arrow batch with NaN."""
    rows = _drive(
        spark,
        tmp_path,
        [[(11, "view", None), (11, "view", _s(1)), (11, "click", _s(2))]],
        impl,
    )
    assert [(r["user_id"], r["stage"]) for r in rows] == [(11, 2)]


@pytest.mark.parametrize("impl", IMPLS)
def test_funnel_stream_state_survives_restart(spark, tmp_path, impl):
    """Checkpointed state recovery (the reference's persistent
    KeyValueStore + changelog restore, ProcessorApiExample.scala:74-78):
    a view folded before shutdown must admit a click arriving after a
    cold restart from the same checkpoint — for the bucketed variant
    this also proves the packed blob round-trips the state store."""
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt_restart")
    out = str(tmp_path / "out")
    spark.createDataFrame([(21, "view", _s(0))], SCHEMA).write.mode(
        "append"
    ).parquet(src)

    # memory sink does not support checkpoint recovery; foreachBatch
    # into parquet does (the lifecycle module's posture)
    def _start():
        stream = spark.readStream.schema(SCHEMA).parquet(src)
        return (
            impl(stream)
            .writeStream.foreachBatch(
                lambda df, _eid: df.write.mode("append").parquet(out)
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .start()
        )

    q1 = _start()
    try:
        q1.processAllAvailable()
    finally:
        q1.stop()
    first = spark.read.parquet(out).collect()
    assert [(r["user_id"], r["stage"]) for r in first] == [(21, 1)]

    # cold restart: new query object, same checkpoint, new data
    spark.createDataFrame([(21, "click", _s(5))], SCHEMA).write.mode(
        "append"
    ).parquet(src)
    q2 = _start()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    rows = [r for r in spark.read.parquet(out).collect() if r["stage"] == 2]
    # stage 2 only possible if t1 was RECOVERED from the checkpoint
    assert [(r["user_id"], r["stage"]) for r in rows] == [(21, 2)]
    assert rows[0]["t1_us"] is not None and rows[0]["t1_us"] < rows[0]["t2_us"]


@pytest.mark.parametrize("impl", IMPLS)
def test_funnel_stream_null_user_is_poison_guarded(spark, tmp_path, impl):
    """One record with a null user_id must not kill the query (int(None)
    in the state fold would fail the whole StreamingQuery)."""
    rows = _drive(
        spark,
        tmp_path,
        [[(None, "view", _s(0)), (31, "view", _s(1)), (31, "click", _s(2))]],
        impl,
    )
    assert [(r["user_id"], r["stage"]) for r in rows] == [(31, 2)]


def _conservative_reference(batches):
    """Plain-Python conservative fold: batch by batch, per user, the
    gated min-cascade of streaming/funnel.py, each stage time kept
    from earlier batches.  Returns {user: (stage, t1, t2, t3)} in
    epoch micros for users with a view."""
    MAXI = 2**63 - 1
    us = lambda d: int(d.timestamp() * 1_000_000)
    state: dict = {}
    for batch in batches:
        for u in {e[0] for e in batch}:
            evs = [(c, us(t)) for uu, c, t in batch if uu == u]
            t1, t2, t3 = state.get(u, (MAXI, MAXI, MAXI))
            t1 = min([t1] + [t for c, t in evs if c == "view"])
            t2 = min([t2] + [t for c, t in evs if c == "click" and t > t1])
            t3 = min([t3] + [t for c, t in evs if c == "purchase" and t > t2])
            if t1 != MAXI:
                state[u] = (t1, t2, t3)
    return {
        u: (
            3 if t3 != MAXI else (2 if t2 != MAXI else 1),
            t1,
            None if t2 == MAXI else t2,
            None if t3 == MAXI else t3,
        )
        for u, (t1, t2, t3) in state.items()
    }


def test_funnel_matches_python_reference_on_random_stream(spark, tmp_path):
    """Differential contract: over a seeded random multi-batch stream
    spanning many users per bucket, the fold's final per-user
    (stage, t1, t2, t3) must equal a plain-Python conservative fold's
    exactly — the bucketing is physical layout only."""
    import random

    rng = random.Random(42)
    batches = []
    for _ in range(3):
        batch = []
        for _ in range(400):
            batch.append(
                (
                    rng.randrange(60),
                    rng.choice(["view", "click", "purchase"]),
                    _s(rng.randrange(1000)),
                )
            )
        batches.append(batch)

    # update-mode refinement is monotone (stage never regresses, stage
    # times only decrease), so the final state per user is the max
    # stage with the min observed time per stage column
    best = {}
    mn = lambda a, b: b if a is None else (a if b is None else min(a, b))
    for r in _drive(spark, tmp_path, batches, _fold):
        s, t1, t2, t3 = best.get(r["user_id"], (0, None, None, None))
        best[r["user_id"]] = (
            max(s, r["stage"]),
            mn(t1, r["t1_us"]),
            mn(t2, r["t2_us"]),
            mn(t3, r["t3_us"]),
        )
    assert best == _conservative_reference(batches)


def test_funnel_exact_readmits_after_late_view_where_conservative_cannot(
    spark, tmp_path
):
    """THE fixture the conservative fold fails by design: a click
    arrives before any view (rejected at arrival), then an EARLIER view
    arrives late.  Conservative mode never re-admits the click (it was
    not retained) and reports stage 1; exact mode retains candidates
    and reproduces the batch cascade: stage 2."""
    from confluent_kafka_streams_examples_spark.streaming.funnel import (
        funnel_stage_stream_exact,
    )

    batches = [
        [(50, "click", _s(5))],
        [(50, "view", _s(1))],
    ]
    cons = _drive(spark, tmp_path / "cons", batches)
    assert max(r["stage"] for r in cons) == 1  # the documented gap

    rows = _drive(
        spark,
        tmp_path / "exact",
        batches,
        lambda st: funnel_stage_stream_exact(st, delay=None, n_buckets=4),
    )
    assert max(r["stage"] for r in rows) == 2
    best = [r for r in rows if r["stage"] == 2][0]
    assert (best["t1_us"] < best["t2_us"]) and best["t3_us"] is None


def test_funnel_exact_matches_batch_under_shuffled_replay(spark, tmp_path):
    """Exact mode's contract: ANY arrival order reproduces the batch
    funnel_conversion cascade (delay=None retains everything).  Events
    are generated, then dealt into batches in a seeded SHUFFLED order —
    the adversarial replay the conservative fold only bounds."""
    import random

    from confluent_kafka_streams_examples_spark.streaming.funnel import (
        funnel_stage_stream_exact,
    )

    rng = random.Random(7)
    events = []
    for _ in range(300):
        events.append(
            (
                rng.randrange(40),
                rng.choice(["view", "click", "purchase"]),
                _s(rng.randrange(500)),
            )
        )
    rng.shuffle(events)
    batches = [events[i::3] for i in range(3)]  # deal across 3 batches

    rows = _drive(
        spark,
        tmp_path,
        batches,
        lambda st: funnel_stage_stream_exact(st, delay=None, n_buckets=8),
    )
    # final streamed state per user: last emission dominates, but under
    # exact mode values can move non-monotonically between batches, so
    # take each user's row from the LAST batch that emitted it — the
    # memory sink appends in batch order, so the last occurrence wins.
    final = {}
    for r in rows:
        final[r["user_id"]] = (r["stage"], r["t1_us"], r["t2_us"], r["t3_us"])

    # batch cascade oracle, computed directly
    MAXI = 2**63 - 1
    expect = {}
    for u in {e[0] for e in events}:
        evs = [e for e in events if e[0] == u]
        us = lambda d: int(d.timestamp() * 1_000_000)
        t1 = min([us(t) for _, c, t in evs if c == "view"], default=MAXI)
        t2 = min(
            [us(t) for _, c, t in evs if c == "click" and us(t) > t1],
            default=MAXI,
        )
        t3 = min(
            [us(t) for _, c, t in evs if c == "purchase" and us(t) > t2],
            default=MAXI,
        )
        if t1 != MAXI:
            stage = 3 if t3 != MAXI else (2 if t2 != MAXI else 1)
            expect[u] = (
                stage,
                t1,
                None if t2 == MAXI else t2,
                None if t3 == MAXI else t3,
            )
    assert final == expect


def test_funnel_exact_watermark_drops_beyond_horizon(spark, tmp_path):
    """With a watermark, an event older than the horizon is dropped
    (exactness is promised only within the horizon — the standard
    streaming contract), and sub-watermark candidates compact into the
    folded summary without changing results."""
    from confluent_kafka_streams_examples_spark.streaming.funnel import (
        funnel_stage_stream_exact,
    )

    batches = [
        [(60, "view", _s(0)), (60, "click", _s(2)), (99, "view", _s(1000))],
        # watermark is now ~ s(1000) - 10s; this purchase is far older
        # and must be late-dropped, NOT admitted
        [(60, "purchase", _s(5))],
    ]
    rows = _drive(
        spark,
        tmp_path,
        batches,
        lambda st: funnel_stage_stream_exact(
            st, delay="10 seconds", n_buckets=4
        ),
    )
    stages = {r["user_id"]: r["stage"] for r in rows if r["user_id"] == 60}
    assert stages == {60: 2}  # purchase never lands


def test_funnel_exact_reclaims_dead_viewless_users(spark, tmp_path):
    """State reclamation (ADVICE r9): a view-less user whose retained
    candidates all expire past the watermark can never be admitted (a
    future view arrives with t1 >= wm > t_candidate), so their entry
    must be DELETED from the bucket blob — read back through the state
    store reader, user 70 must be gone while live users remain."""
    import glob
    import pickle

    from confluent_kafka_streams_examples_spark.streaming.funnel import (
        funnel_stage_stream_exact,
    )

    batches = [
        # user 70: click only (no view) at s(2); user 99 drives the
        # watermark far forward; both land in every-bucket reach via
        # n_buckets=1 so one blob holds all users
        [(70, "click", _s(2)), (99, "view", _s(1000))],
        # wm is now ~ s(990): this click is late-dropped, compaction
        # empties user 70's retained list -> dead entry -> reclaimed
        [(70, "click", _s(3)), (99, "click", _s(1001))],
    ]
    rows = _drive(
        spark,
        tmp_path,
        batches,
        lambda st: funnel_stage_stream_exact(
            st, delay="10 seconds", n_buckets=1
        ),
    )
    assert {r["user_id"] for r in rows} == {99}
    ckpts = glob.glob(str(tmp_path / "ckpt_*"))
    assert len(ckpts) == 1
    state = (
        spark.read.format("statestore").load(ckpts[0]).collect()
    )
    users: set[int] = set()
    for r in state:
        users |= set(pickle.loads(r["value"]["groupState"]["blob"]))
    assert 99 in users  # live user retained
    assert 70 not in users  # dead view-less user reclaimed
