"""Streaming MinHash-LSH near-dup candidates vs the batch LSH family.

Contracts pinned here:
- the per-row signature expressions are value-identical to the grouped
  `minhash_signatures` table (same Carter-Wegman spec, no aggregation);
- over an in-order replay whose horizon spans the stream, the distinct
  streaming candidate set equals `minhash_lsh_pairs` over the union of
  all batches;
- a document beyond the watermark horizon neither signs nor pairs, and
  stored band entries age out (bounded state).
"""

from __future__ import annotations

import datetime as dt
import uuid

import pytest

from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("ts", TimestampType()),
    ]
)

T0 = dt.datetime(2024, 1, 1, 12, 0, 0)


def _s(n: int) -> dt.datetime:
    return T0 + dt.timedelta(seconds=n)


def _mk_docs(seed: int, n_docs: int):
    """Synthetic corpus with real near-dup structure: ~30% of docs are
    light edits of an earlier doc (shared shingles => shared bands)."""
    import random

    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(50)]
    docs: list[tuple[int, str]] = []
    for i in range(n_docs):
        if docs and rng.random() < 0.3:
            base = rng.choice(docs)[1].split()
            j = rng.randrange(len(base))
            base[j] = rng.choice(vocab)
            docs.append((i, " ".join(base)))
        else:
            docs.append(
                (i, " ".join(rng.choice(vocab) for _ in range(12)))
            )
    return docs


def _drive(spark, tmp_path, batches, delay="1 hour", n_buckets=8):
    from confluent_kafka_streams_examples_spark.streaming.neardup import (
        neardup_candidates_stream,
    )

    src = str(tmp_path / "src")
    qname = f"nd{uuid.uuid4().hex[:8]}"
    spark.createDataFrame(batches[0], SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream = spark.readStream.schema(SCHEMA).parquet(src)
    out = neardup_candidates_stream(
        stream, "doc_id", "text", "ts", delay=delay, n_buckets=n_buckets
    )
    q = (
        out.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
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


def test_minhash_signature_exprs_match_grouped(spark):
    """The per-row signature table equals the grouped signature table
    on real documents (sf0.001) plus a 2-token and a NULL-text document
    — same md5, same Carter-Wegman permutations, min-over-array ==
    min-over-group, and the per-row signer's own short/NULL gate drops
    exactly the documents the grouped form has no row for."""
    from confluent_kafka_streams_examples_spark.operators.dedup import (
        minhash_signatures,
        with_minhash_signatures,
    )
    from confluent_kafka_streams_examples_spark.session import load_table

    real = load_table(spark, "documents", "/root/testdata/sf0.001").select(
        "doc_id", "text"
    )
    docs = real.unionByName(
        spark.createDataFrame([(-1, "two tokens"), (-2, None)], real.schema)
    )
    grouped = {
        r["doc_id"]: tuple(r[f"mh{j}"] for j in range(16))
        for r in minhash_signatures(docs, "doc_id", "text", 16, 3).collect()
    }
    perrow = {
        r["doc_id"]: tuple(r[f"mh{j}"] for j in range(16))
        for r in with_minhash_signatures(docs, "text", 16, 3).collect()
    }
    assert -1 not in grouped and -2 not in grouped
    assert perrow == grouped


def test_stream_candidates_match_batch_lsh(spark, tmp_path):
    """Differential: distinct streaming candidates over an in-order
    3-batch replay (horizon spans the stream) == minhash_lsh_pairs
    over the union — the batch operator's own candidate definition."""
    from confluent_kafka_streams_examples_spark.operators.dedup import (
        minhash_lsh_pairs,
    )

    docs = _mk_docs(seed=11, n_docs=90)
    batches = [
        [(i, t, _s(i)) for i, t in docs[:30]],
        [(i, t, _s(i)) for i, t in docs[30:60]],
        [(i, t, _s(i)) for i, t in docs[60:]],
    ]
    rows = _drive(spark, tmp_path, batches, delay="1 hour")
    got = {(min(r["id_a"], r["id_b"]), max(r["id_a"], r["id_b"])) for r in rows}
    # streaming id_a must be the earlier ARRIVAL (here: smaller doc_id)
    assert all(r["id_a"] < r["id_b"] for r in rows)

    batch_df = spark.createDataFrame(
        [(i, t) for i, t in docs], "doc_id long, text string"
    )
    expect = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(batch_df, "doc_id", "text").collect()
    }
    assert got == expect
    assert expect  # the corpus genuinely has candidates


def _drive_gate(spark, tmp_path, batches, corpus_sig, delay="1 hour"):
    from confluent_kafka_streams_examples_spark.streaming.neardup import (
        neardup_ingest_gate_stream,
    )

    src = str(tmp_path / "gsrc")
    qname = f"gate{uuid.uuid4().hex[:8]}"
    spark.createDataFrame(batches[0], SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream = spark.readStream.schema(SCHEMA).parquet(src)
    out = neardup_ingest_gate_stream(
        stream, corpus_sig, "doc_id", "text", "ts", delay=delay, n_buckets=8
    )
    q = (
        out.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
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


def test_ingest_gate_matches_batch_incremental(spark, tmp_path):
    """Differential for the full ingest gate (corpus stream-static join
    + horizon state op): over an in-order replay whose horizon spans
    the stream, the distinct (id_a, id_b, match_src) set equals the
    batch incremental_minhash_pairs of (union of batches) vs the SAME
    stored corpus signature table — collisions with the whole accepted
    corpus are caught, not just within the watermark horizon."""
    from confluent_kafka_streams_examples_spark.operators.dedup import (
        incremental_minhash_pairs,
        minhash_signatures,
    )

    docs = _mk_docs(seed=7, n_docs=120)
    # first 60 docs form the accepted corpus; the last 60 arrive as the
    # stream (ids disjoint); _mk_docs' 30% edit rate guarantees both
    # corpus-vs-new and new-vs-new collisions exist
    corpus = spark.createDataFrame(
        [(i, t) for i, t in docs[:60]], "doc_id long, text string"
    )
    corpus_sig = minhash_signatures(corpus, "doc_id", "text", 16, 3)
    # persist the artifact the way production does: stored table, re-read
    sig_path = str(tmp_path / "corpus_sig")
    corpus_sig.write.parquet(sig_path)
    stored_sig = spark.read.parquet(sig_path)

    new_docs = docs[60:]
    batches = [
        [(i, t, _s(i)) for i, t in new_docs[:30]],
        [(i, t, _s(i)) for i, t in new_docs[30:]],
    ]
    rows = _drive_gate(spark, tmp_path, batches, stored_sig, delay="1 hour")
    got = {(r["id_a"], r["id_b"], r["match_src"]) for r in rows}

    new_df = spark.createDataFrame(
        [(i, t) for i, t in new_docs], "doc_id long, text string"
    )
    expect = {
        (r["id_a"], r["id_b"], r["match_src"])
        for r in incremental_minhash_pairs(
            new_df, stored_sig, "doc_id", "text"
        ).collect()
    }
    assert got == expect
    assert any(m == "corpus" for _, _, m in expect)  # both sources real
    assert any(m == "batch" for _, _, m in expect)


def test_corpus_gate_broadcasts_the_batch_side(spark, tmp_path):
    """100 TB shape of the stream-static corpus join: the (small)
    micro-batch side must be the broadcast BUILD side so the multi-GB
    corpus signature artifact is scanned and probed, never shuffled or
    sorted on the join key.  The operator is stateless, so the batch
    plan is the per-trigger plan."""
    from confluent_kafka_streams_examples_spark.operators.dedup import (
        minhash_signatures,
    )
    from confluent_kafka_streams_examples_spark.streaming.neardup import (
        neardup_vs_corpus_stream,
    )

    docs = spark.createDataFrame(
        [(i, f"w{i} w{i+1} w{i+2} w{i+3}") for i in range(50)],
        "doc_id long, text string",
    )
    sig_path = str(tmp_path / "sig")
    minhash_signatures(docs, "doc_id", "text", 16, 3).write.parquet(sig_path)
    stored = spark.read.parquet(sig_path)
    plan = (
        neardup_vs_corpus_stream(docs, stored)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan, plan
    assert "BuildLeft" in plan, plan  # left = the arriving batch side
    # the corpus side must not be exchanged on the band key
    corpus_half = plan.split("BroadcastExchange")[-1]
    assert "Exchange hashpartitioning(band" not in corpus_half, plan


def test_redelivery_is_idempotent(spark, tmp_path):
    """A re-delivered doc_id refreshes its stored entry: no duplicate
    state tuples, no re-emission, and — critically — no reversed
    (id_b, id_a) orientation of a pair that already emitted."""
    text = "a b c d e f g h i j"
    batches = [
        [(1, text, _s(0))],
        [(1, text, _s(1)), (2, text, _s(5))],  # 1 re-posted, then 2
        [(1, text, _s(6))],  # re-post AFTER 2 arrived: must emit nothing
        [(3, text, _s(7))],  # new doc pairs once with each of 1 and 2
    ]
    rows = _drive(spark, tmp_path, batches, delay="1 hour")
    pairs = [(r["id_a"], r["id_b"], r["band_idx"]) for r in rows]
    assert len(pairs) == len(set(pairs)), pairs  # no duplicate emissions
    oriented = {(r["id_a"], r["id_b"]) for r in rows}
    assert (1, 2) in oriented
    assert (2, 1) not in oriented, oriented
    assert (1, 3) in oriented and (2, 3) in oriented
    assert not any(b == a for a, b in oriented)


def test_within_batch_order_is_event_time(spark, tmp_path):
    """Frame order after the bucket shuffle is not arrival order; the
    fold sorts by (ts_us, doc_id), so a batch delivered in reversed
    event-time order still emits id_a = event-time-earlier doc."""
    text = "a b c d e f g h i j"
    # single batch, rows listed later-ts first
    batches = [[(7, text, _s(10)), (6, text, _s(5))]]
    rows = _drive(spark, tmp_path, batches, delay="1 hour")
    oriented = {(r["id_a"], r["id_b"]) for r in rows}
    assert oriented == {(6, 7)}, oriented


def test_stream_candidates_respect_horizon(spark, tmp_path):
    """A near-dup arriving beyond the horizon of its twin does NOT
    pair (state evicted), and a late row (event time behind the
    watermark) is dropped entirely."""
    text = "a b c d e f g h i j"
    batches = [
        # twin docs 1 & 2 within the horizon: pair
        [(1, text, _s(0)), (2, text, _s(5))],
        # watermark pusher far ahead (unique text: no collisions)
        [(99, "zz yy xx ww vv uu tt", _s(500))],
        # doc 3 = same text, event time now, arrives AFTER eviction of
        # 1/2 (wm ~ 500-30 >> 5): no pair with 1 or 2
        [(3, text, _s(501))],
        # doc 4 = same text, LATE (event time behind watermark): dropped,
        # so it must not pair with 3 either
        [(4, text, _s(100)), (5, text, _s(502))],
    ]
    rows = _drive(spark, tmp_path, batches, delay="30 seconds")
    pairs = {(r["id_a"], r["id_b"]) for r in rows}
    assert (1, 2) in pairs
    assert not any(3 in p or 99 in p for p in pairs if p != (3, 5)), pairs
    assert not any(4 in p for p in pairs), pairs
    assert (3, 5) in pairs  # in-horizon twin still pairs
