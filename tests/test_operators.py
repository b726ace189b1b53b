"""Unit tests for the operator-layer API (Stream/Table wrappers, dedup,
similarity, text, multimodal plumbing) on tiny in-memory data."""

from __future__ import annotations

import datetime as dt

import pytest

from pyspark.sql import functions as F

from confluent_kafka_streams_examples_spark.operators.stream import Stream
from confluent_kafka_streams_examples_spark.operators.table import Table, latest_per_key
from confluent_kafka_streams_examples_spark.operators import dedup, multimodal, windows
from confluent_kafka_streams_examples_spark.functions.scalar import (
    safe_long,
    substr_after_first,
)
from confluent_kafka_streams_examples_spark.functions.json_serde import (
    deserialize_json,
    malformed_records,
)
from confluent_kafka_streams_examples_spark.streaming.errors import handle_production_error
from confluent_kafka_streams_examples_spark.schemas import ELECTRONIC_ORDER

T0 = dt.datetime(2024, 1, 1)


def test_substr_after_first_dash(spark):
    """Reference semantics (BasicStreams.scala:57): split at the FIRST
    dash; absent delimiter -> whole string."""
    df = spark.createDataFrame(
        [("orderNumber-1001",), ("a-b-c",), ("nodash",)], ["v"]
    )
    out = [r[0] for r in df.select(substr_after_first("v", "-")).collect()]
    assert out == ["1001", "b-c", "nodash"]


def test_safe_long_null_on_garbage(spark):
    df = spark.createDataFrame([("123",), ("garbage",)], ["v"])
    out = [r[0] for r in df.select(safe_long("v")).collect()]
    assert out == [123, None]


def test_stream_pipeline_chain(spark):
    """BasicStreams chain P1->P3->P1 on the wrapper API."""
    df = spark.createDataFrame(
        [("k1", "orderNumber-2000"), ("k2", "orderNumber-500"), ("k3", "other")],
        ["key", "v"],
    )
    out = (
        Stream(df, key_col="key")
        .filter(F.col("v").contains("orderNumber-"))
        .map_values(order_id=safe_long(substr_after_first(F.col("v"), "-")))
        .filter(F.col("order_id") > 1000)
        .select("key", "order_id")
        .to_df()
        .collect()
    )
    assert [(r["key"], r["order_id"]) for r in out] == [("k1", 2000)]


def test_table_latest_and_tostream(spark):
    df = spark.createDataFrame(
        [("a", 1.0, T0), ("a", 2.0, T0 + dt.timedelta(seconds=1)), ("b", 3.0, T0)],
        ["key", "value", "ts"],
    )
    t = Table.from_stream(df, "key", "ts")
    got = {r["key"]: r["value"] for r in t.to_stream().to_df().collect()}
    assert got == {"a": 2.0, "b": 3.0}


def test_latest_per_key_tiebreak(spark):
    df = spark.createDataFrame(
        [("a", 1, T0), ("a", 2, T0)], ["key", "seq", "ts"]
    )
    out = latest_per_key(df, ["key"], "ts", tiebreak_cols=["seq"]).collect()
    assert len(out) == 1 and out[0]["seq"] == 2


def test_stream_windowed_join_api(spark):
    l = spark.createDataFrame(
        [("u", 1, T0), ("u", 2, T0 + dt.timedelta(seconds=60))], ["k", "lid", "ts"]
    )
    r = spark.createDataFrame([("u", 9, T0 + dt.timedelta(seconds=3))], ["k", "rid", "ts2"])
    s = Stream(l, key_col="k", ts_col="ts")
    other = Stream(r, key_col="k", ts_col="ts2")
    out = s.join_windowed(
        other, "k", 5.0, select=[F.col("l.lid"), F.col("r.rid")]
    ).to_df().collect()
    assert [(row["lid"], row["rid"]) for row in out] == [(1, 9)]


def test_grouped_stream_sum(spark):
    df = spark.createDataFrame([("a", 1.0), ("a", 2.0), ("b", 5.0)], ["key", "price"])
    out = Stream(df, key_col="key").group_by_key().reduce_sum("price").to_df().collect()
    assert {r["key"]: r["total"] for r in out} == {"a": 3.0, "b": 5.0}


def test_windows_helpers(spark):
    df = spark.createDataFrame(
        [("a", 1.0, T0), ("a", 2.0, T0 + dt.timedelta(minutes=90))], ["k", "v", "ts"]
    )
    t = windows.tumbling_agg(df, "ts", "1 hour", ["k"], F.sum("v").alias("s")).collect()
    assert len(t) == 2
    h = windows.hopping_agg(df, "ts", "1 hour", "30 minutes", ["k"], F.sum("v").alias("s")).collect()
    assert len(h) == 4  # each event in 2 hopping windows
    s = windows.session_agg(df, "ts", "30 minutes", ["k"], F.sum("v").alias("s")).collect()
    assert len(s) == 2  # 90min apart > gap -> two sessions


def test_shingles_short_docs(spark):
    """Docs with < n tokens produce no shingles (and no descending
    sequence explosion)."""
    df = spark.createDataFrame([(1, "a b"), (2, "a b c d")], ["doc_id", "text"])
    out = dedup.shingles(df, "doc_id", "text", 3).collect()
    got = {(r["doc_id"], r["shingle"]) for r in out}
    assert got == {(2, "a b c"), (2, "b c d")}


def test_json_serde_roundtrip(spark):
    good = '{"order_id":"o1","electronic_id":"e1","user_id":"u1","price":9.5,"time":"2024-01-01T00:00:00Z"}'
    df = spark.createDataFrame([(good,), ("not json",)], ["value"])
    parsed = deserialize_json(df, "value", ELECTRONIC_ORDER)
    rows = parsed.collect()
    assert len(rows) == 1 and rows[0]["order_id"] == "o1"
    bad = malformed_records(df, "value", ELECTRONIC_ORDER)
    assert bad.count() == 1


def test_multimodal_decode_stub():
    with pytest.raises(NotImplementedError):
        multimodal.decode_media(b"bytes", "image")
    assert multimodal.fake_decode(b"payload") == multimodal.fake_decode(b"payload")


def test_multimodal_blob_plumbing(spark):
    df = spark.createDataFrame([(1, "hello"), (2, "world")], ["doc_id", "text"])
    blobs = multimodal.to_blob_table(df, "doc_id", "text")
    assert dict(blobs.dtypes)["payload"] == "binary"
    feats = multimodal.extract_features(blobs).collect()
    by_id = {r["media_id"]: r for r in feats}
    assert by_id[1]["byte_len"] == 5
    import hashlib

    assert by_id[1]["content_md5"] == hashlib.md5(b"hello").hexdigest()
    frames = multimodal.frame_sample_plan(blobs, every_n=2).collect()
    assert len(frames) > 2


def test_production_error_policy():
    assert handle_production_error(RuntimeError("RecordTooLargeException: 2MB"))
    assert not handle_production_error(RuntimeError("disk full"))


def test_approx_aggregates_within_tolerance(spark):
    """approx_count_distinct / percentile_approx: sketch-based aggregates
    (engine surface beyond the DuckDB oracle's reach — algorithms differ
    across engines, so verification is tolerance-based here, not
    hash-based)."""
    df = spark.range(0, 20000).select(
        (F.col("id") % 1000).alias("k"), (F.col("id") * 1.0).alias("v")
    )
    row = df.agg(
        F.approx_count_distinct("k").alias("acd"),
        F.percentile_approx("v", 0.5).alias("p50"),
    ).collect()[0]
    assert abs(row["acd"] - 1000) / 1000 < 0.05
    assert abs(row["p50"] - 9999.5) / 9999.5 < 0.02


def test_table_table_join(spark):
    import datetime as dt

    T = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [("a", 1.0, T), ("a", 2.0, T + dt.timedelta(seconds=1)), ("b", 3.0, T)],
        ["key", "value", "ts"],
    )
    right = spark.createDataFrame(
        [("a", "x", T), ("a", "y", T + dt.timedelta(seconds=5)), ("c", "z", T)],
        ["key", "name", "ts"],
    )
    from confluent_kafka_streams_examples_spark.operators.table import Table

    lt = Table.from_stream(left, "key", "ts")
    rt = Table.from_stream(right, "key", "ts")
    out = lt.join(rt).to_df().collect()
    assert [(r["key"], r["value"], r["r_name"]) for r in out] == [("a", 2.0, "y")]


def test_uuid_and_now_surface(spark):
    """§2.8 nondeterministic functions (reference UUID.randomUUID at
    JoinsExample.scala:120,125; Instant.now at :127,270): engine exposes
    them via uuid()/current_timestamp — format-checked, never in
    oracle-compared queries."""
    row = spark.range(1).select(
        F.expr("uuid()").alias("u"), F.current_timestamp().alias("now")
    ).collect()[0]
    assert len(row["u"]) == 36 and row["u"].count("-") == 4
    assert row["now"] is not None


def test_bm25_rank_hand_computed(spark):
    """BM25 against a hand-computed 3-doc example (k1=1.2, b=0.75).

    corpus: d0="cat dog" d1="cat cat fish" d2="bird bird bird bird"
    query: [cat]  ->  N=3, df(cat)=2, idf=ln(1+(3-2+0.5)/(2+0.5))=ln(1.6)
    avgdl=(2+3+4)/3=3
    d0: tf=1, dl=2 -> 1*2.2/(1+1.2*(0.25+0.75*2/3)) = 2.2/1.9
    d1: tf=2, dl=3 -> 2*2.2/(2+1.2*(0.25+0.75*1)) = 4.4/3.2
    """
    import math

    from confluent_kafka_streams_examples_spark.operators.text import bm25_rank

    docs = spark.createDataFrame(
        [(0, "cat dog"), (1, "cat cat fish"), (2, "bird bird bird bird")],
        "doc_id bigint, text string",
    )
    rows = {r.doc_id: r.score_micro for r in bm25_rank(docs, ["cat"]).collect()}
    idf = math.log(1.0 + (3 - 2 + 0.5) / (2 + 0.5))
    exp0 = math.floor(idf * (1 * 2.2 / (1 + 1.2 * (0.25 + 0.75 * (2 / 3.0)))) * 1e6 + 0.5)
    exp1 = math.floor(idf * (2 * 2.2 / (2 + 1.2 * (0.25 + 0.75 * (3 / 3.0)))) * 1e6 + 0.5)
    assert rows == {0: exp0, 1: exp1}  # d2 matches nothing -> absent
    # higher raw tf with near-avg length must outrank the short doc
    assert rows[1] > rows[0]


def test_bm25_topk_plan_is_take_ordered(spark):
    """Top-k must be TakeOrderedAndProject (per-partition heads merged
    on the driver), not a global Sort; the idf/stats joins must be
    broadcast."""
    from confluent_kafka_streams_examples_spark.operators.text import bm25_rank

    docs = spark.createDataFrame(
        [(i, "cat dog fish") for i in range(50)], "doc_id bigint, text string"
    )
    plan = bm25_rank(docs, ["cat", "dog"])._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan


def test_epoch_us_ntz_and_ltz_agree(spark, tmp_path):
    """Regression: driver testdata has shipped `ts` as TIMESTAMP(MICROS,
    NTZ) — unix_micros() rejects NTZ outright, and the NTZ->LTZ
    normalization must be exact (same microseconds DuckDB's epoch_us
    sees) under the UTC session timezone load_table pins."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from confluent_kafka_streams_examples_spark.functions.scalar import epoch_us
    from confluent_kafka_streams_examples_spark.session import load_table

    micros = [1_700_000_000_000_000, 1_700_000_123_456_789]
    d = str(tmp_path / "sfx")
    os.makedirs(d)
    # events.parquet with an NTZ (no-timezone) microsecond ts column
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1, 2], pa.int64()),
                "ts": pa.array(micros, pa.timestamp("us")),
            }
        ),
        os.path.join(d, "events.parquet"),
    )
    df = load_table(spark, "events", d)
    assert df.schema["ts"].dataType.typeName() == "timestamp"
    got = {r["event_id"]: r["us"] for r in df.select("event_id", epoch_us("ts").alias("us")).collect()}
    assert got == {1: micros[0], 2: micros[1]}


def test_chunk_documents_boundaries(spark):
    """chunk_documents edges: empty text yields one empty chunk; a doc
    shorter than one stride yields exactly chunk 0; a trailing chunk no
    longer than the overlap is dropped (fully covered by the previous
    chunk); chunk token counts and hashes are exact."""
    import hashlib

    from confluent_kafka_streams_examples_spark.operators.text import chunk_documents

    toks100 = " ".join(f"t{i}" for i in range(100))
    docs = spark.createDataFrame(
        [(0, ""), (1, "a b c"), (2, toks100)],
        "doc_id bigint, text string",
    )
    out = chunk_documents(docs, chunk_size=64, stride=48)
    rows = {(r.doc_id, r.chunk_idx): (r.n_chunk_tokens, r.chunk_hash) for r in out.collect()}
    # doc 0: split("") == [""] -> one 1-token chunk (hash of "")
    assert rows[(0, 0)][0] == 1
    # doc 1: 3 tokens < stride -> only chunk 0
    assert {k for k in rows if k[0] == 1} == {(1, 0)}
    assert rows[(1, 0)] == (3, hashlib.md5(b"a b c").hexdigest())
    # doc 2: starts 0 and 48 emit; start 96 leaves a 4-token tail
    # (<= 16-token overlap) -> dropped
    assert {k for k in rows if k[0] == 2} == {(2, 0), (2, 1)}
    assert rows[(2, 0)][0] == 64 and rows[(2, 1)][0] == 52
    chunk1 = " ".join(f"t{i}" for i in range(48, 100))
    assert rows[(2, 1)][1] == hashlib.md5(chunk1.encode()).hexdigest()


def test_keyless_band_pairs_cell_override(spark):
    """A cell size WIDER than the window may only widen join buckets,
    never change the result (each pair still meets in exactly one
    bucket)."""
    from confluent_kafka_streams_examples_spark.operators.skew import (
        keyless_band_pairs,
    )

    e = spark.createDataFrame(
        [(1, 100), (2, 150), (3, 240), (4, 1000)], "id bigint, t bigint"
    )
    def pairs(**kw):
        return sorted(
            (r.a_id, r.b_id)
            for r in keyless_band_pairs(e, "id", "t", window=100, **kw).collect()
        )

    base = pairs()
    assert base == [(1, 2), (2, 1), (2, 3), (3, 2)]  # |dt|<=100 pairs, both directions
    assert pairs(cell=250) == base
    assert pairs(cell=250, salt_buckets=3) == base

    # cell < window would let pairs land 2+ cells apart and silently
    # vanish from the 3-cell replication — must raise, never drop rows
    import pytest

    with pytest.raises(ValueError, match="cell .* must be >= window"):
        pairs(cell=50)


def test_media_header_parsing_jvm_side(spark):
    """Real container-format metadata from binary columns with zero
    media libs and zero Python: PNG IHDR width/height (big-endian) and
    WAV sample rate (little-endian), NULL on non-matching payloads —
    and the plan stays whole-stage codegen (no Python eval)."""
    import struct

    from confluent_kafka_streams_examples_spark.operators.multimodal import (
        parse_media_headers,
        to_blob_table,
    )
    from confluent_kafka_streams_examples_spark.plans.describe import explain_str

    def png(w, h):
        sig = b"\x89PNG\r\n\x1a\n"
        ihdr = struct.pack(">I", 13) + b"IHDR" + struct.pack(">II", w, h) + b"\x08\x06\x00\x00\x00"
        return sig + ihdr

    def wav(rate):
        fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
        return (
            b"RIFF" + struct.pack("<I", 36) + b"WAVE"
            + b"fmt " + struct.pack("<I", 16) + fmt
        )

    def seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    def jpeg(w, h, sof=0xC0, extra_segs=0):
        # SOI + JFIF APP0 + optional filler segments + SOF
        out = b"\xff\xd8" + seg(0xE0, b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00")
        for i in range(extra_segs):
            out += seg(0xDB, bytes(64))  # DQT-sized filler
        out += seg(sof, b"\x08" + struct.pack(">HH", h, w) + b"\x03")
        return out

    rows = [
        (1, png(640, 480)),
        (2, png(16384, 2)),
        (3, wav(44100)),
        (4, wav(16000)),
        (5, b"not a media file at all"),
        (6, jpeg(1920, 1080)),                      # baseline, JFIF then SOF0
        (7, jpeg(320, 200, sof=0xC2, extra_segs=5)),  # progressive, deep chain
        (8, jpeg(10, 10, extra_segs=40)),           # > hop bound -> NULL
        (9, b"\xff\xd8\xff\xe0\x00"),               # truncated chain -> NULL
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    out = parse_media_headers(to_blob_table(df, "media_id", "payload"))
    got = {
        r.media_id: (
            r.png_width, r.png_height, r.jpeg_width, r.jpeg_height,
            r.wav_sample_rate,
        )
        for r in out.collect()
    }
    assert got[1] == (640, 480, None, None, None)
    assert got[2] == (16384, 2, None, None, None)
    assert got[3] == (None, None, None, None, 44100)
    assert got[4] == (None, None, None, None, 16000)
    assert got[5] == (None, None, None, None, None)
    assert got[6] == (None, None, 1920, 1080, None)
    assert got[7] == (None, None, 320, 200, None)
    assert got[8] == (None, None, None, None, None)
    assert got[9] == (None, None, None, None, None)
    p = explain_str(out)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_chunk_documents_coverage_property(spark):
    """Property over random documents (hypothesis-style, seeded batch):
    every token position is covered by >= 1 chunk, chunk 0 always
    exists, consecutive chunks overlap by exactly chunk_size - stride
    token positions (except a shorter final chunk), and no emitted
    chunk is fully contained in its predecessor."""
    import random

    from confluent_kafka_streams_examples_spark.operators.text import chunk_documents

    rng = random.Random(7)
    rows = [
        (i, " ".join(f"t{rng.randrange(50)}" for _ in range(rng.randrange(1, 400))))
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    chunk_size, stride = 64, 48
    out = chunk_documents(df, chunk_size=chunk_size, stride=stride).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append((r.chunk_idx, r.n_chunk_tokens))
    for doc_id, text in rows:
        n = len(text.split(" "))
        chunks = sorted(by_doc[doc_id])
        assert chunks[0][0] == 0  # chunk 0 always exists
        covered = set()
        for idx, ct in chunks:
            start = idx * stride
            assert ct == min(chunk_size, n - start)  # counts exact
            assert ct > (chunk_size - stride) or idx == 0  # no redundant tail
            covered |= set(range(start, start + ct))
        assert covered == set(range(n)), (doc_id, n, chunks)


def test_release_caches_drains_query_persists(spark, sf_dir):
    """Persisting queries (LSH signatures, IVF assignments, ...) must not
    leak storage blocks into a long-lived session: release_caches() after
    consuming a result drains Spark's CacheManager entirely — the
    registry-level teardown contract bench.py (and any external harness)
    relies on."""
    from confluent_kafka_streams_examples_spark.queries import QUERIES
    from confluent_kafka_streams_examples_spark.session import release_caches

    cm = spark._jsparkSession.sharedState().cacheManager()
    release_caches(spark)  # start clean regardless of earlier tests
    assert cm.isEmpty()
    # dedup_embedding_cosine persists its normalized-vector base before
    # the bucket self-join (dedup_minhash_lsh no longer persists: its
    # banded signatures come from the STORED signature table, r11)
    QUERIES["dedup_embedding_cosine"](spark, sf_dir).collect()
    assert not cm.isEmpty()  # the query really does pin blocks
    release_caches(spark)
    assert cm.isEmpty()


@pytest.mark.parametrize(
    "name",
    [
        "dedup_containment",
        "semdedup_prune",
        "semdedup_prune_scaled",
        "lm_unigram_score",
        "bpe_merge_rounds",
        "dedup_lsh_recall_eval",
    ],
)
def test_queries_without_persist_leave_no_cache(spark, sf_dir, name):
    """These queries reuse a shared subtree through Spark's exchange
    reuse, not a cache: run back to back with no release_caches, they
    leave the CacheManager empty."""
    from confluent_kafka_streams_examples_spark.queries import QUERIES
    from confluent_kafka_streams_examples_spark.session import release_caches

    cm = spark._jsparkSession.sharedState().cacheManager()
    release_caches(spark)  # start clean regardless of earlier tests
    for _ in range(2):
        df = QUERIES[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
    assert cm.isEmpty(), name


def test_pack_greedy_shards_knob(spark):
    """The packing shard count is an operator argument: the window
    partitioning (md5 bucket) follows shards= directly, and the default
    scales with the session's parallelism instead of a hardcoded 8."""
    from pyspark.sql import functions as F

    from confluent_kafka_streams_examples_spark.operators.text import (
        pack_greedy,
        pack_summary,
    )
    from confluent_kafka_streams_examples_spark.plans.describe import explain_str

    df = spark.createDataFrame(
        [(i, 100 + i % 7) for i in range(500)], ["doc_id", "n_tok"]
    )
    packed = pack_greedy(df, shards=16)
    p = explain_str(packed)
    assert "% 16)" in p, f"window bucket must follow shards=16\n{p}"
    buckets = [r.bucket for r in packed.select("bucket").distinct().collect()]
    assert 1 < len(buckets) <= 16 and max(buckets) < 16
    # default: session parallelism, not a constant
    dflt = pack_greedy(df)
    n = spark.sparkContext.defaultParallelism
    assert f"% {n})" in explain_str(dflt)
    # budget semantics survive the refactor: no sequence starts past its
    # cumulative offset bucket, and every doc appears exactly once
    summ = pack_summary(packed).collect()
    assert sum(r.n_docs for r in summ) == 500
    assert all(r.n_tokens >= 1 for r in summ)


def test_artifact_build_unpersists_its_pins(spark, sf_dir):
    """Building the shared-count artifact pins the posting-list frames
    for multi-reference reuse during the write; once the parquet is
    published the pins must be released (the artifact replaces the
    in-memory cache)."""
    import glob
    import os
    import shutil

    import confluent_kafka_streams_examples_spark.queries  # noqa: F401  (registry first: avoids circular import)
    from confluent_kafka_streams_examples_spark.queries_llm import (
        shared_counts_table,
    )
    from confluent_kafka_streams_examples_spark.session import release_caches

    from confluent_kafka_streams_examples_spark.artifacts import artifact_root

    # remove under the per-uid root (not bare /tmp) so the build is
    # actually forced — a pre-existing artifact made this vacuous
    for p in glob.glob(os.path.join(artifact_root(), "ckse_art_*")):
        shutil.rmtree(p, ignore_errors=True)
    release_caches(spark)
    cm = spark._jsparkSession.sharedState().cacheManager()
    assert cm.isEmpty()
    shared_counts_table(spark, sf_dir).count()  # miss -> build -> read
    assert cm.isEmpty(), "build-scoped persists must not outlive the build"


def test_pack_greedy_rejects_output_column_collision(spark):
    """pack_greedy writes (bucket, seq_id); an input that already has
    either column must raise rather than be silently overwritten."""
    from confluent_kafka_streams_examples_spark.operators.text import (
        pack_greedy,
    )

    df = spark.createDataFrame(
        [(1, 100, 7)], ["doc_id", "n_tok", "bucket"]
    )
    with pytest.raises(ValueError, match="bucket"):
        pack_greedy(df)
    df2 = spark.createDataFrame(
        [(1, 100, 7)], ["doc_id", "n_tok", "seq_id"]
    )
    with pytest.raises(ValueError, match="seq_id"):
        pack_greedy(df2)


def test_stats_sized_partitions_bounds_and_placeholder(spark, sf_dir):
    """The shuffle-hash build sizing must (a) scale partition count
    with REAL plan-stats bytes, (b) respect floor and ceiling clamps,
    and (c) treat Catalyst's no-stats placeholder (~Long.MaxValue for
    any createDataFrame input) as UNKNOWN rather than slamming the
    ceiling — the regression was a 4-row in-memory input scheduling
    65536 no-op tasks.  Pure plan analysis: no Spark job runs."""
    from confluent_kafka_streams_examples_spark.operators.skew import (
        stats_sized_partitions,
    )

    floor = spark.sparkContext.defaultParallelism

    # (c) in-memory input: stats are the placeholder -> floor, never
    # the ceiling
    tiny = spark.createDataFrame([(1, 100)], "id bigint, t bigint")
    assert stats_sized_partitions(tiny) == floor

    # (a)+(b) parquet input has real, small stats -> floor at default
    # budget; with a 1-byte budget the derived count crosses the
    # ceiling and clamps there
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    assert stats_sized_partitions(events) == floor
    assert stats_sized_partitions(events, budget=1, ceiling=64) == 64
    # and sits strictly between the clamps when the budget divides the
    # real stats into more tasks than cores but fewer than the ceiling
    stats = int(
        str(
            events._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    )
    budget = max(1, stats // (4 * floor))
    mid = stats_sized_partitions(events, budget=budget)
    assert floor < mid <= 4 * floor + 1


def test_semdedup_assignment_ties_and_hof_parity(spark):
    """The vectorized (mapInPandas numpy) centroid assignment must
    reproduce the JVM zip_with/aggregate fold it replaced, including
    the two sharp edges: 6-dp rounding BEFORE the argmin, and ties
    resolving to the smallest cid.  Vectors are constructed so that
    (a) id 2 is EXACTLY equidistant from both centroids (tie -> cid 0)
    and (b) id 3's raw distances differ only at the 8th decimal, so
    rounding to 6 dp makes them tie too (tie -> cid 0); an
    unrounded argmin would pick cid 1 for it."""
    from confluent_kafka_streams_examples_spark.operators.similarity import (
        semdedup,
    )

    rows = [
        (0, [0.0, 0.0]),          # centroid 0
        (1, [2.0, 0.0]),          # centroid 1
        (2, [1.0, 5.0]),          # exact tie: d2 = 26 to both
        (3, [1.00000001, 5.0]),   # ties only after round(_, 6)
        (4, [1.9, 0.0]),          # strictly closer to centroid 1
    ]
    df = spark.createDataFrame(rows, ["vec_id", "v"])
    out = semdedup(df, n_clusters=2, threshold=2.0).collect()
    by_cid = {r["cid"]: r for r in out}
    # ids 0,2,3 -> cid 0; ids 1,4 -> cid 1
    assert by_cid[0]["n_members"] == 3
    assert by_cid[1]["n_members"] == 2


def test_semdedup_centroid_collect_is_bounded(spark):
    """The centroid collect takes at most n_clusters + 1 rows and raises
    past n_clusters: a duplicated init id would otherwise build a
    centroid matrix with a repeated cid and no error."""
    from confluent_kafka_streams_examples_spark.operators.similarity import (
        semdedup,
    )

    rows = [(0, [0.0, 0.0]), (0, [1.0, 0.0]), (1, [2.0, 0.0]), (2, [1.0, 5.0])]
    df = spark.createDataFrame(rows, ["vec_id", "v"])
    with pytest.raises(ValueError, match="n_clusters=2"):
        semdedup(df, n_clusters=2, threshold=2.0)


def test_fan_out_small_scan_metadata_guard(spark, tmp_path):
    """fan_out_small_scan (session.py): repartitions the narrow frame
    when file metadata says the scan cannot feed the cores, and is a
    structural NO-OP (same plan object semantics — no added exchange)
    when the estimated partition count is already core-scale."""
    from pyspark.sql import functions as F

    from confluent_kafka_streams_examples_spark.session import (
        fan_out_small_scan,
    )

    src = str(tmp_path / "one")
    spark.range(10_000).coalesce(1).write.parquet(src)
    df = spark.read.parquet(src)
    narrow = df.select(F.col("id").cast("string").alias("v"))
    fanned = fan_out_small_scan(df, narrow)
    cores = spark.sparkContext.defaultParallelism
    n_parts = fanned.select(
        F.spark_partition_id().alias("p")
    ).distinct().count()
    assert n_parts == cores, (n_parts, cores)
    # many files -> estimate >= cores -> untouched frame (no shuffle)
    src_many = str(tmp_path / "many")
    spark.range(100_000).repartition(3 * cores).write.parquet(src_many)
    dfm = spark.read.parquet(src_many)
    narrow_m = dfm.select(F.col("id").cast("string").alias("v"))
    assert fan_out_small_scan(dfm, narrow_m) is narrow_m
    # a non-file source (createDataFrame) must pass through untouched
    mem = spark.createDataFrame([(1,)], "x int")
    assert fan_out_small_scan(mem, mem) is mem


def test_parse_byte_string_suffixes():
    """_parse_byte_string (session.py): Spark byte-string conf values carry
    JavaUtils unit suffixes; '128m' must mean 128 MiB, not 128 bytes (the
    old digit-strip parse inflated est_partitions ~10^6x and disabled the
    fan-out guard whenever the conf was set with a suffix)."""
    from confluent_kafka_streams_examples_spark.session import (
        _parse_byte_string,
    )

    assert _parse_byte_string("134217728", default=1) == 134217728
    assert _parse_byte_string("128m", default=1) == 128 * 1024 ** 2
    assert _parse_byte_string("128MB", default=1) == 128 * 1024 ** 2
    assert _parse_byte_string("1g", default=1) == 1024 ** 3
    assert _parse_byte_string("64k", default=1) == 64 * 1024
    assert _parse_byte_string(" 256m ", default=1) == 256 * 1024 ** 2
    assert _parse_byte_string("12b", default=1) == 12
    # malformed values fall back to the default, never to tiny bytes
    assert _parse_byte_string("abc", default=42) == 42
    assert _parse_byte_string("", default=42) == 42
    assert _parse_byte_string("128x", default=42) == 42
