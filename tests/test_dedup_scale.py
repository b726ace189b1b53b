"""Scale-guard behaviors of the dedup operators: the hot-shingle DF
cap, the conditional _spread repartition, and 64-bit banded SimHash."""

from __future__ import annotations

from pyspark.sql import functions as F

from confluent_kafka_streams_examples_spark.operators import dedup


def _docs(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_ngram_hot_shingle_cap_prevents_quadratic_pairs(spark):
    # 30 docs that share ONLY one ubiquitous spam shingle; their real
    # content is unique. Without the cap the spam shingle joins every
    # doc to every other doc (C(30,2) candidate pairs).
    spam = "click here now"
    rows = [
        (i, f"{spam} unique{i}a unique{i}b unique{i}c unique{i}d")
        for i in range(30)
    ]
    df = _docs(spark, rows)
    uncapped = dedup.ngram_jaccard_pairs(
        df, "doc_id", "text", n=3, threshold=0.01, max_df=None
    )
    capped = dedup.ngram_jaccard_pairs(
        df, "doc_id", "text", n=3, threshold=0.01, max_df=10
    )
    assert uncapped.count() == 30 * 29 // 2  # quadratic blow-up
    assert capped.count() == 0  # spam shingle dropped -> no shared signal

    # real near-dups still found under the cap
    rows2 = rows + [(100, "a b c d e f g h"), (101, "a b c d e f g x")]
    df2 = _docs(spark, rows2)
    capped2 = dedup.ngram_jaccard_pairs(
        df2, "doc_id", "text", n=3, threshold=0.4, max_df=10
    )
    got = {(r.id_a, r.id_b) for r in capped2.collect()}
    assert (100, 101) in got


def test_spread_is_noop_on_well_partitioned_input(spark, tmp_path):
    target = spark.sparkContext.defaultParallelism
    # production shape: a file-backed scan with >= target files must be
    # returned AS-IS (no extra Exchange, and no .rdd planning probe)
    wide_path = str(tmp_path / "wide")
    spark.range(1000).repartition(target).write.parquet(wide_path)
    wide = spark.read.parquet(wide_path)
    assert len(wide.inputFiles()) >= target  # precondition
    assert dedup._spread(wide) is wide
    # a single-file scan is under-partitioned -> spread to target
    narrow_path = str(tmp_path / "narrow")
    spark.range(1000).coalesce(1).write.parquet(narrow_path)
    narrow = spark.read.parquet(narrow_path)
    assert dedup._spread(narrow).rdd.getNumPartitions() == target
    # file-less plans (test fixtures, memory sources) take the safe
    # default: spread
    mem = spark.range(1000).coalesce(1)
    assert dedup._spread(mem).rdd.getNumPartitions() == target


def test_spread_skips_streaming_and_already_shuffled_inputs(spark, tmp_path):
    """_spread hygiene: a streaming input must pass through untouched (a
    repartition would re-run as a per-microbatch shuffle), and a plan
    whose output already went through a shuffle-producing operator
    (aggregate / repartition-by-expression) must not pay a second
    full exchange of its rows."""
    src = str(tmp_path / "stream_src")
    spark.range(100).select(
        F.col("id").alias("doc_id"), F.lit("a b c d").alias("text")
    ).write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    assert dedup._spread(stream) is stream

    agged = (
        spark.range(1000)
        .groupBy((F.col("id") % 7).alias("doc_id"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert dedup._spread(agged) is agged

    target = spark.sparkContext.defaultParallelism
    # default-count repartition(key) => shuffle.partitions: skip
    keyed = spark.range(1000).repartition(F.col("id"))
    assert dedup._spread(keyed) is keyed
    # explicit count >= target: skip
    wide_keyed = spark.range(1000).repartition(target * 2, F.col("id"))
    assert dedup._spread(wide_keyed) is wide_keyed
    # explicit UNDER-parallel count: exactly the shape the spread
    # exists to fix — must NOT skip
    narrow_keyed = spark.range(1000).repartition(2, F.col("id"))
    spread = dedup._spread(narrow_keyed)
    assert spread is not narrow_keyed
    assert spread.rdd.getNumPartitions() == target


def test_simhash64_halves_fit_32_bits(spark, sf_dir):
    from confluent_kafka_streams_examples_spark.session import load_table

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text").limit(50)
    fp = dedup.simhash64(docs, "doc_id", "text")
    bad = fp.filter(
        (F.col("sim_hi") < 0)
        | (F.col("sim_hi") > 0xFFFFFFFF)
        | (F.col("sim_lo") < 0)
        | (F.col("sim_lo") > 0xFFFFFFFF)
    )
    assert bad.count() == 0


def test_simhash64_candidates_find_identical_docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, base),
        (2, base),  # identical -> hamming 0
        (3, "completely different content about spark shuffles and joins"),
        (4, "another unrelated document mentioning gradient descent steps"),
    ]
    df = _docs(spark, rows)
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in dedup.simhash64_candidates(df, "doc_id", "text").collect()
    }
    assert got.get((1, 2)) == 0
    for (a, b), h in got.items():
        assert h <= 3


def test_simhash64_verifies_before_deduplicating(spark):
    """The candidate stream must reach the popcount verify RAW and be
    deduplicated only afterwards: the pre-verify pair distinct — an
    aggregate keyed on (id_a, id_b) alone — was the registry's only
    spilling node at the 100x probe (3.3 GiB of sort-fallback hashing
    tens of millions of 16-byte pairs).  The only pair-keyed aggregate
    allowed in the plan is the post-verify one, which also carries the
    hamming column."""
    import re

    base = "the quick brown fox jumps over the lazy dog again and again"
    df = _docs(spark, [(1, base), (2, base), (3, "unrelated spark text")])
    plan = (
        dedup.simhash64_candidates(df, "doc_id", "text")
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    pair_aggs = [
        m
        for m in re.findall(r"Aggregate \[([^\]]*)\]", plan)
        if "id_a" in m and "id_b" in m
    ]
    assert pair_aggs, plan
    for keys in pair_aggs:
        assert "hamming" in keys, (
            f"pre-verify pair distinct is back (aggregate keyed on "
            f"[{keys}] without hamming)\n{plan}"
        )


def test_minhash_estimate_identical_docs(spark):
    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(1, text), (2, text), (3, "totally different words here about unrelated topic matter")]
    df = _docs(spark, rows)
    got = {
        (r.id_a, r.id_b): (r.matching, r.est_jaccard)
        for r in dedup.minhash_estimate_pairs(
            df, "doc_id", "text", min_matching=8
        ).collect()
    }
    assert got == {(1, 2): (16, 1.0)}


def test_minhash_estimate_takes_id_column_needing_quotes(spark):
    """The caller's id column is referenced as a column, not spliced
    into a SQL string: a name with a space must work."""
    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = spark.createDataFrame(
        [(1, text), (2, text), (3, "totally different words here")],
        ["doc id", "text"],
    )
    got = [
        tuple(r)
        for r in dedup.minhash_estimate_pairs(
            df, "doc id", "text", min_matching=8
        ).collect()
    ]
    assert got == [(1, 2, 16, 1.0)]


def test_band_signatures_carry_non_signature_columns(spark):
    """band_signatures carries every column but mh0..mh{K-1} through
    (the streaming operators band a (doc_id, ts, mh*) frame), and the
    band keys do not depend on what else the frame carries."""
    import datetime as dt
    from collections import Counter

    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta"),
        (2, "one two three four five six seven eight"),
    ]
    sig = dedup.minhash_signatures(_docs(spark, rows), "doc_id", "text", 16, 3)
    with_ts = sig.withColumn("ts", F.lit(dt.datetime(2024, 1, 1))).select(
        "doc_id", "ts", *[f"mh{j}" for j in range(16)]
    )
    banded = dedup.band_signatures(with_ts, 16, 4)
    assert banded.columns == ["doc_id", "ts", "band_idx", "band_sig"]
    got = banded.collect()
    assert Counter(r.doc_id for r in got) == {1: 4, 2: 4}
    id_only = dedup.band_signatures(sig, 16, 4)
    assert sorted((r.doc_id, r.band_idx, r.band_sig) for r in got) == sorted(
        tuple(r) for r in id_only.collect()
    )


def test_incremental_pairs_never_pair_old_with_old(spark):
    text = "one two three four five six seven eight nine ten eleven twelve"
    corpus = _docs(spark, [(1, text), (2, text), (3, "other corpus content entirely distinct")])
    new = _docs(spark, [(10, text), (11, text)])
    corpus_sig = dedup.minhash_signatures(corpus, "doc_id", "text")
    got = {
        (r.id_a, r.id_b): r.match_src
        for r in dedup.incremental_minhash_pairs(
            new, corpus_sig, "doc_id", "text"
        ).collect()
    }
    # new docs match the stored corpus and each other; the (1,2)
    # old-old duplicate is NEVER generated
    assert got == {
        (10, 1): "corpus",
        (10, 2): "corpus",
        (11, 1): "corpus",
        (11, 2): "corpus",
        (10, 11): "batch",
    }


def test_winnowing_guarantee_shared_passage_shares_fingerprint(spark):
    """The winnowing guarantee (SIGMOD 2003): any copied passage of at
    least window + n - 1 tokens must yield >= 1 shared fingerprint
    between the two documents — while the selected set stays well under
    the full shingle count."""
    passage = "alpha beta gamma delta epsilon zeta"  # 6 tokens = 4+3-1
    rows = [
        (1, f"one two three {passage} four five six"),
        (2, f"seven eight {passage} nine ten eleven twelve"),
        (3, "totally unrelated words with no overlap at all here"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    fp = dedup.winnow_fingerprints(df, "doc_id", "text", n=3, window=4)
    by_doc = {}
    for r in fp.collect():
        by_doc.setdefault(r.doc_id, set()).add(r.fp)
    assert by_doc[1] & by_doc[2], "copied passage must share a fingerprint"
    assert not (by_doc[1] & by_doc[3]) and not (by_doc[2] & by_doc[3])
    # sampling: fingerprints per doc well under the shingle count
    n_shingles_1 = len(rows[0][1].split()) - 2
    assert len(by_doc[1]) < n_shingles_1


def test_duplicate_spans_merges_overlapping_grams_and_ignores_unique_text(spark):
    """A 8-token passage shared by two docs must come back as ONE
    maximal span per doc (its four 5-gram hits merge), positioned
    1-based inside each doc; intra-doc repetition alone (one document
    repeating itself) must NOT create a span."""
    passage = "p1 p2 p3 p4 p5 p6 p7 p8"  # 8 tokens -> 4 positional 5-grams
    rows = [
        (1, f"u1a u1b {passage} u1c"),              # passage at tokens 3..10
        (2, f"{passage} u2a u2b u2c"),              # passage at tokens 1..8
        (3, "x1 x2 x3 x4 x5 x1 x2 x3 x4 x5"),       # repeats only itself
        (4, "short doc"),                            # < n tokens: no grams
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r.doc_id: (r.span_start, r.span_end, r.span_tokens)
        for r in dedup.duplicate_spans(df, "doc_id", "text", n=5).collect()
    }
    assert got == {1: (3, 10, 8), 2: (1, 8, 8)}


def test_duplicate_spans_does_not_bridge_distant_hits(spark):
    """Two shared 5-grams separated by more than n unique tokens must
    stay two separate spans, not merge across the gap."""
    a = "s1 s2 s3 s4 s5"
    b = "t1 t2 t3 t4 t5"
    gap = "g1 g2 g3 g4 g5 g6 g7"  # 7 > n
    rows = [
        (1, f"{a} {gap} {b}"),
        (2, f"{a} other words here {b} trailing bits pad"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    spans = {
        (r.doc_id, r.span_start, r.span_end)
        for r in dedup.duplicate_spans(df, "doc_id", "text", n=5).collect()
    }
    assert (1, 1, 5) in spans and (1, 13, 17) in spans
    assert (2, 1, 5) in spans and (2, 9, 13) in spans
    assert len([s for s in spans if s[0] == 1]) == 2


def test_span_removal_full_and_partial_and_untouched_docs(spark):
    """remove_duplicate_spans keeps every input row: a fully-duplicated
    doc cleans to the EMPTY body (md5('') — the COALESCE contract the
    oracle mirrors), a partial overlap loses exactly the span tokens,
    and a unique doc passes through with its original body hash."""
    import hashlib

    shared = "c1 c2 c3 c4 c5 c6"
    rows = [
        (1, shared),                      # the whole doc is the span
        (2, f"u1 u2 {shared} u3 u4"),     # span embedded in unique text
        (3, "w1 w2 w3 w4 w5 w6 w7 w8"),   # untouched
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r.doc_id: (r.n_tokens, r.n_removed, r.clean_hash)
        for r in dedup.remove_duplicate_spans(df, "doc_id", "text", n=5).collect()
    }
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    assert got[1] == (6, 6, md5(""))
    assert got[2] == (10, 6, md5("u1 u2 u3 u4"))
    assert got[3] == (8, 0, md5(rows[2][1]))


def test_duplicate_spans_matches_python_reference_on_random_corpus(spark):
    """Property over random documents (seeded batch): the Spark span set
    equals a brute-force Python reference — positional 5-grams, 'in >= 2
    distinct docs' duplicate rule, gap-<=-n island merge — on a small
    token alphabet dense enough to force real cross-document collisions,
    intra-doc repetition, and boundary spans."""
    import random

    rng = random.Random(13)
    n = 5
    rows = [
        (i, " ".join(f"w{rng.randrange(12)}" for _ in range(rng.randrange(1, 40))))
        for i in range(50)
    ]

    # pure-python reference
    gram_docs: dict[tuple, set] = {}
    positions = {}
    for doc_id, txt in rows:
        tk = txt.split(" ")
        ps = [(p + 1, tuple(tk[p : p + n])) for p in range(len(tk) - n + 1)]
        positions[doc_id] = ps
        for _, g in ps:
            gram_docs.setdefault(g, set()).add(doc_id)
    expected = set()
    for doc_id, _ in rows:
        hits = sorted(p for p, g in positions[doc_id] if len(gram_docs[g]) >= 2)
        run = []
        for p in hits:
            if run and p - run[-1] <= n:
                run.append(p)
            else:
                if run:
                    expected.add((doc_id, run[0], run[-1] + n - 1))
                run = [p]
        if run:
            expected.add((doc_id, run[0], run[-1] + n - 1))

    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r.doc_id, r.span_start, r.span_end)
        for r in dedup.duplicate_spans(df, "doc_id", "text", n=n).collect()
    }
    assert expected, "fixture must generate duplicated spans"
    assert got == expected


def test_duplicate_spans_min_docs_threshold_path(spark):
    """min_docs > 2 takes the count-distinct fallback path: a gram in
    exactly 2 docs no longer qualifies, one in 3 does."""
    tri = "a1 a2 a3 a4 a5"
    duo = "b1 b2 b3 b4 b5"
    rows = [
        (1, f"{tri} x1 {duo}"),
        (2, f"{tri} y1 y2 y3 y4 y5 y6"),
        (3, f"{tri} z1 {duo} z2"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r.doc_id, r.span_start, r.span_end)
        for r in dedup.duplicate_spans(df, "doc_id", "text", n=5, min_docs=3).collect()
    }
    assert got == {(1, 1, 5), (2, 1, 5), (3, 1, 5)}


def test_duplicate_spans_hot_boilerplate_gram(spark):
    """Thundering-herd shape for the window path: a boilerplate sentence
    present in EVERY document puts all its gram occurrences in one
    window group (the min/max streaming-aggregate hot key).  Every doc
    must come back with exactly the boilerplate span, and the unique
    surroundings must stay out of it."""
    boiler = "all rights reserved by the owner"  # 6 tokens -> grams at 3,4
    rows = [(i, f"u{i}a u{i}b {boiler} u{i}c u{i}d") for i in range(200)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r.doc_id: (r.span_start, r.span_end)
        for r in dedup.duplicate_spans(df, "doc_id", "text", n=5).collect()
    }
    assert got == {i: (3, 8) for i in range(200)}


def test_overlap_scorers_match_bruteforce_on_random_corpora(spark):
    """Property pin for the posting-list rewrite: on seeded random
    corpora — including hot shingles that trip the max_df cap and docs
    shorter than the shingle width — ngram_jaccard_pairs and
    containment_pairs must reproduce a brute-force Python computation
    of the same set semantics (distinct shingles, cap on distinct doc
    frequency, sizes over the KEPT space) exactly."""
    import itertools
    import random

    def brute(corpus, n, max_df, jac_t, cont_t, min_sh):
        sets = {
            i: {
                " ".join(toks[j:j + n])
                for j in range(len(toks) - n + 1)
            }
            for i, toks in corpus.items()
        }
        df_count = {}
        for s in itertools.chain.from_iterable(sets.values()):
            df_count[s] = df_count.get(s, 0) + 1
        kept = {
            i: {s for s in ss if df_count[s] <= max_df}
            for i, ss in sets.items()
        }
        jac, cont = set(), set()
        for a, b in itertools.combinations(sorted(kept), 2):
            shared = len(kept[a] & kept[b])
            if not shared:
                continue
            na, nb = len(kept[a]), len(kept[b])
            import math

            j = math.floor(shared / (na + nb - shared) * 1e4 + 0.5) / 1e4
            if j >= jac_t:
                jac.add((a, b, j))
            for x, y, nx in ((a, b, na), (b, a, nb)):
                if nx >= min_sh:
                    c = math.floor(shared / nx * 1e4 + 0.5) / 1e4
                    if c >= cont_t:
                        cont.add((x, y, c))
        return jac, cont

    rng = random.Random(20260814)
    for trial, (n_docs, vocab, max_df) in enumerate(
        [(40, 12, 3), (60, 25, 5), (30, 8, 2), (50, 15, 1000)]
    ):
        corpus = {}
        for i in range(n_docs):
            length = rng.choice([1, 2, 3, 5, 8, 13, 21, 34])
            corpus[i] = [f"w{rng.randrange(vocab)}" for _ in range(length)]
        # inject exact + near duplicates
        corpus[n_docs] = list(corpus[0])
        corpus[n_docs + 1] = list(corpus[1][:-1]) if len(corpus[1]) > 1 else ["w0"]
        df = spark.createDataFrame(
            [(i, " ".join(t)) for i, t in corpus.items()], ["doc_id", "text"]
        )
        got_jac = {
            (r.id_a, r.id_b, r.jaccard)
            for r in dedup.ngram_jaccard_pairs(
                df, "doc_id", "text", n=3, threshold=0.3, max_df=max_df
            ).collect()
        }
        got_cont = {
            (r.id_a, r.id_b, r.containment)
            for r in dedup.containment_pairs(
                df, "doc_id", "text", n=3, threshold=0.5,
                max_df=max_df, min_shingles=2,
            ).collect()
        }
        want_jac, want_cont = brute(corpus, 3, max_df, 0.3, 0.5, 2)
        assert got_jac == want_jac, (trial, got_jac ^ want_jac)
        assert got_cont == want_cont, (trial, got_cont ^ want_cont)
