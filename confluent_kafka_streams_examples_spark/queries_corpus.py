"""Corpus-management operators for a training-data pipeline —
deterministic splits and samples, batch sessionization, and train/eval
decontamination.  These complement the dedup/quality/similarity surface
(queries_llm.py, queries_extra.py): after cleaning, a real pipeline
still has to SPLIT the corpus reproducibly, SAMPLE it for ablations,
and scrub eval-set contamination before training.

Determinism contract: all "random" choices are md5-hash buckets of the
stable document id — reproducible across engines, runs, and cluster
sizes (no rand(), no sampleBy seeds that depend on partitioning).
hex->int is ``conv`` on Spark and strpos arithmetic in DuckDB
(queries_llm._hex_to_int_sql); money-ish double sums use the
integer-cent trick so summation order can't flip a rounding tie.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from confluent_kafka_streams_examples_spark.functions.scalar import epoch_us

from confluent_kafka_streams_examples_spark.queries import query
from confluent_kafka_streams_examples_spark.queries_llm import _hex_to_int_sql
from confluent_kafka_streams_examples_spark.session import load_table

# 16-bit md5 prefix of the stringified doc id -> [0, 100) bucket
_BUCKET_SQL = f"{_hex_to_int_sql('md5(CAST(doc_id AS VARCHAR))', 1, 4)} % 100"


def _bucket(col):
    """Spark twin of _BUCKET_SQL: md5(doc_id)[0:4] as int, mod 100."""
    return (
        F.conv(F.substring(F.md5(col.cast("string")), 1, 4), 16, 10).cast("long") % 100
    )


@query(
    "corpus_split_assignment",
    oracle=f"""
    SELECT CASE WHEN {_BUCKET_SQL} < 90 THEN 'train' ELSE 'test' END AS split,
           lang, count(*) AS n_docs
    FROM documents
    GROUP BY 1, 2
    """,
)
def corpus_split_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/10 train/test split by md5 bucket of doc_id,
    summarized per (split, lang).  The assignment is a pure projection
    — no shuffle, no state, no seed: any executor, any cluster size,
    any engine derives the same split for the same id.  (rand()-based
    splits are NOT reproducible across retries/re-partitioning; hash
    splits are the scale-safe idiom.)"""
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "lang")
    split = F.when(_bucket(F.col("doc_id")) < 90, "train").otherwise("test")
    return (
        docs.select(split.alias("split"), "lang")
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@query(
    "corpus_stratified_sample",
    oracle=f"""
    SELECT doc_id, lang, source
    FROM documents
    WHERE {_BUCKET_SQL} < 10
    """,
)
def corpus_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% sample, uniform WITHIN every (lang, source)
    stratum because the hash bucket is independent of both attributes
    — one filtered scan, no per-stratum pass, no sampleBy() seed
    dependence.  At 100 TB this is the only sampling idiom that is (a)
    a single scan, (b) push-down-able, and (c) exactly reproducible for
    an ablation rerun."""
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "lang", "source")
    return docs.filter(_bucket(F.col("doc_id")) < 10)


@query(
    "user_sessions",
    oracle="""
    WITH g AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                    OVER (PARTITION BY user_id ORDER BY ts, event_id)
                  > 1800000000 OR lag(ts)
                    OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_sess
      FROM events),
    s AS (
      SELECT user_id, ts, value,
             CAST(sum(new_sess) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS session_no
      FROM g)
    SELECT user_id, session_no,
           min(ts) AS session_start, max(ts) AS session_end,
           count(*) AS n_events,
           sum(CAST(floor(value * 1e2 + 0.5) AS BIGINT)) / 100.0 AS total_value
    FROM s GROUP BY user_id, session_no
    """,
)
def user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: a >30-minute silence starts a new session
    (the batch twin of streaming session_window — oracle-checkable,
    which the streaming form is not).  Classic two-window formulation:
    lag() marks session starts, a running sum numbers them, then one
    aggregate per (user, session).  All three steps share ONE
    partitioning on user_id — a single shuffle end-to-end.  Time math
    in integer microseconds; per-session value in integer cents (both
    immune to FP ordering)."""
    ev = load_table(spark, "events", sf_dir).select(
        "user_id", "event_id", "ts", "value"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = epoch_us(F.col("ts")) - F.lag(epoch_us(F.col("ts"))).over(w)
    new_sess = F.when(gap_us.isNull() | (gap_us > 1_800_000_000), 1).otherwise(0)
    numbered = ev.withColumn(
        "session_no",
        F.sum(F.lit(0) + new_sess)
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long"),
    )
    return numbered.groupBy("user_id", "session_no").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
        (F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")) / 100.0).alias(
            "total_value"
        ),
    )


@query(
    "decontaminate_train",
    oracle="""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    sh AS (
      SELECT DISTINCT doc_id,
             concat_ws(' ', tk[i], tk[i+1], tk[i+2], tk[i+3], tk[i+4]) AS s
      FROM tok, unnest(range(1, greatest(len(tk) - 3, 1))) u(i)),
    eval_sh AS (SELECT DISTINCT s FROM sh WHERE doc_id < 20),
    flagged AS (
      SELECT DISTINCT sh.doc_id FROM sh
      JOIN eval_sh ON sh.s = eval_sh.s
      WHERE sh.doc_id >= 20)
    SELECT d.doc_id, d.lang, d.source
    FROM documents d JOIN flagged f ON d.doc_id = f.doc_id
    """,
)
def decontaminate_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval decontamination: flag training documents sharing any
    word 5-gram with the eval set (here: doc_id < 20 stands in for the
    benchmark corpus).  The eval shingle set is tiny by construction —
    it BROADCASTS into a semi join against the training shingles, so
    the 100 TB side is one scan + shingle explode with no shuffle for
    the probe.  This is the n-gram-overlap decontamination used by
    LLM training pipelines (cf. GPT-3/PaLM appendix methodology)."""
    from confluent_kafka_streams_examples_spark.operators import dedup

    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", "text", "lang", "source"
    )
    # distinct=False: the eval side re-distincts below and the probe
    # side feeds a semi-join + distinct(doc_id) — per-doc shingle
    # dedup would add a full (doc_id, 5-gram string) shuffle for nothing
    sh = dedup.shingles(docs, "doc_id", "text", n=5, distinct=False)
    eval_sh = (
        sh.filter(F.col("doc_id") < 20).select("shingle").distinct()
    )
    flagged = (
        sh.filter(F.col("doc_id") >= 20)
        .join(F.broadcast(eval_sh), "shingle", "left_semi")
        .select("doc_id")
        .distinct()
    )
    return docs.select("doc_id", "lang", "source").join(flagged, "doc_id", "left_semi")


# =====================================================================
# PII scrubbing (redaction) — a mandatory pre-training corpus pass
# =====================================================================

# the synthetic documents are clean word-soup, so the query plants
# deterministic PII (emails/phones/URLs derived from doc_id) and then
# proves the scrubber removes exactly what the counters found
_EMAIL_RE = r"[a-z0-9._]+@[a-z0-9.]+[a-z]"
_PHONE_RE = r"\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}"
_URL_RE = r"https?://[^\s]+"

_PII_RAW_SQL = """
concat(
  text,
  repeat(concat(' u', CAST(doc_id AS VARCHAR), '@example.com'), CAST(doc_id % 3 AS INT)),
  CASE WHEN doc_id % 2 = 0
       THEN concat(' +1-555-', lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'))
       ELSE '' END,
  concat(' https://site-', CAST(doc_id % 50 AS VARCHAR), '.example.org/p/',
         CAST(doc_id AS VARCHAR))
)
"""


@query(
    "pii_scrub",
    oracle=f"""
    WITH raw AS (SELECT doc_id, {_PII_RAW_SQL} AS s FROM documents)
    SELECT doc_id,
           len(regexp_extract_all(s, '{_EMAIL_RE}')) AS n_emails,
           len(regexp_extract_all(s, '{_PHONE_RE}')) AS n_phones,
           len(regexp_extract_all(s, '{_URL_RE}')) AS n_urls,
           md5(regexp_replace(regexp_replace(regexp_replace(s,
               '{_EMAIL_RE}', '<EMAIL>', 'g'),
               '{_PHONE_RE}', '<PHONE>', 'g'),
               '{_URL_RE}', '<URL>', 'g')) AS scrubbed_hash
    FROM raw
    """,
)
def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over the corpus: count + replace emails, phone
    numbers, and URLs with typed placeholder tokens (the standard
    pre-training scrub, cf. C4/RefinedWeb cleaning recipes).

    Pure per-row map — zero shuffles at any scale; the regexes run
    JVM-side inside whole-stage codegen (no Python on the hot path),
    and column pruning reaches the scan (only doc_id, text read).
    Patterns use the RE2-compatible subset so Spark (java.util.regex)
    and the DuckDB oracle (RE2) agree byte-for-byte."""
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    raw = docs.withColumn(
        "s",
        F.concat(
            F.col("text"),
            F.expr(
                "repeat(concat(' u', CAST(doc_id AS STRING), '@example.com'),"
                " CAST(doc_id % 3 AS INT))"
            ),
            F.when(
                F.col("doc_id") % 2 == 0,
                F.concat(
                    F.lit(" +1-555-"),
                    F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(F.lit("")),
            F.concat(
                F.lit(" https://site-"),
                (F.col("doc_id") % 50).cast("string"),
                F.lit(".example.org/p/"),
                F.col("doc_id").cast("string"),
            ),
        ),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("s"), _EMAIL_RE, "<EMAIL>"),
            _PHONE_RE,
            "<PHONE>",
        ),
        _URL_RE,
        "<URL>",
    )
    return raw.select(
        "doc_id",
        F.regexp_count(F.col("s"), F.lit(_EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(F.col("s"), F.lit(_PHONE_RE)).cast("long").alias("n_phones"),
        F.regexp_count(F.col("s"), F.lit(_URL_RE)).cast("long").alias("n_urls"),
        F.md5(scrubbed).alias("scrubbed_hash"),
    )


# =====================================================================
# Embedding int8 quantization — storage/bandwidth prep for ANN serving
# =====================================================================

@query(
    "embedding_quantize",
    oracle="""
    WITH base AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             greatest(list_aggregate(list_transform(embedding::DOUBLE[],
                      x -> abs(x)), 'max'), 1e-12) / 127.0 AS scale
      FROM embeddings),
    q AS (
      SELECT vec_id, len(v) AS n_dims,
             list_transform(v, x -> CAST(floor(x / scale + 0.5) AS BIGINT)) AS qv
      FROM base)
    SELECT vec_id, n_dims,
           CAST(list_aggregate(qv, 'sum') AS BIGINT) AS sum_q,
           CAST(list_aggregate(list_transform(qv, x -> x * x), 'sum') AS BIGINT)
             AS sum_qsq,
           CAST(list_aggregate(qv, 'max') AS BIGINT) AS max_q,
           CAST(list_aggregate(qv, 'min') AS BIGINT) AS min_q
    FROM q
    """,
)
def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column (max-abs
    scaling, the faiss/SQ8 recipe): 4x storage + memory-bandwidth win
    for the ANN scale path. Emits integer invariants of the quantized
    vector (sum, sum of squares, min/max) — exact on both engines, so
    the oracle is hash-strict with no float-rounding escape hatch.

    Per-row higher-order functions only (transform/aggregate): no
    shuffle, no Python, no UDF — scan-bound at 100 TB. The float32 ->
    double widening is exact, and x/scale uses the identical IEEE
    expression tree on both engines; floor(x + 0.5) avoids the
    HALF_UP/HALF_EVEN divergence between Spark and DuckDB round()."""
    emb = load_table(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    v = F.col("embedding").cast("array<double>")
    base = emb.select(
        "vec_id",
        v.alias("v"),
        (
            F.greatest(
                F.array_max(F.transform(v, lambda x: F.abs(x))), F.lit(1e-12)
            )
            / 127.0
        ).alias("scale"),
    )
    q = base.select(
        "vec_id",
        F.size("v").cast("bigint").alias("n_dims"),
        F.transform(
            F.col("v"), lambda x: F.floor(x / F.col("scale") + 0.5).cast("long")
        ).alias("qv"),
    )
    zero = F.lit(0).cast("long")
    return q.select(
        "vec_id",
        "n_dims",
        F.aggregate("qv", zero, lambda a, x: a + x).alias("sum_q"),
        F.aggregate("qv", zero, lambda a, x: a + x * x).alias("sum_qsq"),
        F.array_max("qv").alias("max_q"),
        F.array_min("qv").alias("min_q"),
    )


# =====================================================================
# Rolling per-user window stats — sliding-frame analytics over events
# =====================================================================

@query(
    "rolling_user_stats",
    oracle="""
    WITH c AS (
      SELECT event_id, user_id, ts,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events)
    SELECT event_id, user_id,
           CAST(sum(cents) OVER w AS BIGINT) AS roll_cents,
           count(*) OVER w AS roll_n,
           max(cents) OVER w AS roll_max_cents,
           floor(sum(cents) OVER w * 1.0 / count(*) OVER w / 100.0 * 1e4 + 0.5)
             / 1e4 AS roll_avg
    FROM c
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
)
def rolling_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 7-row frame per user (moving sum/count/max/avg) — the
    rolling-aggregate shape (fraud velocity checks, rate metrics).

    ONE shuffle on user_id; inside each partition Spark evaluates the
    frame incrementally in a single sort pass with bounded state (7
    rows), so the plan is shuffle + sort + window — no joins, no
    self-join fan-out. Money math in integer cents (exact, order-
    independent); the avg alone is float, derived from exact integers
    with an identical expression tree on both engines."""
    ev = load_table(spark, "events", sf_dir).select(
        "event_id", "user_id", "ts", "value"
    )
    c = ev.withColumn(
        "cents", F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-6, Window.currentRow)
    )
    roll_cents = F.sum("cents").over(w)
    roll_n = F.count(F.lit(1)).over(w)
    return c.select(
        "event_id",
        "user_id",
        roll_cents.alias("roll_cents"),
        roll_n.alias("roll_n"),
        F.max("cents").over(w).alias("roll_max_cents"),
        (
            F.floor(roll_cents * F.lit(1.0) / roll_n / F.lit(100.0) * F.lit(1e4) + F.lit(0.5))
            / F.lit(1e4)
        ).alias("roll_avg"),
    )


# packing worker shards: the same md5 prefix as _BUCKET_SQL, mod 8
_PACK_BUCKET_SQL = f"{_hex_to_int_sql('md5(CAST(doc_id AS VARCHAR))', 1, 4)} % 8"
_PACK_BUDGET = 512  # tokens per training sequence


@query(
    "pack_sequences",
    oracle=f"""
    WITH sized AS (
      SELECT doc_id,
             {_PACK_BUCKET_SQL} AS bucket,
             len(string_split(text, ' ')) AS n_tok
      FROM documents),
    packed AS (
      SELECT doc_id, bucket, n_tok,
             CAST(floor(COALESCE(sum(n_tok) OVER (
                    PARTITION BY bucket ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  / {_PACK_BUDGET}.0) AS BIGINT) AS seq_id
      FROM sized)
    SELECT bucket, seq_id,
           count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens,
           min(doc_id) AS first_doc,
           max(doc_id) AS last_doc
    FROM packed GROUP BY bucket, seq_id
    """,
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: group documents into fixed token-budget
    training sequences ({_PACK_BUDGET} tokens) — the step between a
    cleaned corpus and a trainer's fixed-length batches.  Documents are
    sharded into 8 deterministic md5 buckets (independent packing
    workers), ordered by doc_id within a shard, and assigned to the
    sequence their cumulative starting offset falls in
    (doc-preserving greedy concat: a sequence may overrun the budget
    by at most one document's tail, never splits a document).

    Scale shape: ONE shuffle (window partitioned by bucket); the
    running offset is an integer cumulative sum inside each shard;
    everything downstream is a partial-agg groupBy on the same keys.
    More shards = more parallelism — the shard count is the
    ``pack_greedy(shards=)`` knob (operator default: the session's
    parallelism); it is PINNED to 8 here only because the oracle
    contract requires a reproducible assignment, and the assignment is
    then reproducible on any engine or cluster size (no rand, no
    partition-order dependence).  Per-sequence output (doc counts,
    token counts, id range) is all-integer — exact cross-engine hash
    contract."""
    from confluent_kafka_streams_examples_spark.operators import text as text_ops

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    sized = docs.select(
        "doc_id", F.size(F.split(F.col("text"), " ")).alias("n_tok")
    )
    packed = text_ops.pack_greedy(sized, budget=_PACK_BUDGET, shards=8)
    return text_ops.pack_summary(packed)


# mixture sampling: keep-threshold in [0, 10000) per-10k hash units
_MIX_BUCKET_SQL = f"{_hex_to_int_sql('md5(CAST(doc_id AS VARCHAR))', 1, 4)} % 10000"


@query(
    "corpus_mixture_sample",
    oracle=f"""
    WITH sized AS (
      SELECT doc_id, source, len(string_split(text, ' ')) AS n_tok,
             {_MIX_BUCKET_SQL} AS bkt
      FROM documents),
    src AS (SELECT source, count(*) AS n_docs, sum(n_tok) AS n_tokens
            FROM sized GROUP BY source),
    -- integer-micronized sqrt weights: sqrt is correctly rounded IEEE
    -- (pow/ln are not), and summing integers is order-independent
    w AS (SELECT source, n_docs, n_tokens,
                 CAST(floor(sqrt(n_tokens) * 1000000.0) AS BIGINT) AS w_int
          FROM src),
    tot AS (SELECT sum(w_int) AS w_sum, sum(n_tokens) AS tok_sum FROM w),
    thr AS (SELECT source, n_docs, n_tokens,
                   least(10000, (tok_sum // 2) * w_int * 10000
                                // (w_sum * n_tokens)) AS keep_per_10k
            FROM w, tot),
    kept AS (SELECT s.source, count(*) AS kept_docs,
                    sum(s.n_tok) AS kept_tokens
             FROM sized s JOIN thr t ON s.source = t.source
             WHERE s.bkt < t.keep_per_10k GROUP BY s.source)
    SELECT t.source, t.n_docs,
           CAST(t.n_tokens AS BIGINT) AS n_tokens,
           CAST(t.keep_per_10k AS BIGINT) AS keep_per_10k,
           CAST(COALESCE(k.kept_docs, 0) AS BIGINT) AS kept_docs,
           CAST(COALESCE(k.kept_tokens, 0) AS BIGINT) AS kept_tokens
    FROM thr t LEFT JOIN kept k ON t.source = k.source
    """,
)
def corpus_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based data mixing (alpha = 0.5): resample the corpus
    so the retained mixture is proportional to n_tokens^0.5 per source
    — the multinomial source-rebalancing step of an LLM training
    pipeline (upweights small sources, flattens dominant ones), with a
    global token budget of half the corpus.

    Per-source keep-rate -> a per-10k md5 threshold on doc_id, so
    membership is a pure projection: reproducible on any engine or
    cluster size, push-down-able, no rand()/seed dependence (same
    idiom as corpus_split_assignment).  Determinism contract: weights
    are sqrt (correctly-rounded IEEE — unlike pow/ln) micronized to
    integers BEFORE the cross-source sum, and the threshold is pure
    integer arithmetic (floored div), so every value in the output is
    an exact integer on both engines.

    Scale shape: one partial-agg shuffle for per-source stats (source
    cardinality is tiny); thresholds broadcast back; the keep decision
    is map-side.  Output is the per-source audit table (orig vs kept
    docs/tokens + threshold) — the thing you'd eyeball before training."""
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "source", "text")
    sized = docs.select(
        "doc_id",
        "source",
        F.size(F.split(F.col("text"), " ")).alias("n_tok"),
        (
            F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10).cast("long")
            % 10000
        ).alias("bkt"),
    )
    src = sized.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_tok").alias("n_tokens")
    )
    w = src.withColumn(
        "w_int", F.floor(F.sqrt(F.col("n_tokens")) * F.lit(1000000.0)).cast("bigint")
    )
    tot = w.agg(F.sum("w_int").alias("w_sum"), F.sum("n_tokens").alias("tok_sum"))
    # integer threshold: (token_budget * w_int * 10000) div (w_sum * n_tokens).
    # DECIMAL(38,0) intermediates, exact like the oracle's HUGEINT (DuckDB
    # sum() promotes, so ITS product never overflows): in pure BIGINT the
    # numerator is ~tok_sum/2 * sqrt(n_tokens)*1e6 * 1e4, which blows past
    # int64 at a ~10^8-token corpus — the 100x scale probe caught ANSI
    # Spark throwing ARITHMETIC_OVERFLOW here while sf0.1 passed.  Values
    # peak ~1e29 even at 100 TB (< 1e38); div on decimals keeps the same
    # floored integer semantics and returns BIGINT.
    thr = w.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.least(
            F.lit(10000).cast("bigint"),
            F.expr(
                "CAST(tok_sum div 2 AS DECIMAL(38,0)) * w_int * 10000"
                " div (CAST(w_sum AS DECIMAL(38,0)) * n_tokens)"
            ),
        ).alias("keep_per_10k"),
    )
    kept = (
        sized.join(F.broadcast(thr.select("source", "keep_per_10k")), "source")
        .filter(F.col("bkt") < F.col("keep_per_10k"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("kept_docs"), F.sum("n_tok").alias("kept_tokens"))
    )
    return thr.join(kept, "source", "left").select(
        "source",
        "n_docs",
        "n_tokens",
        "keep_per_10k",
        F.coalesce("kept_docs", F.lit(0)).alias("kept_docs"),
        F.coalesce("kept_tokens", F.lit(0)).alias("kept_tokens"),
    )


# =====================================================================
# Deterministic N-per-group sampling + normalized exact dedup
# =====================================================================

_SAMPLE_N = 20


@query(
    "sample_n_per_group",
    oracle=f"""
    WITH ranked AS (
      SELECT doc_id, source, lang,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents)
    SELECT doc_id, source, lang FROM ranked WHERE rn <= {_SAMPLE_N}
    """,
)
def sample_n_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACTLY min(N, group size) docs per source, deterministically:
    rank by md5(doc_id) within each group (a uniform, seed-free,
    engine-independent shuffle of the group) and keep the first N.
    Unlike fraction-based sampling this gives a hard per-group budget
    — the curation shape for "N examples from every source".  Plans as
    WindowGroupLimit: each partition keeps its local top-N per group
    BEFORE the shuffle, so the exchange carries O(partitions x groups
    x N) rows regardless of corpus size."""
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "source", "lang")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= _SAMPLE_N)
        .select("doc_id", "source", "lang")
    )


@query(
    "dedup_exact_normalized",
    oracle="""
    WITH norm AS (
      SELECT doc_id,
             trim(regexp_replace(regexp_replace(lower(text),
                    '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS ntext
      FROM documents)
    SELECT md5(ntext) AS text_hash, min(doc_id) AS keep_id,
           count(*) AS dup_count
    FROM norm GROUP BY md5(ntext)
    """,
)
def dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup AFTER canonicalization (lowercase, strip punctuation,
    collapse whitespace): catches the trivially-reformatted duplicates
    plain byte-equality misses, still one 16-byte-key shuffle.  The
    normalization is pure JVM expression work fused into the scan
    projection — no extra pass over the corpus."""
    from confluent_kafka_streams_examples_spark.operators import dedup

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    ntext = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""),
            " +",
            " ",
        )
    )
    return dedup.exact_dedup_groups(
        docs.withColumn("ntext", ntext), "doc_id", "ntext"
    )


@query(
    "source_overlap_matrix",
    oracle="""
    WITH toks AS (SELECT source, string_split(text, ' ') AS tk FROM documents),
    src AS (SELECT DISTINCT source,
                   concat_ws(' ', tk[i], tk[i+1], tk[i+2]) AS s
            FROM toks, unnest(range(1, greatest(len(tk)-1, 1))) u(i)),
    sizes AS (SELECT source, count(*) AS n_sh FROM src GROUP BY source),
    shared AS (
      SELECT a.source AS source_a, b.source AS source_b,
             count(*) AS shared_shingles
      FROM src a JOIN src b ON a.s = b.s AND a.source < b.source
      GROUP BY 1, 2)
    SELECT source_a, source_b, shared_shingles,
           floor(shared_shingles / least(sa.n_sh, sb.n_sh) * 1e4 + 0.5) / 1e4
             AS overlap_coef
    FROM shared
    JOIN sizes sa ON sa.source = source_a
    JOIN sizes sb ON sb.source = source_b
    """,
)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: for every source pair, how
    many distinct word 3-grams they share, and the overlap coefficient
    shared / min(|A|, |B|) — the "is subcorpus A secretly a copy of a
    slice of B" diagnostic run before mixing training sources.

    Scale shape: shingles are reduced to DISTINCT (source, shingle)
    FIRST, so the per-shingle join bucket is bounded by the number of
    sources (single digits), never by document frequency — unlike
    doc-level Jaccard there is no hot-shingle quadratic risk, so no DF
    cap is needed.  The self-join keys on xxhash64(shingle): 8-byte
    shuffle keys, long compares.  Everything else (sizes, the final
    ratio) is a broadcast of a #sources-row frame.
    """
    from pyspark import StorageLevel

    from confluent_kafka_streams_examples_spark.functions.scalar import round_det
    from confluent_kafka_streams_examples_spark.operators import dedup

    docs = load_table(spark, "documents", sf_dir).select("source", "text")
    # shingle_hashes() with the SOURCE as the id column = distinct
    # (source, shingle-hash) in one explode+hash+distinct — no per-doc
    # stage, and the dedup exchange carries 8-byte longs, not n-grams;
    # kept pinned: without it this query takes 2.04 -> 2.10 s (sf0.1)
    sh = (
        dedup.shingle_hashes(docs, "source", "text", n=3)
        .withColumnRenamed("shingle", "h")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    sizes = sh.groupBy("source").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col("source").alias("source_a"), "h")
    b = sh.select(F.col("source").alias("source_b"), "h")
    shared = (
        a.join(b, "h")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("shared_shingles"))
    )
    sa = sizes.select(F.col("source").alias("source_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("source").alias("source_b"), F.col("n_sh").alias("n_b"))
    return (
        shared.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "shared_shingles",
            round_det(
                F.col("shared_shingles") / F.least("n_a", "n_b"), 4
            ).alias("overlap_coef"),
        )
    )


@query(
    "duplicate_rate_by_source",
    oracle="""
    WITH h AS (SELECT source, md5(text) AS th FROM documents),
    dup AS (SELECT th FROM h GROUP BY th HAVING count(*) > 1)
    SELECT source,
           count(*) AS n_docs,
           CAST(count(dup.th) AS BIGINT) AS n_dup_docs,
           floor(count(dup.th) / count(*) * 1e4 + 0.5) / 1e4 AS dup_rate
    FROM h LEFT JOIN dup ON h.th = dup.th
    GROUP BY source
    """,
)
def duplicate_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source exact-duplicate exposure: the fraction of a source's
    documents whose text also appears elsewhere in the corpus (itself
    included) — the first quality number to pull when deciding how hard
    to dedup each source.  Two 16-byte-key shuffles (hash rollup, then
    per-source rollup); document bodies are reduced to md5 in the scan
    projection and never shuffled."""
    from confluent_kafka_streams_examples_spark.functions.scalar import round_det

    docs = load_table(spark, "documents", sf_dir).select(
        "source", F.md5("text").alias("th")
    )
    dup = (
        docs.groupBy("th")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .select("th")
        .withColumn("_isdup", F.lit(1))
    )
    return (
        docs.join(dup, "th", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.coalesce("_isdup", F.lit(0))).cast("bigint").alias("n_dup_docs"),
            round_det(
                F.sum(F.coalesce("_isdup", F.lit(0))) / F.count(F.lit(1)), 4
            ).alias("dup_rate"),
        )
    )


@query(
    "skewed_event_rollup",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT)) AS BIGINT)
             AS total_value_micros,
           CAST(max(CAST(floor(value * 1e6 + 0.5) AS BIGINT)) AS BIGINT)
             AS max_value_micros
    FROM events GROUP BY event_type
    """,
)
def skewed_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key rollup through the explicit two-phase salted aggregate
    (operators/skew.py): event_type has single-digit cardinality over
    the whole corpus — the textbook straggler-reducer shape.  Phase 1
    spreads each key over 16 salt buckets (partial agg per (key,
    salt)), phase 2 merges the 16 partials — one straggler becomes 16
    parallel reducers.  AQE can split skewed JOIN partitions but not
    aggregations, which is exactly the case this path exists for.
    Money math in integer micros so the two-phase merge is associative
    and engine-exact (float sums are order-dependent)."""
    from confluent_kafka_streams_examples_spark.operators.skew import salted_aggregate

    ev = load_table(spark, "events", sf_dir).select(
        "event_type",
        F.floor(F.col("value") * 1e6 + 0.5).cast("bigint").alias("value_micros"),
    )
    return salted_aggregate(
        ev,
        ["event_type"],
        {
            # count* = count(*) semantics: count(col) would silently
            # skip NULL values and diverge from the oracle's count(*)
            # the day events.value ships with NULLs
            "n_events": ("count*", None),
            "total_value_micros": ("sum", "value_micros"),
            "max_value_micros": ("max", "value_micros"),
        },
        salt_buckets=16,
    ).select("event_type", "n_events", "total_value_micros", "max_value_micros")


@query(
    "top_terms_per_source",
    oracle="""
    WITH tok AS (
      SELECT source, unnest(string_split(text, ' ')) AS token
      FROM documents),
    tf AS (SELECT source, token, count(*) AS freq
           FROM tok GROUP BY source, token),
    ranked AS (
      SELECT source, token, freq,
             row_number() OVER (PARTITION BY source
                                ORDER BY freq DESC, token) AS rnk
      FROM tf)
    SELECT source, token, freq, CAST(rnk AS INT) AS rnk
    FROM ranked WHERE rnk <= 5
    """,
)
def top_terms_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source vocabulary profile: the 5 most frequent tokens of
    every source (deterministic tie-break on the token itself) — the
    quick look at what a subcorpus is actually made of before mixing.
    Plan shape: explode -> (source, token) partial-agg shuffle (the
    exchange carries counted partials, never raw token streams), then
    rank-limit planned as WindowGroupLimit: each partition keeps its
    local top-5 per source BEFORE the final exchange, so the window
    shuffle moves O(partitions x sources x 5) rows at any corpus
    size."""
    docs = load_table(spark, "documents", sf_dir).select("source", "text")
    tok = docs.select("source", F.explode(F.split(F.col("text"), " ")).alias("token"))
    tf = tok.groupBy("source", "token").agg(F.count(F.lit(1)).alias("freq"))
    w = Window.partitionBy("source").orderBy(F.col("freq").desc(), F.col("token"))
    return (
        tf.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("source", "token", "freq", F.col("rnk").cast("int").alias("rnk"))
    )


@query(
    "boilerplate_chunks",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    chunks AS (
      SELECT doc_id,
             md5(array_to_string(tk[(i - 1) * 16 + 1 : i * 16], ' ')) AS chunk_hash
      FROM toks, unnest(range(1, CAST(floor(len(tk) / 16) AS BIGINT) + 1)) u(i))
    SELECT chunk_hash,
           count(DISTINCT doc_id) AS n_docs,
           count(*) AS n_occ,
           min(doc_id) AS first_doc
    FROM chunks
    GROUP BY chunk_hash
    HAVING count(*) > 1
    """,
)
def boilerplate_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document boilerplate detection: fingerprint every
    non-overlapping 16-token chunk and keep fingerprints occurring more
    than once corpus-wide — repeated passages (headers, license
    blurbs, templated spans) that document-level dedup can never see
    because the surrounding text differs.

    Scale shape: the chunking is pure array slicing fused into the scan
    (no explode of single tokens — one row per CHUNK, 16x fewer), and
    the only exchange carries (16-byte md5, doc_id) partial-agg rows.
    The output is the heavy-hitter set, bounded by repeated-passage
    volume, not corpus size."""
    toks = F.split(F.col("text"), " ")
    n_chunks = F.floor(F.size(toks) / 16).cast("int")
    chunks = F.when(
        n_chunks >= 1,
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i * 16 + 1, 16))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", F.explode(chunks).alias("chunk_hash")
    )
    return (
        docs.groupBy("chunk_hash")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occ"),
            F.min("doc_id").alias("first_doc"),
        )
        .filter(F.col("n_occ") > 1)
    )


_CDC_BOUNDARY_SQL = f"{_hex_to_int_sql('md5(token)', 1, 4)} % 8 = 0"


@query(
    "dedup_cdc_chunks",
    oracle=f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    tok AS (
      SELECT doc_id, i AS pos, tk[i] AS token
      FROM toks, unnest(range(1, len(tk) + 1)) u(i)),
    b AS (
      SELECT doc_id, pos, token,
             CASE WHEN {_CDC_BOUNDARY_SQL} THEN 1 ELSE 0 END AS is_boundary
      FROM tok),
    c AS (
      SELECT doc_id, pos, token,
             sum(is_boundary) OVER (PARTITION BY doc_id ORDER BY pos) AS chunk_id
      FROM b),
    chunks AS (
      SELECT doc_id, chunk_id,
             md5(string_agg(token, ' ' ORDER BY pos)) AS chunk_hash
      FROM c GROUP BY doc_id, chunk_id)
    SELECT chunk_hash,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_occ,
           min(doc_id) AS first_doc
    FROM chunks
    GROUP BY chunk_hash
    HAVING count(DISTINCT doc_id) > 1
    """,
)
def dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document dedup with CONTENT-DEFINED chunk boundaries
    (Rabin/LBFS-style chunking, here with an md5 gear): a token starts
    a new chunk when md5(token) % 8 == 0, so chunk boundaries are a
    function of the CONTENT, not the offset — inserting one sentence
    shifts every boundary of boilerplate_chunks' fixed 16-token grid
    but leaves all other CDC chunks (and their hashes) intact, which is
    the whole reason rsync/LBFS chunk this way.

    Scale shape: the chunking is a single map-side array fold
    (F.aggregate over split(text) — no window, no per-token shuffle);
    the ONLY exchange carries (chunk_hash, doc_id) pairs, 40 bytes a
    row, regardless of chunk length.  The oracle states the same
    grouping relationally (running-sum-of-boundaries window) — same
    chunks, same hashes.  Production knobs not modeled here: min/max
    chunk-size clamps (gear % 8 gives ~8-token expected chunks) and a
    rolling multi-token gear window.

    The conditional ``_spread`` (inside the operator) parallelizes the
    fold on a single-file local scan (measured 1.05s -> 0.55s at sf0.1
    — the fold is the whole cost and was single-threaded); at corpus
    scale the input has enough splits and the spread is a no-op by its
    file-count check.  The chunking fold itself lives in
    operators/dedup.py::cdc_chunk_hashes, where its insertion-locality
    property is unit-tested.
    """
    from confluent_kafka_streams_examples_spark.operators.dedup import (
        cdc_chunk_hashes,
    )

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    return (
        cdc_chunk_hashes(docs, "doc_id", "text", gear_mod=8)
        .groupBy("chunk_hash")
        .agg(
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_occ"),
            F.min("doc_id").alias("first_doc"),
        )
        .filter(F.col("n_docs") > 1)
    )


@query(
    "corpus_shard_export",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS k FROM documents
    )
    SELECT CAST({_hex_to_int_sql('k', 1, 4)} % 8 AS BIGINT) AS shard_id,
           CAST(row_number() OVER (
                  PARTITION BY {_hex_to_int_sql('k', 1, 4)} % 8
                  ORDER BY k, doc_id) AS BIGINT) AS pos,
           doc_id
    FROM keyed
    """,
)
def corpus_shard_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trainer shard manifest: the deterministic GLOBAL SHUFFLE every
    training export needs — each doc gets a shard and a position inside
    it, both pure functions of the stable doc id (md5), so the
    trainer-visible order is (a) decorrelated from ingestion/crawl
    order (adjacent source docs land in different shards — the
    within-batch correlation killer) and (b) bit-for-bit reproducible
    across engines, reruns, and cluster sizes.  rand()-seeded shuffles
    are neither: a retry or a repartition reshuffles the corpus.

    Scale shape: shard assignment is a pure projection (no shuffle);
    positions need ONE exchange keyed on shard_id plus a per-shard
    sort — never a global ORDER BY (a single-partition window is the
    classic 100 TB export killer).  Shard count scales with the corpus
    (here 8 for the oracle; production picks corpus_bytes /
    target_shard_bytes, e.g. ~25k shards for 100 TB at 4 GB), so each
    window partition stays bounded and spills at worst locally.
    Reference analog: key-repartitioned sink topic
    (BasicStreams.scala:34) — the shard IS the partition, made
    explicit and deterministic.
    """
    docs = load_table(spark, "documents", sf_dir).select("doc_id")
    keyed = docs.select(
        "doc_id", F.md5(F.col("doc_id").cast("string")).alias("k")
    )
    shard = (
        F.conv(F.substring(F.col("k"), 1, 4), 16, 10).cast("long") % 8
    ).alias("shard_id")
    sharded = keyed.select("doc_id", "k", shard)
    w = Window.partitionBy("shard_id").orderBy("k", "doc_id")
    return sharded.select(
        "shard_id",
        F.row_number().over(w).cast("bigint").alias("pos"),
        "doc_id",
    )


@query(
    "embedding_dim_stats",
    oracle="""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding::DOUBLE[],
                            x -> CAST(floor(x * 1e6 + 0.5) AS BIGINT)) AS qv
      FROM embeddings),
    d AS (SELECT i - 1 AS dim, qv[i] AS qval
          FROM q, unnest(range(1, len(qv) + 1)) u(i))
    SELECT CAST(dim AS BIGINT) AS dim,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(qval) AS BIGINT) AS sum_q,
           CAST(min(qval) AS BIGINT) AS min_q,
           CAST(max(qval) AS BIGINT) AS max_q,
           CAST(sum(qval) // count(*) AS BIGINT) AS mean_q,
           CAST((count(*) * sum(qval * qval) - sum(qval) * sum(qval))
                // (count(*) * count(*)) AS BIGINT) AS var_q
    FROM d GROUP BY dim
    """,
)
def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-DIMENSION moment statistics over the embedding column — the
    pass every whitening / mean-centering / PCA-prep step runs before
    an ANN index is trained (a dimension with tiny variance carries no
    recall; a shifted mean breaks cosine-vs-dot equivalence).

    Exactness: values quantize to integer 1e-6 units FIRST (float32 ->
    double widening is exact; one identical IEEE fold on both engines),
    so every downstream moment is INTEGER arithmetic — no FP summation-
    order dependence anywhere, hash-strict oracle.  Mean is plain
    integer division: for INTEGER operands Spark's `div` and DuckDB's
    `//` BOTH truncate toward zero (DuckDB floors only for floats), so
    they agree for any component range — no offset trick, no |x| <= 1
    assumption (ADVICE r8).  Variance numerator
    n*sum_qsq - sum_q^2 is Cauchy-Schwarz-non-negative, computed in
    DECIMAL(38,0) (peaks ~3e35 at 1e12 rows — inside DECIMAL(38) just
    like the oracle's HUGEINT; pure BIGINT overflows past ~2e5 rows,
    the corpus_mixture_sample lesson).

    Scale shape: one narrow posexplode (rows x dims, no text, 16-byte
    pairs) into a partial aggregate on a 64-key space — the best
    map-side-combine story in the registry: every task folds to <= 64
    partial rows regardless of input size, so the exchange carries
    O(tasks * dims), not O(rows).  No window, no join, no Python.
    Reference analog: groupByKey + aggregate (AggregationsExample
    .scala:36-41) with the derived key = array position.
    """
    emb = load_table(spark, "embeddings", sf_dir).select("embedding")
    qv = F.transform(
        F.col("embedding").cast("array<double>"),
        lambda x: F.floor(x * F.lit(1e6) + F.lit(0.5)).cast("long"),
    )
    d = emb.select(F.posexplode(qv).alias("dim", "qval"))
    stats = d.groupBy(F.col("dim").cast("bigint").alias("dim")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("qval").cast("bigint").alias("sum_q"),
        F.min("qval").cast("bigint").alias("min_q"),
        F.max("qval").cast("bigint").alias("max_q"),
        F.sum((F.col("qval") * F.col("qval")).cast("decimal(38,0)")).alias(
            "_sumsq"
        ),
    )
    return stats.select(
        "dim",
        "n",
        "sum_q",
        "min_q",
        "max_q",
        # Plain truncating division (NOT the positive-offset trick,
        # which silently breaks for components < -1.0 — ADVICE r8).
        # Verified against DuckDB: for INTEGER operands both Spark's
        # `div` and DuckDB's `//` truncate toward zero (DuckDB only
        # floors for FLOAT operands), so they agree for ANY sum_q
        # sign with no correction term.
        F.expr("sum_q div n").alias("mean_q"),
        F.expr(
            "(CAST(n AS DECIMAL(38,0)) * _sumsq"
            " - CAST(sum_q AS DECIMAL(38,0)) * sum_q)"
            " div (CAST(n AS DECIMAL(38,0)) * n)"
        ).alias("var_q"),
    )


@query(
    "corpus_mixture_drift",
    oracle="""
    WITH tagged AS (
      SELECT lang, doc_id % 10 = 0 AS is_new FROM documents
    ),
    counts AS (
      SELECT lang,
             CAST(sum(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT) AS new_cnt,
             CAST(sum(CASE WHEN is_new THEN 0 ELSE 1 END) AS BIGINT)
               AS corpus_cnt
      FROM tagged GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(new_cnt) AS BIGINT) AS n_new,
             CAST(sum(corpus_cnt) AS BIGINT) AS n_corpus
      FROM counts
    )
    SELECT c.lang,
           CAST((CAST(c.corpus_cnt AS HUGEINT) * 1000000) // t.n_corpus
                AS BIGINT) AS corpus_share_ppm,
           CAST((CAST(c.new_cnt AS HUGEINT) * 1000000) // t.n_new AS BIGINT)
             AS new_share_ppm,
           CAST(abs((CAST(c.new_cnt AS HUGEINT) * 1000000) // t.n_new
                    - (CAST(c.corpus_cnt AS HUGEINT) * 1000000) // t.n_corpus)
                AS BIGINT) AS delta_ppm,
           abs((CAST(c.new_cnt AS HUGEINT) * 1000000) // t.n_new
               - (CAST(c.corpus_cnt AS HUGEINT) * 1000000) // t.n_corpus)
             > 50000 AS drifted
    FROM counts c CROSS JOIN tot t
    """,
)
def corpus_mixture_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time mixture-drift gate — the statistic-gated pattern
    (ivf_drift_stat for ANN, here for the corpus itself): per language,
    today's batch share vs the corpus share in integer-exact ppm, with
    a per-class drift flag at ±5 points.  A training-data pipeline
    runs this on every ingest day BEFORE appending: a drifted mixture
    silently reweights the training distribution (the problem
    corpus_mixture_sample's target weights exist to control), so the
    gate decides between auto-append and human review.

    Integer-exact portability: shares are BIGINT integer divisions of
    counts scaled to ppm — no floating shares, both engines hash-match
    exactly.  Scale shape: ONE documents scan with conditional partial
    aggregation (groupBy lang, two sums), a one-row total, and a
    broadcast nested-loop join of per-lang counts against that row —
    exchange is O(langs), corpus-size-independent.  Reference analog:
    aggregate-then-inspect (AggregationsExample.scala:36-44) with the
    inspection driving a routing decision."""
    d = load_table(spark, "documents", sf_dir).select("doc_id", "lang")
    is_new = F.pmod(F.col("doc_id"), F.lit(10)) == 0
    counts = d.groupBy("lang").agg(
        F.sum(F.when(is_new, 1).otherwise(0)).cast("bigint").alias("new_cnt"),
        F.sum(F.when(is_new, 0).otherwise(1)).cast("bigint").alias("corpus_cnt"),
    )
    tot = counts.agg(
        F.sum("new_cnt").cast("bigint").alias("n_new"),
        F.sum("corpus_cnt").cast("bigint").alias("n_corpus"),
    )
    # DECIMAL(38,0) guard: cnt x 1e6 as BIGINT overflows past 9.2e12
    # docs per class — exact arbitrary-precision keeps the ppm shares
    # valid at any corpus size (DuckDB HUGEINT casts mirror it)
    new_ppm = "(CAST(new_cnt AS DECIMAL(38,0)) * 1000000) div n_new"
    corpus_ppm = "(CAST(corpus_cnt AS DECIMAL(38,0)) * 1000000) div n_corpus"
    delta = f"abs({new_ppm} - {corpus_ppm})"
    return counts.join(F.broadcast(tot)).select(
        "lang",
        F.expr(f"CAST({corpus_ppm} AS BIGINT)").alias("corpus_share_ppm"),
        F.expr(f"CAST({new_ppm} AS BIGINT)").alias("new_share_ppm"),
        F.expr(f"CAST({delta} AS BIGINT)").alias("delta_ppm"),
        F.expr(f"{delta} > 50000").alias("drifted"),
    )
