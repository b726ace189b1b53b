"""LLM-training-data-pipeline queries: dedup, similarity search, text
analysis, multimodal — registered into the same driver-contract registry
as the reference-parity queries (imported by queries.py).

Oracle portability: every hash is md5 hex (identical in Spark/DuckDB);
hex->int is ``conv`` on Spark, strpos-arithmetic in DuckDB SQL; all
computed doubles rounded identically on both sides.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from confluent_kafka_streams_examples_spark.operators import dedup, similarity, text, multimodal
from confluent_kafka_streams_examples_spark.queries import query
from confluent_kafka_streams_examples_spark.session import load_table

# shared oracle CTE: distinct word 3-gram shingles per doc
def _shingles_cte(rel: str) -> str:
    """Word-3-gram CTE over relation ``rel(doc_id, text)``."""
    return f"""
toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM {rel}),
sh AS (SELECT DISTINCT doc_id, concat_ws(' ', tk[i], tk[i+1], tk[i+2]) AS s
       FROM toks, unnest(range(1, greatest(len(tk)-1, 1))) u(i))
"""


_SHINGLES_CTE = _shingles_cte("documents")


def _hexval(expr: str, pos: int) -> str:
    """SQL: value of hex digit at 1-based ``pos`` of ``expr``."""
    return f"(strpos('0123456789abcdef', substr({expr}, {pos}, 1)) - 1)"


# =====================================================================
# Deduplication
# =====================================================================

@query(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS dup_count
    FROM documents GROUP BY md5(text)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash: one shuffle carrying 32-byte keys
    instead of document bodies (the 100 TB-friendly form)."""
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    return dedup.exact_dedup_groups(docs, "doc_id", "text")


#: hot-shingle document-frequency cap for the registered Jaccard query —
#: shingles appearing in more docs carry no dedup signal and would
#: create quadratic join buckets at scale
_NGRAM_MAX_DF = 100


def _overlap_counts_path(sf_dir: str, n: int, max_df: int | None) -> str:
    from confluent_kafka_streams_examples_spark.artifacts import artifact_path

    return artifact_path(
        os.path.join(sf_dir, "documents.parquet"),
        f"overlap_counts|n={n}|df={max_df}",
    )


def shared_counts_table(
    spark: SparkSession, sf_dir: str, n: int = 3,
    max_df: int | None = _NGRAM_MAX_DF,
) -> DataFrame:
    """The MATERIALIZED (id_a, id_b, shared, n_a, n_b) shared-shingle
    count table for the documents corpus — the common subplan of the
    whole exact-overlap family (Jaccard, containment, overlap scores,
    LSH recall eval), built ONCE per (source version, shingle params)
    and read by every scorer: one shingle shuffle serves all of them,
    the way production maintains a pair table next to the corpus
    rather than re-shingling per metric (see artifacts.py).  All
    columns are BIGINT, so the parquet roundtrip is exact and scorers
    reading the artifact agree row-for-row with scorers recomputing
    from text."""
    from confluent_kafka_streams_examples_spark.artifacts import materialized

    pinned: list[DataFrame] = []

    def build() -> DataFrame:
        docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
        lists = dedup.kept_shingle_lists(
            docs, "doc_id", "text", n, max_df, pin_registry=pinned
        )
        return dedup.shared_shingle_counts(lists, "doc_id")

    def cleanup() -> None:
        for df in pinned:  # the artifact replaces the in-memory cache
            df.unpersist()

    return materialized(
        spark,
        os.path.join(sf_dir, "documents.parquet"),
        f"overlap_counts|n={n}|df={max_df}",
        build,
        cleanup,
    )


def minhash_signature_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MATERIALIZED per-document MinHash signature table
    (doc_id, mh0..mh{K-1}) — THE stored dataset of a production dedup
    platform (~1e-4 the corpus bytes): text is shingled and hashed once
    per corpus version, and every signature consumer — LSH candidate
    banding, signature-estimate verification, cluster building — bands
    or joins the store instead of re-touching text.  All columns are
    BIGINT (Carter-Wegman h1 + j*h2 minima), so the parquet roundtrip
    is exact.  `dedup_incremental_persisted` keeps its own partial
    (corpus-minus-batch) table: its point is the daily write path."""
    from confluent_kafka_streams_examples_spark.artifacts import (
        materialized,
        parquet_row_count,
    )

    def build() -> DataFrame:
        docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
        return dedup.minhash_signatures(docs, "doc_id", "text", num_hashes=_MH)

    # output size estimate from the SOURCE footer (driver-side, no
    # job): one signature row per document at ~(1 + K) longs — the
    # write parallelizes once that crosses a target file (guide §6)
    n_docs = parquet_row_count(os.path.join(sf_dir, "documents.parquet"))
    return materialized(
        spark,
        os.path.join(sf_dir, "documents.parquet"),
        f"minhash_sig|mh={_MH}|n=3",
        build,
        est_bytes=(n_docs or 0) * 9 * (_MH + 1),
    )


def cluster_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MATERIALIZED (doc_id, cluster_id, is_representative)
    near-duplicate cluster assignment — MinHash-LSH candidate pairs
    resolved into connected components once per source version, then
    read by both the clustering query and quality-based representative
    selection (and, in production, by every downstream job that needs
    the keep/drop decision).  The iterative min-label propagation is
    the most expensive non-linear stage in the dedup path; running it
    once per corpus version instead of once per consumer is exactly
    why the assignment is a stored dataset."""
    from confluent_kafka_streams_examples_spark.artifacts import (
        materialized,
        parquet_row_count,
    )
    from confluent_kafka_streams_examples_spark.operators.graph import (
        dedup_components,
    )

    def build() -> DataFrame:
        docs = load_table(spark, "documents", sf_dir).select("doc_id")
        pairs = dedup.minhash_lsh_pairs(
            None, "doc_id", "text", num_hashes=_MH, bands=_BANDS,
            sig=minhash_signature_table(spark, sf_dir),
        )
        return dedup_components(pairs, docs, "doc_id")

    # one ~17-byte assignment row per document (see minhash_signature_
    # table for the footer-based estimate pattern)
    n_docs = parquet_row_count(os.path.join(sf_dir, "documents.parquet"))
    return materialized(
        spark,
        os.path.join(sf_dir, "documents.parquet"),
        f"dedup_clusters|mh={_MH}|bands={_BANDS}",
        build,
        est_bytes=(n_docs or 0) * 17,
    )


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    keep AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= {_NGRAM_MAX_DF}),
    kept AS (SELECT sh.doc_id, sh.s FROM sh JOIN keep USING (s)),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM kept GROUP BY doc_id),
    shared AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
      FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT id_a, id_b,
           floor((shared / (sa.n_sh + sb.n_sh - shared)) * 1e4 + 0.5) / 1e4 AS jaccard
    FROM shared
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE floor((shared / (sa.n_sh + sb.n_sh - shared)) * 1e4 + 0.5) / 1e4 >= 0.4
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact pairwise 3-gram Jaccard >= 0.4 via posting-list expansion
    (never an all-pairs product), with the hot-shingle DF cap applied
    before pair generation (operators/dedup.py max_df), scored off the
    materialized shared-count artifact one shingle shuffle built for
    the whole overlap family."""
    return dedup.ngram_jaccard_pairs(
        None, "doc_id", "text", n=3, threshold=0.4, max_df=_NGRAM_MAX_DF,
        counts=shared_counts_table(spark, sf_dir),
    )


@query(
    "dedup_containment",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    keep AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= {_NGRAM_MAX_DF}),
    kept AS (SELECT sh.doc_id, sh.s FROM sh JOIN keep USING (s)),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM kept GROUP BY doc_id),
    shared AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
      FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    both_dir AS (
      SELECT id_a, id_b, shared, sa.n_sh AS n_small
      FROM shared JOIN sizes sa ON sa.doc_id = id_a
      UNION ALL
      SELECT id_b AS id_a, id_a AS id_b, shared, sb.n_sh AS n_small
      FROM shared JOIN sizes sb ON sb.doc_id = id_b)
    SELECT id_a, id_b,
           floor((shared / CAST(n_small AS DOUBLE)) * 1e4 + 0.5) / 1e4
             AS containment
    FROM both_dir
    WHERE n_small >= 5
      AND floor((shared / CAST(n_small AS DOUBLE)) * 1e4 + 0.5) / 1e4 >= 0.8
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional containment dedup (Broder): ordered (id_a, id_b)
    pairs where >= 80% of A's 3-gram shingles also occur in B — the
    embedded-duplicate detector symmetric Jaccard structurally misses
    (a short doc quoted whole inside a long one scores Jaccard ~ |A|/|B|
    but containment ~ 1).  Reads the SAME materialized shared-count
    artifact as dedup_ngram_jaccard; the direction pass is a projection
    union, not a second join (operators/dedup.py containment_pairs)."""
    return dedup.containment_pairs(
        None, "doc_id", "text", n=3, threshold=0.8,
        max_df=_NGRAM_MAX_DF, min_shingles=5,
        counts=shared_counts_table(spark, sf_dir),
    )


@query(
    "dedup_overlap_scores",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    keep AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= {_NGRAM_MAX_DF}),
    kept AS (SELECT sh.doc_id, sh.s FROM sh JOIN keep USING (s)),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM kept GROUP BY doc_id),
    shared AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
      FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT id_a, id_b, CAST(shared AS BIGINT) AS shared,
           floor((shared / (sa.n_sh + sb.n_sh - shared)) * 1e4 + 0.5) / 1e4
             AS jaccard,
           floor((shared / CAST(sa.n_sh AS DOUBLE)) * 1e4 + 0.5) / 1e4
             AS cont_a_in_b,
           floor((shared / CAST(sb.n_sh AS DOUBLE)) * 1e4 + 0.5) / 1e4
             AS cont_b_in_a
    FROM shared
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE shared >= 3
    """,
)
def dedup_overlap_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every overlap measure of the Jaccard family — symmetric Jaccard
    plus BOTH containment directions — for every candidate pair with
    >= 3 shared kept shingles, in ONE map-only projection over the
    materialized shared-count artifact: the registry-visible proof that
    one shingle shuffle serves every scorer.  At 100 TB this is the
    pair-scoring pass a dedup review queue runs off the stored pair
    table; no text, no shingles, no shuffle — just arithmetic over
    (shared, n_a, n_b)."""
    counts = shared_counts_table(spark, sf_dir)
    from confluent_kafka_streams_examples_spark.functions.scalar import round_det

    return counts.filter(F.col("shared") >= 3).select(
        "id_a",
        "id_b",
        F.col("shared").cast("bigint").alias("shared"),
        round_det(
            F.col("shared") / (F.col("n_a") + F.col("n_b") - F.col("shared")), 4
        ).alias("jaccard"),
        round_det(F.col("shared") / F.col("n_a").cast("double"), 4).alias(
            "cont_a_in_b"
        ),
        round_det(F.col("shared") / F.col("n_b").cast("double"), 4).alias(
            "cont_b_in_a"
        ),
    )


def _span_cte(rel: str, p: str = "") -> str:
    """Oracle CTE chain over relation ``rel(doc_id, text)``: maximal
    cross-document duplicated 5-gram spans (gaps-and-islands over
    duplicated positions).  ``p`` prefixes every CTE name so the chain
    can be embedded in WITH blocks that already bind toks/sh/etc."""
    return f"""
    {p}toks AS (SELECT doc_id, string_split(text, ' ') AS tk
             FROM {rel}),
    {p}grams AS (
      SELECT doc_id, u.i AS pos,
             concat_ws(' ', tk[i], tk[i + 1], tk[i + 2], tk[i + 3],
                       tk[i + 4]) AS g
      FROM {p}toks, unnest(range(1, greatest(len(tk) - 3, 1))) u(i)
      WHERE len(tk) - i >= 4),
    {p}dup AS (SELECT g FROM {p}grams GROUP BY g
            HAVING count(DISTINCT doc_id) >= 2),
    {p}hits AS (SELECT doc_id, pos FROM {p}grams JOIN {p}dup USING (g)),
    {p}isl AS (
      SELECT doc_id, pos,
             CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id
                                            ORDER BY pos) <= 5
                  THEN 0 ELSE 1 END AS brk
      FROM {p}hits),
    {p}grp AS (
      SELECT doc_id, pos,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS UNBOUNDED PRECEDING) AS isle
      FROM {p}isl),
    {p}spans AS (
      SELECT doc_id,
             CAST(min(pos) AS BIGINT) AS span_start,
             CAST(max(pos) + 4 AS BIGINT) AS span_end,
             CAST(max(pos) + 5 - min(pos) AS BIGINT) AS span_tokens
      FROM {p}grp GROUP BY doc_id, isle)
"""


#: the default span chain over the raw documents table
_SPAN_CTE = _span_cte("documents")


@query(
    "dedup_duplicate_spans",
    oracle=f"""
    WITH {_SPAN_CTE}
    SELECT doc_id, span_start, span_end, span_tokens FROM spans
    """,
)
def dedup_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level exact dedup (operators/dedup.py duplicate_spans):
    maximal token spans whose 5-grams occur in >= 2 distinct documents —
    the Lee-et-al. ExactSubstr pass that doc-level dedup structurally
    misses (a boilerplate paragraph shared by thousands of otherwise
    unique pages).  Reports WHERE the duplication is, so cleaning can
    cut the span, not the document.  Shuffle volume: one partial-agg on
    8-byte gram hashes, then only the duplicated positions ever reach
    the per-document merge window."""
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    return dedup.duplicate_spans(docs, "doc_id", "text", n=5, min_docs=2)


@query(
    "dedup_span_removal",
    oracle=f"""
    WITH {_SPAN_CTE},
    pos AS (SELECT doc_id, u.p, tk[p] AS tok
            FROM toks, unnest(range(1, len(tk) + 1)) u(p)),
    rem AS (SELECT DISTINCT p.doc_id, p.p
            FROM pos p JOIN spans s
              ON p.doc_id = s.doc_id
             AND p.p BETWEEN s.span_start AND s.span_end)
    SELECT p.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(count(r.p) AS BIGINT) AS n_removed,
           md5(COALESCE(string_agg(CASE WHEN r.p IS NULL THEN p.tok END,
                                   ' ' ORDER BY p.p), '')) AS clean_hash
    FROM pos p LEFT JOIN rem r ON p.doc_id = r.doc_id AND p.p = r.p
    GROUP BY p.doc_id
    """,
)
def dedup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level corpus cleaning (operators/dedup.py
    remove_duplicate_spans): cut the duplicated spans out of every
    document — keep the document.  One row per input doc with token
    counts before/removed and the md5 of the cleaned body (32 bytes to
    the driver, never the text).  The map-side array filter does the
    surgery; only the tiny (start, end) span structs ever join back to
    the corpus."""
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    return dedup.remove_duplicate_spans(docs, "doc_id", "text", n=5, min_docs=2)


_MH = 16
_BANDS = 4


def _hex_to_int_sql(expr: str, start: int, width: int) -> str:
    """SQL: parse hex chars [start, start+width) of ``expr`` as BIGINT
    (mirrors Spark's conv(substring(...), 16, 10))."""
    terms = [
        f"{_hexval(expr, start + i)} * {16 ** (width - 1 - i)}"
        for i in range(width)
    ]
    return "(" + " + ".join(terms) + ")"


# Carter-Wegman permutations over the two 48-bit digest halves — mirrors
# dedup.minhash_signatures exactly (one md5 per shingle).
_SIG_COLS = ",\n      ".join(
    f"min(h1 + {j} * h2) AS mh{j}" for j in range(_MH)
)
_BAND_SELECTS = "\n      UNION ALL ".join(
    "SELECT doc_id, {bi} AS band_idx, concat_ws('|', {cols}) AS band_sig FROM sig".format(
        bi=bi,
        cols=", ".join(f"mh{bi * (_MH // _BANDS) + r}" for r in range(_MH // _BANDS)),
    )
    for bi in range(_BANDS)
)


@query(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    hashed AS (
      SELECT doc_id,
             {_hex_to_int_sql('md5(s)', 1, 12)} AS h1,
             {_hex_to_int_sql('md5(s)', 13, 12)} AS h2
      FROM sh),
    sig AS (SELECT doc_id, {_SIG_COLS} FROM hashed GROUP BY doc_id),
    banded AS ({_BAND_SELECTS})
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM banded a
    JOIN banded b ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig
                 AND a.doc_id < b.doc_id
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16)+LSH(4 bands) candidate near-dup pairs — the sublinear
    scale path: candidates come only from shared band buckets.  Bands
    the materialized signature store (minhash_signature_table), so the
    candidate pass never touches text."""
    return dedup.minhash_lsh_pairs(
        None, "doc_id", "text", num_hashes=_MH, bands=_BANDS,
        sig=minhash_signature_table(spark, sf_dir),
    )


_MH_MATCHING = " + ".join(
    f"CASE WHEN sa.mh{j} = sb.mh{j} THEN 1 ELSE 0 END" for j in range(_MH)
)
_MH_MIN_MATCHING = _MH // 2


@query(
    "dedup_minhash_verify",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    hashed AS (
      SELECT doc_id,
             {_hex_to_int_sql('md5(s)', 1, 12)} AS h1,
             {_hex_to_int_sql('md5(s)', 13, 12)} AS h2
      FROM sh),
    sig AS (SELECT doc_id, {_SIG_COLS} FROM hashed GROUP BY doc_id),
    banded AS ({_BAND_SELECTS}),
    pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a
      JOIN banded b ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig
                   AND a.doc_id < b.doc_id),
    scored AS (
      SELECT p.id_a, p.id_b,
             CAST({_MH_MATCHING} AS INTEGER) AS matching
      FROM pairs p
      JOIN sig sa ON sa.doc_id = p.id_a
      JOIN sig sb ON sb.doc_id = p.id_b)
    SELECT id_a, id_b, matching,
           floor(matching / {_MH}.0 * 1e4 + 0.5) / 1e4 AS est_jaccard
    FROM scored WHERE matching >= {_MH_MIN_MATCHING}
    """,
)
def dedup_minhash_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidates verified by MinHash-estimated Jaccard (fraction of
    agreeing signature components, >= 8/16) — the signature-only middle
    stage of the dedup cascade; candidates never re-touch text.  Both
    the banding and the verification join read the materialized
    signature store."""
    return dedup.minhash_estimate_pairs(
        None, "doc_id", "text", num_hashes=_MH, bands=_BANDS,
        min_matching=_MH_MIN_MATCHING,
        sig=minhash_signature_table(spark, sf_dir),
    )


@query(
    "dedup_lsh_recall_eval",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    keep AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= {_NGRAM_MAX_DF}),
    kept AS (SELECT sh.doc_id, sh.s FROM sh JOIN keep USING (s)),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM kept GROUP BY doc_id),
    shared AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
      FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    truth AS (
      SELECT id_a, id_b FROM shared
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE floor((shared / (sa.n_sh + sb.n_sh - shared)) * 1e4 + 0.5) / 1e4
            >= 0.4),
    hashed AS (
      SELECT doc_id,
             {_hex_to_int_sql('md5(s)', 1, 12)} AS h1,
             {_hex_to_int_sql('md5(s)', 13, 12)} AS h2
      FROM sh),
    sig AS (SELECT doc_id, {_SIG_COLS} FROM hashed GROUP BY doc_id),
    banded AS ({_BAND_SELECTS}),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a
      JOIN banded b ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig
                   AND a.doc_id < b.doc_id),
    hit AS (SELECT t.id_a, t.id_b FROM truth t JOIN cand c
            ON t.id_a = c.id_a AND t.id_b = c.id_b)
    SELECT CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_truth,
           CAST((SELECT count(*) FROM cand) AS BIGINT) AS n_cand,
           CAST((SELECT count(*) FROM hit) AS BIGINT) AS n_hit,
           floor((SELECT count(*) FROM hit)
                 / CAST((SELECT count(*) FROM truth) AS DOUBLE) * 1e4 + 0.5)
             / 1e4 AS recall,
           floor((SELECT count(*) FROM hit)
                 / CAST((SELECT count(*) FROM cand) AS DOUBLE) * 1e4 + 0.5)
             / 1e4 AS precision
    """,
)
def dedup_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-generator quality eval — the measurement every
    production dedup pipeline needs before trusting its bands: recall
    and precision of the MinHash-LSH candidate pairs against exact
    n-gram-Jaccard ground truth (threshold 0.4, same max_df cap).  The
    ann_recall_eval of the text-dedup path.

    Scale note: exact ground truth is only computable on a sample at
    100 TB — run this query on a hash-bucketed corpus sample
    (corpus_split_assignment's bucketing) and the recall estimate is
    unbiased; the LSH side's cost is the same sublinear band join as
    production.  One row out; both pair sets reduce to counts via
    broadcast-joinable frames.  Both sides read materialized artifacts
    (the shared-count table for ground truth, the signature store for
    the LSH side).  Each pair table is referenced twice (the hit join
    and its own count) and neither is cached: the LSH side's second
    reference reads its pair-dedup shuffle through exchange reuse, and
    the truth side re-scans the small shared-count artifact."""
    truth = (
        dedup.ngram_jaccard_pairs(
            None, "doc_id", "text", n=3, threshold=0.4,
            max_df=_NGRAM_MAX_DF,
            counts=shared_counts_table(spark, sf_dir),
        )
        .select("id_a", "id_b")
    )
    cand = dedup.minhash_lsh_pairs(
        None, "doc_id", "text", num_hashes=_MH, bands=_BANDS,
        sig=minhash_signature_table(spark, sf_dir),
    )
    hit = truth.join(cand, ["id_a", "id_b"])
    counts = (
        truth.agg(F.count(F.lit(1)).cast("long").alias("n_truth"))
        .crossJoin(cand.agg(F.count(F.lit(1)).cast("long").alias("n_cand")))
        .crossJoin(hit.agg(F.count(F.lit(1)).cast("long").alias("n_hit")))
    )
    from confluent_kafka_streams_examples_spark.functions.scalar import round_det

    return counts.select(
        "n_truth",
        "n_cand",
        "n_hit",
        round_det(F.col("n_hit") / F.col("n_truth").cast("double"), 4).alias("recall"),
        round_det(F.col("n_hit") / F.col("n_cand").cast("double"), 4).alias(
            "precision"
        ),
    )


#: deterministic "daily batch" split: md5 bucket of doc_id < 10 => the
#: new 10%; the rest plays the role of the already-deduped corpus
_INC_BUCKET_SQL = f"{_hex_to_int_sql('md5(CAST(doc_id AS VARCHAR))', 1, 4)} % 100"


@query(
    "dedup_incremental",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    hashed AS (
      SELECT doc_id,
             {_hex_to_int_sql('md5(s)', 1, 12)} AS h1,
             {_hex_to_int_sql('md5(s)', 13, 12)} AS h2
      FROM sh),
    sig AS (SELECT doc_id, {_SIG_COLS} FROM hashed GROUP BY doc_id),
    banded AS ({_BAND_SELECTS}),
    tagged AS (
      SELECT b.*, ({_INC_BUCKET_SQL} < 10) AS is_new FROM banded b)
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           CASE WHEN b.is_new THEN 'batch' ELSE 'corpus' END AS match_src
    FROM tagged a
    JOIN tagged b ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig
    WHERE a.is_new
      AND (NOT b.is_new OR a.doc_id < b.doc_id)
    """,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-ingest dedup: the deterministic 10% md5-bucket of documents
    plays the new batch, the rest the stored corpus (its signature table
    is computed here but is a precomputed stored dataset in production).
    New docs match against corpus signatures and each other; old x old
    pairs are never generated, so daily cost tracks batch size."""
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    from confluent_kafka_streams_examples_spark.queries_corpus import _bucket

    is_new = _bucket(F.col("doc_id")) < 10
    new_docs = docs.filter(is_new)
    corpus_sig = dedup.minhash_signatures(
        docs.filter(~is_new), "doc_id", "text", num_hashes=_MH
    )
    return dedup.incremental_minhash_pairs(
        new_docs, corpus_sig, "doc_id", "text", num_hashes=_MH, bands=_BANDS
    )


def _sig_table_path(sf_dir: str) -> str:
    """Deterministic scratch location for the persisted corpus MinHash
    signature table of one sf directory (overwritten per run; /tmp —
    never the repo or the read-only testdata)."""
    import hashlib
    import os
    import tempfile

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    return os.path.join(tempfile.gettempdir(), f"ckse_corpus_sig_{tag}")


@query(
    "dedup_incremental_persisted",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    hashed AS (
      SELECT doc_id,
             {_hex_to_int_sql('md5(s)', 1, 12)} AS h1,
             {_hex_to_int_sql('md5(s)', 13, 12)} AS h2
      FROM sh),
    sig AS (SELECT doc_id, {_SIG_COLS} FROM hashed GROUP BY doc_id),
    banded AS ({_BAND_SELECTS}),
    tagged AS (
      SELECT b.*, ({_INC_BUCKET_SQL} < 10) AS is_new FROM banded b)
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           CASE WHEN b.is_new THEN 'batch' ELSE 'corpus' END AS match_src
    FROM tagged a
    JOIN tagged b ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig
    WHERE a.is_new
      AND (NOT b.is_new OR a.doc_id < b.doc_id)
    """,
)
def dedup_incremental_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_incremental run the way production runs it: the corpus
    MinHash signature table is WRITTEN TO PARQUET once (the ~1e-4-of-
    corpus-bytes stored dataset prior runs left behind) and the daily
    batch matches against the STORED table — the corpus parquet is
    never re-read, let alone re-shingled, on the daily path
    (plan-asserted in tests/test_plans.py: exactly one documents scan,
    belonging to the new batch).  Same oracle as dedup_incremental —
    the signature roundtrip is exact (BIGINT columns), so the stored
    and recomputed paths must agree row-for-row.  Reference analog:
    a compacted changelog topic restoring a state store instead of
    replaying the source (KTableExample.scala:52-56)."""
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    from confluent_kafka_streams_examples_spark.artifacts import (
        parquet_row_count,
        write_partitions,
    )
    from confluent_kafka_streams_examples_spark.queries_corpus import _bucket

    is_new = _bucket(F.col("doc_id")) < 10
    sig_path = _sig_table_path(sf_dir)
    corpus_sig_df = dedup.minhash_signatures(
        docs.filter(~is_new), "doc_id", "text", num_hashes=_MH
    )
    # file count scales with the corpus (guide §6): ~(1+K) longs per
    # surviving document, estimated from the source footer — one file
    # at bench scale (plan unchanged), a parallel write instead of a
    # single-task funnel once the table crosses a target file
    n_docs = parquet_row_count(os.path.join(sf_dir, "documents.parquet"))
    n_parts = write_partitions((n_docs or 0) * 9 * (_MH + 1), spark)
    if n_parts > 1:
        corpus_sig_df = corpus_sig_df.repartition(n_parts)
    corpus_sig_df.write.mode("overwrite").parquet(sig_path)
    corpus_sig = spark.read.schema(corpus_sig_df.schema).parquet(sig_path)
    return dedup.incremental_minhash_pairs(
        docs.filter(is_new), corpus_sig, "doc_id", "text",
        num_hashes=_MH, bands=_BANDS,
    )


_BITS = 16
_V_EXPR = (
    f"{_hexval('md5(token)', 1)} * 4096 + {_hexval('md5(token)', 2)} * 256 + "
    f"{_hexval('md5(token)', 3)} * 16 + {_hexval('md5(token)', 4)}"
)
_BIT_SUMS = ",\n      ".join(
    f"sum(2 * ((v >> {b}) & 1) - 1) AS s{b}" for b in range(_BITS)
)
_FP_EXPR = " + ".join(
    f"CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(_BITS)
)


@query(
    "dedup_simhash",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    h AS (SELECT doc_id, {_V_EXPR} AS v FROM tok),
    bitsums AS (SELECT doc_id, {_BIT_SUMS} FROM h GROUP BY doc_id)
    SELECT doc_id, CAST({_FP_EXPR} AS BIGINT) AS simhash FROM bitsums
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit frequency-weighted SimHash fingerprint per document."""
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    return dedup.simhash(docs, "doc_id", "text", bits=_BITS)


# 64-bit SimHash oracle: two 32-bit halves (signed-BIGINT-safe in every
# engine), 64 bit-sign sums, 4x16-bit banded Hamming candidate join,
# exact popcount verify — mirrors dedup.simhash64_candidates.
_SH64_BIT_SUMS = ",\n      ".join(
    f"sum(2 * ((v_{half} >> {b}) & 1) - 1) AS {half}{b}"
    for half in ("lo", "hi")
    for b in range(32)
)
_SH64_FP = {
    half: " + ".join(
        f"CASE WHEN {half}{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(32)
    )
    for half in ("lo", "hi")
}
_SH64_BANDS = "\n      UNION ALL ".join(
    f"SELECT doc_id, {i} AS band_idx, {expr} AS band_bits FROM fp"
    for i, expr in enumerate(
        [
            "sim_lo & 65535",
            "(sim_lo >> 16) & 65535",
            "sim_hi & 65535",
            "(sim_hi >> 16) & 65535",
        ]
    )
)


@query(
    "dedup_simhash64",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    h AS (SELECT doc_id,
                 {_hex_to_int_sql('md5(token)', 1, 8)} AS v_lo,
                 {_hex_to_int_sql('md5(token)', 9, 8)} AS v_hi
          FROM tok),
    bitsums AS (SELECT doc_id, {_SH64_BIT_SUMS} FROM h GROUP BY doc_id),
    fp AS (SELECT doc_id,
                  CAST({_SH64_FP['hi']} AS BIGINT) AS sim_hi,
                  CAST({_SH64_FP['lo']} AS BIGINT) AS sim_lo
           FROM bitsums),
    banded AS ({_SH64_BANDS}),
    pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a
      JOIN banded b ON a.band_idx = b.band_idx AND a.band_bits = b.band_bits
                   AND a.doc_id < b.doc_id)
    SELECT p.id_a, p.id_b,
           CAST(bit_count(xor(fa.sim_hi, fb.sim_hi))
                + bit_count(xor(fa.sim_lo, fb.sim_lo)) AS INTEGER) AS hamming
    FROM pairs p
    JOIN fp fa ON fa.doc_id = p.id_a
    JOIN fp fb ON fb.doc_id = p.id_b
    WHERE bit_count(xor(fa.sim_hi, fb.sim_hi))
          + bit_count(xor(fa.sim_lo, fb.sim_lo)) <= 3
    """,
)
def dedup_simhash64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash near-dup candidates within Hamming distance 3 via
    4x16-bit banded bucketing (pigeonhole-complete for distance <= 3)
    plus exact popcount verification — the web-corpus-scale form of the
    16-bit ``dedup_simhash`` fingerprint query."""
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    return dedup.simhash64_candidates(docs, "doc_id", "text", max_hamming=3)


# =====================================================================
# Similarity search
# =====================================================================

@query(
    "similarity_topk",
    oracle="""
    WITH n AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      FROM embeddings
    ),
    q AS (SELECT v AS qv, nrm AS qnrm FROM n WHERE vec_id = 0)
    SELECT n.vec_id, round(list_inner_product(n.v, q.qv) / (n.nrm * q.qnrm), 6) AS cos_sim
    FROM n, q
    WHERE n.vec_id != 0
    ORDER BY cos_sim DESC, vec_id
    LIMIT 10
    """,
)
def similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 against vec_id=0 — JVM-side zip_with/
    aggregate dot product, TakeOrdered top-k (no global sort)."""
    emb = load_table(spark, "embeddings", sf_dir)
    return similarity.cosine_topk(emb, query_id=0, k=10)


_TOPK_BATCH_IDS = [0, 1, 2, 3]


@query(
    "similarity_topk_batch",
    oracle=f"""
    WITH n AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm FROM n
          WHERE vec_id IN ({", ".join(map(str, _TOPK_BATCH_IDS))})),
    scored AS (
      SELECT q.query_id, n.vec_id,
             round(list_inner_product(n.v, q.qv) / (n.nrm * q.qnrm), 6) AS cos_sim
      FROM n JOIN q ON n.vec_id != q.query_id),
    ranked AS (
      SELECT query_id, vec_id, cos_sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, vec_id) AS rn
      FROM scored)
    SELECT query_id, vec_id, cos_sim FROM ranked WHERE rn <= 10
    """,
)
def similarity_topk_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 neighbors for a BATCH of 4 query vectors in one corpus
    scan: broadcast query matrix, JVM-side dot products, per-query
    rank-limit window (WindowGroupLimit keeps the exchange at
    O(partitions x Q x k) rows)."""
    emb = load_table(spark, "embeddings", sf_dir)
    return similarity.cosine_topk_batch(emb, _TOPK_BATCH_IDS, k=10)


@query(
    "similarity_pairs_label",
    oracle="""
    WITH n AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS v,
             sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      FROM embeddings
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(list_inner_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cos_sim
    FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE round(list_inner_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= 0.2
    """,
)
def similarity_pairs_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style pruned pairwise similarity: pairs computed only within a
    coarse partition (label), one numpy matmul per partition via
    applyInPandas — cost is sum of bucket n_i^2, not global n^2."""
    emb = load_table(spark, "embeddings", sf_dir)
    return similarity.cosine_pairs_partitioned(emb, "label", "vec_id", "embedding", 0.2)


# =====================================================================
# Text analysis
# =====================================================================

_STOP_SQL = ", ".join(f"'{s}'" for s in text.STOPWORDS)


@query(
    "text_stats",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, text, string_split(text, ' ') AS tk FROM documents
    ),
    r AS (
      SELECT doc_id,
             len(tk) AS n_tokens,
             len(regexp_extract_all(text, '[a-z0-9]+')) AS n_regex_tokens,
             (length(text) - (len(tk) - 1)) / len(tk) AS raw_avg_len,
             len(list_filter(tk, x -> list_contains([{_STOP_SQL}], x))) / len(tk) AS raw_stop,
             len(list_distinct(tk)) / len(tk) AS raw_uniq
      FROM t
    )
    SELECT doc_id, n_tokens, n_regex_tokens,
           floor((raw_avg_len) * 1e4 + 0.5) / 1e4 AS avg_token_len,
           floor((raw_stop) * 1e4 + 0.5) / 1e4 AS stopword_ratio,
           floor((raw_uniq) * 1e4 + 0.5) / 1e4 AS uniq_ratio,
           floor((least(1.0, n_tokens / 100.0) * (1.0 - raw_stop * 0.5) * raw_uniq) * 1e4 + 0.5) / 1e4
             AS quality_score
    FROM r
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality features (token counts, ratios, heuristic
    quality score) — all built-in array/regexp expressions."""
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    return text.text_stats(docs, "doc_id", "text")


@query(
    "doc_fingerprint_dups",
    oracle="""
    SELECT md5(lower(trim(text))) AS fingerprint,
           min(doc_id) AS keep_id, count(*) AS n_docs
    FROM documents
    GROUP BY 1 HAVING count(*) > 1
    """,
)
def doc_fingerprint_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-content fingerprint groups with more than one member."""
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    return text.fingerprint_dup_groups(docs, "doc_id", "text")


@query(
    "lang_profile",
    oracle="""
    SELECT lang, source, count(*) AS n_docs,
           round(avg(n_chars), 4) AS avg_chars,
           round(avg(len(string_split(text, ' '))), 4) AS avg_tokens
    FROM documents GROUP BY lang, source
    """,
)
def lang_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus audit: language x source distribution with length stats."""
    docs = load_table(spark, "documents", sf_dir)
    return text.lang_profile(docs)


@query(
    "lang_id_heuristic",
    oracle=f"""
    WITH s AS (
      SELECT doc_id,
             len(list_filter(string_split(text, ' '),
                             x -> list_contains([{_STOP_SQL}], x)))
               / len(string_split(text, ' ')) AS score
      FROM documents
    )
    SELECT doc_id, floor((score) * 1e4 + 0.5) / 1e4 AS en_score, score >= 0.05 AS pred_en FROM s
    """,
)
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language-ID heuristic score per document."""
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    return text.lang_id_heuristic(docs, "doc_id", "text")


# =====================================================================
# Multimodal
# =====================================================================

@query(
    "multimodal_features",
    oracle=f"""
    SELECT doc_id AS media_id,
           octet_length(encode(text)) AS byte_len,
           md5(text) AS content_md5,
           CAST({_hexval('md5(text)', 1)} * 16 + {_hexval('md5(text)', 2)} AS BIGINT)
             AS fake_width,
           CAST({_hexval('md5(text)', 3)} * 16 + {_hexval('md5(text)', 4)} AS BIGINT)
             AS fake_height
    FROM documents
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload feature extraction through the real mapInPandas
    plumbing (Arrow batches, binary column, typed output schema); decode
    is the deterministic fake (md5-derived dims) — see operators.multimodal
    for the stubbed real-decode hook."""
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    blobs = multimodal.to_blob_table(docs, "doc_id", "text", media_type="image")
    return multimodal.extract_features(blobs)


@query(
    "token_frequencies",
    oracle="""
    WITH tok AS (
      SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    counts AS (
      SELECT lang, token, count(*) AS n FROM tok GROUP BY lang, token
    )
    SELECT lang, token, n
    FROM counts
    QUALIFY row_number() OVER (PARTITION BY lang ORDER BY n DESC, token) <= 5
    """,
)
def token_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 tokens per language: the 1->N explode (batch UDTF shape,
    SURVEY §2.6 U4) + grouped count + per-key ranking.  One explode, two
    keyed shuffles, deterministic (count desc, token) ordering."""
    from pyspark.sql import Window

    docs = load_table(spark, "documents", sf_dir).select("lang", "text")
    tok = docs.select("lang", F.explode(F.split(F.col("text"), " ")).alias("token"))
    counts = tok.groupBy("lang", "token").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("token"))
    return (
        counts.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 5)
        .drop("_rn")
    )


@query(
    "neardup_verify_levenshtein",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    hashed AS (
      SELECT doc_id,
             {_hex_to_int_sql('md5(s)', 1, 12)} AS h1,
             {_hex_to_int_sql('md5(s)', 13, 12)} AS h2
      FROM sh),
    sig AS (SELECT doc_id, {_SIG_COLS} FROM hashed GROUP BY doc_id),
    banded AS ({_BAND_SELECTS}),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a
      JOIN banded b ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig
                   AND a.doc_id < b.doc_id)
    SELECT id_a, id_b, levenshtein(da.text, db.text) AS edit_distance
    FROM cand
    JOIN documents da ON da.doc_id = id_a
    JOIN documents db ON db.doc_id = id_b
    WHERE levenshtein(da.text, db.text) <= 50
    """,
)
def neardup_verify_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full near-dup pipeline: MinHash-LSH candidate generation
    (sublinear) -> exact edit-distance verification ONLY on the tiny
    candidate set (levenshtein is O(len^2) per pair — running it on all
    n^2 pairs is exactly what LSH avoids at 100 TB)."""
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    cand = dedup.minhash_lsh_pairs(docs, "doc_id", "text", num_hashes=_MH, bands=_BANDS)
    da = docs.select(F.col("doc_id").alias("id_a"), F.col("text").alias("_ta"))
    db = docs.select(F.col("doc_id").alias("id_b"), F.col("text").alias("_tb"))
    # Two exact-semantics optimizations for the verify stage:
    #  - length prefilter: |len(a)-len(b)| > k implies edit distance > k,
    #    so those pairs never reach the DP at all;
    #  - bounded levenshtein (threshold=50): banded DP is O(len*k) per
    #    pair instead of O(len^2); returns -1 past the bound, which the
    #    <= k filter discards — surviving rows carry the exact distance.
    return (
        cand.join(da, "id_a")
        .join(db, "id_b")
        .filter(F.abs(F.length("_ta") - F.length("_tb")) <= 50)
        .withColumn(
            "edit_distance", F.levenshtein(F.col("_ta"), F.col("_tb"), 50)
        )
        .filter((F.col("edit_distance") >= 0) & (F.col("edit_distance") <= 50))
        .select("id_a", "id_b", "edit_distance")
    )


@query(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE {_SHINGLES_CTE},
    hashed AS (
      SELECT doc_id,
             {_hex_to_int_sql('md5(s)', 1, 12)} AS h1,
             {_hex_to_int_sql('md5(s)', 13, 12)} AS h2
      FROM sh),
    sig AS (SELECT doc_id, {_SIG_COLS} FROM hashed GROUP BY doc_id),
    banded AS ({_BAND_SELECTS}),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a
      JOIN banded b ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig
                   AND a.doc_id < b.doc_id),
    sym AS (SELECT id_a AS a, id_b AS b FROM cand
            UNION ALL SELECT id_b, id_a FROM cand),
    reach(node, lbl) AS (
      SELECT DISTINCT a, a FROM sym
      UNION
      SELECT s.a, r.lbl FROM sym s JOIN reach r ON s.b = r.node),
    comp AS (SELECT node, min(lbl) AS cluster FROM reach GROUP BY node)
    SELECT d.doc_id,
           COALESCE(c.cluster, d.doc_id) AS cluster_id,
           d.doc_id = COALESCE(c.cluster, d.doc_id) AS is_representative
    FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs -> groups: MinHash-LSH candidate pairs clustered into
    duplicate components (operators/graph.py min-label propagation);
    every document gets a cluster_id (= min doc_id in its component,
    singletons cluster with themselves) and a keep/drop decision
    (is_representative).  The oracle computes the same components with
    a recursive CTE — exact semantic match, different algorithm.

    This completes the dedup pipeline: candidate generation (sublinear
    LSH) -> clustering (iterative, shuffle-per-round, ~log-diameter
    rounds) -> representative selection (pure projection).  The
    assignment is served from the materialized cluster artifact
    (cluster_assignments), built once per corpus version and shared
    with dedup_cluster_representatives."""
    return cluster_assignments(spark, sf_dir)


@query(
    "dedup_cluster_representatives",
    oracle=f"""
    WITH RECURSIVE {_SHINGLES_CTE},
    hashed AS (
      SELECT doc_id,
             {_hex_to_int_sql('md5(s)', 1, 12)} AS h1,
             {_hex_to_int_sql('md5(s)', 13, 12)} AS h2
      FROM sh),
    sig AS (SELECT doc_id, {_SIG_COLS} FROM hashed GROUP BY doc_id),
    banded AS ({_BAND_SELECTS}),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a
      JOIN banded b ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig
                   AND a.doc_id < b.doc_id),
    sym AS (SELECT id_a AS a, id_b AS b FROM cand
            UNION ALL SELECT id_b, id_a FROM cand),
    reach(node, lbl) AS (
      SELECT DISTINCT a, a FROM sym
      UNION
      SELECT s.a, r.lbl FROM sym s JOIN reach r ON s.b = r.node),
    comp AS (SELECT node, min(lbl) AS cluster FROM reach GROUP BY node),
    member AS (
      SELECT d.doc_id, COALESCE(c.cluster, d.doc_id) AS cluster_id,
             CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.node)
    SELECT cluster_id, doc_id AS rep_id, n_tokens AS rep_tokens,
           CAST(n_members AS BIGINT) AS n_members
    FROM (SELECT *, count(*) OVER (PARTITION BY cluster_id) AS n_members,
                 row_number() OVER (PARTITION BY cluster_id
                                    ORDER BY n_tokens DESC, doc_id) AS rn
          FROM member)
    WHERE rn = 1
    """,
)
def dedup_cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-based representative selection — the step after
    clustering in a real dedup pipeline: within every near-duplicate
    cluster keep the doc you'd actually train on (here: most tokens,
    ties to the smaller id), not blindly the minimum id the clustering
    label happens to be.  One row per cluster: (cluster_id, rep_id,
    rep_tokens, n_members).

    Scale shape: clusters are read from the SAME materialized
    assignment artifact as dedup_clusters (cluster_assignments — the
    iterative component loop runs once per corpus version, not once
    per consumer); the argmax is a WindowGroupLimit (top-1
    pre-filtered on both sides of the cluster_id shuffle) over
    (id, cluster, n_tokens) triples — document text never shuffles.
    Reference analog: reduce-to-representative over a grouped changelog
    (KTableExample.scala:52-62's latest-per-key, generalized to
    best-per-cluster)."""
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    comp = cluster_assignments(spark, sf_dir)
    member = comp.join(
        docs.select(
            "doc_id",
            F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens"),
        ),
        "doc_id",
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_tokens").desc(), F.col("doc_id")
    )
    wc = Window.partitionBy("cluster_id")
    return (
        member.withColumn("n_members", F.count(F.lit(1)).over(wc).cast("bigint"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("rep_id"),
            F.col("n_tokens").alias("rep_tokens"),
            "n_members",
        )
    )


#: clean-corpus oracle chain (quality gate -> exact dedup -> LSH
#: candidates -> connected components); terminal CTE ``kept`` holds the
#: surviving (doc_id, text) rows.  Requires WITH RECURSIVE.
_CLEAN_CORPUS_CTE = f"""
    tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
    tc AS (SELECT doc_id, token, count(*) AS c FROM tok GROUP BY 1, 2),
    stats AS (SELECT doc_id, sum(c) AS n_tokens,
                     max(c) / CAST(sum(c) AS DOUBLE) AS top_frac
              FROM tc GROUP BY doc_id),
    q AS (SELECT d.doc_id, d.text FROM documents d
          JOIN stats s ON s.doc_id = d.doc_id
          WHERE s.n_tokens BETWEEN 20 AND 5000 AND s.top_frac <= 0.15),
    e AS (SELECT min(doc_id) AS doc_id FROM q GROUP BY md5(text)),
    qe AS (SELECT q.doc_id, q.text FROM q JOIN e ON e.doc_id = q.doc_id),
    {_shingles_cte('qe').strip().rstrip()},
    hashed AS (
      SELECT doc_id,
             {_hex_to_int_sql('md5(s)', 1, 12)} AS h1,
             {_hex_to_int_sql('md5(s)', 13, 12)} AS h2
      FROM sh),
    sig AS (SELECT doc_id, {_SIG_COLS} FROM hashed GROUP BY doc_id),
    banded AS ({_BAND_SELECTS}),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a
      JOIN banded b ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig
                   AND a.doc_id < b.doc_id),
    sym AS (SELECT id_a AS a, id_b AS b FROM cand
            UNION ALL SELECT id_b, id_a FROM cand),
    reach(node, lbl) AS (
      SELECT DISTINCT a, a FROM sym
      UNION
      SELECT s.a, r.lbl FROM sym s JOIN reach r ON s.b = r.node),
    comp AS (SELECT node, min(lbl) AS cluster FROM reach GROUP BY node),
    kept AS (
      SELECT qe.doc_id, qe.text
      FROM qe LEFT JOIN comp c ON qe.doc_id = c.node
      WHERE COALESCE(c.cluster, qe.doc_id) = qe.doc_id)
"""


@query(
    "pipeline_clean_corpus",
    oracle=f"""
    WITH RECURSIVE
    {_CLEAN_CORPUS_CTE}
    SELECT doc_id, text FROM kept
    """,
)
def pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data pipeline end-to-end (pipeline.py):
    Gopher-style quality gate (20 <= tokens <= 5000, top-token
    dominance <= 0.15) -> exact dedup (md5, keep min id) -> near-dup
    dedup (MinHash-LSH pairs -> connected components -> keep the
    cluster representative).  Output = the cleaned corpus rows.

    Stage ordering is the scale decision: the token-count gates cost
    one partial-agg shuffle each and shrink the corpus BEFORE the
    expensive shingle/minhash stage runs.  The oracle replays the same
    three stages in SQL over the same intermediate views."""
    from confluent_kafka_streams_examples_spark.pipeline import clean_corpus

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    return clean_corpus(docs, sig=minhash_signature_table(spark, sf_dir))


@query(
    "pipeline_training_export",
    oracle=f"""
    WITH RECURSIVE
    {_CLEAN_CORPUS_CTE},
    {_span_cte('kept', 'x').strip().rstrip()},
    xpos AS (SELECT doc_id, u.p
             FROM xtoks, unnest(range(1, len(tk) + 1)) u(p)),
    xrem AS (SELECT DISTINCT p.doc_id, p.p
             FROM xpos p JOIN xspans s
               ON p.doc_id = s.doc_id
              AND p.p BETWEEN s.span_start AND s.span_end),
    sized AS (
      SELECT t.doc_id,
             {_hex_to_int_sql("md5(CAST(t.doc_id AS VARCHAR))", 1, 4)} % 8
               AS bucket,
             len(t.tk) - COALESCE(r.nrem, 0) AS n_tok
      FROM xtoks t
      LEFT JOIN (SELECT doc_id, count(*) AS nrem FROM xrem
                 GROUP BY doc_id) r
        ON t.doc_id = r.doc_id
      WHERE len(t.tk) - COALESCE(r.nrem, 0) > 0),
    packed AS (
      SELECT doc_id, bucket, n_tok,
             CAST(floor(COALESCE(sum(n_tok) OVER (
                    PARTITION BY bucket ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  / 512.0) AS BIGINT) AS seq_id
      FROM sized)
    SELECT bucket, seq_id,
           count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens,
           min(doc_id) AS first_doc,
           max(doc_id) AS last_doc
    FROM packed GROUP BY bucket, seq_id
    """,
)
def pipeline_training_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL raw-corpus -> trainer-batches path as one composed
    declarative plan, every stage individually oracle-verified
    elsewhere: Gopher-style quality gate -> exact dedup -> MinHash-LSH
    near-dup dedup (pipeline.clean_corpus) -> cross-document
    duplicated-SPAN removal over the survivors
    (dedup.remove_duplicate_spans) -> fixed-budget sequence packing
    (512 tokens, 8 md5-sharded packing workers, doc-preserving greedy
    concat).  Output: one row per packed training sequence.

    Stage order is the scale story: each stage shrinks or compresses
    what the next one reads — gates before shingles, doc-level dedup
    before span analysis, and packing sees only (id, token-count)
    pairs.  Fully-boilerplate documents (all tokens inside duplicated
    spans) drop out before packing.  Catalyst prunes the unused
    clean-hash projection from the span stage, so no text ever
    reconstructs; the whole pipeline is one lazy plan.  The oracle
    replays all five stages in a single WITH RECURSIVE chain over the
    same views."""
    from confluent_kafka_streams_examples_spark.pipeline import clean_corpus

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    cleaned = clean_corpus(docs, sig=minhash_signature_table(spark, sf_dir))
    # spread stays ON even though clean_corpus ends in a shuffle join:
    # AQE coalesces the survivors' small shuffle partitions down to a
    # handful, which would single-thread the gram explode (measured
    # 3.7s vs 4.4s at sf0.1 with spread off); at cluster scale the
    # join partitions stay wide and the spread is a cheap no-op
    scrubbed = dedup.remove_duplicate_spans(
        cleaned, "doc_id", "text", n=5, min_docs=2
    )
    sized = scrubbed.select(
        "doc_id",
        (F.col("n_tokens") - F.col("n_removed")).alias("n_tok"),
    ).filter(F.col("n_tok") > 0)
    # shards pinned to 8 for the oracle contract only; the operator
    # default scales the packing window with the cluster
    from confluent_kafka_streams_examples_spark.operators import text as text_ops

    packed = text_ops.pack_greedy(sized, budget=512, shards=8)
    return text_ops.pack_summary(packed)


@query(
    "doc_winnow_fingerprints",
    oracle=f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk
                  FROM documents),
    grams AS (
      SELECT doc_id, u.i AS pos,
             concat_ws(' ', tk[i], tk[i + 1], tk[i + 2]) AS gram
      FROM toks, unnest(range(1, greatest(len(tk) - 1, 1))) u(i)),
    hashed AS (
      SELECT doc_id, pos, {_hex_to_int_sql('md5(gram)', 1, 12)} AS h
      FROM grams),
    wins AS (
      SELECT doc_id,
             min(h) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
      FROM hashed)
    SELECT DISTINCT doc_id, fp FROM wins
    """,
)
def doc_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint selection (operators/dedup.py
    winnow_fingerprints): 3-gram hashes sampled by 4-wide sliding-window
    minima — guaranteed to share a fingerprint with any copied passage
    of >= 6 tokens while storing ~40% of the shingle hashes.  The
    index-size/robustness middle ground between the full inverted index
    and a whole-doc hash."""
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    return dedup.winnow_fingerprints(docs, "doc_id", "text", n=3, window=4)


@query(
    "bpe_pair_counts",
    oracle="""
    WITH toks AS (SELECT string_split(text, ' ') AS tk FROM documents),
    pairs AS (
      SELECT concat_ws(' ', tk[i], tk[i + 1]) AS pair
      FROM toks, unnest(range(1, greatest(len(tk), 1))) u(i))
    SELECT pair, CAST(count(*) AS BIGINT) AS n
    FROM pairs GROUP BY pair
    ORDER BY n DESC, pair LIMIT 50
    """,
)
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BPE-training inner loop as a corpus query: frequency of every
    ADJACENT token pair (occurrences, not distinct-per-doc), top 50 —
    the statistic a tokenizer-training pipeline recomputes per merge
    round.  Reuses the shingle machinery (dedup.shingles n=2,
    distinct=False: the dedup SHUFFLE is skipped because counting wants
    the multiset).  One partial-agg shuffle of (pair, count) partials —
    shuffle volume tracks pair vocabulary, not corpus length; top-k is
    TakeOrdered, never a global sort."""
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    sh = dedup.shingles(docs, "doc_id", "text", n=2, distinct=False)
    return (
        sh.groupBy(F.col("shingle").alias("pair"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy(F.col("n").desc(), F.col("pair"))
        .limit(50)
    )


def _bpe_rounds_oracle(rounds: int) -> str:
    """Unrolled merge rounds in DuckDB, on the same double-spaced
    padded-string representation as operators/text (every token owns
    its flanking spaces, so replace() IS greedy leftmost
    non-overlapping pair merging — run-parity exact)."""
    parts = [
        "WITH t0 AS (SELECT ' ' || replace(text, ' ', '  ') || ' ' AS s"
        " FROM documents)"
    ]
    for k in range(1, rounds + 1):
        parts.append(f""",
    p{k} AS (
      SELECT pair, CAST(count(*) AS BIGINT) AS n FROM (
        SELECT concat_ws(' ', tk[i], tk[i + 1]) AS pair FROM (
          SELECT string_split(trim(s), '  ') AS tk FROM t{k - 1}),
        unnest(range(1, greatest(len(tk), 1))) u(i))
      WHERE pair != '' GROUP BY pair),
    w{k} AS (
      SELECT {k} AS round, pair, n,
             string_split(pair, ' ')[1] AS l, string_split(pair, ' ')[2] AS r
      FROM p{k} ORDER BY n DESC, pair LIMIT 1),
    t{k} AS (
      SELECT replace(s, ' ' || l || '  ' || r || ' ',
                     ' ' || l || '##' || r || ' ') AS s
      FROM t{k - 1}, w{k})""")
    sel = "\n    UNION ALL ".join(
        f"SELECT round, pair, n FROM w{k}" for k in range(1, rounds + 1)
    )
    return "\n".join(parts) + "\n    " + sel


@query("bpe_merge_rounds", oracle=_bpe_rounds_oracle(3))
def bpe_merge_rounds_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer TRAINING, three merge rounds (VERDICT r10 #6):
    round r's winner is the most frequent adjacent pair over the
    corpus as rewritten by merges 1..r-1 — the rewrite-then-recount
    loop that distinguishes training from the bpe_pair_counts
    statistic.  Deterministic tie-breaks (count desc, pair asc);
    greedy leftmost non-overlapping merge application as a JVM array
    fold (operators/text._apply_merge — run-parity exact for
    left == right pairs); each round's winner is a persisted 1-row
    broadcast into the next round's rewrite, so the unrolled plan is
    rounds x (one corpus scan + one vocabulary-sized shuffle) with no
    driver collect anywhere.  The oracle unrolls the same three
    rounds in SQL with the identical list fold.  Reference analog:
    aggregate feeding the next topology stage
    (AggregationsExample.scala:36-44), iterated."""
    docs = load_table(spark, "documents", sf_dir).select("text")
    return text.bpe_merge_rounds(docs, "text", rounds=3)


@query(
    "corpus_chunk_documents",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk
                  FROM documents),
    starts AS (
      SELECT doc_id, tk, u.s
      FROM toks, unnest(range(0, greatest(len(tk), 1), 48)) u(s)
      WHERE s = 0 OR len(tk) - s > 16)
    SELECT doc_id,
           CAST(s / 48 AS BIGINT) AS chunk_idx,
           CAST(least(64, len(tk) - s) AS BIGINT) AS n_chunk_tokens,
           md5(array_to_string(tk[s + 1:s + 64], ' ')) AS chunk_hash
    FROM starts
    """,
)
def corpus_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-window chunking (operators/text.py chunk_documents):
    64-token chunks every 48 tokens (16-token overlap), trailing
    fully-overlapped tails dropped, chunk bodies carried as md5 so no
    join downstream ever shuffles text.  Pure map-side: split, slice
    per start offset, explode — no shuffle at any corpus size."""
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    return text.chunk_documents(docs, "doc_id", "text", chunk_size=64, stride=48)


@query(
    "lm_unigram_score",
    oracle="""
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
                 FROM documents),
    tc AS (SELECT doc_id, token, count(*) AS c FROM tok GROUP BY 1, 2),
    vocab AS (SELECT token, sum(c) AS cw FROM tc GROUP BY token),
    tot AS (SELECT sum(cw) AS total FROM vocab),
    logp AS (SELECT token,
                    CAST(floor(ln(cw / CAST(total AS DOUBLE)) * 1000000.0
                               + 0.5) AS BIGINT) AS lp_micro
             FROM vocab, tot),
    scored AS (
      SELECT tc.doc_id, tc.c, CAST(tc.c * l.lp_micro AS BIGINT) AS sm
      FROM tc JOIN logp l ON tc.token = l.token),
    per_doc AS (
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
             CAST(sum(sm) AS BIGINT) AS score_micro
      FROM scored GROUP BY doc_id)
    SELECT doc_id, n_tokens, score_micro,
           floor(((score_micro / CAST(n_tokens AS DOUBLE)) / 1000000.0)
                 * 1e4 + 0.5) / 1e4 AS avg_logp
    FROM per_doc
    """,
)
def lm_unigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM perplexity-style quality score per document
    (operators/text.py unigram_lm_scores): mean ln p(token) under the
    corpus's own unigram distribution — the statistical gate between
    ratio heuristics and a neural scorer.  Log-probs quantize to
    integer micro-units once per vocabulary entry; per-document scores
    are then exact integer arithmetic, so the result is shuffle-order
    independent and the only cross-engine exposure is a last-ulp ln()
    divergence landing within ~1e-9 of a floor boundary, bounded by
    vocabulary size."""
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    return text.unigram_lm_scores(docs, "doc_id", "text")


#: fixed keyword query for the BM25 retrieval demo — mid-frequency
#: terms from the synthetic vocabulary so idf has spread
_BM25_TERMS = ["join", "merge", "vector"]


@query(
    "bm25_search",
    oracle="""
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
                 FROM documents),
    dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
    stats AS (SELECT count(*) AS n_docs,
                     sum(dl) / CAST(count(*) AS DOUBLE) AS avgdl
              FROM dl),
    tf AS (SELECT doc_id, token, count(*) AS tf FROM tok
           WHERE token IN ('join', 'merge', 'vector')
           GROUP BY doc_id, token),
    dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
    idf AS (SELECT token,
                   ln(1.0 + (s.n_docs - df + 0.5) / (df + 0.5)) AS idf,
                   s.avgdl AS avgdl
            FROM dfreq, stats s),
    scored AS (
      SELECT tf.doc_id,
             CAST(floor(i.idf * ((tf.tf * 2.2) /
                    (tf.tf + 1.2 * (0.25 + 0.75 * (dl.dl / i.avgdl))))
                  * 1000000.0 + 0.5) AS BIGINT) AS sm
      FROM tf JOIN idf i ON tf.token = i.token
              JOIN dl ON tf.doc_id = dl.doc_id)
    SELECT doc_id, CAST(sum(sm) AS BIGINT) AS score_micro FROM scored GROUP BY doc_id
    ORDER BY score_micro DESC, doc_id LIMIT 20
    """,
)
def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword retrieval over the corpus: top-20 documents for a
    fixed 3-term query (k1=1.2, b=0.75, Lucene-form idf).  The
    retrieval primitive a training-data pipeline uses for targeted
    corpus slicing (find documents about X) and relevance-based
    filtering.

    Cross-engine determinism: per-(doc, term) partial scores are
    micronized to integers BEFORE the per-document sum (float addition
    isn't associative; integer addition is), and the score expression
    is written with the identical literal/parenthesization shape on
    both engines, so every IEEE op sees identical inputs.  The oracle
    is the same computation in DuckDB SQL."""
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    return text.bm25_rank(docs, _BM25_TERMS, "doc_id", "text", topk=20)


# =====================================================================
# Vocabulary coverage (tokenizer-fit curation signal)
# =====================================================================

_VOCAB_SIZE = 1000


@query(
    "vocab_coverage",
    oracle=f"""
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
                 FROM documents),
    cnt AS (SELECT token, count(*) AS c FROM tok GROUP BY token),
    vocab AS (SELECT token FROM cnt ORDER BY c DESC, token LIMIT {_VOCAB_SIZE}),
    per_doc AS (
      SELECT t.doc_id, count(*) AS n_tok,
             sum(CASE WHEN v.token IS NOT NULL THEN 1 ELSE 0 END) AS in_vocab
      FROM tok t LEFT JOIN vocab v ON t.token = v.token
      GROUP BY t.doc_id)
    SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
           CAST(in_vocab AS BIGINT) AS in_vocab,
           floor(in_vocab * 1.0 / n_tok * 1e4 + 0.5) / 1e4 AS coverage
    FROM per_doc
    """,
)
def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document coverage by the corpus's top-1000-token vocabulary
    (OOV rate = 1 - coverage) — the tokenizer-fit signal used to spot
    documents a fixed vocabulary represents poorly (code, other
    languages, mojibake).  The vocabulary is derived in one token-count
    aggregation with a deterministic count-then-token tie-break, then
    BROADCAST back against the token stream: the corpus-side cost is
    one explode + one groupBy(doc_id) — no shuffle keyed on tokens for
    the coverage pass."""
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    tok = dedup.tokens(docs, "doc_id", "text")
    vocab = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("token"))
        .limit(_VOCAB_SIZE)
        .select("token", F.lit(1).alias("_in_v"))
    )
    per_doc = (
        tok.join(F.broadcast(vocab), "token", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            F.sum(F.coalesce(F.col("_in_v"), F.lit(0))).cast("bigint").alias("in_vocab"),
        )
    )
    from confluent_kafka_streams_examples_spark.functions.scalar import round_det

    return per_doc.select(
        "doc_id",
        "n_tok",
        "in_vocab",
        round_det(F.col("in_vocab") / F.col("n_tok"), 4).alias("coverage"),
    )


@query(
    "ngram_novelty_scores",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    own AS (SELECT s, min(doc_id) AS first_doc FROM sh GROUP BY s)
    SELECT sh.doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(CASE WHEN own.first_doc = sh.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           floor(sum(CASE WHEN own.first_doc = sh.doc_id THEN 1 ELSE 0 END)
                 / count(*) * 1e4 + 0.5) / 1e4 AS novelty
    FROM sh JOIN own ON own.s = sh.s
    GROUP BY sh.doc_id
    """,
)
def ngram_novelty_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram NOVELTY — the curation diversity measure
    (how much of this doc's content is first seen HERE, in stable-id
    ingestion order?): share of a doc's distinct word 3-grams whose
    minimum owning doc_id is the doc itself.  Docs that merely restate
    earlier content score ~0 even when no single earlier doc is a
    near-duplicate — the cross-corpus redundancy signal MinHash
    pairwise dedup structurally misses (it needs ONE similar partner;
    novelty decays against the UNION of all predecessors).

    Scale shape: shingles hash to 8-byte longs BEFORE the distinct
    (operators/dedup.py::shingle_hashes — the shared-count-artifact
    idiom), so no exchange ever carries n-gram text: the hash never
    reaches the output, only counts and min-owner comparisons do, and
    the result matches the string-keyed oracle up to 2^-64 collisions
    (the house posture for every hashed-shingle consumer).  First-owner
    is a min() partial aggregate keyed on the hash; the ownership
    rejoin is co-partitioned with that aggregate's exchange (AQE reuses
    it), then one groupBy(doc_id) folds to a per-doc triple.  Total
    rows through every exchange = sum of document shingle counts —
    strictly LINEAR in corpus size, never pairwise.  A stop-phrase
    trigram shared by millions of docs makes one hot join key: linear
    rows, and AQE's skew-join split handles the partition imbalance
    (same posture as dedup.py::shared_shingle_counts).

    Reference analog: groupByKey+aggregate over a derived key
    (AggregationsExample.scala:36-41) — here the derived key is the
    content n-gram and the aggregate is first-owner.
    """
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    sh = dedup.shingle_hashes(docs, "doc_id", "text")  # distinct (id, hash)
    own = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        sh.join(own, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_novel"),
        )
    )
    from confluent_kafka_streams_examples_spark.functions.scalar import round_det

    return per_doc.select(
        "doc_id",
        "n_shingles",
        "n_novel",
        round_det(F.col("n_novel") / F.col("n_shingles"), 4).alias("novelty"),
    )


@query(
    "quality_histogram_threshold",
    oracle=f"""
    WITH t AS (
      SELECT lang, string_split(text, ' ') AS tk FROM documents
    ),
    r AS (
      SELECT lang,
             CAST(floor((least(1.0, len(tk) / 100.0)
                  * (1.0 - (len(list_filter(tk,
                        x -> list_contains([{_STOP_SQL}], x))) / len(tk)) * 0.5)
                  * (len(list_distinct(tk)) / len(tk))) * 1e4 + 0.5)
                  AS BIGINT) // 100 AS bucket
      FROM t
    ),
    hist AS (SELECT lang, bucket, count(*) AS cnt FROM r GROUP BY 1, 2),
    cum AS (
      SELECT lang, bucket,
             CAST(sum(cnt) OVER (PARTITION BY lang ORDER BY bucket DESC
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS n_kept,
             CAST(sum(cnt) OVER (PARTITION BY lang) AS BIGINT) AS n_total
      FROM hist
    )
    SELECT lang, CAST(bucket AS BIGINT) AS threshold_bucket, n_total, n_kept
    FROM cum
    WHERE n_kept * 5 >= n_total
    QUALIFY row_number() OVER (PARTITION BY lang ORDER BY bucket DESC) = 1
    """,
)
def quality_histogram_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language top-20% quality gate via HISTOGRAM quantile — the
    scale-correct way to threshold a corpus on a score percentile.  The
    naive formulation (rank every doc in a per-lang window, keep
    rank/n <= 0.2) sorts an unbounded partition: one language is most
    of a 100 TB crawl, so that window is the classic single-partition
    killer.  Instead: quantize the quality score into 101 integer
    buckets (one identical IEEE fold, then pure integers), build a
    (lang, bucket) histogram whose size is langs x 101 REGARDLESS of
    corpus size, run the cumulative scan and threshold selection on
    that tiny table, and the chosen thresholds broadcast back to gate
    the corpus (the gate itself is corpus_stratified_sample's
    projection posture).  threshold_bucket = the largest bucket with
    >= 20% of the language's docs at-or-above it (ties keep slightly
    more than 20% — documented histogram semantics; n_kept reports the
    exact kept count).  Integer comparison n_kept * 5 >= n_total, no
    FP percentile anywhere.

    Scale shape: one partial-agg shuffle (exchange carries O(tasks *
    langs * 101) partials), windows only over the histogram.
    Reference analog: aggregate then threshold-filter the aggregate
    (AggregationsExample.scala:36-44).
    """
    from confluent_kafka_streams_examples_spark.operators.text import STOPWORDS

    docs = load_table(spark, "documents", sf_dir).select("lang", "text")
    tk = F.split(F.col("text"), " ")
    n_tok = F.size(tk)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    raw_stop = F.size(F.filter(tk, lambda t: F.array_contains(stop_arr, t))) / n_tok
    raw_uniq = F.size(F.array_distinct(tk)) / n_tok
    raw_q = (
        F.least(F.lit(1.0), n_tok / F.lit(100.0))
        * (F.lit(1.0) - raw_stop * F.lit(0.5))
        * raw_uniq
    )
    q_1e4 = F.floor(raw_q * F.lit(1e4) + F.lit(0.5)).cast("long")
    bucketed = docs.select("lang", q_1e4.alias("q_1e4"))
    hist = (
        bucketed.select("lang", F.expr("q_1e4 div 100").alias("bucket"))
        .groupBy("lang", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w_desc = (
        Window.partitionBy("lang")
        .orderBy(F.col("bucket").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("lang")
    cum = hist.select(
        "lang",
        F.col("bucket").cast("bigint").alias("threshold_bucket"),
        F.sum("cnt").over(w_desc).cast("bigint").alias("n_kept"),
        F.sum("cnt").over(w_all).cast("bigint").alias("n_total"),
    )
    sat = cum.filter(F.col("n_kept") * 5 >= F.col("n_total"))
    w_rn = Window.partitionBy("lang").orderBy(F.col("threshold_bucket").desc())
    return (
        sat.withColumn("_rn", F.row_number().over(w_rn))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .select("lang", "threshold_bucket", "n_total", "n_kept")
    )


_HYBRID_TERMS = ("join", "merge", "vector")


@query(
    "hybrid_search",
    oracle=f"""
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
                 FROM documents),
    dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
    stats AS (SELECT count(*) AS n_docs,
                     sum(dl) / CAST(count(*) AS DOUBLE) AS avgdl
              FROM dl),
    tf AS (SELECT doc_id, token, count(*) AS tf FROM tok
           WHERE token IN ({", ".join(f"'{t}'" for t in _HYBRID_TERMS)})
           GROUP BY doc_id, token),
    dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
    idf AS (SELECT token,
                   ln(1.0 + (s.n_docs - df + 0.5) / (df + 0.5)) AS idf,
                   s.avgdl AS avgdl
            FROM dfreq, stats s),
    scored AS (
      SELECT tf.doc_id,
             CAST(floor(i.idf * ((tf.tf * 2.2) /
                    (tf.tf + 1.2 * (0.25 + 0.75 * (dl.dl / i.avgdl))))
                  * 1000000.0 + 0.5) AS BIGINT) AS sm
      FROM tf JOIN idf i ON tf.token = i.token
              JOIN dl ON tf.doc_id = dl.doc_id),
    cand AS (SELECT doc_id, CAST(sum(sm) AS BIGINT) AS score_micro
             FROM scored GROUP BY doc_id
             ORDER BY score_micro DESC, doc_id LIMIT 50),
    n AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                 sqrt(list_inner_product(embedding::DOUBLE[],
                                         embedding::DOUBLE[])) AS nrm
          FROM embeddings),
    q AS (SELECT v AS qv, nrm AS qnrm FROM n WHERE vec_id = 0)
    SELECT c.doc_id, c.score_micro,
           round(list_inner_product(n.v, q.qv) / (n.nrm * q.qnrm), 6)
             AS cos_sim
    FROM cand c JOIN n ON n.vec_id = c.doc_id, q
    WHERE n.vec_id != 0
    ORDER BY cos_sim DESC, c.doc_id
    LIMIT 10
    """,
)
def hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID retrieval — the RAG-stack core: BM25 keyword recall
    (cheap, lexical, high-recall) feeding an embedding-cosine rerank
    (expensive, semantic, high-precision).  Top-50 lexical candidates
    for a fixed 3-term query, reranked to top-10 by cosine against the
    vec_id=0 query embedding; output carries BOTH scores so a caller
    can fuse them.

    Scale shape: stage 1 is bm25_rank's shape (matching-term rows only
    through the shuffle, TakeOrdered top-50 — never a corpus sort);
    stage 2 joins the 50-row candidate set into the embeddings scan as
    a BROADCAST (candidates are top-k-bounded by construction, the
    broadcast house rule) BEFORE any vector math, so norms and dot
    products run on the ~50 surviving rows, never the corpus (the
    candidates-first ordering is the whole point of a two-stage
    retrieval).  At 100 TB the embedding side would be the IVF/PQ
    artifact instead of a full scan — the rerank stage is the same
    join either way.  Determinism: integer-micro BM25 partials, then
    operators/similarity.py::cosine_rerank (the SAME 6-dp/id-tiebreak
    contract cosine_topk routes through)."""
    from confluent_kafka_streams_examples_spark.operators.similarity import (
        cosine_rerank,
    )

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    cand = text.bm25_rank(docs, list(_HYBRID_TERMS), topk=50)
    emb = load_table(spark, "embeddings", sf_dir)
    cand_emb = emb.filter(F.col("vec_id") != 0).join(
        F.broadcast(cand), F.col("vec_id") == F.col("doc_id")
    )
    return cosine_rerank(
        cand_emb, emb.filter(F.col("vec_id") == 0), k=10
    ).select("doc_id", "score_micro", "cos_sim")


_BLOOM_K = 4
_BLOOM_BITS = 65536


def _bloom_pos_sql(j: str, keyhash: str) -> str:
    """SQL: bloom bit position of ``keyhash`` for hash row ``j`` —
    16-bit md5 prefix of 'j:hash' (deterministic in any engine)."""
    h = f"md5(concat(CAST({j} AS VARCHAR), ':', {keyhash}))"
    return (
        f"((strpos('0123456789abcdef', substr({h}, 1, 1)) - 1) * 4096"
        f" + (strpos('0123456789abcdef', substr({h}, 2, 1)) - 1) * 256"
        f" + (strpos('0123456789abcdef', substr({h}, 3, 1)) - 1) * 16"
        f" + (strpos('0123456789abcdef', substr({h}, 4, 1)) - 1))"
    )


@query(
    "dedup_bloom_prefilter",
    oracle=f"""
    WITH tagged AS (
      SELECT doc_id, md5(text) AS th, ({_INC_BUCKET_SQL} < 10) AS is_new
      FROM documents),
    ks AS (SELECT unnest(range(0, {_BLOOM_K})) AS j),
    bits AS (
      SELECT DISTINCT ({_bloom_pos_sql('ks.j', 't.th')}) % {_BLOOM_BITS} AS pos
      FROM tagged t, ks WHERE NOT t.is_new),
    probes AS (
      SELECT t.doc_id, t.th, ks.j,
             ({_bloom_pos_sql('ks.j', 't.th')}) % {_BLOOM_BITS} AS pos
      FROM tagged t, ks WHERE t.is_new),
    hits AS (
      SELECT p.doc_id, p.th, count(b.pos) AS n_set
      FROM probes p LEFT JOIN bits b ON b.pos = p.pos
      GROUP BY p.doc_id, p.th),
    corpus_hashes AS (SELECT DISTINCT th FROM tagged WHERE NOT is_new)
    SELECT h.doc_id,
           CAST(CASE WHEN h.n_set = {_BLOOM_K} THEN 1 ELSE 0 END AS BIGINT)
             AS bloom_positive,
           CAST(CASE WHEN c.th IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
             AS is_true_dup
    FROM hits h LEFT JOIN corpus_hashes c ON c.th = h.th
    """,
)
def dedup_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter PREFILTER for incremental exact dedup — the
    bounded-memory membership structure that lets a daily batch skip
    the corpus join for the (vast) majority of genuinely-new docs: a
    65,536-bit / 4-hash bloom of the stored corpus' content hashes
    answers "possibly seen?" per new doc; only bloom-POSITIVE docs pay
    the exact verification join.  No false negatives by construction
    (a true duplicate always has all 4 bits set — pytest-pinned); the
    false-positive rate is the classic (1-e^(-kn/m))^k.  Same
    batch/corpus split as dedup_incremental (10% md5 bucket = today's
    ingest).  Output per new doc: bloom verdict + exact truth, so the
    FP rate is measurable (production keeps the 8 KB bit set and only
    the positives' exact join).

    Like sketch_heavy_hitters, the hash rows are md5-derived, so the
    probabilistic structure is bit-identical in any engine and stays
    DuckDB-hash-checkable.

    Scale shape: the bloom build is a DISTINCT over positions — an
    exchange bounded by 65,536 rows regardless of corpus size; probes
    join the broadcast bit set (8 KB as rows); the exact-truth join
    here exists only to exhibit FP behavior (it is the cost the bloom
    REMOVES).  Reference analog: the stored-corpus membership check in
    the incremental path (KTableExample.scala:52-56's table-lookup
    posture) made memory-bounded.
    """
    from confluent_kafka_streams_examples_spark.queries_corpus import _bucket

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    tagged = docs.select(
        "doc_id",
        F.md5("text").alias("th"),
        (_bucket(F.col("doc_id")) < 10).alias("is_new"),
    )
    ks = F.explode(F.sequence(F.lit(0), F.lit(_BLOOM_K - 1))).alias("j")

    def pos(j_col, th_col):
        h = F.md5(F.concat(j_col.cast("string"), F.lit(":"), th_col))
        return (F.conv(F.substring(h, 1, 4), 16, 10).cast("long")) % _BLOOM_BITS

    bits = (
        tagged.filter(~F.col("is_new"))
        .select(ks, "th")
        .select(pos(F.col("j"), F.col("th")).alias("pos"))
        .distinct()
    )
    probes = (
        tagged.filter(F.col("is_new"))
        .select("doc_id", "th", ks)
        .select("doc_id", "th", pos(F.col("j"), F.col("th")).alias("pos"))
    )
    hits = (
        probes.join(F.broadcast(bits), "pos", "left_semi")
        .groupBy("doc_id", "th")
        .agg(F.count(F.lit(1)).alias("n_set"))
    )
    # left-semi drops non-matching probe rows, so docs with 0 set bits
    # vanish — restore them via a left join from the full probe set
    all_new = tagged.filter(F.col("is_new")).select("doc_id", "th")
    corpus_hashes = (
        tagged.filter(~F.col("is_new")).select("th").distinct()
        .withColumn("_dup", F.lit(1))
    )
    return (
        all_new.join(hits.select("doc_id", "n_set"), "doc_id", "left")
        .join(F.broadcast(corpus_hashes), "th", "left")
        .select(
            "doc_id",
            F.when(F.coalesce(F.col("n_set"), F.lit(0)) == _BLOOM_K, 1)
            .otherwise(0)
            .cast("bigint")
            .alias("bloom_positive"),
            F.when(F.col("_dup").isNotNull(), 1)
            .otherwise(0)
            .cast("bigint")
            .alias("is_true_dup"),
        )
    )
