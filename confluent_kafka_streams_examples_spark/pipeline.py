"""Composable corpus-cleaning pipeline — the end-to-end story the
individual operators exist for.

A stage is a plain ``DataFrame -> DataFrame`` function; ``compose``
chains them.  No framework, no registry: Spark's own lazy DataFrame IS
the pipeline abstraction (every stage extends one logical plan that
Catalyst optimizes as a whole — filters from a later stage can push
below earlier projections, etc.).  The value here is the curated,
tested stage library and the canonical ordering:

    quality filter  ->  exact dedup  ->  near-dup dedup (LSH + CC)

Order matters operationally at 100 TB: the cheap stages run first so
the expensive one (shingle/minhash) sees the smallest corpus —
quality filtering is one token-count aggregation, exact dedup is one
32-byte-key shuffle, and only the survivors pay the LSH + connected
components cost.

Reference parity: this composes the same per-record transform
surface as the reference's topology-building (filter -> mapValues ->
to, e.g. BasicStreams.scala:52-60) — a KStream chain is exactly this
kind of stage composition, here over the batch corpus.

Cache lifecycle (ADVICE r11): the dedup stages ``persist()`` their
keep-ID sets (ids only, O(survivors) bytes) and do NOT unpersist them
— the frames are referenced lazily by the returned plan, so the pin
must outlive the stage call.  A consumer composing pipelines outside
the bench/tests harness must call ``session.release_caches(spark)``
(or ``spark.catalog.clearCache()``) once the results are consumed, or
pinned executor storage accumulates per invocation.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from confluent_kafka_streams_examples_spark.operators import dedup
from confluent_kafka_streams_examples_spark.operators.graph import dedup_components

Stage = Callable[[DataFrame], DataFrame]


def compose(*stages: Stage) -> Stage:
    """Left-to-right composition: compose(f, g)(df) == g(f(df))."""

    def run(df: DataFrame) -> DataFrame:
        for s in stages:
            df = s(df)
        return df

    return run


def quality_filter(
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 20,
    max_tokens: int = 5000,
    max_top_token_frac: float = 0.15,
) -> Stage:
    """Drop documents outside [min_tokens, max_tokens] whitespace
    tokens or whose most frequent token exceeds ``max_top_token_frac``
    of all tokens (Gopher-style repetition gate).

    Cost: ZERO shuffles.  The max token count equals the longest run in
    the SORTED token array, so the whole gate is array_sort + one
    JVM-side aggregate() fold fused into the scan as a plain filter —
    no (id, token) explode, no per-doc rollup, nothing leaves the input
    partition.  At 100 TB the gate's cost is the scan it was already
    paying.  The ratio is a single IEEE double division of two exact
    integers, so the threshold compare is engine-reproducible without
    rounding (identical to the oracle's max(c)/sum(c))."""

    def stage(df: DataFrame) -> DataFrame:
        toks = F.split(F.col(text_col), " ")
        n_tokens = F.size(toks)

        def step(acc, x):
            new_run = F.when(
                acc["prev"].isNotNull() & (acc["prev"] == x), acc["run"] + 1
            ).otherwise(F.lit(1))
            return F.struct(
                x.alias("prev"),
                new_run.alias("run"),
                F.greatest(acc["best"], new_run).alias("best"),
            )

        max_count = F.aggregate(
            F.array_sort(toks),
            F.struct(
                F.lit(None).cast("string").alias("prev"),
                F.lit(0).alias("run"),
                F.lit(0).alias("best"),
            ),
            step,
            lambda acc: acc["best"],
        )
        return df.filter(
            (n_tokens >= min_tokens)
            & (n_tokens <= max_tokens)
            & ((max_count / n_tokens) <= max_top_token_frac)
        )

    return stage


def exact_dedup(
    id_col: str = "doc_id",
    text_col: str = "text",
    anchor: DataFrame | None = None,
) -> Stage:
    """Keep the minimum-id document per distinct text.  One shuffle on
    md5(text) — 32-byte keys, never document bodies — then a semi join
    back to recover full rows.

    The keep-ID set is PERSISTED (ids only — 8 bytes per survivor,
    never text): every later pipeline stage that re-derives this
    stage's output (the near-dup signature probe, the component node
    list, the final semi joins) would otherwise re-run the md5 groupBy
    shuffle once per consumer — Spark has no cross-consumer CSE.  The
    downstream re-evaluations then cost one corpus scan plus a
    broadcast-size semi join each, and the cached bytes stay O(ids)
    at any corpus size (measured -7% median on
    pipeline_training_export at sf0.1, results identical —
    OPTIMIZATION_r11.md; guide §5: cache only what is reused AND
    expensive).

    ``anchor`` (r12): the pipeline's ORIGINAL corpus frame.  The keep
    set is computed from this stage's input ``df`` as always, but the
    row-recovery semi join applies to ``anchor`` instead of ``df``:
    keep-IDs are a subset of every upstream gate's survivors and
    ``id_col`` is unique in the corpus, so ``anchor ⋉ keep`` is
    row-identical to ``df ⋉ keep`` — while every downstream
    re-derivation of this stage's output drops the upstream gates'
    per-row compute (the quality filter's array_sort + aggregate fold
    is the most expensive per-row expression in the pipeline) from
    its lineage (guide §1.2: don't recompute what the semi join
    already proves)."""

    def stage(df: DataFrame) -> DataFrame:
        # kept pinned: without it pipeline_clean_corpus takes 3.12 ->
        # 3.42 s (sf0.1, 10 pairs)
        keep = (
            df.groupBy(F.md5(F.col(text_col)).alias("h"))
            .agg(F.min(id_col).alias(id_col))
            .select(id_col)
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        return (anchor if anchor is not None else df).join(
            keep, id_col, "left_semi"
        )

    return stage


def neardup_dedup(
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    sig: DataFrame | None = None,
    anchor: DataFrame | None = None,
) -> Stage:
    """Keep one representative (minimum id) per near-duplicate cluster:
    MinHash-LSH candidate pairs -> connected components -> drop
    non-representatives.  Sublinear candidate generation (bucket join,
    not n^2) + ~diameter rounds of keyed equi-joins for clustering.

    ``sig``: a precomputed signature table covering (at least) the
    input ids.  A document's MinHash signature depends only on its own
    text, so the store is SUBSET-STABLE: restricting it to this stage's
    survivors (one semi-join on 8-byte ids) yields exactly the
    signatures a recomputation over the survivors would produce — the
    cleaning pipeline never re-shingles text the platform already
    signed.

    ``anchor``: same contract as exact_dedup's — the representative
    semi join applies to the original corpus frame, dropping the whole
    upstream gate/dedup lineage from every downstream re-derivation
    (row-identical: representatives are a subset of this stage's
    input ids)."""

    def stage(df: DataFrame) -> DataFrame:
        # distinct_pairs=False: the only consumer here is connected
        # components, whose union-find absorbs the <= bands-x duplicate
        # edges — the pair-dedup exchange is pure cost on this path
        # (dedup.minhash_lsh_pairs docstring; r11)
        if sig is not None:
            stage_sig = sig.join(df.select(id_col), id_col, "left_semi")
            pairs = dedup.minhash_lsh_pairs(
                None, id_col, text_col,
                num_hashes=num_hashes, bands=bands, sig=stage_sig,
                distinct_pairs=False,
            )
        else:
            pairs = dedup.minhash_lsh_pairs(
                df, id_col, text_col, num_hashes=num_hashes, bands=bands,
                distinct_pairs=False,
            )
        comp = dedup_components(pairs, df.select(id_col), id_col)
        # persist the representative-ID set (8 bytes per survivor):
        # the span-removal / packing stages downstream re-derive the
        # cleaned corpus several times, and without this pin each
        # re-derivation would re-run the whole candidate->component
        # cascade; without it pipeline_training_export takes 4.86 ->
        # 5.36 s (sf0.1, 10 pairs)
        keep = (
            comp.filter(F.col("is_representative"))
            .select(id_col)
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        return (anchor if anchor is not None else df).join(
            keep, id_col, "left_semi"
        )

    return stage


def clean_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 20,
    max_tokens: int = 5000,
    max_top_token_frac: float = 0.15,
    sig: DataFrame | None = None,
) -> DataFrame:
    """The canonical cleaning pipeline: cheap gates first, LSH last.
    ``sig`` (optional): a stored signature table for the corpus — the
    near-dup stage then signs nothing itself (see neardup_dedup).

    Both dedup stages anchor their row-recovery semi joins on the RAW
    ``docs`` frame (see exact_dedup): the keep decisions still flow
    through the full gate -> exact -> near-dup cascade exactly once,
    but the returned frame's lineage is just docs ⋉ keep-IDs, so each
    downstream consumer of the cleaned corpus pays one scan plus one
    broadcast semi join instead of replaying the quality fold and the
    stacked semi joins per consumer."""
    return compose(
        quality_filter(id_col, text_col, min_tokens, max_tokens, max_top_token_frac),
        exact_dedup(id_col, text_col, anchor=docs),
        neardup_dedup(id_col, text_col, sig=sig, anchor=docs),
    )(docs)
