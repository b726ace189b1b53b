"""Similarity search over embedding columns (array<float>).

Two tiers:

- cosine_topk: brute-force top-k against one query vector.  The dot
  product is a JVM-side higher-order expression (zip_with + aggregate)
  — no Python in the loop; the query vector joins in as a broadcast
  single-row DataFrame (no driver collect).
- cosine_pairs_partitioned: IVF-style pruned pairwise search — pairs are
  only computed WITHIN a coarse partition (here the label column; in a
  real pipeline, a k-means cluster id).  Executed as applyInPandas with
  one numpy matmul per partition (Arrow-batched, BLAS-backed): the scale
  path for all-pairs similarity, since cost is sum of per-bucket n_i^2,
  not global n^2, and buckets parallelize across executors.

The vector-search queries (LSH and IVF probes, their recall evals, the
PQ recall eval) compose one set of batch expressions over a
``(vec_id, v, nrm)`` frame (`vector_base`): the query batch
(`query_vectors`), the per-query cosine top-k (`cosine_topk_per_query`)
and the recall@k aggregate (`recall_at_k`).  The IVF tier adds the
centroid codebook (`centroid_means`, also the k-means recompute step),
the rounded vector-to-centroid distances (`ivf_distances`), their
argmin (`ivf_nearest`), the inverted-list assignment (`ivf_assign`)
and the router that picks each query's NPROBE nearest lists
(`ivf_route`).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from confluent_kafka_streams_examples_spark.functions.scalar import round_det

#: every vector-search query scores the same batch: rows vec_id < N_QUERIES
N_QUERIES = 5
#: neighbours kept per query, and the k of recall@k
TOP_K = 3
#: inverted lists an IVF query searches
NPROBE = 2


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def with_norm(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Cast the float32 vector to double and attach its L2 norm (computed
    once, reused by every comparison)."""
    v = F.col(vec_col).cast("array<double>")
    return df.withColumn("_v", v).withColumn("_norm", F.sqrt(_dot(F.col("_v"), F.col("_v"))))


def cosine_topk(
    df: DataFrame,
    query_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k nearest neighbors of one vector by cosine similarity.

    Deterministic: similarity is rounded to 6 dp and ties break on the
    integer id (the shared cosine_rerank contract).  The final top-k is
    a single ORDER BY ... LIMIT k which Spark executes as TakeOrdered
    (per-partition heap + driver merge of k rows) — no global sort
    materialization.
    """
    return cosine_rerank(
        df.filter(F.col(id_col) != query_id),
        df.filter(F.col(id_col) == query_id),
        k,
        id_col=id_col,
        vec_col=vec_col,
    ).select(id_col, "cos_sim")


def cosine_rerank(
    cand: DataFrame,
    query: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic cosine of every ``cand`` row against the single
    ``query`` row, top-k: 6-dp rounded similarity, integer-id
    tie-break, ORDER BY ... LIMIT k (TakeOrdered — per-partition heap,
    no global sort).  Norms are computed on exactly the frames given —
    pre-filter ``cand`` to a candidate set and the norm cost is
    O(candidates x dim), never a corpus pass.  Carries every input
    column plus ``cos_sim`` so callers keep their stage-1 scores.

    This IS the shared deterministic-cosine contract: cosine_topk and
    the hybrid-search rerank both route through it, so a rounding or
    tie-break change lands in ONE place."""
    base = with_norm(cand, vec_col)
    q = with_norm(query, vec_col).select(
        F.col("_v").alias("_qv"), F.col("_norm").alias("_qnorm")
    )
    cos = F.round(
        _dot(F.col("_v"), F.col("_qv")) / (F.col("_norm") * F.col("_qnorm")), 6
    )
    return (
        base.crossJoin(F.broadcast(q))
        .withColumn("cos_sim", cos)
        .drop("_v", "_norm", "_qv", "_qnorm")
        .orderBy(F.col("cos_sim").desc(), F.col(id_col))
        .limit(k)
    )


def cosine_topk_batch(
    df: DataFrame,
    query_ids: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k neighbors for EACH of a batch of query vectors in one scan
    — the serving/retrieval shape (a request batch, not one vector).

    The Q query vectors broadcast to every executor (Q × dim doubles —
    trivially small), so the corpus is read ONCE for the whole batch
    instead of once per query; scoring stays JVM-side (zip_with +
    aggregate fold).  Per-query top-k is a rank-limit window on
    query_id, which Spark executes with WindowGroupLimit: each
    partition keeps only its local top-k per query BEFORE the shuffle,
    so the exchange carries O(partitions × Q × k) rows, not the scored
    corpus.  Returns (query_id, vec_id, cos_sim), k rows per query.
    """
    from pyspark.sql import Window

    base = with_norm(df, vec_col)
    q = base.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"),
        F.col("_v").alias("_qv"),
        F.col("_norm").alias("_qnorm"),
    )
    cos = F.round(
        _dot(F.col("_v"), F.col("_qv")) / (F.col("_norm") * F.col("_qnorm")), 6
    )
    scored = (
        base.join(F.broadcast(q), F.col(id_col) != F.col("query_id"))
        .withColumn("cos_sim", cos)
        .select("query_id", id_col, "cos_sim")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col(id_col)
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def vector_base(emb: DataFrame) -> DataFrame:
    """(vec_id, v, nrm): the embeddings as double vectors with their L2
    norm, computed once and reused by every comparison."""
    v = F.col("embedding").cast("array<double>")
    return emb.select(F.col("vec_id"), v.alias("v")).withColumn(
        "nrm", F.sqrt(_dot(F.col("v"), F.col("v")))
    )


def query_vectors(base: DataFrame, *extra: Column | str) -> DataFrame:
    """(query_id, qv, qnrm, *extra): the query batch — the rows
    vec_id < N_QUERIES of a `vector_base` frame — renamed so it can be
    broadcast against the corpus side of the same frame."""
    return base.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
        *extra,
    )


def cosine_topk_per_query(pairs: DataFrame) -> DataFrame:
    """(query_id, vec_id, cos_sim): the TOP_K candidates nearest each
    query.  ``pairs`` holds candidate rows (vec_id, v, nrm) next to
    their query's (query_id, qv, qnrm).

    Deterministic like every oracle it is checked against: a query
    never matches itself, the cosine is rounded to 6 dp and ties break
    on the smaller vec_id.  The rank-limit window plans as
    WindowGroupLimit, so each partition keeps its local top-k per query
    before the shuffle."""
    cos = F.round(
        _dot(F.col("v"), F.col("qv")) / (F.col("nrm") * F.col("qnrm")), 6
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id")
    )
    return (
        pairs.filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("cos_sim", cos)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("query_id", "vec_id", "cos_sim")
    )


def recall_at_k(truth: DataFrame, found: DataFrame) -> DataFrame:
    """(query_id, hits, recall_at_<TOP_K>): how many of each query's
    TOP_K true neighbours (``truth``) the approximate top-k (``found``)
    returned; both carry (query_id, vec_id)."""
    hit = found.select("query_id", "vec_id", F.lit(1).alias("_hit"))
    return (
        truth.join(hit, ["query_id", "vec_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("_hit").cast("bigint").alias("hits"),
            round_det(F.count("_hit") / F.lit(float(TOP_K)), 4).alias(
                f"recall_at_{TOP_K}"
            ),
        )
    )


def centroid_means(df: DataFrame, key: str, vec: Column | str, out: str) -> DataFrame:
    """(key, out): the per-dimension mean vector of each ``key`` group,
    every component rounded to 6 dp so a centroid is the same double in
    every engine and after a parquet roundtrip.  posexplode makes the
    mean an ordinary partial-aggregated groupBy: vectors never shuffle,
    only (key, dim, partial-sum) triples do.  Shared by the IVF
    codebook and the k-means recompute step."""
    return (
        df.select(key, F.posexplode(vec).alias("pos", "val"))
        .groupBy(key, "pos")
        .agg(round_det(F.avg("val"), 6).alias("c"))
        .groupBy(key)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda x: x["c"]
            ).alias(out)
        )
    )


def ivf_distances(base: DataFrame, cent: DataFrame) -> DataFrame:
    """(vec_id, label, d2): rounded squared distance of every vector of
    a `vector_base` frame to every centroid of a (label, cv) codebook
    (k-row broadcast product).  round_det(6) BEFORE any argmin keeps
    the assignment reproducible across engines and summation orders."""
    d2 = round_det(
        F.aggregate(
            F.zip_with(F.col("v"), F.col("cv"), lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )
    return (
        base.select("vec_id", "v")
        .join(F.broadcast(cent), F.lit(True))
        .select("vec_id", "label", d2.alias("d2"))
    )


def ivf_nearest(dist: DataFrame) -> DataFrame:
    """(vec_id, label): each vector's nearest centroid, ties to the
    smaller label — a hash aggregate over (d2, label) structs, so the
    k distances per vector collapse map-side."""
    return (
        dist.groupBy("vec_id")
        .agg(F.min(F.struct("d2", "label")).alias("m"))
        .select("vec_id", F.col("m.label").alias("label"))
    )


def ivf_assign(base: DataFrame, cent: DataFrame) -> DataFrame:
    """(vec_id, v, nrm, list_id): the inverted lists — every vector of
    a `vector_base` frame filed under its nearest centroid."""
    return (
        ivf_nearest(ivf_distances(base, cent))
        .join(base.select("vec_id", "v", "nrm"), "vec_id")
        .withColumnRenamed("label", "list_id")
    )


def ivf_route(dist: DataFrame) -> DataFrame:
    """(query_id, list_id): the router — the NPROBE lists nearest each
    query vector, from `ivf_distances` rows (query vectors are the rows
    vec_id < N_QUERIES).  Q x NPROBE rows, small enough to broadcast
    into the probe."""
    wq = Window.partitionBy("query_id").orderBy("d2", "label")
    return (
        dist.filter(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("query_id"), "label", "d2")
        .withColumn("crn", F.row_number().over(wq))
        .filter(F.col("crn") <= NPROBE)
        .select("query_id", F.col("label").alias("list_id"))
    )


def cosine_pairs_partitioned(
    df: DataFrame,
    part_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.2,
) -> DataFrame:
    """All similar pairs within each coarse partition (IVF-style pruning).

    applyInPandas: one Arrow batch per partition value, one numpy
    float64 matmul per batch.  Output (vec_a, vec_b, cos_sim) for
    vec_a < vec_b and rounded cos >= threshold.
    """
    out_schema = StructType(
        [
            StructField("vec_a", LongType()),
            StructField("vec_b", LongType()),
            StructField("cos_sim", DoubleType()),
        ]
    )

    def pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        ids = pdf[id_col].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        mat = np.stack(pdf[vec_col].to_numpy()[order]).astype(np.float64)
        norms = np.sqrt((mat * mat).sum(axis=1))
        sims = (mat @ mat.T) / np.outer(norms, norms)
        iu, ju = np.triu_indices(len(ids), k=1)
        cos = np.round(sims[iu, ju], 6)
        keep = cos >= threshold
        return pd.DataFrame(
            {"vec_a": ids[iu[keep]], "vec_b": ids[ju[keep]], "cos_sim": cos[keep]}
        )

    return df.select(part_col, id_col, vec_col).groupBy(part_col).applyInPandas(
        pairs, schema=out_schema
    )


def semdedup(
    vecs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "v",
    n_clusters: int = 8,
    threshold: float = 0.4,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540) as one operator:
    cluster-then-prune semantic dedup with per-cluster summary output
    (cid, n_members, n_pruned, n_kept).

    Determinism contract (shared with every k-means-family oracle):
    init centroids are the rows with ``id_col < n_clusters`` (dense-id
    corpora), distances are 6-dp-rounded squared L2 with ties to the
    smaller cid, and a vector is pruned iff ANY smaller-id cluster-mate
    sits within the rounded-cosine threshold ball — order-deterministic,
    no iterative dependency chain.

    ``n_clusters`` is the production knob: the paper sizes k so mean
    cluster size stays roughly constant (k ~ n / const), keeping the
    within-cluster pair cost sum(n_i^2) ~ n * const LINEAR in corpus
    size — a pinned small k over a growing corpus degrades to n^2/k,
    which is the scale defect the parameterization removes.  Scale
    shape: assignment broadcasts the k-row centroid MATRIX into a
    mapInPandas scan (vectors never shuffle for assignment); that
    broadcast (and the k-row driver collect feeding it) is
    k * dim * 8 bytes, fine through k ~ 2e5 at dim 64 (~100 MB) —
    past that, route through a two-level coarse quantizer instead
    (centroids themselves IVF-assigned), same plan shape one level up.
    Pair generation shuffles each vector ONCE to its cluster bucket
    (cosine_pairs_partitioned), one BLAS matmul per bucket.

    Assignment is Arrow-vectorized numpy, not a JVM higher-order
    expression: the zip_with/aggregate distance fold allocates and
    boxes a fresh array per (vector, centroid) pair — measured
    ~170 us per distance, 212 s for the n x k = 40M distances at
    x100/k=200, vs ~2 s vectorized.  Parity is preserved exactly:
    the accumulation loops dimensions in ORDER (matching both the
    fold order of the HOF form and DuckDB's list_sum), rounds via
    floor(d2 * 1e6 + 0.5) / 1e6 — identical to round-half-away on
    positive doubles, i.e. F.round and DuckDB round(_, 6) — and
    np.argmin ties resolve to the first (= smallest) cid.  The
    vector column rejoins by id afterwards — a pinned shuffle-hash
    equi-join of two corpus-LINEAR relations (never broadcast, per
    the SCALE.md house rule; AQE's compressed-bytes estimate would
    happily broadcast the (id, cid) side at probe scale and OOM the
    driver at the next decade).
    """
    import numpy as np

    from pyspark.sql.types import LongType

    # bounded driver collect: k centroid rows, k capped by the same
    # ~2e5 bound as the broadcast it feeds (documented above)
    cent_rows = (
        vecs.filter(F.col(id_col) < n_clusters)
        .select(F.col(id_col).alias("cid"), F.col(vec_col).alias("c"))
        .orderBy("cid")
        .limit(n_clusters + 1)
        .collect()
    )
    if len(cent_rows) > n_clusters:
        raise ValueError(
            f"semdedup: more than n_clusters={n_clusters} rows have "
            f"{id_col} < {n_clusters}; init centroids need unique dense ids"
        )
    cent_mat = np.array([r["c"] for r in cent_rows], dtype=np.float64)
    cent_ids = np.array([r["cid"] for r in cent_rows], dtype=np.int64)
    bc = vecs.sparkSession.sparkContext.broadcast((cent_mat, cent_ids))

    def assign_batches(batches):
        cmat, cids = bc.value
        n_dim = cmat.shape[1]
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            acc = np.zeros((len(x), cmat.shape[0]), dtype=np.float64)
            # dimension-ORDER accumulation: identical double sequence
            # to the zip_with fold and DuckDB's list_sum, so rounded
            # distances agree bit-for-bit across engines
            for d in range(n_dim):
                diff = x[:, d, None] - cmat[None, :, d]
                acc += diff * diff
            acc = np.floor(acc * 1e6 + 0.5) / 1e6  # round_det(d2, 6)
            j = np.argmin(acc, axis=1)  # first min = smallest cid
            yield pd.DataFrame(
                {id_col: pdf[id_col].to_numpy(), "cid": cids[j]}
            )

    # the non-null filter is the one the pair-side join infers: with it
    # written here both consumers of ``best`` plan the same subtree and
    # share one exchange, so the assignment runs once
    best = vecs.select(id_col, vec_col).mapInPandas(
        assign_batches,
        schema=StructType(
            [StructField(id_col, LongType()), StructField("cid", LongType())]
        ),
    ).filter(F.col(id_col).isNotNull())
    assigned = vecs.select(id_col, vec_col).join(
        best.hint("shuffle_hash"), id_col
    )
    pairs = cosine_pairs_partitioned(
        assigned,
        part_col="cid",
        id_col=id_col,
        vec_col=vec_col,
        threshold=threshold,
    )
    pruned = pairs.select(F.col("vec_b").alias(id_col)).distinct()
    # the summary needs only (id, cid), one row per vector: ``best``
    return (
        best.join(pruned.withColumn("_p", F.lit(1)), id_col, "left")
        .groupBy("cid")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            F.count("_p").cast("bigint").alias("n_pruned"),
            (F.count(F.lit(1)) - F.count("_p"))
            .cast("bigint")
            .alias("n_kept"),
        )
    )
