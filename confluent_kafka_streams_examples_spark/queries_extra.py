"""Extended operator surface (SURVEY §2.9 + §2.3 generalizations):
as-of join, set operations, semi/anti joins, rollup/cube, window
analytics, exact percentiles, distinct aggregation, and the
embedding-cosine near-dup (hyperplane-LSH) dedup variant.

The reference has none of these (SURVEY §2.9) but they are declared
engine surface: zero-cost in Spark and part of what "a user could run"
on this engine.  Registered into the shared driver-contract registry.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from confluent_kafka_streams_examples_spark.functions.scalar import epoch_us
from confluent_kafka_streams_examples_spark.operators import similarity
from confluent_kafka_streams_examples_spark.operators.similarity import _dot
from confluent_kafka_streams_examples_spark.queries import query
from confluent_kafka_streams_examples_spark.session import fan_out_small_scan, load_table

# =====================================================================
# As-of join (J2 generalized: temporal enrichment against the latest
# earlier record instead of the single latest record)
# =====================================================================

@query(
    "asof_join",
    oracle="""
    SELECT event_id, user_id, last_click_id
    FROM (
      SELECT event_id, user_id, event_type,
             last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS last_click_id
      FROM events
    ) WHERE event_type = 'purchase'
    """,
)
def asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase enriched with the user's most recent
    prior (or same-instant-earlier) click.

    Implemented as ONE window pass over the unioned timeline — a single
    shuffle on user_id — instead of the naive time-range join + max_by,
    which would shuffle twice and explode pairs.  This is the
    scale-correct as-of pattern (it generalizes the KTable enrichment
    join J2, reference JoinsExample.scala:41-45, from "latest value" to
    "latest value as of each event's time")."""
    ev = load_table(spark, "events", sf_dir).select("event_id", "user_id", "event_type", "ts")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    last_click = F.last(
        F.when(F.col("event_type") == "click", F.col("event_id")), ignorenulls=True
    ).over(w)
    return (
        ev.withColumn("last_click_id", last_click)
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "last_click_id")
    )


# =====================================================================
# Grouping sets family
# =====================================================================

@query(
    "rollup_pricing",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           count(*) AS n
    FROM lineitem
    GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
)
def rollup_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregation: (flag, status), (flag), () levels in one pass
    — Catalyst expands to a single Expand + hash aggregate."""
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_returnflag", "l_linestatus", "l_quantity"
    )
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "cube_order_priority",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n, round(sum(o_totalprice), 2) AS total
    FROM orders
    GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """,
)
def cube_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregation over order status x priority."""
    o = load_table(spark, "orders", sf_dir).select(
        "o_orderstatus", "o_orderpriority", "o_totalprice"
    )
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


# =====================================================================
# Set operations / semi / anti joins
# =====================================================================

@query(
    "setops_users",
    oracle="""
    SELECT user_id FROM events WHERE event_type = 'purchase'
    INTERSECT
    SELECT user_id FROM events WHERE event_type = 'error'
    """,
)
def setops_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct set semantics): users with both purchases and
    errors."""
    ev = load_table(spark, "events", sf_dir).select("user_id", "event_type")
    purch = ev.filter(F.col("event_type") == "purchase").select("user_id")
    err = ev.filter(F.col("event_type") == "error").select("user_id")
    return purch.intersect(err)


@query(
    "anti_join_users",
    oracle="""
    SELECT DISTINCT user_id FROM events e
    WHERE event_type = 'view'
      AND NOT EXISTS (
        SELECT 1 FROM events p
        WHERE p.user_id = e.user_id AND p.event_type = 'purchase')
    """,
)
def anti_join_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join: users who viewed but never purchased."""
    ev = load_table(spark, "events", sf_dir).select("user_id", "event_type")
    viewers = ev.filter(F.col("event_type") == "view").select("user_id").distinct()
    buyers = ev.filter(F.col("event_type") == "purchase").select("user_id")
    return viewers.join(buyers, "user_id", "left_anti")


@query(
    "semi_join_parts",
    oracle="""
    SELECT p_partkey, p_brand FROM part p
    WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey)
    """,
)
def semi_join_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join: parts that appear in at least one lineitem.
    Semi-join only shuffles keys, never duplicates the probe side."""
    p = load_table(spark, "part", sf_dir).select("p_partkey", "p_brand")
    li = load_table(spark, "lineitem", sf_dir).select("l_partkey")
    return p.join(li, p.p_partkey == li.l_partkey, "left_semi")


# =====================================================================
# Window analytics
# =====================================================================

@query(
    "user_running_value",
    oracle="""
    SELECT event_id, user_id,
           round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING), 2) AS running_total
    FROM events WHERE event_type = 'purchase'
    """,
)
def user_running_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The batch changelog of the reference's running-sum aggregate
    (A2, AggregationsExample.scala:36-38): one output row per input
    record carrying the running per-key total — exactly what the
    streaming update-mode query emits over time, reconstructed with a
    cumulative window (deterministic order => deterministic doubles)."""
    ev = load_table(spark, "events", sf_dir).select(
        "event_id", "user_id", "event_type", "value", "ts"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ev.filter(F.col("event_type") == "purchase")
        .withColumn("running_total", F.round(F.sum("value").over(w), 2))
        .select("event_id", "user_id", "running_total")
    )


@query(
    "event_gaps",
    oracle="""
    SELECT event_id, user_id,
           epoch_us(ts) - lag(epoch_us(ts))
             OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
    FROM events
    """,
)
def event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag(): microsecond gap to the user's previous event (integer
    arithmetic — no float time)."""
    ev = load_table(spark, "events", sf_dir).select("event_id", "user_id", "ts")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        (epoch_us("ts") - F.lag(epoch_us("ts")).over(w)).alias("gap_us"),
    )


# =====================================================================
# Distinct / percentile aggregation
# =====================================================================

@query(
    "distinct_parts_per_supplier",
    oracle="""
    SELECT l_suppkey, count(DISTINCT l_partkey) AS n_parts, count(*) AS n_items
    FROM lineitem GROUP BY l_suppkey
    """,
)
def distinct_parts_per_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregation (two-phase: dedup shuffle + final agg)."""
    li = load_table(spark, "lineitem", sf_dir).select("l_suppkey", "l_partkey")
    return li.groupBy("l_suppkey").agg(
        F.count_distinct("l_partkey").alias("n_parts"),
        F.count(F.lit(1)).alias("n_items"),
    )


@query(
    "distinct_daily_users",
    oracle="""
    SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, user_id
    FROM events
    """,
)
def distinct_daily_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicates on a derived key (daily active users)."""
    ev = load_table(spark, "events", sf_dir).select("ts", "user_id")
    return ev.select(
        F.date_trunc("day", F.col("ts")).alias("day"), "user_id"
    ).dropDuplicates()


@query(
    "value_percentiles",
    oracle="""
    SELECT event_type,
           floor((quantile_cont(value, 0.5)) * 1e4 + 0.5) / 1e4 AS p50,
           floor((quantile_cont(value, 0.9)) * 1e4 + 0.5) / 1e4 AS p90
    FROM events GROUP BY event_type
    """,
)
def value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark percentile == SQL
    quantile_cont linear interpolation)."""
    from confluent_kafka_streams_examples_spark.functions.scalar import round_det

    ev = load_table(spark, "events", sf_dir).select("event_type", "value")
    return ev.groupBy("event_type").agg(
        round_det(F.percentile("value", F.lit(0.5)), 4).alias("p50"),
        round_det(F.percentile("value", F.lit(0.9)), 4).alias("p90"),
    )


# =====================================================================
# Embedding-cosine near-dup via hyperplane LSH
# =====================================================================

_PLANES = 4
_DIMS = 64


def _plane_signs(p: int) -> list[float]:
    """Deterministic ±1 hyperplane components: sign(p, d) = +1 iff the
    first hex digit of md5('p{p}-{d}') >= 8.  Identical arithmetic is
    expressible in the SQL oracle (md5 is engine-portable)."""
    return [
        1.0 if int(hashlib.md5(f"p{p}-{d}".encode()).hexdigest()[0], 16) >= 8 else -1.0
        for d in range(1, _DIMS + 1)
    ]


def _sign_case_sql(p: int) -> str:
    return (
        f"(CASE WHEN strpos('0123456789abcdef', substr(md5(concat('p{p}-', "
        f"CAST(d AS VARCHAR))), 1, 1)) > 8 THEN 1.0 ELSE -1.0 END)"
    )


_BUCKET_SQL = " || ".join(
    f"(CASE WHEN list_sum(list_transform(range(1, {_DIMS + 1}), "
    f"d -> v[d] * {_sign_case_sql(p)})) >= 0 THEN '1' ELSE '0' END)"
    for p in range(_PLANES)
)


def _norm_bucket_base(emb: DataFrame) -> DataFrame:
    """(vec_id, v, nrm, bucket): normalized vector + 4-bit hyperplane
    LSH bucket — shared by the near-dup and ANN queries.

    The four 64-element plane-sign arrays and their dot-product folds
    are ONE ``F.expr`` string, not 256 ``F.lit`` Column constructions:
    the chained form cost ~0.3 s of py4j round trips per construction
    (profiled r12) across every query sharing this base.  ``0.0D`` /
    ``1.0D`` literals pin DoubleType (bare ``0.0`` parses as DECIMAL
    in SQL), so the fold arithmetic is bit-identical to the previous
    ``F.lit(0.0)`` form."""
    bits = ", ".join(
        "CASE WHEN aggregate(zip_with(v, array("
        + ", ".join(f"{s:.1f}D" for s in _plane_signs(p))
        + "), (x, y) -> x * y), 0.0D, (acc, x) -> acc + x) >= 0"
        " THEN '1' ELSE '0' END"
        for p in range(_PLANES)
    )
    return similarity.vector_base(emb).withColumn(
        "bucket", F.expr(f"concat({bits})")
    )


@query(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH n AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      FROM embeddings
    ),
    b AS (SELECT vec_id, v, nrm, {_BUCKET_SQL} AS bucket FROM n)
    SELECT a.vec_id AS vec_a, bb.vec_id AS vec_b,
           round(list_inner_product(a.v, bb.v) / (a.nrm * bb.nrm), 6) AS cos_sim
    FROM b a JOIN b bb ON a.bucket = bb.bucket AND a.vec_id < bb.vec_id
    WHERE round(list_inner_product(a.v, bb.v) / (a.nrm * bb.nrm), 6) >= 0.35
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup candidates via random-hyperplane LSH:
    4 deterministic ±1 hyperplanes -> 4-bit bucket -> equi-join on the
    bucket -> verify cosine >= threshold.

    Scale path for all-pairs similarity: the join shuffles on the bucket
    id, so cost is sum of per-bucket n_i^2 — and more planes shrink
    buckets geometrically.  The projections are JVM-side zip_with/
    aggregate folds (no Python, no collect)."""
    emb = load_table(spark, "embeddings", sf_dir)
    # materialize before the self-join: without it this query takes
    # 1.88 -> 2.20 s (sf0.1, 10 pairs)
    from pyspark.storagelevel import StorageLevel

    base = _norm_bucket_base(emb).persist(StorageLevel.MEMORY_AND_DISK)

    a = base.select(
        F.col("vec_id").alias("vec_a"), F.col("v").alias("va"),
        F.col("nrm").alias("na"), "bucket",
    )
    b = base.select(
        F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"),
        F.col("nrm").alias("nb"), "bucket",
    )
    cos = F.round(_dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6)
    return (
        a.join(b, "bucket")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .withColumn("cos_sim", cos)
        .filter(F.col("cos_sim") >= 0.35)
        .select("vec_a", "vec_b", "cos_sim")
    )


# =====================================================================
# Pivot + SCD2 (changelog -> versioned-dimension emulation)
# =====================================================================

_EVENT_TYPES = ("click", "view", "purchase", "signup", "error")


@query(
    "pivot_event_counts",
    oracle="""
    SELECT user_id,
           {cols}
    FROM events GROUP BY user_id
    """.format(
        cols=",\n           ".join(
            f"CAST(sum(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS {t}"
            for t in _EVENT_TYPES
        )
    ),
)
def pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: per-user event counts, one column per event type.  Explicit
    pivot values keep the schema static (no extra distinct-values job —
    mandatory at scale)."""
    ev = load_table(spark, "events", sf_dir).select("user_id", "event_type")
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", list(_EVENT_TYPES))
        .agg(F.count(F.lit(1)))
    )
    return out.select(
        "user_id", *[F.coalesce(F.col(t), F.lit(0)).cast("bigint").alias(t) for t in _EVENT_TYPES]
    )


@query(
    "scd2_user_history",
    oracle="""
    SELECT event_id, user_id, value,
           epoch_us(ts) AS valid_from_us,
           lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS valid_to_us
    FROM events WHERE event_type = 'signup'
    """,
)
def scd2_user_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 emulation: turn the per-key changelog into versioned rows
    with [valid_from, valid_to) intervals via lead() — null valid_to
    marks the current version.  This is the KTable history expansion
    (integer-microsecond intervals; one shuffle)."""
    ev = load_table(spark, "events", sf_dir).select(
        "event_id", "user_id", "event_type", "value", "ts"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.filter(F.col("event_type") == "signup")
        .select(
            "event_id",
            "user_id",
            "value",
            epoch_us("ts").alias("valid_from_us"),
            F.lead(epoch_us("ts")).over(w).alias("valid_to_us"),
        )
    )


# =====================================================================
# Delta-style MERGE INTO (snapshot upsert — operators/merge.py)
# =====================================================================

@query(
    "merge_upsert_balances",
    oracle="""
    WITH tgt AS (
      SELECT c_custkey, c_name, floor(c_acctbal * 1e2 + 0.5) / 1e2 AS acctbal
      FROM customer WHERE c_acctbal >= 0),
    src AS (
      SELECT o_custkey, floor(sum(o_totalprice) * 1e2 + 0.5) / 1e2 AS revenue
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        AND o_orderdate <  TIMESTAMP '1998-01-01'
      GROUP BY o_custkey)
    SELECT COALESCE(t.c_custkey, s.o_custkey) AS c_custkey,
           COALESCE(t.c_name, c2.c_name) AS c_name,
           CASE WHEN t.c_custkey IS NULL THEN s.revenue
                WHEN s.o_custkey IS NULL THEN t.acctbal
                ELSE floor((t.acctbal + s.revenue) * 1e2 + 0.5) / 1e2
           END AS acctbal
    FROM tgt t
    FULL JOIN src s ON t.c_custkey = s.o_custkey
    LEFT JOIN customer c2 ON s.o_custkey = c2.c_custkey
    WHERE NOT (t.c_custkey IS NOT NULL AND s.o_custkey IS NOT NULL
               AND s.revenue < 5000)
    """,
)
def merge_upsert_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-style MERGE (operators/merge.py) over real tables, all
    three clause paths live:

    - target: non-negative-balance customers (snapshot);
    - source: 1997 revenue per customer (the daily-delta analog);
    - WHEN MATCHED AND revenue < 5000 THEN DELETE (churn the long tail)
    - WHEN MATCHED THEN UPDATE acctbal += revenue
    - WHEN NOT MATCHED THEN INSERT (negative-balance customers that DID
      order in 1997 enter the snapshot with acctbal = revenue).

    One full-outer join; the source side is the small aggregate, so at
    100 TB the snapshot never shuffles for a daily delta (broadcast) —
    and partition pruning via merge.touched_partitions limits the
    rewrite."""
    from confluent_kafka_streams_examples_spark.functions.scalar import round_det
    from confluent_kafka_streams_examples_spark.operators.merge import merge_into

    cust = load_table(spark, "customer", sf_dir).select(
        "c_custkey", "c_name", "c_acctbal"
    )
    orders = load_table(spark, "orders", sf_dir).select(
        "o_custkey", "o_totalprice", "o_orderdate"
    )
    target = cust.filter(F.col("c_acctbal") >= 0).select(
        "c_custkey", "c_name", round_det("c_acctbal", 2).alias("acctbal")
    )
    lo = F.lit("1997-01-01").cast("timestamp")
    hi = F.lit("1998-01-01").cast("timestamp")
    source = (
        orders.filter((F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi))
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(round_det(F.sum("o_totalprice"), 2).alias("revenue"))
        .join(
            cust.select("c_custkey", F.col("c_name").alias("src_name")),
            "c_custkey",
        )
    )
    return merge_into(
        target,
        source,
        on="c_custkey",
        matched_update={
            "acctbal": round_det(F.col("t.acctbal") + F.col("s.revenue"), 2)
        },
        matched_delete_condition=F.col("s.revenue") < 5000,
        insert_values={
            "c_custkey": F.col("s.c_custkey"),
            "c_name": F.col("s.src_name"),
            "acctbal": F.col("s.revenue"),
        },
    )


# =====================================================================
# ANN top-k via LSH buckets (the sublinear scale path for similarity
# search: probe only the query's bucket, never the full corpus)
# =====================================================================

@query(
    "similarity_ann_lsh",
    oracle=f"""
    WITH n AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      FROM embeddings
    ),
    b AS (SELECT vec_id, v, nrm, {_BUCKET_SQL} AS bucket FROM n),
    q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm, bucket
          FROM b WHERE vec_id < 5),
    scored AS (
      SELECT q.query_id, c.vec_id,
             round(list_inner_product(c.v, q.qv) / (c.nrm * q.qnrm), 6) AS cos_sim,
             row_number() OVER (PARTITION BY q.query_id
                                ORDER BY round(list_inner_product(c.v, q.qv)
                                               / (c.nrm * q.qnrm), 6) DESC,
                                         c.vec_id) AS rn
      FROM q JOIN b c ON q.bucket = c.bucket AND c.vec_id != q.query_id)
    SELECT query_id, vec_id, cos_sim FROM scored WHERE rn <= 3
    """,
)
def similarity_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate nearest neighbors: each query probes ONLY its own
    hyperplane-LSH bucket (vs similarity_topk's full scan).  The probe
    is an equi-join on the bucket id + WindowGroupLimit top-3 per query
    — at 100 TB the corpus side is bucket-partitioned parquet, so a
    probe touches one partition, not the table.  Recall is tunable with
    more planes (smaller buckets) or multi-probe (flip one bit)."""
    base = _norm_bucket_base(load_table(spark, "embeddings", sf_dir))
    q = similarity.query_vectors(base, "bucket")
    return similarity.cosine_topk_per_query(base.join(F.broadcast(q), "bucket"))


# =====================================================================
# Dimension-wise embedding centroids (posexplode pattern: array math
# as plain relational aggregation — no UDF, fully shuffle-parallel)
# =====================================================================

@query(
    "embedding_centroids",
    oracle="""
    SELECT label, d AS dim,
           floor(avg(embedding[d]) * 1e6 + 0.5) / 1e6 AS centroid
    FROM embeddings, unnest(range(1, 65)) u(d)
    GROUP BY label, d
    """,
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid, one row per (label, dimension): posexplode
    turns the array into relational form so the mean is an ordinary
    partial-aggregated groupBy — the scalable alternative to collecting
    vectors for numpy.  (64 x n_labels output rows regardless of corpus
    size; this is the k-means/IVF training-step primitive.)"""
    from confluent_kafka_streams_examples_spark.functions.scalar import round_det

    emb = load_table(spark, "embeddings", sf_dir)
    return (
        emb.select(
            "label",
            F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "val"),
        )
        .groupBy("label", (F.col("pos") + 1).cast("long").alias("dim"))
        .agg(round_det(F.avg("val"), 6).alias("centroid"))
    )


# =====================================================================
# ANN top-k via IVF probe (centroid codebook + inverted lists — the
# second sublinear scale path, complementing the LSH-bucket variant)
# =====================================================================


def _ivf_codebook(emb: DataFrame) -> DataFrame:
    """(label, cv): per-label centroid codebook — k rows, broadcastable."""
    return similarity.centroid_means(
        emb, "label", F.col("embedding").cast("array<double>"), "cv"
    )


# shared by similarity_ivf_probe and its materialized-index twin
# similarity_ivf_pruned: the pruned path is a scale variant of the SAME
# computation and must agree with it row-for-row.
_IVF_PROBE_SQL = """
    WITH n AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm,
             label
      FROM embeddings),
    cent AS (
      SELECT label, d, floor(avg(v[d]) * 1e6 + 0.5) / 1e6 AS c
      FROM n, unnest(range(1, 65)) u(d) GROUP BY label, d),
    cvec AS (SELECT label, list(c ORDER BY d) AS cv FROM cent GROUP BY label),
    dist AS (
      SELECT a.vec_id, c.label,
             floor(list_sum(list_transform(range(1, 65),
                     d -> (a.v[d] - c.cv[d]) * (a.v[d] - c.cv[d]))) * 1e6 + 0.5) / 1e6 AS d2
      FROM n a CROSS JOIN cvec c),
    ranked AS (
      SELECT vec_id, label,
             row_number() OVER (PARTITION BY vec_id ORDER BY d2, label) AS crn
      FROM dist),
    assign AS (SELECT vec_id, label FROM ranked WHERE crn = 1),
    probe AS (SELECT vec_id AS query_id, label FROM ranked
              WHERE vec_id < 5 AND crn <= 2),
    q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm FROM n WHERE vec_id < 5),
    scored AS (
      SELECT p.query_id, a.vec_id,
             round(list_inner_product(c.v, q.qv) / (c.nrm * q.qnrm), 6) AS cos_sim,
             row_number() OVER (PARTITION BY p.query_id
                                ORDER BY round(list_inner_product(c.v, q.qv)
                                               / (c.nrm * q.qnrm), 6) DESC,
                                         a.vec_id) AS rn
      FROM probe p
      JOIN assign a ON a.label = p.label AND a.vec_id != p.query_id
      JOIN n c ON c.vec_id = a.vec_id
      JOIN q ON q.query_id = p.query_id)
    SELECT query_id, vec_id, cos_sim FROM scored WHERE rn <= 3
    """


@query("similarity_ivf_probe", oracle=_IVF_PROBE_SQL)
def similarity_ivf_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: the per-label centroids are the coarse codebook,
    EVERY vector is re-assigned to its nearest centroid (the inverted
    list it lives in), and each query searches only its nprobe=2
    nearest lists.  All vector math stays JVM-side (zip_with +
    aggregate); the codebook is k rows so both the assignment step and
    the probe are broadcast joins — no shuffle touches the corpus
    beyond the final per-query top-k.  At 100 TB the corpus is written
    partitioned by list id, so a probe reads nprobe partitions of
    parquet, not the table; recall tuning = larger nprobe.  Distances
    are rounded (round_det 6) before the argmin so the assignment is
    reproducible across engines and summation orders."""
    emb = load_table(spark, "embeddings", sf_dir)
    base = similarity.vector_base(emb)
    # one distance frame feeds both the corpus assignment and the router
    dist = similarity.ivf_distances(base, _ivf_codebook(emb))
    lists = similarity.ivf_nearest(dist).join(
        base.select("vec_id", "v", "nrm"), "vec_id"
    )
    probe = similarity.ivf_route(dist).withColumnRenamed("list_id", "label")
    q = similarity.query_vectors(base)
    return similarity.cosine_topk_per_query(
        lists.join(F.broadcast(probe), "label").join(F.broadcast(q), "query_id")
    )


#: deterministic day-batch split (the sketch_hll_incremental pattern):
#: vec_id % 10 == 0 is "today's append", the rest is the trained corpus
_IVF_NEW_PRED = "vec_id % 10 = 0"


def _ivf_training_set(spark: SparkSession, sf_dir: str, corpus90: bool) -> DataFrame:
    """The embeddings a codebook and its index are built from: the
    whole table, or with ``corpus90`` the corpus without today's
    append."""
    emb = load_table(spark, "embeddings", sf_dir)
    return emb.filter(F.expr(f"NOT ({_IVF_NEW_PRED})")) if corpus90 else emb


def _ivf_tag(kind: str, corpus90: bool) -> str:
    """Artifact tag of the codebook or index (the artifact GC and
    tests/test_plans.py read these names)."""
    return f"ivf_{kind}|6dp" + ("|corpus90" if corpus90 else "")


def _ivf_codebook_table(
    spark: SparkSession, sf_dir: str, corpus90: bool = False
) -> DataFrame:
    """Materialized k-row IVF codebook (label, cv) — built once per
    embeddings version; every router broadcast reads the store.  The
    centroids are 6-dp-rounded doubles, so the parquet roundtrip is
    bit-exact and routing off the store matches routing off a
    recomputation.

    ``corpus90`` trains on the CORPUS ONLY (the 90% split): the append
    path assigns new vectors to these FROZEN centroids, exactly how a
    production IVF index absorbs a day batch (retraining the codebook
    would re-shuffle every inverted list)."""
    import os

    from confluent_kafka_streams_examples_spark.artifacts import materialized

    def build() -> DataFrame:
        return _ivf_codebook(_ivf_training_set(spark, sf_dir, corpus90))

    return materialized(
        spark,
        os.path.join(sf_dir, "embeddings.parquet"),
        _ivf_tag("codebook", corpus90),
        build,
    )


def _ivf_index_table(
    spark: SparkSession, sf_dir: str, corpus90: bool = False
) -> DataFrame:
    """Materialized IVF inverted lists: (vec_id, v, nrm) partitioned by
    list_id — built once per embeddings version from the stored
    codebook, so probes at any later time touch nprobe directories of
    a STABLE index, exactly a vector DB's layout.  Assignment is the
    6-dp-rounded argmin, reproducible across engines and build
    times.  ``corpus90`` indexes the corpus split under its own
    codebook — the once-per-corpus cost the append path exists to
    avoid paying daily (scripts/ivf_append_probe.py times the two
    phases separately)."""
    import os

    from confluent_kafka_streams_examples_spark.artifacts import materialized

    def build() -> DataFrame:
        base = similarity.vector_base(_ivf_training_set(spark, sf_dir, corpus90))
        return similarity.ivf_assign(
            base, _ivf_codebook_table(spark, sf_dir, corpus90)
        )

    return materialized(
        spark,
        os.path.join(sf_dir, "embeddings.parquet"),
        _ivf_tag("index", corpus90),
        build,
        partition_by="list_id",
    )


def _ivf_probe(
    spark: SparkSession, sf_dir: str, lists: DataFrame, cent: DataFrame
) -> DataFrame:
    """The collect-free IVF probe: the router picks each query's
    NPROBE nearest lists of the (label, cv) codebook ``cent`` and the
    query is scored against the vectors those lists hold in ``lists``
    (a list_id-partitioned index).  The routing rows reach the index
    as a broadcast equi-join on the partition column, so dynamic
    partition pruning reads only the probed list directories."""
    base = similarity.vector_base(load_table(spark, "embeddings", sf_dir))
    probe = similarity.ivf_route(similarity.ivf_distances(base, cent))
    q = similarity.query_vectors(base)
    return similarity.cosine_topk_per_query(
        lists.join(F.broadcast(probe), "list_id").join(F.broadcast(q), "query_id")
    )


@query("similarity_ivf_pruned", oracle=_IVF_PROBE_SQL)
def similarity_ivf_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized IVF index with REAL partition pruning: the inverted
    lists live as a VERSION-KEYED parquet artifact ``partitionBy(
    list_id)`` (built once per embeddings version — artifacts.py) and
    the probe reads only the probed lists — the scan carries a
    static ``PartitionFilters: [list_id IN (...)]`` (plan-asserted in
    tests/test_plans.py), so at 100 TB a probe touches nprobe
    directories of the index, never the corpus.  The router step (which
    lists each query probes) is centroid math; its result — Q x nprobe
    scalars — is the only thing collected to the driver, exactly the
    role a vector-DB router plays (and why the pruning filter can be
    static rather than DPP-dependent).  Same computation and SAME
    oracle as similarity_ivf_probe: the union-of-probed-lists scan
    filter is a superset of every per-query probe and the per-query
    join restricts it, so the two queries must agree row-for-row — the
    pruned path is the scale variant, not a different answer.
    Reference analog: reading a materialized state store instead of
    recomputing the stream (ProcessorApiExample.scala:74-78)."""
    base = similarity.vector_base(load_table(spark, "embeddings", sf_dir))
    # router over the stored codebook: Q query vectors x k centroids
    # (the full corpus-side assignment lives in the materialized index).
    # Bounded driver collect: on a dense-id corpus the query set is ids
    # 0..N_QUERIES-1, so more than NPROBE x N_QUERIES rows means
    # negative ids joined it
    n_route = similarity.NPROBE * similarity.N_QUERIES
    probe_rows = (
        similarity.ivf_route(
            similarity.ivf_distances(base, _ivf_codebook_table(spark, sf_dir))
        )
        .limit(n_route + 1)
        .collect()
    )
    if len(probe_rows) > n_route:
        raise ValueError(
            f"similarity_ivf_pruned: router returned more than {n_route} "
            "rows; the query set vec_id < 5 needs non-negative dense ids"
        )
    probed_lists = sorted({r["list_id"] for r in probe_rows})
    probe = spark.createDataFrame(
        [(r["query_id"], r["list_id"]) for r in probe_rows],
        "query_id bigint, list_id int",
    )
    q = similarity.query_vectors(base)
    idx = _ivf_index_table(spark, sf_dir).filter(
        F.col("list_id").isin(probed_lists)
    )
    return similarity.cosine_topk_per_query(
        idx.join(F.broadcast(probe), "list_id").join(F.broadcast(q), "query_id")
    )


@query("similarity_ivf_dynamic", oracle=_IVF_PROBE_SQL)
def similarity_ivf_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLLECT-FREE twin of similarity_ivf_pruned: the router's
    query->list assignments stay a DataFrame and reach the materialized
    index as a broadcast equi-join on the partition column, so Spark's
    dynamic partition pruning injects the probed-list filter into the
    index scan at runtime (``PartitionFilters: [... dynamicpruning...]``,
    plan-asserted in tests/test_plans.py).  Same computation and SAME
    oracle as similarity_ivf_probe/similarity_ivf_pruned.

    This is the serving-scale variant: at a 10^6-query probe batch the
    static path's driver round-trip (collect the routing table, build an
    ``isin``) becomes a plan-build bottleneck, while here the routing
    rows never leave the executors — the broadcast that feeds the join
    is reused as the pruning subquery, so the index still reads only the
    probed list directories.  Reference analog: reading a materialized
    state store instead of recomputing the stream
    (ProcessorApiExample.scala:74-78)."""
    return _ivf_probe(
        spark,
        sf_dir,
        _ivf_index_table(spark, sf_dir),
        _ivf_codebook_table(spark, sf_dir),
    )


# =====================================================================
# Incremental IVF index maintenance (VERDICT r9 #4): real corpora
# APPEND — the index artifact must absorb a day batch without a
# rebuild, and a drift statistic must gate when rebuild is due.
# =====================================================================

def _ivf_day_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, v, nrm, list_id): today's append filed under the
    FROZEN corpus codebook — what the day batch adds to each list."""
    emb = load_table(spark, "embeddings", sf_dir).filter(F.expr(_IVF_NEW_PRED))
    return similarity.ivf_assign(
        similarity.vector_base(emb), _ivf_codebook_table(spark, sf_dir, corpus90=True)
    )


def _ivf_index_appended_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized corpus index + DAY-BATCH APPEND into the same
    partitioned layout: the new vectors are assigned to the frozen
    corpus codebook and their parquet files land inside the existing
    ``list_id=`` directories (mode=append), so probes keep pruning to
    nprobe directories and the corpus partitions are NEVER rewritten —
    the append costs O(day batch), not O(index).  A marker file makes
    the append idempotent per artifact version (the artifact path
    already encodes source stamp + params + engine digest, so a corpus
    regen or spec change starts from a fresh base).  Same
    single-session caveat as the artifact GC: a concurrent appender
    could race the marker; production would stage the day files and
    rename, which parquet append does per-file anyway."""
    import os

    from confluent_kafka_streams_examples_spark.artifacts import artifact_path

    _ivf_index_table(spark, sf_dir, corpus90=True)  # built on a miss
    path = artifact_path(
        os.path.join(sf_dir, "embeddings.parquet"), _ivf_tag("index", True)
    )
    marker = os.path.join(path, "_CKSE_APPENDED_batch1")
    if not os.path.exists(marker):
        _ivf_day_batch(spark, sf_dir).write.mode("append").partitionBy(
            "list_id"
        ).parquet(path)
        with open(marker, "w", encoding="utf-8"):
            pass
    return spark.read.parquet(path)


# Same probe semantics as _IVF_PROBE_SQL, but the codebook is trained
# on the corpus split only — queries and results still span the FULL
# table (corpus + appended day batch), which is the contract the
# append must satisfy: new vectors are findable without a rebuild.
_IVF_APPEND_SQL = """
    WITH n AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm,
             label
      FROM embeddings),
    cent AS (
      SELECT label, d, floor(avg(v[d]) * 1e6 + 0.5) / 1e6 AS c
      FROM n, unnest(range(1, 65)) u(d)
      WHERE NOT (vec_id % 10 = 0)
      GROUP BY label, d),
    cvec AS (SELECT label, list(c ORDER BY d) AS cv FROM cent GROUP BY label),
    dist AS (
      SELECT a.vec_id, c.label,
             floor(list_sum(list_transform(range(1, 65),
                     d -> (a.v[d] - c.cv[d]) * (a.v[d] - c.cv[d]))) * 1e6 + 0.5) / 1e6 AS d2
      FROM n a CROSS JOIN cvec c),
    ranked AS (
      SELECT vec_id, label,
             row_number() OVER (PARTITION BY vec_id ORDER BY d2, label) AS crn
      FROM dist),
    assign AS (SELECT vec_id, label FROM ranked WHERE crn = 1),
    probe AS (SELECT vec_id AS query_id, label FROM ranked
              WHERE vec_id < 5 AND crn <= 2),
    q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm FROM n WHERE vec_id < 5),
    scored AS (
      SELECT p.query_id, a.vec_id,
             round(list_inner_product(c.v, q.qv) / (c.nrm * q.qnrm), 6) AS cos_sim,
             row_number() OVER (PARTITION BY p.query_id
                                ORDER BY round(list_inner_product(c.v, q.qv)
                                               / (c.nrm * q.qnrm), 6) DESC,
                                         a.vec_id) AS rn
      FROM probe p
      JOIN assign a ON a.label = p.label AND a.vec_id != p.query_id
      JOIN n c ON c.vec_id = a.vec_id
      JOIN q ON q.query_id = p.query_id)
    SELECT query_id, vec_id, cos_sim FROM scored WHERE rn <= 3
    """


@query("similarity_ivf_append", oracle=_IVF_APPEND_SQL)
def similarity_ivf_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probe over the INCREMENTALLY-MAINTAINED index: the stored
    corpus index absorbed a day batch by assigning the new vectors to
    the frozen corpus codebook and appending their files into the
    existing ``list_id=`` partition directories — no rebuild, no
    corpus-partition rewrite — and the probe (collect-free DPP router,
    same shape as similarity_ivf_dynamic) searches corpus and new
    vectors uniformly, still reading only the probed list directories
    (plan-asserted: the appended index scan carries a dynamic
    ``PartitionFilters`` on list_id).  The oracle recomputes the whole
    thing from scratch — frozen-codebook assignment over corpus+batch —
    so the append is verified bit-equal to a from-scratch assignment,
    the same invariant sketch_hll_incremental pins for register
    max-merge.  Reference analog: a compacted changelog absorbing new
    records into a restored state store (KTableExample.scala:52-56)."""
    return _ivf_probe(
        spark,
        sf_dir,
        _ivf_index_appended_table(spark, sf_dir),
        _ivf_codebook_table(spark, sf_dir, corpus90=True),
    )


@query(
    "ivf_drift_stat",
    oracle=f"""
    WITH n AS (
      SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
    cent AS (
      SELECT label, d, floor(avg(v[d]) * 1e6 + 0.5) / 1e6 AS c
      FROM n, unnest(range(1, 65)) u(d)
      WHERE NOT (vec_id % 10 = 0)
      GROUP BY label, d),
    cvec AS (SELECT label, list(c ORDER BY d) AS cv FROM cent GROUP BY label),
    dist AS (
      SELECT a.vec_id, c.label,
             floor(list_sum(list_transform(range(1, 65),
                     d -> (a.v[d] - c.cv[d]) * (a.v[d] - c.cv[d]))) * 1e6 + 0.5) / 1e6 AS d2
      FROM n a CROSS JOIN cvec c),
    mind AS (
      SELECT vec_id, CAST(floor(min(d2) * 1e6 + 0.5) AS BIGINT) AS d2_e6
      FROM dist GROUP BY vec_id),
    s AS (
      SELECT
        CAST(sum(CASE WHEN NOT (vec_id % 10 = 0) THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
        CAST(sum(CASE WHEN vec_id % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
        CAST(sum(CASE WHEN NOT (vec_id % 10 = 0) THEN d2_e6 ELSE 0 END) AS HUGEINT) AS s_train,
        CAST(sum(CASE WHEN vec_id % 10 = 0 THEN d2_e6 ELSE 0 END) AS HUGEINT) AS s_new
      FROM mind)
    SELECT n_train, n_new,
           CAST(s_train // n_train AS BIGINT) AS train_mean_d2_e6,
           CAST(s_new // n_new AS BIGINT) AS new_mean_d2_e6,
           CAST((s_new * n_train * 1000000) // (s_train * n_new) AS BIGINT)
             AS drift_ratio_e6,
           CAST((s_new * n_train * 1000000) // (s_train * n_new) AS BIGINT)
             > 1100000 AS rebuild_recommended
    FROM s
    """,
)
def ivf_drift_stat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rebuild gate for the incremental IVF index: mean
    assigned-distance (each vector's distance to its nearest FROZEN
    corpus centroid) of the appended batch vs the trained corpus, as
    an integer-exact ppm ratio.  A batch drawn from the trained
    distribution sits near 1.0e6; covariate shift pushes the ratio up
    — past +10% (1.1e6) the frozen codebook is mis-binning new data
    and ``rebuild_recommended`` flips, which is when production
    retrains and rebuilds (the sketch_hll_incremental pattern applied
    to ANN: cheap daily appends, statistic-gated rebuilds).

    Integer-exact portability: per-vector min distances are already
    round_det(6) doubles; converting each to BIGINT micro-units before
    summation makes the means and the cross-ratio pure integer
    arithmetic (one DECIMAL(38,0)/HUGEINT multiply-divide), so both
    engines hash-match on the ratio, not approximately.  Scale: one
    corpus scan, k-row broadcast, and a two-cell aggregate — the
    statistic is free next to the assignment it audits."""
    base = similarity.vector_base(load_table(spark, "embeddings", sf_dir))
    dist = similarity.ivf_distances(
        base, _ivf_codebook_table(spark, sf_dir, corpus90=True)
    )
    mind = dist.groupBy("vec_id").agg(
        F.expr("CAST(floor(min(d2) * 1e6 + 0.5) AS BIGINT)").alias("d2_e6")
    )
    is_new = F.expr(_IVF_NEW_PRED)
    s = mind.agg(
        F.sum(F.when(~is_new, 1).otherwise(0)).cast("bigint").alias("n_train"),
        F.sum(F.when(is_new, 1).otherwise(0)).cast("bigint").alias("n_new"),
        F.sum(F.when(~is_new, F.col("d2_e6")).otherwise(0))
        .cast("decimal(38,0)")
        .alias("s_train"),
        F.sum(F.when(is_new, F.col("d2_e6")).otherwise(0))
        .cast("decimal(38,0)")
        .alias("s_new"),
    )
    ratio = (
        "CAST((s_new * n_train * 1000000) div (s_train * n_new) AS BIGINT)"
    )
    return s.select(
        "n_train",
        "n_new",
        F.expr("CAST(s_train div n_train AS BIGINT)").alias("train_mean_d2_e6"),
        F.expr("CAST(s_new div n_new AS BIGINT)").alias("new_mean_d2_e6"),
        F.expr(ratio).alias("drift_ratio_e6"),
        F.expr(f"{ratio} > 1100000").alias("rebuild_recommended"),
    )


# =====================================================================
# Gopher-style repetition / quality signals
# =====================================================================

@query(
    "quality_repetition_signals",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
    tc AS (SELECT doc_id, token, count(*) AS c FROM tok GROUP BY 1, 2)
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_distinct,
           floor((count(*) / CAST(sum(c) AS DOUBLE)) * 1e4 + 0.5) / 1e4
             AS type_token_ratio,
           floor((max(c) / CAST(sum(c) AS DOUBLE)) * 1e4 + 0.5) / 1e4
             AS top_token_frac
    FROM tc GROUP BY doc_id
    """,
)
def quality_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality filters (Gopher-style): type-token ratio
    and most-frequent-token dominance per document.  Two partial-agg
    shuffles on (doc_id, token) then doc_id — token counts collapse
    map-side, so shuffle volume tracks vocabulary, not corpus length."""
    from confluent_kafka_streams_examples_spark.functions.scalar import round_det

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    tc = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return tc.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        round_det(F.count(F.lit(1)) / F.sum("c").cast("double"), 4).alias(
            "type_token_ratio"
        ),
        round_det(F.max("c") / F.sum("c").cast("double"), 4).alias("top_token_frac"),
    )


@query(
    "ann_recall_eval",
    oracle=f"""
    WITH n AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      FROM embeddings),
    b AS (SELECT vec_id, v, nrm, {_BUCKET_SQL} AS bucket FROM n),
    q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm, bucket
          FROM b WHERE vec_id < 5),
    exact AS (
      SELECT q.query_id, c.vec_id,
             row_number() OVER (PARTITION BY q.query_id
                                ORDER BY round(list_inner_product(c.v, q.qv)
                                               / (c.nrm * q.qnrm), 6) DESC,
                                         c.vec_id) AS rn
      FROM q JOIN n c ON c.vec_id != q.query_id),
    e3 AS (SELECT query_id, vec_id FROM exact WHERE rn <= 3),
    ann AS (
      SELECT q.query_id, c.vec_id,
             row_number() OVER (PARTITION BY q.query_id
                                ORDER BY round(list_inner_product(c.v, q.qv)
                                               / (c.nrm * q.qnrm), 6) DESC,
                                         c.vec_id) AS rn
      FROM q JOIN b c ON q.bucket = c.bucket AND c.vec_id != q.query_id),
    a3 AS (SELECT query_id, vec_id FROM ann WHERE rn <= 3)
    SELECT e3.query_id,
           CAST(count(a3.vec_id) AS BIGINT) AS hits,
           floor(count(a3.vec_id) / 3.0 * 1e4 + 0.5) / 1e4 AS recall_at_3
    FROM e3 LEFT JOIN a3 ON e3.query_id = a3.query_id AND e3.vec_id = a3.vec_id
    GROUP BY e3.query_id
    """,
)
def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation: recall@3 of the hyperplane-LSH probe
    (similarity_ann_lsh's plan) against exact brute-force top-3 — the
    measurement loop every production ANN deployment needs before
    trusting an approximate index.  Ground truth is ONE corpus scan for
    the whole query batch (queries broadcast, WindowGroupLimit top-3
    per query — same shape as similarity_topk_batch); the probe side
    touches only its LSH bucket.  Both rankings share the deterministic
    tie-break (rounded cosine DESC, vec_id), so recall is
    engine-reproducible; at 100 TB the eval runs on a sampled query set
    while the index itself never materializes all-pairs."""
    base = _norm_bucket_base(load_table(spark, "embeddings", sf_dir))
    q = similarity.query_vectors(base, F.col("bucket").alias("qbucket"))
    # 5-row broadcast: batch ground truth
    exact3 = similarity.cosine_topk_per_query(base.crossJoin(F.broadcast(q)))
    ann3 = similarity.cosine_topk_per_query(
        base.join(F.broadcast(q), base["bucket"] == q["qbucket"])
    )
    return similarity.recall_at_k(exact3, ann3)


def _km_assign_sql(vrel: str, crel: str, out: str) -> str:
    """One Lloyd assignment step in DuckDB SQL: nearest centroid by
    squared L2 (rounded to 6 dp, ties to the smaller cid)."""
    return f"""{out} AS (
      SELECT vec_id, v, cid, dist FROM (
        SELECT {vrel}.vec_id, {vrel}.v, {crel}.cid,
               round(list_sum(list_transform(range(1, {_DIMS + 1}),
                     d -> ({vrel}.v[d] - {crel}.c[d]) * ({vrel}.v[d] - {crel}.c[d]))), 6) AS dist,
               row_number() OVER (
                 PARTITION BY {vrel}.vec_id
                 ORDER BY round(list_sum(list_transform(range(1, {_DIMS + 1}),
                          d -> ({vrel}.v[d] - {crel}.c[d]) * ({vrel}.v[d] - {crel}.c[d]))), 6),
                          {crel}.cid) AS rn
        FROM {vrel} CROSS JOIN {crel}) WHERE rn = 1)"""


def _km_recompute_sql(arel: str, out: str) -> str:
    """Centroid recomputation in DuckDB SQL: per-dimension mean rounded
    to 6 dp (matching the Spark side exactly so the NEXT iteration's
    distances are computed over identical doubles)."""
    return f"""{out} AS (
      SELECT cid, list(cv ORDER BY d) AS c FROM (
        SELECT cid, d, floor(avg(v[d]) * 1e6 + 0.5) / 1e6 AS cv
        FROM {arel}, unnest(range(1, {_DIMS + 1})) u(d)
        GROUP BY cid, d) GROUP BY cid)"""


@query(
    "embedding_kmeans_fixed",
    oracle=f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    c0 AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS c
           FROM embeddings WHERE vec_id < 8),
    {_km_assign_sql('v', 'c0', 'a1')},
    {_km_recompute_sql('a1', 'c1')},
    {_km_assign_sql('v', 'c1', 'a2')},
    {_km_recompute_sql('a2', 'c2')},
    {_km_assign_sql('v', 'c2', 'a3')}
    SELECT cid, count(*) AS n_members,
           CAST(sum(CAST(floor(dist * 1e6 + 0.5) AS BIGINT)) AS BIGINT)
             AS inertia_micro
    FROM a3 GROUP BY cid
    """,
)
def embedding_kmeans_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Lloyd's k-means (k=8, 2 refinement iterations) as
    ONE declarative plan — the iterative-algorithm pattern beyond
    connected components, oracle-checked end to end.

    Determinism contract: init centroids are the 8 smallest vec_ids (no
    seeded sampling), ties assign to the smaller cid, and recomputed
    centroids are rounded to 6 dp on BOTH engines, so every subsequent
    distance is computed over identical IEEE doubles; inertia is
    reported in integer micros.  Scale shape: each iteration is one
    8-row centroid BROADCAST into the corpus scan (assignment never
    shuffles the vectors) + one posexplode partial-agg shuffle of
    (cid, dim) partials for the recompute — the corpus-side cost is
    iterations x one scan.  On a real cluster, checkpoint between
    iterations to cut the growing lineage (same lever as
    connected_components); at 3 iterations the single lazy plan is
    fine and lets Catalyst pipeline the final assignment with the last
    recompute."""
    emb = load_table(spark, "embeddings", sf_dir)
    vecs = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("embedding").cast("array<double>").alias("c")
    )

    def assign(cur_cents: DataFrame) -> DataFrame:
        dist = F.round(
            F.aggregate(
                F.zip_with(F.col("v"), F.col("c"), lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            6,
        )
        # argmin via min_by over (dist, cid) — same (dist, cid) order a
        # row_number window would use (ties -> smaller cid), but it is
        # a HASH aggregate with map-side partials: the k-way scored
        # stream collapses to one row per vector BEFORE the exchange
        # (k x fewer shuffled rows, each carrying the 64-double vector)
        # and no per-vector sort runs at all.  Wall-clock wash at
        # sf0.1's 2k vectors; the plan is strictly lighter and the gap
        # widens with corpus size (r11 plan diff:
        # Window+Sort+Exchange(k rows/vec) -> partial min_by +
        # Exchange(1 row/vec)).
        scored = vecs.crossJoin(F.broadcast(cur_cents)).withColumn(
            "dist", dist
        )
        return (
            scored.groupBy("vec_id")
            .agg(
                F.min_by(
                    F.struct("v", "cid", "dist"), F.struct("dist", "cid")
                ).alias("b")
            )
            .select("vec_id", "b.v", "b.cid", "b.dist")
        )

    a = assign(cents)
    for _ in range(2):
        a = assign(similarity.centroid_means(a, "cid", "v", "c"))
    return a.groupBy("cid").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum(F.floor(F.col("dist") * 1e6 + F.lit(0.5)).cast("long"))
        .cast("bigint")
        .alias("inertia_micro"),
    )


@query(
    "semdedup_prune",
    oracle=f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    c0 AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS c
           FROM embeddings WHERE vec_id < 8),
    {_km_assign_sql('v', 'c0', 'a1')},
    n AS (SELECT vec_id, cid, v, sqrt(list_inner_product(v, v)) AS nrm
          FROM a1),
    pr AS (SELECT DISTINCT b.vec_id
           FROM n a JOIN n b ON a.cid = b.cid AND a.vec_id < b.vec_id
           WHERE round(list_inner_product(a.v, b.v) / (a.nrm * b.nrm), 6)
                 >= 0.4)
    SELECT cid, CAST(count(*) AS BIGINT) AS n_members,
           CAST(count(pr.vec_id) AS BIGINT) AS n_pruned,
           CAST(count(*) - count(pr.vec_id) AS BIGINT) AS n_kept
    FROM n LEFT JOIN pr ON n.vec_id = pr.vec_id
    GROUP BY cid
    """,
)
def semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup of
    embeddings by clustering first, then pruning within-cluster
    near-duplicates — pairwise cosine is only ever computed INSIDE a
    cluster, so cost is sum of cluster n_i^2, never corpus n^2.
    Pipeline: one deterministic centroid-assignment step (8 fixed
    centroids BROADCAST into the scan — the vectors never shuffle for
    assignment), within-cluster pairs via the IVF all-pairs operator
    (one numpy matmul per cluster), greedy keep-smallest-id prune (a
    vector is pruned iff a smaller-id cluster-mate sits within the
    threshold ball).  Reports per-cluster members/pruned/kept.

    The 0.4 threshold is calibrated to the synthetic near-orthogonal
    embeddings (observed within-cluster cos max ~0.49); production
    SemDeDup uses ~0.95 on real encoder output — the knob changes, the
    plan does not.  The greedy rule is the paper's "keep one per
    eps-ball" approximation: pruning is decided against ALL smaller-id
    mates, not only kept ones, which is order-deterministic and needs
    no iterative dependency chain.

    The k=8 pin here exists FOR THE ORACLE (identical init on both
    engines at every sf); the production-shape knob is exercised by
    ``semdedup_prune_scaled``, which sizes k with the corpus."""
    emb = load_table(spark, "embeddings", sf_dir)
    vecs = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    return similarity.semdedup(
        vecs, id_col="vec_id", vec_col="v", n_clusters=8, threshold=0.4
    )


@query(
    "semdedup_prune_scaled",
    oracle=f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    kk AS (SELECT greatest(8, count(*) // 1000) AS k FROM embeddings),
    c0 AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS c
           FROM embeddings WHERE vec_id < (SELECT k FROM kk)),
    {_km_assign_sql('v', 'c0', 'a1')},
    n AS (SELECT vec_id, cid, v, sqrt(list_inner_product(v, v)) AS nrm
          FROM a1),
    pr AS (SELECT DISTINCT b.vec_id
           FROM n a JOIN n b ON a.cid = b.cid AND a.vec_id < b.vec_id
           WHERE round(list_inner_product(a.v, b.v) / (a.nrm * b.nrm), 6)
                 >= 0.4)
    SELECT cid, CAST(count(*) AS BIGINT) AS n_members,
           CAST(count(pr.vec_id) AS BIGINT) AS n_pruned,
           CAST(count(*) - count(pr.vec_id) AS BIGINT) AS n_kept
    FROM n LEFT JOIN pr ON n.vec_id = pr.vec_id
    GROUP BY cid
    """,
)
def semdedup_prune_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup at production shape: k grows with the corpus
    (k = max(8, n // 1000)) so mean cluster size holds ~1000 and the
    within-cluster pair cost sum(n_i^2) ~ n * 1000 stays LINEAR — a
    pinned k over a growing corpus degrades to n^2/k, which is how the
    k=8 oracle query would die at 100 TB (VERDICT r6 #4).

    The single ``count()`` job that sizes k is a documented scalar
    driver action (one long, not a data collect) — the same class as
    the bounded static-IVF router; everything downstream is the
    parameterized `similarity.semdedup` operator plan.  The DuckDB
    oracle computes the SAME k from the same count, so both engines
    pick identical init centroids at every sf and every probe
    replication."""
    emb = load_table(spark, "embeddings", sf_dir)
    vecs = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    k = max(8, vecs.count() // 1000)
    return similarity.semdedup(
        vecs, id_col="vec_id", vec_col="v", n_clusters=k, threshold=0.4
    )


#: shared PQ oracle CTE chain: 8x16 sub-codebooks, per-vector codes,
#: per-query integer-micro LUT, ADC distances for vec_id < 5 queries
_PQ_CTE = """
    v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cb AS (SELECT vec_id AS code, embedding::DOUBLE[] AS c
           FROM embeddings WHERE vec_id < 16),
    sub AS (
      SELECT a.vec_id, cb.code, u.s,
             CAST(floor(list_sum(list_transform(range(1, 9),
                  d -> (a.v[u.s * 8 + d] - cb.c[u.s * 8 + d])
                     * (a.v[u.s * 8 + d] - cb.c[u.s * 8 + d]))) * 1e6
                  + 0.5) AS BIGINT) AS dm
      FROM v a CROSS JOIN cb CROSS JOIN unnest(range(0, 8)) u(s)),
    enc AS (SELECT vec_id, s, code FROM (
              SELECT vec_id, s, code,
                     row_number() OVER (PARTITION BY vec_id, s
                                        ORDER BY dm, code) AS rn
              FROM sub) WHERE rn = 1),
    lut AS (SELECT vec_id AS query_id, s, code, dm FROM sub
            WHERE vec_id < 5),
    adc AS (SELECT l.query_id, e.vec_id,
                   CAST(sum(l.dm) AS BIGINT) AS adc_micro
            FROM enc e JOIN lut l ON l.s = e.s AND l.code = e.code
            WHERE e.vec_id != l.query_id GROUP BY 1, 2)
"""


@query(
    "similarity_pq_adc",
    oracle=f"""
    WITH {_PQ_CTE}
    SELECT query_id, vec_id, adc_micro FROM (
      SELECT adc.*, row_number() OVER (PARTITION BY query_id
                                       ORDER BY adc_micro, vec_id) AS rn
      FROM adc) WHERE rn <= 3
    """,
)
def similarity_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization with asymmetric-distance top-k (Jegou et
    al., "Product Quantization for Nearest Neighbor Search", TPAMI
    2011) — the memory-side half of every billion-vector ANN stack:
    64-dim vectors split into M=8 subspaces of 8 dims; each subspace
    quantized against a 16-codeword sub-codebook (deterministic
    training set: vec_id < 16), so a vector stores as 8 small codes
    instead of 64 doubles (64x compression here, 512x at float32/256
    codewords).  Search is ADC: the RAW query builds a per-subspace
    lookup table of distances to every codeword (Q x 8 x 16 — tiny,
    broadcast), and each database vector's distance is 8 integer table
    lookups summed — no float math touches the corpus scan.

    Scale shape: codebook fan-out is a 16-row broadcast; encoding is
    ONE partial-agg shuffle of per-vector argmin partials; the ADC scan
    is map-side (broadcast LUT + array lookups) into a WindowGroupLimit
    top-k — the same brute-force-over-codes layout FAISS IVFADC uses
    inside each probed list, and it composes with the IVF partition
    pruning here (similarity_ivf_pruned) unchanged.  All distances are
    integer micros BEFORE any summation: bitwise-identical across
    engines and shuffle orders."""
    return _pq_adc_topk(spark, sf_dir)


def _pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PQ/ADC pipeline shared by similarity_pq_adc and its recall
    eval: (query_id, vec_id, adc_micro) top-k rows per query."""
    emb = load_table(spark, "embeddings", sf_dir)
    vecs = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    cb = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").cast("int").alias("code"),
        F.col("embedding").cast("array<double>").alias("c"),
    )

    def subdists(vcol, ccol):
        def sq(i):
            return (F.element_at(vcol, i) - F.element_at(ccol, i)) * (
                F.element_at(vcol, i) - F.element_at(ccol, i)
            )

        return F.transform(
            F.sequence(F.lit(0), F.lit(7)),
            lambda s: F.floor(
                F.aggregate(
                    F.sequence(F.lit(1), F.lit(8)),
                    F.lit(0.0),
                    lambda acc, d: acc + sq(s * 8 + d),
                )
                * 1e6
                + F.lit(0.5)
            ).cast("long"),
        )

    def build_codes() -> DataFrame:
        paired = vecs.crossJoin(F.broadcast(cb)).select(
            "vec_id", "code", subdists(F.col("v"), F.col("c")).alias("darr")
        )
        aggs = [
            F.min(
                F.struct(
                    F.element_at("darr", s + 1).alias("dm"),
                    F.col("code").alias("code"),
                )
            ).alias(f"m{s}")
            for s in range(8)
        ]
        return (
            paired.groupBy("vec_id")
            .agg(*aggs)
            .select(
                "vec_id",
                F.array(*[F.col(f"m{s}.code") for s in range(8)]).alias(
                    "codes"
                ),
            )
        )

    # the corpus-wide code assignment is THE stored dataset of a PQ
    # index (8 small ints per vector): built once per embeddings
    # version, read by the search query and its recall eval alike.
    # Codes are exact integers (argmin over integer-micro distances),
    # so the parquet roundtrip is exact.
    import os as _os

    from confluent_kafka_streams_examples_spark.artifacts import materialized

    codes = materialized(
        spark,
        _os.path.join(sf_dir, "embeddings.parquet"),
        "pq_codes|8x16|micro",
        build_codes,
    )
    lut = (
        vecs.filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").alias("query_id"), "v")
        .crossJoin(F.broadcast(cb))
        .select("query_id", "code", subdists(F.col("v"), F.col("c")).alias("darr"))
        .groupBy("query_id")
        .agg(F.array_sort(F.collect_list(F.struct("code", "darr"))).alias("pairs"))
        .select(
            "query_id", F.transform("pairs", lambda p: p["darr"]).alias("lut")
        )
    )
    adc = (
        codes.crossJoin(F.broadcast(lut))
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "adc_micro",
            F.aggregate(
                F.sequence(F.lit(0), F.lit(7)),
                F.lit(0).cast("long"),
                lambda acc, s: acc
                + F.element_at(
                    F.element_at(
                        F.col("lut"), F.element_at(F.col("codes"), s + 1) + 1
                    ),
                    s + 1,
                ),
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy("adc_micro", "vec_id")
    return (
        adc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= similarity.TOP_K)
        .select("query_id", "vec_id", "adc_micro")
    )


@query(
    "pq_recall_eval",
    oracle=f"""
    WITH {_PQ_CTE},
    exact AS (
      SELECT q.vec_id AS query_id, a.vec_id,
             CAST(floor(list_sum(list_transform(range(1, 65),
                  d -> (a.v[d] - q.v[d]) * (a.v[d] - q.v[d]))) * 1e6
                  + 0.5) AS BIGINT) AS dmicro
      FROM v a JOIN v q ON q.vec_id < 5 AND a.vec_id != q.vec_id),
    truth3 AS (SELECT query_id, vec_id FROM (
      SELECT exact.*, row_number() OVER (PARTITION BY query_id
                                         ORDER BY dmicro, vec_id) AS rn
      FROM exact) WHERE rn <= 3),
    pq3 AS (SELECT query_id, vec_id FROM (
      SELECT adc.*, row_number() OVER (PARTITION BY query_id
                                       ORDER BY adc_micro, vec_id) AS rn
      FROM adc) WHERE rn <= 3)
    SELECT t.query_id,
           CAST(count(p.vec_id) AS BIGINT) AS hits,
           floor(count(p.vec_id) / 3.0 * 1e4 + 0.5) / 1e4 AS recall_at_3
    FROM truth3 t LEFT JOIN pq3 p
      ON t.query_id = p.query_id AND t.vec_id = p.vec_id
    GROUP BY t.query_id
    """,
)
def pq_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantization-quality eval closing the ANN measurement triad
    (LSH -> dedup_lsh_recall_eval, IVF probe -> ann_recall_eval,
    PQ -> here): recall@3 of the ADC top-k against EXACT L2 ground
    truth — the number that decides codebook size and M before a PQ
    index ships.  Ground truth is one batched corpus scan (5-row query
    broadcast, exact distances integer-micronized, ties to the smaller
    vec_id — the same determinism contract as the ADC side); at 100 TB
    the exact pass runs over a corpus sample and the recall estimate
    stays unbiased while the PQ side scans codes, exactly like
    production recall monitoring."""
    base = similarity.vector_base(load_table(spark, "embeddings", sf_dir))
    q = similarity.query_vectors(base)
    dmicro = F.floor(
        F.aggregate(
            F.zip_with(F.col("v"), F.col("qv"), lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        * 1e6
        + F.lit(0.5)
    ).cast("long")
    w = Window.partitionBy("query_id").orderBy("dmicro", "vec_id")
    truth3 = (
        base.crossJoin(F.broadcast(q))  # 5-row broadcast: batch ground truth
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("dmicro", dmicro)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= similarity.TOP_K)
        .select("query_id", "vec_id")
    )
    return similarity.recall_at_k(truth3, _pq_adc_topk(spark, sf_dir))


@query(
    "user_retention_cohorts",
    oracle="""
    WITH e AS (SELECT user_id,
                      CAST(epoch_us(ts) // 604800000000 AS BIGINT) AS wk
               FROM events),
    first AS (SELECT user_id, min(wk) AS cohort_wk FROM e GROUP BY user_id),
    activity AS (
      SELECT DISTINCT e.user_id, f.cohort_wk, e.wk - f.cohort_wk AS week_offset
      FROM e JOIN first f ON e.user_id = f.user_id)
    SELECT cohort_wk, week_offset, CAST(count(*) AS BIGINT) AS n_users
    FROM activity GROUP BY cohort_wk, week_offset
    """,
)
def user_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix — the canonical product-analytics rollup:
    users bucketed by their FIRST active week (epoch-week integer, no
    calendar semantics so both engines agree bit-for-bit), counted as
    active at each week offset since.  One row per (cohort_week,
    week_offset).

    Scale shape: everything keys on user_id — the first-week aggregate,
    the self-enrichment join (same key, so AQE plans it off the shared
    exchange), and the DISTINCT collapse all co-partition; the final
    matrix aggregate is a partial-agg shuffle of (cohort, offset,
    count) partials bounded by weeks^2, not events.  No window over the
    raw stream, no quadratic stage.  Reference analog: groupByKey +
    aggregate over a derived key (AggregationsExample.scala:36-41),
    generalized to a two-level rollup."""
    ev = load_table(spark, "events", sf_dir).select("user_id", "ts")
    # floor(), not cast('long'): the cast truncates toward zero, which
    # diverges from the oracle's integer floor division for pre-1970
    # (negative-epoch) timestamps.  floor matches DuckDB `//` exactly.
    e = ev.select(
        "user_id",
        F.floor(epoch_us("ts") / F.lit(604800000000)).cast("long").alias("wk"),
    )
    first = e.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    activity = (
        e.join(first, "user_id")
        .select(
            "user_id",
            "cohort_wk",
            (F.col("wk") - F.col("cohort_wk")).alias("week_offset"),
        )
        .distinct()
    )
    return activity.groupBy("cohort_wk", "week_offset").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    )


@query(
    "events_concurrent_degree",
    oracle="""
    WITH e AS (SELECT event_id, epoch_us(ts) AS t FROM events)
    SELECT a.event_id, CAST(count(*) AS BIGINT) AS n_concurrent
    FROM e a JOIN e b ON abs(a.t - b.t) <= 1000000
                     AND a.event_id != b.event_id
    GROUP BY a.event_id
    """,
)
def events_concurrent_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KEYLESS time-band self-join (the range-join shape the windowed
    stream join does NOT cover — that one equi-keys on user first):
    for every event, how many other events happened within ±1s,
    across ALL keys.

    A pure range join is a cross product at scale; the decomposition
    here is the standard cell-bucketing: quantize time into 1s cells,
    replicate ONE side into its cell and both neighbors (3x, exact —
    |dt| <= 1s implies cell distance <= 1, and each pair matches in
    exactly one bucket value), equi-join on the 8-byte cell id, then
    apply the exact |dt| predicate as a post-filter.  Cost is
    sum over cells of n_i * m_i — linear for time-uniform streams,
    and the residual risk is a hot SECOND (thundering herd), which is
    an AQE-skew-join / finer-cell problem, not a cross-join problem.
    The oracle states the same join declaratively (DuckDB plans it as
    an IEJoin).

    Delegates to operators.skew.keyless_band_pairs (unsalted), which
    owns the decomposition AND the shuffle-hash pin on the build side
    — an earlier inlined copy of the join lacked the pin and sat in
    the AQE compressed-size broadcast danger zone at 100x density
    (OOM'd on one probe run, passed on another; the operator's pin
    removes the nondeterminism)."""
    from confluent_kafka_streams_examples_spark.operators.skew import (
        keyless_band_pairs,
    )

    e = load_table(spark, "events", sf_dir).select(
        "event_id", epoch_us(F.col("ts")).alias("t")
    )
    pairs = keyless_band_pairs(e, "event_id", "t", window=1_000_000)
    return pairs.groupBy(F.col("a_id").alias("event_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_concurrent")
    )


@query(
    "events_concurrent_degree_salted",
    oracle="""
    WITH e AS (SELECT event_id, epoch_us(ts) AS t FROM events)
    SELECT a.event_id, CAST(count(*) AS BIGINT) AS n_concurrent
    FROM e a JOIN e b ON abs(a.t - b.t) <= 1000000
                     AND a.event_id != b.event_id
    GROUP BY a.event_id
    """,
)
def events_concurrent_degree_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hot-second (thundering-herd) variant of
    events_concurrent_degree: delegates to
    operators.skew.keyless_band_pairs with salt_buckets=4, so the build
    side of every 1-second cell splits across 4 reducers
    (pmod(xxhash64(id), 4) appended to the join key; probe replicated
    over all salts).  Identical oracle to the unsalted query — salting
    may never change the answer, and the driver checks that here
    against DuckDB's IEJoin plan of the same declarative range join.
    The salt-invariance and the <= 2x-uniform-share bucket-size bound
    are additionally pinned (at S=8) on a 300-events-in-one-second
    fixture in tests/test_skew.py.  S=4 here because salt cost is
    probe replication (3 x S): the salt count should track how many
    reducers the HOT cell needs, not be maxed defensively on a stream
    that may not even skew."""
    from confluent_kafka_streams_examples_spark.operators.skew import (
        keyless_band_pairs,
    )

    e = load_table(spark, "events", sf_dir).select(
        "event_id", epoch_us(F.col("ts")).alias("t")
    )
    pairs = keyless_band_pairs(
        e, "event_id", "t", window=1_000_000, salt_buckets=4
    )
    return pairs.groupBy(F.col("a_id").alias("event_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_concurrent")
    )


@query(
    "funnel_conversion",
    oracle="""
    WITH v AS (SELECT user_id, min(ts) AS t1 FROM events
               WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, min(e.ts) AS t2
          FROM events e JOIN v ON e.user_id = v.user_id
          WHERE e.event_type = 'click' AND e.ts > v.t1
          GROUP BY e.user_id),
    p AS (SELECT e.user_id, min(e.ts) AS t3
          FROM events e JOIN c ON e.user_id = c.user_id
          WHERE e.event_type = 'purchase' AND e.ts > c.t2
          GROUP BY e.user_id)
    SELECT '1_view' AS stage, CAST(count(*) AS BIGINT) AS n_users FROM v
    UNION ALL
    SELECT '2_click', CAST(count(*) AS BIGINT) FROM c
    UNION ALL
    SELECT '3_purchase', CAST(count(*) AS BIGINT) FROM p
    """,
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-funnel conversion (view -> click -> purchase), the
    product-analytics staple the flat event rollups don't cover: a user
    counts at stage N only with an event STRICTLY AFTER their stage-N-1
    time (first-touch semantics — min() at every stage), so out-of-order
    histories (purchase before ever viewing) don't inflate conversion.

    Scale shape: three scans of events, each with the event_type
    predicate PUSHED into the parquet scan (at 100 TB each stage reads
    only its type's row groups — and a type-partitioned layout prunes
    to one directory); every aggregate and join keys on user_id, so the
    whole cascade co-partitions on one key and AQE reuses the exchange
    (the same single-key posture as user_retention_cohorts).  Stage
    tables only ever SHRINK (funnel monotonicity), so the later joins
    are the cheapest.  The final counts are single-row partial
    aggregates — no data returns to the driver until three numbers.
    Reference analog: filter -> groupByKey -> aggregate chain
    (AggregationsExample.scala:33-41), composed into a 3-stage cascade.
    """
    ev = load_table(spark, "events", sf_dir).select("user_id", "event_type", "ts")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )

    def _count(df: DataFrame, stage: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).cast("bigint").alias("n_users")).select(
            F.lit(stage).alias("stage"), "n_users"
        )

    return (
        _count(v, "1_view")
        .unionAll(_count(c, "2_click"))
        .unionAll(_count(p, "3_purchase"))
    )


def _z_interleave_sql(d1: str, d2: str, bits: int = 8) -> str:
    """SQL: Morton/z-order interleave of two ``bits``-bit ints —
    identical text works in DuckDB; the Spark twin uses shiftleft/
    shiftright for the same arithmetic."""
    terms = []
    for i in range(bits):
        terms.append(f"((({d1} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({d2} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


@query(
    "zorder_layout_stats",
    oracle=f"""
    WITH d AS (
      SELECT CAST(user_id % 256 AS BIGINT) AS d_user,
             CAST((epoch_us(ts) // 3600000000) % 256 AS BIGINT) AS d_hour
      FROM events
    ),
    z AS (
      SELECT d_user, d_hour,
             ({_z_interleave_sql('d_user', 'd_hour')}) // 256 AS z_bucket
      FROM d
    )
    SELECT CAST(z_bucket AS BIGINT) AS z_bucket,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(min(d_user) AS BIGINT) AS user_lo,
           CAST(max(d_user) AS BIGINT) AS user_hi,
           CAST(min(d_hour) AS BIGINT) AS hour_lo,
           CAST(max(d_hour) AS BIGINT) AS hour_hi
    FROM z GROUP BY z_bucket
    """,
)
def zorder_layout_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout evaluation — the multi-dimensional file
    clustering every 100 TB lakehouse runs (Delta/Iceberg OPTIMIZE
    ZORDER): interleave the bits of two query dimensions (user bucket,
    event hour) so that sorting by ONE key co-locates rows that are
    close in BOTH, and per-file min/max statistics prune scans for
    predicates on EITHER dimension.  Output = per z-bucket ("file")
    row count plus each dimension's min/max — exactly the footer stats
    a pruning planner consults; tight per-bucket ranges (<= 2^(bits/2)
    wide here, vs the full 256 under a single-key sort) ARE the
    pruning win, asserted in tests/test_curation.py.

    Scale shape: the z-value is a pure integer projection (16
    shift-and-mask terms, whole-stage codegen); the rollup is one
    partial-agg shuffle over a 256-key space (map-side combine folds
    every task to <= 256 partials).  The WRITE path at scale is
    ``df.repartitionByRange(n_files, z).sortWithinPartitions(z)`` —
    range partitioning samples the z distribution, so no global sort
    bottleneck; this query is the read-side stats audit of that
    layout.  Reference analog: derived-key groupBy
    (AggregationsExample.scala:36-41); the derived key happens to be
    a space-filling curve.
    """
    ev = load_table(spark, "events", sf_dir).select("user_id", "ts")
    d_user = (F.col("user_id") % 256).cast("long")
    d_hour = (F.floor(epoch_us(F.col("ts")) / F.lit(3_600_000_000)) % 256).cast(
        "long"
    )
    d = ev.select(d_user.alias("d_user"), d_hour.alias("d_hour"))
    z = F.lit(0).cast("long")
    for i in range(8):
        # bitwiseAND, not % 2: Spark's % is sign-preserving, so a
        # negative dimension would yield -1 where the oracle's `& 1`
        # yields 1 (ADVICE r8).
        z = z + F.shiftleft(F.shiftright(F.col("d_user"), i).bitwiseAND(F.lit(1)), 2 * i)
        z = z + F.shiftleft(
            F.shiftright(F.col("d_hour"), i).bitwiseAND(F.lit(1)), 2 * i + 1
        )
    bucketed = d.select(
        "d_user", "d_hour", F.floor(z / F.lit(256)).cast("long").alias("z_bucket")
    )
    return bucketed.groupBy("z_bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.min("d_user").cast("bigint").alias("user_lo"),
        F.max("d_user").cast("bigint").alias("user_hi"),
        F.min("d_hour").cast("bigint").alias("hour_lo"),
        F.max("d_hour").cast("bigint").alias("hour_hi"),
    )


from confluent_kafka_streams_examples_spark.operators.sketches import (
    CMS_ROWS as _CMS_ROWS,
    CMS_WIDTH as _CMS_WIDTH,
)


def _cms_bucket_sql(row: str, key: str) -> str:
    """SQL: count-min bucket of ``key`` in hash row ``row`` — 16-bit
    md5 prefix of 'r:key', mod width.  Deterministic, so the sketch is
    exactly reproducible in any engine."""
    h = f"md5(concat(CAST({row} AS VARCHAR), ':', CAST({key} AS VARCHAR)))"
    return (
        f"(strpos('0123456789abcdef', substr({h}, 1, 1)) - 1) * 4096"
        f" + (strpos('0123456789abcdef', substr({h}, 2, 1)) - 1) * 256"
        f" + (strpos('0123456789abcdef', substr({h}, 3, 1)) - 1) * 16"
        f" + (strpos('0123456789abcdef', substr({h}, 4, 1)) - 1)"
    )


@query(
    "sketch_heavy_hitters",
    oracle=f"""
    WITH rows_ AS (SELECT unnest(range(0, {_CMS_ROWS})) AS r),
    cells AS (
      SELECT r.r, ({_cms_bucket_sql('r.r', 'e.user_id')}) % {_CMS_WIDTH} AS bucket,
             count(*) AS c
      FROM events e, rows_ r
      GROUP BY 1, 2
    ),
    truth AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS true_n
      FROM events GROUP BY user_id
      ORDER BY true_n DESC, user_id LIMIT 20
    ),
    probes AS (
      SELECT t.user_id, t.true_n, r.r,
             ({_cms_bucket_sql('r.r', 't.user_id')}) % {_CMS_WIDTH} AS bucket
      FROM truth t, rows_ r
    )
    SELECT p.user_id, p.true_n, CAST(min(c.c) AS BIGINT) AS est_n
    FROM probes p JOIN cells c ON c.r = p.r AND c.bucket = p.bucket
    GROUP BY p.user_id, p.true_n
    """,
)
def sketch_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy hitters — the bounded-memory frequency
    idiom for key universes that don't fit anywhere (4 x 256 integer
    cells estimate any key's count, est >= true always, with
    overestimate bounded by sum/width per row): the sketch every
    100 TB pipeline uses for hot-key detection BEFORE choosing a salt
    factor (operators/skew.py) or a max_df cap (dedup).  Emits the
    top-20 exact counts alongside their sketch estimates so the
    overestimate property is visible (and asserted in
    tests/test_curation.py) — production keeps only the 1,024 cells.

    Exactly oracle-able because the hash rows are md5-derived and
    deterministic: both engines build bit-identical sketches — the
    point where probabilistic data structures stay hash-checkable.

    Scale shape: the sketch build is ONE partial aggregate over
    (row, bucket) — a 1,024-cell key space, so the exchange carries
    O(tasks x 1024) partials REGARDLESS of corpus size (the
    histogram-gate posture); the estimate probe joins 80 rows against
    the 1,024-cell table via broadcast.  The exact top-20 exists only
    to exhibit the error bound; the sketch itself never scans twice.
    Reference analog: the aggregate-then-inspect pattern
    (AggregationsExample.scala:36-44) with a fixed-size aggregate.
    """
    from confluent_kafka_streams_examples_spark.operators.sketches import (
        cms_bucket,
        cms_portable_cells,
    )

    ev = load_table(spark, "events", sf_dir).select("user_id")
    # the shared helper also runs on a streaming frame (counts are
    # additive — update-mode sum refinement; parity pytest in
    # tests/test_streaming_agg.py)
    cells = cms_portable_cells(ev, "user_id")
    truth = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("true_n"))
        .orderBy(F.col("true_n").desc(), F.col("user_id"))
        .limit(20)
    )
    probes = truth.select(
        "user_id", "true_n", F.explode(F.sequence(F.lit(0), F.lit(_CMS_ROWS - 1))).alias("r")
    ).select(
        "user_id", "true_n", "r", cms_bucket(F.col("r"), F.col("user_id")).alias("bucket")
    )
    return (
        probes.join(F.broadcast(cells), ["r", "bucket"])
        .groupBy("user_id", "true_n")
        .agg(F.min("c").cast("bigint").alias("est_n"))
    )


# =====================================================================
# HyperLogLog distinct sketch (bounded-memory COUNT(DISTINCT),
# mergeable across groups/days/executors)
# =====================================================================

# the underscored spec names spell the DuckDB oracle SQL only; the
# Spark side composes the operators
from confluent_kafka_streams_examples_spark.operators.sketches import (
    HLL_DEN as _HLL_DEN,
    HLL_M as _HLL_M,
    HLL_NUM as _HLL_NUM,
    HLL_RHO_SQL as _HLL_RHO_SQL,
    hll_est_sql as _hll_est_sql,
    hll_estimate_from_registers,
    hll_index_rho,
    hll_portable_registers,
)

#: DuckDB-dialect raw-estimate + zero-register SELECT body over a
#: (grp, j, R) `regs` relation — shared by every HLL oracle below.
_HLL_RAW_SQL = f"""
      SELECT grp,
             CAST(CAST('{_HLL_NUM}' AS HUGEINT)
                  // (CAST({_HLL_DEN} AS HUGEINT)
                      * (CAST(sum(CAST(1 AS BIGINT) << (62 - R)) AS HUGEINT)
                         + CAST({_HLL_M} - count(*) AS HUGEINT)
                           * CAST(CAST(1 AS BIGINT) << 62 AS HUGEINT)))
                  AS BIGINT) AS raw_est,
             CAST({_HLL_M} - count(*) AS BIGINT) AS zero_registers
      FROM regs GROUP BY grp
"""

@query(
    "sketch_hll_distinct",
    oracle=f"""
    WITH stacked AS (
      SELECT l_returnflag AS rf, 'l_orderkey' AS col_name,
             CAST(l_orderkey AS VARCHAR) AS key FROM lineitem
      UNION ALL
      SELECT l_returnflag, 'l_linenumber', CAST(l_linenumber AS VARCHAR)
      FROM lineitem
    ),
    labeled AS (
      SELECT col_name || ':' || rf AS grp, key FROM stacked
      UNION ALL
      SELECT col_name || ':__all__' AS grp, key FROM stacked
    ),
    h AS (SELECT grp, md5(key) AS h FROM labeled WHERE key IS NOT NULL),
    parts AS (
      SELECT grp,
             (strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
             + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) AS j,
             substr(h, 3, 15) AS tail
      FROM h
    ),
    regs AS (
      SELECT grp, j, max({_HLL_RHO_SQL.format(G='')}) AS R
      FROM parts GROUP BY 1, 2
    ),
    rawest AS ({_HLL_RAW_SQL})
    SELECT grp,
           {_hll_est_sql('raw_est', 'zero_registers', '//')} AS hll_est,
           zero_registers
    FROM rawest
    """,
)
def sketch_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct sketch (Flajolet et al. 2007, PAPERS.md) —
    the bounded-memory COUNT(DISTINCT) that completes the sketch triad
    (bloom = membership, CMS = frequency, HLL = cardinality), in its
    SHIPPABLE form: one corpus scan, registers + estimates out, no
    exact-truth side (that comparison lives in `sketch_hll_eval`,
    mirroring the *_recall_eval convention).  Two key columns ride the
    same scan STACKED — l_orderkey (n >> 2.5m: raw-HLL regime) and
    l_linenumber (7 values: deep linear-counting regime) — so both
    estimator branches are exercised and oracle-checked; registers
    MERGE by per-index max (max is associative), so each key's
    ':__all__' row is the merged register set obtained in the same
    single-pass aggregation that builds the per-flag sketches, which
    is how a 100 TB job gets month-distinct from day-sketches for
    free.

    Exactly oracle-able (unlike approx_count_distinct, whose register
    layout is engine-private): register index = first byte of
    md5(key), rho = 1 + leading-zero bits of the next 60, both
    engines build bit-identical registers; the raw estimate
    alpha_m*m^2/sum(2^-R) is evaluated in scaled integer arithmetic,
    and the small-range correction m*ln(m/V) (raw <= 2.5m, V > 0)
    comes from a precomputed integer table — so estimates are
    hash-equal across engines in BOTH regimes, never approximately
    equal.

    Scale shape: ONE corpus scan; the stack doubles rows inside the
    projection (cheap, map-side) and the partial-aggregated groupBy
    over (grp, j) exchanges at most tasks x (keys x (flags+1)) x 256
    maxima regardless of corpus size — each sketch is 256 x 6 bits.
    Reference analog: aggregate-then-inspect
    (AggregationsExample.scala:36-44) with a fixed-size accumulator.
    """
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_returnflag", "l_orderkey", "l_linenumber"
    )
    stacked = li.select(
        F.col("l_returnflag").alias("rf"),
        F.stack(
            F.lit(2),
            F.lit("l_orderkey"), F.col("l_orderkey").cast("string"),
            F.lit("l_linenumber"), F.col("l_linenumber").cast("string"),
        ).alias("col_name", "key"),
    ).filter(F.col("key").isNotNull())
    stacked = fan_out_small_scan(li, stacked)
    # hash FIRST, explode labels AFTER: md5 + the rho nibble arithmetic
    # are the per-row cost, so they run once per (col, key) pair and
    # the label fan-out (per-flag + per-key ':__all__' — the same
    # associative-max trick hll_portable_registers' all_label plays,
    # scoped per stacked key column) duplicates only three small
    # columns.  The pre-explosion form measured 2.3x slower at sf0.1:
    # 4x the md5/regex work for identical registers.
    hashed = stacked.select(
        "rf", "col_name", F.md5(F.col("key")).alias("h")
    )
    # TWO-LEVEL register aggregation (r11): collapse to fine-grained
    # (col, flag, j) registers FIRST — the label fan-out then explodes
    # a few-thousand-row aggregate instead of doubling every corpus
    # row through the map-side hash-agg, and the ':__all__' merge is
    # a max over registers, which is exact by construction.  Wash at
    # sf0.1 (exchange volume is bounded either way), -13% at x20
    # where the agg updates dominate — the 100 TB regime.
    fine = (
        hll_index_rho(hashed, "rf", "col_name")
        .groupBy("col_name", "rf", "j")
        .agg(F.max("rho").alias("R1"))
    )
    labeled = fine.select(
        F.explode(
            F.array(
                F.concat(F.col("col_name"), F.lit(":"), F.col("rf")),
                F.concat(F.col("col_name"), F.lit(":__all__")),
            )
        ).alias("grp"),
        "j",
        "R1",
    )
    regs = labeled.groupBy("grp", "j").agg(F.max("R1").alias("R"))
    return hll_estimate_from_registers(regs)


@query(
    "sketch_hll_eval",
    oracle=f"""
    WITH stacked AS (
      SELECT l_returnflag AS rf, 'l_orderkey' AS col_name,
             CAST(l_orderkey AS VARCHAR) AS key FROM lineitem
      UNION ALL
      SELECT l_returnflag, 'l_linenumber', CAST(l_linenumber AS VARCHAR)
      FROM lineitem
    ),
    labeled AS (
      SELECT col_name || ':' || rf AS grp, key FROM stacked
      UNION ALL
      SELECT col_name || ':__all__' AS grp, key FROM stacked
    ),
    h AS (SELECT grp, md5(key) AS h FROM labeled WHERE key IS NOT NULL),
    parts AS (
      SELECT grp,
             (strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
             + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) AS j,
             substr(h, 3, 15) AS tail
      FROM h
    ),
    regs AS (
      SELECT grp, j, max({_HLL_RHO_SQL.format(G='')}) AS R
      FROM parts GROUP BY 1, 2
    ),
    rawest AS ({_HLL_RAW_SQL}),
    est AS (
      SELECT grp,
             {_hll_est_sql('raw_est', 'zero_registers', '//')} AS hll_est,
             zero_registers
      FROM rawest
    ),
    truth AS (
      SELECT grp, CAST(count(DISTINCT key) AS BIGINT) AS true_distinct
      FROM labeled GROUP BY 1
    )
    SELECT t.grp, t.true_distinct, e.hll_est, e.zero_registers,
           CAST(abs(e.hll_est - t.true_distinct) * 1000000
                // t.true_distinct AS BIGINT) AS err_ppm
    FROM truth t JOIN est e ON e.grp = t.grp
    """,
)
def sketch_hll_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accuracy harness for `sketch_hll_distinct` (the *_recall_eval
    convention): joins the production estimates against the exact
    count(DISTINCT) truth and reports integer-exact error ppm.  The
    exact side — deliberately NOT in the production query — dedups the
    raw stacked (rf, col, key) triples ONCE and derives both truth
    levels from that: per-flag counts directly, the per-key ':__all__'
    level via a second dedup over the already-deduped (col, key) set —
    so the big map-side partial dedup sees each pair once instead of
    once per label (the labeled-then-distinct form shuffled 2x the
    rows; a rollup's Expand on the raw corpus measured 642 MiB shuffle
    / 9.8 GiB spill at x100 in the probe — documented since r9; the
    earlier two-pyramid form also cost one corpus scan PER key
    column).  Observed at sf0.01: l_orderkey groups within ~4% (raw
    regime), l_linenumber exact to the value (linear counting
    m*ln(m/V): 7 of 7)."""
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_returnflag", "l_orderkey", "l_linenumber"
    )
    stacked = li.select(
        F.col("l_returnflag").alias("rf"),
        F.stack(
            F.lit(2),
            F.lit("l_orderkey"), F.col("l_orderkey").cast("string"),
            F.lit("l_linenumber"), F.col("l_linenumber").cast("string"),
        ).alias("col_name", "key"),
    ).filter(F.col("key").isNotNull())
    # Truth side, dedup-BEFORE-label-fanout (guide §2.3, shuffle fewer
    # bytes): the old form exploded both labels first and dedup'd 2x
    # the rows; deduping the raw (rf, col, key) triple once and
    # deriving each label level from that — per-flag counts directly,
    # ':__all__' via a second (much smaller) dedup — measured -34% on
    # the truth side at sf0.1 with hash-identical output
    # (OPTIMIZATION_r11.md).  No persist on d1: materializing ~400k
    # skinny rows costs more than the second scan locally, and at
    # cluster scale the two branches are independent scans of the same
    # columnar slice.
    d1 = stacked.distinct()
    per_flag = (
        d1.select(
            F.concat(F.col("col_name"), F.lit(":"), F.col("rf")).alias("grp"),
            "key",
        )
        .groupBy("grp")
        .agg(F.count(F.lit(1)).cast("bigint").alias("true_distinct"))
    )
    alls = (
        d1.select("col_name", "key")
        .distinct()
        .groupBy(
            F.concat(F.col("col_name"), F.lit(":__all__")).alias("grp")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("true_distinct"))
    )
    truth = per_flag.unionByName(alls)
    est = sketch_hll_distinct(spark, sf_dir)
    return truth.join(F.broadcast(est), "grp").select(
        "grp",
        "true_distinct",
        "hll_est",
        "zero_registers",
        F.expr(
            "CAST(abs(hll_est - true_distinct) * 1000000"
            " div true_distinct AS BIGINT)"
        ).alias("err_ppm"),
    )


@query(
    "sketch_hll_incremental",
    oracle=f"""
    WITH h AS (
      SELECT l_returnflag AS grp, md5(CAST(l_orderkey AS VARCHAR)) AS h
      FROM lineitem
    ),
    parts AS (
      SELECT grp,
             (strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
             + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) AS j,
             substr(h, 3, 15) AS tail
      FROM h
    ),
    doubled AS (
      SELECT grp, j, tail FROM parts
      UNION ALL
      SELECT '__all__' AS grp, j, tail FROM parts
    ),
    regs AS (
      SELECT grp, j, max({_HLL_RHO_SQL.format(G='')}) AS R
      FROM doubled GROUP BY 1, 2
    ),
    rawest AS ({_HLL_RAW_SQL})
    SELECT grp,
           {_hll_est_sql('raw_est', 'zero_registers', '//')} AS hll_est,
           zero_registers
    FROM rawest
    """,
)
def sketch_hll_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-once / merge-forever, run the way ingest runs it: the
    corpus's HLL registers are a MATERIALIZED ARTIFACT (a
    (groups+1) x 256-row parquet table — bytes independent of corpus
    size), and the daily batch scans ONLY its own rows, max-merges its
    registers with the stored table, and re-estimates — the corpus is
    never rescanned (plan-asserted: exactly one lineitem scan in the
    returned plan, belonging to the new batch).  Register max-merge is
    exact, so the incremental estimate is bit-identical to sketching
    corpus+batch from scratch — which is precisely what the oracle
    computes over the union.

    The stored table rides `artifacts.materialized`, not a bare /tmp
    path: the artifact NAME carries the source file's mtime+size, the
    semantic tag, and the package-source digest, so a regenerated
    corpus or a changed HLL spec silently builds a fresh table instead
    of max-merging a stale one into the estimate; the per-uid 0700
    root and atomic staging/rename close the squat and torn-write
    windows a predictable world-readable path leaves open.  The dedup
    analog is dedup_incremental_persisted (stored signature table);
    reference analog: a compacted changelog restoring a state store
    instead of replaying the source (KTableExample.scala:52-56).
    """
    import os

    from confluent_kafka_streams_examples_spark.artifacts import materialized

    li = load_table(spark, "lineitem", sf_dir).select(
        "l_returnflag", "l_orderkey"
    )
    is_new = F.pmod(F.col("l_orderkey"), F.lit(10)) == 0
    stored = materialized(
        spark,
        os.path.join(sf_dir, "lineitem.parquet"),
        "hll_regs|l_returnflag|l_orderkey|corpus90",
        lambda: hll_portable_registers(
            li.filter(~is_new), grp_col="l_returnflag", key_col="l_orderkey"
        ),
    )
    new_regs = hll_portable_registers(
        li.filter(is_new), grp_col="l_returnflag", key_col="l_orderkey"
    )
    merged = (
        stored.unionByName(new_regs)
        .groupBy("grp", "j")
        .agg(F.max("R").alias("R"))
    )
    return hll_estimate_from_registers(merged)


@query(
    "events_profile",
    oracle=f"""
    WITH stacked AS (
      SELECT 'event_id' AS col_name, CAST(event_id AS VARCHAR) AS val FROM events
      UNION ALL SELECT 'ts', CAST(epoch_us(ts) AS VARCHAR) FROM events
      UNION ALL SELECT 'user_id', CAST(user_id AS VARCHAR) FROM events
      UNION ALL SELECT 'event_type', event_type FROM events
      UNION ALL SELECT 'value',
        CAST(CAST(floor(value * 100 + 0.5) AS BIGINT) AS VARCHAR) FROM events
      UNION ALL SELECT 'props', props FROM events
    ),
    counts AS (
      SELECT col_name, CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CASE WHEN val IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_null
      FROM stacked GROUP BY 1
    ),
    h AS (
      SELECT col_name AS grp, md5(val) AS h FROM stacked WHERE val IS NOT NULL
    ),
    parts AS (
      SELECT grp,
             (strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
             + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) AS j,
             substr(h, 3, 15) AS tail
      FROM h
    ),
    regs AS (
      SELECT grp, j, max({_HLL_RHO_SQL.format(G='')}) AS R
      FROM parts GROUP BY 1, 2
    ),
    rawest AS ({_HLL_RAW_SQL}),
    est AS (
      SELECT grp,
             {_hll_est_sql('raw_est', 'zero_registers', '//')}
               AS distinct_est,
             zero_registers
      FROM rawest
    )
    SELECT c.col_name, c.n_rows, c.n_null, e.distinct_est, e.zero_registers
    FROM counts c JOIN est e ON e.grp = c.col_name
    """,
)
def events_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass table profiler — the data-platform utility every new
    dataset gets pointed at first: per column, row count, null count,
    and a portable-HLL distinct estimate.  Built the only way that
    holds at 100 TB: the columns STACK into (col_name, val) rows
    inside the scan projection (values canonicalized to strings with
    integer-portable casts — timestamps via epoch micros, doubles via
    cent-quantization — so both engines hash identical bytes), and ONE
    two-level aggregation computes null/row counts and the portable-HLL
    registers together (nulls park in register -1, so everything rides
    a single exchange of <= n_cols x 257 partials; plan-asserted single
    scan).  No per-column countDistinct expansion (Spark would Expand
    the scan n_distinct-agg times), no second scan.  Low-cardinality
    columns (event_type: 5 values) sit deep in the linear-counting
    range, where the m*ln(m/V) correction applies via the precomputed
    integer table — inside the oracle contract, so the corrected
    estimates are hash-checked too; zero_registers still exposes the
    regime per column.  Reference analog: aggregate-then-inspect
    (AggregationsExample.scala:36-44) generalized across columns.
    """
    from confluent_kafka_streams_examples_spark.operators.profile import (
        canonical,
        profile_table,
    )

    ev = load_table(spark, "events", sf_dir)
    return profile_table(
        ev,
        {
            "event_id": canonical(F.col("event_id")),
            # timestamps and doubles need integer-portable
            # canonicalization (engines disagree on TEXT rendering,
            # not on values): epoch micros / quantized cents
            "ts": F.unix_micros(F.col("ts")).cast("string"),
            "user_id": canonical(F.col("user_id")),
            "event_type": canonical(F.col("event_type")),
            "value": F.floor(F.col("value") * 100 + F.lit(0.5))
            .cast("bigint")
            .cast("string"),
            "props": canonical(F.col("props")),
        },
    )


#: quantile range hint for the ts column (full 2024 in epoch micros) —
#: shared by the Spark query and the oracle so the linear bucket width
#: is the same integer on both sides
_TS_QLO = 1704067200000000
_TS_QHI = 1735689600000000
_TS_QW = (_TS_QHI - _TS_QLO) // 101 + 1

#: shared stacked-events CTE body for the two profiler oracles
_PROFILE_STACK_SQL = """
      SELECT 'event_id' AS col_name, CAST(event_id AS VARCHAR) AS val FROM events
      UNION ALL SELECT 'ts', CAST(epoch_us(ts) AS VARCHAR) FROM events
      UNION ALL SELECT 'user_id', CAST(user_id AS VARCHAR) FROM events
      UNION ALL SELECT 'event_type', event_type FROM events
      UNION ALL SELECT 'value',
        CAST(CAST(floor(value * 100 + 0.5) AS BIGINT) AS VARCHAR) FROM events
      UNION ALL SELECT 'props', props FROM events
"""


@query(
    "events_profile_extended",
    oracle=f"""
    WITH stacked AS ({_PROFILE_STACK_SQL}),
    counts AS (
      SELECT col_name, CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CASE WHEN val IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_null,
             min(TRY_CAST(val AS BIGINT)) AS min_num,
             max(TRY_CAST(val AS BIGINT)) AS max_num,
             CASE WHEN count(val) > 0 THEN
               CAST((100 * sum(length(val))) // count(val) AS BIGINT) END
               AS avg_len_e2
      FROM stacked GROUP BY 1
    ),
    h AS (
      SELECT col_name AS grp, md5(val) AS h FROM stacked WHERE val IS NOT NULL
    ),
    parts AS (
      SELECT grp,
             (strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
             + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) AS j,
             substr(h, 3, 15) AS tail
      FROM h
    ),
    regs AS (
      SELECT grp, j, max({_HLL_RHO_SQL.format(G='')}) AS R
      FROM parts GROUP BY 1, 2
    ),
    rawest AS ({_HLL_RAW_SQL}),
    est AS (
      SELECT grp,
             {_hll_est_sql('raw_est', 'zero_registers', '//')}
               AS distinct_est,
             zero_registers
      FROM rawest
    ),
    rows_ AS (SELECT unnest(range(0, {_CMS_ROWS})) AS r),
    cms AS (
      -- fused sketch layout (operators/profile.py): CMS row r's bucket
      -- is the hex pair at chars 18+2r of the SAME md5 the HLL reads
      SELECT s.col_name, r.r,
             (strpos('0123456789abcdef',
                     substr(md5(s.val), CAST(18 + 2 * r.r AS INT), 1)) - 1)
               * 16
             + (strpos('0123456789abcdef',
                       substr(md5(s.val), CAST(19 + 2 * r.r AS INT), 1)) - 1)
               AS bucket,
             count(*) AS c
      FROM stacked s, rows_ r WHERE s.val IS NOT NULL
      GROUP BY 1, 2, 3
    ),
    rowmax AS (SELECT col_name, r, max(c) AS mc FROM cms GROUP BY 1, 2),
    topf AS (
      SELECT col_name, CAST(min(mc) AS BIGINT) AS top_freq_est
      FROM rowmax GROUP BY 1
    ),
    -- quantile histograms (operators/profile.py kind=-2): linear
    -- 101-bucket layout for the range-hinted ts column, sign-aware
    -- 1/16-octave log buckets otherwise; integer-exact on both engines
    qsrc AS (
      SELECT col_name, TRY_CAST(val AS BIGINT) AS nv FROM stacked
      WHERE TRY_CAST(val AS BIGINT) IS NOT NULL
    ),
    qbl AS (
      SELECT col_name, nv, a, length(printf('%b', a)) AS bl
      FROM (SELECT col_name, nv,
              abs(greatest(nv, CAST(-9223372036854775807 AS BIGINT))) AS a
            FROM qsrc)
    ),
    qbkt AS (
      SELECT col_name, nv,
        CASE WHEN col_name = 'ts' THEN
          CAST((greatest(least(nv, {_TS_QHI}), {_TS_QLO}) - {_TS_QLO})
               // {_TS_QW} AS INT)
        ELSE
          CAST((CASE WHEN nv >= 0 THEN 1 ELSE -1 END)
               * (bl * 16 + ((a >> (CASE WHEN bl > 5 THEN bl - 5 ELSE 0 END))
                             & 15)) AS INT)
        END AS bucket
      FROM qbl
    ),
    qh AS (
      SELECT col_name, bucket, count(*) AS c, min(nv) AS m
      FROM qbkt GROUP BY 1, 2
    ),
    qc AS (
      SELECT col_name, bucket, m,
             sum(c) OVER (PARTITION BY col_name ORDER BY bucket) AS cum,
             sum(c) OVER (PARTITION BY col_name) AS total
      FROM qh
    ),
    quant AS (
      SELECT col_name,
        CAST(min_by(m, bucket)
             FILTER (WHERE cum >= (total * 50 + 99) // 100) AS BIGINT)
          AS p50_num,
        CAST(min_by(m, bucket)
             FILTER (WHERE cum >= (total * 95 + 99) // 100) AS BIGINT)
          AS p95_num,
        CAST(min_by(m, bucket)
             FILTER (WHERE cum >= (total * 99 + 99) // 100) AS BIGINT)
          AS p99_num
      FROM qc GROUP BY 1
    )
    SELECT c.col_name, c.n_rows, c.n_null, e.distinct_est, e.zero_registers,
           c.min_num, c.max_num, c.avg_len_e2, t.top_freq_est,
           q.p50_num, q.p95_num, q.p99_num
    FROM counts c
    JOIN est e ON e.grp = c.col_name
    LEFT JOIN topf t ON t.col_name = c.col_name
    LEFT JOIN quant q ON q.col_name = c.col_name
    """,
)
def events_profile_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The profiler's 'describe extended' (VERDICT r9 #5, quantiles
    VERDICT r10 #3): everything events_profile reports PLUS numeric
    min/max (exact for the four integer-canonicalized columns, null
    for free-text), integer-exact average canonical length
    (centi-chars), a portable-CMS heavy-hitter estimate, and
    p50/p95/p99 from an integer-exact fixed-bucket histogram (linear
    101-bucket for the range-hinted ts column, 1/16-octave log buckets
    elsewhere; each pXX is the exact MIN of the bucket where the
    cumulative count crosses ceil(q x n)) — all fused into the SAME
    single scan.  top_freq_est is the CMS upper bound on the modal value's
    count (min over 4 hash rows of the row's max cell): the number
    that decides salt factors (operators/skew.py) and max_df caps
    (dedup) before any other job runs.  For a unique column it sits
    near n/256 (uniform collision mass — large overestimate of 1,
    correctly read as 'no heavy hitter'); for a skewed column it is
    tight (event_type's modal share survives the sketch nearly exact,
    CMS error ~ n/width per row).

    One scan, plan-asserted: each value row explodes into 1 HLL + 4
    CMS rows map-side, and the three-level aggregation cascade keeps
    the only data-volume exchange at tasks x cols x ~1.3k partials —
    the same corpus-size-independent exchange contract as
    events_profile, with every extra statistic riding it for free.
    Reference analog: aggregate-then-inspect
    (AggregationsExample.scala:36-44) generalized across columns and
    statistics."""
    from confluent_kafka_streams_examples_spark.operators.profile import (
        canonical,
        profile_table_extended,
    )

    ev = load_table(spark, "events", sf_dir)
    return profile_table_extended(
        ev,
        {
            "event_id": canonical(F.col("event_id")),
            "ts": F.unix_micros(F.col("ts")).cast("string"),
            "user_id": canonical(F.col("user_id")),
            "event_type": canonical(F.col("event_type")),
            "value": F.floor(F.col("value") * 100 + F.lit(0.5))
            .cast("bigint")
            .cast("string"),
            "props": canonical(F.col("props")),
        },
        # range hint: epoch offsets are the log-bucket failure regime
        # (a month is ~0.2% of the offset — one bucket); "this drop is
        # 2024" is a prior the platform has before scanning, and the
        # linear layout turns it into ~3.6-day quantile resolution
        quantile_ranges={"ts": (_TS_QLO, _TS_QHI)},
    )
