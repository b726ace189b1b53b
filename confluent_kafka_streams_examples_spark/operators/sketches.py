"""Approximate / mergeable aggregation surface — the 100 TB cardinality
and quantile toolkit.

Exact distinct counts and exact percentiles both require a shuffle of
every distinct value (or a full sort); at 100 TB the sketch versions
are the default and the exact forms the exception:

- ``approx_count_distinct``: HyperLogLog++, fixed-size state per
  group, map-side mergeable (relative error ~ 1.04/sqrt(2^p)).
- ``hll_sketch_agg`` / ``hll_union_agg`` (Apache DataSketches HLL):
  the PERSISTABLE variant — write per-partition/per-day sketch blobs,
  union them later for any rollup window without rescanning the data.
  This is the pattern for "distinct users per day / week / all-time"
  over an append-only 100 TB event log: sketch once at ingest,
  merge-at-read forever after.
- ``approx_percentile``: one-pass quantiles (KLL-style bounded
  state) vs the exact sort-based ``percentile``.

(Spark also has ``F.count_min_sketch`` for frequency state, but no
SQL-side estimator to query the blob, so heavy hitters are served by
exact ``groupBy.count`` + ``orderBy.limit`` — Catalyst compiles that
to partial-agg + TakeOrderedAndProject, no full sort.)

None of these are DuckDB-hash-comparable (approximate results differ
per implementation), so they are verified by pytest error-bound and
merge-associativity assertions instead of driver oracles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def distinct_estimate(
    df: DataFrame, group_cols: list[str], value_col: str, rsd: float = 0.02
) -> DataFrame:
    """Per-group HLL++ distinct estimate (fixed state, mergeable)."""
    return df.groupBy(*group_cols).agg(
        F.approx_count_distinct(value_col, rsd=rsd).alias("distinct_est")
    )


def sketch_column(df: DataFrame, group_cols: list[str], value_col: str, lgk: int = 12) -> DataFrame:
    """Materialize a DataSketches-HLL blob per group — the writable
    artifact for sketch-once / merge-forever rollups."""
    return df.groupBy(*group_cols).agg(
        F.hll_sketch_agg(value_col, F.lit(lgk)).alias("hll_sketch")
    )


def merge_sketches(df: DataFrame, group_cols: list[str], sketch_col: str = "hll_sketch") -> DataFrame:
    """Union previously-materialized sketches up to a coarser grouping
    (day → month, partition → table) and estimate the union distinct."""
    merged = df.groupBy(*group_cols).agg(
        F.hll_union_agg(sketch_col).alias("hll_sketch")
    )
    return merged.withColumn(
        "distinct_est", F.hll_sketch_estimate("hll_sketch").cast("long")
    )


def quantile_estimates(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    quantiles: list[float],
    accuracy: int = 10000,
) -> DataFrame:
    """One-pass approximate quantiles per group."""
    return df.groupBy(*group_cols).agg(
        F.approx_percentile(
            value_col, F.array(*[F.lit(q) for q in quantiles]), F.lit(accuracy)
        ).alias("quantiles")
    )


# ---------------------------------------------------------------------------
# Portable (engine-checkable) HyperLogLog registers.
#
# Unlike approx_count_distinct / hll_sketch_agg above, whose register
# layouts are engine-private, this build is specified down to the bit:
# register index = first byte of md5(key), rho = 1 + leading-zero bits
# of the next 60 — so ANY engine (the DuckDB oracle, a future reader)
# reproduces the registers exactly, and estimates computed from them in
# integer arithmetic are hash-comparable.  `hll_index_rho`, `hll_term`
# and `hll_estimate_from_sums` are the one Spark-side spelling of that
# spec: the HLL queries, their streaming twin and operators/profile.py
# compose them; only the DuckDB oracle SQL writes it out again.
# ---------------------------------------------------------------------------

HLL_M = 256  # registers (p=8): std error 1.04/sqrt(256) ~ 6.5%
# Raw-estimator constant alpha_m = 0.7213/(1 + 1.079/m) as an exact
# integer fraction: E = HLL_NUM / (HLL_DEN * sum(2^(62-R[j])))
HLL_NUM = 7213 * 1000 * HLL_M * HLL_M * HLL_M * (2**62)  # 33 digits
HLL_DEN = 10000 * (1000 * HLL_M + 1079)

# Small-range (linear counting) correction, Flajolet et al. 2007 §4:
# when the raw estimate E <= 2.5m and V (zero registers) > 0, the
# ball-in-bins estimate m*ln(m/V) is far more accurate — without it,
# low-cardinality columns (enums, flags, countries: the most common
# real-table case) are knowingly biased.  ln is transcendental, so to
# keep the estimate hash-exact across engines the 256 possible values
# are PRECOMPUTED once here (scaled by 1e6, 10 fixed digits each) and
# both engines extract entry V with the same substring arithmetic —
# integer in, integer out, no float ever crosses an engine boundary.
HLL_LC_THRESHOLD = 5 * HLL_M // 2  # 2.5m, exact in integers
import math as _math

HLL_LC_TABLE_STR = "".join(
    f"{round(HLL_M * _math.log(HLL_M / V) * 1_000_000):010d}"
    for V in range(1, HLL_M + 1)
)


def hll_est_sql(raw: str, zero: str, div: str) -> str:
    """Portable SQL for the corrected estimate from a raw-estimate
    expression and a zero-register-count expression.  ``div`` is the
    engine's integer-division operator ('div' Spark, '//' DuckDB) —
    the only dialect difference."""
    return (
        f"CASE WHEN {zero} > 0 AND {raw} <= {HLL_LC_THRESHOLD} "
        f"THEN CAST(substr('{HLL_LC_TABLE_STR}', "
        f"(CAST({zero} AS INT) - 1) * 10 + 1, 10) AS BIGINT) {div} 1000000 "
        f"ELSE {raw} END"
    )

# rho from the hex tail, portable SQL: z leading '0' nibbles = 4z zero
# bits; the first non-zero nibble adds its own (1 -> 3, 2-3 -> 2,
# 4-7 -> 1, 8-f -> 0).  {G} is ", 0" for Spark's regexp_extract
# (explicit group) and "" for DuckDB's.
HLL_RHO_SQL = """
  CASE WHEN length(regexp_extract(tail, '^0*'{G})) = 15 THEN 61
       ELSE 4 * length(regexp_extract(tail, '^0*'{G}))
            + (CASE substr(tail, length(regexp_extract(tail, '^0*'{G})) + 1, 1)
               WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2
               WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1 WHEN '7' THEN 1
               ELSE 0 END) + 1 END
"""

# Spark-side twin of HLL_RHO_SQL over a PRE-TRIMMED column ``t`` =
# trim(LEADING '0' FROM tail): identical integer for every tail
# (z = 15 - length(t); all-zero tail -> t = '' -> 61), but the three
# per-row regexp_extract evaluations become one ltrim — measured -11%
# on the whole sketch_hll_distinct register build at sf0.1
# (OPTIMIZATION_r11.md; guide §1.2 step 2: per-task work).  The DuckDB
# oracles keep the regex form above — the CONTRACT is the register
# values, which are equal by construction (pinned by the oracle
# hash-compare on every HLL query).  Only `hll_index_rho` reads it: it
# stages ``t`` itself, so callers hand it the md5 column and nothing
# else.
HLL_TAIL_TRIM_EXPR = "trim(LEADING '0' FROM tail)"
HLL_RHO_FROM_T_SQL = """
  CASE WHEN t = '' THEN 61
       ELSE 4 * (15 - length(t))
            + (CASE substr(t, 1, 1)
               WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2
               WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1 WHEN '7' THEN 1
               ELSE 0 END) + 1 END
"""


def hll_index_rho(df: DataFrame, *keep: str) -> DataFrame:
    """(*keep, j, rho) from ``df``'s md5 hex column ``h``: register
    index j = the first byte, rho from the 60 bits after it.  A NULL
    ``h`` (a null value) parks in register -1 with a NULL rho, so a
    caller that keeps nulls counts them there while max(rho) skips
    them.  ``t`` is staged in its own projection: rho reads it four
    times, and Catalyst leaves a non-cheap alias referenced more than
    once un-inlined, so the trim runs once per row."""
    parts = df.select(
        *keep,
        F.when(F.col("h").isNull(), F.lit(-1))
        .otherwise(F.conv(F.substring("h", 1, 2), 16, 10).cast("int"))
        .alias("j"),
        F.substring("h", 3, 15).alias("tail"),
    ).withColumn("t", F.expr(HLL_TAIL_TRIM_EXPR))
    return parts.select(*keep, "j", F.expr(HLL_RHO_FROM_T_SQL).alias("rho"))


def hll_term() -> Column:
    """One present register's share of the estimator's sum S:
    2^(62 - R) as an exact DECIMAL(38,0) (1 <= R <= 61, so the shifted
    BIGINT never overflows)."""
    return F.expr("CAST(shiftleft(CAST(1 AS BIGINT), 62 - R) AS DECIMAL(38,0))")


def hll_estimate_from_sums(df: DataFrame, name: str, *keep: str) -> DataFrame:
    """(*keep, <name>, zero_registers) from ``df``'s S_present (the sum
    of `hll_term` over the present registers, NULL when none is) and
    n_present (their count), in scaled integer arithmetic: exact alpha
    fraction, shifted-BIGINT power terms, one DECIMAL(38,0) integral
    divide, so two engines' estimates are hash-equal.  Absent
    registers need no grid fill: each contributes exactly 2^62 to S
    and one zero register, recoverable from n_present.  The
    small-range linear-counting correction m*ln(m/V) applies when the
    raw estimate <= 2.5m and V > 0 (Flajolet §4), via the precomputed
    integer table."""
    raw = df.select(
        *keep,
        F.expr(
            f"CAST(CAST('{HLL_NUM}' AS DECIMAL(38,0))"
            f" div (CAST({HLL_DEN} AS DECIMAL(38,0))"
            f" * (coalesce(S_present, CAST(0 AS DECIMAL(38,0)))"
            f" + CAST(({HLL_M} - n_present) AS DECIMAL(38,0))"
            f" * CAST(shiftleft(CAST(1 AS BIGINT), 62) AS DECIMAL(38,0))))"
            f" AS BIGINT)"
        ).alias("raw_est"),
        F.expr(f"CAST({HLL_M} - n_present AS BIGINT)").alias("zero_registers"),
    )
    return raw.select(
        *keep,
        F.expr(hll_est_sql("raw_est", "zero_registers", "div")).alias(name),
        "zero_registers",
    )


def hll_portable_registers(
    df: DataFrame,
    grp_col: str,
    key_col: str,
    all_label: str | None = "__all__",
) -> DataFrame:
    """(grp, j, R) register maxima of the portable HLL over ``key_col``.

    Because max is associative, each row is emitted under both its own
    group and ``all_label`` BEFORE the aggregation, so the merged
    all-groups sketch falls out of the same single pass — the register
    merge property executed, not simulated.  The caller must pick an
    ``all_label`` that cannot collide with a real group value (or pass
    None to skip the merged sketch).  Works identically on a
    STREAMING DataFrame: groupBy + max is a built-in streaming
    aggregate, so the registers refine monotonically per micro-batch
    with fixed (groups+1) x 256 state and no Python in the loop.

    Scale: one partial-aggregated exchange of at most
    tasks x (groups+1) x 256 maxima regardless of corpus size.

    Null keys are FILTERED (a null contributes nothing to a distinct
    count): without the filter a null key would emit a (grp, j=NULL,
    R=NULL) row that hll_estimate_from_registers counts in n_present
    while null-skipping its S term — biasing the estimate high by one
    register.  Callers that need a null count alongside the sketch
    track it separately (profile.py parks nulls in register -1).
    """
    hashed = df.filter(F.col(key_col).isNotNull()).select(
        F.col(grp_col).alias("grp"),
        F.md5(F.col(key_col).cast("string")).alias("h"),
    )
    parts = hll_index_rho(hashed, "grp")
    if all_label is not None and not df.isStreaming:
        # TWO-LEVEL merged sketch (r11, batch only): aggregate
        # per-group registers first, then explode the (groups x 256)-
        # row aggregate into the merged ``all_label`` rows and re-max —
        # the fan-out no longer doubles every corpus row through the
        # map-side hash-agg (max over registers is exact: the merge
        # property executed on the aggregate instead of the raw
        # stream).  Wash at sf0.1, -13% at x20 where agg updates
        # dominate (OPTIMIZATION_r11.md).  Streaming frames keep the
        # single-aggregate fan-out below: chained stateful aggregates
        # are not supported in update mode, and one streaming
        # aggregate with the row-level label explode IS the twin's
        # contract (fixed (groups+1) x 256 state).
        per_grp = parts.groupBy("grp", "j").agg(F.max("rho").alias("R"))
        labeled = per_grp.select(
            F.explode(F.array(F.col("grp"), F.lit(all_label))).alias("grp"),
            "j",
            "R",
        )
        return labeled.groupBy("grp", "j").agg(F.max("R").alias("R"))
    grp_out = (
        F.explode(F.array(F.col("grp"), F.lit(all_label)))
        if all_label is not None
        else F.col("grp")
    )
    return (
        parts.select(grp_out.alias("grp"), "j", "rho")
        .groupBy("grp", "j")
        .agg(F.max("rho").alias("R"))
    )


def hll_estimate_from_registers(regs: DataFrame) -> DataFrame:
    """(grp, hll_est, zero_registers) from a (grp, j, R) register set
    (present registers only: R >= 1) — see `hll_estimate_from_sums`."""
    est = regs.groupBy("grp").agg(
        F.sum(hll_term()).alias("S_present"),
        F.count(F.lit(1)).alias("n_present"),
    )
    return hll_estimate_from_sums(est, "hll_est", "grp")


# ---------------------------------------------------------------------------
# Portable count-min sketch cells (same portability contract as the HLL
# registers above: md5-derived hash rows, bit-identical in any engine).
# ---------------------------------------------------------------------------

CMS_ROWS = 4
CMS_WIDTH = 256


def cms_bucket(row_col: Column, key_col: Column) -> Column:
    """Count-min bucket of ``key`` in hash row ``row``: 16-bit md5
    prefix of 'r:key', mod width — deterministic and engine-portable."""
    h = F.md5(F.concat(row_col.cast("string"), F.lit(":"), key_col.cast("string")))
    return (F.conv(F.substring(h, 1, 4), 16, 10).cast("long")) % CMS_WIDTH


def cms_portable_cells(df: DataFrame, key_col: str) -> DataFrame:
    """(r, bucket, c) cells of the portable CMS over ``key_col``.

    Cell counts are ADDITIVE, so — like the HLL registers — the same
    build runs unchanged on a STREAMING DataFrame: groupBy + count is
    a built-in streaming aggregate whose update-mode refinements sum
    per micro-batch into exactly the batch cells
    (tests/test_streaming_agg.py::test_cms_cells_stream_match_batch).
    One partial-aggregated exchange of at most
    tasks x CMS_ROWS x CMS_WIDTH partials regardless of corpus size;
    the whole sketch is 1,024 integers.
    """
    r = F.explode(F.sequence(F.lit(0), F.lit(CMS_ROWS - 1))).alias("r")
    return (
        df.select(F.col(key_col), r)
        .select("r", cms_bucket(F.col("r"), F.col(key_col)).alias("bucket"))
        .groupBy("r", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
