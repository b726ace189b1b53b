"""Sketch surface: error bounds vs exact answers, and the property that
makes sketches the 100 TB tool — merge associativity (sketch per fine
partition, union to coarse, same estimate as sketching coarse
directly)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from confluent_kafka_streams_examples_spark.operators.sketches import (
    distinct_estimate,
    merge_sketches,
    quantile_estimates,
    sketch_column,
)
from confluent_kafka_streams_examples_spark.session import load_table

SF = "/root/testdata/sf0.01"


def test_hll_estimate_within_bound(spark):
    ev = load_table(spark, "events", SF)
    est = {
        r["event_type"]: r["distinct_est"]
        for r in distinct_estimate(ev, ["event_type"], "user_id").collect()
    }
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    for k, n in exact.items():
        assert abs(est[k] - n) <= max(3, 0.05 * n), (k, est[k], n)


def test_datasketches_merge_associativity(spark):
    """sketch(day) then union == usable estimate of the whole: per-day
    sketches merged to all-time agree with the direct all-time count
    within HLL error."""
    ev = load_table(spark, "events", SF).withColumn("day", F.to_date("ts"))
    daily = sketch_column(ev, ["day"], "user_id")
    merged = merge_sketches(daily.withColumn("all", F.lit(1)), ["all"])
    est = merged.collect()[0]["distinct_est"]
    exact = ev.select("user_id").distinct().count()
    assert abs(est - exact) <= max(3, 0.05 * exact), (est, exact)


def test_approx_quantiles_ordered_and_bounded(spark):
    li = load_table(spark, "lineitem", SF)
    row = quantile_estimates(
        li.withColumn("g", F.lit(1)), ["g"], "l_extendedprice", [0.1, 0.5, 0.9]
    ).collect()[0]
    q10, q50, q90 = row["quantiles"]
    assert q10 <= q50 <= q90
    lo, hi = (
        li.agg(F.min("l_extendedprice"), F.max("l_extendedprice")).collect()[0]
    )
    assert lo <= q10 and q90 <= hi


def test_merge_associativity_across_partitionings_sf01(spark):
    """The sketch-once/merge-forever contract, hardened at sf0.1: the
    union of per-partition HLL blobs must give the same estimate as
    sketching the whole range directly, no matter how fine the
    partitioning (per-day, per-(day,type)) or how the rows are
    physically distributed — within the sketch's own error band.  (Not
    bit-identically: a small per-partition sketch lives in sparse/coupon
    mode and the union's promotion to dense HLL lands on slightly
    different register state than sketching dense directly — measured
    ~0.7% apart at lgk=12, where rsd = 1.04/sqrt(2^12) ~ 1.6%.)"""
    ev = load_table(spark, "events", "/root/testdata/sf0.1").withColumn(
        "day", F.to_date("ts")
    )
    direct = merge_sketches(
        sketch_column(ev, [], "user_id").withColumn("all", F.lit(1)), ["all"]
    ).collect()[0]["distinct_est"]
    exact = ev.select("user_id").distinct().count()
    ests = [direct]
    for cols, nparts in [(["day"], 1), (["day"], 32), (["day", "event_type"], 7)]:
        fine = sketch_column(ev.repartition(nparts), cols, "user_id")
        ests.append(
            merge_sketches(fine.withColumn("all", F.lit(1)), ["all"]).collect()[0][
                "distinct_est"
            ]
        )
    for est in ests:
        assert abs(est - exact) <= max(3, 0.04 * exact), (est, exact, ests)
    # merge paths agree with each other tighter than with the truth
    assert max(ests) - min(ests) <= max(2, 0.02 * exact), ests


def test_hll_oracle_sketch_error_and_merge(spark):
    """The HLL eval query (sketch_hll_eval): every l_orderkey group's
    estimate lands within 3 sigma (3 * 1.04/sqrt(256) ~ 19.5%, but
    observed <4%) in the raw regime (no empty registers at sf0.01);
    every l_linenumber group (7 values, deep linear-counting regime)
    is estimated via m*ln(m/V) — near-exact; and each key's ':__all__'
    row is a register MERGE — near the true union, far below the
    per-group sum (groups share most orderkeys, so sum-of-counts
    would be ~2.2x the union)."""
    from confluent_kafka_streams_examples_spark.queries import QUERIES

    rows = {
        r["grp"]: r for r in QUERIES["sketch_hll_eval"](spark, SF).collect()
    }
    flags = ("A", "N", "R", "__all__")
    assert set(rows) == {
        f"{k}:{g}" for k in ("l_orderkey", "l_linenumber") for g in flags
    }
    for g in flags:
        r = rows[f"l_orderkey:{g}"]
        rel = abs(r["hll_est"] - r["true_distinct"]) / r["true_distinct"]
        assert rel < 0.195, (g, r["hll_est"], r["true_distinct"])
        assert r["zero_registers"] == 0, (g, r["zero_registers"])
        lo = rows[f"l_linenumber:{g}"]
        # linear counting: 7 true values, correction lands within 1
        assert lo["zero_registers"] > 200, (g, lo["zero_registers"])
        assert abs(lo["hll_est"] - lo["true_distinct"]) <= 1, (
            g, lo["hll_est"], lo["true_distinct"],
        )
    group_sum = sum(
        rows[f"l_orderkey:{g}"]["true_distinct"] for g in ("A", "N", "R")
    )
    union = rows["l_orderkey:__all__"]
    assert union["hll_est"] < 0.8 * group_sum, (union["hll_est"], group_sum)
    assert union["true_distinct"] < group_sum


def test_hll_linear_counting_table_and_null_keys(spark):
    """Pins the linear-counting branch against a pure-Python third
    implementation (m*ln(m/V) over float math must agree with the
    integer table to the unit), and the null-key contract: null keys
    contribute NOTHING — same registers and estimate as the dataset
    with the nulls removed (ADVICE r9: an unfiltered null key inflated
    n_present by a (j=NULL, R=NULL) row)."""
    import math

    from confluent_kafka_streams_examples_spark.operators.sketches import (
        HLL_LC_TABLE_STR,
        HLL_M,
        hll_estimate_from_registers,
        hll_portable_registers,
    )

    for V in (1, 7, 100, 249, 255, 256):
        entry = int(HLL_LC_TABLE_STR[(V - 1) * 10 : V * 10])
        assert abs(entry / 1e6 - HLL_M * math.log(HLL_M / V)) < 1e-5, V

    keys = [(f"k{i}",) for i in range(40)] + [(None,)] * 25
    df = spark.createDataFrame(keys, "k string").selectExpr(
        "'g' AS grp", "k"
    )
    clean = spark.createDataFrame(
        [(f"k{i}",) for i in range(40)], "k string"
    ).selectExpr("'g' AS grp", "k")
    got = {
        (r["grp"], r["j"]): r["R"]
        for r in hll_portable_registers(df, "grp", "k").collect()
    }
    expect = {
        (r["grp"], r["j"]): r["R"]
        for r in hll_portable_registers(clean, "grp", "k").collect()
    }
    assert got == expect
    assert all(j is not None for (_, j) in got)
    est = {
        r["grp"]: r["hll_est"]
        for r in hll_estimate_from_registers(
            hll_portable_registers(df, "grp", "k")
        ).collect()
    }
    # 40 distinct, V ~ 220: linear counting is near-exact
    assert abs(est["g"] - 40) <= 2, est
    assert abs(est["__all__"] - 40) <= 2, est


def test_hll_incremental_never_rescans_corpus(spark):
    """The incremental-persisted HLL's returned plan reads the stored
    register parquet plus ONE lineitem scan (the new batch) — the
    corpus is never rescanned on the daily path; and the merged
    estimates are bit-identical to the from-scratch sketch."""
    from confluent_kafka_streams_examples_spark.plans.describe import explain_str
    from confluent_kafka_streams_examples_spark.queries import QUERIES

    df = QUERIES["sketch_hll_incremental"](spark, SF)
    p = explain_str(df, "formatted")
    import re

    locs = []
    for m in re.finditer(r"\(\d+\) Scan parquet\s*\n(.*?)(?=\n\(|\Z)", p, re.S):
        locs += [ln for ln in m.group(1).splitlines() if "Location" in ln]
    li = [ln for ln in locs if "lineitem" in ln]
    regs = [ln for ln in locs if "ckse_art_" in ln]
    assert len(li) == 1 and len(regs) == 1, locs

    inc = {r["grp"]: (r["hll_est"], r["zero_registers"]) for r in df.collect()}
    # from-scratch reference: the production query's l_orderkey groups
    # (its grp labels are 'l_orderkey:<flag>'; incremental uses bare
    # flags — same registers, so bit-identical estimates)
    full = {
        r["grp"].split(":", 1)[1]: (r["hll_est"], r["zero_registers"])
        for r in QUERIES["sketch_hll_distinct"](spark, SF).collect()
        if r["grp"].startswith("l_orderkey:")
    }
    assert inc == full


def test_events_profile_single_scan_and_sane(spark):
    """The profiler reads the table EXACTLY once (stack + two-level
    agg; a counts-join-registers DAG would scan per branch), estimates
    high-cardinality columns within 2 sigma, and flags low-cardinality
    columns via zero_registers (the linear-counting regime)."""
    from confluent_kafka_streams_examples_spark.plans.describe import explain_str
    from confluent_kafka_streams_examples_spark.queries import QUERIES

    df = QUERIES["events_profile"](spark, SF)
    p = explain_str(df, "formatted")
    assert (
        sum(
            1
            for ln in p.splitlines()
            if ln.strip().startswith("(") and "Scan parquet" in ln
        )
        == 1
    ), p
    prof = {r["col_name"]: r for r in df.collect()}
    assert set(prof) == {"event_id", "ts", "user_id", "event_type", "value", "props"}
    n = prof["event_id"]["n_rows"]
    assert all(r["n_rows"] == n for r in prof.values())
    # event_id is unique: estimate within 2 sigma (2 * 6.5%)
    assert abs(prof["event_id"]["distinct_est"] - n) / n < 0.13
    # event_type has a handful of values: deep in linear-counting range,
    # where the m*ln(m/V) correction makes the estimate near-exact
    assert prof["event_type"]["zero_registers"] > 200
    n_types = (
        load_table(spark, "events", SF).select("event_type").distinct().count()
    )
    assert abs(prof["event_type"]["distinct_est"] - n_types) <= 1, (
        prof["event_type"]["distinct_est"], n_types,
    )


def test_hll_register_spec_matches_python_reference(spark):
    """Pin the portable-HLL bit spec against a THIRD implementation:
    pure-Python md5 + leading-zero-bit count.  Spark and the DuckDB
    oracle share the SQL formulation, so agreement between them can't
    catch a shared mistake in the nibble arithmetic — this can.  Both
    Spark register builds are pinned: the sketch's and the profiler's,
    whose register -1 must carry exactly the null count."""
    import hashlib

    def py_register(key: str) -> tuple:
        h = hashlib.md5(key.encode()).hexdigest()
        j = int(h[:2], 16)
        tail_bits = bin(int(h[2:17], 16))[2:].zfill(60)
        rho = 61 if set(tail_bits) == {"0"} else tail_bits.index("1") + 1
        return j, rho

    keys = [str(k) for k in range(5000)]  # plenty of low-rho + some high
    expect = {}
    for k in keys:
        j, rho = py_register(k)
        expect[j] = max(expect.get(j, 0), rho)

    from confluent_kafka_streams_examples_spark.operators.sketches import (
        hll_portable_registers,
    )

    df = spark.createDataFrame([(k,) for k in keys], "k string")
    got = {
        r["j"]: r["R"]
        for r in hll_portable_registers(
            df.selectExpr("'g' AS grp", "k"), "grp", "k", all_label=None
        ).collect()
    }
    assert got == expect

    from confluent_kafka_streams_examples_spark.operators.profile import (
        profile_registers,
    )

    n_null = 7
    with_nulls = spark.createDataFrame(
        [(k,) for k in keys] + [(None,)] * n_null, "k string"
    )
    prof = {
        r["j"]: (r["cnt"], r["R"])
        for r in profile_registers(with_nulls, {"k": F.col("k")}).collect()
    }
    assert {j: R for j, (_, R) in prof.items() if j >= 0} == expect
    assert prof[-1] == (n_null, None)


def test_cms_cell_spec_matches_python_reference(spark):
    """Same third-implementation pin for the CMS: pure-Python md5
    16-bit prefix mod width must reproduce every cell count."""
    import hashlib
    from collections import Counter

    from confluent_kafka_streams_examples_spark.operators.sketches import (
        CMS_ROWS,
        CMS_WIDTH,
        cms_portable_cells,
    )

    keys = [str(k % 700) for k in range(4000)]  # repeats -> real counts
    expect: Counter = Counter()
    for k in keys:
        for r in range(CMS_ROWS):
            h = hashlib.md5(f"{r}:{k}".encode()).hexdigest()
            expect[(r, int(h[:4], 16) % CMS_WIDTH)] += 1

    df = spark.createDataFrame([(k,) for k in keys], "k string")
    got = {
        (r["r"], r["bucket"]): r["c"]
        for r in cms_portable_cells(df, "k").collect()
    }
    assert got == dict(expect)


def test_profile_table_generic_on_documents(spark):
    """profile_table is table-generic (events_profile is just its
    oracle-checked demo): pointing it at documents yields sane counts
    and estimates in one scan."""
    from pyspark.sql import functions as F

    from confluent_kafka_streams_examples_spark.operators.profile import (
        canonical,
        profile_table,
    )
    from confluent_kafka_streams_examples_spark.plans.describe import explain_str
    from confluent_kafka_streams_examples_spark.session import load_table

    docs = load_table(spark, "documents", SF)
    out = profile_table(
        docs,
        {c: canonical(F.col(c)) for c in ("doc_id", "text", "lang", "source")},
    )
    p = explain_str(out, "formatted")
    assert (
        sum(
            1
            for ln in p.splitlines()
            if ln.strip().startswith("(") and "Scan parquet" in ln
        )
        == 1
    ), p
    prof = {r["col_name"]: r for r in out.collect()}
    n = prof["doc_id"]["n_rows"]
    assert n == docs.count()
    assert abs(prof["doc_id"]["distinct_est"] - n) / n < 0.13  # unique ids
    assert prof["lang"]["zero_registers"] > 200  # tiny lang set


def test_events_profile_extended_single_scan_and_sane(spark):
    """The extended profiler keeps the one-scan contract while adding
    min/max, avg length, and the CMS heavy-hitter estimate: exactly
    one parquet scan in the plan; statistics behave per regime —
    event_type's top_freq_est is TIGHT (true modal count <= est <=
    modal + n/256 per CMS row), a unique column's est is the collision
    mass (~n/256), and min/max/avg_len agree with exact recomputation."""
    from pyspark.sql import functions as F

    from confluent_kafka_streams_examples_spark.plans.describe import explain_str
    from confluent_kafka_streams_examples_spark.queries import QUERIES
    from confluent_kafka_streams_examples_spark.session import load_table

    df = QUERIES["events_profile_extended"](spark, SF)
    p = explain_str(df, "formatted")
    assert (
        sum(
            1
            for ln in p.splitlines()
            if ln.strip().startswith("(") and "Scan parquet" in ln
        )
        == 1
    ), p
    prof = {r["col_name"]: r for r in df.collect()}
    ev = load_table(spark, "events", SF)
    n = ev.count()
    et = prof["event_type"]
    modal = (
        ev.groupBy("event_type").count().agg(F.max("count")).collect()[0][0]
    )
    assert modal <= et["top_freq_est"] <= modal + 4 * (n // 256 + 1), (
        et["top_freq_est"], modal,
    )
    assert prof["event_id"]["top_freq_est"] <= n // 64  # no heavy hitter
    exact = ev.agg(
        F.min("event_id").alias("mn"),
        F.max("event_id").alias("mx"),
        F.expr(
            "CAST((100 * sum(length(CAST(event_id AS STRING))))"
            " div count(event_id) AS BIGINT)"
        ).alias("al"),
    ).collect()[0]
    assert prof["event_id"]["min_num"] == exact["mn"]
    assert prof["event_id"]["max_num"] == exact["mx"]
    assert prof["event_id"]["avg_len_e2"] == exact["al"]
    # free-text columns carry no numeric range, by design
    assert prof["event_type"]["min_num"] is None
    # quantiles (r11): pXX is an exact data value bracketing the true
    # quantile from below, within one histogram bucket — 1/16 octave
    # for log-bucketed columns, (hi-lo)/101 for the range-hinted ts
    import math

    ids = sorted(r[0] for r in ev.select("event_id").collect())
    for p in (50, 95, 99):
        exact = ids[max(0, math.ceil(len(ids) * p / 100) - 1)]
        got = prof["event_id"][f"p{p}_num"]
        assert got <= exact and exact <= got + max(got // 16, 16) + 1, (
            p, got, exact,
        )
    ts_us = sorted(
        r[0] for r in ev.select(F.unix_micros("ts")).collect()
    )
    w = (1735689600000000 - 1704067200000000) // 101 + 1
    for p in (50, 95, 99):
        exact = ts_us[max(0, math.ceil(len(ts_us) * p / 100) - 1)]
        got = prof["ts"][f"p{p}_num"]
        assert got <= exact <= got + w, (p, got, exact)
    # the hinted column must NOT be in the degenerate all-one-bucket
    # regime the raw epoch offset would produce under log buckets
    assert prof["ts"]["p50_num"] > prof["ts"]["min_num"]
    assert prof["event_type"]["p50_num"] is None
    # and the whole cascade must stay hash-aggregated: a string
    # min/max here regresses to SortAggregate and sorted 900M exploded
    # rows (18 GiB spill) at the x100 probe
    pplan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortAggregate" not in pplan, pplan
    # the base columns still match events_profile exactly
    base = {
        r["col_name"]: r for r in QUERIES["events_profile"](spark, SF).collect()
    }
    for c, r in prof.items():
        assert (r["n_rows"], r["n_null"], r["distinct_est"]) == (
            base[c]["n_rows"], base[c]["n_null"], base[c]["distinct_est"],
        ), c


def test_fused_profiler_layout_matches_python_reference(spark):
    """Third-implementation pin for the extended profiler's FUSED
    sketch layout (HLL from md5 chars 1-17, CMS row r from the hex
    pair at chars 18+2r): a pure-Python build over the same values
    must reproduce top_freq_est exactly, and the numeric/length stats
    must match exact recomputation — including the all-null column
    edge (no registers, no CMS rows, LC estimate 0)."""
    import hashlib
    from collections import Counter

    from pyspark.sql import functions as F

    from confluent_kafka_streams_examples_spark.operators.profile import (
        canonical,
        profile_table_extended,
    )

    vals = [str(i % 37) for i in range(4000)]  # skewed: 37 values
    df = spark.createDataFrame(
        [(v, None) for v in vals], "a string, b string"
    )
    out = {
        r["col_name"]: r
        for r in profile_table_extended(
            df, {"a": canonical(F.col("a")), "b": canonical(F.col("b"))}
        ).collect()
    }

    cells: Counter = Counter()
    for v in vals:
        h = hashlib.md5(v.encode()).hexdigest()
        for r in range(4):
            # 1-indexed SQL substr(18+2r, 2) == 0-indexed [17+2r:19+2r]
            cells[(r, int(h[17 + 2 * r : 19 + 2 * r], 16))] += 1
    expect_topf = min(
        max(c for (rr, _), c in cells.items() if rr == r) for r in range(4)
    )
    a = out["a"]
    assert a["top_freq_est"] == expect_topf
    assert a["n_rows"] == 4000 and a["n_null"] == 0
    assert a["min_num"] == 0 and a["max_num"] == 36
    total_len = sum(len(v) for v in vals)
    assert a["avg_len_e2"] == (100 * total_len) // 4000
    # 37 true values, deep linear-counting regime: near-exact
    assert abs(a["distinct_est"] - 37) <= 1

    b = out["b"]
    assert b["n_rows"] == 4000 and b["n_null"] == 4000
    assert b["distinct_est"] == 0 and b["zero_registers"] == 256
    assert b["min_num"] is None and b["max_num"] is None
    assert b["avg_len_e2"] is None and b["top_freq_est"] is None
