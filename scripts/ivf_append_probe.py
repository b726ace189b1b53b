"""Incremental-IVF maintenance probe: APPEND vs REBUILD at corpus
scale (VERDICT r9 #4's cost claim, measured).

The claim the incremental path makes: absorbing a day batch costs
O(batch) — assign the new vectors to the frozen codebook and append
their files into the existing ``list_id=`` partition directories —
while the alternative a naive pipeline runs daily is a full rebuild,
O(index).  This probe measures both on the scale_probe's replicated
embeddings corpus and asserts the append didn't break partition
pruning (the probe query still reads only probed list directories).

Phases timed, each starting from a cold artifact root:

  codebook   train the corpus codebook artifact (once per corpus)
  build      assign the 90% corpus split + write partitioned index
  append     assign the 10% day batch + append into the partitions
  probe      similarity_ivf_append end-to-end (DPP-pruned scan)

Usage (repo root):
    python scripts/ivf_append_probe.py [replicas ...]   # default: 1 100

Prints one JSON line per corpus plus a markdown row for SCALE.md.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession  # noqa: E402

import confluent_kafka_streams_examples_spark.queries_extra as qx  # noqa: E402
from confluent_kafka_streams_examples_spark import artifacts  # noqa: E402
from confluent_kafka_streams_examples_spark.plans.describe import explain_str  # noqa: E402
from confluent_kafka_streams_examples_spark.session import get_spark  # noqa: E402


def probe_over(spark: SparkSession, sf_dir: str, idx_path: str) -> DataFrame:
    """similarity_ivf_append's probe over the index stored at
    ``idx_path`` (routed by the same frozen corpus codebook)."""
    return qx._ivf_probe(
        spark,
        sf_dir,
        spark.read.parquet(idx_path),
        qx._ivf_codebook_table(spark, sf_dir, corpus90=True),
    )


def dpp_pruned(df: DataFrame) -> bool:
    """True when the index scan carries a dynamic partition filter on
    list_id, i.e. the probe reads only the probed list directories."""
    return any(
        "list_id" in ln and "dynamicpruning" in ln
        for ln in explain_str(df, "formatted").splitlines()
        if "PartitionFilters" in ln
    )


def main() -> None:
    replicas = [int(a) for a in sys.argv[1:]] or [1, 100]
    from scripts.scale_probe import build_corpus

    results = []
    for r in replicas:
        sf_dir = (
            "/root/testdata/sf0.1" if r == 1
            else build_corpus(r, tables={"embeddings"})
        )
        spark = get_spark(f"ckse-ivf-append-x{r}")
        spark.sparkContext.setLogLevel("ERROR")

        # cold start: retire any prior artifacts for this corpus
        shutil.rmtree(artifacts.artifact_root(), ignore_errors=True)

        t0 = time.perf_counter()
        qx._ivf_codebook_table(spark, sf_dir, corpus90=True).count()
        t_codebook = time.perf_counter() - t0

        t0 = time.perf_counter()
        qx._ivf_index_table(spark, sf_dir, corpus90=True)
        t_build = time.perf_counter() - t0
        path = artifacts.artifact_path(
            os.path.join(sf_dir, "embeddings.parquet"), qx._ivf_tag("index", True)
        )

        t0 = time.perf_counter()
        idx = qx._ivf_index_appended_table(spark, sf_dir)
        t_append = time.perf_counter() - t0
        n_total = idx.count()
        n_new = idx.filter("vec_id % 10 = 0").count()

        t0 = time.perf_counter()
        out = qx.similarity_ivf_append(spark, sf_dir)
        pruned = dpp_pruned(out)
        rows = out.count()
        t_probe = time.perf_counter() - t0
        n_lists = len(glob.glob(os.path.join(path, "list_id=*")))

        # --- compaction phase (VERDICT r10 #5): small-files decay ---
        # replay the SAME day batch as N_DAYS slice appends into a copy
        # of the corpus index (one parquet file per day per touched
        # partition — what daily cadence actually accretes), measure
        # the probe over the fragmented index, compact only the
        # offending partitions, re-measure.
        from pyspark.sql import functions as F

        N_DAYS = int(os.environ.get("CKSE_IVF_FRAG_DAYS", "20"))
        frag = os.path.join(os.path.dirname(path), "frag_probe_idx")
        shutil.rmtree(frag, ignore_errors=True)
        shutil.copytree(path, frag)
        day = qx._ivf_day_batch(spark, sf_dir).persist()
        day.count()
        for s in range(N_DAYS):
            day.filter(
                F.pmod(F.expr("vec_id div 10"), F.lit(N_DAYS)) == s
            ).coalesce(1).write.mode("append").partitionBy(
                "list_id"
            ).parquet(frag)
        day.unpersist()
        files_per_list = [
            sum(1 for f in os.listdir(d) if f.endswith(".parquet"))
            for d in glob.glob(os.path.join(frag, "list_id=*"))
        ]

        def timed_probe(idx_path: str) -> tuple[float, int, bool]:
            out2 = probe_over(spark, sf_dir, idx_path)
            best, n2 = None, 0
            for _ in range(3):
                t1 = time.perf_counter()
                n2 = out2.count()
                took = time.perf_counter() - t1
                best = took if best is None else min(best, took)
            return best, n2, dpp_pruned(out2)

        t_frag, rows_frag, pruned_frag = timed_probe(frag)
        t1 = time.perf_counter()
        compacted = artifacts.compact_partitions(
            spark, frag, "list_id", max_files=4
        )
        t_compact = time.perf_counter() - t1
        files_after = [
            sum(1 for f in os.listdir(d) if f.endswith(".parquet"))
            for d in glob.glob(os.path.join(frag, "list_id=*"))
        ]
        t_comp, rows_comp, pruned_comp = timed_probe(frag)
        assert rows_comp == rows_frag, (rows_comp, rows_frag)
        assert pruned_comp, "compaction must not break partition pruning"
        shutil.rmtree(frag, ignore_errors=True)
        spark.stop()

        rec = {
            "replicas": r,
            "n_vectors": n_total,
            "n_appended": n_new,
            "n_lists": n_lists,
            "codebook_s": round(t_codebook, 2),
            "build_s": round(t_build, 2),
            "append_s": round(t_append, 2),
            "append_over_build": round(t_append / t_build, 3),
            "probe_s": round(t_probe, 2),
            "probe_rows": rows,
            "probe_pruned": pruned,
            "frag_days": N_DAYS,
            "frag_files_max": max(files_per_list),
            "frag_probe_s": round(t_frag, 2),
            "compact_s": round(t_compact, 2),
            "compacted_parts": len(compacted),
            "compacted_files_max": max(files_after),
            "compacted_probe_s": round(t_comp, 2),
            "compacted_probe_pruned": pruned_comp,
        }
        results.append(rec)
        print(json.dumps(rec), flush=True)

    print("\n| corpus | vectors | appended | build s | append s | append/build | probe s (pruned) |")
    print("|---|---|---|---|---|---|---|")
    for x in results:
        print(
            f"| x{x['replicas']} | {x['n_vectors']:,} | {x['n_appended']:,} "
            f"| {x['build_s']} | {x['append_s']} | {x['append_over_build']} "
            f"| {x['probe_s']} ({x['probe_pruned']}) |"
        )
    print("\n| corpus | frag days | files/part | frag probe s | compact s | parts rewritten | files/part after | probe s after |")
    print("|---|---|---|---|---|---|---|---|")
    for x in results:
        print(
            f"| x{x['replicas']} | {x['frag_days']} | {x['frag_files_max']} "
            f"| {x['frag_probe_s']} | {x['compact_s']} "
            f"| {x['compacted_parts']} | {x['compacted_files_max']} "
            f"| {x['compacted_probe_s']} |"
        )


if __name__ == "__main__":
    main()
