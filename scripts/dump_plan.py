"""Dump .explain("formatted") for named queries to
plans/$SPARK_GRAFT_PLANS_ROUND/<q>_<tag>.txt (round defaults to r12).

Usage: python scripts/dump_plan.py <tag> <query> [<query> ...]
       python scripts/dump_plan.py <tag> --top N   (slowest N from BENCH_DETAIL.json)
       python scripts/dump_plan.py --optimized <tag> <query> [<query> ...]

``--optimized`` writes ``queryExecution().optimizedPlan()`` instead,
normalized so that two source trees building the same plan produce
byte-identical files: expression ids and ``plan_id=`` tags are
renumbered in order of first appearance, lambda variables lose the
session counter in their names, and artifact paths lose the artifact
root and the version digest.  Every artifact the queries build on a
miss also gets its build plan written, as
``artifact_<artifact tag>_<tag>.txt``.  Plan identity between two
trees is then a plain ``diff -r`` of the two output directories; run
each tree from its own checkout (its own ``spark-warehouse/``) with a
fresh ``TMPDIR`` so every artifact builds.
"""
from __future__ import annotations

import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from confluent_kafka_streams_examples_spark.queries import QUERIES
from confluent_kafka_streams_examples_spark.session import get_spark, release_caches

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: (pattern, prefix) pairs renumbered in order of first appearance
_RENUMBER = (
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
)


def normalize(plan: str, art_root: str) -> str:
    """Plan text with run-specific numbering and artifact paths made
    stable; distinct ids stay distinct, so a changed wiring still
    shows."""
    plan = plan.replace(art_root, "<artifacts>")
    plan = re.sub(r"ckse_art_[0-9a-f]{12}", "ckse_art_<digest>", plan)
    # a lambda variable is identified by its expression id; the name's
    # counter only says how many lambdas the session built before it
    plan = re.sub(r"(lambda \w+?)_\d+#", r"\1#", plan)
    for pat, prefix in _RENUMBER:
        seen: dict[str, str] = {}

        def renum(m: re.Match, seen=seen, prefix=prefix) -> str:
            return seen.setdefault(m.group(0), f"{prefix}{len(seen)}")

        plan = pat.sub(renum, plan)
    return plan


def optimized_plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def record_artifact_builds(outdir: str, tag: str, root: str) -> None:
    """Wrap artifacts.materialized so every build that runs writes its
    optimized plan next to the query plans."""
    from confluent_kafka_streams_examples_spark import artifacts

    real = artifacts.materialized

    def recording(spark, source_file, art_tag, build, *args, **kwargs):
        def build_and_dump():
            df = build()
            slug = re.sub(r"\W+", "_", art_tag)
            with open(os.path.join(outdir, f"artifact_{slug}_{tag}.txt"), "w") as fh:
                fh.write(normalize(optimized_plan(df), root))
            return df

        return real(spark, source_file, art_tag, build_and_dump, *args, **kwargs)

    artifacts.materialized = recording


def main() -> None:
    args = sys.argv[1:]
    optimized = "--optimized" in args
    if optimized:
        args.remove("--optimized")
    tag = args[0]
    names = args[1:]
    if names and names[0] == "--top":
        n = int(names[1])
        with open(os.path.join(REPO, "BENCH_DETAIL.json")) as fh:
            qs = json.load(fh)["queries"]
        names = [k for k, _ in sorted(qs.items(), key=lambda kv: -kv[1])[:n]]
    spark = get_spark("plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    outdir = os.path.join(
        REPO, "plans", os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r12")
    )
    os.makedirs(outdir, exist_ok=True)
    if optimized:
        from confluent_kafka_streams_examples_spark.artifacts import artifact_root

        root = artifact_root()
        record_artifact_builds(outdir, tag, root)
    for name in names:
        df = QUERIES[name](spark, SF_DIR)
        if optimized:
            plan = normalize(optimized_plan(df), root)
        else:
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        with open(os.path.join(outdir, f"{name}_{tag}.txt"), "w") as fh:
            fh.write(plan)
        release_caches(spark)
        print(name)


if __name__ == "__main__":
    main()
