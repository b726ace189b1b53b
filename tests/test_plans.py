"""Plan-hygiene tests: the properties that decide whether a plan
survives a 100x scale-up, asserted on the physical plan text.

- filters reach the parquet scan (PushedFilters)
- projections prune columns (ReadSchema)
- dimension joins broadcast (fact side never shuffles for dims)
- no cartesian products anywhere
- single-shuffle guarantees for the one-shuffle operators
"""

from __future__ import annotations

import pytest

from confluent_kafka_streams_examples_spark.plans.describe import explain_str
from confluent_kafka_streams_examples_spark.queries import QUERIES
from tests.conftest import SF_SMOKE


def plan(spark, name: str) -> str:
    return explain_str(QUERIES[name](spark, SF_SMOKE))


def test_filter_pushdown_reaches_scan(spark):
    p = plan(spark, "agg_pricing_summary")
    pushed = "\n".join(ln for ln in p.splitlines() if "PushedFilters" in ln)
    assert "LessThanOrEqual(l_shipdate" in pushed, p


def test_column_pruning(spark):
    p = plan(spark, "basic_pipeline")
    rs = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert rs, p
    # the events scan must read exactly the two needed columns
    assert any(
        "event_id" in ln and "user_id" in ln and "props" not in ln and "value" not in ln
        for ln in rs
    ), rs


def test_dimension_joins_broadcast(spark):
    for name in ["regional_revenue", "stream_table_join"]:
        p = plan(spark, name)
        assert p.count("BroadcastHashJoin") >= 3, f"{name}: dims must broadcast\n{p}"
        assert "SortMergeJoin" not in p, f"{name}: no dim join may shuffle the fact side\n{p}"


def test_no_cartesian_products_anywhere(spark):
    """EVERY registered query must plan without a CartesianProduct and
    without a row-at-a-time Python UDF (BatchEvalPython) — the
    registry-wide structural form of two claims the docs make.
    (BroadcastNestedLoopJoin is allowed: the scalar-aggregate and
    tiny-codebook cross joins are deliberate broadcast products of
    1-to-k-row frames.  Arrow-vectorized Python — ArrowEvalPython /
    FlatMapGroupsInPandas / MapInPandas — is allowed: that is the
    sanctioned slow path.)"""
    offenders = {}
    for name in QUERIES:
        try:
            p = plan(spark, name)
        except Exception as exc:  # plan construction itself must work
            offenders[name] = f"plan construction failed: {exc}"
            continue
        if "CartesianProduct" in p:
            offenders[name] = "CartesianProduct"
        if "BatchEvalPython" in p:
            offenders[name] = "row-at-a-time Python UDF (BatchEvalPython)"
    assert not offenders, offenders


def test_windowed_join_is_keyed_join(spark):
    """The ±300s stream-stream join must key on user_id (hash/merge join
    with the range predicate as post-filter), never a pure range join."""
    p = plan(spark, "stream_stream_window_join")
    assert ("SortMergeJoin" in p) or ("ShuffledHashJoin" in p) or (
        "BroadcastHashJoin" in p
    ), p


def test_left_windowed_join_is_keyed_and_keeps_all_views(spark):
    """leftJoin variant: same keyed-join plan discipline as the inner
    join (range predicate rides as residual, never a nested loop), and
    left-outerness — every view row survives."""
    p = plan(spark, "stream_stream_left_join")
    assert ("SortMergeJoin" in p) or ("ShuffledHashJoin" in p) or (
        "BroadcastHashJoin" in p
    ), p
    assert "LeftOuter" in p, p
    from confluent_kafka_streams_examples_spark.queries import QUERIES
    from confluent_kafka_streams_examples_spark.session import load_table
    from pyspark.sql import functions as F

    out = QUERIES["stream_stream_left_join"](spark, SF_SMOKE)
    n_views = (
        load_table(spark, "events", SF_SMOKE)
        .filter(F.col("event_type") == "view")
        .count()
    )
    assert out.select("view_id").distinct().count() == n_views


def test_outer_windowed_join_is_keyed_join(spark):
    """outerJoin variant: FullOuter forbids broadcast, so the plan must
    be a keyed SMJ/shuffled-hash — still never a nested loop."""
    p = plan(spark, "stream_stream_outer_join")
    assert ("SortMergeJoin" in p) or ("ShuffledHashJoin" in p), p
    assert "FullOuter" in p, p


def test_ktable_latest_single_shuffle(spark):
    """Latest-per-key is one shuffle on the key (window dedup)."""
    p = plan(spark, "ktable_latest")
    # AQE may add AQEShuffleRead, but there must be exactly one Exchange
    n_exchange = sum(1 for ln in p.splitlines() if ln.strip().startswith("(") and "Exchange" in ln and "AQEShuffleRead" not in ln)
    assert n_exchange == 1, f"expected exactly 1 shuffle:\n{p}"


def test_running_total_partial_aggregation(spark):
    """groupBy sum must plan partial (map-side) aggregation before the
    exchange — HashAggregate appears both below and above the shuffle."""
    p = plan(spark, "agg_running_total")
    assert p.count("HashAggregate") >= 2, p


def test_query_registry_complete():
    """Every registered query has an oracle or is explicitly rows-only;
    names are unique and callable."""
    from confluent_kafka_streams_examples_spark.queries import ORACLES

    assert set(ORACLES) <= set(QUERIES)
    assert len(QUERIES) >= 37
    for name, fn in QUERIES.items():
        assert callable(fn), name


def test_tpch_analogs_broadcast_dims(spark):
    """Q2/Q7/Q10/Q18 analogs: every dimension join must broadcast —
    the fact table never shuffles to meet a dimension."""
    for name, min_bc in [
        ("primary_supplier_per_part", 2),
        ("nation_pair_volume", 4),
        ("returned_item_customers", 2),
        ("large_volume_orders", 1),
    ]:
        p = plan(spark, name)
        assert p.count("BroadcastHashJoin") >= min_bc, f"{name}:\n{p}"
        assert "CartesianProduct" not in p, f"{name}:\n{p}"


def test_argmax_uses_window_group_limit(spark):
    """The per-part argmax must plan WindowGroupLimit (rank-limit
    pushdown: top-1 filtered before AND after the shuffle) — without it
    the window materializes every (part, supplier) row."""
    p = plan(spark, "primary_supplier_per_part")
    assert "WindowGroupLimit" in p, p


def test_large_volume_orders_aggregates_before_join(spark):
    """Q18 shape: the lineitem aggregate (with partial/map-side combine)
    must be planned, and the semi-ish having filter must not force a
    sort-merge join of the full fact table against orders."""
    p = plan(spark, "large_volume_orders")
    assert p.count("HashAggregate") >= 2, p


def test_ivf_probe_broadcasts_codebook(spark):
    """IVF ANN: the k-row codebook and the query set must broadcast —
    the corpus side may never shuffle to meet them; no non-broadcast
    cartesian anywhere."""
    p = plan(spark, "similarity_ivf_probe")
    assert "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" in p, p  # the k-row codebook cross join


def test_tpch2_analogs_broadcast_dims(spark):
    """Q8/Q9/Q12/Q14/Q16/Q19/Q20 analogs: dimension joins broadcast,
    nothing plans a cartesian product."""
    for name, min_bc in [
        ("market_share", 5),
        ("product_type_profit", 3),
        ("late_shipment_priority_counts", 0),
        ("promo_revenue", 1),
        ("part_supplier_counts", 2),
        ("disjunctive_predicate_revenue", 1),
        ("excess_suppliers", 2),
        ("customer_order_distribution", 0),
    ]:
        p = plan(spark, name)
        assert p.count("BroadcastHashJoin") >= min_bc, f"{name}:\n{p}"
        assert "CartesianProduct" not in p, f"{name}:\n{p}"


def test_scalar_aggregate_broadcasts(spark):
    """Q11/Q15/Q22 shapes: the 1-row global aggregate must join back as
    a broadcast (nested-loop on the single row), never by shuffling the
    big per-group side."""
    from confluent_kafka_streams_examples_spark.plans.describe import explain_str
    from confluent_kafka_streams_examples_spark.queries import QUERIES

    for name in ["important_part_value", "top_supplier", "dormant_customer_balance"]:
        p = plan(spark, name)
        assert "CartesianProduct" not in p, f"{name}:\n{p}"
        assert (
            "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
        ), f"{name}: scalar aggregate must broadcast\n{p}"
        assert "SortMergeJoin" not in p, f"{name}:\n{p}"


def test_sole_late_supplier_single_fact_pass(spark):
    """Q21 shape: EXISTS + NOT EXISTS against the same fact table must
    collapse into ONE per-order aggregate — lineitem is scanned exactly
    once (the reference formulation would scan it three times)."""
    from confluent_kafka_streams_examples_spark.plans.describe import explain_str
    from confluent_kafka_streams_examples_spark.queries import QUERIES

    df = QUERIES["sole_late_supplier"](spark, SF_SMOKE)
    simple = explain_str(df, "simple")
    scans = [ln for ln in simple.splitlines() if "Scan parquet" in ln and "lineitem" in ln]
    assert len(scans) == 1, simple


def test_topk_batch_plans_window_group_limit_and_broadcast(spark):
    """The batched top-k must rank-limit before the query_id shuffle
    (WindowGroupLimit) and broadcast the tiny query-vector side — the
    corpus is scanned exactly once for the whole batch."""
    p = plan(spark, "similarity_topk_batch")
    assert "WindowGroupLimit" in p, p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p, p


def test_incremental_dedup_no_cartesian(spark):
    p = plan(spark, "dedup_incremental")
    assert "CartesianProduct" not in p, p


def test_simhash64_no_cartesian_single_scan_family(spark):
    p = plan(spark, "dedup_simhash64")
    assert "CartesianProduct" not in p, p


def test_sample_n_per_group_plans_window_group_limit(spark):
    p = plan(spark, "sample_n_per_group")
    assert "WindowGroupLimit" in p, p


def test_source_overlap_bounded_join(spark):
    """Cross-source overlap: the shingle self-join must be an equi-join
    (never cartesian) and the sizes frames must broadcast."""
    p = plan(spark, "source_overlap_matrix")
    assert "CartesianProduct" not in p, p
    assert p.count("BroadcastHashJoin") >= 2, f"sizes frames must broadcast\n{p}"


def test_duplicate_rate_no_body_shuffle(spark):
    """duplicate_rate_by_source: text bodies reduce to md5 in the scan
    projection — no Exchange may carry the text column."""
    p = plan(spark, "duplicate_rate_by_source")
    exchanges = [ln for ln in p.splitlines() if "Exchange" in ln]
    assert exchanges, p
    assert not any("text#" in ln for ln in exchanges), exchanges


def test_new_ml_queries_plan_discipline(spark):
    """k-means: vectors must never shuffle for a join (assignment is a
    tiny-centroid broadcast) and the argmin is a partial-aggregated
    min_by — no Window, no per-vector Sort (r11: the row_number form
    shuffled k rows per vector and sorted each group; min_by collapses
    to 1 row per vector map-side); ann_recall/top_terms: rank-limits
    plan as WindowGroupLimit; nothing plans a cartesian product."""
    for name in ("top_terms_per_source", "embedding_kmeans_fixed", "ann_recall_eval"):
        p = plan(spark, name)
        assert "CartesianProduct" not in p, f"{name}\n{p}"
    for name in ("top_terms_per_source", "ann_recall_eval"):
        p = plan(spark, name)
        assert "WindowGroupLimit" in p, f"{name}: rank-limit must push partial top-k\n{p}"
    km = plan(spark, "embedding_kmeans_fixed")
    assert "SortMergeJoin" not in km, f"kmeans must broadcast centroids, never shuffle vectors\n{km}"
    assert "min_by" in km, f"kmeans argmin must be the min_by hash aggregate\n{km}"
    # \bWindow\b: match the Window EXEC NODE only — a rank-limit added
    # elsewhere in this plan would legitimately print WindowGroupLimit,
    # which the bare substring check would misflag (ADVICE r11)
    import re

    assert not re.search(r"\bWindow\b", km), (
        f"kmeans must not sort per vector for the argmin\n{km}"
    )


def test_quality_gate_is_shuffle_free(spark):
    """The Gopher-style quality gate must fuse into the scan as a plain
    filter — no Exchange, no explode-aggregate round trip."""
    from confluent_kafka_streams_examples_spark.pipeline import quality_filter
    from confluent_kafka_streams_examples_spark.plans.describe import explain_str
    from confluent_kafka_streams_examples_spark.session import load_table
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, "documents", SF_SMOKE).select("doc_id", "text")
    p = explain_str(quality_filter()(docs))
    assert "Exchange" not in p, f"quality gate must not shuffle\n{p}"


def test_ivf_pruned_scan_carries_partition_filters(spark):
    """The materialized-IVF probe must read the index with a STATIC
    partition filter on list_id — the scan touches nprobe directories,
    not the table (the claim similarity_ivf_pruned's docstring makes).
    Also: fewer list_id dirs must be probed than exist on disk, or the
    pruning would be vacuous."""
    import glob
    import os
    import re

    from confluent_kafka_streams_examples_spark.artifacts import artifact_path

    p = plan(spark, "similarity_ivf_pruned")  # builds the index on miss
    pf = [ln for ln in p.splitlines() if "PartitionFilters" in ln]
    assert any("list_id" in ln and " IN " in ln for ln in pf), p
    probed = set()
    for ln in pf:
        m = re.search(r"list_id#\d+ IN \(([^)]*)\)", ln)
        if m:
            probed |= {int(x) for x in m.group(1).split(",")}
    index_dir = artifact_path(
        os.path.join(SF_SMOKE, "embeddings.parquet"), "ivf_index|6dp"
    )
    on_disk = glob.glob(index_dir + "/list_id=*")
    assert probed and len(probed) < len(on_disk), (probed, on_disk)


def test_ivf_router_collect_is_bounded(spark, tmp_path):
    """The IVF router collect takes at most 2 rows per query vector
    (ids 0..4) plus one, and raises past that: with ids shifted below
    zero the query set ``vec_id < 5`` holds 15 vectors, whose 30
    routing rows an unbounded collect would take without complaint."""
    import os

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    emb = pq.read_table(os.path.join(SF_SMOKE, "embeddings.parquet"))
    emb = emb.set_column(0, "vec_id", pc.subtract(emb["vec_id"], 10))
    pq.write_table(emb, str(tmp_path / "embeddings.parquet"))
    with pytest.raises(ValueError, match="more than 10 rows"):
        QUERIES["similarity_ivf_pruned"](spark, str(tmp_path))


def test_ivf_dynamic_scan_prunes_via_dpp(spark):
    """similarity_ivf_dynamic: the index scan must carry a DYNAMIC
    partition-pruning filter on list_id (the router join's broadcast is
    reused as the pruning subquery) — no driver collect anywhere in the
    query, yet the scan still touches only probed list directories."""
    p = plan(spark, "similarity_ivf_dynamic")  # also (re)writes the index
    pf = [ln for ln in p.splitlines() if "PartitionFilters" in ln]
    assert any(
        "list_id" in ln and "dynamicpruning" in ln for ln in pf
    ), f"index scan must be DPP-pruned on list_id\n{p}"
    assert "CartesianProduct" not in p, p


def test_bucketed_query_join_is_exchange_free(spark):
    """bucketed_revenue_by_priority: the fact-fact sort-merge join must
    consume the bucketed layout directly — the plan's only Exchange is
    the final priority rollup, never the join inputs."""
    p = plan(spark, "bucketed_revenue_by_priority")  # also writes the tables
    assert "SortMergeJoin" in p, p
    n_exchange = sum(
        1
        for ln in p.splitlines()
        if ln.strip().startswith("(") and "Exchange" in ln and "AQEShuffleRead" not in ln
    )
    assert n_exchange == 1, p


def test_no_rdd_and_bounded_driver_collect_in_engine():
    """Source hygiene, greppable guarantees: no `.rdd` anywhere in the
    engine package (it forces a full physical-planning pass of the
    subtree), and driver-side `.collect(` only at the three documented
    spots — Stream.peek (debug tap, reference parity), the IVF router
    (Q x nprobe scalars by design), and the semdedup centroid matrix
    (k rows, capped by the same ~2e5 bound as the broadcast it
    feeds)."""
    import pathlib

    pkg = pathlib.Path(__file__).parent.parent / "confluent_kafka_streams_examples_spark"
    allowed_collect = {
        "operators/stream.py",
        "queries_extra.py",
        "operators/similarity.py",
    }
    for py in sorted(pkg.rglob("*.py")):
        rel = str(py.relative_to(pkg))
        code_lines = [
            ln
            for ln in py.read_text().splitlines()
            if ".rdd" in ln or ".collect(" in ln
        ]
        for ln in code_lines:
            stripped = ln.strip()
            if stripped.startswith("#") or "``" in ln:
                continue  # docstring/comment mention, not a call
            if ".rdd" in ln:
                raise AssertionError(f"{rel}: .rdd in engine code: {ln!r}")
            assert rel in allowed_collect, f"{rel}: undocumented collect: {ln!r}"


def test_containment_is_a_projection_union_over_the_pair_table(spark):
    """dedup_containment: the direction pass reads the materialized
    (pair, shared, sizes) artifact in both union branches — a re-scan
    of a small stored table, no cache — and adds no join above the two
    artifact scans; nothing plans a cartesian product."""
    p = explain_str(QUERIES["dedup_containment"](spark, SF_SMOKE), "simple")
    assert "CartesianProduct" not in p, p
    assert "InMemoryTableScan" not in p, p
    scans = [ln for ln in p.splitlines() if "Scan parquet" in ln]
    assert len(scans) == 2 and all("ckse_art_" in ln for ln in scans), p
    assert "Join" not in p, (
        f"direction pass must be a projection union, not a second join\n{p}"
    )


@pytest.mark.parametrize(
    "name, node",
    [
        # the corpus is read and tokenized once
        ("lm_unigram_score", "FileScan parquet"),
        # the Python centroid assignment runs once
        ("semdedup_prune", "MapInPandas"),
    ],
)
def test_shared_subtree_reads_one_exchange(spark, name, node):
    """lm_unigram_score's token counts and semdedup_prune's cluster
    assignment each feed more than one consumer without a cache: the
    executed plan reads the shared subtree again through a
    ReusedExchange, so its expensive node runs once.  The source is
    scanned only where a consumer needs columns the shared subtree
    drops: semdedup_prune reads embeddings for the assignment and for
    the vectors its pair search rejoins, and its per-cluster summary
    reads the assignment alone."""
    max_scans = {"lm_unigram_score": 1, "semdedup_prune": 2}[name]
    df = QUERIES[name](spark, SF_SMOKE)
    df.collect()
    final = explain_str(df, "simple").split("== Initial Plan ==")[0]
    assert "isFinalPlan=true" in final, final
    assert "ReusedExchange" in final, final
    assert "InMemoryTableScan" not in final, final
    assert sum(node in ln for ln in final.splitlines()) == 1, final
    scans = [ln for ln in final.splitlines() if "FileScan parquet" in ln]
    assert len(scans) <= max_scans, final


def test_concurrent_degree_is_single_equi_join(spark):
    """events_concurrent_degree: the keyless ±1s band join must plan as
    ONE equi-join on the time cell (never a cartesian / nested-loop
    range join), with the 3x cell replication as a single Generate on
    the probe side only."""
    df = QUERIES["events_concurrent_degree"](spark, SF_SMOKE)
    p = explain_str(df, "simple")
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    n_joins = sum(
        p.count(j) for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    )
    assert n_joins == 1, f"expected exactly one equi-join\n{p}"
    assert p.count("Generate") == 1, (
        f"cell replication must be one explode on the probe side\n{p}"
    )


def test_cluster_representatives_plan_discipline(spark):
    """dedup_cluster_representatives: the per-cluster argmax must plan
    WindowGroupLimit (top-1 pre-filtered on both sides of the
    cluster_id shuffle), document text must never reach an Exchange
    (only (id, cluster, count) triples shuffle), and nothing plans a
    cartesian product."""
    p = plan(spark, "dedup_cluster_representatives")
    assert "WindowGroupLimit" in p, p
    assert "CartesianProduct" not in p, p
    exchanges = [ln for ln in p.splitlines() if "Exchange" in ln]
    assert not any("text#" in ln for ln in exchanges), exchanges


def test_lm_unigram_score_partial_aggregation(spark):
    """lm_unigram_score: both count shuffles must plan map-side partial
    aggregation (shuffle volume tracks vocabulary, not corpus length)
    and the corpus-total 1-rower must broadcast, never shuffle the
    vocab side to meet it."""
    p = plan(spark, "lm_unigram_score")
    assert p.count("HashAggregate") >= 4, p
    assert "BroadcastNestedLoopJoin" in p, p
    assert "CartesianProduct" not in p, p


def test_bpe_and_winnowing_plan_discipline(spark):
    """bpe_pair_counts: partial-agg pair counts + TakeOrdered top-k
    (never a global sort).  doc_winnow_fingerprints: one window
    exchange on the doc plus the distinct pair — no more; no cartesian
    anywhere."""
    p = plan(spark, "bpe_pair_counts")
    assert "TakeOrderedAndProject" in p, p
    assert p.count("HashAggregate") >= 2, p

    pw = plan(spark, "doc_winnow_fingerprints")
    assert "CartesianProduct" not in pw, pw
    n_exchange = sum(
        1
        for ln in pw.splitlines()
        if ln.strip().startswith("(") and "Exchange" in ln and "AQEShuffleRead" not in ln
    )
    assert n_exchange <= 2, pw


def test_chunking_is_map_only(spark):
    """corpus_chunk_documents: model-window chunking must be pure
    map-side — split, slice, explode inside the scan stage; NO Exchange
    anywhere in the plan."""
    p = plan(spark, "corpus_chunk_documents")
    assert "Exchange" not in p, f"chunking must not shuffle\n{p}"
    assert "Generate" in p, p


def test_incremental_persisted_never_rereads_corpus(spark):
    """dedup_incremental_persisted: the daily-batch plan must read the
    STORED signature parquet for the corpus side — exactly one
    documents scan exists (the new batch being shingled) and one
    signature-table scan; the corpus text is never re-shingled."""
    p = plan(spark, "dedup_incremental_persisted")  # also writes the sig table
    doc_scans = [ln for ln in p.splitlines() if "documents.parquet" in ln]
    sig_scans = [ln for ln in p.splitlines() if "ckse_corpus_sig" in ln]
    assert len(doc_scans) == 1, f"corpus must not be re-shingled\n{p}"
    assert len(sig_scans) == 1, f"corpus side must read the stored signatures\n{p}"
    assert "CartesianProduct" not in p, p


def test_cdc_chunking_is_map_side(spark):
    """dedup_cdc_chunks: the chunking itself must be a map-side array
    fold — no Window operator anywhere; the only shuffles are the
    final chunk_hash aggregation pair for the distinct-count plus
    (locally) the conditional _spread round-robin that parallelizes
    the fold on a single-file scan (a no-op at corpus scale)."""
    p = plan(spark, "dedup_cdc_chunks")
    assert "Window" not in p, p
    n_exchange = sum(
        1
        for ln in p.splitlines()
        if ln.strip().startswith("(") and "Exchange" in ln and "AQEShuffleRead" not in ln
    )
    assert n_exchange <= 3, p


def test_query_index_is_fresh():
    """QUERIES.md is generated from the registry; a stale index (query
    added without regenerating) fails here rather than rotting."""
    import pathlib
    import subprocess
    import sys

    root = pathlib.Path(__file__).parent.parent
    current = (root / "QUERIES.md").read_text()
    regenerated = subprocess.run(
        [sys.executable, str(root / "scripts" / "gen_query_index.py")],
        capture_output=True,
        text=True,
        cwd=root,
        check=True,
    ).stdout
    assert current == regenerated, (
        "QUERIES.md is stale: run `python scripts/gen_query_index.py > QUERIES.md`"
    )


def test_pq_adc_plan_discipline(spark):
    """PQ/ADC: every corpus-side join must broadcast (the 16-row
    codebook and the Q-row LUT — never a shuffle join of the corpus
    against either), and the final top-k must plan WindowGroupLimit so
    the per-query rank-limit is applied before the exchange."""
    p = plan(spark, "similarity_pq_adc")
    assert "SortMergeJoin" not in p, f"codebook/LUT must broadcast\n{p}"
    assert "WindowGroupLimit" in p, p


def test_duplicate_spans_no_text_in_hash_exchanges(spark):
    """Span detection: every hash exchange carries (id, pos, gram-hash)
    rows, never the document text.  (The conditional _spread repartition
    is RoundRobin and local-scan-only, so it is excluded: at cluster
    scale the input splits make it a no-op.)"""
    p = plan(spark, "dedup_duplicate_spans")
    exchanges = [
        ln
        for ln in p.splitlines()
        if "Exchange" in ln and "RoundRobinPartitioning" not in ln
    ]
    assert exchanges, p
    assert not any("text#" in ln for ln in exchanges), exchanges


def test_training_export_no_text_in_any_exchange(spark):
    """The five-stage training-export capstone: NO exchange anywhere in
    the composed plan may carry the document text column — the quality
    gate reduces text to token stats in the scan, dedup stages ship
    hashes, the span stage ships (id, pos, gram-hash), and packing ships
    (id, token-count).  Text crossing an exchange anywhere would be a
    100 TB shuffle of the raw corpus."""
    p = plan(spark, "pipeline_training_export")
    exchanges = [ln for ln in p.splitlines() if "Exchange" in ln]
    assert exchanges, p
    assert not any("text#" in ln for ln in exchanges), [
        ln for ln in exchanges if "text#" in ln
    ]


def test_overlap_family_reads_shared_counts_artifact(spark):
    """dedup_ngram_jaccard, dedup_containment, dedup_overlap_scores,
    and the truth side of dedup_lsh_recall_eval must all score off the
    SAME materialized shared-count artifact: one shingle shuffle serves
    the whole overlap family, and every scorer plans ZERO documents
    scans (the recall eval's candidate side reads the signature store
    instead of re-shingling, so it too never touches text)."""
    import os

    from confluent_kafka_streams_examples_spark.queries_llm import (
        _overlap_counts_path,
    )

    expected = _overlap_counts_path(SF_SMOKE, 3, 100)
    marker = os.path.basename(expected)
    for name in (
        "dedup_ngram_jaccard",
        "dedup_containment",
        "dedup_overlap_scores",
        "dedup_lsh_recall_eval",
    ):
        p = plan(spark, name)
        assert marker in p, f"{name} must read the shared-count artifact\n{p}"
        docs = [ln for ln in p.splitlines() if "documents.parquet" in ln]
        assert not docs, f"{name}: no documents scan expected\n{p}"
    assert os.path.exists(os.path.join(expected, "_SUCCESS"))


def test_kept_shingle_lists_build_plan_shape(spark):
    """The overlap-artifact BUILD (posting lists + pair expansion) must
    keep its shuffle ledger: the hot-shingle cap applies as an
    anti-join with NO forced broadcast (the hot set is linear in the
    corpus, so strategy choice belongs to AQE — it broadcasts the
    runtime-small set, and degrades to a shuffle of 8-byte keys on a
    corpus where a broadcast would OOM, which the 100x probe hit),
    pair generation is a map-side array expansion (a Generate over the
    lists, not a second join of the index with itself), and the only
    joins anywhere are the two size-enrichment joins on the pair
    table."""
    from confluent_kafka_streams_examples_spark.operators import dedup
    from confluent_kafka_streams_examples_spark.session import load_table

    docs = load_table(spark, "documents", SF_SMOKE).select("doc_id", "text")
    lists = dedup.kept_shingle_lists(docs, "doc_id", "text", 3, 100)
    counts = dedup.shared_shingle_counts(lists, "doc_id")
    p = explain_str(counts)
    lists.unpersist()
    assert "LeftAnti" in p, f"hot cap must be an anti-join\n{p}"
    assert "CartesianProduct" not in p, p
    # pair expansion: a Generate (explode of the i<j struct array)
    assert "Generate" in p, p
    # the index itself is never self-joined: at most the two size
    # joins plus the broadcast anti-join appear (count unique node ids
    # — the cached lists subtree is PRINTED once per reference, so raw
    # string counts overstate the shared anti-join node)
    import re

    join_ids = set(
        re.findall(r"(\w*Join)\s[^\n]*\((\d+)\)", p)
    )
    assert len(join_ids) <= 3, f"unexpected extra join\n{sorted(join_ids)}\n{p}"
    # at THIS scale the runtime hot set is tiny, so AQE must still
    # pick a broadcast for the anti-join (the un-hinted plan loses
    # nothing locally — it only gains the shuffle fallback at scale).
    # collect() drives THIS DataFrame's own QueryExecution so the
    # inspected adaptive plan is the FINAL one (a separate noop write
    # would leave it unexecuted, isFinalPlan=false)
    assert len(counts.collect()) > 0
    executed = counts._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in executed, executed
    assert "BroadcastHashJoin" in executed and "LeftAnti" in executed, executed
    # ... while the two size-enrichment joins stay pinned shuffle-hash
    # (the size table is corpus-linear; its broadcast build is what
    # OOM'd the 100x artifact build)
    assert "ShuffledHashJoin" in executed, executed


def test_no_unbounded_bigint_multiply_over_corpus_aggregates(spark):
    """Overflow-class pin (the corpus_mixture_sample lesson, r6): a
    BIGINT multiply sitting above corpus-table aggregates overflows at
    some corpus size unless its operands are bounded by construction —
    sf0.1 passes, the x100 probe throws ARITHMETIC_OVERFLOW.  Guarded
    arithmetic must go through DECIMAL(38,0) (exact through ~1e38, the
    HUGEINT analog DuckDB's sum() promotion gives the oracle for free).

    This test walks the OPTIMIZED logical plan of every corpus-table
    query containing an aggregate and fails on any LongType Multiply
    unless the query is in the audited allowlist below, where each
    entry records why its product cannot reach 2^63 at ANY corpus
    size.  A DECIMAL-guarded query passes structurally (its multiplies
    are DecimalType) — reverting corpus_mixture_sample's guard puts a
    bigint Multiply back above sum()s and this test catches it."""
    # query -> why the bigint product is bounded by CONSTRUCTION
    # (bounds independent of corpus size, so 100 TB changes nothing)
    audited = {
        # Carter-Wegman h1 + j*h2: h2 < 2^48 (12 hex chars), j <= 15,
        # so |j*h2| < 2^52 and the sum < 2^53 — dedup.py hash_pair
        "dedup_incremental": "minhash permutation: 48-bit half x j<=15",
        # the same hash_pair permutations, computed under a persisted
        # signature table (the walk below descends into cached plans)
        "dedup_incremental_persisted": "minhash permutation: 48-bit half x j<=15",
        "neardup_verify_levenshtein": "minhash permutation: 48-bit half x j<=15",
        # c is a per-(doc, token) count bounded by DOCUMENT length;
        # |lp_micro| = |ln p|*1e6 <= ~75e6 even at p = 1e-33, so the
        # product stays < 1e17 for documents up to 1e9 tokens
        "lm_unigram_score": "per-doc term count x log-prob micros",
        # n_kept * 5 vs n_total: both row counts, so the product
        # overflows only past 1.8e18 documents (2^63/5) — 6 orders of
        # magnitude beyond a 100 TB corpus
        "quality_histogram_threshold": "rowcount x 5 < 2^63 to 1.8e18 docs",
        # n * 1e6 (the positive-numerator mean offset) overflows past
        # 9.2e12 values per dimension — ~9x the 1e12-row design point,
        # documented in the query docstring; qval*qval <= (1.1e6)^2 ~
        # 1.2e12 per ELEMENT (|x| <= 1 embeddings x 1e-6 quantization),
        # and the sum of squares goes through DECIMAL(38,0)
        "embedding_dim_stats": "n x 1e6 bounded to 9.2e12 rows/dim; qval^2 per-element",
        # simhash bit folds: (bit & 1) * small power of two per
        # component, summed over 16/64 components — bounded by the
        # signature width, independent of corpus size
        "dedup_simhash": "bit x 2^i folds, signature-width bounded",
        # simhash64's per-shingle vote 2 * bit - 1 (under its persisted
        # fingerprint table): the product is at most 2, and the votes
        # are summed, never multiplied
        "dedup_simhash64": "2 x one bit per shingle vote",
        # quantile histogram (profile.py kind=-2): sign(+-1) x bucket
        # where bucket <= 64*16+15 = 1039 by construction; and the
        # quantile targets n_num * {50,95,99} — n_num is a row count,
        # so the product overflows only past 9.3e16 rows of ONE
        # column's values (~4 orders beyond the 1e12-row design point)
        "events_profile_extended": "sign x bucket<=1039; rowcount x 99 to 9.3e16 rows",
    }
    # plan text carries COLUMN refs (doc_id#12L), never table names —
    # a table-name gate matches nothing and the walk below never runs
    # (r8 review finding: the test was vacuous as first committed)
    corpus_markers = ("doc_id", "vec_id", "event_id", "user_id")

    def jseq(seq):
        return [seq.apply(i) for i in range(seq.size())]

    def walk_exprs(e):
        yield e
        for c in jseq(e.children()):
            yield from walk_exprs(c)

    def walk_plan(p):
        yield p
        # a persisted subtree is a leaf of the logical plan: its
        # multiplies live in the cached physical plan, which adaptive
        # execution wraps around the plan it starts from
        kind = p.getClass().getSimpleName()
        if kind == "InMemoryRelation":
            yield from walk_plan(p.cachedPlan())
        elif kind == "AdaptiveSparkPlanExec":
            yield from walk_plan(p.inputPlan())
        for c in jseq(p.children()):
            yield from walk_plan(c)

    offenders = {}
    for name in QUERIES:
        df = QUERIES[name](spark, SF_SMOKE)
        opt = df._jdf.queryExecution().optimizedPlan()
        txt = opt.toString()
        if not any(t in txt for t in corpus_markers):
            continue
        nodes = list(walk_plan(opt))
        if not any(
            n.getClass().getSimpleName() == "Aggregate" for n in nodes
        ):
            continue
        hits = []
        for node in nodes:
            for root in jseq(node.expressions()):
                for e in walk_exprs(root):
                    if (
                        e.getClass().getSimpleName() == "Multiply"
                        and e.dataType().simpleString() == "bigint"
                    ):
                        hits.append(e.sql())
        if hits and name not in audited:
            offenders[name] = sorted(set(hits))[:4]
    assert not offenders, (
        "unaudited BIGINT multiply above corpus aggregates (overflow "
        f"hazard at scale — guard with DECIMAL(38,0) or audit): {offenders}"
    )


def test_ivf_append_scan_prunes_and_serves_new_vectors(spark):
    """The incrementally-appended IVF index (VERDICT r9 #4): the
    appended index scan must STILL carry a dynamic partition-pruning
    filter on list_id (the append lands inside existing list_id=
    directories, so pruning survives), the day batch's files must be
    physically present in the artifact, and the probe must be able to
    SERVE appended vectors — the whole point of absorbing a batch
    without a rebuild."""
    import glob
    import os

    from confluent_kafka_streams_examples_spark.artifacts import artifact_path
    from confluent_kafka_streams_examples_spark.queries import QUERIES

    p = plan(spark, "similarity_ivf_append")  # builds + appends on miss
    pf = [ln for ln in p.splitlines() if "PartitionFilters" in ln]
    assert any(
        "list_id" in ln and "dynamicpruning" in ln for ln in pf
    ), f"appended index scan must be DPP-pruned on list_id\n{p}"
    assert "CartesianProduct" not in p, p

    index_dir = artifact_path(
        os.path.join(SF_SMOKE, "embeddings.parquet"), "ivf_index|6dp|corpus90"
    )
    assert os.path.exists(os.path.join(index_dir, "_CKSE_APPENDED_batch1"))
    # appended vectors live in the partitioned layout...
    idx = spark.read.parquet(index_dir)
    n_new_in_index = idx.filter("vec_id % 10 = 0").count()
    assert n_new_in_index > 0
    # ...and are genuinely served: with ~10% of the corpus appended and
    # 5 queries x top-3, at least one result row is an appended vector
    # (deterministic data, checked to hold at sf0.001 and sf0.01)
    rows = QUERIES["similarity_ivf_append"](spark, SF_SMOKE).collect()
    assert any(r["vec_id"] % 10 == 0 for r in rows), rows


def test_ivf_append_probe_plans_construct(spark):
    """Bitrot guard for scripts/ivf_append_probe.py, which no other
    test runs: load the script and build the plans it times — the
    similarity_ivf_append probe, its day batch and ``probe_over`` on
    the stored corpus index — without running the timing loop.  Both
    probes must still prune the index scan to the probed lists."""
    import importlib.util
    import os

    from confluent_kafka_streams_examples_spark.artifacts import artifact_path

    spec = importlib.util.spec_from_file_location(
        "ivf_append_probe",
        os.path.join(os.path.dirname(__file__), "..", "scripts", "ivf_append_probe.py"),
    )
    ap = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(ap)
    assert ap.dpp_pruned(ap.qx.similarity_ivf_append(spark, SF_SMOKE))
    explain_str(ap.qx._ivf_day_batch(spark, SF_SMOKE), "formatted")
    index_dir = artifact_path(
        os.path.join(SF_SMOKE, "embeddings.parquet"), ap.qx._ivf_tag("index", True)
    )
    assert ap.dpp_pruned(ap.probe_over(spark, SF_SMOKE, index_dir))
