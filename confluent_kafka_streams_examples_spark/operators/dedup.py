"""Deduplication operators for large-scale training-data pipelines.

Four families, all collect-free and shuffle-minimal:

- exact:    hash-groupBy on the raw text (one shuffle).
- n-gram Jaccard: inverted-index self-join on word shingles — exact
  pairwise similarity without an all-pairs cross join.
- MinHash + LSH: shingle -> K minhashes -> band buckets -> bucket join.
  The 100 TB path: candidate generation touches only docs sharing a
  band signature; cost scales with bucket sizes, not n^2.
- SimHash: frequency-weighted 16-bit fingerprint; near-dups collide.

Portability contract with the DuckDB oracle: every hash is ``md5`` hex
(identical in Spark and DuckDB); minhash order is *string* order over
hex digests (uniform, engine-independent); hex->int uses ``conv`` on
Spark and strpos-arithmetic in SQL — same integers.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from confluent_kafka_streams_examples_spark.functions.scalar import round_det


def _spread(df: DataFrame) -> DataFrame:
    """Repartition to full core parallelism before compute-heavy explode/
    hash work — but ONLY when the input is under-partitioned.  A small
    parquet scan often yields 1 partition, which would single-thread
    everything downstream until the first shuffle; a well-partitioned
    cluster-scale input must NOT pay an extra full shuffle of raw
    document bodies here, so the repartition is conditional.

    Skipped outright for streaming inputs (a repartition there re-runs
    as a per-microbatch shuffle — the streaming paths own their
    partitioning) and when the input's OWN partitioning already comes
    from a shuffle: the analyzed logical plan's root is walked through
    partitioning-preserving nodes (Project/Filter/SubqueryAlias) and
    the spread is skipped iff the first real node is itself
    shuffle-producing: Aggregate / Deduplicate (each hash-partitions
    its output over shuffle.partitions), or a RepartitionByExpression
    whose partition count is the default or >= target — an explicit
    ``repartition(2, key)`` is exactly the under-parallel shape the
    spread exists to fix, so a small explicit count does NOT skip.
    The check must be the ROOT's provenance, not
    a containment scan of the tree: a broadcast join with an aggregate
    on its BUILD side contains an Aggregate yet leaves the probe side
    on the scan's partitioning (exactly the clean-corpus pipeline's
    shape — a tree-wide substring check regressed its shingle stage
    2.2x by skipping the spread there).  Join is NOT evidence for the
    same reason; a bare ``Repartition`` node is NOT evidence because
    ``coalesce(1)`` analyzes to the same node name, and a
    count-shrinking coalesce is exactly the shape that needs the
    spread.  The walk uses the already-built analyzed plan — no extra
    planning pass.

    Under-partitioning is otherwise detected from the leaf scan's file
    count (``inputFiles()`` — a driver-side plan walk), NOT from
    ``df.rdd.getNumPartitions()``: the RDD probe forces a full physical
    planning pass of the subtree at construction time, double-planning
    every dedup query.  A file-backed input with >= defaultParallelism
    files is already parallel enough: Spark's scan bin-packing charges
    every file at least ``openCostInBytes`` (4 MB default), so N >=
    defaultParallelism files pack into ~defaultParallelism scan
    partitions even when the files are tiny — the many-tiny-files
    single-partition scan only exists where openCostInBytes has been
    tuned toward 0, in which case restore the default before blaming
    this heuristic.  Non-file inputs (createDataFrame fixtures, memory
    sources) report zero files and get the spread — the safe default
    for the small frames those are in practice.  The one mis-judged
    shape — a single multi-GB file that maxPartitionBytes would split
    many ways — pays a redundant (correct, cheap relative to the
    downstream explode) repartition."""
    if df.isStreaming:
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        if len(df.inputFiles()) >= target:
            return df
    except Exception:
        pass  # plans without file sources: fall through to the checks below
    try:
        node = df._jdf.queryExecution().analyzed()
        while node.getClass().getSimpleName() in (
            "Project",
            "Filter",
            "SubqueryAlias",
        ):
            node = node.children().apply(0)
        name = node.getClass().getSimpleName()
        if name in ("Aggregate", "Deduplicate"):
            return df
        if name == "RepartitionByExpression":
            # only evidence of parallelism when the partition count is
            # the default (shuffle.partitions) or an explicit count
            # >= target — repartition(2, key) is exactly the
            # under-parallel shape the spread exists to fix
            opt = node.optNumPartitions()
            if (not opt.isDefined()) or opt.get() >= target:
                return df
    except Exception:
        pass  # non-JVM-backed frames: safe default is the spread
    return df.repartition(target)


def tokens(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, token) — one row per token occurrence (frequency preserved)."""
    return _spread(df).select(
        id_col, F.explode(F.split(F.col(text_col), " ")).alias("token")
    )


def _ngram_windows(tk: Column, n: int) -> Column:
    """array<string> of the word ``n``-grams over the token-array column
    ``tk``, in position order; empty for fewer than ``n`` tokens (or a
    NULL array).

    ``tk`` must be a STAGED column (a projected ``split(text, ' ')``),
    never the ``split`` expression itself (r12): ``element_at(tk, ...)``
    inside the lambda otherwise re-evaluates the whole split per
    element — n splits per position, O(tokens^2 x n) per document
    (measured 3x on with_minhash_signatures and 6x on the duplicate-spans
    gram stage at x20; CollapseProject keeps the staging projection
    because the array is referenced many times)."""
    # sequence(0, size-n) is inclusive => size-n+1 windows; guard size < n
    # (sequence(0,-1) would generate a DESCENDING range, not empty!)
    return F.when(
        F.size(tk) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(tk) - n),
            lambda i: F.concat_ws(" ", *[F.element_at(tk, i + j + 1) for j in range(n)]),
        ),
    ).otherwise(F.array().cast("array<string>"))


def shingles(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, distinct: bool = True
) -> DataFrame:
    """(id, shingle) — word n-grams per document, DISTINCT by default.

    Built with array higher-order functions (JVM-side): split (staged,
    see _ngram_windows) -> sliding windows -> explode -> distinct.
    Documents with < n tokens produce no shingles.

    ``distinct=False`` skips the dedup SHUFFLE — correct whenever the
    consumer is duplicate-insensitive (a min()-aggregate like MinHash,
    or a semi-join probe): the distinct here shuffles (id, n-gram
    STRING) rows, the single most expensive exchange in the whole LSH
    family at corpus scale.
    """
    staged = _spread(df).select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("_tk")
    )
    windows = _ngram_windows(F.col("_tk"), n)
    out = staged.select(F.col(id_col), F.explode(windows).alias("shingle"))
    return out.distinct() if distinct else out


def shingle_hashes(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """(id, shingle: BIGINT) — DISTINCT xxhash64'd word n-grams.

    Hash-BEFORE-distinct: the dedup exchange then carries 8-byte longs
    instead of n-gram text (~3 words each) — same result set as
    distinct-then-hash up to 2^-64 collisions, at a fraction of the
    shuffle bytes.  The consumer set (Jaccard counting, overlap
    matrices) only ever compares shingles for equality, never reads
    them back."""
    return (
        shingles(df, id_col, text_col, n, distinct=False)
        .select(id_col, F.xxhash64("shingle").alias("shingle"))
        .distinct()
    )


def cdc_chunk_hashes(
    df: DataFrame, id_col: str, text_col: str, gear_mod: int = 8
) -> DataFrame:
    """(id, chunk_hash) — content-defined chunking (Rabin/LBFS-style,
    md5 token gear): a token starts a new chunk when
    ``md5(token) % gear_mod == 0``, so boundaries are a function of the
    CONTENT, not the offset.  Inserting one sentence invalidates only
    the chunk(s) it touches; every other chunk hash is unchanged
    (asserted in tests/test_corpus.py) — the property a fixed grid
    cannot have, and the whole reason rsync/LBFS chunk this way.

    A single map-side array fold (F.aggregate over split(text)): no
    window, no per-token shuffle; one row per chunk with its md5.  The
    conditional ``_spread`` parallelizes the fold on a single-file
    local scan and is a no-op on well-split inputs."""

    def is_b(t):
        return (
            F.conv(F.substring(F.md5(t), 1, 4), 16, 10).cast("long")
            % F.lit(gear_mod)
        ) == 0

    empty = F.array().cast("array<string>")
    merged = F.aggregate(
        F.split(F.col(text_col), " "),
        F.struct(empty.alias("done"), empty.alias("cur")),
        lambda acc, t: F.struct(
            F.when(
                is_b(t) & (F.size(acc["cur"]) > 0),
                F.array_append(acc["done"], F.concat_ws(" ", acc["cur"])),
            )
            .otherwise(acc["done"])
            .alias("done"),
            F.when(is_b(t), F.array(t))
            .otherwise(F.array_append(acc["cur"], t))
            .alias("cur"),
        ),
        lambda acc: F.when(
            F.size(acc["cur"]) > 0,
            F.array_append(acc["done"], F.concat_ws(" ", acc["cur"])),
        ).otherwise(acc["done"]),
    )
    return (
        _spread(df)
        .select(F.col(id_col), F.explode(merged).alias("chunk"))
        .select(F.col(id_col), F.md5("chunk").alias("chunk_hash"))
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    window: int = 4,
) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken,
    SIGMOD 2003): hash every word ``n``-gram, slide a ``window``-wide
    frame over the hash sequence, keep each frame's MINIMUM — the
    selected set is guaranteed to share a fingerprint with any copy of
    a passage at least ``window + n - 1`` tokens long, while storing
    ~2/(window+1) of the shingle hashes.  The sampling step between a
    full shingle inverted index (exact, big) and a single whole-doc
    hash (tiny, brittle): fingerprint tables support plagiarism-style
    substring matching at a fraction of the index size.

    Returns DISTINCT (id, fp).  One shuffle (the per-document window);
    the hash is md5-derived (48-bit prefix as integer) so the DuckDB
    oracle computes identical values — xxhash64 does not exist there.

    Scale shape: the window runs inside one hash-partition of
    (id, pos, hash) triples (per-partition sort, no global sort); the
    DISTINCT collapses map-side first.  Fingerprint tables then join
    like any inverted index — with the same ``max_df`` hot-key
    discipline as the full-shingle path when self-joined.  The token
    array is staged before the gram transform (see _ngram_windows)."""
    staged = _spread(df).select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("_tk")
    )
    grams = _ngram_windows(F.col("_tk"), n)
    pos = staged.select(
        F.col(id_col), F.posexplode(grams).alias("pos", "gram")
    )
    h = F.conv(F.substring(F.md5(F.col("gram")), 1, 12), 16, 10).cast("long")
    from pyspark.sql import Window as W

    frame = (
        W.partitionBy(id_col).orderBy("pos").rowsBetween(0, window - 1)
    )
    return (
        pos.withColumn("h", h)
        .select(F.col(id_col), F.min("h").over(frame).alias("fp"))
        .distinct()
    )


def duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """Maximal cross-document duplicated token spans — substring-level
    exact dedup (Lee et al., "Deduplicating Training Data Makes
    Language Models Better", ACL 2022: their suffix-array ExactSubstr
    pass, re-expressed as a shuffle-bounded n-gram pipeline).  Doc-level
    dedup (exact/MinHash/containment above) misses the boilerplate
    paragraph pasted into thousands of otherwise-unique pages; this
    finds it and reports WHERE it is, so a cleaning pass can cut the
    span instead of dropping the document.

    Algorithm: positional word ``n``-grams -> an n-gram is *duplicated*
    when it occurs in >= ``min_docs`` DISTINCT documents -> per
    document, merge duplicated positions into maximal spans
    (gaps-and-islands: a new island starts when the next duplicated
    position is > ``n`` past the previous one, i.e. the grams no longer
    overlap or touch).  Output one row per span:
    (id, span_start, span_end, span_tokens), token positions 1-based.
    Every span is >= ``n`` tokens by construction.

    Scale shape, two keyed exchanges, no quadratic stage: for the
    default ``min_docs=2`` the duplicate test is ``min(id) != max(id)``
    over a gram-hash window — ONE exchange on the 8-byte hash and ONE
    pass over the corpus (measured 2.9x faster than the
    aggregate-then-semi-join form, which scans, shingles and shuffles
    the gram stream twice; min/max are streaming window aggregates, so
    a hot boilerplate gram spills, never OOMs).  ``min_docs > 2``
    falls back to a count-distinct partial-agg + same-key semi-join
    (two gram passes).  The second exchange is the per-document island
    merge and carries ONLY duplicated positions — volume tracks the
    duplication actually present, not corpus size.  The gram hash is
    xxhash64 (8 bytes; collisions 2^-64 — the hash never reaches the
    output).  At 100 TB the dominant cost is the gram exchange at one
    row per token occurrence; to sample it down, winnow_fingerprints
    is the index-size lever, at the cost of span-boundary resolution.

    The input always takes the conditional ``_spread``: skipping it was
    measured SLOWER on the clean-corpus composition (4.4s vs 3.7s at
    sf0.1), because AQE had coalesced the upstream join's output to a
    handful of partitions, single-threading the gram explode.  The
    token array is staged before the gram transform (5.43s -> 0.94s
    for the pos stage at x20; see _ngram_windows)."""
    staged = _spread(df).select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("_tk")
    )
    grams = _ngram_windows(F.col("_tk"), n)
    pos = (
        staged
        .select(F.col(id_col), F.posexplode(grams).alias("pos0", "gram"))
        .select(
            F.col(id_col),
            (F.col("pos0") + 1).alias("pos"),
            F.xxhash64("gram").alias("h"),
        )
    )
    from pyspark.sql import Window as W

    if min_docs == 2:
        w_h = W.partitionBy("h")
        hits = (
            pos.withColumn("mn", F.min(id_col).over(w_h))
            .withColumn("mx", F.max(id_col).over(w_h))
            .filter(F.col("mn") != F.col("mx"))
            .select(id_col, "pos")
        )
    else:
        dup = (
            pos.groupBy("h")
            .agg(F.count_distinct(F.col(id_col)).alias("nd"))
            .filter(F.col("nd") >= min_docs)
            .select("h")
        )
        hits = pos.join(dup, "h", "left_semi").select(id_col, "pos")

    w = W.partitionBy(id_col).orderBy("pos")
    brk = F.when(
        F.col("pos") - F.lag("pos").over(w) <= n, F.lit(0)
    ).otherwise(F.lit(1))
    run = W.partitionBy(id_col).orderBy("pos").rowsBetween(
        W.unboundedPreceding, 0
    )
    return (
        hits.withColumn("brk", brk)
        .withColumn("isle", F.sum("brk").over(run))
        .groupBy(id_col, "isle")
        .agg(
            F.min("pos").cast("bigint").alias("span_start"),
            (F.max("pos") + (n - 1)).cast("bigint").alias("span_end"),
            (F.max("pos") + n - F.min("pos")).cast("bigint").alias("span_tokens"),
        )
        .drop("isle")
    )


def remove_duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """Span-level corpus cleaning: cut every cross-document duplicated
    span (``duplicate_spans`` above) out of every document instead of
    dropping whole documents — the second half of the Lee-et-al.
    ExactSubstr recipe.  Returns one row per input document:
    (id, n_tokens, n_removed, clean_hash) where ``clean_hash`` is the
    md5 of the surviving tokens joined by single spaces (the cleaned
    body itself never needs to leave the executors — downstream
    consumers re-derive it the same way, so the driver-facing contract
    carries 32 bytes per doc).

    Plan shape: the span table groups per document (collect_list of a
    per-doc HANDFUL of (start, end) structs — bounded by text length /
    n, not corpus size), LEFT-joins back to the corpus on the id, and
    the token filter is a map-side array filter with an ``exists``
    probe against the span array.  Documents with no duplicated span
    pay the join probe and nothing else."""
    spans = duplicate_spans(df, id_col, text_col, n=n, min_docs=min_docs)
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_spans")
    )
    # staged evaluation (r12): ``kept`` — the filter-with-exists probe
    # over every token — is referenced twice (count + hash) and would
    # be evaluated twice per row inline; staging it (and the token
    # array) as columns makes each heavy array expression evaluate
    # exactly once per document (see _ngram_windows for the mechanism)
    tok = F.split(F.col(text_col), " ")
    indexed = F.transform(
        F.col("_tk"), lambda t, i: F.struct((i + 1).alias("p"), t.alias("t"))
    )
    kept = F.filter(
        indexed,
        lambda x: ~F.exists(
            F.coalesce(
                F.col("_spans"),
                F.array().cast(
                    "array<struct<span_start:bigint,span_end:bigint>>"
                ),
            ),
            lambda sp: (x["p"] >= sp["span_start"])
            & (x["p"] <= sp["span_end"]),
        ),
    )
    return (
        df.join(per_doc, id_col, "left")
        .select(F.col(id_col), tok.alias("_tk"), F.col("_spans"))
        .select(F.col(id_col), "_tk", kept.alias("_kept"))
        .select(
            F.col(id_col),
            F.size(F.col("_tk")).cast("bigint").alias("n_tokens"),
            (F.size(F.col("_tk")) - F.size(F.col("_kept")))
            .cast("bigint")
            .alias("n_removed"),
            F.md5(
                F.concat_ws(
                    " ", F.transform(F.col("_kept"), lambda x: x["t"])
                )
            ).alias("clean_hash"),
        )
    )


def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup: one row per distinct text with the representative
    (minimum) id and the duplicate count.  Single hash-shuffle on the
    text; at 100 TB pre-hash to a fixed-width key (md5) so the shuffle
    carries 32 bytes, not document bodies."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def kept_shingle_lists(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    max_df: int | None = 1000,
    pin_registry: list | None = None,
) -> DataFrame:
    """(shingle, ids: sorted array<id>) — the hot-capped inverted index
    in POSTING-LIST form, the shared (and persisted) subplan of the
    whole exact-overlap family (Jaccard, containment, LSH recall eval).

    ``max_df`` is the hot-shingle guard: shingles appearing in more
    than ``max_df`` distinct documents are dropped BEFORE posting lists
    are built.  Without it one ubiquitous spam n-gram creates a
    quadratic pair bucket — at 100 TB that single hot key is the whole
    job's runtime.  The cap is also the AGGREGATION-BUFFER bound: every
    posting list is <= ``max_df`` elements, so no collect ever sees a
    hot key.  ``max_df=None`` keeps every shingle (exact overlap over
    the full space) and is only safe on corpora known to have no hot
    shingles — production always sets the cap.

    Shuffle ledger (the reason this exists): ONE pass over the raw
    shingle explosion into a persisted distinct index, a hot-set
    aggregate read from that cache (the heavy-hitter set is bounded by
    total_postings / max_df — small at test scale, where AQE applies
    the cap as a map-side broadcast anti-join, but LINEAR in the
    corpus, so the join carries no broadcast hint and degrades to a
    shuffle of 8-byte keys when the hot set outgrows broadcast; no
    collect buffer ever sees a hot key), then ONE collect_list shuffle
    into capped posting lists.  The previous per-scorer pipeline instead shuffled the
    capped index TWICE more through an inverted-index self-join; every
    downstream quantity — document sizes, shared counts, candidate
    pairs — now derives from this one persisted table map-side.
    Lists are keyed on xxhash64(shingle), so the shuffles carry 8-byte
    longs instead of n-gram text (collision odds over 2^64 are noise
    next to the thresholds' own sensitivity).

    ``pin_registry``: when provided, every frame this function persists
    is appended to it, so an eager consumer (e.g. an artifact build)
    can unpersist them the moment the result is materialized.
    """
    # kept: without it the artifact build behind dedup_containment takes
    # 4.96 -> 5.06 s (sf0.1, 10 pairs)
    sh = shingle_hashes(df, id_col, text_col, n).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    if pin_registry is not None:
        pin_registry.append(sh)
    if max_df is not None:
        hot = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_df)
            .select("shingle")
        )
        # NO F.broadcast hint: the heavy-hitter set is bounded by
        # total_postings / max_df — small at test scale but LINEAR in
        # the corpus, so a forced broadcast is exactly the node that
        # dies first on a big corpus (the 100x probe hit the
        # driver-side broadcast-build OOM here under cache pressure;
        # scripts/scale_probe.py).  Left to AQE, the anti-join
        # broadcasts whenever the runtime hot set is actually small
        # and falls back to a shuffle of 8-byte shingle keys when it
        # is not — the only join strategy that survives every corpus
        # size.
        sh = sh.join(hot, "shingle", "left_anti")
    # rows are already distinct per (shingle, id), so collect_list (no
    # per-key set dedup) suffices; array_sort makes the i<j pair
    # expansion downstream emit ordered pairs by construction.  Kept
    # pinned: without it the same build takes 5.44 -> 6.81 s (10 pairs)
    lists = (
        sh.groupBy("shingle")
        .agg(F.array_sort(F.collect_list(F.col(id_col))).alias("ids"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    if pin_registry is not None:
        pin_registry.append(lists)
    return lists


def shared_shingle_counts(lists: DataFrame, id_col: str) -> DataFrame:
    """(id_a, id_b, shared, n_a, n_b) — every document pair sharing at
    least one kept shingle, with the shared-shingle count and both
    kept-shingle set sizes.  Jaccard and containment are projections of
    this one table: jaccard = shared/(n_a+n_b-shared), containment =
    shared/min-side — so ONE pair shuffle serves every scorer built on
    the same ``kept_shingle_lists`` index.

    Pairs are expanded map-side from each posting list (i<j over the
    sorted array — exactly len*(len-1)/2 structs, bounded by the
    ``max_df`` cap), then partially aggregated into per-pair counts:
    cost tracks sum(df_i^2) over kept shingles, the same candidate set
    an inverted-index self-join produces, without shuffling the index
    twice through a join.  Sizes come from the same persisted lists.

    The two size-enrichment joins are pinned to SHUFFLE-HASH: the size
    table is one row per DOCUMENT — linear in the corpus — so at
    production scale it is never broadcastable, and a broadcast is not
    even desirable locally (the 100x probe OOM'd the driver-side
    broadcast build of exactly this table while the posting-list cache
    held the heap; scripts/scale_probe.py).  Shuffle-hash keys both
    sides on the pair ids, builds only the per-partition slice of the
    size table (small at every corpus size), and never sorts the pair
    stream the way merge would."""
    ids = F.col("ids")
    pair_structs = F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + F.lit(2), F.size(ids)),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    shared = (
        lists.select(F.explode(pair_structs).alias("p"))
        .select("p.id_a", "p.id_b")
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sizes = (
        lists.select(F.explode("ids").alias(id_col))
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_sh"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    return shared.join(sa.hint("shuffle_hash"), "id_a").join(
        sb.hint("shuffle_hash"), "id_b"
    )


def ngram_jaccard_pairs(
    df: DataFrame | None,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.4,
    max_df: int | None = 1000,
    counts: DataFrame | None = None,
) -> DataFrame:
    """Exact pairwise n-gram Jaccard over the kept shingle space.

    Posting-list expansion produces only pairs sharing >= 1 shingle
    (never an all-pairs product); Jaccard = shared / (|A| + |B| -
    shared), with sizes and shared counts both computed over the SAME
    kept shingle space so the score stays internally consistent.

    ``counts`` lets a caller score several overlap measures off one
    ``shared_shingle_counts`` table (one index build + one pair shuffle
    for Jaccard AND containment); by default the index is built here.
    """
    if counts is None:
        counts = shared_shingle_counts(
            kept_shingle_lists(df, id_col, text_col, n, max_df), id_col
        )
    jac = round_det(
        F.col("shared") / (F.col("n_a") + F.col("n_b") - F.col("shared")), 4
    )
    return (
        counts.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def containment_pairs(
    df: DataFrame | None,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_df: int | None = 1000,
    min_shingles: int = 5,
    counts: DataFrame | None = None,
) -> DataFrame:
    """DIRECTIONAL containment C(A⊆B) = |A∩B| / |A| (Broder's
    containment, the asymmetric twin of Jaccard): emits ordered
    (id_a, id_b, containment) where at least ``threshold`` of A's
    shingles also occur in B.  This is the detector Jaccard cannot be:
    a 100-word document quoted whole inside a 10,000-word one has
    Jaccard ~ 0.01 but containment ~ 1.0 — the embedded-duplicate /
    quotation / wrapper-page case in corpus dedup.

    Same shared ``kept_shingle_lists`` + ``shared_shingle_counts``
    subplan as ngram_jaccard_pairs (one pair shuffle keyed on 8-byte
    shingle hashes; ``max_df`` hot-shingle cap applied first), scored
    in both directions from the one unordered shared count — the
    direction pass is a projection, not a second join.
    ``min_shingles`` guards the trivial numerator: a 1-shingle doc is
    "contained" in everything sharing that shingle.  ``counts`` lets a
    caller reuse one shared-count table across scorers.
    """
    if counts is None:
        counts = shared_shingle_counts(
            kept_shingle_lists(df, id_col, text_col, n, max_df), id_col
        )
    fwd = counts.select(
        "id_a", "id_b", F.col("shared"), F.col("n_a").alias("n_small")
    )
    rev = counts.select(
        F.col("id_b").alias("id_a"),
        F.col("id_a").alias("id_b"),
        F.col("shared"),
        F.col("n_b").alias("n_small"),
    )
    cont = round_det(F.col("shared") / F.col("n_small"), 4)
    return (
        fwd.unionByName(rev)
        .filter(F.col("n_small") >= min_shingles)
        .withColumn("containment", cont)
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    )


def hash_pair(col: Column) -> tuple[Column, Column]:
    """One md5 per value, split into two independent 48-bit integers
    (hex chars 1-12 and 13-24).  Spark side of the Carter-Wegman
    permutation family; the SQL oracle mirrors it with strpos
    arithmetic (functions identical because md5 is)."""
    d = F.md5(col)
    h1 = F.conv(F.substring(d, 1, 12), 16, 10).cast("long")
    h2 = F.conv(F.substring(d, 13, 12), 16, 10).cast("long")
    return h1, h2


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int = 16, n: int = 3
) -> DataFrame:
    """K-permutation MinHash signature per document in ONE aggregation
    (single shuffle).

    ONE md5 per shingle; permutation j is the Carter-Wegman family
    h_j = h1 + j*h2 over the digest's two 48-bit halves (max value
    16 * 2^48 << 2^63 — no overflow, identical integer arithmetic in
    any engine).  This is 16x fewer digest computations than hashing per
    permutation — the difference between 1 and 16 passes over a
    100 TB shingle set.
    """
    # distinct=False: min() over a multiset equals min() over its set,
    # so the duplicate-dropping shuffle would be pure waste here
    sh = shingles(df, id_col, text_col, n, distinct=False)
    h1, h2 = hash_pair(F.col("shingle"))
    sh = sh.withColumn("h1", h1).withColumn("h2", h2)
    # SQL-string aggregates (one py4j call each — see simhash64)
    aggs = [
        F.expr(f"min(h1 + {j} * h2)").alias(f"mh{j}")
        for j in range(num_hashes)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def band_signatures(sig: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """Signature rows exploded into LSH bands of ``num_hashes/bands``
    components each: every column of ``sig`` except mh0..mh{K-1} (the
    id, and in the streaming operators the event time) carried through,
    then (band_idx, band_sig), one row per band.  The one band layout of
    the engine: the batch self-join, estimate-verify and incremental
    paths and the streaming near-dup operators (streaming/neardup.py)
    all band through it, so a streamed band key equi-joins a stored one.

    Built as one SQL string (see simhash64): the per-band struct loop
    cost ~0.15 s of py4j round trips per construction across every
    LSH-family query."""
    mh = {f"mh{j}" for j in range(num_hashes)}
    carried = [c for c in sig.columns if c not in mh]
    rows_per_band = num_hashes // bands
    structs = ", ".join(
        "named_struct('band_idx', {bi}, 'band_sig', concat_ws('|', {parts}))".format(
            bi=bi,
            parts=", ".join(
                f"cast(mh{bi * rows_per_band + r} as string)"
                for r in range(rows_per_band)
            ),
        )
        for bi in range(bands)
    )
    return sig.select(
        *[F.col(c) for c in carried],
        F.explode(F.expr(f"array({structs})")).alias("band"),
    ).select(*carried, "band.band_idx", "band.band_sig")


def _band_pairs(banded: DataFrame, id_col: str) -> DataFrame:
    """(id_a, id_b), id_a < id_b, for every pair of ``banded`` rows
    sharing a (band_idx, band_sig) key — once per shared band."""
    a = banded.select(F.col(id_col).alias("id_a"), "band_idx", "band_sig")
    b = banded.select(F.col(id_col).alias("id_b"), "band_idx", "band_sig")
    return (
        a.join(b, ["band_idx", "band_sig"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )


def minhash_lsh_pairs(
    df: DataFrame | None,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    sig: DataFrame | None = None,
    distinct_pairs: bool = True,
) -> DataFrame:
    """MinHash-LSH candidate duplicate pairs.

    Signatures split into ``bands`` bands of ``num_hashes/bands`` rows;
    docs sharing ANY full band signature become a candidate pair.  The
    band join is an equi-join on (band_idx, band_signature) — shuffle
    keyed on the signature, so cost tracks collision counts, not n^2.
    Downstream callers verify candidates with ngram_jaccard_pairs on the
    (tiny) candidate set.

    ``sig`` lets a caller band a PRECOMPUTED (stored) signature table —
    production keeps signatures as a first-class dataset (~1e-4 the
    corpus bytes) and every consumer bands the store instead of
    re-shingling text.  Contract note (ADVICE r11): a caller-provided
    ``sig`` is NOT persisted here on the assumption that it is a cheap
    stored relation (possibly behind a semi-join) whose band projection
    re-evaluates per self-join side, with Spark's exchange reuse
    deduplicating the probe side.  A caller passing an sig frame with
    an EXPENSIVE lineage should persist it before calling, rather than
    rely on exchange reuse surviving future AQE plan shapes.

    ``distinct_pairs=False`` skips the pair-dedup EXCHANGE — correct
    whenever the consumer is duplicate-insensitive, which connected
    components is (union-find absorbs a <= ``bands``x-duplicated edge
    in O(alpha)): deduplicating a raw band-collision stream is the
    same aggregate simhash64_candidates measured as its only spilling
    node at x100, so the duplicate-tolerant consumer should always
    prefer the raw stream (same posture; r11)."""
    computed_here = sig is None
    if computed_here:
        sig = minhash_signatures(df, id_col, text_col, num_hashes, n)
    banded = band_signatures(sig, num_hashes, bands)
    if computed_here:
        # materialize before the self-join: without it
        # neardup_verify_levenshtein takes 2.59 -> 3.09 s (sf0.1, 10
        # pairs, 0 won by the uncached side).  A caller-provided
        # ``sig`` is a STORED table (parquet artifact / registered
        # view, possibly subset by a semi-join): its band projection
        # re-runs cheaply per join side and Spark's exchange reuse
        # dedups the probe side, so the persist's materialization job
        # buys nothing (A/B at sf0.1: wash on wall clock,
        # OPTIMIZATION_r11.md) while pinning executor storage that a
        # 100 TB run wants for the join itself.
        banded = banded.persist(StorageLevel.MEMORY_AND_DISK)
    pairs = _band_pairs(banded, id_col)
    return pairs.distinct() if distinct_pairs else pairs


def incremental_minhash_pairs(
    new_docs: DataFrame,
    corpus_sig: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
) -> DataFrame:
    """Daily-ingest dedup: match a NEW batch against a stored corpus
    signature table plus itself — old×old pairs are never generated.

    ``corpus_sig``: (id, mh0..mh{K-1}) — the PRECOMPUTED signature
    table from prior runs (production keeps this as a first-class
    stored dataset; it is ~1e-4 the corpus bytes).  Only the new batch
    is shingled/hashed, so daily cost tracks batch size, while the
    band join against the corpus signature table finds cross-batch
    duplicates.  Returns (id_a=new id, id_b=matched id, match_src in
    {'corpus','batch'}); new-new pairs appear once (id_a < id_b).
    """
    sig_new = minhash_signatures(new_docs, id_col, text_col, num_hashes, n)
    band_cols = [id_col, "band_idx", "band_sig"]
    # kept: without it dedup_incremental_persisted reads 3.56 -> 4.06 s
    # (bench.py, sf0.1, 10 pairs, 3 won uncached; in-process A/B 2.37 ->
    # 2.31, 6/10) while dedup_incremental gains (2.01 -> 1.75, 10/10)
    banded_new = band_signatures(sig_new, num_hashes, bands).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    banded_old = band_signatures(corpus_sig, num_hashes, bands)
    a = banded_new.select(F.col(id_col).alias("id_a"), "band_idx", "band_sig")
    b = banded_old.select(*band_cols).withColumn(
        "match_src", F.lit("corpus")
    ).unionByName(
        banded_new.select(*band_cols).withColumn("match_src", F.lit("batch"))
    ).select(
        F.col(id_col).alias("id_b"), "band_idx", "band_sig", "match_src"
    )
    return (
        a.join(b, ["band_idx", "band_sig"])
        .filter(
            (F.col("match_src") == "corpus")
            | (F.col("id_a") < F.col("id_b"))
        )
        .select("id_a", "id_b", "match_src")
        .distinct()
    )


def minhash_estimate_pairs(
    df: DataFrame | None,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    min_matching: int = 8,
    sig: DataFrame | None = None,
) -> DataFrame:
    """LSH candidates verified by MinHash-estimated Jaccard — the cheap
    middle stage of a dedup cascade (LSH candidates -> signature
    estimate -> only the survivors pay exact verification).

    The estimate is the fraction of agreeing signature components
    (E[match] = true Jaccard); pairs with fewer than ``min_matching``
    of ``num_hashes`` agreeing components are dropped.  Signatures are
    computed ONCE (one signature shuffle, which banding and both
    verification joins read through exchange reuse), so no candidate
    ever re-touches document text — at 100 TB the
    signature table is ~1e-4 the corpus size and the whole cascade
    stage is joins on it alone.

    Returns (id_a, id_b, matching, est_jaccard).  ``sig``: band and
    verify against a PRECOMPUTED signature table (see
    minhash_lsh_pairs) instead of shingling text here.
    """
    if sig is None:
        sig = minhash_signatures(df, id_col, text_col, num_hashes, n)
    pairs = _band_pairs(band_signatures(sig, num_hashes, bands), id_col).distinct()
    sa = sig.select(
        F.col(id_col).alias("id_a"),
        *[F.col(f"mh{j}").alias(f"a{j}") for j in range(num_hashes)],
    )
    sb = sig.select(
        F.col(id_col).alias("id_b"),
        *[F.col(f"mh{j}").alias(f"b{j}") for j in range(num_hashes)],
    )
    match_terms = " + ".join(
        f"(CASE WHEN a{j} = b{j} THEN 1 ELSE 0 END)" for j in range(num_hashes)
    )
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("matching", F.expr(f"cast({match_terms} as int)"))
        .filter(F.col("matching") >= min_matching)
        .withColumn(
            "est_jaccard", round_det(F.col("matching") / F.lit(num_hashes), 4)
        )
        .select("id_a", "id_b", "matching", "est_jaccard")
    )


def simhash64(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit frequency-weighted SimHash, represented as two 32-bit
    halves ``(sim_hi, sim_lo)``.

    The split-halves form is deliberate: a full 64-bit fingerprint can
    set bit 63, which overflows a signed BIGINT differently across
    engines (Spark ANSI mode throws); two 32-bit halves are exact,
    portable integers everywhere and XOR/popcount compose per half.
    16-bit simhash saturates its 65k-bucket space at >= 1e6 docs; the
    64-bit space holds at web-corpus scale.

    One explode + one groupBy -> single shuffle; all arithmetic is
    JVM-side expressions (no Python).

    The 64 bit-sum aggregates and the 2x32-term assembly are built as
    SQL strings (``F.expr``), not per-bit Column operator chains: the
    chained form costs ~8800 py4j round trips (~1.6 s of driver time
    per construction — 80% of this query's bench wall at sf0.1,
    profiled r12) where each ``F.expr`` is ONE gateway call and the
    string parses JVM-side.  The parsed expression tree is identical
    (same shiftright/&/CASE nodes), so fingerprints are byte-identical.
    """
    tok = tokens(df, id_col, text_col)
    d = F.md5(F.col("token"))
    tok = tok.withColumn(
        "v_lo", F.conv(F.substring(d, 1, 8), 16, 10).cast("long")
    ).withColumn("v_hi", F.conv(F.substring(d, 9, 8), 16, 10).cast("long"))

    def half_fp(half: str) -> Column:
        # one aggregate expression per half: the 32 bit-sign sums live
        # inline in the assembly CASEs (Catalyst still plans 32 partial
        # sum aggregates; the projection reads their results)
        terms = " + ".join(
            f"(CASE WHEN sum(2 * (shiftright(v_{half}, {b}) & 1) - 1) > 0"
            f" THEN {1 << b} ELSE 0 END)"
            for b in range(32)
        )
        return F.expr(f"cast({terms} as bigint)")

    return tok.groupBy(id_col).agg(
        half_fp("hi").alias("sim_hi"), half_fp("lo").alias("sim_lo")
    )


def simhash64_candidates(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3
) -> DataFrame:
    """Near-dup candidate pairs by banded Hamming over 64-bit SimHash.

    The 64-bit fingerprint splits into 4 bands of 16 bits; by
    pigeonhole, any pair within Hamming distance 3 agrees on at least
    one full band, so the equi-join on (band_idx, band_bits) finds
    every such pair without an all-pairs product — the same sublinear
    bucket-join shape as MinHash-LSH.  Candidates are then verified
    with an exact popcount: hamming = bit_count(hi_a^hi_b) +
    bit_count(lo_a^lo_b), filter <= max_hamming.

    ``max_hamming`` > 3 weakens the guarantee (4 bands only cover
    distance 3); raise the band count for larger radii.
    """
    # kept: without it dedup_simhash64 takes 2.30 -> 2.56 s (sf0.1, 10 pairs)
    fp = simhash64(df, id_col, text_col).persist(StorageLevel.MEMORY_AND_DISK)
    band_vals = [
        "sim_lo & 65535",
        "shiftright(sim_lo, 16) & 65535",
        "sim_hi & 65535",
        "shiftright(sim_hi, 16) & 65535",
    ]
    structs = ", ".join(
        f"named_struct('band_idx', {i}, 'band_bits', {v})"
        for i, v in enumerate(band_vals)
    )
    banded = fp.select(
        F.col(id_col),
        F.explode(F.expr(f"array({structs})")).alias("band"),
    ).select(id_col, "band.band_idx", "band.band_bits")
    a = banded.select(F.col(id_col).alias("id_a"), "band_idx", "band_bits")
    b = banded.select(F.col(id_col).alias("id_b"), "band_idx", "band_bits")
    # NO distinct here: a pair colliding in k bands appears k (<= 4)
    # times, and deduplicating the raw candidate stream is the single
    # most expensive node at scale (measured at 100x sf0.1: the
    # pre-verify pair distinct was the only spilling aggregate in the
    # registry — 3.3 GiB of sort-fallback spill hashing tens of
    # millions of 16-byte pairs, scripts/scale_probe.py).  The
    # popcount verify is a map-side join against the 24 B/doc
    # fingerprint table (broadcastable far past any bench scale; AQE
    # falls back to a shuffle join on the skinny pair stream beyond
    # that), so verifying the <= 4x-amplified stream first and
    # deduplicating only the Hamming-survivors is strictly cheaper
    # than one wide exchange of every raw candidate.
    pairs = (
        a.join(b, ["band_idx", "band_bits"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    fa = fp.select(
        F.col(id_col).alias("id_a"),
        F.col("sim_hi").alias("hi_a"),
        F.col("sim_lo").alias("lo_a"),
    )
    fb = fp.select(
        F.col(id_col).alias("id_b"),
        F.col("sim_hi").alias("hi_b"),
        F.col("sim_lo").alias("lo_b"),
    )
    ham = F.bit_count(F.col("hi_a").bitwiseXOR(F.col("hi_b"))) + F.bit_count(
        F.col("lo_a").bitwiseXOR(F.col("lo_b"))
    )
    return (
        pairs.join(fa, "id_a")
        .join(fb, "id_b")
        .withColumn("hamming", ham.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .distinct()
    )


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 16) -> DataFrame:
    """SimHash fingerprint (frequency-weighted): each token hashes to a
    ``bits``-bit value (md5 prefix); fingerprint bit b is the sign of
    sum(+-1) over token bits.  Near-duplicate docs collide or differ in
    few bits.  One explode + one groupBy -> single shuffle.

    Bit sums and assembly are SQL strings (one py4j call each) — see
    simhash64 for the construction-cost rationale; trees identical.
    """
    hex_digits = (bits + 3) // 4
    tok = tokens(df, id_col, text_col)
    v = F.conv(F.substring(F.md5(F.col("token")), 1, hex_digits), 16, 10).cast("long")
    tok = tok.withColumn("v", v)
    terms = " + ".join(
        f"(CASE WHEN sum(2 * (shiftright(v, {b}) & 1) - 1) > 0"
        f" THEN {1 << b} ELSE 0 END)"
        for b in range(bits)
    )
    return tok.groupBy(id_col).agg(
        F.expr(f"cast({terms} as bigint)").alias("simhash")
    )


def with_minhash_signatures(
    df: DataFrame, text_col: str, num_hashes: int = 16, n: int = 3
) -> DataFrame:
    """Append per-ROW MinHash signature columns (mh0..mhK-1) — the same
    Carter-Wegman family as :func:`minhash_signatures` (one md5 per
    shingle, permutation j = h1 + j*h2 over the digest's 48-bit
    halves) computed entirely inside the row's projection with array
    higher-order functions, no aggregation.

    min() over the per-row shingle array equals min() over the grouped
    multiset, so these columns are value-identical to the grouped
    signature table (pinned by test_minhash_signature_exprs_match_
    grouped) — which is what lets a STREAMING pipeline sign documents
    at arrival: a groupBy signature would be a stateful aggregate and
    could not precede the stateful LSH-bucket operator in one query.
    Rows with fewer than ``n`` tokens or a NULL text are DROPPED, as the
    grouped form has no row for them.  The drop is the CHEAP predicate
    ``size(split(text, ' ')) >= n`` placed before the projection, NOT a
    post-projection ``mh0 IS NOT NULL``: Catalyst pushes that filter
    below this projection (and any exchange under it), which inlines
    the whole signing chain into the scan-stage filter and evaluates
    it twice — measured 10x the entire streaming near-dup pillar
    (SCALE.md r11).

    Three-stage projection on purpose: the token ARRAY is staged first
    (see _ngram_windows), then the (md5, conv) hash-pair array is
    materialized as ONE intermediate column and the 16 array_min folds
    read it — inlining the hash transform into each permutation
    expression defeats common-subexpression elimination across lambda
    functions and recomputes every digest 16x (measured 3.2x slower on
    200k docs).
    """
    def pair(s: Column) -> Column:
        h1, h2 = hash_pair(s)
        return F.struct(h1.alias("h1"), h2.alias("h2"))

    hashes = F.transform(_ngram_windows(F.col("__mh_tok"), n), pair)
    staged = (
        df.filter(F.size(F.split(F.col(text_col), " ")) >= n)
        .withColumn("__mh_tok", F.split(F.col(text_col), " "))
        .withColumn("__mh_hashes", hashes)
    )
    out = staged.select(
        *df.columns,
        *[
            F.array_min(
                F.transform(
                    F.col("__mh_hashes"),
                    lambda x: x["h1"] + F.lit(j) * x["h2"],
                )
            ).alias(f"mh{j}")
            for j in range(num_hashes)
        ],
    )
    return out
