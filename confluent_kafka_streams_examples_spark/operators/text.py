"""Text analysis for training-data pipelines: quality scoring, token
counting, language profiling, document fingerprinting.

Everything is built-in expression work (split / regexp / array
higher-order functions) — JVM-side, no UDFs, scales linearly with one
narrow projection per document.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from confluent_kafka_streams_examples_spark.functions.scalar import round_det

#: tiny English-ish stopword list used by the quality heuristic (matches
#: the vocabulary of the synthetic documents table)
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")

#: BPE-ish token pattern: runs of alphanumerics or single non-space symbols
TOKEN_PATTERN = r"[a-z0-9]+"


def text_stats(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-document quality features:

    - n_tokens: whitespace tokens
    - n_regex_tokens: BPE-ish regex token count
    - avg_token_len
    - stopword_ratio: fraction of tokens in STOPWORDS
    - uniq_ratio: distinct/total tokens (repetition indicator)
    - quality_score: length-normalized heuristic in [0,1]
    """
    toks = F.split(F.col(text_col), " ")
    n_tokens = F.size(toks)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    n_uniq = F.size(F.array_distinct(toks))
    avg_len = (F.length(F.col(text_col)) - (n_tokens - 1)) / n_tokens
    stop_ratio = n_stop / n_tokens
    uniq_ratio = n_uniq / n_tokens
    quality = F.least(F.lit(1.0), n_tokens / F.lit(100.0)) * (
        F.lit(1.0) - stop_ratio * F.lit(0.5)
    ) * uniq_ratio
    return df.select(
        F.col(id_col),
        n_tokens.alias("n_tokens"),
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(TOKEN_PATTERN), 0)).alias(
            "n_regex_tokens"
        ),
        round_det(avg_len, 4).alias("avg_token_len"),
        round_det(stop_ratio, 4).alias("stopword_ratio"),
        round_det(uniq_ratio, 4).alias("uniq_ratio"),
        round_det(quality, 4).alias("quality_score"),
    )


def doc_fingerprint(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Normalized content fingerprint (md5 of lower/trimmed text) —
    groups byte-identical-after-normalization documents."""
    return df.select(
        F.col(id_col),
        F.md5(F.lower(F.trim(F.col(text_col)))).alias("fingerprint"),
    )


def fingerprint_dup_groups(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Fingerprint groups with >1 member: the normalized-exact-dup report."""
    return (
        doc_fingerprint(df, id_col, text_col)
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") > 1)
    )


def lang_profile(df: DataFrame) -> DataFrame:
    """Language/source distribution with length stats — the corpus-audit
    aggregation run before training-data selection."""
    return df.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.round(F.avg(F.size(F.split(F.col("text"), " "))), 4).alias("avg_tokens"),
    )


def lang_id_heuristic(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """N-gram/stopword language-ID heuristic: scores text against a tiny
    English function-word profile; emits the score and a binary call.
    (The synthetic corpus is English-wordlist text with random lang
    labels, so this is exercised as an operator, not validated against
    the label.)"""
    toks = F.split(F.col(text_col), " ")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    score = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t))) / F.size(toks)
    return df.select(
        F.col(id_col),
        round_det(score, 4).alias("en_score"),
        (score >= 0.05).cast("boolean").alias("pred_en"),
    )


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_size: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Fixed-size token chunking with overlap — the training-prep
    primitive that turns documents into model-window-sized pieces
    (chunk_size tokens every stride tokens, overlap = chunk_size -
    stride).  Returns (id, chunk_idx, n_chunk_tokens, chunk_hash); the
    hash stands in for the chunk body so downstream joins/dedup carry
    16 bytes, not text (emit the text itself by slicing at write time).

    A trailing chunk no longer than the overlap is dropped (its tokens
    are fully covered by the previous chunk); chunk 0 always emits, so
    every document — even shorter than one stride — yields at least
    one chunk.

    Scale shape: pure map-side — split once, slice per start offset via
    array functions, explode; no shuffle, no Python, cost linear in
    corpus tokens times the overlap factor (chunk_size/stride)."""
    overlap = chunk_size - stride
    # stage the token array first: the starts filter's lambda reads the
    # token COUNT per candidate start, which re-evaluates the whole
    # split per element when unstaged (see dedup.shingles, r12)
    staged = df.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("_tk")
    )
    tk = F.col("_tk")
    n = F.size(tk)
    starts = F.filter(
        F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(stride)),
        lambda s: (s == 0) | ((n - s) > overlap),
    )
    return (
        staged.select(F.col(id_col), "_tk", F.explode(starts).alias("_s"))
        .select(
            F.col(id_col),
            (F.col("_s") / stride).cast("bigint").alias("chunk_idx"),
            F.least(F.lit(chunk_size), F.size("_tk") - F.col("_s"))
            .cast("bigint")
            .alias("n_chunk_tokens"),
            F.md5(
                F.concat_ws(" ", F.slice("_tk", F.col("_s") + 1, chunk_size))
            ).alias("chunk_hash"),
        )
    )


def unigram_lm_scores(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Corpus-trained unigram language-model score per document — the
    statistical quality signal between the cheap ratio heuristics
    (text_stats) and a neural LM: documents whose token distribution is
    improbable under the corpus itself (gibberish, boilerplate floods,
    wrong-language fragments) score low and can be gated on.

    score(d) = mean over token occurrences of ln p(w), with
    p(w) = c(w) / total over the whole corpus (every scored token is
    in-corpus, so the MLE is smoothing-free here; feeding held-out text
    would need the usual add-k on the vocab frame).

    Returns (id, n_tokens, score_micro, avg_logp).  Determinism: the
    log-prob is quantized to integer micro-units ONCE PER VOCABULARY
    ENTRY (floor(ln p * 1e6 + 0.5)); per-document scores are then
    exact integer arithmetic (count x quantized logp, summed), so
    shuffle order can never change the result.  The residual
    cross-engine exposure is a last-ulp ln() divergence between Spark
    and the oracle engine landing within ~1e-9 of a floor boundary —
    a per-VOCAB-ENTRY event (quantizing after the c-multiply would
    amplify it by c per (doc, token) row instead).

    Scale shape: token counts collapse map-side, so both the per-doc
    and vocab shuffles carry (key, count) pairs bounded by vocabulary,
    not corpus length; the corpus total joins back as a broadcast
    1-rower; the logprob table joins on the token key (AQE broadcasts
    it while the vocabulary fits, falls back to a hash join keyed on
    the token when it doesn't).  ``tc`` ends in a shuffle, so its
    three consumers (per-doc scores, vocabulary, corpus total) read
    one exchange (exchange reuse): the corpus is read and tokenized
    once, uncached.  No pre-spread: the explode feeds a map-side
    partial count whose output is vocabulary-sized, so a parallelizing
    shuffle of raw text costs more than the single-threaded stage it
    saves (A/B-measured 0.65s vs 0.48s at sf0.1)."""
    tok = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("token")
    )
    tc = tok.groupBy(id_col, "token").agg(F.count(F.lit(1)).alias("c"))
    vocab = tc.groupBy("token").agg(F.sum("c").alias("cw"))
    total = vocab.agg(F.sum("cw").alias("total"))
    logp = vocab.crossJoin(F.broadcast(total)).select(
        "token",
        F.floor(
            F.log(F.col("cw") / F.col("total").cast("double")) * F.lit(1e6)
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("lp_micro"),
    )
    scored = tc.join(logp, "token").select(
        F.col(id_col),
        F.col("c"),
        (F.col("c") * F.col("lp_micro")).cast("bigint").alias("sm"),
    )
    per_doc = scored.groupBy(id_col).agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.sum("sm").cast("bigint").alias("score_micro"),
    )
    avg = (F.col("score_micro") / F.col("n_tokens").cast("double")) / F.lit(1e6)
    return per_doc.select(
        F.col(id_col),
        "n_tokens",
        "score_micro",
        round_det(avg, 4).alias("avg_logp"),
    )


def bm25_rank(
    df: DataFrame,
    terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    topk: int = 20,
) -> DataFrame:
    """BM25 keyword retrieval: top-``topk`` documents for a bag of query
    ``terms`` (Robertson idf, Lucene's ``ln(1 + (N-df+0.5)/(df+0.5))``
    form so idf is always positive).

    Returns (id, score_micro, score): per-(doc, term) partial scores are
    converted to integer micro-units BEFORE the per-document sum, so the
    total is an order-independent integer sum — bitwise reproducible
    across engines and across shuffle orders (the same trick the
    integer-cent revenue queries use; float addition is not
    associative, integer addition is).

    Scale shape: the explode is map-side; the term-frequency shuffle
    carries ONLY matching-term rows (the ``isin`` filter runs before the
    groupBy, so a 3-term query shuffles a tiny fraction of the corpus);
    doc length is one partial-agg shuffle of (id, 1); the idf and
    corpus-stats frames are a handful of rows joined in via broadcast.
    Top-k is TakeOrderedAndProject (per-partition heads, no global
    sort).
    """
    tok = df.select(F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("token"))
    dl = tok.groupBy(id_col).agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl") / F.count(F.lit(1))).alias("avgdl"),
    )
    tf = (
        tok.filter(F.col("token").isin(terms))
        .groupBy(id_col, "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # document frequency per term; one row per term -> broadcast back
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    idf = dfreq.crossJoin(F.broadcast(stats)).select(
        "token",
        F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
        ).alias("idf"),
        "avgdl",
    )
    # expression shape mirrors the SQL oracle EXACTLY (same literals,
    # same parenthesization) so both engines do the identical sequence
    # of IEEE ops on identical inputs
    term_score = F.col("idf") * (
        (F.col("tf") * F.lit(k1 + 1.0))
        / (F.col("tf") + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * (F.col("dl") / F.col("avgdl"))))
    )
    scored = (
        tf.join(F.broadcast(idf), "token")
        .join(dl, id_col)
        .select(
            F.col(id_col),
            F.floor(term_score * F.lit(1e6) + F.lit(0.5)).cast("bigint").alias("sm"),
        )
    )
    return (
        scored.groupBy(id_col)
        .agg(F.sum("sm").alias("score_micro"))
        .orderBy(F.col("score_micro").desc(), F.col(id_col))
        .limit(topk)
    )


def pack_greedy(
    df: DataFrame,
    id_col: str = "doc_id",
    size_col: str = "n_tok",
    budget: int = 512,
    shards: int | None = None,
) -> DataFrame:
    """Greedy doc-preserving sequence packing: assign each document
    (with a precomputed token count ``size_col``) to the fixed-budget
    training sequence its cumulative starting offset falls in.  Output
    is the input plus (bucket, seq_id); a sequence may overrun the
    budget by at most one document's tail and never splits a document.

    ``shards`` is the packing-parallelism knob: documents are split
    into that many deterministic md5 buckets (independent packing
    workers — the window partitioning follows it directly), ordered by
    id within a shard.  Default is the session's default parallelism,
    so the packing window scales with the cluster instead of being a
    hardcoded constant; pin it explicitly (as the registered queries
    pin 8) when the assignment must be reproducible across cluster
    sizes.  ONE shuffle (the window partition); the running offset is
    an integer cumulative sum inside each shard.
    """
    from pyspark.sql import Window

    clash = {"bucket", "seq_id"} & set(df.columns)
    if clash:
        # silently overwriting a caller's column corrupts their data;
        # the output columns are part of this operator's contract
        raise ValueError(
            f"pack_greedy writes columns {sorted(clash)} which already "
            "exist on the input — rename or drop them first"
        )
    if shards is None:
        shards = df.sparkSession.sparkContext.defaultParallelism
    bucket = (
        F.conv(
            F.substring(F.md5(F.col(id_col).cast("string")), 1, 4), 16, 10
        ).cast("long")
        % shards
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seq = (
        F.floor(
            F.coalesce(F.sum(size_col).over(w), F.lit(0))
            / F.lit(float(budget))
        )
        .cast("bigint")
        .alias("seq_id")
    )
    return df.withColumn("bucket", bucket).select("*", seq)


def pack_summary(packed: DataFrame, id_col: str = "doc_id", size_col: str = "n_tok") -> DataFrame:
    """Per-sequence rollup of a ``pack_greedy`` assignment: doc count,
    token count and id range per (bucket, seq_id) — partial-agg groupBy
    on the packing keys (no further shuffle beyond the packing window's
    own partitioning at cluster scale)."""
    return packed.groupBy("bucket", "seq_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(size_col).alias("n_tokens"),
        F.min(id_col).alias("first_doc"),
        F.max(id_col).alias("last_doc"),
    )


# ---------------------------------------------------------------------------
# BPE merge-round training (VERDICT r10 #6) — the tokenizer-training
# loop itself, not just its statistic.
# ---------------------------------------------------------------------------

#: merged-token joiner ('##' cannot appear in whitespace-split tokens
#: of the source corpus; merged tokens containing it re-merge fine)
BPE_JOINER = "##"


def _adjacent_pairs(tk: Column) -> Column:
    """Array of 'left right' strings for each adjacent token pair."""
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(tk) - 1, F.lit(0))),
        lambda i: F.concat_ws(
            " ", F.element_at(tk, i), F.element_at(tk, i + 1)
        ),
    )


def _pad(text: Column) -> Column:
    """DOUBLE-SPACED token representation: ' a  b  c ' — every token
    owns its flanking spaces, so a literal substring match of
    ``' L  R '`` can never share characters with an adjacent match.
    That makes plain string replace() implement greedy leftmost
    non-overlapping pair merging EXACTLY (both engines' replace scans
    left to right and resumes after each replacement), including the
    left==right run-parity case ('a a a a' -> two merges, 'a a a' ->
    one merge plus a survivor) — one LINEAR pass per round, where an
    array fold costs O(tokens^2) in accumulator copies (measured 10x
    the whole query at sf0.1)."""
    return F.concat(
        F.lit(" "), F.replace(text, F.lit(" "), F.lit("  ")), F.lit(" ")
    )


def _apply_merge(s: Column, left: Column, right: Column) -> Column:
    """Merge the (left, right) token pair into ``left##right`` over a
    double-spaced padded string (see ``_pad``) — greedy leftmost
    non-overlapping, one linear replace."""
    return F.replace(
        s,
        F.concat(F.lit(" "), left, F.lit("  "), right, F.lit(" ")),
        F.concat(F.lit(" "), left, F.lit(BPE_JOINER), right, F.lit(" ")),
    )


def _padded_tokens(s: Column) -> Column:
    """Token array of a double-spaced padded string."""
    return F.split(F.trim(s), "  ")


def bpe_merge_rounds(
    df: DataFrame,
    text_col: str = "text",
    rounds: int = 3,
) -> DataFrame:
    """Train ``rounds`` BPE merges over whitespace tokens and return
    the merge table: (round, pair, n) — round r's most frequent
    adjacent pair over the corpus AS REWRITTEN by merges 1..r-1, with
    its count.  Deterministic tie-break: highest count, then
    lexicographically smallest pair.

    ONE declarative plan, no driver collect: each round's winning pair
    is a 1-row frame (TakeOrdered over the pair-count aggregate),
    cross-joined (broadcast, 1 row) into the next round's token
    rewrite — the same single-row-broadcast shape as the IVF router.
    Nothing is cached: both consumers of a winner (the merge table and
    the next round's rewrite) read its round's pair-count shuffle
    through exchange reuse — each round's count is one scan + one
    (pair, count) partial-agg shuffle whose volume tracks pair
    VOCABULARY, not corpus length, exactly like bpe_pair_counts.

    At 100 TB each round is therefore scan-bound and the loop costs
    rounds x (scan + vocabulary shuffle); real tokenizer training runs
    thousands of rounds over a SAMPLE — the demo pins the iteration
    machinery (rewrite-then-recount) that makes counts after round r
    reflect rounds 1..r-1, which `bpe_pair_counts` alone does not."""
    cur = df.select(_pad(F.col(text_col)).alias("s"))
    outs: list[DataFrame] = []
    for rnd in range(1, rounds + 1):
        counts = (
            # two-stage on purpose: materialize the token array as a
            # COLUMN before the pair transform — inlined, each
            # element_at inside the lambda re-evaluates the whole
            # split(trim(s)) per element, O(tokens^2) per row
            # (measured 3x this query; same staging lesson as
            # with_minhash_signatures)
            cur.select(_padded_tokens(F.col("s")).alias("tk"))
            .select(F.explode(_adjacent_pairs(F.col("tk"))).alias("pair"))
            .filter(F.col("pair") != "")
            .groupBy("pair")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        )
        top = (
            counts.orderBy(F.col("n").desc(), F.col("pair"))
            .limit(1)
            .select(
                F.lit(rnd).alias("round"),
                "pair",
                "n",
                F.split_part(F.col("pair"), F.lit(" "), F.lit(1)).alias("__l"),
                F.split_part(F.col("pair"), F.lit(" "), F.lit(2)).alias("__r"),
            )
        )
        outs.append(top.select("round", "pair", "n"))
        cur = cur.crossJoin(F.broadcast(top.select("__l", "__r"))).select(
            _apply_merge(F.col("s"), F.col("__l"), F.col("__r")).alias("s")
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out
