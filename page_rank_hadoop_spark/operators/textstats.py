"""Text-analysis operators: per-group stats, language-ID, quality scoring,
token counts, fingerprints — the document-profiling surface of a
training-data pipeline. All single-shuffle groupBy aggregations or pure
projections."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from page_rank_hadoop_spark.functions.text import (
    fingerprint,
    gram_hashes_of,
    language_id,
    quality_score,
    token_count,
    tokens,
    window_minima_of,
)


def winnow_fingerprint_table(documents: DataFrame, k: int = 4, w: int = 4) -> DataFrame:
    """(doc_id, fp) winnowing fingerprints (MOSS) — exploded for set-
    intersection joins: two docs sharing any ≥(w+k−1)-token run share a
    row on fp, so overlap detection is one equi-join on fp. Map-side
    expansion in THREE projection steps (tokens → gram hashes → window
    minima) so each array is computed once — see gram_hashes_of."""
    from page_rank_hadoop_spark.sources.catalog import ensure_parallel

    base = ensure_parallel(documents).select("doc_id", tokens("text").alias("toks"))
    hashed = base.select("doc_id", gram_hashes_of(F.col("toks"), k).alias("hs"))
    return hashed.select(
        "doc_id", F.explode(window_minima_of(F.col("hs"), w)).alias("fp")
    )


def stats_correlation(documents: DataFrame) -> DataFrame:
    """Per-language Pearson correlation + population covariance between
    doc length and token count — the statistical-aggregate surface
    (corr/covar are single-pass partial-aggregable in both engines)."""
    return (
        documents.select("lang", "n_chars", token_count("text").alias("n_tokens"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.corr("n_chars", "n_tokens"), 6).alias("corr_chars_tokens"),
            F.round(F.covar_pop("n_chars", "n_tokens"), 4).alias("covar_pop"),
        )
    )


def length_histogram(documents: DataFrame, bucket_width: int = 500) -> DataFrame:
    """Doc-length histogram: fixed-width buckets via integer division —
    a single partial-agg shuffle, deterministic bucket arithmetic shared
    with the oracle."""
    bucket = (F.col("n_chars") / bucket_width).cast("long") * bucket_width
    return (
        documents.groupBy(bucket.alias("bucket_lo"))
        .agg(F.count("*").alias("n_docs"))
    )


def text_stats(documents: DataFrame) -> DataFrame:
    """Per (lang, source): doc count, avg n_chars, avg token count."""
    return (
        documents.select("lang", "source", "n_chars", token_count("text").alias("n_tokens"))
        .groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("n_chars"), 6).alias("avg_chars"),
            F.round(F.avg("n_tokens"), 6).alias("avg_tokens"),
        )
    )


def rollup_stats(documents: DataFrame) -> DataFrame:
    """ROLLUP(lang, source) doc counts — grouping-sets surface."""
    return (
        documents.rollup("lang", "source")
        .agg(F.count("*").alias("n_docs"))
    )


def document_profile(documents: DataFrame) -> DataFrame:
    """Per-document profile row: predicted language, quality score, token
    count, fingerprint. Pure projection — map-only at any scale."""
    return documents.select(
        "doc_id",
        "lang",
        language_id("text").alias("lang_pred"),
        quality_score("text", "n_chars").alias("quality"),
        token_count("text").alias("n_tokens"),
        fingerprint("text").alias("fingerprint"),
    )


def token_budget(documents: DataFrame) -> DataFrame:
    """Per-document token-budget estimate: whitespace tokens (naive
    baseline), BPE-ish pre-tokenizer pieces (what an LLM pipeline bills
    by), and chars-per-piece compression ratio. Pure projection — two
    regexp passes per row, map-only at any scale."""
    from page_rank_hadoop_spark.functions.text import bpe_token_count, ws_token_count
    from page_rank_hadoop_spark.sources.catalog import ensure_parallel

    bpe = bpe_token_count("text")
    return ensure_parallel(documents).select(
        "doc_id",
        ws_token_count("text").alias("ws_tokens"),
        bpe.alias("bpe_tokens"),
        F.round(
            F.when(bpe > 0, F.col("n_chars").cast("double") / bpe), 4
        ).alias("chars_per_bpe_token"),
    )


def chunk_documents(
    documents: DataFrame, size: int = 64, stride: int = 48
) -> DataFrame:
    """Split each document into overlapping token-window chunks (RAG /
    context-window prep): windows of ``size`` tokens every ``stride``
    tokens, emitted as (doc_id, chunk_id, n_tokens, chunk_text) with
    chunk_text the space-joined token window (token-normalized text, not
    a byte-faithful substring — the granularity an embedding/indexing
    stage consumes).

    Pure map-side: tokenize once, explode a ``sequence`` of window
    starts, ``slice`` per start. Fanout is ⌈n/stride⌉ rows per doc with
    ~size/stride× token duplication — a constant factor, no shuffle at
    any scale. Empty documents produce no chunks.
    """
    from page_rank_hadoop_spark.functions.text import tokens
    from page_rank_hadoop_spark.sources.catalog import ensure_parallel

    toks = ensure_parallel(documents).select("doc_id", tokens("text").alias("_t"))
    starts = F.sequence(
        F.lit(0), F.greatest(F.size("_t") - 1, F.lit(0)), F.lit(stride)
    )
    per_start = toks.select(
        "doc_id", "_t", F.explode(starts).alias("_start")
    )
    chunk = F.slice(F.col("_t"), F.col("_start") + 1, size)
    return (
        per_start.select(
            "doc_id",
            (F.col("_start") / stride).cast("int").alias("chunk_id"),
            F.size(chunk).alias("n_tokens"),
            F.array_join(chunk, " ").alias("chunk_text"),
        )
        .filter(F.col("n_tokens") > 0)
        .orderBy("doc_id", "chunk_id")
    )


def term_cooccurrence(
    documents: DataFrame, vocab_size: int = 50, min_docs: int = 5
) -> DataFrame:
    """Term co-occurrence with PMI over a bounded vocabulary: the top
    ``vocab_size`` terms by document frequency (ties broken by term),
    pairs of distinct terms appearing in the same document, kept when
    they co-occur in ≥ ``min_docs`` docs.

    PMI = ln(n_both · N / (df_a · df_b)) — positive means the pair
    co-occurs more than independence predicts (collocation mining /
    topic drift detection over a corpus).

    Scale shape: the vocabulary cap is what makes this safe — each doc
    contributes ≤ vocab_size rows after the broadcast semi-join, so the
    doc_id self-join fans out ≤ vocab_size² pairs per doc (a constant),
    never |vocab|² globally. One shuffle for df, one for the pair count;
    the vocabulary itself is broadcast (tiny by construction).
    """
    from page_rank_hadoop_spark.sources.catalog import ensure_parallel

    n_docs = documents.count()
    dt = ensure_parallel(documents).select(
        "doc_id", F.explode(F.array_distinct(tokens("text"))).alias("term")
    )
    df_ = dt.groupBy("term").agg(F.count("*").alias("df"))
    vocab = df_.orderBy(F.desc("df"), "term").limit(vocab_size)
    dtv = dt.join(F.broadcast(vocab), "term")
    a = dtv.select("doc_id", F.col("term").alias("term_a"), F.col("df").alias("df_a"))
    b = dtv.select("doc_id", F.col("term").alias("term_b"), F.col("df").alias("df_b"))
    co = (
        a.join(b, "doc_id")
        .filter(F.col("term_a") < F.col("term_b"))
        .groupBy("term_a", "term_b", "df_a", "df_b")
        .agg(F.count("*").alias("n_both"))
        .filter(F.col("n_both") >= min_docs)
    )
    pmi = F.log(
        F.col("n_both").cast("double") * F.lit(float(n_docs))
        / (F.col("df_a").cast("double") * F.col("df_b"))
    )
    return co.select(
        "term_a", "term_b", "n_both", F.round(pmi, 6).alias("pmi")
    ).orderBy(F.desc("pmi"), "term_a", "term_b")


def quality_signals(
    documents: DataFrame, top_share_max: float = 0.2, ttr_min: float = 0.3
) -> DataFrame:
    """Gopher-style per-document repetition/quality signals: token count,
    type-token ratio (distinct/total), top-token share (max tf / total),
    mean token length, and a deterministic `flagged` verdict
    (repetitive: top_share > ``top_share_max`` or ttr < ``ttr_min``) —
    the cheap statistical gate an LLM corpus passes before expensive
    model-based filtering. Documents with zero tokens emit no row.

    Two partial-agg shuffles: (doc_id, term) term frequencies, then a
    per-doc rollup; every signal derives from the tf table so the text
    is tokenized exactly once and nothing returns to the driver.
    """
    from page_rank_hadoop_spark.sources.catalog import ensure_parallel

    tf = (
        ensure_parallel(documents)
        .select("doc_id", F.explode(tokens("text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    sig = tf.groupBy("doc_id").agg(
        F.sum("tf").alias("n_tokens"),
        F.count("*").alias("n_distinct"),
        F.max("tf").alias("_top_tf"),
        F.sum(F.col("tf") * F.length("term")).alias("_tok_chars"),
    )
    ttr = F.round(F.col("n_distinct") / F.col("n_tokens"), 6)
    top_share = F.round(F.col("_top_tf") / F.col("n_tokens"), 6)
    return (
        sig.select(
            "doc_id",
            "n_tokens",
            ttr.alias("ttr"),
            top_share.alias("top_share"),
            F.round(F.col("_tok_chars") / F.col("n_tokens"), 6).alias("mean_token_len"),
            ((top_share > top_share_max) | (ttr < ttr_min)).alias("flagged"),
        )
        .orderBy("doc_id")
    )


def bpe_train_merges(documents: DataFrame, n_merges: int = 5) -> DataFrame:
    """Train the first ``n_merges`` BPE merge rules over the corpus — the
    iterative continuation of ``bpe_pair_stats`` (which is iteration 1's
    statistic only). Returns the merge table (step, left, right, merged,
    n): the actual tokenizer-training artifact.

    Classic BPE trains on the WORD-FREQUENCY table, not the corpus: one
    tokenize + groupBy collapses the corpus to distinct words (vocab ≪
    corpus at 100 TB), and every merge iteration then runs on the vocab
    only. Per iteration: (1) adjacent-pair counts weighted by word freq —
    explode + one partial-agg shuffle; (2) argmax pair via a 1-row
    driver action (same scalar-action pattern as PageRank's convergence
    check); (3) apply the merge with an ``F.aggregate`` left-to-right
    fold building the new symbol array — true BPE semantics: a pair
    consumed by a merge can't overlap the next match (s=[a,a,a] with
    (a,a) → [aa,a]), and a just-merged symbol is never re-matched within
    the pass (left+right is never equal to left, since right is
    non-empty). Loop hygiene: eager localCheckpoint per iteration keeps
    the plan flat (near_dup_components rationale).

    Ties broken by (count desc, left, right) so the rule sequence is
    deterministic — the property that makes the query oracle-checkable
    (the DuckDB twin unrolls the same iterations with list_reduce).
    """
    from page_rank_hadoop_spark.sources.catalog import ensure_parallel

    spark = documents.sparkSession
    vocab = (
        ensure_parallel(documents)
        .select(F.explode(tokens("text")).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
    )
    chars = F.transform(
        F.sequence(F.lit(1), F.length("w")), lambda i: F.col("w").substr(i, F.lit(1))
    )
    # lazy checkpoints (round 11): each step's top-pair collect is the
    # materializing action for the previous fold, and the LAST step's
    # fold output is never read at all (the merge table is built from
    # the collected argmaxes) — eager checkpoints paid one extra job per
    # step plus one fully wasted final fold.
    cur = vocab.select("freq", chars.alias("seq")).localCheckpoint(eager=False)
    merges: list[tuple[int, str, str, int]] = []
    for step in range(1, n_merges + 1):
        # sequence(1, size-1) would step BACKWARD for 1-symbol words
        # (Spark infers step=-1 when start > stop) — guard with when().
        pair_idx = F.when(
            F.size("seq") >= 2, F.sequence(F.lit(1), F.size("seq") - 1)
        ).otherwise(F.array().cast("array<int>"))
        pairs = cur.select(
            "freq",
            F.explode(
                F.transform(
                    pair_idx,
                    lambda i: F.struct(
                        F.element_at("seq", i).alias("a"),
                        F.element_at("seq", i + F.lit(1)).alias("b"),
                    ),
                )
            ).alias("p"),
        )
        top = (
            pairs.groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("freq").alias("n"))
            .orderBy(F.desc("n"), "a", "b")
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b, n = top[0]["a"], top[0]["b"], int(top[0]["n"])
        merges.append((step, a, b, n))
        folded = F.aggregate(
            "seq",
            F.array().cast("array<string>"),
            lambda acc, x: F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == F.lit(a))
                & (x == F.lit(b)),
                F.concat(
                    F.slice(acc, F.lit(1), F.size(acc) - 1), F.array(F.lit(a + b))
                ),
            ).otherwise(F.concat(acc, F.array(x))),
        )
        cur = cur.select("freq", folded.alias("seq")).localCheckpoint(eager=False)
    # literal-frame result via range+lits, not createDataFrame (a literal
    # list becomes a Python-RDD scan re-spawning workers per action)
    rows = [
        spark.range(1).select(
            F.lit(s).cast("int").alias("step"),
            F.lit(a).alias("left"),
            F.lit(b).alias("right"),
            F.lit(a + b).alias("merged"),
            F.lit(n).cast("bigint").alias("n"),
        )
        for s, a, b, n in merges
    ]
    if not rows:  # corpus with no adjacent pairs (empty / 1-char words)
        return spark.range(0).select(
            F.lit(0).cast("int").alias("step"),
            F.lit("").alias("left"),
            F.lit("").alias("right"),
            F.lit("").alias("merged"),
            F.lit(0).cast("bigint").alias("n"),
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


def bpe_encode_stats(
    documents: DataFrame, merges: list[tuple[str, str]] | None = None
) -> DataFrame:
    """APPLY side of BPE: encode every word with a merge-rule table
    (rank order, the artifact ``bpe_train_merges`` produces) and report
    per-doc piece counts — the real token count a trained tokenizer
    would bill, vs the heuristic estimates in ``token_budget``.

    Each rule is one more chained left-to-right fold over the symbol
    array (same ``F.aggregate`` lambda as training, rule literals baked
    into the plan) — all JVM-side column algebra, no Python, no shuffle
    until the final per-doc count agg. Rule count is the loop bound, so
    cost is rules × corpus scan work, never corpus².
    """
    from page_rank_hadoop_spark.sources.catalog import ensure_parallel

    merges = merges or [("t", "h"), ("th", "e"), ("i", "n"), ("e", "r"), ("a", "n")]
    w = ensure_parallel(documents).select(
        "doc_id", F.explode(tokens("text")).alias("w")
    )
    seq = F.transform(
        F.sequence(F.lit(1), F.length("w")), lambda i: F.col("w").substr(i, F.lit(1))
    )
    stage = w.select("doc_id", seq.alias("seq"))
    for a, b in merges:
        # plain closure over (a, b) is safe: PySpark invokes the lambda
        # immediately at plan construction, and extra default args would
        # change the arity PySpark inspects
        folded = F.aggregate(
            "seq",
            F.array().cast("array<string>"),
            lambda acc, x: F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == F.lit(a))
                & (x == F.lit(b)),
                F.concat(
                    F.slice(acc, F.lit(1), F.size(acc) - 1), F.array(F.lit(a + b))
                ),
            ).otherwise(F.concat(acc, F.array(x))),
        )
        # materialize each fold stage as its own projected column —
        # HOF lambdas defeat cross-scope subexpression elimination
        stage = stage.select("doc_id", folded.alias("seq"))
    return (
        stage.groupBy("doc_id")
        .agg(
            F.sum(F.size("seq")).alias("n_pieces"),
            F.count("*").alias("n_words"),
        )
        .select("doc_id", "n_pieces", "n_words")
    )


def bpe_pair_stats(documents: DataFrame, top_k: int = 50) -> DataFrame:
    """First BPE tokenizer-training iteration over the corpus: frequency
    of every adjacent character pair within words (the statistic whose
    argmax becomes the first merge rule). Returns the ``top_k`` most
    frequent pairs — the corpus-wide reduction a tokenizer-training
    pipeline runs before any merges.

    All pair extraction is map-side JVM array algebra: tokenize once,
    explode words, build the character-pair array per word with
    ``sequence``/``substring`` higher-order expressions (each stage its
    own projected column — HOF lambdas defeat cross-scope subexpression
    elimination), explode pairs, ONE partial-agg'd groupBy. Shuffle
    carries (pair, partial count) rows only; top-k compiles to
    TakeOrderedAndProject.
    """
    from page_rank_hadoop_spark.sources.catalog import ensure_parallel

    words = ensure_parallel(documents).select(
        F.explode(tokens("text")).alias("w")
    )
    pairs = words.filter(F.length("w") >= 2).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.col("w").substr(i, F.lit(2)),
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "pair")
        .limit(top_k)
    )


def char_entropy_by_lang(documents: DataFrame) -> DataFrame:
    """Shannon character entropy per language — the distribution-shape
    quality signal (boilerplate/spam corpora have anomalously low char
    entropy; it also separates scripts, the cheap cousin of n-gram
    language ID). H = −Σ p·log2(p) over the language's character
    distribution.

    Plan: explode text to single chars (generate, map-side), ONE
    partial-agg'd count per (lang, char) — the only shuffle, carrying at
    most |langs|·|alphabet| groups — then the per-lang entropy rollup on
    that tiny table. No UDFs; log2 via log(2, x).
    """
    from pyspark.sql import Window

    chars = documents.select(
        "lang", F.explode(F.split("text", "")).alias("ch")
    ).filter(F.col("ch") != "")
    counts = chars.groupBy("lang", "ch").agg(F.count("*").alias("n"))
    tot = Window.partitionBy("lang")
    p = F.col("n") / F.sum("n").over(tot)
    return (
        counts.select("lang", "n", p.alias("p"))
        .groupBy("lang")
        .agg(
            F.round(-F.sum(F.col("p") * F.log2("p")), 6).alias("char_entropy"),
            F.count("*").alias("n_distinct_chars"),
        )
    )


def vocab_coverage(
    documents: DataFrame, sizes: tuple[int, ...] = (100, 300, 1000, 3000, 10000)
) -> DataFrame:
    """Tokenizer-vocabulary sizing curve: for each candidate vocab size V,
    the fraction of all corpus token OCCURRENCES covered by the V most
    frequent terms — the number that decides how large a trained
    tokenizer's vocabulary needs to be.

    Corpus term counts are one partial-agg'd explode+groupBy over the
    corpus; the ranking window then runs over the VOCABULARY (terms), not
    the corpus — ~10⁶ rows at 100 TB, three orders of magnitude smaller
    than the token stream, which keeps the single-partition rank sort
    acceptable (the documented scale swap is a two-level rank like
    training_shards if the vocabulary itself ever explodes). Coverage at
    every V comes from ONE conditional aggregation over the ranked vocab
    (no per-V scans).
    """
    from pyspark.sql import Window

    from page_rank_hadoop_spark.functions.text import tokens

    counts = (
        documents.select(F.explode(tokens("text")).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("n"))
    )
    ranked = counts.select(
        "term",
        "n",
        F.row_number().over(Window.orderBy(F.desc("n"), "term")).alias("rank"),
    )
    sz = F.explode(F.array(*[F.lit(s) for s in sizes])).alias("vocab_size")
    sizes_df = documents.sparkSession.range(1).select(sz)
    return (
        ranked.select("n", "rank")
        .crossJoin(F.broadcast(sizes_df))
        .groupBy("vocab_size")
        .agg(
            F.sum(F.when(F.col("rank") <= F.col("vocab_size"), F.col("n")).otherwise(F.lit(0))).alias("covered"),
            F.sum("n").alias("total"),
        )
        .select(
            "vocab_size",
            F.col("covered").cast("bigint").alias("covered_tokens"),
            F.col("total").cast("bigint").alias("total_tokens"),
            F.round(F.col("covered") / F.col("total"), 6).alias("coverage"),
        )
    )


def remove_repeated_chunks(
    documents: DataFrame, chunk_words: int = 8, max_doc_freq: int = 2
) -> DataFrame:
    """Boilerplate removal at chunk granularity (the CCNet/RefinedWeb
    repeated-paragraph filter, adapted to word-stream text): split each
    doc into non-overlapping ``chunk_words``-token chunks, count how
    many DISTINCT docs each chunk text occurs in corpus-wide, drop
    chunks appearing in more than ``max_doc_freq`` docs, and fingerprint
    the rebuilt document. Returns per doc: total/kept chunk counts and
    the md5 of the cleaned text (NULL when everything was boilerplate).

    Two shuffles: the chunk-text doc-frequency aggregate (map-side
    combined; the chunk text is a short string key) and the per-doc
    rebuild groupBy. The rebuild keeps order via sort_array over
    (position, chunk) structs — no window, no second scan of the corpus.
    At 100 TB the df table is chunk-vocabulary-sized; the join is a
    plain equi-join AQE can size (the same shape as the shingle df join
    in the Jaccard family).
    """
    from page_rank_hadoop_spark.functions.text import tokens
    from page_rank_hadoop_spark.sources.catalog import ensure_parallel

    toks = ensure_parallel(documents).select("doc_id", tokens("text").alias("_t"))
    starts = F.sequence(
        F.lit(0), F.greatest(F.size("_t") - 1, F.lit(0)), F.lit(chunk_words)
    )
    chunk = F.slice(F.col("_t"), F.col("_start") + 1, chunk_words)
    chunks = (
        toks.select("doc_id", F.explode(starts).alias("_start"), "_t")
        .select(
            "doc_id",
            "_start",
            F.array_join(chunk, " ").alias("chunk_text"),
            F.size(chunk).alias("_n"),
        )
        .filter(F.col("_n") > 0)
        .drop("_n")
    )
    dfreq = chunks.groupBy("chunk_text").agg(
        F.countDistinct("doc_id").alias("df")
    )
    tagged = chunks.join(dfreq, "chunk_text")
    kept_struct = F.when(
        F.col("df") <= max_doc_freq, F.struct("_start", "chunk_text")
    )
    agg = tagged.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_chunks"),
        F.sum(F.when(F.col("df") <= max_doc_freq, 1).otherwise(0))
        .cast("bigint")
        .alias("n_kept"),
        F.sort_array(F.collect_list(kept_struct)).alias("_kept"),
    )
    cleaned = F.array_join(F.transform("_kept", lambda s: s["chunk_text"]), " ")
    return agg.select(
        "doc_id",
        "n_chunks",
        "n_kept",
        F.when(F.size("_kept") > 0, F.md5(cleaned)).alias("fingerprint"),
    )


def lang_id_confusion(documents: DataFrame) -> DataFrame:
    """Language-ID evaluation: the confusion matrix of the marker-token
    heuristic (``functions.text.language_id``) against the labeled
    ``lang`` column, with each cell's share of its TRUE class — the
    report that says, per language, where the classifier leaks before
    anyone trusts its routing decisions. One map-side prediction pass,
    one (lang, lang_pred) partial agg; the share window runs over the
    aggregated |langs|² cells (bounded), not the corpus."""
    from pyspark.sql import Window

    from page_rank_hadoop_spark.functions.text import language_id

    cells = (
        documents.select("lang", language_id("text").alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    w = Window.partitionBy("lang")
    return cells.select(
        "lang",
        "lang_pred",
        "n",
        F.round(F.col("n") / F.sum("n").over(w), 6).alias("share"),
    )


def approx_topk_terms(
    documents: DataFrame, k: int = 20, max_items: int = 4096
) -> DataFrame:
    """Approximate top-k most frequent terms via the ``approx_top_k``
    frequent-items sketch — the SKETCH twin of ``vocab_coverage``'s
    exact rank: per-partition sketches tracking ≤ ``max_items``
    candidates merge through a single-row aggregate, so the shuffle
    carries ONE sketch object per partition instead of a
    vocabulary-wide (term)-keyed exchange. At 100 TB this is the only
    sane way to ask "what are the dominant terms": the exact groupBy
    moves |vocabulary| rows; the sketch moves |partitions| fixed-size
    summaries and is mergeable across any partitioning.

    Correctness regime, documented and pinned by the oracle gate: while
    every partition's distinct-term count stays ≤ ``max_items`` the
    sketch counts are EXACT (nothing is ever evicted), so at test SFs
    (vocabulary ≪ 4096) the output hash-matches the exact top-k oracle;
    above capacity the counts become estimates with the classic
    frequent-items error bound and the oracle entry would be dropped —
    capacity is the knob that trades memory for exactness.

    Tie determinism: the sketch's OWN ordering among equal counts is
    unspecified, so the sketch is asked for ``overfetch × k`` items and
    the final top-k is re-ranked deterministically by (count desc,
    term) JVM-side — a count tie straddling the k boundary then resolves
    identically to the oracle as long as the tie group fits in the
    overfetch slack (at test SFs the overfetch exceeds the whole
    vocabulary, eliminating the boundary entirely).
    """
    from page_rank_hadoop_spark.functions.text import tokens

    overfetch = max(2 * k, k + 20)
    terms = documents.select(F.explode(tokens("text")).alias("term"))
    sk = terms.agg(F.expr(f"approx_top_k(term, {overfetch}, {max_items})").alias("tk"))
    return (
        sk.select(F.explode("tk").alias("e"))
        .select(
            F.col("e.item").alias("term"),
            F.col("e.count").cast("bigint").alias("cnt"),
        )
        .orderBy(F.desc("cnt"), "term")
        .limit(k)
    )


def linreg_by_lang(documents: DataFrame) -> DataFrame:
    """Per-language OLS fit of token count on character count via the
    built-in regression aggregates (regr_slope/intercept/r2) — closed-
    form, single-pass, partial-aggregable: the same shuffle shape as any
    groupBy, no iteration, no ML library. The linear-model surface of
    the stats family (corr/covar are in stats_correlation).

    slope/intercept/r2 are DERIVED from 6dp-prerounded moment aggregates
    (mean/var_pop/covar_pop) rather than rounding raw regr_* outputs —
    the cusum/ab_ttest lesson: partial-agg summation order differs
    between engines by ~1 ulp, and rounding the INPUT moments makes the
    derived statistics bit-identical instead of hoping the output
    rounding doesn't straddle a 6dp boundary."""
    from page_rank_hadoop_spark.functions.text import token_count

    base = documents.select(
        "lang",
        F.col("n_chars").cast("double").alias("x"),
        token_count("text").cast("double").alias("y"),
    )
    mom = base.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("x"), 6).alias("mx"),
        F.round(F.avg("y"), 6).alias("my"),
        F.round(F.var_pop("x"), 6).alias("vx"),
        F.round(F.var_pop("y"), 6).alias("vy"),
        F.round(F.covar_pop("y", "x"), 6).alias("cxy"),
    )
    slope = F.col("cxy") / F.col("vx")
    return mom.select(
        "lang",
        "n_docs",
        F.round(slope, 6).alias("slope"),
        F.round(F.col("my") - slope * F.col("mx"), 6).alias("intercept"),
        F.round(
            F.col("cxy") * F.col("cxy") / (F.col("vx") * F.col("vy")), 6
        ).alias("r2"),
    )


def zipf_slope(documents: DataFrame) -> DataFrame:
    """Zipf's-law diagnostic over the corpus vocabulary: OLS slope of
    ln(freq) on ln(rank) across terms ranked by total frequency. Natural
    language sits near slope −1; training-data QA reads the deviation to
    spot boilerplate-heavy or synthetic shards (template spam flattens
    the head, dedup leftovers fatten the tail).

    Scale shape: ONE token-explode + partial-agg'd groupBy(term) shuffle;
    everything after runs over the VOCABULARY (which grows ~log with
    corpus size, not with it), so the rank window — though globally
    ordered — is fed by an aggregate-bounded input, the one global-
    window shape tools/plan_audit.py accepts. The slope derives from
    6dp-prerounded moments (the ``linreg_by_lang`` cross-engine
    determinism rule: round the INPUT moments, never hope the output
    rounding doesn't straddle a boundary)."""
    from pyspark.sql import Window

    freq = (
        documents.select(F.explode(tokens("text")).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("freq"))
    )
    w = Window.orderBy(F.desc("freq"), "term")
    base = freq.select(
        F.round(F.log(F.row_number().over(w).cast("double")), 6).alias("x"),
        F.round(F.log(F.col("freq").cast("double")), 6).alias("y"),
    )
    mom = base.agg(
        F.count("*").alias("n_terms"),
        F.round(F.avg("x"), 6).alias("mx"),
        F.round(F.avg("y"), 6).alias("my"),
        F.round(F.var_pop("x"), 6).alias("vx"),
        F.round(F.covar_pop("y", "x"), 6).alias("cxy"),
    )
    slope = F.col("cxy") / F.col("vx")
    return mom.select(
        F.col("n_terms").cast("bigint").alias("n_terms"),
        F.round(slope, 6).alias("slope"),
        F.round(F.col("my") - slope * F.col("mx"), 6).alias("intercept"),
    )


def unigram_logprob(documents: DataFrame) -> DataFrame:
    """Per-document mean unigram log-probability under the corpus's own
    empirical distribution — the cheapest perplexity-style quality score
    a training pipeline runs (docs far below the corpus mean are
    boilerplate/garbled; far above are repetitive/templated). Kept
    model-free on purpose: p(t) = freq(t)/total over the corpus itself.

    Scale shape: one token-explode feeding BOTH the vocabulary build and
    the scoring join; the vocabulary (log-growth) broadcasts back onto
    the token stream (map-side hash join, the big side never shuffles
    for the join), the corpus total rides a broadcast 1-row aggregate,
    and the per-doc rollup is the only keyed shuffle. Engine
    determinism (round 7): ln(p) is snapped to exact integer
    micro-units and the doc mean is floor(sum/n) over those integers —
    the bigram_logprob rule. The original 6dp-preround + avg-of-rounded
    was measured landing exactly on a 6dp half-boundary at sf0.1
    (hash-mismatch against the oracle on one doc); floor over exact
    integers cannot disagree."""
    toks = documents.select("doc_id", F.explode(tokens("text")).alias("term"))
    vocab = toks.groupBy("term").agg(F.count("*").cast("bigint").alias("freq"))
    total = vocab.agg(F.sum("freq").cast("bigint").alias("total"))
    scored = (
        toks.join(F.broadcast(vocab), "term")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            F.round(F.log(F.col("freq") / F.col("total")) * F.lit(1e6), 0)
            .cast("long")
            .alias("lpm"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_tokens"),
        (
            F.floor(F.sum("lpm").cast("double") / F.count("*")) / F.lit(1e6)
        ).alias("avg_logprob"),
    )


def bigram_logprob(documents: DataFrame, k: float = 0.5) -> DataFrame:
    """Per-document mean bigram log-probability with add-k smoothing —
    the KenLM-lite fluency score one tier above ``unigram_logprob``:
    p(w2|w1) = (c(w1,w2) + k) / (c(w1·) + k·V), where c(w1·) is the
    count of bigrams starting with w1 and V the corpus unigram
    vocabulary. Catches locally-scrambled text (right words, wrong
    order) that the unigram score by construction cannot see. Docs with
    fewer than two tokens have no bigrams and drop out (inner-join
    semantics, deterministic in both engines).

    Scale shape: one posexplode feeds the per-doc ``lead`` window
    (partitioned by doc_id — never global), the bigram/prefix count
    tables, and the scoring joins. Both count joins key on the bigram /
    its prefix — plain shuffle hash joins at 100 TB (the bigram vocab
    outgrows broadcast; AQE may still broadcast the small-corpus case).
    V rides a broadcast 1-row aggregate. Engine determinism: ln is
    snapped to exact integer micro-units (round(ln·1e6) as BIGINT) so
    the per-doc sum is exact integer arithmetic, and the mean uses an
    explicit floor(sum/n) rule — avg-of-rounded-doubles lands exactly
    on the 6dp half-boundary often enough (measured: doc 254 at sf0.01)
    that engines disagree on the last digit; floor over exact integers
    cannot.
    """
    from pyspark.sql import Window

    toks = documents.select(
        "doc_id", F.posexplode(tokens("text")).alias("pos", "term")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    big = (
        toks.select(
            "doc_id",
            F.col("term").alias("w1"),
            F.lead("term").over(w).alias("w2"),
        )
        .where(F.col("w2").isNotNull())
    )
    c2 = big.groupBy("w1", "w2").agg(F.count("*").cast("bigint").alias("c2"))
    c1 = c2.groupBy("w1").agg(F.sum("c2").cast("bigint").alias("c1"))
    vocab_n = toks.agg(F.countDistinct("term").cast("bigint").alias("v"))
    scored = (
        big.join(c2, ["w1", "w2"])
        .join(c1, "w1")
        .crossJoin(F.broadcast(vocab_n))
        .select(
            "doc_id",
            F.round(
                F.log((F.col("c2") + F.lit(k)) / (F.col("c1") + F.lit(k) * F.col("v")))
                * F.lit(1e6),
                0,
            )
            .cast("long")
            .alias("lpm"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_bigrams"),
        (
            F.floor(F.sum("lpm").cast("double") / F.count("*")) / F.lit(1e6)
        ).alias("avg_logprob"),
    )


def blocklist_matches(documents: DataFrame, phrases: list[str]) -> DataFrame:
    """Match a corpus against a banned-phrase list in ONE scan: token
    n-grams of each needed length are exploded once and equi-joined
    against the broadcast blocklist — the production content-filter
    shape. N substring scans (``text LIKE '%p%'`` per phrase) re-read
    the corpus N times and cannot be indexed; the n-gram join reads it
    once per distinct phrase LENGTH (usually 1-3 passes for thousands
    of phrases) and matches on a hash join. Matching is token-level
    (lowercased ``[a-z]+`` stream), so punctuation/case variants of a
    banned phrase still hit — what a naive LIKE misses.

    Output: (doc_id, phrase, n_matches) — one row per document per
    matched phrase, n_matches counting overlapping occurrences by
    start position. Clean docs and unmatched phrases emit no row
    (inner-join semantics).

    Scale shape: gram fanout is ~|tokens| rows per distinct length —
    map-side explode, no shuffle; the blocklist (bounded, curated)
    broadcasts, built JVM-side via explode(array(lit..)) so no Python
    RDD scan enters the plan; the only shuffle is the final
    (doc_id, phrase) count partial agg.
    """
    from page_rank_hadoop_spark.sources.catalog import ensure_parallel

    plist = sorted({tuple(p.split()) for p in phrases})
    if not plist:
        raise ValueError("blocklist_matches needs at least one phrase")
    lengths = sorted({len(p) for p in plist})
    toks = ensure_parallel(documents).select("doc_id", tokens("text").alias("_t"))

    def _gram(n: int):
        # factory, not a defaulted lambda: a two-parameter lambda inside
        # F.transform is silently treated as (element, array_index)
        return lambda i: F.array_join(F.slice("_t", i + 1, n), " ")

    streams = []
    for length in lengths:
        grams = F.transform(
            F.sequence(F.lit(0), F.size("_t") - length), _gram(length)
        )
        streams.append(
            toks.where(F.size("_t") >= length)
            .select("doc_id", F.explode(grams).alias("gram"))
        )
    all_grams = streams[0]
    for s in streams[1:]:
        all_grams = all_grams.unionByName(s)
    bl = (
        documents.sparkSession.range(1)
        .select(
            F.explode(
                F.array(*[F.lit(" ".join(p)) for p in plist])
            ).alias("phrase")
        )
    )
    return (
        all_grams.join(F.broadcast(bl), all_grams["gram"] == bl["phrase"])
        .groupBy("doc_id", "phrase")
        .agg(F.count("*").cast("bigint").alias("n_matches"))
    )


def quality_funnel(
    documents: DataFrame,
    min_tokens: int = 20,
    ttr_min: float = 0.35,
    top_share_max: float = 0.2,
    dedup_prefix: int = 30,
) -> DataFrame:
    """Staged corpus-filter funnel report: how many documents survive
    each gate of a standard LLM ingest pipeline — (1) length, (2)
    repetition (type-token ratio + top-token share, the Gopher-style
    signals), (3) prefix-exact dedup keep-first. The observability
    query every pipeline run emits: drop-rate per stage, applied
    CUMULATIVELY (a doc must pass all earlier gates to be counted
    downstream). The keep-first rule is evaluated corpus-wide (the
    dedup index sees every doc), independent of the other gates.

    Output: (stage, n_in, n_out) — 4 rows, stage names prefixed
    ``00_..03_`` so lexicographic order IS pipeline order.

    Scale shape: one tokenize → (doc, term) tf shuffle → per-doc
    signal rollup; the dedup keep-first is one groupBy on the prefix
    hash joined back (keyed, no window); the funnel itself collapses
    to a SINGLE 1-row conditional aggregate unpivoted map-side — no
    per-stage rescans of the corpus. Determinism: ttr/top-share are
    exact-int divides compared raw (identical IEEE ops both engines).
    """
    from page_rank_hadoop_spark.sources.catalog import ensure_parallel

    toks = ensure_parallel(documents).select(
        "doc_id", F.explode(tokens("text")).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("c"))
    sig = tf.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("n_distinct"),
        F.max("c").cast("long").alias("max_tf"),
    )
    base = documents.select(
        "doc_id", F.md5(F.substring("text", 1, dedup_prefix)).alias("h")
    )
    keep = base.groupBy("h").agg(F.min("doc_id").alias("keep_id"))
    flags = (
        base.join(sig, "doc_id", "left")
        .join(keep, "h")
        .select(
            (F.coalesce(F.col("n_tokens"), F.lit(0)) >= min_tokens).alias("f1"),
            (
                (F.col("n_distinct").cast("double") / F.col("n_tokens") >= ttr_min)
                & (F.col("max_tf").cast("double") / F.col("n_tokens") <= top_share_max)
            ).alias("_rep"),
            (F.col("doc_id") == F.col("keep_id")).alias("_uniq"),
        )
        .select(
            "f1",
            (F.col("f1") & F.coalesce(F.col("_rep"), F.lit(False))).alias("f2"),
            F.col("_uniq"),
        )
        .select("f1", "f2", (F.col("f2") & F.col("_uniq")).alias("f3"))
    )
    agg = flags.agg(
        F.count("*").cast("long").alias("n0"),
        F.sum(F.col("f1").cast("long")).cast("long").alias("n1"),
        F.sum(F.col("f2").cast("long")).cast("long").alias("n2"),
        F.sum(F.col("f3").cast("long")).cast("long").alias("n3"),
    )
    stages = F.array(
        F.struct(F.lit("00_all").alias("stage"), F.col("n0").alias("n_in"), F.col("n0").alias("n_out")),
        F.struct(F.lit("01_length").alias("stage"), F.col("n0").alias("n_in"), F.col("n1").alias("n_out")),
        F.struct(F.lit("02_repetition").alias("stage"), F.col("n1").alias("n_in"), F.col("n2").alias("n_out")),
        F.struct(F.lit("03_dedup_prefix").alias("stage"), F.col("n2").alias("n_in"), F.col("n3").alias("n_out")),
    )
    return agg.select(F.explode(stages).alias("s")).select(
        F.col("s.stage").alias("stage"),
        F.col("s.n_in").alias("n_in"),
        F.col("s.n_out").alias("n_out"),
    )


def ngram_novelty(documents: DataFrame, n: int = 8) -> DataFrame:
    """Per-document n-gram novelty: the share of a doc's DISTINCT
    n-token shingles that occur in no other document (corpus df = 1) —
    the memorization/copy-risk score from the dedup literature (a doc
    whose 8-grams all appear elsewhere is boilerplate or a copy; a
    novelty near 1 is original text). Docs with fewer than ``n`` tokens
    emit no row.

    Scale shape: one tokenize → per-doc distinct shingle explode (map),
    one shuffle for the shingle df count, one keyed join of the stream
    against its own df table (shuffle hash join on the gram — both
    sides hash-partition the same way, and AQE handles the head-gram
    skew), one per-doc rollup. The df table is never collected or
    broadcast: gram vocabulary grows with the corpus.
    """
    from page_rank_hadoop_spark.sources.catalog import ensure_parallel

    toks = ensure_parallel(documents).select(
        "doc_id", tokens("text").alias("_t")
    )

    def _gram(i):
        return F.array_join(F.slice("_t", i + 1, n), " ")

    grams = F.array_distinct(
        F.transform(F.sequence(F.lit(0), F.size("_t") - n), _gram)
    )
    sh = (
        toks.where(F.size("_t") >= n)
        .select("doc_id", F.explode(grams).alias("g"))
    )
    df_ = sh.groupBy("g").agg(F.count("*").cast("long").alias("df"))
    return (
        sh.join(df_, "g")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.sum((F.col("df") == 1).cast("long")).cast("long").alias("n_novel"),
            F.round(
                F.sum((F.col("df") == 1).cast("long")).cast("double")
                / F.count("*"),
                6,
            ).alias("novelty"),
        )
    )


def source_overlap(documents: DataFrame, n: int = 8) -> DataFrame:
    """Cross-source duplication matrix: for every pair of sources, how
    many distinct n-token shingles they share, as an absolute count and
    as a share of each side's shingle vocabulary — the corpus-mixing
    diagnostic run before assigning mixture weights (two sources with
    high overlap are the same data wearing different names; weighting
    both double-counts it).

    Output: (source_a, source_b, n_shared, share_a, share_b) with
    source_a < source_b — at most |sources|² rows, tiny by construction.

    Scale shape: corpus → distinct (source, gram) pairs (one shuffle);
    the self-join keys on the gram, and each gram fans out at most
    |sources|² pair rows (a constant — source cardinality, not corpus
    size); per-source totals are a broadcast-sized side table. Nothing
    here is quadratic in documents.
    """
    from page_rank_hadoop_spark.sources.catalog import ensure_parallel

    toks = ensure_parallel(documents).select(
        "source", tokens("text").alias("_t")
    )

    def _gram(i):
        return F.array_join(F.slice("_t", i + 1, n), " ")

    grams = F.array_distinct(
        F.transform(F.sequence(F.lit(0), F.size("_t") - n), _gram)
    )
    sh = (
        toks.where(F.size("_t") >= n)
        .select("source", F.explode(grams).alias("g"))
        .distinct()
    )
    tot = sh.groupBy("source").agg(F.count("*").cast("long").alias("cnt"))
    a = sh.select(F.col("source").alias("source_a"), "g")
    b = sh.select(F.col("source").alias("source_b"), "g")
    pairs = (
        a.join(b, "g")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").cast("long").alias("n_shared"))
    )
    ta = F.broadcast(tot.select(F.col("source").alias("source_a"), F.col("cnt").alias("_ca")))
    tb = F.broadcast(tot.select(F.col("source").alias("source_b"), F.col("cnt").alias("_cb")))
    return (
        pairs.join(ta, "source_a")
        .join(tb, "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            F.round(F.col("n_shared").cast("double") / F.col("_ca"), 6).alias("share_a"),
            F.round(F.col("n_shared").cast("double") / F.col("_cb"), 6).alias("share_b"),
        )
    )


def vocab_growth(
    documents: DataFrame, fractions: tuple[float, ...] = (0.25, 0.5, 0.75, 1.0)
) -> DataFrame:
    """Vocabulary-growth (Heaps'-law) curve: distinct-term count after
    ingesting the corpus prefix up to each doc_id quantile — the
    diagnostic that tells you whether more data still buys new
    vocabulary (sublinear growth flattening early means the source is
    exhausted/templated). Prefix membership is by doc_id order, the
    stable ingest order of the corpus.

    Output: (frac, doc_id_bound, n_docs, n_tokens, vocab_size), one row
    per requested fraction.

    Scale shape: NO windows and no rank — each term's first-occurrence
    doc (min(doc_id), one keyed shuffle) turns every prefix question
    into a conditional count; the quantile bounds ride a broadcast
    1-row exact-percentile aggregate; everything else is two
    partial-agg passes folded into single rows and exploded map-side.
    """
    from page_rank_hadoop_spark.sources.catalog import ensure_parallel

    fr = list(fractions)
    toks = ensure_parallel(documents).select(
        "doc_id", F.explode(tokens("text")).alias("term")
    )
    first = toks.groupBy("term").agg(F.min("doc_id").alias("fd"))
    per_doc = toks.groupBy("doc_id").agg(F.count("*").cast("long").alias("nt"))
    bounds = documents.agg(
        *[
            F.expr(f"percentile(doc_id, {f})").alias(f"b{i}")
            for i, f in enumerate(fr)
        ]
    )
    vstats = first.crossJoin(F.broadcast(bounds)).agg(
        *[
            F.sum((F.col("fd") <= F.col(f"b{i}")).cast("long"))
            .cast("long")
            .alias(f"v{i}")
            for i in range(len(fr))
        ],
        *[F.first(f"b{i}").alias(f"b{i}") for i in range(len(fr))],
    )
    dstats = per_doc.crossJoin(F.broadcast(bounds)).agg(
        *[
            F.sum((F.col("doc_id") <= F.col(f"b{i}")).cast("long"))
            .cast("long")
            .alias(f"d{i}")
            for i in range(len(fr))
        ],
        *[
            F.sum(F.when(F.col("doc_id") <= F.col(f"b{i}"), F.col("nt")).otherwise(0))
            .cast("long")
            .alias(f"t{i}")
            for i in range(len(fr))
        ],
    )
    one = vstats.crossJoin(F.broadcast(dstats))
    rows = F.array(
        *[
            F.struct(
                F.lit(f).cast("double").alias("frac"),
                F.round(F.col(f"b{i}"), 6).alias("doc_id_bound"),
                F.col(f"d{i}").alias("n_docs"),
                F.col(f"t{i}").alias("n_tokens"),
                F.col(f"v{i}").alias("vocab_size"),
            )
            for i, f in enumerate(fr)
        ]
    )
    return one.select(F.explode(rows).alias("r")).select(
        F.col("r.frac").alias("frac"),
        F.col("r.doc_id_bound").alias("doc_id_bound"),
        F.col("r.n_docs").alias("n_docs"),
        F.col("r.n_tokens").alias("n_tokens"),
        F.col("r.vocab_size").alias("vocab_size"),
    )


def vocab_drift(documents: DataFrame, k: float = 0.5) -> DataFrame:
    """Vocabulary drift between the first and second half of the corpus
    (by doc_id order, the ingest order): add-k-smoothed unigram
    distributions P (first half) and Q (second half), reported as both
    KL directions and the symmetric Jensen-Shannon divergence — the
    distribution-shift alarm a pipeline checks before concluding two
    snapshots are "the same corpus". One output row.

    Scale shape: one tokenize with the half label attached map-side
    (split point = broadcast exact-median doc_id), ONE per-term count
    aggregate carrying both halves as conditional sums (no join of two
    half-tables), broadcast 1-row totals, one final sum. Engine
    determinism: per-term divergence contributions are snapped to
    integer NANO-units (contributions are ~1e-9..1e-3 — micro would
    quantize them away) and summed exactly; the output divides the
    integer sum once.
    """
    toks_half = (
        documents.crossJoin(
            F.broadcast(documents.agg(F.expr("percentile(doc_id, 0.5)").alias("mid")))
        )
        .select(
            F.when(F.col("doc_id") <= F.col("mid"), F.lit("a"))
            .otherwise(F.lit("b"))
            .alias("half"),
            F.explode(tokens("text")).alias("term"),
        )
    )
    counts = toks_half.groupBy("term").agg(
        F.sum((F.col("half") == "a").cast("long")).cast("long").alias("ca"),
        F.sum((F.col("half") == "b").cast("long")).cast("long").alias("cb"),
    )
    totals = counts.agg(
        F.sum("ca").cast("long").alias("na"),
        F.sum("cb").cast("long").alias("nb"),
        F.count("*").cast("long").alias("v"),
    )
    pa = (F.col("ca") + F.lit(k)) / (F.col("na") + F.lit(k) * F.col("v"))
    pb = (F.col("cb") + F.lit(k)) / (F.col("nb") + F.lit(k) * F.col("v"))
    m = (pa + pb) / F.lit(2.0)
    nano = lambda c: F.round(c * F.lit(1e9), 0).cast("long")  # noqa: E731
    per_term = counts.crossJoin(F.broadcast(totals)).select(
        nano(pa * F.log(pa / pb)).alias("kab"),
        nano(pb * F.log(pb / pa)).alias("kba"),
        nano(F.lit(0.5) * pa * F.log(pa / m) + F.lit(0.5) * pb * F.log(pb / m)).alias(
            "js"
        ),
    )
    return per_term.agg(
        F.count("*").cast("long").alias("n_terms"),
        F.round(F.sum("kab").cast("double") / F.lit(1e9), 6).alias("kl_first_second"),
        F.round(F.sum("kba").cast("double") / F.lit(1e9), 6).alias("kl_second_first"),
        F.round(F.sum("js").cast("double") / F.lit(1e9), 6).alias("js_divergence"),
    )


def bpe_compression_by_source(
    documents: DataFrame, merges: list[tuple[str, str]] | None = None
) -> DataFrame:
    """Tokenizer-efficiency report per source: encode the corpus with
    the merge table (bpe_encode_stats) and roll pieces/words/chars up
    by source — pieces-per-word and chars-per-piece are the numbers a
    tokenizer team watches per domain (a source whose compression is an
    outlier is under-served by the vocabulary and will burn budget).

    Scale shape: the encode is the existing rules×scan fold; the rollup
    adds one doc_id join (chars ride the same token explode) and one
    |sources|-row aggregate. Ratios are exact-integer divides, 6dp.
    """
    per_doc = bpe_encode_stats(documents, merges)
    from page_rank_hadoop_spark.sources.catalog import ensure_parallel

    chars = (
        ensure_parallel(documents)
        .select("doc_id", "source", F.explode(tokens("text")).alias("w"))
        .groupBy("doc_id", "source")
        .agg(F.sum(F.length("w")).cast("long").alias("n_chars"))
    )
    return (
        per_doc.join(chars, "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_words").cast("long").alias("n_words"),
            F.sum("n_pieces").cast("long").alias("n_pieces"),
            F.sum("n_chars").cast("long").alias("n_chars"),
        )
        .select(
            "source",
            "n_docs",
            "n_words",
            "n_pieces",
            "n_chars",
            F.round(F.col("n_pieces").cast("double") / F.col("n_words"), 6).alias(
                "pieces_per_word"
            ),
            F.round(F.col("n_chars").cast("double") / F.col("n_pieces"), 6).alias(
                "chars_per_piece"
            ),
        )
    )


def textrank_keywords(
    documents: DataFrame,
    n_iter: int = 10,
    alpha: float = 0.15,
    min_len: int = 4,
    top_k: int = 100,
) -> DataFrame:
    """TextRank corpus keywords (Mihalcea & Tarau 2004): PageRank over
    the word co-occurrence graph — nodes are content terms (letters
    only, ≥ ``min_len`` chars), undirected edges connect ADJACENT
    tokens, score is ``n_iter`` fixed PageRank rounds, output the
    ``top_k`` terms by (6dp score desc, term). Corpus-level keyword
    extraction: the reference ranks DOCUMENTS with PageRank
    (pageRank.scala:331-393); this reuses the identical iteration
    algebra on the co-occurrence graph a doc-profiling pipeline builds
    anyway.

    Spark shape: token adjacency is a per-doc lead() window (bounded by
    doc length, never global), the graph is a distinct projection, and
    each PageRank round is the one-Exchange contribution groupBy of
    run_pagerank — the word graph is symmetric so there are no dangling
    nodes and the α-formula needs no NULL-sink augmentation. Loop
    hygiene: eager localCheckpoint per round; the oracle unrolls the
    same rounds through _sql_pagerank_iters over the word-graph CTEs.
    """
    from pyspark.sql import Window

    from page_rank_hadoop_spark.operators.index import token_stream
    from page_rank_hadoop_spark.session import loop_scope
    from page_rank_hadoop_spark.sources.catalog import ensure_parallel

    toks = token_stream(ensure_parallel(documents))
    w = Window.partitionBy("doc_id").orderBy("pos")
    word_re = f"^[a-z]{{{min_len},}}$"
    pairs = (
        toks.select(
            F.col("term").alias("a"), F.lead("term").over(w).alias("b")
        )
        .filter(
            F.col("b").isNotNull()
            & (F.col("a") != F.col("b"))
            & F.col("a").rlike(word_re)
            & F.col("b").rlike(word_re)
        )
    )
    edges = (
        pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .unionByName(pairs.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .distinct()
        .localCheckpoint()
    )
    # outdegree folded INTO the checkpointed edge table once (round 11):
    # the loop used to re-aggregate deg and re-join it every round — one
    # whole extra Exchange + HashAggregate per iteration for a value
    # that never changes (guide §2.4: remove shuffles outright). The
    # per-round contribution sum is arithmetic-identical: the same
    # pr/outdeg terms reach the same groupBy.
    # Round 12 (ADVICE r11): the vocab-sized deg table is checkpointed
    # once and serves three roles — the per-edge outdeg join, the vertex
    # set (its keys ARE the distinct srcs of the symmetric edge set),
    # and, via ONE tiny agg, both pre-loop scalars (vertex count and the
    # broadcast-guard edge count = Σ outdeg). That drops the separate
    # verts distinct+checkpoint job and the two standalone count jobs.
    deg = edges.groupBy("src").agg(F.count("*").alias("outdeg")).localCheckpoint()
    edges = edges.join(deg, "src").localCheckpoint()
    verts = deg.select(F.col("src").alias("id"))
    stats = deg.agg(
        F.count("*").alias("nv"), F.sum("outdeg").alias("ne")
    ).first()
    n, n_edges = stats["nv"], stats["ne"] or 0
    if n == 0:  # no content terms: nothing to rank, and α/n is undefined
        return deg.select(F.col("src").alias("term"), F.lit(0.0).alias("score"))
    # small-graph loop hints (round 11 — the graph.py convention):
    # checkpointed pr/contrib frames are stats-free LogicalRDDs, so AQE
    # never auto-broadcasts them and each round paid a full edge-table
    # exchange; below the threshold an explicit broadcast of the
    # vocab-sized rank side collapses the per-round exchanges to the
    # one contribution groupBy.
    bc = F.broadcast if n_edges <= 1_000_000 else (lambda df: df)
    with loop_scope(documents.sparkSession, "auto", lambda: n_edges):
        pr = verts.select("id", F.lit(1.0).alias("pr")).localCheckpoint()
        for _ in range(n_iter):
            contrib = (
                edges.join(bc(pr.withColumnRenamed("id", "src")), "src")
                .groupBy(F.col("dst").alias("id"))
                .agg(F.sum(F.col("pr") / F.col("outdeg")).alias("c"))
            )
            pr = (
                verts.join(bc(contrib), "id", "left")
                .select(
                    "id",
                    (
                        F.lit(alpha / n)
                        + F.lit(1.0 - alpha) * F.coalesce("c", F.lit(0.0))
                    ).alias("pr"),
                )
                .localCheckpoint()
            )
    return (
        pr.select(F.col("id").alias("term"), F.round("pr", 6).alias("score"))
        .orderBy(F.desc("score"), "term")
        .limit(top_k)
    )


def dsir_select(
    documents: DataFrame,
    n_buckets: int = 512,
    target_mod: int = 10,
    keep_frac: float = 0.25,
) -> DataFrame:
    """DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
    arXiv:2302.03169): score every RAW document by how target-like its
    hashed-unigram distribution is, then keep the top ``keep_frac``.
    The standard pretraining-data curation move when a small trusted
    slice (here the deterministic ``doc_id % target_mod == 0`` cohort)
    defines "quality" and the bulk corpus must be filtered toward it.

    Per-bucket importance: tokens hash into ``n_buckets`` md5 buckets
    (the engine-portable hash — functions/hashing.py); with c_t/c_r the
    target/raw bucket counts and T_t/T_r their totals, the bucket's
    log-ratio is

        lr(b) = ln((c_t+1)/(T_t+B)) − ln((c_r+1)/(T_r+B))   (add-1 smoothing)

    stored as INTEGER MICRO-UNITS (round(lr·1e6)) so the per-document
    score Σ_b n_doc(b)·lr_int(b) is an exact, order-independent integer
    sum — the q_mmr_rerank precedent for float-free loop arithmetic;
    the only doubles are one division per doc (exact ints in, same IEEE
    result in both engines) at the very end. The reported weight is the
    per-token average (length-normalized, so long documents don't
    dominate selection).

    Selection is top-k by (weight DESC, doc_id) with
    k = floor(keep_frac·n_raw) — computed WITHOUT a global window: the
    k-th row comes from a TakeOrderedAndProject (``orderBy().limit(k)``
    — the O1 top-k shape, distributed partial top-k per partition) and
    every doc compares lexicographically against that threshold row.

    Shuffle profile: one (doc, bucket) groupBy over token occurrences,
    one B-row bucket aggregate (map-side combined; B = 512 rows
    broadcast back), one per-doc sum, one top-k. Nothing quadratic, no
    global sort or window; the bucket table is O(B) regardless of
    corpus size, which is the point of HASHED n-gram DSIR at 100 TB.

    Returns one row per raw doc: (doc_id, n_tokens, dsir_weight,
    selected); zero-token docs carry NULL weight and are never selected.
    """
    from page_rank_hadoop_spark.sources.catalog import ensure_parallel

    is_target = (F.col("doc_id") % target_mod) == 0
    tok = ensure_parallel(documents).select(
        "doc_id", F.explode(tokens("text")).alias("term")
    )
    bucket = F.pmod(
        F.conv(F.substring(F.md5("term"), 1, 8), 16, 10).cast("long"),
        F.lit(n_buckets),
    )
    db = tok.select("doc_id", bucket.alias("bucket")).groupBy(
        "doc_id", "bucket"
    ).agg(F.count("*").alias("n"))
    # the (doc,bucket) counts feed THREE consumers (bucket totals, the
    # grand totals behind them, and the per-doc sum) — without a
    # materialization the tokenize→md5→explode pass re-executes for each;
    # one eager checkpoint makes it a single corpus scan
    db = db.localCheckpoint()
    bt = db.groupBy("bucket").agg(
        F.sum(F.when(is_target, F.col("n")).otherwise(F.lit(0))).alias("ct"),
        F.sum(F.when(~is_target, F.col("n")).otherwise(F.lit(0))).alias("cr"),
    )
    tot = bt.agg(
        F.sum("ct").alias("tt"), F.sum("cr").alias("tr")
    )
    lr = (
        bt.crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            F.round(
                F.lit(1e6)
                * (
                    F.log((F.col("ct") + 1).cast("double") / (F.col("tt") + n_buckets))
                    - F.log((F.col("cr") + 1).cast("double") / (F.col("tr") + n_buckets))
                ),
                0,
            )
            .cast("long")
            .alias("lri"),
        )
    )
    # per-token average in EXACT integer micro-units: avg = round-half-
    # up(wi / n_tokens) = floor((2·wi + n) / (2·n)), with floor division
    # built from pmod so truncation-vs-floor semantics can't diverge
    # between engines on negative sums. The division itself uses the
    # integer `div` operator on the pmod-aligned numerator (exactly
    # divisible, so truncate==floor) — the arithmetic stays in 64-bit
    # integers end to end; a double division here would silently lose
    # exactness once 2·wi + n_tokens exceeds 2^53 (ADVICE r10). The only
    # double anywhere is the final /1e6 display scaling of an exact
    # integer — bit-identical in both engines (same int, same single
    # IEEE op).
    w = (
        db.filter(~is_target)
        .join(F.broadcast(lr), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("n").cast("long").alias("n_tokens"),
            F.sum(F.col("n") * F.col("lri")).cast("long").alias("wi"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.expr(
                "(2*wi + n_tokens - pmod(2*wi + n_tokens, 2*n_tokens))"
                " div (2*n_tokens)"
            ).alias("avg_micro"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "avg_micro",
            (F.col("avg_micro") / F.lit(1e6)).alias("dsir_weight"),
        )
    )
    # materialize once — the threshold pass and the final projection both
    # scan it (the embedding_near_dup_pairs lifetime pattern: eager
    # localCheckpoint, blocks released with the frame, nothing to leak
    # across repeated calls)
    w = w.localCheckpoint()
    n_raw = documents.filter(~is_target).count()
    k = int(n_raw * keep_frac)
    # threshold row = k-th in (weight DESC, doc_id ASC) order, via two
    # TakeOrderedAndProjects (distributed partial top-k — no single-
    # partition window anywhere); a 1-row collect is a scalar action,
    # same class as the n/count actions every loop here already takes.
    thr_rows = (
        w.orderBy(F.desc("avg_micro"), F.asc("doc_id"))
        .limit(k)
        .orderBy(F.asc("avg_micro"), F.desc("doc_id"))
        .limit(1)
        .collect()
        if k > 0
        else []
    )
    if thr_rows:
        tw, td = thr_rows[0]["avg_micro"], thr_rows[0]["doc_id"]
        selected = F.when(F.col("avg_micro").isNull(), F.lit(False)).otherwise(
            (F.col("avg_micro") > F.lit(tw))
            | ((F.col("avg_micro") == F.lit(tw)) & (F.col("doc_id") <= F.lit(td)))
        )
    else:
        selected = F.lit(False)
    return (
        ensure_parallel(documents)
        .filter(~is_target)
        .select("doc_id")
        .join(w, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            "dsir_weight",
            selected.alias("selected"),
        )
    )
