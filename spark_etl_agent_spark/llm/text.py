"""Text-analysis operators over a string column — all native
``pyspark.sql.functions`` (JVM-side, whole-stage-codegen'd; no Python in
the hot path).

At 100 TB these are embarrassingly parallel per-row projections: no
shuffle at all, limited only by scan bandwidth — exactly the shape you
want for a corpus-wide quality pass.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

EN_STOPWORDS = ("the", "a", "of", "and", "to", "in")


def words_of(text: Column) -> Column:
    return F.split(F.lower(text), r"\s+")


def text_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document statistics: chars, words, avg word length, vowel
    ratio and a composite quality score (pure double arithmetic on
    integer inputs — deterministic)."""
    text = F.col(text_col)
    words = words_of(text)
    n_chars = F.length(text).cast("long")
    n_words = F.size(words).cast("long")
    alpha_chars = F.length(F.regexp_replace(text, r"\s", "")).cast("long")
    n_vowels = (
        F.length(text) - F.length(F.regexp_replace(F.lower(text), "[aeiou]", ""))
    ).cast("long")
    return df.select(
        F.col(id_col),
        n_chars.alias("n_chars_m"),
        n_words.alias("n_words"),
        (alpha_chars.cast("double") / n_words).alias("avg_word_len"),
        (n_vowels.cast("double") / n_chars).alias("vowel_ratio"),
        # quality heuristic: length-normalized word density
        (n_words.cast("double") / (n_chars + F.lit(1))).alias("word_density"),
    )


def language_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """n-gram/stopword-vote language heuristic. Real multilingual ID
    would extend the vote table per language; the operator shape (array
    filter + threshold vote, no UDF) is the point."""
    words = words_of(F.col(text_col))
    en_hits = F.size(
        F.filter(words, lambda w: w.isin(*EN_STOPWORDS))
    ).cast("long")
    return df.select(
        F.col(id_col),
        en_hits.alias("en_stopword_hits"),
        F.when(en_hits >= 3, "en")
        .when(en_hits >= 1, "mixed")
        .otherwise("other")
        .alias("predicted_lang"),
    )


# BPE-style pre-tokenizer alternation (GPT-2 shape, ASCII-simplified —
# engine-portable: plain ordered alternation, no lookarounds):
# space-prefixed letter runs | digit runs | punctuation runs | whitespace
BPE_TOKEN_RE = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+"


def token_counts(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Token counting three ways: whitespace tokens, a real BPE-style
    regex pre-tokenization count (the segmentation a byte-pair encoder
    runs on, minus the merges — the honest proxy for LLM token budget),
    and the chars/4 rule-of-thumb estimate. All native expressions."""
    text = F.col(text_col)
    return df.select(
        F.col(id_col),
        F.size(words_of(text)).cast("long").alias("ws_tokens"),
        F.size(F.expr(f"regexp_extract_all({text_col}, '{BPE_TOKEN_RE}', 0)"))
        .cast("long")
        .alias("bpe_regex_tokens"),
        F.expr(f"(length({text_col}) + 3) div 4").alias("bpe_est_tokens"),
    )


def fingerprints(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Document fingerprints: full-content hash, a prefix fingerprint of
    the whitespace-squashed text (cheap near-dup prefilter), and a
    Rabin-Karp-style rolling polynomial hash (base 31 mod 1e9+7) over
    the first 64 squashed chars — the incremental-hash primitive for
    windowed fingerprinting, exact in integer arithmetic."""
    text = F.col(text_col)
    squashed = F.regexp_replace(F.lower(text), r"\s+", "")
    rolling = F.expr(
        "aggregate(transform(sequence(1, length(substr(_sq, 1, 64))), "
        "i -> cast(ascii(substr(substr(_sq, 1, 64), i, 1)) as bigint)), "
        "cast(0 as bigint), (a, c) -> (a * 31 + c) % 1000000007)"
    )
    return df.withColumn("_sq", squashed).select(
        F.col(id_col),
        F.md5(text).alias("content_hash"),
        F.md5(F.substring("_sq", 1, 64)).alias("prefix_fingerprint"),
        rolling.alias("rolling_hash"),
        F.length("_sq").cast("long").alias("squashed_len"),
    )


def tfidf_top_terms(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3
) -> DataFrame:
    """Per-document top-k TF-IDF terms — the classic keyword/topic
    primitive of a training-data pipeline.

    Shape: explode to (doc, term) → tf agg (one shuffle on the pair,
    map-side combined) → document frequency derived FROM the tf table
    (tf rows are already distinct doc-term pairs, so df is a plain
    count — no second pass over raw text) → join on term (co-partitioned
    with df's own shuffle) → scalar doc count broadcast → top-k by
    row_number windowed on the doc id. Every shuffle key is bounded or
    uniform; nothing touches the driver.

    Determinism: ``ln`` is transcendental and differs in the last ULP
    between the JVM's Math.log and C libm, so the raw double score is
    NOT cross-engine-stable. The score is therefore quantized to
    integer micro-units — ``floor(tf · ln(N/df) · 1e6)`` — before
    ranking and output: integer comparison is exact, and a 1-ULP input
    wobble (~2e-10 at this scale) changes the floor only when the value
    sits within that distance of an integer boundary (negligible, and
    semantically a tie anyway). The window order carries the term as
    tie-break."""
    from pyspark.sql import Window

    toks = df.select(F.col(id_col), F.explode(words_of(F.col(text_col))).alias("term"))
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_"))
    n_docs = df.agg(F.count(F.lit(1)).alias("_n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf_micro",
            F.floor(
                F.col("tf")
                * F.log(F.col("_n_docs").cast("double") / F.col("df_"))
                * 1e6
            ).cast("bigint"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf_micro"), F.asc("term"))
    return (
        scored.withColumn("term_rank", F.row_number().over(w))
        .filter(F.col("term_rank") <= k)
        .select(id_col, "term", "tf", "df_", "tfidf_micro", "term_rank")
    )


def bpe_pair_counts(df: DataFrame, text_col: str = "text", k: int = 50) -> DataFrame:
    """First step of BPE tokenizer training at corpus scale: adjacent
    character-pair frequencies, counted over the *weighted vocabulary*.

    The classic BPE trick that makes this tractable at 100 TB: collapse
    the corpus to (distinct word, frequency) first — the vocabulary is
    orders of magnitude smaller than the token stream — then explode
    each distinct word's adjacent pairs once and weight by the word's
    corpus frequency. Two bounded shuffles (word, then pair ≤
    alphabet²); the raw text is scanned exactly once. Each merge round
    of real BPE training re-runs this count over the re-segmented
    vocabulary; ``llm.bpe.bpe_train`` collects the vocabulary once and
    runs those rounds on the driver.
    """
    wf = (
        df.select(F.explode(words_of(F.col(text_col))).alias("word"))
        .filter(F.length("word") >= 2)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wfreq"))
    )
    pairs = wf.select(
        F.explode(
            F.expr("transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))")
        ).alias("pair"),
        "wfreq",
    )
    from pyspark.sql import Window

    top = (
        pairs.groupBy("pair")
        .agg(F.sum("wfreq").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), "pair")
        .limit(k)
    )
    # bounded: runs over the post-limit(k) top frame only
    w = Window.orderBy(F.desc("n_occurrences"), "pair")
    return top.withColumn("rnk", F.row_number().over(w).cast("int"))


def unigram_doc_logprob(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Corpus-level unigram language-model score per document — the
    classic quality/fluency signal for corpus filtering (documents with
    very low average token log-probability are gibberish or boilerplate
    outliers).

    Shape: token explode → unigram counts (bounded-vocab shuffle with
    map-side combine) → scalar total broadcast → join tokens back to
    their counts (co-partitioned with the count shuffle) → per-doc sum.
    Two bounded shuffles; the corpus is scanned once.

    Determinism: ``ln`` is transcendental (1-ULP engine wobble) and the
    per-doc sum order is partition-dependent, so the per-token
    log-probs are quantized to integer micro-units FIRST (floor, exact
    int sum after) — the summed integers are order-independent and
    cross-engine stable (the ``tfidf_micro`` idiom)."""
    toks = df.select(F.col(id_col), F.explode(words_of(F.col(text_col))).alias("w"))
    counts = toks.groupBy("w").agg(F.count(F.lit(1)).alias("wc"))
    total = counts.agg(F.sum("wc").alias("_tot"))
    scored = (
        toks.join(counts, "w")
        .join(F.broadcast(total))
        .withColumn(
            "lp_micro",
            F.floor(
                F.log(F.col("wc").cast("double") / F.col("_tot").cast("double"))
                * 1e6
            ).cast("bigint"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("lp_micro").alias("logprob_micro_sum"),
        F.floor(
            F.sum("lp_micro").cast("double") / F.count(F.lit(1)).cast("double")
        ).cast("bigint").alias("avg_logprob_micro"),
    )


def repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 3,
) -> DataFrame:
    """Boilerplate/repetition quality signal (the Gopher-rules shape):
    per document, the share of tokens covered by its single most
    repeated word n-gram — near 0 for natural prose, high for
    templated/boilerplate text and degenerate loops.

    Shape: per-doc n-grams via one ``transform`` over the token array
    (no corpus-wide vocabulary), ``explode`` → count per (doc, gram) →
    max per doc; shuffles on (doc, gram) then doc — both uniform,
    map-side combined. The corpus is scanned once."""
    words = words_of(F.col(text_col))
    n = F.size(words)
    grams = F.when(
        n >= ngram,
        F.transform(
            F.sequence(F.lit(1), n - (ngram - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(words, i + off) for off in range(ngram)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))

    exploded = df.select(
        F.col(id_col), n.alias("_n_words"), F.explode_outer(grams).alias("gram")
    )
    per_gram = exploded.groupBy(id_col, "_n_words", "gram").agg(
        F.count(F.lit(1)).alias("_cnt")
    )
    return per_gram.groupBy(id_col, "_n_words").agg(
        F.max(F.when(F.col("gram").isNotNull(), F.col("_cnt")).otherwise(0)).alias(
            "top_ngram_count"
        )
    ).select(
        id_col,
        F.col("_n_words").alias("n_words"),
        "top_ngram_count",
        F.when(
            F.col("_n_words") >= ngram,
            (F.col("top_ngram_count") * F.lit(ngram)).cast("double")
            / F.col("_n_words"),
        )
        .otherwise(F.lit(0.0))
        .alias("repetition_ratio"),
    )


def linear_quality_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 256,
) -> DataFrame:
    """fastText-style linear document scorer over hashed bag-of-words
    features — the cheap trained-classifier tier of a corpus quality
    gate (CCNet/fastText shape: hash token → bucket, score = Σ
    count_b·w_b, threshold into quality bins).

    The weight table here is derived deterministically from each
    bucket's md5 (a stand-in for trained weights — the hashing trick,
    exact-integer scoring, and bucketing are the product; swapping in a
    trained ``(bucket, w_milli)`` table changes one line). Weights are
    integer milli-units so the per-document sum is an exact long —
    order- and partitioning-independent, matching the DuckDB oracle
    bit-for-bit. One scan, one uniform groupBy on the doc id; the
    weight lookup is pure expression (no join, no UDF).

    Output: ``(id, n_tokens, z_milli, mean_w_milli, quality_bucket)``
    where ``quality_bucket = floor(mean_w_milli / 100)`` bins documents
    into ~20 stable quality bands. Token-less documents emit no row
    (nothing to score).
    """
    toks = df.select(
        F.col(id_col),
        F.explode(
            F.filter(words_of(F.col(text_col)), lambda w: F.length(w) >= 1)
        ).alias("w"),
    )
    bucket = (
        F.conv(F.substring(F.md5("w"), 1, 8), 16, 10).cast("long")
        % n_buckets
    )
    w_milli = (
        F.conv(
            F.substring(F.md5(bucket.cast("string")), 1, 4), 16, 10
        ).cast("long")
        % 2001
    ) - 1000
    scored = toks.select(F.col(id_col), w_milli.alias("w_milli"))
    agg = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("w_milli").alias("z_milli"),
    )
    mean = F.col("z_milli").cast("double") / F.col("n_tokens")
    return agg.select(
        id_col,
        "n_tokens",
        "z_milli",
        mean.alias("mean_w_milli"),
        F.floor(mean / F.lit(100.0)).cast("int").alias("quality_bucket"),
    )


# decimal(38,0) intermediate: c12·N·1e6 overflows int64 once c12·n_docs
# exceeds ~9.2e12 (a frequent pair in a ≥3M-doc corpus) and non-ANSI
# Spark would wrap silently; the widened multiply matches DuckDB's
# hugeint arithmetic exactly, keeping the ranking sound at 100 TB.
LIFT_PPM_EXPR = (
    "(cast(c12 as decimal(38,0)) * _n * 1000000) div (c1 * c2)"
)


def word_pair_pmi(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = 5,
    top_n: int = 40,
    max_vocab: int = 10_000,
) -> DataFrame:
    """Top co-occurring word pairs by PMI — the collocation / phrase
    mining primitive (corpus analytics for tokenizer design and
    boilerplate discovery).

    Shape: distinct words per doc (array_distinct before the explode —
    presence, not frequency) → document frequencies (one bounded-key
    shuffle) → vocabulary gate broadcast back → per-doc pair self-join
    on the doc key → one (w1, w2) shuffle with map-side combine →
    scalar doc-count broadcast.

    The vocabulary gate is BOUNDED ABOVE by construction, not just
    below: ``min_df`` trims the rare tail, and ``max_vocab`` keeps only
    the top-V words by document frequency (ties broken on the word) —
    at 100 TB a min-df filter alone still passes billions of distinct
    tokens, which would sink the broadcast; the top-V cap is what makes
    the broadcast and the per-doc pair fan-out O(V), the standard
    collocation-mining design. The cap is a distributed
    TakeOrderedAndProject, never a driver sort.

    Determinism: the ranking/score ``lift_ppm = (c12 · N · 1e6) div
    (c1 · c2)`` is pure int64 (exact in any order, both engines);
    ``pmi_micro = floor(ln(lift) · 1e6)`` is reported alongside under
    the tfidf 1-ULP-tolerance idiom. Ties break on the pair itself.
    """
    from pyspark.sql import Window

    words = (
        df.select(
            F.col(id_col).alias("doc"),
            F.explode(F.array_distinct(words_of(F.col(text_col)))).alias("w"),
        )
        .filter(F.length("w") >= 1)
    )
    dfreq = words.groupBy("w").agg(F.count(F.lit(1)).alias("wdf"))
    vocab = (
        dfreq.filter(F.col("wdf") >= min_df)
        .orderBy(F.desc("wdf"), F.asc("w"))
        .limit(max_vocab)
    )
    wv = words.join(F.broadcast(vocab), "w")
    a = wv.select("doc", F.col("w").alias("w1"), F.col("wdf").alias("c1"))
    b = wv.select(F.col("doc").alias("doc2"), F.col("w").alias("w2"), F.col("wdf").alias("c2"))
    pair_counts = (
        a.join(b, (F.col("doc") == F.col("doc2")) & (F.col("w1") < F.col("w2")))
        .groupBy("w1", "w2", "c1", "c2")
        .agg(F.count(F.lit(1)).alias("c12"))
    )
    n_docs = df.agg(F.count(F.lit(1)).alias("_n"))
    scored = pair_counts.crossJoin(F.broadcast(n_docs)).select(
        "w1",
        "w2",
        "c12",
        "c1",
        "c2",
        F.expr(LIFT_PPM_EXPR).cast("long").alias("lift_ppm"),
        F.floor(
            F.log(
                F.col("c12").cast("double")
                * F.col("_n").cast("double")
                / (F.col("c1").cast("double") * F.col("c2").cast("double"))
            )
            * 1e6
        ).cast("long").alias("pmi_micro"),
    )
    # top-N first via TakeOrderedAndProject (distributed bounded
    # reduction — no unpartitioned window ever sees the full pair set);
    # the rank window then runs over ≤ top_n rows.
    top = scored.orderBy(F.desc("lift_ppm"), F.asc("w1"), F.asc("w2")).limit(top_n)
    # bounded: runs over the post-limit(top_n) frame only
    w = Window.orderBy(F.desc("lift_ppm"), F.asc("w1"), F.asc("w2"))
    return top.withColumn("pair_rank", F.row_number().over(w)).select(
        "pair_rank", "w1", "w2", "c12", "c1", "c2", "lift_ppm", "pmi_micro"
    )


def vocab_coverage_curve(
    df: DataFrame, text_col: str = "text", top_n: int = 50
) -> DataFrame:
    """Zipf coverage curve for tokenizer-vocabulary sizing: how much of
    the corpus the ``top_n`` most frequent tokens cover.

    Output per rank: ``(tok_rank, token, tok_count, cum_count,
    cum_share_ppm)`` with the cumulative share as an exact integer ppm
    (``decimal(38,0)`` intermediate — ``cum_count * 1e6`` passes int64
    around ~9.2e12 corpus tokens, well inside a 100 TB corpus).

    Scale shape: ONE uniform token groupBy (map-side combine), a scalar
    total broadcast, and a ``TakeOrderedAndProject`` top-N — the rank /
    prefix-sum window only ever sees ``top_n`` rows, never the vocab.
    """
    from pyspark.sql import Window

    toks = df.select(
        F.explode(
            F.expr(
                f"filter(split(lower({text_col}), '\\\\s+'), "
                "w -> length(w) >= 1)"
            )
        ).alias("token")
    )
    counts = toks.groupBy("token").agg(
        F.count(F.lit(1)).alias("tok_count")
    )
    total = counts.agg(F.sum("tok_count").cast("long").alias("_total"))
    top = counts.orderBy(F.desc("tok_count"), F.asc("token")).limit(top_n)
    order = [F.desc("tok_count"), F.asc("token")]
    # bounded: both windows below run over the post-limit(top_n) frame
    w_cum = (
        Window.orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        top.withColumn("tok_rank", F.row_number().over(Window.orderBy(*order)))
        .withColumn("cum_count", F.sum("tok_count").over(w_cum).cast("long"))
        .crossJoin(F.broadcast(total))
        .select(
            "tok_rank",
            "token",
            "tok_count",
            "cum_count",
            F.expr(
                "(cast(cum_count as decimal(38,0)) * 1000000) div _total"
            )
            .cast("long")
            .alias("cum_share_ppm"),
        )
    )


def dsir_importance(
    df: DataFrame,
    target,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 256,
) -> DataFrame:
    """DSIR importance weights (Xie et al., "Data Selection for
    Language Models via Importance Resampling", NeurIPS 2023): score
    every document by how much its hashed-unigram distribution looks
    like a TARGET subset's distribution vs the raw corpus —
    ``score = Σ_tokens [ln p_target(bucket(w)) − ln p_raw(bucket(w))]``
    with add-one smoothing over ``n_buckets`` hash buckets. High-score
    documents are the ones importance resampling keeps when curating
    pretraining data toward the target domain.

    ``target`` is a boolean Column marking the target subset (e.g.
    ``F.col("lang") == "en"``); target membership is a per-document
    attribute, so the same scan feeds both distributions.

    Shape: one token explode → one compact ``(doc, bucket)`` count
    aggregation (≤ docs × n_buckets rows, persisted and reused for
    BOTH distributions and the scoring join) → the two bucket
    distributions are ≤ n_buckets rows each, joined and broadcast back.
    One uniform shuffle over the corpus; everything downstream of it is
    sketch-sized. At 100 TB the per-bucket counts stay < 2^53, so the
    int64→double quotients are exact in both engines.

    Determinism: each ``ln`` is quantized to micro-units independently
    (``FLOOR(ln(p)·1e6)``) and the per-doc score is an exact int64 sum
    of those integers — the repo's tfidf/unigram-LM idiom, so the
    DuckDB oracle matches bit-for-bit.
    """
    toks = df.select(
        F.col(id_col),
        target.alias("_tgt"),
        F.explode(words_of(F.col(text_col))).alias("w"),
    )
    bucket = (
        F.conv(F.substring(F.md5("w"), 1, 8), 16, 10).cast("long")
        % n_buckets
    ).alias("bucket")
    dbc = (
        toks.select(id_col, "_tgt", bucket)
        .groupBy(id_col, "_tgt", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
        .persist()
    )
    raw = dbc.groupBy("bucket").agg(F.sum("c").alias("cr"))
    tgt = dbc.filter(F.col("_tgt")).groupBy("bucket").agg(
        F.sum("c").alias("ct")
    )
    dists = raw.join(tgt, "bucket", "left").na.fill({"ct": 0})
    totals = dists.agg(
        F.sum("cr").cast("long").alias("_rtot"),
        F.sum("ct").cast("long").alias("_ttot"),
    )
    b = F.lit(n_buckets).cast("long")
    weights = dists.join(F.broadcast(totals)).select(
        "bucket",
        (
            F.floor(
                F.log(
                    (F.col("ct") + 1).cast("double")
                    / (F.col("_ttot") + b).cast("double")
                )
                * 1e6
            )
            - F.floor(
                F.log(
                    (F.col("cr") + 1).cast("double")
                    / (F.col("_rtot") + b).cast("double")
                )
                * 1e6
            )
        )
        .cast("long")
        .alias("lw_micro"),
    )
    return (
        dbc.join(F.broadcast(weights), "bucket")
        .groupBy(id_col)
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.sum(F.col("c") * F.col("lw_micro"))
            .cast("long")
            .alias("dsir_score_micro"),
        )
    )


def bigram_doc_logprob(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus bigram (Markov) language-model score per document — the
    next LM family up from ``unigram_doc_logprob``: fluency now depends
    on token ORDER, so shuffled or templated word soup scores below
    natural word sequences even when the unigram mix is identical.

    ``p(w2|w1) = (c(w1,w2) + 1) / (c(w1,·) + V)`` — add-one smoothing
    over the context vocabulary ``V`` (distinct observed context
    words). Documents with fewer than 2 tokens have no bigrams and are
    excluded (same on both engines: empty explode).

    Shape: one bigram explode → per-(doc, bigram) counts → corpus
    bigram counts and context counts derived by further aggregation →
    join the (doc, bigram) rows back to their counts (the Zipf-head
    context key is AQE skew-join territory, same contract as
    ``unigram_doc_logprob``'s count join) → per-doc int64 sum of
    multiplicity-weighted micro-quantized log-probs. V is a scalar
    broadcast.
    """
    # materialize the token array once so the per-position transform
    # references it as a bound column (no split re-evaluation per
    # element — the minhash recompute lesson, llm/dedup.py:82)
    bg = (
        df.select(F.col(id_col), words_of(F.col(text_col)).alias("__ws"))
        .filter(F.size("__ws") >= 2)
        .select(
            id_col,
            F.explode(
                F.expr(
                    "transform(sequence(1, size(__ws) - 1), i -> struct("
                    "element_at(__ws, i) as w1,"
                    " element_at(__ws, i + 1) as w2))"
                )
            ).alias("bg"),
        )
        .select(id_col, F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    )
    # guide §2.3 "aggregate before you shuffle": ONE per-(doc, bigram)
    # aggregation is the exchange subtree every consumer shares (AQE
    # stage reuse → the corpus is tokenized once); the corpus-wide
    # bigram counts derive from it (c2 = Σ_doc n), the context counts
    # derive from c2 (c1 = Σ_w2 c2 — a vocab²-sized input instead of a
    # third full bigram stream), and the score join weights each
    # distinct (doc, bigram) row by its multiplicity (Σ n·lp ≡ Σ
    # per-occurrence lp, exact integer identity).
    d2 = bg.groupBy(id_col, "w1", "w2").agg(F.count(F.lit(1)).alias("n"))
    c2 = d2.groupBy("w1", "w2").agg(F.sum("n").alias("c2"))
    c1 = c2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    v = c1.agg(F.count(F.lit(1)).cast("long").alias("_v"))
    scored = (
        d2.join(c2, ["w1", "w2"])
        .join(c1, "w1")
        .join(F.broadcast(v))
        .withColumn(
            "lp_micro",
            F.floor(
                F.log(
                    (F.col("c2") + 1).cast("double")
                    / (F.col("c1") + F.col("_v")).cast("double")
                )
                * 1e6
            ).cast("long"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.sum("n").cast("long").alias("n_bigrams"),
        F.sum(F.col("n") * F.col("lp_micro"))
        .cast("long")
        .alias("logprob_micro_sum"),
        F.floor(
            F.sum(F.col("n") * F.col("lp_micro")).cast("double")
            / F.sum("n").cast("double")
        )
        .cast("long")
        .alias("avg_logprob_micro"),
    )


def perplexity_prune_band(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    lo: float = 0.1,
    hi: float = 0.9,
) -> DataFrame:
    """Perplexity-band pruning (the CCNet/Gopher practice): keep only
    documents whose unigram-LM score sits INSIDE the per-language
    [P10, P90] band — the low tail is gibberish/noise, the high tail
    is degenerate high-probability boilerplate (repeated stopwords,
    templates). Grouping by language matters because LM scores are not
    comparable across languages.

    The per-language thresholds come from
    ``operators.ranks.grouped_quantile_cont`` — exact rank-based
    quantiles with NO whole-group buffering, so a language covering
    half of a 100 TB corpus cannot OOM a reducer the way Spark's
    ``percentile()`` aggregate would. The threshold table (one row per
    language) broadcasts back onto the scored corpus.
    """
    from ..operators.ranks import grouped_quantile_cont

    scores = unigram_doc_logprob(df, text_col, id_col)
    scored = df.select(F.col(id_col), F.col(lang_col)).join(scores, id_col)
    q_lo = f"q_{int(lo * 100)}"
    q_hi = f"q_{int(hi * 100)}"
    qs = grouped_quantile_cont(
        scored.select(lang_col, "avg_logprob_micro"),
        [lang_col],
        "avg_logprob_micro",
        [lo, hi],
    )
    return (
        scored.join(F.broadcast(qs), lang_col)
        .filter(
            (F.col("avg_logprob_micro") >= F.col(q_lo))
            & (F.col("avg_logprob_micro") <= F.col(q_hi))
        )
        .select(id_col, lang_col, "n_tokens", "avg_logprob_micro")
    )


# The Gopher rule battery (Rae et al. 2021, "Scaling Language Models:
# Methods, Analysis & Insights from Training Gopher", Table A1): the
# published word/symbol/line/stop-word document filters. All exact
# integer math (milli / ppm) so the Spark result hashes identically to
# the SQL oracle.
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN_MILLI = 3_000
GOPHER_MAX_MEAN_WORD_LEN_MILLI = 10_000
GOPHER_MAX_SYMBOL_RATIO_PPM = 100_000  # 0.1 symbols/word
GOPHER_MAX_BULLET_LINE_PPM = 900_000  # <=90% of lines bullet-led
GOPHER_MAX_ELLIPSIS_LINE_PPM = 300_000  # <=30% of lines ellipsis-ended
GOPHER_MIN_ALPHA_WORD_PPM = 800_000  # >=80% words contain a letter
GOPHER_MIN_STOPWORD_HITS = 2  # >=2 distinct stop words present


def gopher_quality_rules(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_cols: tuple = (),
) -> DataFrame:
    """Per-document Gopher quality-rule battery: every published rule
    evaluated as an exact integer signal plus its boolean flag, and the
    conjunction ``passes_gopher``.

    Shape: ONE whole-stage-codegen'd projection — no shuffle, no UDF,
    no vocabulary. At 100 TB this runs at parquet scan bandwidth, which
    is exactly what a first-pass corpus gate must do. (The reference
    engine has no quality filtering at all — SURVEY.md §2 north-star
    extension; rules follow Rae et al. 2021 Table A1.)
    """
    text = F.col(text_col)
    words = words_of(text)
    n_words = F.size(words).cast("long")
    safe_words = F.greatest(n_words, F.lit(1))
    # mean word length over non-whitespace chars (exact milli units)
    nonspace = F.length(F.regexp_replace(text, r"\s", "")).cast("long")
    mean_wlen_milli = F.expr(
        "_nonspace * 1000 div _safe_words"
    )
    # symbols: '#' occurrences + non-overlapping '...' occurrences
    n_hash = (F.length(text) - F.length(F.regexp_replace(text, r"#", ""))).cast(
        "long"
    )
    # lines: literal newline split (a no-newline doc is one line)
    lines = F.split(text, "\n", -1)
    n_lines = F.size(lines).cast("long")
    bullet_lines = F.size(
        F.filter(
            lines,
            lambda l: F.ltrim(l).startswith("-")
            | F.ltrim(l).startswith("*")
            | F.ltrim(l).startswith("•"),
        )
    ).cast("long")
    ellipsis_lines = F.size(
        F.filter(lines, lambda l: F.rtrim(l).endswith("..."))
    ).cast("long")
    alpha_words = F.size(F.filter(words, lambda w: w.rlike("[a-z]"))).cast("long")
    stop_hits = F.size(
        F.array_intersect(words, F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]))
    ).cast("long")

    # keep_cols ride along so a caller gating a pipeline (corpus funnel)
    # can filter on the flags WITHOUT a join back to the payload — the
    # battery stays one shuffle-free projection either way
    staged = df.select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        text.alias("_text"),
        n_words.alias("n_words"),
        safe_words.alias("_safe_words"),
        nonspace.alias("_nonspace"),
        n_hash.alias("_n_hash"),
        n_lines.alias("_n_lines"),
        bullet_lines.alias("_bullet_lines"),
        ellipsis_lines.alias("_ellipsis_lines"),
        alpha_words.alias("_alpha_words"),
        stop_hits.alias("stopword_hits"),
    ).select(
        id_col,
        *keep_cols,
        "n_words",
        mean_wlen_milli.alias("mean_word_len_milli"),
        F.expr(
            "(_n_hash + (length(_text) - length(replace(_text, '...', ''))) div 3)"
            " * 1000000 div _safe_words"
        ).alias("symbol_ratio_ppm"),
        F.expr("_bullet_lines * 1000000 div _n_lines").alias("bullet_line_ppm"),
        F.expr("_ellipsis_lines * 1000000 div _n_lines").alias(
            "ellipsis_line_ppm"
        ),
        F.expr("_alpha_words * 1000000 div _safe_words").alias("alpha_word_ppm"),
        F.col("stopword_hits"),
    )
    flags = staged.select(
        "*",
        (
            (F.col("n_words") >= GOPHER_MIN_WORDS)
            & (F.col("n_words") <= GOPHER_MAX_WORDS)
        ).alias("ok_word_count"),
        (
            (F.col("mean_word_len_milli") >= GOPHER_MIN_MEAN_WORD_LEN_MILLI)
            & (F.col("mean_word_len_milli") <= GOPHER_MAX_MEAN_WORD_LEN_MILLI)
        ).alias("ok_mean_word_len"),
        (F.col("symbol_ratio_ppm") <= GOPHER_MAX_SYMBOL_RATIO_PPM).alias(
            "ok_symbol_ratio"
        ),
        (F.col("bullet_line_ppm") <= GOPHER_MAX_BULLET_LINE_PPM).alias(
            "ok_bullet_lines"
        ),
        (F.col("ellipsis_line_ppm") <= GOPHER_MAX_ELLIPSIS_LINE_PPM).alias(
            "ok_ellipsis_lines"
        ),
        (F.col("alpha_word_ppm") >= GOPHER_MIN_ALPHA_WORD_PPM).alias(
            "ok_alpha_words"
        ),
        (F.col("stopword_hits") >= GOPHER_MIN_STOPWORD_HITS).alias(
            "ok_stopwords"
        ),
    )
    return flags.select(
        "*",
        (
            F.col("ok_word_count")
            & F.col("ok_mean_word_len")
            & F.col("ok_symbol_ratio")
            & F.col("ok_bullet_lines")
            & F.col("ok_ellipsis_lines")
            & F.col("ok_alpha_words")
            & F.col("ok_stopwords")
        ).alias("passes_gopher"),
    )


# Gopher repetition-rule thresholds (Rae et al. 2021, Table A2 —
# representative subset: duplicate lines, top-{2,3,4}-gram coverage,
# duplicated {5,10}-gram coverage; the n list is parameterized below).
GOPHER_MAX_DUP_LINE_PPM = 300_000
GOPHER_MAX_DUP_LINE_CHAR_PPM = 200_000
GOPHER_MAX_TOP2GRAM_CHAR_PPM = 200_000
GOPHER_MAX_TOP3GRAM_CHAR_PPM = 180_000
GOPHER_MAX_TOP4GRAM_CHAR_PPM = 160_000
GOPHER_MAX_DUP5GRAM_CHAR_PPM = 150_000
GOPHER_MAX_DUP10GRAM_CHAR_PPM = 100_000

_REP_TOP_NS = (2, 3, 4)
_REP_DUP_NS = (5, 10)


def gopher_repetition_rules(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document Gopher repetition signals (Rae et al. 2021 Table
    A2): duplicate-line fraction, duplicate-line character fraction,
    the character share of the single most-repeated word {2,3,4}-gram,
    and the character share covered by ALL duplicated {5,10}-grams
    (capped at 100%: overlapping occurrences can over-count) — each
    with its published threshold flag and the conjunction
    ``passes_repetition``.

    Shape: ONE corpus scan. Lines and every n-gram size are tagged
    ``struct(kind, val)`` items concatenated into a single array, so
    one ``explode`` feeds one (doc, kind, item) count and one
    per-(doc, kind) aggregate — two uniform map-side-combined shuffles
    regardless of how many n-gram sizes are configured, instead of one
    scan + shuffle PER size. Character shares use exact integer ppm
    (count × char-length, int64) so the result hashes identically to
    the SQL oracle.

    Definitions (pinned, both engines): a duplicate line is any excess
    occurrence beyond the first (``n_lines - n_distinct_lines``);
    duplicated-gram coverage counts ALL occurrences of any gram seen
    ≥2 times; gram char length is the length of the space-joined
    lowercased gram; line char length is the raw line length.
    """
    text = F.col(text_col)
    item_t = "array<struct<kind:string,val:string>>"

    # Bind the split arrays to REAL columns before any higher-order
    # lambda touches them: lambda bodies are evaluated per element
    # outside whole-stage codegen, so a free `split(...)` expression
    # inside one re-tokenizes the document for every gram position —
    # O(words²) per doc per n.  A bound column is split once per row.
    staged = df.select(
        F.col(id_col),
        F.length(text).cast("long").alias("n_chars"),
        words_of(text).alias("_ws"),
        F.split(text, "\n", -1).alias("_ls"),
    )
    words = F.col("_ws")

    def grams(n: int) -> Column:
        return (
            F.when(
                F.size(words) >= n,
                F.transform(
                    F.sequence(F.lit(1), F.size(words) - (n - 1)),
                    lambda i: F.struct(
                        F.lit(f"G{n}").alias("kind"),
                        F.concat_ws(
                            " ", *[F.element_at(words, i + o) for o in range(n)]
                        ).alias("val"),
                    ),
                ),
            )
            .otherwise(F.array().cast(item_t))
        )

    lines = F.transform(
        F.col("_ls"),
        lambda l: F.struct(F.lit("L").alias("kind"), l.alias("val")),
    )
    all_items = F.concat(
        lines, *[grams(n) for n in (*_REP_TOP_NS, *_REP_DUP_NS)]
    )
    items = staged.select(
        F.col(id_col),
        "n_chars",
        F.explode(all_items).alias("item"),
    ).select(
        id_col,
        "n_chars",
        F.col("item.kind").alias("kind"),
        F.col("item.val").alias("val"),
    )
    counted = items.groupBy(id_col, "n_chars", "kind", "val").agg(
        F.count(F.lit(1)).alias("cnt")
    )

    # Collapse the per-(doc, kind) rollup and the per-doc pivot into ONE
    # conditional aggregation keyed by the doc id: ``counted`` already
    # carries the kind tag on every row, so each per-kind statistic is a
    # kind-gated aggregate — one exchange instead of two, at every scale
    # (the intermediate per-(doc, kind) frame was ~6 rows per doc; the
    # stage barrier it cost was pure overhead).
    def kind_sum(kind: str, expr: Column) -> Column:
        return F.sum(F.when(F.col("kind") == kind, expr).otherwise(F.lit(0)))

    def kind_max(kind: str, expr: Column) -> Column:
        return F.max(F.when(F.col("kind") == kind, expr))

    # groupBy the id ALONE (n_chars is functionally dependent on it and
    # rides along as max): the output is then hash-partitioned by the
    # id, which downstream id-keyed joins (the funnel's gate join-back)
    # can reuse without another exchange — grouping by (id, n_chars)
    # would partition on the pair and force a re-shuffle.
    gram_chars = F.col("cnt") * F.length("val").cast("long")
    per_doc = counted.groupBy(id_col).agg(
        F.max("n_chars").alias("n_chars"),
        kind_sum("L", F.col("cnt")).alias("_l_items"),
        kind_sum("L", F.lit(1)).alias("_l_distinct"),
        kind_sum(
            "L", F.when(F.col("cnt") >= 2, gram_chars).otherwise(F.lit(0))
        ).alias("_l_dup_chars"),
        kind_sum("L", gram_chars).alias("_l_total_chars"),
        *[
            kind_max(f"G{n}", gram_chars).alias(f"_g{n}_top")
            for n in _REP_TOP_NS
        ],
        *[
            kind_sum(
                f"G{n}",
                F.when(F.col("cnt") >= 2, gram_chars).otherwise(F.lit(0)),
            ).alias(f"_g{n}_dup")
            for n in _REP_DUP_NS
        ],
    )
    signals = per_doc.select(
        id_col,
        "n_chars",
        F.col("_l_items").cast("long").alias("n_lines"),
        F.expr("(_l_items - _l_distinct) * 1000000 div _l_items")
        .cast("long")
        .alias("dup_line_ppm"),
        F.expr("_l_dup_chars * 1000000 div greatest(_l_total_chars, 1)")
        .cast("long")
        .alias("dup_line_char_ppm"),
        *[
            F.expr(
                f"coalesce(_g{n}_top, 0) * 1000000 div greatest(n_chars, 1)"
            )
            .cast("long")
            .alias(f"top{n}gram_char_ppm")
            for n in _REP_TOP_NS
        ],
        *[
            F.expr(
                f"least(coalesce(_g{n}_dup, 0) * 1000000"
                " div greatest(n_chars, 1), 1000000)"
            )
            .cast("long")
            .alias(f"dup{n}gram_char_ppm")
            for n in _REP_DUP_NS
        ],
    )
    return signals.select(
        "*",
        (F.col("dup_line_ppm") <= GOPHER_MAX_DUP_LINE_PPM).alias("ok_dup_lines"),
        (F.col("dup_line_char_ppm") <= GOPHER_MAX_DUP_LINE_CHAR_PPM).alias(
            "ok_dup_line_chars"
        ),
        (F.col("top2gram_char_ppm") <= GOPHER_MAX_TOP2GRAM_CHAR_PPM).alias(
            "ok_top2gram"
        ),
        (F.col("top3gram_char_ppm") <= GOPHER_MAX_TOP3GRAM_CHAR_PPM).alias(
            "ok_top3gram"
        ),
        (F.col("top4gram_char_ppm") <= GOPHER_MAX_TOP4GRAM_CHAR_PPM).alias(
            "ok_top4gram"
        ),
        (F.col("dup5gram_char_ppm") <= GOPHER_MAX_DUP5GRAM_CHAR_PPM).alias(
            "ok_dup5gram"
        ),
        (F.col("dup10gram_char_ppm") <= GOPHER_MAX_DUP10GRAM_CHAR_PPM).alias(
            "ok_dup10gram"
        ),
    ).select(
        "*",
        (
            F.col("ok_dup_lines")
            & F.col("ok_dup_line_chars")
            & F.col("ok_top2gram")
            & F.col("ok_top3gram")
            & F.col("ok_top4gram")
            & F.col("ok_dup5gram")
            & F.col("ok_dup10gram")
        ).alias("passes_repetition"),
    )


# BM25 retrieval parameters (Robertson & Zaragoza 2009): k1 tempers
# term-frequency saturation, b the document-length normalization.
BM25_K1 = 1.2
BM25_B = 0.75


def bm25_topk(
    df: DataFrame,
    query_terms,
    topk: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 top-k document retrieval for a fixed query-term set — the
    lexical search primitive of a data pipeline (quality-targeted
    selection, benchmark-similar document mining, eval-set retrieval).

    Scoring follows Robertson-Zaragoza BM25 with the +1 idf floor
    (idf = ln(1 + (N - df + 0.5)/(df + 0.5)), always positive).
    Determinism: ``ln`` is quantized to integer micro-units per term
    (the tfidf/unigram-LM idiom), each (doc, term) partial score is
    floored to int64 BEFORE the per-document sum — double summation
    order never touches the result, so the ranking is bit-identical to
    the SQL oracle.

    Shape: one corpus scan computes per-doc length AND explodes only
    the matching terms (the IN filter rides the explode); tf is one
    uniform (doc, term) groupBy; df derives from tf (no second scan);
    N and avgdl are one scalar aggregate broadcast; top-k is a bounded
    TakeOrderedAndProject. No UDF anywhere.
    """
    terms = sorted(set(query_terms))
    words = words_of(F.col(text_col))
    toks = df.select(
        F.col(id_col),
        F.size(words).cast("long").alias("dl"),
        F.explode(F.filter(words, lambda w: w.isin(*terms))).alias("term"),
    )
    tf = toks.groupBy(id_col, "dl", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_"))
    stats = df.agg(
        F.count(F.lit(1)).cast("long").alias("_n_docs"),
        F.sum(F.size(words_of(F.col(text_col)))).cast("long").alias("_dl_sum"),
    )
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf_micro",
            F.floor(
                F.log(
                    F.lit(1.0)
                    + (F.col("_n_docs") - F.col("df_") + F.lit(0.5))
                    / (F.col("df_") + F.lit(0.5))
                )
                * F.lit(1e6)
            ).cast("long"),
        )
        .withColumn(
            "term_score_micro",
            F.floor(
                F.col("idf_micro")
                * (F.col("tf") * F.lit(BM25_K1 + 1.0))
                / (
                    F.col("tf")
                    + F.lit(BM25_K1)
                    * (
                        F.lit(1.0 - BM25_B)
                        + F.lit(BM25_B)
                        * F.col("dl")
                        / (
                            F.col("_dl_sum").cast("double")
                            / F.col("_n_docs")
                        )
                    )
                )
            ).cast("long"),
        )
    )
    agg = scored.groupBy(id_col).agg(
        F.sum("term_score_micro").alias("bm25_micro"),
        F.count(F.lit(1)).alias("n_terms_hit"),
    )
    return (
        agg.orderBy(F.desc("bm25_micro"), F.asc(id_col))
        .limit(topk)
        .select(id_col, "bm25_micro", "n_terms_hit")
    )
