"""Text-analysis inventory over the ``documents`` table (north-star
extension — the reference has no text functions beyond UPPER,
SURVEY.md §2.8). All operators are native-function projections: no
shuffle, no Python, scan-bandwidth-bound at 100 TB."""

from __future__ import annotations

from pyspark.sql import functions as F

from ..llm import text as T
from .base import QuerySpec, fan_out, load

_WORDS = r"string_split_regex(lower(text), '\s+')"


def text_stats(spark, sf_dir):
    return T.text_stats(load(spark, sf_dir, "documents"))


TEXT_STATS_SQL = f"""
SELECT doc_id,
  CAST(length(text) AS BIGINT) AS n_chars_m,
  CAST(len({_WORDS}) AS BIGINT) AS n_words,
  CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE)
    / CAST(len({_WORDS}) AS BIGINT) AS avg_word_len,
  CAST(length(text) - length(regexp_replace(lower(text), '[aeiou]', '', 'g'))
       AS DOUBLE) / CAST(length(text) AS BIGINT) AS vowel_ratio,
  CAST(len({_WORDS}) AS DOUBLE) / (CAST(length(text) AS BIGINT) + 1)
    AS word_density
FROM documents
"""


def language_id(spark, sf_dir):
    return T.language_id(load(spark, sf_dir, "documents"))


LANGUAGE_ID_SQL = f"""
WITH hits AS (
  SELECT doc_id,
    CAST(len(list_filter({_WORDS},
      w -> w IN ('the','a','of','and','to','in'))) AS BIGINT)
      AS en_stopword_hits
  FROM documents
)
SELECT doc_id, en_stopword_hits,
  CASE WHEN en_stopword_hits >= 3 THEN 'en'
       WHEN en_stopword_hits >= 1 THEN 'mixed'
       ELSE 'other' END AS predicted_lang
FROM hits
"""


def token_counts(spark, sf_dir):
    return T.token_counts(load(spark, sf_dir, "documents"))


TOKEN_COUNTS_SQL = f"""
SELECT doc_id,
  CAST(len({_WORDS}) AS BIGINT) AS ws_tokens,
  CAST(len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+|\\s+'))
       AS BIGINT) AS bpe_regex_tokens,
  (length(text) + 3) // 4 AS bpe_est_tokens
FROM documents
"""


def doc_fingerprints(spark, sf_dir):
    return T.fingerprints(load(spark, sf_dir, "documents"))


DOC_FINGERPRINTS_SQL = r"""
WITH squashed AS (
  SELECT doc_id, text,
    regexp_replace(lower(text), '\s+', '', 'g') AS sq
  FROM documents
)
SELECT doc_id,
  md5(text) AS content_hash,
  md5(substr(sq, 1, 64)) AS prefix_fingerprint,
  list_reduce(
    list_prepend(CAST(0 AS BIGINT),
      list_transform(range(1, length(substr(sq, 1, 64)) + 1),
        i -> CAST(ascii(substr(substr(sq, 1, 64), CAST(i AS INT), 1)) AS BIGINT))),
    (a, c) -> (a * 31 + c) % 1000000007) AS rolling_hash,
  CAST(length(sq) AS BIGINT) AS squashed_len
FROM squashed
"""


def tfidf_top_terms(spark, sf_dir):
    return T.tfidf_top_terms(load(spark, sf_dir, "documents"))


TFIDF_TOP_TERMS_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest({_WORDS}) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
dfreq AS (SELECT term, count(*) AS df_ FROM tf GROUP BY term),
n AS (SELECT count(*) AS _n_docs FROM documents),
scored AS (
  -- floor to integer micro-units: ln differs in the last ULP between
  -- engines, integer comparison does not (see llm.text.tfidf_top_terms)
  SELECT doc_id, term, tf, df_,
    CAST(FLOOR(tf * ln(CAST(_n_docs AS DOUBLE) / df_) * 1e6) AS BIGINT)
      AS tfidf_micro
  FROM tf JOIN dfreq USING (term), n
)
SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df_ AS BIGINT) AS df_,
  tfidf_micro, CAST(term_rank AS INT) AS term_rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id
    ORDER BY tfidf_micro DESC, term) AS term_rank
  FROM scored
)
WHERE term_rank <= 3
"""


def bpe_pair_counts(spark, sf_dir):
    return T.bpe_pair_counts(load(spark, sf_dir, "documents"))


BPE_PAIR_COUNTS_SQL = f"""
WITH w AS (
  SELECT unnest({_WORDS}) AS word FROM documents
),
wf AS (
  SELECT word, count(*) AS wfreq FROM w WHERE length(word) >= 2 GROUP BY word
),
pairs AS (
  SELECT unnest(list_transform(range(1, length(word)),
           i -> substr(word, CAST(i AS INT), 2))) AS pair,
         wfreq
  FROM wf
),
top AS (
  SELECT pair, CAST(SUM(wfreq) AS BIGINT) AS n_occurrences
  FROM pairs GROUP BY pair
  ORDER BY n_occurrences DESC, pair LIMIT 50
)
SELECT pair, n_occurrences,
  CAST(row_number() OVER (ORDER BY n_occurrences DESC, pair) AS INT) AS rnk
FROM top
"""


def unigram_doc_logprob(spark, sf_dir):
    return T.unigram_doc_logprob(load(spark, sf_dir, "documents"))


UNIGRAM_DOC_LOGPROB_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest({_WORDS}) AS w FROM documents
),
counts AS (SELECT w, count(*) AS wc FROM toks GROUP BY w),
total AS (SELECT sum(wc) AS tot FROM counts),
scored AS (
  SELECT doc_id,
    CAST(FLOOR(ln(CAST(wc AS DOUBLE) / CAST(tot AS DOUBLE)) * 1e6) AS BIGINT)
      AS lp_micro
  FROM toks JOIN counts USING (w), total
)
SELECT doc_id,
  count(*) AS n_tokens,
  CAST(SUM(lp_micro) AS BIGINT) AS logprob_micro_sum,
  CAST(FLOOR(CAST(SUM(lp_micro) AS DOUBLE) / count(*)) AS BIGINT)
    AS avg_logprob_micro
FROM scored GROUP BY doc_id
"""


def bpe_train_merges(spark, sf_dir):
    """Iterative BPE training (6 merge rounds) over the corpus — the
    ordered merge table a tokenizer ships. Oracled by an UNROLLED
    6-round DuckDB program (``_bpe_oracle_sql``): each round's winner
    feeds the next round's re-segmentation, exactly like the trainer's
    loop, so the driver's independent check covers the full iterative
    algorithm (additionally pinned against a pure-Python reference in
    ``test_bpe_train_matches_pure_python_reference``)."""
    from ..llm.bpe import bpe_train

    table, _ = bpe_train(load(spark, sf_dir, "documents"), n_merges=6)
    return table


def _bpe_oracle_sql(n_merges: int = 6) -> str:
    """DuckDB oracle for ``bpe_train_merges``: the merge loop unrolled
    into chained CTEs.

    Vocabulary words are encoded as ``' a  b  c '`` — every symbol
    separated by TWO spaces, with ONE space at each end. Merging pair
    (a, b) is then a plain ``replace(w, ' a  b ', ' ab ')``: SQL
    ``replace`` rewrites non-overlapping occurrences left-to-right,
    which is exactly the greedy order of reference BPE (and of the
    trainer's ``_merge_symbols``), and the single-space replacement
    string restores the invariant at the seam. Ties break on the pair
    string in both engines (binary UTF-8 collation here, code-point
    order in the trainer: the same order). A round whose best pair
    occurs < 2 times yields an empty winner CTE, which empties every
    later round — the same early-stop the trainer takes."""
    parts = [
        "WITH v0 AS (",
        "  SELECT ' ' || array_to_string(list_transform(range(1, length(word) + 1),",
        "                i -> word[i:i]), '  ') || ' ' AS w,",
        "         CAST(count(*) AS BIGINT) AS f",
        f"  FROM (SELECT unnest({_WORDS}) AS word FROM documents)",
        "  WHERE length(word) >= 2 GROUP BY word",
        ")",
    ]
    for r in range(1, n_merges + 1):
        p = r - 1
        parts += [
            f", e{r} AS (",
            f"  SELECT s, f, unnest(range(1, len(s))) AS i",
            f"  FROM (SELECT string_split(trim(w), '  ') AS s, f FROM v{p})",
            ")",
            f", w{r} AS (",
            f"  SELECT s[i] AS a, s[i + 1] AS b, CAST(SUM(f) AS BIGINT) AS n",
            f"  FROM e{r} GROUP BY 1, 2 HAVING SUM(f) >= 2",
            "  ORDER BY n DESC, (s[i] || ' ' || s[i + 1]) ASC LIMIT 1",
            ")",
        ]
        if r < n_merges:
            parts += [
                f", v{r} AS (",
                f"  SELECT replace(w, ' ' || a || '  ' || b || ' ',",
                f"                 ' ' || a || b || ' ') AS w, f",
                f"  FROM v{p}, w{r}",
                ")",
            ]
    selects = [
        f"SELECT CAST({r} AS INTEGER) AS merge_rank, a AS \"left\", b AS \"right\","
        f" a || b AS merged, n AS n_occurrences FROM w{r}"
        for r in range(1, n_merges + 1)
    ]
    parts.append("\nUNION ALL\n".join(selects))
    parts.append("ORDER BY merge_rank")
    return "\n".join(parts)


BPE_TRAIN_MERGES_SQL = _bpe_oracle_sql(6)


def bpe_encode_corpus(spark, sf_dir):
    """Train 6 merges, then tokenize the WHOLE corpus with them and
    report per-doc stats (words, chars, BPE tokens, chars/token) —
    the train→apply round trip a tokenizer pipeline ships. The encode
    (``llm.bpe.bpe_encode_stats``) replays the merges once per distinct
    word and broadcast-joins the result back: two shuffles, the word
    ``distinct`` and the per-document aggregate."""
    from ..llm.bpe import bpe_encode_stats, bpe_train

    docs = fan_out(load(spark, sf_dir, "documents"))
    _, merges = bpe_train(docs, n_merges=6)
    return bpe_encode_stats(docs, merges)


def _bpe_encode_oracle_sql(n_merges: int = 6) -> str:
    """Oracle for ``bpe_encode_corpus``: the training CTEs of
    ``_bpe_oracle_sql`` (winners w1..wN) followed by a per-document
    encode chain replaying each winner with the same two-space
    ``replace`` trick, LEFT-joined so an early-stopped (empty) round
    is a no-op instead of emptying the corpus."""
    parts = [
        "WITH v0 AS (",
        "  SELECT ' ' || array_to_string(list_transform(range(1, length(word) + 1),",
        "                i -> word[i:i]), '  ') || ' ' AS w,",
        "         CAST(count(*) AS BIGINT) AS f",
        f"  FROM (SELECT unnest({_WORDS}) AS word FROM documents)",
        "  WHERE length(word) >= 2 GROUP BY word",
        ")",
    ]
    for r in range(1, n_merges + 1):
        p = r - 1
        parts += [
            f", e{r} AS (",
            f"  SELECT s, f, unnest(range(1, len(s))) AS i",
            f"  FROM (SELECT string_split(trim(w), '  ') AS s, f FROM v{p})",
            ")",
            f", w{r} AS (",
            f"  SELECT s[i] AS a, s[i + 1] AS b",
            f"  FROM e{r} GROUP BY 1, 2 HAVING SUM(f) >= 2",
            "  ORDER BY SUM(f) DESC, (s[i] || ' ' || s[i + 1]) ASC LIMIT 1",
            ")",
            f", v{r} AS (",
            f"  SELECT CASE WHEN a IS NULL THEN w ELSE",
            f"    replace(w, ' ' || a || '  ' || b || ' ',",
            f"            ' ' || a || b || ' ') END AS w, f",
            f"  FROM v{p} LEFT JOIN w{r} ON TRUE",
            ")",
        ]
    parts += [
        ", enc0 AS (",
        "  SELECT doc_id,",
        "    ' ' || array_to_string(list_transform(range(1, length(word) + 1),",
        "                  i -> word[i:i]), '  ') || ' ' AS w,",
        "    CAST(length(word) AS BIGINT) AS wlen",
        f"  FROM (SELECT doc_id, unnest({_WORDS}) AS word FROM documents)",
        "  WHERE length(word) >= 1",
        ")",
    ]
    for r in range(1, n_merges + 1):
        parts += [
            f", enc{r} AS (",
            f"  SELECT doc_id, CASE WHEN a IS NULL THEN w ELSE",
            f"    replace(w, ' ' || a || '  ' || b || ' ',",
            f"            ' ' || a || b || ' ') END AS w, wlen",
            f"  FROM enc{r - 1} LEFT JOIN w{r} ON TRUE",
            ")",
        ]
    parts += [
        "SELECT doc_id,",
        "  count(*) AS n_words,",
        "  CAST(sum(wlen) AS BIGINT) AS n_chars_m,",
        "  CAST(sum(len(string_split(trim(w), '  '))) AS BIGINT)",
        "    AS n_bpe_tokens,",
        "  CAST(sum(wlen) AS DOUBLE)",
        "    / CAST(sum(len(string_split(trim(w), '  '))) AS DOUBLE)",
        "    AS chars_per_token",
        f"FROM enc{n_merges} GROUP BY doc_id",
    ]
    return "\n".join(parts)


BPE_ENCODE_CORPUS_SQL = _bpe_encode_oracle_sql(6)


def quality_linear_score(spark, sf_dir):
    from ..llm.text import linear_quality_score

    return linear_quality_score(load(spark, sf_dir, "documents"))


QUALITY_LINEAR_SCORE_SQL = r"""
WITH toks AS (
  SELECT doc_id,
    unnest(list_filter(string_split_regex(lower(text), '\s+'),
                       x -> len(x) >= 1)) AS w
  FROM documents
),
feat AS (
  SELECT doc_id,
    (CAST(('0x' || substr(md5(CAST(
        CAST(('0x' || substr(md5(w), 1, 8)) AS BIGINT) % 256
      AS VARCHAR)), 1, 4)) AS BIGINT) % 2001) - 1000 AS w_milli
  FROM toks
),
agg AS (
  SELECT doc_id, count(*) AS n_tokens,
    CAST(sum(w_milli) AS BIGINT) AS z_milli
  FROM feat GROUP BY doc_id
)
SELECT doc_id, n_tokens, z_milli,
  CAST(z_milli AS DOUBLE) / n_tokens AS mean_w_milli,
  CAST(floor(CAST(z_milli AS DOUBLE) / n_tokens / 100.0) AS INTEGER)
    AS quality_bucket
FROM agg
"""


_BUDGET_TOKENS = 20_000


def corpus_select_budget(spark, sf_dir):
    """Token-budgeted corpus selection: score every document with the
    hashed-feature linear scorer, then keep the best documents —
    quality DESC, doc_id tiebreak — until a global 20k-token budget is
    spent (the fixed-size-mixture selection of a pretraining build).
    The global ordered prefix sum uses the range-partition +
    broadcast-offset skeleton (``llm.packing.ordered_budget_prefix``) —
    no single-partition window at 100 TB."""
    from ..llm.packing import ordered_budget_prefix
    from ..llm.text import linear_quality_score

    scored = linear_quality_score(load(spark, sf_dir, "documents")).select(
        "doc_id", "n_tokens", "z_milli"
    )
    return ordered_budget_prefix(
        scored,
        tokens_col="n_tokens",
        budget=_BUDGET_TOKENS,
        order_by=[F.col("z_milli").desc(), F.col("doc_id")],
    ).select("doc_id", "z_milli", "n_tokens", "cum_tokens")


CORPUS_SELECT_BUDGET_SQL = rf"""
WITH toks AS (
  SELECT doc_id,
    unnest(list_filter(string_split_regex(lower(text), '\s+'),
                       x -> len(x) >= 1)) AS w
  FROM documents
),
feat AS (
  SELECT doc_id,
    (CAST(('0x' || substr(md5(CAST(
        CAST(('0x' || substr(md5(w), 1, 8)) AS BIGINT) % 256
      AS VARCHAR)), 1, 4)) AS BIGINT) % 2001) - 1000 AS w_milli
  FROM toks
),
agg AS (
  SELECT doc_id, count(*) AS n_tokens,
    CAST(sum(w_milli) AS BIGINT) AS z_milli
  FROM feat GROUP BY doc_id
),
ranked AS (
  SELECT doc_id, z_milli, n_tokens,
    CAST(sum(n_tokens) OVER (
      ORDER BY z_milli DESC, doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    ) AS BIGINT) AS cum_tokens
  FROM agg
)
SELECT doc_id, z_milli, n_tokens, cum_tokens
FROM ranked WHERE cum_tokens <= {_BUDGET_TOKENS}
"""


QUERIES = {
    "corpus_select_budget": QuerySpec(
        "corpus_select_budget", corpus_select_budget,
        CORPUS_SELECT_BUDGET_SQL,
        "Token-budgeted best-docs-first corpus selection (global prefix)",
        ("text", "llm", "sampling"),
    ),
    "bpe_encode_corpus": QuerySpec(
        "bpe_encode_corpus", bpe_encode_corpus, BPE_ENCODE_CORPUS_SQL,
        "Train BPE merges then tokenize the corpus (per-doc stats)",
        ("text", "llm", "iterative"),
    ),
    "bpe_train_merges": QuerySpec(
        "bpe_train_merges", bpe_train_merges, BPE_TRAIN_MERGES_SQL,
        "Iterative distributed BPE training (merge table); unrolled-CTE oracle",
        ("text", "llm", "iterative"),
    ),
    "unigram_doc_logprob": QuerySpec(
        "unigram_doc_logprob", unigram_doc_logprob, UNIGRAM_DOC_LOGPROB_SQL,
        "Unigram LM doc score (corpus-quality signal), micro-unit ints",
        ("text", "llm", "agg"),
    ),
    "bpe_pair_counts": QuerySpec(
        "bpe_pair_counts", bpe_pair_counts, BPE_PAIR_COUNTS_SQL,
        "BPE training step 1: weighted-vocabulary adjacent-pair counts",
        ("text", "llm", "agg"),
    ),
    "tfidf_top_terms": QuerySpec(
        "tfidf_top_terms", tfidf_top_terms, TFIDF_TOP_TERMS_SQL,
        "Per-doc top-3 TF-IDF keywords (tf agg + df-from-tf + log scale)",
        ("text", "llm", "window"),
    ),
    "text_stats": QuerySpec(
        "text_stats", text_stats, TEXT_STATS_SQL,
        "Per-doc chars/words/quality stats (no-shuffle projection)",
        ("text", "llm"),
    ),
    "language_id": QuerySpec(
        "language_id", language_id, LANGUAGE_ID_SQL,
        "Stopword-vote language heuristic", ("text", "llm"),
    ),
    "token_counts": QuerySpec(
        "token_counts", token_counts, TOKEN_COUNTS_SQL,
        "Whitespace + BPE-estimate token counting", ("text", "llm"),
    ),
    "doc_fingerprints": QuerySpec(
        "doc_fingerprints", doc_fingerprints, DOC_FINGERPRINTS_SQL,
        "Content hash + prefix fingerprint (rolling-hash prefilter)",
        ("text", "llm"),
    ),
    "quality_linear_score": QuerySpec(
        "quality_linear_score", quality_linear_score,
        QUALITY_LINEAR_SCORE_SQL,
        "Hashed-feature linear quality scorer (fastText shape, exact ints)",
        ("text", "llm"),
    ),
}


def pmi_word_pairs(spark, sf_dir):
    """Collocation mining: top word pairs by PMI/lift over per-doc
    word presence. Exact int64 lift ranks the pairs; pmi_micro rides
    along under the tfidf 1-ULP ln idiom."""
    return T.word_pair_pmi(
        fan_out(load(spark, sf_dir, "documents")), min_df=5, top_n=40
    )


PMI_WORD_PAIRS_SQL = f"""
WITH words AS (
  SELECT DISTINCT doc_id AS doc, w
  FROM (SELECT doc_id, unnest({_WORDS}) AS w FROM documents)
  WHERE length(w) >= 1
),
dfreq AS (SELECT w, count(*) AS wdf FROM words GROUP BY w),
vocab AS (
  SELECT w, wdf FROM dfreq WHERE wdf >= 5
  ORDER BY wdf DESC, w LIMIT 10000
),
wv AS (
  SELECT words.doc, words.w, vocab.wdf
  FROM words JOIN vocab ON vocab.w = words.w
),
pairs AS (
  SELECT a.w AS w1, b.w AS w2, a.wdf AS c1, b.wdf AS c2,
    count(*) AS c12
  FROM wv a JOIN wv b ON b.doc = a.doc AND a.w < b.w
  GROUP BY a.w, b.w, a.wdf, b.wdf
),
n AS (SELECT count(*) AS _n FROM documents),
scored AS (
  SELECT w1, w2, c12, c1, c2,
    (c12 * _n * 1000000) // (c1 * c2) AS lift_ppm,
    CAST(floor(ln(CAST(c12 AS DOUBLE) * _n
                  / (CAST(c1 AS DOUBLE) * CAST(c2 AS DOUBLE))) * 1e6)
         AS BIGINT) AS pmi_micro
  FROM pairs, n
)
SELECT * FROM (
  SELECT row_number() OVER (ORDER BY lift_ppm DESC, w1, w2) AS pair_rank,
    w1, w2, c12, c1, c2, lift_ppm, pmi_micro
  FROM scored
) WHERE pair_rank <= 40
"""


def vocab_coverage_curve(spark, sf_dir):
    """Zipf coverage of the top-50 tokens (tokenizer-vocab sizing):
    one uniform token groupBy, scalar-total broadcast, top-N bounded
    reduction — the rank window never sees the vocabulary."""
    return T.vocab_coverage_curve(
        fan_out(load(spark, sf_dir, "documents")), top_n=50
    )


VOCAB_COVERAGE_CURVE_SQL = r"""
WITH toks AS (
  SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
                            x -> len(x) >= 1)) AS token
  FROM documents
),
counts AS (
  SELECT token, CAST(count(*) AS BIGINT) AS tok_count
  FROM toks GROUP BY token
),
total AS (SELECT CAST(sum(tok_count) AS BIGINT) AS _total FROM counts),
top AS (
  SELECT token, tok_count FROM counts
  ORDER BY tok_count DESC, token LIMIT 50
),
ranked AS (
  SELECT row_number() OVER (ORDER BY tok_count DESC, token) AS tok_rank,
    token, tok_count,
    CAST(sum(tok_count) OVER (
      ORDER BY tok_count DESC, token
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    ) AS BIGINT) AS cum_count
  FROM top
)
SELECT tok_rank, token, tok_count, cum_count,
  CAST((CAST(cum_count AS HUGEINT) * 1000000) // _total AS BIGINT)
    AS cum_share_ppm
FROM ranked, total
"""


QUERIES["vocab_coverage_curve"] = QuerySpec(
    "vocab_coverage_curve",
    vocab_coverage_curve,
    VOCAB_COVERAGE_CURVE_SQL,
    "Zipf coverage curve of the top-50 tokens (exact integer ppm)",
    ("text", "agg", "llm"),
)

QUERIES["pmi_word_pairs"] = QuerySpec(
    "pmi_word_pairs",
    pmi_word_pairs,
    PMI_WORD_PAIRS_SQL,
    "Top word-pair collocations by exact int64 lift / PMI",
    ("text", "agg", "llm"),
)


def corpus_datacard(spark, sf_dir):
    """One-pass dataset-card rollup: per-language, per-source, and
    grand-total corpus stats via GROUPING SETS — the release artifact
    that ships with a training corpus. Single scan, bounded key space,
    map-side partials."""
    load(spark, sf_dir, "documents").createOrReplaceTempView("documents_dc")
    return spark.sql(CORPUS_DATACARD_BODY.format(table="documents_dc"))


CORPUS_DATACARD_BODY = """
SELECT lang, source,
  count(*) AS n_docs,
  CAST(sum(n_chars) AS BIGINT) AS chars_sum,
  CAST(sum(CASE WHEN n_chars < 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_short,
  count(DISTINCT source) AS n_sources,
  CAST(sum(n_chars) AS BIGINT) / count(*) AS avg_chars_q
FROM {table}
GROUP BY GROUPING SETS ((lang), (source), ())
"""


QUERIES["corpus_datacard"] = QuerySpec(
    "corpus_datacard",
    corpus_datacard,
    CORPUS_DATACARD_BODY.format(table="documents"),
    "Dataset-card rollup: per-lang / per-source / total corpus stats",
    ("text", "agg", "llm"),
)


def dsir_importance_weights(spark, sf_dir):
    """DSIR data-selection scores (Xie et al. 2023): hashed-unigram
    log-likelihood-ratio of the English subset vs the raw corpus, per
    document. Exact int64 micro-unit sums; bucket tables broadcast."""
    return T.dsir_importance(
        fan_out(load(spark, sf_dir, "documents")),
        target=F.col("lang") == "en",
        n_buckets=256,
    )


DSIR_IMPORTANCE_WEIGHTS_SQL = f"""
WITH toks AS (
  SELECT doc_id, (lang = 'en') AS tgt, unnest({_WORDS}) AS w
  FROM documents
),
b AS (
  SELECT doc_id, tgt,
    CAST(('0x' || substr(md5(w), 1, 8)) AS BIGINT) % 256 AS bucket
  FROM toks
),
dbc AS (
  SELECT doc_id, tgt, bucket, count(*) AS c FROM b GROUP BY 1, 2, 3
),
raw AS (SELECT bucket, sum(c) AS cr FROM dbc GROUP BY 1),
tgt AS (SELECT bucket, sum(c) AS ct FROM dbc WHERE tgt GROUP BY 1),
dists AS (
  SELECT r.bucket, r.cr, COALESCE(t.ct, 0) AS ct
  FROM raw r LEFT JOIN tgt t USING (bucket)
),
tot AS (SELECT sum(cr) AS rtot, sum(ct) AS ttot FROM dists),
lw AS (
  SELECT bucket,
    CAST(FLOOR(ln(CAST(ct + 1 AS DOUBLE) / CAST(ttot + 256 AS DOUBLE))
               * 1e6) AS BIGINT)
    - CAST(FLOOR(ln(CAST(cr + 1 AS DOUBLE) / CAST(rtot + 256 AS DOUBLE))
                 * 1e6) AS BIGINT) AS lw_micro
  FROM dists, tot
)
SELECT doc_id,
  CAST(sum(c) AS BIGINT) AS n_tokens,
  CAST(sum(c * lw_micro) AS BIGINT) AS dsir_score_micro
FROM dbc JOIN lw USING (bucket)
GROUP BY doc_id
"""


QUERIES["dsir_importance_weights"] = QuerySpec(
    "dsir_importance_weights",
    dsir_importance_weights,
    DSIR_IMPORTANCE_WEIGHTS_SQL,
    "DSIR importance resampling scores (hashed-unigram LLR vs target)",
    ("text", "llm", "sampling"),
)


def bigram_doc_logprob(spark, sf_dir):
    return T.bigram_doc_logprob(fan_out(load(spark, sf_dir, "documents")))


BIGRAM_DOC_LOGPROB_SQL = f"""
WITH w AS (SELECT doc_id, {_WORDS} AS ws FROM documents),
bg AS (
  SELECT doc_id, ws[CAST(i AS INT)] AS w1, ws[CAST(i AS INT) + 1] AS w2
  FROM w, LATERAL unnest(generate_series(1, len(ws) - 1)) AS u(i)
),
c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2),
c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1),
v AS (SELECT count(*) AS vv FROM c1),
scored AS (
  SELECT bg.doc_id,
    CAST(FLOOR(ln(CAST(c2.c2 + 1 AS DOUBLE) / CAST(c1.c1 + v.vv AS DOUBLE))
               * 1e6) AS BIGINT) AS lp_micro
  FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1), v
)
SELECT doc_id,
  count(*) AS n_bigrams,
  CAST(SUM(lp_micro) AS BIGINT) AS logprob_micro_sum,
  CAST(FLOOR(CAST(SUM(lp_micro) AS DOUBLE) / count(*)) AS BIGINT)
    AS avg_logprob_micro
FROM scored GROUP BY doc_id
"""


QUERIES["bigram_doc_logprob"] = QuerySpec(
    "bigram_doc_logprob",
    bigram_doc_logprob,
    BIGRAM_DOC_LOGPROB_SQL,
    "Bigram Markov-LM doc score (order-aware fluency signal)",
    ("text", "llm", "agg"),
)


def perplexity_prune_band(spark, sf_dir):
    """Per-language [P10, P90] unigram-LM score band filter — the
    CCNet-style perplexity pruning pass (drop gibberish AND degenerate
    boilerplate), thresholds via the rank-based exact grouped quantile
    (no whole-group buffering)."""
    return T.perplexity_prune_band(fan_out(load(spark, sf_dir, "documents")))


PERPLEXITY_PRUNE_BAND_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest({_WORDS}) AS w FROM documents
),
counts AS (SELECT w, count(*) AS wc FROM toks GROUP BY w),
total AS (SELECT sum(wc) AS tot FROM counts),
tok_scored AS (
  SELECT doc_id,
    CAST(FLOOR(ln(CAST(wc AS DOUBLE) / CAST(tot AS DOUBLE)) * 1e6) AS BIGINT)
      AS lp_micro
  FROM toks JOIN counts USING (w), total
),
scores AS (
  SELECT doc_id,
    count(*) AS n_tokens,
    CAST(FLOOR(CAST(SUM(lp_micro) AS DOUBLE) / count(*)) AS BIGINT)
      AS avg_logprob_micro
  FROM tok_scored GROUP BY doc_id
),
scored AS (
  SELECT d.doc_id, d.lang, s.n_tokens, s.avg_logprob_micro
  FROM documents d JOIN scores s USING (doc_id)
),
qs AS (
  SELECT lang,
    quantile_cont(avg_logprob_micro, 0.1) AS q_lo,
    quantile_cont(avg_logprob_micro, 0.9) AS q_hi
  FROM scored GROUP BY lang
)
SELECT s.doc_id, s.lang, s.n_tokens, s.avg_logprob_micro
FROM scored s JOIN qs USING (lang)
WHERE s.avg_logprob_micro >= qs.q_lo AND s.avg_logprob_micro <= qs.q_hi
"""


QUERIES["perplexity_prune_band"] = QuerySpec(
    "perplexity_prune_band",
    perplexity_prune_band,
    PERPLEXITY_PRUNE_BAND_SQL,
    "Per-lang [P10,P90] LM-score band pruning (CCNet-style)",
    ("text", "llm", "window"),
)


def bpe_fertility_by_lang(spark, sf_dir):
    """Tokenizer fertility audit: train 6 BPE merges on the corpus,
    encode every document, and report per-language tokens-per-word and
    chars-per-token in exact integer ppm — the metric that decides
    whether a tokenizer under-serves a language (high fertility =
    more tokens per word = higher serving/training cost for that
    language)."""
    from ..llm.bpe import bpe_encode_stats, bpe_train

    docs = fan_out(load(spark, sf_dir, "documents"))
    _, merges = bpe_train(docs, n_merges=6)
    stats = bpe_encode_stats(docs, merges)
    return (
        stats.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_words").cast("long").alias("words_sum"),
            F.sum("n_chars_m").cast("long").alias("chars_sum"),
            F.sum("n_bpe_tokens").cast("long").alias("bpe_tokens_sum"),
        )
        .select(
            "lang",
            "n_docs",
            "words_sum",
            "chars_sum",
            "bpe_tokens_sum",
            F.expr("(bpe_tokens_sum * 1000000) div words_sum")
            .cast("long")
            .alias("fertility_ppm"),
            F.expr("(chars_sum * 1000000) div bpe_tokens_sum")
            .cast("long")
            .alias("chars_per_token_ppm"),
        )
    )


BPE_FERTILITY_BY_LANG_SQL = f"""
SELECT d.lang,
  count(*) AS n_docs,
  CAST(sum(e.n_words) AS BIGINT) AS words_sum,
  CAST(sum(e.n_chars_m) AS BIGINT) AS chars_sum,
  CAST(sum(e.n_bpe_tokens) AS BIGINT) AS bpe_tokens_sum,
  (CAST(sum(e.n_bpe_tokens) AS BIGINT) * 1000000)
    // CAST(sum(e.n_words) AS BIGINT) AS fertility_ppm,
  (CAST(sum(e.n_chars_m) AS BIGINT) * 1000000)
    // CAST(sum(e.n_bpe_tokens) AS BIGINT) AS chars_per_token_ppm
FROM ({_bpe_encode_oracle_sql(6)}) e
JOIN documents d USING (doc_id)
GROUP BY d.lang
"""


QUERIES["bpe_fertility_by_lang"] = QuerySpec(
    "bpe_fertility_by_lang",
    bpe_fertility_by_lang,
    BPE_FERTILITY_BY_LANG_SQL,
    "Per-language BPE fertility (tokens/word ppm) after 6 merges",
    ("text", "llm", "agg"),
)


def gopher_quality_rules(spark, sf_dir):
    from ..llm.text import gopher_quality_rules as rules

    return rules(fan_out(load(spark, sf_dir, "documents")))


GOPHER_QUALITY_RULES_SQL = r"""
WITH base AS (
  SELECT doc_id, text,
    string_split_regex(lower(text), '\s+') AS words,
    string_split(text, chr(10)) AS lines
  FROM documents
),
sig AS (
  SELECT doc_id,
    CAST(len(words) AS BIGINT) AS n_words,
    greatest(CAST(len(words) AS BIGINT), 1) AS safe_words,
    CAST(len(regexp_replace(text, '\s', '', 'g')) AS BIGINT) AS nonspace,
    CAST(len(text) - len(replace(text, '#', '')) AS BIGINT) AS n_hash,
    CAST((len(text) - len(replace(text, '...', ''))) // 3 AS BIGINT)
      AS n_ellipsis,
    CAST(len(lines) AS BIGINT) AS n_lines,
    CAST(len(list_filter(lines, l ->
      ltrim(l) LIKE '-%' OR ltrim(l) LIKE '*%' OR ltrim(l) LIKE '•%'
    )) AS BIGINT) AS bullet_lines,
    CAST(len(list_filter(lines, l -> right(rtrim(l), 3) = '...'))
      AS BIGINT) AS ellipsis_lines,
    CAST(len(list_filter(words, w -> regexp_matches(w, '[a-z]')))
      AS BIGINT) AS alpha_words,
    CAST(len(list_intersect(words,
      ['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with']))
      AS BIGINT) AS stopword_hits
  FROM base
),
ppm AS (
  SELECT doc_id, n_words,
    CAST(nonspace * 1000 // safe_words AS BIGINT) AS mean_word_len_milli,
    CAST((n_hash + n_ellipsis) * 1000000 // safe_words AS BIGINT)
      AS symbol_ratio_ppm,
    CAST(bullet_lines * 1000000 // n_lines AS BIGINT) AS bullet_line_ppm,
    CAST(ellipsis_lines * 1000000 // n_lines AS BIGINT)
      AS ellipsis_line_ppm,
    CAST(alpha_words * 1000000 // safe_words AS BIGINT) AS alpha_word_ppm,
    stopword_hits
  FROM sig
)
SELECT *,
  (ok_word_count AND ok_mean_word_len AND ok_symbol_ratio
   AND ok_bullet_lines AND ok_ellipsis_lines AND ok_alpha_words
   AND ok_stopwords) AS passes_gopher
FROM (
  SELECT *,
    (n_words >= 50 AND n_words <= 100000) AS ok_word_count,
    (mean_word_len_milli >= 3000 AND mean_word_len_milli <= 10000)
      AS ok_mean_word_len,
    (symbol_ratio_ppm <= 100000) AS ok_symbol_ratio,
    (bullet_line_ppm <= 900000) AS ok_bullet_lines,
    (ellipsis_line_ppm <= 300000) AS ok_ellipsis_lines,
    (alpha_word_ppm >= 800000) AS ok_alpha_words,
    (stopword_hits >= 2) AS ok_stopwords
  FROM ppm
)
"""


def gopher_repetition_rules(spark, sf_dir):
    from ..llm.text import gopher_repetition_rules as rules

    return rules(fan_out(load(spark, sf_dir, "documents")))


def _rep_gram_cte(n: int) -> str:
    return f"""
  SELECT doc_id, n_chars, 'G{n}' AS kind,
    unnest(CASE WHEN len(words) >= {n} THEN
      list_transform(range(1, len(words) - {n} + 2), i ->
        {" || ' ' || ".join(f"words[CAST(i AS INT) + {o}]" for o in range(n))})
    ELSE CAST([] AS VARCHAR[]) END) AS val
  FROM rep_base"""


GOPHER_REPETITION_RULES_SQL = r"""
WITH rep_base AS (
  SELECT doc_id, text,
    CAST(len(text) AS BIGINT) AS n_chars,
    string_split_regex(lower(text), '\s+') AS words
  FROM documents
),
items AS (
  SELECT doc_id, n_chars, 'L' AS kind,
    unnest(string_split(text, chr(10))) AS val
  FROM rep_base
  UNION ALL {gram_ctes}
),
counted AS (
  SELECT doc_id, n_chars, kind, val, count(*) AS cnt
  FROM items GROUP BY doc_id, n_chars, kind, val
),
per_kind AS (
  SELECT doc_id, n_chars, kind,
    CAST(sum(cnt) AS BIGINT) AS n_items,
    CAST(count(*) AS BIGINT) AS n_distinct,
    CAST(sum(CASE WHEN cnt >= 2 THEN cnt * len(val) ELSE 0 END) AS BIGINT)
      AS dup_chars,
    CAST(max(cnt * len(val)) AS BIGINT) AS top_chars,
    CAST(sum(cnt * len(val)) AS BIGINT) AS total_chars
  FROM counted GROUP BY doc_id, n_chars, kind
),
per_doc AS (
  SELECT doc_id, n_chars,
    max(CASE WHEN kind = 'L' THEN n_items END) AS l_items,
    max(CASE WHEN kind = 'L' THEN n_distinct END) AS l_distinct,
    max(CASE WHEN kind = 'L' THEN dup_chars END) AS l_dup_chars,
    max(CASE WHEN kind = 'L' THEN total_chars END) AS l_total_chars,
    max(CASE WHEN kind = 'G2' THEN top_chars END) AS g2_top,
    max(CASE WHEN kind = 'G3' THEN top_chars END) AS g3_top,
    max(CASE WHEN kind = 'G4' THEN top_chars END) AS g4_top,
    max(CASE WHEN kind = 'G5' THEN dup_chars END) AS g5_dup,
    max(CASE WHEN kind = 'G10' THEN dup_chars END) AS g10_dup
  FROM per_kind GROUP BY doc_id, n_chars
),
signals AS (
  SELECT doc_id, n_chars,
    CAST(l_items AS BIGINT) AS n_lines,
    CAST((l_items - l_distinct) * 1000000 // l_items AS BIGINT)
      AS dup_line_ppm,
    CAST(l_dup_chars * 1000000 // greatest(l_total_chars, 1) AS BIGINT)
      AS dup_line_char_ppm,
    CAST(coalesce(g2_top, 0) * 1000000 // greatest(n_chars, 1) AS BIGINT)
      AS top2gram_char_ppm,
    CAST(coalesce(g3_top, 0) * 1000000 // greatest(n_chars, 1) AS BIGINT)
      AS top3gram_char_ppm,
    CAST(coalesce(g4_top, 0) * 1000000 // greatest(n_chars, 1) AS BIGINT)
      AS top4gram_char_ppm,
    CAST(least(coalesce(g5_dup, 0) * 1000000 // greatest(n_chars, 1),
               1000000) AS BIGINT) AS dup5gram_char_ppm,
    CAST(least(coalesce(g10_dup, 0) * 1000000 // greatest(n_chars, 1),
               1000000) AS BIGINT) AS dup10gram_char_ppm
  FROM per_doc
)
SELECT *,
  (ok_dup_lines AND ok_dup_line_chars AND ok_top2gram AND ok_top3gram
   AND ok_top4gram AND ok_dup5gram AND ok_dup10gram) AS passes_repetition
FROM (
  SELECT *,
    (dup_line_ppm <= 300000) AS ok_dup_lines,
    (dup_line_char_ppm <= 200000) AS ok_dup_line_chars,
    (top2gram_char_ppm <= 200000) AS ok_top2gram,
    (top3gram_char_ppm <= 180000) AS ok_top3gram,
    (top4gram_char_ppm <= 160000) AS ok_top4gram,
    (dup5gram_char_ppm <= 150000) AS ok_dup5gram,
    (dup10gram_char_ppm <= 100000) AS ok_dup10gram
  FROM signals
)
""".replace(
    "{gram_ctes}",
    "\n  UNION ALL ".join(_rep_gram_cte(n) for n in (2, 3, 4, 5, 10)),
)


QUERIES["gopher_quality_rules"] = QuerySpec(
    "gopher_quality_rules", gopher_quality_rules, GOPHER_QUALITY_RULES_SQL,
    "Gopher (Rae et al. 2021) quality-rule battery: per-doc flags, exact ppm",
    ("text", "llm", "quality"),
)
QUERIES["gopher_repetition_rules"] = QuerySpec(
    "gopher_repetition_rules", gopher_repetition_rules,
    GOPHER_REPETITION_RULES_SQL,
    "Gopher repetition signals: dup lines, top/dup n-gram char coverage",
    ("text", "llm", "quality"),
)


def countmin_heavy_hitters(spark, sf_dir):
    """Count-Min sketch accuracy report over corpus tokens: exact
    count vs CMS estimate (min over 4 md5 hash rows of a 4x256 grid)
    for the top-20 tokens — the mergeable-sketch tier next to the
    Misra-Gries exact-recount heavy hitters
    (`operators/sketches.py::countmin_sketch_report`)."""
    from ..operators.sketches import countmin_sketch_report

    toks = fan_out(load(spark, sf_dir, "documents")).select(
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("w")
    )
    return countmin_sketch_report(toks, "w")


COUNTMIN_HEAVY_HITTERS_SQL = r"""
WITH toks AS (
  SELECT unnest(string_split_regex(lower(text), '\s+')) AS w FROM documents
),
counts AS (SELECT w, count(*) AS cnt FROM toks GROUP BY w),
cells AS (
  SELECT t.r,
    CAST(('0x' || substr(md5(t.r || '|' || w), 1, 8)) AS BIGINT) % 256
      AS bucket,
    sum(cnt) AS cell_count
  FROM counts, range(0, 4) t(r)
  GROUP BY 1, 2
),
top AS (SELECT w, cnt FROM counts ORDER BY cnt DESC, w LIMIT 20),
est AS (
  SELECT t.w, t.cnt, min(c.cell_count) AS cms
  FROM top t, range(0, 4) tr(r)
  JOIN cells c ON c.r = tr.r
    AND c.bucket =
      CAST(('0x' || substr(md5(tr.r || '|' || t.w), 1, 8)) AS BIGINT) % 256
  GROUP BY t.w, t.cnt
)
SELECT w AS token, CAST(cnt AS BIGINT) AS exact_count,
  CAST(cms AS BIGINT) AS cms_estimate,
  CAST(cms - cnt AS BIGINT) AS overestimate
FROM est
"""


QUERIES["countmin_heavy_hitters"] = QuerySpec(
    "countmin_heavy_hitters", countmin_heavy_hitters,
    COUNTMIN_HEAVY_HITTERS_SQL,
    "Count-Min sketch estimate vs exact count for the top-20 tokens",
    ("text", "sketch", "llm"),
)


_BM25_TERMS = ("filter", "merge", "slow", "vector")


def bm25_search_topk(spark, sf_dir):
    """BM25 top-20 retrieval for a fixed 4-term query — the lexical
    search primitive (benchmark-similar mining, targeted selection).
    Integer-micro quantized per-term scores, exact int64 doc sums
    (`llm/text.py::bm25_topk`)."""
    from ..llm.text import bm25_topk

    return bm25_topk(fan_out(load(spark, sf_dir, "documents")), _BM25_TERMS)


BM25_SEARCH_TOPK_SQL = r"""
WITH wrds AS (
  SELECT doc_id, string_split_regex(lower(text), '\s+') AS ws
  FROM documents
),
toks AS (
  SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl,
    unnest(list_filter(ws,
      w -> w IN ('filter', 'merge', 'slow', 'vector'))) AS term
  FROM wrds
),
tf AS (
  SELECT doc_id, dl, term, count(*) AS tf
  FROM toks GROUP BY doc_id, dl, term
),
dfreq AS (SELECT term, count(*) AS df_ FROM tf GROUP BY term),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
    CAST(sum(len(string_split_regex(lower(text), '\s+'))) AS BIGINT)
      AS dl_sum
  FROM documents
),
scored AS (
  SELECT t.doc_id,
    CAST(floor(
      CAST(floor(ln(1.0 + (s.n_docs - d.df_ + 0.5) / (d.df_ + 0.5))
                 * 1000000) AS BIGINT)
      * (t.tf * 2.2)
      / (t.tf + 1.2 * (0.25 + 0.75 * t.dl
                       / (CAST(s.dl_sum AS DOUBLE) / s.n_docs)))
    ) AS BIGINT) AS term_score_micro
  FROM tf t JOIN dfreq d USING (term), stats s
)
SELECT doc_id, CAST(sum(term_score_micro) AS BIGINT) AS bm25_micro,
  CAST(count(*) AS BIGINT) AS n_terms_hit
FROM scored GROUP BY doc_id
ORDER BY bm25_micro DESC, doc_id
LIMIT 20
"""


QUERIES["bm25_search_topk"] = QuerySpec(
    "bm25_search_topk", bm25_search_topk, BM25_SEARCH_TOPK_SQL,
    "BM25 top-20 lexical retrieval (integer-micro quantized scores)",
    ("text", "retrieval", "llm"),
)


def hll_distinct_trigrams(spark, sf_dir):
    """HyperLogLog (m=256) distinct-trigram estimate per source vs the
    exact COUNT(DISTINCT) — the sketch-accuracy calibration that
    licenses replacing the full-key-space exact DISTINCT with a
    256-register partial aggregate at 100 TB
    (`operators/sketches.py::hll_distinct_report`)."""
    from ..operators.sketches import hll_distinct_report

    docs = fan_out(load(spark, sf_dir, "documents"))
    base = docs.select(
        "source",
        F.expr(
            r"filter(split(lower(text), '\\s+'), x -> length(x) >= 1)"
        ).alias("ws"),
    )
    grams = base.filter(F.size("ws") >= 3).select(
        "source",
        F.explode(
            F.expr(
                "transform(sequence(0, size(ws) - 3), "
                "i -> array_join(slice(ws, i + 1, 3), ' '))"
            )
        ).alias("g"),
    )
    return hll_distinct_report(grams, "source", "g")


HLL_DISTINCT_TRIGRAMS_SQL = r"""
WITH w AS (
  SELECT source,
    list_filter(string_split_regex(lower(text), '\s+'),
                x -> len(x) >= 1) AS words
  FROM documents
),
grams AS (
  SELECT source, array_to_string(words[i + 1:i + 3], ' ') AS g
  FROM w, LATERAL unnest(generate_series(0, len(words) - 3)) AS u(i)
),
hashed AS (
  SELECT source, g,
    CAST(('0x' || substr(md5(g), 1, 2)) AS BIGINT) AS bucket,
    CAST(('0x' || substr(md5(g), 3, 15)) AS BIGINT) AS wbits
  FROM grams
),
rho AS (
  SELECT source, bucket,
    max(CASE WHEN wbits = 0 THEN 61
        ELSE 61 - length(bin(wbits)) END) AS r
  FROM hashed GROUP BY source, bucket
),
pg AS (
  SELECT source, count(*) AS n_present,
    sum(CAST(1 AS BIGINT) << (61 - r)) AS s_present
  FROM rho GROUP BY source
),
exact AS (
  SELECT source, count(DISTINCT g) AS exact_distinct
  FROM grams GROUP BY source
),
est0 AS (
  SELECT source,
    CAST(256 - n_present AS BIGINT) AS zero_buckets,
    CAST(CAST('108542195788279865821819305984' AS HUGEINT) //
      (1000 * (CAST(s_present AS HUGEINT) +
               (256 - CAST(n_present AS HUGEINT)) *
               (CAST(1 AS HUGEINT) << 61))) AS BIGINT) AS raw_milli
  FROM pg
),
est AS (
  SELECT source, zero_buckets, raw_milli,
    CAST(CASE WHEN raw_milli <= 640000 AND zero_buckets > 0
      THEN floor(256.0 * ln(256.0 / zero_buckets) * 1000.0)
      ELSE raw_milli END AS BIGINT) AS hll_estimate_milli
  FROM est0
)
SELECT e.source,
  CAST(x.exact_distinct AS BIGINT) AS exact_distinct,
  e.zero_buckets, e.raw_milli, e.hll_estimate_milli,
  CAST(sign(e.hll_estimate_milli - x.exact_distinct * 1000) *
    ((abs(e.hll_estimate_milli - x.exact_distinct * 1000) * 1000000)
     // (x.exact_distinct * 1000)) AS BIGINT) AS err_ppm
FROM est e JOIN exact x USING (source)
"""


QUERIES["hll_distinct_trigrams"] = QuerySpec(
    "hll_distinct_trigrams", hll_distinct_trigrams,
    HLL_DISTINCT_TRIGRAMS_SQL,
    "HyperLogLog distinct-trigram estimate vs exact, per source",
    ("text", "sketch", "llm"),
)


def source_kl_divergence(spark, sf_dir):
    """Per-source token-distribution divergence from the corpus mix —
    D_KL(P_source || P_corpus) — the signal mixture curation reads to
    see which source is most "unlike" the blend it feeds (high KL →
    reweighting that source moves the mixture most). No smoothing
    needed: the corpus distribution includes every source's tokens, so
    q > 0 wherever p > 0, and absent-token terms vanish (0·ln0 = 0).

    Determinism (the ``tfidf_micro`` idiom): the ln argument is formed
    as ONE division of two exactly-representable int64 products
    (c_sw·T) / (t_s·c_w), p likewise one exact division, and each
    term is floored to integer micro-units before the per-source sum —
    integer sums are order-independent and cross-engine stable. (At a
    true 100 TB token count the int64 products need a rescale; the
    shape — two bounded token-keyed shuffles + one scalar broadcast —
    is unchanged.)"""
    toks = fan_out(load(spark, sf_dir, "documents")).select(
        "source", F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("w")
    )
    cs = toks.groupBy("source", "w").agg(F.count(F.lit(1)).alias("c_sw"))
    tot_s = cs.groupBy("source").agg(F.sum("c_sw").alias("t_s"))
    cw = cs.groupBy("w").agg(F.sum("c_sw").alias("c_w"))
    t = cw.agg(F.sum("c_w").alias("t"))
    joined = cs.join(tot_s, "source").join(cw, "w").crossJoin(F.broadcast(t))
    term = (
        (F.col("c_sw").cast("double") / F.col("t_s"))
        * F.log(
            (F.col("c_sw") * F.col("t")).cast("double")
            / (F.col("t_s") * F.col("c_w")).cast("double")
        )
        * F.lit(1_000_000.0)
    )
    return (
        joined.groupBy("source")
        .agg(
            F.max("t_s").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_terms"),
            F.sum(F.floor(term).cast("long")).alias("kl_micro"),
        )
        .orderBy("source")
    )


SOURCE_KL_DIVERGENCE_SQL = r"""
WITH toks AS (
  SELECT source, unnest(string_split_regex(lower(text), '\s+')) AS w
  FROM documents
),
cs AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c_sw
       FROM toks GROUP BY source, w),
tot_s AS (SELECT source, CAST(SUM(c_sw) AS BIGINT) AS t_s
          FROM cs GROUP BY source),
cw AS (SELECT w, CAST(SUM(c_sw) AS BIGINT) AS c_w FROM cs GROUP BY w),
t AS (SELECT CAST(SUM(c_w) AS BIGINT) AS t FROM cw)
SELECT cs.source,
  CAST(MAX(tot_s.t_s) AS BIGINT) AS n_tokens,
  CAST(COUNT(*) AS BIGINT) AS n_terms,
  CAST(SUM(CAST(floor(
    (CAST(c_sw AS DOUBLE) / t_s)
    * ln(CAST(c_sw * t.t AS DOUBLE) / CAST(t_s * c_w AS DOUBLE))
    * 1000000.0) AS BIGINT)) AS BIGINT) AS kl_micro
FROM cs
JOIN tot_s USING (source)
JOIN cw USING (w)
CROSS JOIN t
GROUP BY cs.source
ORDER BY cs.source
"""


QUERIES["source_kl_divergence"] = QuerySpec(
    "source_kl_divergence",
    source_kl_divergence,
    SOURCE_KL_DIVERGENCE_SQL,
    "Per-source KL divergence from the corpus token mix (micro-int)",
    ("text", "llm", "analytics"),
)
