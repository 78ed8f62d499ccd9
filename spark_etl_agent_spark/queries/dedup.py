"""Deduplication inventory over the ``documents`` table (north-star
extension — the reference's only dedup is SELECT DISTINCT,
SURVEY.md §2.4 A3). Pipelines live in ``llm.dedup``; every stage is a
pure DataFrame program with a DuckDB oracle."""

from __future__ import annotations

from pyspark.sql import functions as F

from ..llm import dedup as D
from .base import QuerySpec, fan_out, load

_WORDS = r"string_split_regex(lower(text), '\s+')"

# word 3-gram shingles, mirroring llm.dedup.shingles_of (k=3)
_SHINGLES_CTE = f"""
sh AS (
  SELECT doc_id,
    CASE WHEN len({_WORDS}) >= 3 THEN
      list_transform(range(1, len({_WORDS}) - 1),
        i -> {_WORDS}[CAST(i AS INT)] || ' ' ||
             {_WORDS}[CAST(i AS INT) + 1] || ' ' ||
             {_WORDS}[CAST(i AS INT) + 2])
    ELSE CAST([] AS VARCHAR[]) END AS shingles
  FROM documents
)
"""

# Numeric-minhash signature SELECT body and band union — built by the
# operator module itself (llm.dedup.minhash_sig_select_sql /
# bands_union_sql) so the oracle can never drift from the Spark
# expressions. mh0 IS NOT NULL mirrors llm.dedup.lsh_candidate_pairs:
# shingle-less docs (NULL signature) must not band.
_SIG_BODY = D.minhash_sig_select_sql(src="sh")
_BANDS = D.bands_union_sql(src="sig")


def exact_dedup(spark, sf_dir):
    return D.exact_dedup_groups(load(spark, sf_dir, "documents"))


EXACT_DEDUP_SQL = """
SELECT md5(text) AS content_hash,
  min(doc_id) AS keeper_id, count(*) AS n_copies
FROM documents GROUP BY md5(text)
"""


def normalized_dedup(spark, sf_dir):
    return D.normalized_dedup_groups(load(spark, sf_dir, "documents"))


NORMALIZED_DEDUP_SQL = r"""
SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS norm_hash,
  min(doc_id) AS keeper_id, count(*) AS n_copies
FROM documents
GROUP BY md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
"""


def minhash_signatures(spark, sf_dir):
    return D.minhash_signatures(fan_out(load(spark, sf_dir, "documents")))


MINHASH_SIGNATURES_SQL = f"""
WITH {_SHINGLES_CTE}
{_SIG_BODY}
"""


def minhash_near_duplicates(spark, sf_dir):
    """Full LSH pipeline: signatures → bands → candidate pairs → exact
    Jaccard verification."""
    docs = fan_out(load(spark, sf_dir, "documents"))
    pairs = D.lsh_candidate_pairs(D.minhash_signatures(docs))
    return D.jaccard_verify(docs, pairs)


MINHASH_NEAR_DUPLICATES_SQL = f"""
WITH {_SHINGLES_CTE},
sig AS (
  {_SIG_BODY}
),
banded AS (
  {_BANDS}
),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id
),
shing AS (SELECT DISTINCT doc_id, unnest(shingles) AS shingle FROM sh),
sizes AS (SELECT doc_id, count(*) AS n_shingles FROM shing GROUP BY doc_id),
common AS (
  SELECT p.id_a, p.id_b, count(*) AS n_common
  FROM pairs p
  JOIN shing sa ON sa.doc_id = p.id_a
  JOIN shing sb ON sb.doc_id = p.id_b AND sb.shingle = sa.shingle
  GROUP BY p.id_a, p.id_b
)
SELECT p.id_a, p.id_b,
  coalesce(c.n_common, 0) AS n_common,
  na.n_shingles AS n_a, nb.n_shingles AS n_b,
  CAST(coalesce(c.n_common, 0) AS DOUBLE)
    / (na.n_shingles + nb.n_shingles - coalesce(c.n_common, 0)) AS jaccard
FROM pairs p
LEFT JOIN common c ON c.id_a = p.id_a AND c.id_b = p.id_b
JOIN sizes na ON na.doc_id = p.id_a
JOIN sizes nb ON nb.doc_id = p.id_b
"""


def ngram_jaccard_dedup(spark, sf_dir):
    return D.ngram_jaccard_pairs(fan_out(load(spark, sf_dir, "documents")))


NGRAM_JACCARD_DEDUP_SQL = f"""
WITH {_SHINGLES_CTE},
shing AS (SELECT DISTINCT doc_id, unnest(shingles) AS shingle FROM sh),
freq AS (SELECT shingle, count(*) AS df_ FROM shing GROUP BY shingle),
rare_sh AS (
  SELECT s.doc_id, s.shingle FROM shing s
  JOIN freq f ON f.shingle = s.shingle AND f.df_ <= 20
),
hot_sh AS (
  SELECT s.doc_id, s.shingle FROM shing s
  JOIN freq f ON f.shingle = s.shingle AND f.df_ > 20
),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_rare
  FROM rare_sh a JOIN rare_sh b
    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id HAVING count(*) >= 3
),
hot_common AS (
  SELECT p.id_a, p.id_b, count(*) AS n_hot
  FROM pairs p
  JOIN hot_sh ha ON ha.doc_id = p.id_a
  JOIN hot_sh hb ON hb.doc_id = p.id_b AND hb.shingle = ha.shingle
  GROUP BY p.id_a, p.id_b
),
sizes AS (SELECT doc_id, count(*) AS n_shingles FROM shing GROUP BY doc_id)
SELECT * FROM (
  SELECT p.id_a, p.id_b,
    p.n_rare + coalesce(h.n_hot, 0) AS n_common,
    na.n_shingles AS n_a, nb.n_shingles AS n_b,
    CAST(p.n_rare + coalesce(h.n_hot, 0) AS DOUBLE)
      / (na.n_shingles + nb.n_shingles - (p.n_rare + coalesce(h.n_hot, 0)))
      AS jaccard
  FROM pairs p
  LEFT JOIN hot_common h ON h.id_a = p.id_a AND h.id_b = p.id_b
  JOIN sizes na ON na.doc_id = p.id_a
  JOIN sizes nb ON nb.doc_id = p.id_b
) WHERE jaccard >= 0.6
"""


def simhash_fingerprints(spark, sf_dir):
    return D.simhash_bits(fan_out(load(spark, sf_dir, "documents")))


_SIMHASH_CTE = f"""toks AS (
  SELECT doc_id, md5(unnest({_WORDS})) AS h FROM documents
),
chunks AS (
  SELECT doc_id,
    CAST(('0x' || substr(h, 1, 8)) AS BIGINT) AS c0,
    CAST(('0x' || substr(h, 9, 8)) AS BIGINT) AS c1
  FROM toks
),
votes AS (
  SELECT doc_id, bit_pos,
    sum((((CASE WHEN bit_pos < 32 THEN c0 ELSE c1 END)
          >> CAST(31 - bit_pos % 32 AS INT)) % 2) * 2 - 1) AS vote
  FROM chunks, range(0, 64) t(bit_pos)
  GROUP BY doc_id, bit_pos
),
sims AS (
  SELECT doc_id,
    string_agg(CASE WHEN vote > 0 THEN '1' ELSE '0' END, '' ORDER BY bit_pos)
      AS simhash
  FROM votes GROUP BY doc_id
)"""

SIMHASH_FINGERPRINTS_SQL = f"""
WITH {_SIMHASH_CTE}
SELECT doc_id, simhash FROM sims
"""


def simhash_near_duplicates(spark, sf_dir):
    """SimHash dedup completed into PAIRS: chunk-bucket candidates
    (lossless pigeonhole blocking for hamming <= 3 over 4 chunks) +
    exact Hamming verify — the Charikar-style near-dup detector that
    complements MinHash-Jaccard (order-insensitive set overlap) with
    weighted-token cosine-ish similarity."""
    return D.simhash_near_pairs(fan_out(load(spark, sf_dir, "documents")))


_SH_CHUNKS = ", ".join(
    f"substr(simhash, {c * 16 + 1}, 16) AS ch{c}" for c in range(4)
)
_SH_CHUNK_UNION = "\n  UNION ALL ".join(
    f"SELECT doc_id, simhash, {c} AS chunk_idx, ch{c} AS chunk FROM chunked"
    for c in range(4)
)

SIMHASH_NEAR_DUPLICATES_SQL = f"""
WITH {_SIMHASH_CTE},
chunked AS (
  SELECT doc_id, simhash, {_SH_CHUNKS} FROM sims
),
long AS (
  {_SH_CHUNK_UNION}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
    a.simhash AS sh_a, b.simhash AS sh_b
  FROM long a JOIN long b
    ON a.chunk_idx = b.chunk_idx AND a.chunk = b.chunk
   AND a.doc_id < b.doc_id
)
SELECT id_a, id_b,
  CAST(list_sum(list_transform(range(1, 65),
    i -> CASE WHEN sh_a[CAST(i AS INT):CAST(i AS INT)]
              = sh_b[CAST(i AS INT):CAST(i AS INT)] THEN 0 ELSE 1 END))
    AS BIGINT) AS hamming
FROM cand
WHERE hamming <= 3
"""


def incremental_neardup_probe(spark, sf_dir):
    """Incremental-ingest dedup: every 10th document plays the 'new
    batch', the rest the existing corpus index. Both sides' ingest
    artifacts are derived in the plan; batch bands broadcast and probe
    the index — no index self-join; per new doc, the verdict (match
    count at Jaccard ≥ 0.6, best match, novelty). The oracle takes the
    MinHash min over each document's shingle multiset, which equals the
    artifacts' min over the distinct set."""
    docs = fan_out(load(spark, sf_dir, "documents"))
    return D.incremental_neardup_verdicts_indexed(
        D.ingest_artifacts(docs.filter(F.col("doc_id") % 10 != 0)),
        D.ingest_artifacts(docs.filter(F.col("doc_id") % 10 == 0)),
        min_jaccard=0.6,
    )


INCREMENTAL_NEARDUP_PROBE_SQL = f"""
WITH {_SHINGLES_CTE},
sig AS (
  {_SIG_BODY}
),
banded AS (
  {_BANDS}
),
pairs AS (
  SELECT DISTINCT n.doc_id AS id_a, i.doc_id AS id_b
  FROM banded n JOIN banded i
    ON n.band_idx = i.band_idx AND n.band_key = i.band_key
  WHERE n.doc_id % 10 = 0 AND i.doc_id % 10 <> 0
),
shing AS (SELECT DISTINCT doc_id, unnest(shingles) AS shingle FROM sh),
sizes AS (SELECT doc_id, count(*) AS n_shingles FROM shing GROUP BY doc_id),
common AS (
  SELECT p.id_a, p.id_b, count(*) AS n_common
  FROM pairs p
  JOIN shing sa ON sa.doc_id = p.id_a
  JOIN shing sb ON sb.doc_id = p.id_b AND sb.shingle = sa.shingle
  GROUP BY p.id_a, p.id_b
),
verified AS (
  SELECT p.id_a, p.id_b,
    CAST(coalesce(c.n_common, 0) AS DOUBLE)
      / (na.n_shingles + nb.n_shingles - coalesce(c.n_common, 0)) AS jaccard
  FROM pairs p
  LEFT JOIN common c ON c.id_a = p.id_a AND c.id_b = p.id_b
  JOIN sizes na ON na.doc_id = p.id_a
  JOIN sizes nb ON nb.doc_id = p.id_b
),
matches AS (
  SELECT *, row_number() OVER (PARTITION BY id_a
                               ORDER BY jaccard DESC, id_b ASC) AS rn
  FROM verified WHERE jaccard >= 0.6
),
best AS (
  SELECT id_a, count(*) AS n_matches,
    min(CASE WHEN rn = 1 THEN id_b END) AS best_match_id,
    min(CASE WHEN rn = 1 THEN jaccard END) AS best_jaccard
  FROM matches GROUP BY id_a
)
SELECT d.doc_id,
  coalesce(b.n_matches, 0) AS n_matches,
  b.best_match_id,
  b.best_jaccard,
  coalesce(b.n_matches, 0) = 0 AS is_novel
FROM documents d LEFT JOIN best b ON b.id_a = d.doc_id
WHERE d.doc_id % 10 = 0
"""


def indexed_ingest_probe(spark, sf_dir):
    """The ``incremental_neardup_probe`` verdicts computed the INDEXED
    way (``llm/dedup.py::ingest_artifacts`` +
    ``incremental_neardup_verdicts_indexed``): the corpus index's dedup
    artifacts (content hash, MinHash signature, shingle count) are
    computed once and STORED as a parquet artifact table — the
    ingest-time posture of ``streaming_dedup_ingest_sink_indexed`` and
    the ``corpus_ingest_etl`` job — then the batch probes the STORED
    columns: band keys from the stored signatures (a 9-column pruned
    scan, never a corpus re-minhash), exact-Jaccard verify re-shingling
    only the band-collided candidates. Verdict values equal the
    in-plan probe's bit-for-bit, so the same oracle pins the indexed
    path end-to-end through a real parquet round-trip of the artifact
    table."""
    from ..core.scratch import scratch_dir

    docs = fan_out(load(spark, sf_dir, "documents"))
    work = scratch_dir("spark_graft_ingest_index_")
    D.ingest_artifacts(docs.filter(F.col("doc_id") % 10 != 0)).write.mode(
        "overwrite"
    ).parquet(f"{work}/index")
    index_art = spark.read.parquet(f"{work}/index")
    batch_art = D.ingest_artifacts(docs.filter(F.col("doc_id") % 10 == 0))
    return D.incremental_neardup_verdicts_indexed(
        index_art, batch_art, min_jaccard=0.6
    )


def ingest_compaction_probe(spark, sf_dir):
    """Probe-invariance under index compaction — the maintenance story
    of the ingest-dedup sink (``jobs/ingest.py::run_index_maintenance``
    → ``sources/catalog.py::compact_table``): a micro-batch sink
    accretes one-plus parquet files per trigger, and the maintenance
    pass must be able to rewrite the accepted/index table WITHOUT
    changing any future probe verdict.

    The query stages a deliberately fragmented artifact index (24-way
    round-robin — the accreted-small-files shape), probes the arriving
    batch against it and PUBLISHES those pre-compaction verdicts to a
    table, runs the ingest job's real maintenance step (threshold
    crossed → ``compact_table`` sorted within files by ``doc_id``),
    re-probes the compacted index, and returns the post-compaction
    verdicts each carrying ``matches_precompact`` — a null-safe
    all-column comparison against the published pre-compaction row via
    a full outer join (a dropped or duplicated doc surfaces as an
    unmatched row, not a silent inner-join loss). The oracle computes
    the verdicts once from the raw documents and asserts
    ``matches_precompact = TRUE`` for every row, so ANY layout
    sensitivity in the probe (or row loss in the rewrite) breaks the
    hash match. The file-count reduction itself is asserted in-query
    (raise if maintenance didn't shrink the table) and pinned in
    ``tests/test_jobs.py``."""
    from pyspark import StorageLevel

    from ..core.scratch import scratch_dir
    from ..jobs.ingest import CorpusIngestService
    from ..sources.catalog import Catalog

    docs = fan_out(load(spark, sf_dir, "documents"))
    work = scratch_dir("spark_graft_ingest_compact_")
    cat = Catalog(spark, work)
    cat.write_table(
        D.ingest_artifacts(docs.filter(F.col("doc_id") % 10 != 0))
        .repartition(24),
        "corpus.accepted",
        mode="overwrite",
    )
    batch_art = D.ingest_artifacts(
        docs.filter(F.col("doc_id") % 10 == 0)
    ).persist(StorageLevel.MEMORY_AND_DISK)
    pre = D.incremental_neardup_verdicts_indexed(
        cat.read_table("corpus.accepted"), batch_art, min_jaccard=0.6
    )
    cat.write_table(pre, "probe.pre", mode="overwrite")

    svc = CorpusIngestService(cat, compact_threshold_files=8)
    maint = svc.run_index_maintenance()
    if not maint["compacted"] or (
        maint["files_after"] >= maint["files_before"]
    ):
        raise RuntimeError(f"compaction did not reduce files: {maint}")

    post = D.incremental_neardup_verdicts_indexed(
        cat.read_table("corpus.accepted"), batch_art, min_jaccard=0.6
    )
    pre_t = cat.read_table("probe.pre")
    q, p = post.alias("q"), pre_t.alias("p")
    same = (
        F.col("q.n_matches").eqNullSafe(F.col("p.n_matches"))
        & F.col("q.best_match_id").eqNullSafe(F.col("p.best_match_id"))
        & F.col("q.best_jaccard").eqNullSafe(F.col("p.best_jaccard"))
        & F.col("q.is_novel").eqNullSafe(F.col("p.is_novel"))
    )
    return q.join(p, "doc_id", "full").select(
        "doc_id",
        F.col("q.n_matches").alias("n_matches"),
        F.col("q.best_match_id").alias("best_match_id"),
        F.col("q.best_jaccard").alias("best_jaccard"),
        F.col("q.is_novel").alias("is_novel"),
        same.alias("matches_precompact"),
    )


INGEST_COMPACTION_PROBE_SQL = f"""
SELECT *, TRUE AS matches_precompact
FROM ({INCREMENTAL_NEARDUP_PROBE_SQL})
"""


def bloom_ingest_dedup(spark, sf_dir):
    """Bloom-gated ingest dedup: which arriving-batch documents are new
    vs the standing corpus index, where the index side is only ever
    scanned (bloom sketch build + row-wise probe), never shuffled —
    the 100 TB ingest shape (`operators/bloom.py`). Output equals the
    exact anti-join; the content signature is the md5 of the first 4
    normalized words (a prefix fingerprint coarse enough to collide)."""
    from ..operators.bloom import bloom_antijoin

    docs = load(spark, sf_dir, "documents")
    sig = F.md5(
        F.array_join(
            F.slice(
                F.expr(
                    "filter(split(lower(text), '\\\\s+'), w -> length(w) >= 1)"
                ),
                1,
                4,
            ),
            " ",
        )
    )
    keyed = docs.select("doc_id", sig.alias("content_sig"))
    batch = keyed.filter(F.col("doc_id") % 7 == 0)
    index = keyed.filter(F.col("doc_id") % 7 != 0)
    return bloom_antijoin(batch, index, "content_sig").select(
        "doc_id", "content_sig"
    )


BLOOM_INGEST_DEDUP_SQL = r"""
WITH keyed AS (
  SELECT doc_id,
    md5(array_to_string(
      list_filter(string_split_regex(lower(text), '\s+'),
                  x -> len(x) >= 1)[1:4], ' ')) AS content_sig
  FROM documents
)
SELECT b.doc_id, b.content_sig
FROM keyed b
WHERE b.doc_id % 7 = 0
  AND NOT EXISTS (
    SELECT 1 FROM keyed i
    WHERE i.doc_id % 7 <> 0 AND i.content_sig = b.content_sig
  )
"""


def duplicate_span_stats(spark, sf_dir):
    """Substring-level duplication profile (ExactSubstr-lite): every
    token 8-gram corpus-counted, per-doc duplicated-span runs via
    gaps-and-islands (`llm/spans.py`)."""
    from ..llm.spans import duplicate_span_stats as span_stats

    return span_stats(fan_out(load(spark, sf_dir, "documents")))


DUPLICATE_SPAN_STATS_SQL = r"""
WITH w AS (
  SELECT doc_id,
    list_filter(string_split_regex(lower(text), '\s+'),
                x -> len(x) >= 1) AS words
  FROM documents
),
base AS (
  SELECT doc_id, greatest(len(words) - 7, 0) AS n_spans FROM w
),
spans AS (
  SELECT doc_id, i AS pos,
    md5(array_to_string(words[i + 1:i + 8], ' ')) AS h
  FROM w, LATERAL unnest(generate_series(0, len(words) - 8)) AS u(i)
),
occ AS (SELECT h FROM spans GROUP BY h HAVING count(*) > 1),
dup AS (SELECT s.doc_id, s.pos FROM spans s JOIN occ USING (h)),
isl AS (
  SELECT doc_id, pos,
    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM dup
),
runs AS (
  SELECT doc_id, grp, count(*) AS run_spans FROM isl GROUP BY doc_id, grp
),
per_doc AS (
  SELECT doc_id,
    CAST(sum(run_spans) AS BIGINT) AS n_dup_spans,
    max(run_spans) + 7 AS longest_dup_run
  FROM runs GROUP BY doc_id
)
SELECT b.doc_id, b.n_spans,
  coalesce(p.n_dup_spans, 0) AS n_dup_spans,
  coalesce(p.longest_dup_run, 0) AS longest_dup_run,
  CASE WHEN b.n_spans > 0
       THEN CAST(coalesce(p.n_dup_spans, 0) AS DOUBLE) / b.n_spans
       ELSE 0.0 END AS dup_span_ratio
FROM base b LEFT JOIN per_doc p USING (doc_id)
"""


def scrub_duplicate_spans(spark, sf_dir):
    """ExactSubstr-style rewrite: drop every non-canonical duplicated
    8-gram span occurrence and re-join the surviving tokens — the fix
    counterpart to `duplicate_span_stats` (`llm/spans.py`)."""
    from ..llm.spans import scrub_duplicate_spans as scrub

    return scrub(fan_out(load(spark, sf_dir, "documents")))


SCRUB_DUPLICATE_SPANS_SQL = r"""
WITH w AS (
  SELECT doc_id,
    list_filter(string_split_regex(lower(text), '\s+'),
                x -> len(x) >= 1) AS words
  FROM documents
),
toks AS (
  SELECT doc_id, i - 1 AS tpos, words[i] AS tok
  FROM w, LATERAL unnest(generate_series(1, len(words))) AS u(i)
),
spans AS (
  SELECT doc_id, i AS pos,
    md5(array_to_string(words[i + 1:i + 8], ' ')) AS h
  FROM w, LATERAL unnest(generate_series(0, len(words) - 8)) AS u(i)
),
ranked AS (
  SELECT doc_id, pos,
    count(*) OVER (PARTITION BY h) AS n_occ,
    row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
  FROM spans
),
covered AS (
  SELECT DISTINCT doc_id, pos + u.i AS tpos
  FROM ranked, LATERAL unnest(generate_series(0, 7)) AS u(i)
  WHERE n_occ > 1 AND rn > 1
),
kept AS (
  SELECT t.doc_id, t.tpos, t.tok
  FROM toks t
  WHERE NOT EXISTS (
    SELECT 1 FROM covered c
    WHERE c.doc_id = t.doc_id AND c.tpos = t.tpos
  )
),
rebuilt AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
    string_agg(tok, ' ' ORDER BY tpos) AS scrubbed_text
  FROM kept GROUP BY doc_id
)
SELECT w.doc_id,
  CAST(len(w.words) AS BIGINT) AS n_tokens,
  coalesce(r.n_kept, 0) AS n_kept,
  CAST(len(w.words) AS BIGINT) - coalesce(r.n_kept, 0) AS n_removed,
  coalesce(r.scrubbed_text, '') AS scrubbed_text
FROM w LEFT JOIN rebuilt r USING (doc_id)
"""


def winnowing_fingerprints(spark, sf_dir):
    """MOSS-style winnowing fingerprints (`llm/winnow.py`): per-window
    minimum of token 4-gram hashes, guaranteeing any shared ≥7-token
    substring yields an identical selected fingerprint in both docs."""
    from ..llm.winnow import winnowing_fingerprints as winnow

    return winnow(fan_out(load(spark, sf_dir, "documents")))


WINNOWING_FINGERPRINTS_SQL = r"""
WITH w AS (
  SELECT doc_id,
    list_filter(string_split_regex(lower(text), '\s+'),
                x -> len(x) >= 1) AS words
  FROM documents
),
spans AS (
  SELECT doc_id, i AS pos,
    CAST(('0x' || substr(md5(array_to_string(words[i + 1:i + 4], ' ')),
                         1, 8)) AS BIGINT) AS h
  FROM w, LATERAL unnest(generate_series(0, len(words) - 4)) AS u(i)
),
m AS (
  SELECT doc_id, pos, h,
    min(h) OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS win_min,
    count(*) OVER (PARTITION BY doc_id) AS n_spans
  FROM spans
),
covered AS (
  SELECT DISTINCT doc_id, pos + u.i AS cpos, win_min
  FROM m, LATERAL unnest(generate_series(0, 3)) AS u(i)
  WHERE pos <= greatest(n_spans - 4, 0)
)
SELECT s.doc_id, s.pos, s.h AS fp
FROM spans s
WHERE EXISTS (
  SELECT 1 FROM covered c
  WHERE c.doc_id = s.doc_id AND c.cpos = s.pos AND c.win_min = s.h
)
"""


def exactsubstr_spans(spark, sf_dir):
    """TRUE ExactSubstr duplicated regions (Lee et al. 2022): per
    document, merged extents of the longest duplicated substring
    starting at each position, for ANY length in [5, 24] tokens — no
    fixed-shingle floor. ``max_duplen < span_tokens`` exposes chimera
    regions whose parts match different partners
    (``llm/spans.py::exactsubstr_spans``: a seed-pruned exhaustive
    length ladder — duplicated min-gram seeds regain bounded context,
    then one (len, hash) groupBy per ladder rung takes the max
    duplicated length per position; no corpus-global sort. Greedy
    binary descent is documented WRONG in that module: an occurrence
    can extend further with a different partner mid-descent)."""
    from ..llm.spans import exactsubstr_spans as spans

    return spans(fan_out(load(spark, sf_dir, "documents")), min_len=5, cap=24)


EXACTSUBSTR_SPANS_SQL = r"""
WITH w AS (
  SELECT doc_id,
    list_filter(string_split_regex(lower(text), '\s+'),
                x -> len(x) >= 1) AS words
  FROM documents
),
grams AS (
  SELECT doc_id, i AS pos, ls.glen,
    md5(array_to_string(words[i + 1:i + ls.glen], ' ')) AS h
  FROM w,
    LATERAL unnest(generate_series(0, len(words) - 5)) AS u(i),
    (SELECT unnest(generate_series(5, 24)) AS glen) ls
  WHERE i + ls.glen <= len(words)
),
dupg AS (
  SELECT glen, h FROM grams GROUP BY glen, h HAVING count(*) >= 2
),
duplen AS (
  SELECT g.doc_id, g.pos, max(g.glen) AS dup_len
  FROM grams g JOIN dupg d ON d.glen = g.glen AND d.h = g.h
  GROUP BY g.doc_id, g.pos
),
ord AS (
  SELECT doc_id, pos, dup_len,
    max(pos + dup_len) OVER (PARTITION BY doc_id ORDER BY pos
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
  FROM duplen
),
brk AS (
  SELECT doc_id, pos, dup_len,
    CASE WHEN prev_max IS NULL OR pos > prev_max THEN 1 ELSE 0 END AS is_new
  FROM ord
),
isl AS (
  SELECT doc_id, pos, dup_len,
    sum(is_new) OVER (PARTITION BY doc_id ORDER BY pos) AS isl_id
  FROM brk
)
SELECT doc_id,
  CAST(min(pos) AS BIGINT) AS span_start,
  CAST(max(pos + dup_len) AS BIGINT) AS span_end,
  CAST(max(pos + dup_len) - min(pos) AS BIGINT) AS span_tokens,
  CAST(max(dup_len) AS BIGINT) AS max_duplen,
  CAST(count(*) AS BIGINT) AS n_anchors
FROM isl GROUP BY doc_id, isl_id
"""


def winnowing_overlap_pairs(spark, sf_dir):
    """Local-overlap pairs on winnowing fingerprints: df-capped
    fingerprint inverted index → shared-count per pair → exact
    integer-ppm overlap score (`llm/winnow.py`)."""
    from ..llm.winnow import winnowing_overlap_pairs as overlap

    return overlap(fan_out(load(spark, sf_dir, "documents")))


WINNOWING_OVERLAP_PAIRS_SQL = r"""
WITH w AS (
  SELECT doc_id,
    list_filter(string_split_regex(lower(text), '\s+'),
                x -> len(x) >= 1) AS words
  FROM documents
),
spans AS (
  SELECT doc_id, i AS pos,
    CAST(('0x' || substr(md5(array_to_string(words[i + 1:i + 4], ' ')),
                         1, 8)) AS BIGINT) AS h
  FROM w, LATERAL unnest(generate_series(0, len(words) - 4)) AS u(i)
),
m AS (
  SELECT doc_id, pos, h,
    min(h) OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS win_min,
    count(*) OVER (PARTITION BY doc_id) AS n_spans
  FROM spans
),
covered AS (
  SELECT DISTINCT doc_id, pos + u.i AS cpos, win_min
  FROM m, LATERAL unnest(generate_series(0, 3)) AS u(i)
  WHERE pos <= greatest(n_spans - 4, 0)
),
fps AS (
  SELECT DISTINCT s.doc_id, s.h AS fp
  FROM spans s
  WHERE EXISTS (
    SELECT 1 FROM covered c
    WHERE c.doc_id = s.doc_id AND c.cpos = s.pos AND c.win_min = s.h
  )
),
sizes AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp FROM fps GROUP BY doc_id
),
pairable AS (
  SELECT f.doc_id, f.fp FROM fps f
  JOIN (SELECT fp FROM fps GROUP BY fp
        HAVING count(*) BETWEEN 2 AND 20) d USING (fp)
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
    CAST(count(*) AS BIGINT) AS shared_fp
  FROM pairable a JOIN pairable b
    ON b.fp = a.fp AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
  HAVING count(*) >= 2
)
SELECT p.doc_a, p.doc_b, p.shared_fp, sa.n_fp AS n_fp_a, sb.n_fp AS n_fp_b,
  (p.shared_fp * 1000000) // least(sa.n_fp, sb.n_fp) AS overlap_ppm
FROM pairs p
JOIN sizes sa ON sa.doc_id = p.doc_a
JOIN sizes sb ON sb.doc_id = p.doc_b
"""


QUERIES = {
    "exact_dedup": QuerySpec(
        "exact_dedup", exact_dedup, EXACT_DEDUP_SQL,
        "Exact dedup groups via content-hash groupBy", ("dedup", "llm"),
    ),
    "normalized_dedup": QuerySpec(
        "normalized_dedup", normalized_dedup, NORMALIZED_DEDUP_SQL,
        "Dedup after lowercase/whitespace canonicalization", ("dedup", "llm"),
    ),
    "minhash_signatures": QuerySpec(
        "minhash_signatures", minhash_signatures, MINHASH_SIGNATURES_SQL,
        "8-hash MinHash signatures over word 3-gram shingles",
        ("dedup", "llm"),
    ),
    "minhash_near_duplicates": QuerySpec(
        "minhash_near_duplicates", minhash_near_duplicates,
        MINHASH_NEAR_DUPLICATES_SQL,
        "Full MinHash-LSH: band join → candidates → exact Jaccard",
        ("dedup", "llm", "join"),
    ),
    "ngram_jaccard_dedup": QuerySpec(
        "ngram_jaccard_dedup", ngram_jaccard_dedup, NGRAM_JACCARD_DEDUP_SQL,
        "n-gram Jaccard near-dups via rare-shingle inverted index",
        ("dedup", "llm", "join"),
    ),
    "simhash_fingerprints": QuerySpec(
        "simhash_fingerprints", simhash_fingerprints, SIMHASH_FINGERPRINTS_SQL,
        "64-bit SimHash via per-bit majority vote", ("dedup", "llm"),
    ),
    "simhash_near_duplicates": QuerySpec(
        "simhash_near_duplicates", simhash_near_duplicates,
        SIMHASH_NEAR_DUPLICATES_SQL,
        "SimHash pairs: lossless chunk blocking + exact Hamming verify",
        ("dedup", "llm", "join"),
    ),
    "incremental_neardup_probe": QuerySpec(
        "incremental_neardup_probe", incremental_neardup_probe,
        INCREMENTAL_NEARDUP_PROBE_SQL,
        "Ingest-time LSH probe of a new batch against the corpus index",
        ("dedup", "llm", "join"),
    ),
    "indexed_ingest_probe": QuerySpec(
        "indexed_ingest_probe", indexed_ingest_probe,
        INCREMENTAL_NEARDUP_PROBE_SQL,
        "Same verdicts via STORED index artifacts (hash+signature columns)",
        ("dedup", "llm", "join", "streaming"),
    ),
    "ingest_compaction_probe": QuerySpec(
        "ingest_compaction_probe", ingest_compaction_probe,
        INGEST_COMPACTION_PROBE_SQL,
        "Probe verdicts invariant under the ingest index's compaction "
        "maintenance (fragmented write -> probe -> compact -> re-probe)",
        ("dedup", "llm", "lifecycle", "jobs"),
    ),
    "bloom_ingest_dedup": QuerySpec(
        "bloom_ingest_dedup", bloom_ingest_dedup, BLOOM_INGEST_DEDUP_SQL,
        "Bloom-gated exact anti-join ingest dedup (index never shuffles)",
        ("dedup", "llm", "join"),
    ),
    "duplicate_span_stats": QuerySpec(
        "duplicate_span_stats", duplicate_span_stats,
        DUPLICATE_SPAN_STATS_SQL,
        "Token 8-gram duplicated-span profile (ExactSubstr-lite)",
        ("dedup", "llm", "text"),
    ),
    "scrub_duplicate_spans": QuerySpec(
        "scrub_duplicate_spans", scrub_duplicate_spans,
        SCRUB_DUPLICATE_SPANS_SQL,
        "ExactSubstr rewrite: remove non-canonical duplicated 8-gram spans",
        ("dedup", "llm", "text"),
    ),
    "exactsubstr_spans": QuerySpec(
        "exactsubstr_spans", exactsubstr_spans, EXACTSUBSTR_SPANS_SQL,
        "True ExactSubstr: arbitrary-length [5,24] duplicated regions "
        "via chunked suffix ranking",
        ("dedup", "llm", "text"),
    ),
    "winnowing_fingerprints": QuerySpec(
        "winnowing_fingerprints", winnowing_fingerprints,
        WINNOWING_FINGERPRINTS_SQL,
        "MOSS winnowing: per-window minimum 4-gram fingerprints",
        ("dedup", "llm", "text"),
    ),
    "winnowing_overlap_pairs": QuerySpec(
        "winnowing_overlap_pairs", winnowing_overlap_pairs,
        WINNOWING_OVERLAP_PAIRS_SQL,
        "Local-overlap pairs via df-capped winnowing-fingerprint index",
        ("dedup", "llm", "text", "join"),
    ),
}


def lsh_band_calibration(spark, sf_dir):
    """Observed LSH s-curve: candidate volume per (n_bands, band_size)
    split of the same 8 MinHash signatures — the report that sizes a
    100 TB dedup run's verify stage before launching it."""
    return D.lsh_band_profile(fan_out(load(spark, sf_dir, "documents")))


def _lsh_band_calibration_sql(
    configs=((8, 1), (4, 2), (2, 4), (1, 8)), max_width: int = 64
) -> str:
    """DuckDB oracle for ``lsh_band_calibration``: the per-config
    banding unrolled — each config gets its own banded/bucket CTE chain
    over the shared ``sig`` CTE, mirroring llm.dedup.lsh_band_profile's
    Python loop."""
    ctes = [f"WITH {_SHINGLES_CTE},", "sig AS (", f"  {_SIG_BODY}", ")"]
    rows = []
    for ci, (n_bands, band_size) in enumerate(configs):
        bands_union = D.bands_union_sql(
            src="sig", n_hashes=n_bands * band_size, band_size=band_size
        )
        ctes.append(
            f""", banded_{ci} AS (
  {bands_union}
), buckets_{ci} AS (
  SELECT band_idx, band_key, count(*) AS width
  FROM banded_{ci} GROUP BY 1, 2
), coll_{ci} AS (SELECT * FROM buckets_{ci} WHERE width >= 2),
stats_{ci} AS (
  SELECT count(*) AS nb,
    CAST(COALESCE(sum((width * (width - 1)) // 2), 0) AS BIGINT) AS mult,
    CAST(COALESCE(max(width), 0) AS BIGINT) AS mw
  FROM coll_{ci}
), pp_{ci} AS (
  SELECT count(*) AS np FROM (
    SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
    FROM banded_{ci} a
    JOIN banded_{ci} b USING (band_idx, band_key)
    JOIN coll_{ci} c USING (band_idx, band_key)
    WHERE a.doc_id < b.doc_id AND c.width <= {max_width}
  )
)"""
        )
        rows.append(
            f"SELECT CAST({n_bands} AS INT) AS n_bands, "
            f"CAST({band_size} AS INT) AS band_size, "
            f"CAST(nb AS BIGINT) AS n_colliding_buckets, "
            f"mult AS candidate_multiplicity, "
            f"CAST(np AS BIGINT) AS distinct_candidate_pairs, "
            f"mw AS max_bucket_width "
            f"FROM stats_{ci}, pp_{ci}"
        )
    return "\n".join(ctes) + "\n" + "\nUNION ALL\n".join(rows)


LSH_BAND_CALIBRATION_SQL = _lsh_band_calibration_sql()


QUERIES["lsh_band_calibration"] = QuerySpec(
    "lsh_band_calibration",
    lsh_band_calibration,
    LSH_BAND_CALIBRATION_SQL,
    "LSH band-config calibration: candidate volume per (bands, rows)",
    ("dedup", "llm", "agg"),
)


def split_leakage_audit(spark, sf_dir):
    """Near-duplicate contamination across the stable train/val/test
    hash split: verified near-dup pairs (exact Jaccard >= 0.5, checked
    in exact integers) labeled with both ends' splits and an is_leak
    flag — the self-contamination decontaminate_corpus can't see."""
    return D.split_leakage_audit(fan_out(load(spark, sf_dir, "documents")))


_SPLIT_BUCKET = (
    "CAST('0x' || substr(md5('split1' || CAST({col} AS VARCHAR)), 1, 8) "
    "AS BIGINT)"
)

SPLIT_LEAKAGE_AUDIT_SQL = f"""
WITH {_SHINGLES_CTE},
sig AS (
  {_SIG_BODY}
),
banded AS (
  {_BANDS}
),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id
),
shing AS (SELECT DISTINCT doc_id, unnest(shingles) AS shingle FROM sh),
sizes AS (SELECT doc_id, count(*) AS n_shingles FROM shing GROUP BY doc_id),
common AS (
  SELECT p.id_a, p.id_b, count(*) AS n_common
  FROM pairs p
  JOIN shing sa ON sa.doc_id = p.id_a
  JOIN shing sb ON sb.doc_id = p.id_b AND sb.shingle = sa.shingle
  GROUP BY p.id_a, p.id_b
),
verified AS (
  SELECT p.id_a, p.id_b,
    coalesce(c.n_common, 0) AS n_common,
    na.n_shingles AS n_a, nb.n_shingles AS n_b
  FROM pairs p
  LEFT JOIN common c ON c.id_a = p.id_a AND c.id_b = p.id_b
  JOIN sizes na ON na.doc_id = p.id_a
  JOIN sizes nb ON nb.doc_id = p.id_b
  WHERE coalesce(c.n_common, 0) * 2 >= (na.n_shingles + nb.n_shingles
                                        - coalesce(c.n_common, 0))
),
splits AS (
  SELECT doc_id,
    CASE WHEN {_SPLIT_BUCKET.format(col='doc_id')}
           < CAST(0.8 * 4294967296 AS BIGINT) THEN 'train'
         WHEN {_SPLIT_BUCKET.format(col='doc_id')}
           < CAST((0.8 + 0.1) * 4294967296 AS BIGINT) THEN 'val'
         ELSE 'test' END AS split
  FROM documents
)
SELECT v.id_a, v.id_b, sa.split AS split_a, sb.split AS split_b,
  v.n_common, v.n_a, v.n_b,
  (v.n_common * 1000000) // (v.n_a + v.n_b - v.n_common) AS jaccard_ppm,
  sa.split <> sb.split AS is_leak
FROM verified v
JOIN splits sa ON sa.doc_id = v.id_a
JOIN splits sb ON sb.doc_id = v.id_b
"""


QUERIES["split_leakage_audit"] = QuerySpec(
    "split_leakage_audit",
    split_leakage_audit,
    SPLIT_LEAKAGE_AUDIT_SQL,
    "Near-dup contamination across train/val/test splits (is_leak)",
    ("dedup", "llm", "join"),
)


def dedup_family_agreement(spark, sf_dir):
    """Agreement report across the three fingerprinting families
    (MinHash-Jaccard >= 0.5, SimHash Hamming <= 3, winnowing local
    overlap) — exact pair counts per family combination."""
    return D.dedup_family_agreement(fan_out(load(spark, sf_dir, "documents")))


DEDUP_FAMILY_AGREEMENT_SQL = f"""
WITH fam_m AS (
  SELECT id_a AS a, id_b AS b, 'minhash' AS fam
  FROM ({MINHASH_NEAR_DUPLICATES_SQL})
  WHERE n_common * 2 >= (n_a + n_b - n_common)
),
fam_s AS (
  SELECT id_a AS a, id_b AS b, 'simhash' AS fam
  FROM ({SIMHASH_NEAR_DUPLICATES_SQL})
),
fam_w AS (
  SELECT doc_a AS a, doc_b AS b, 'winnowing' AS fam
  FROM ({WINNOWING_OVERLAP_PAIRS_SQL})
),
tagged AS (
  SELECT * FROM fam_m
  UNION ALL SELECT * FROM fam_s
  UNION ALL SELECT * FROM fam_w
),
per_pair AS (
  SELECT a, b,
    array_to_string(list_sort(list(DISTINCT fam)), '+') AS families
  FROM tagged GROUP BY a, b
)
SELECT families, count(*) AS n_pairs FROM per_pair GROUP BY families
"""


QUERIES["dedup_family_agreement"] = QuerySpec(
    "dedup_family_agreement",
    dedup_family_agreement,
    DEDUP_FAMILY_AGREEMENT_SQL,
    "Cross-family near-dup agreement (minhash/simhash/winnowing)",
    ("dedup", "llm", "agg"),
)


def minhash_estimate_error(spark, sf_dir):
    """MinHash sketch accuracy: estimated vs exact Jaccard per LSH
    candidate pair, absolute error in exact ppm — the n_hashes sizing
    measurement for a 100 TB dedup run."""
    return D.minhash_estimate_error(fan_out(load(spark, sf_dir, "documents")))


_MH_MATCHES = " + ".join(
    f"(CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END)"
    for i in range(D.N_MINHASHES)
)

MINHASH_ESTIMATE_ERROR_SQL = f"""
WITH {_SHINGLES_CTE},
sig AS (
  {_SIG_BODY}
),
banded AS (
  {_BANDS}
),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id
),
shing AS (SELECT DISTINCT doc_id, unnest(shingles) AS shingle FROM sh),
sizes AS (SELECT doc_id, count(*) AS n_shingles FROM shing GROUP BY doc_id),
common AS (
  SELECT p.id_a, p.id_b, count(*) AS n_common
  FROM pairs p
  JOIN shing sa ON sa.doc_id = p.id_a
  JOIN shing sb ON sb.doc_id = p.id_b AND sb.shingle = sa.shingle
  GROUP BY p.id_a, p.id_b
),
est AS (
  SELECT p.id_a, p.id_b,
    CAST(({_MH_MATCHES}) AS BIGINT) * 1000000 // {D.N_MINHASHES}
      AS est_jaccard_ppm
  FROM pairs p
  JOIN sig a ON a.doc_id = p.id_a
  JOIN sig b ON b.doc_id = p.id_b
)
SELECT e.id_a, e.id_b, e.est_jaccard_ppm,
  (coalesce(c.n_common, 0) * 1000000)
    // (na.n_shingles + nb.n_shingles - coalesce(c.n_common, 0))
    AS exact_jaccard_ppm,
  abs(e.est_jaccard_ppm
      - (coalesce(c.n_common, 0) * 1000000)
        // (na.n_shingles + nb.n_shingles - coalesce(c.n_common, 0)))
    AS abs_err_ppm
FROM est e
LEFT JOIN common c ON c.id_a = e.id_a AND c.id_b = e.id_b
JOIN sizes na ON na.doc_id = e.id_a
JOIN sizes nb ON nb.doc_id = e.id_b
"""


QUERIES["minhash_estimate_error"] = QuerySpec(
    "minhash_estimate_error",
    minhash_estimate_error,
    MINHASH_ESTIMATE_ERROR_SQL,
    "MinHash estimate vs exact Jaccard per candidate pair (ppm error)",
    ("dedup", "llm", "join"),
)


def source_overlap_matrix(spark, sf_dir):
    """Source-to-source copy forensics: distinct shared 8-gram span
    hashes per source pair (doc-df-capped), exact ppm vs the smaller
    side — which feeds copy from which."""
    from ..llm.spans import source_overlap_matrix as _som

    return _som(fan_out(load(spark, sf_dir, "documents")))


SOURCE_OVERLAP_MATRIX_SQL = r"""
WITH w AS (
  SELECT doc_id, source,
    list_filter(string_split_regex(lower(text), '\s+'),
                x -> len(x) >= 1) AS words
  FROM documents
),
spans AS (
  SELECT doc_id, source,
    md5(array_to_string(words[i + 1:i + 8], ' ')) AS h
  FROM w, LATERAL unnest(generate_series(0, len(words) - 8)) AS u(i)
),
doc_df AS (
  SELECT h FROM (
    SELECT h, count(*) AS ddf
    FROM (SELECT DISTINCT doc_id, h FROM spans) GROUP BY h
  ) WHERE ddf <= 20
),
sh AS (SELECT DISTINCT source AS src, h FROM spans JOIN doc_df USING (h)),
sizes AS (SELECT src, count(*) AS n FROM sh GROUP BY src),
pairs AS (
  SELECT a.src AS src_a, b.src AS src_b, count(*) AS shared_hashes
  FROM sh a JOIN sh b ON a.h = b.h AND a.src < b.src
  GROUP BY 1, 2
)
SELECT p.src_a, p.src_b, p.shared_hashes,
  CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
  (p.shared_hashes * 1000000) // least(sa.n, sb.n) AS overlap_ppm
FROM pairs p
JOIN sizes sa ON sa.src = p.src_a
JOIN sizes sb ON sb.src = p.src_b
"""


QUERIES["source_overlap_matrix"] = QuerySpec(
    "source_overlap_matrix",
    source_overlap_matrix,
    SOURCE_OVERLAP_MATRIX_SQL,
    "Source-pair shared 8-gram matrix (copy forensics, df-capped)",
    ("dedup", "llm", "agg"),
)
