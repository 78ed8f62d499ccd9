"""Deduplication operators: exact, normalized, MinHash-LSH, SimHash.

All pure DataFrame programs (no UDFs). Scale design:

- exact/normalized dedup is a hash-groupBy — one shuffle on the content
  hash, map-side partial aggregation; the hash key is uniform so no skew.
- MinHash-LSH shuffles on *band keys* (int64 folds of the band's
  signature values — 8-byte shuffle/join keys). Candidate
  generation is a self-equi-join per band; only candidates are verified
  with exact Jaccard (shingle-array intersection), so the quadratic step
  never touches non-colliding documents. At 100 TB you add more bands /
  rows-per-band to tune recall vs join fan-out; the plan shape is
  unchanged.
- The MinHash value is the MIN over shingles of a 31-bit integer hash
  ``h_i(s) = (A_i * base(s) + B_i) mod P`` where ``base(s)`` is the
  first 60 bits of md5(s) reduced mod ``P = 2^31 - 1`` — one md5 per
  shingle (not one per hash function) feeding 8 fixed affine
  permutations (the classic universal-hash MinHash family). Everything
  is exact int64 arithmetic reproducible in any engine with md5 (this
  is what makes the DuckDB oracle possible), and a BIGINT min
  aggregates in a fixed-width HashAggregate buffer — the previous
  min-over-md5-hex-string form compiled to SortAggregate (string agg
  buffers are not hash-eligible) and shuffled 8×32-char hex keys where
  this shuffles 8 longs (r11 verdict ask #2).
- SimHash: per-bit majority vote over token hashes, materialized as a
  64-char bit string; bit b of a token is extracted from its md5 hex
  nibble (position arithmetic only, no binary casts).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import words_of

N_MINHASHES = 8
BAND_SIZE = 2  # 8 minhashes → 4 bands of 2

# -- numeric MinHash family (r11 verdict ask #2) ---------------------------
# h_i(s) = (A_i * base(s) + B_i) mod P over base(s) = first 60 bits of
# md5(s) mod P. P = 2^31 - 1 (Mersenne prime); A_i/B_i are fixed
# arbitrary constants in [1, P). All arithmetic stays inside int64
# ((P-1)^2 + P < 2^63), wraps nowhere, and both engines (Spark bigint,
# DuckDB BIGINT) compute it bit-identically — proven by the oracle
# parity suite. A within-document hash collision (two shingles drawing
# the same h_i, ~n^2/2^32 per doc) only ties the min — the min itself
# stays deterministic and engine-identical.
MINHASH_PRIME = 2147483647
MINHASH_A = (
    1103515245, 1588635695, 1117695901, 1779033703,
    1484764045, 1865811235, 1629267613, 1013904243,
)
MINHASH_B = (
    12345, 1013904223, 68909602, 1359168269,
    776531419, 906097321, 1500450271, 2038074743,
)

# DuckDB expression: shingle list -> list of base-hash int64s (ONE md5
# per shingle feeding all 8 permutations — the oracle twin of
# ``_minhash_base`` below). Every oracle SQL that computes signatures
# builds on this via ``minhash_sig_select_sql`` so Spark and DuckDB can
# never drift apart.
MINHASH_HV_SQL = (
    "list_transform({shingles}, s -> "
    "CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) % 2147483647)"
)


def minhash_mh_sql(i: int, hv: str = "hv") -> str:
    """DuckDB expression for mh_i from the base-hash list column."""
    return (
        f"list_min(list_transform({hv}, x -> "
        f"({MINHASH_A[i]} * x + {MINHASH_B[i]}) % {MINHASH_PRIME}))"
    )


def minhash_sig_select_sql(
    src: str = "sh",
    shingles: str = "shingles",
    id_col: str = "doc_id",
    n_hashes: int = N_MINHASHES,
) -> str:
    """DuckDB SELECT body producing ``(id, mh0..mh{n-1})`` from a CTE
    holding a shingle-list column — the oracle twin of
    ``minhash_signatures``. Wrap as ``sig AS (<this>)``."""
    hv = MINHASH_HV_SQL.format(shingles=shingles)
    mh = ",\n    ".join(
        f"{minhash_mh_sql(i)} AS mh{i}" for i in range(n_hashes)
    )
    return (
        f"SELECT {id_col},\n    {mh}\n"
        f"  FROM (SELECT {id_col}, {hv} AS hv FROM {src}) __hv"
    )


def band_key_sql(cols) -> str:
    """DuckDB band key: int64 polynomial fold of the band's mh columns
    (injective for band_size 2 since mh < 2^31 - 1; wider bands hash —
    both engines compute the identical fold, so bucket semantics agree
    regardless). Twin of the Spark fold in ``_banded``."""
    cols = list(cols)
    k = cols[0]
    for c in cols[1:]:
        k = f"(({k}) % 2147483648) * 2147483647 + ({c})"
    return k


def bands_union_sql(
    src: str = "sig",
    id_col: str = "doc_id",
    n_hashes: int = N_MINHASHES,
    band_size: int = BAND_SIZE,
) -> str:
    """DuckDB banded CTE body (UNION ALL over band indexes), the twin
    of ``_banded``: shingle-less docs (NULL signature) excluded."""
    return "\n  UNION ALL ".join(
        f"SELECT {id_col}, {b} AS band_idx, "
        + band_key_sql(
            [f"mh{b * band_size + j}" for j in range(band_size)]
        )
        + f" AS band_key FROM {src} WHERE mh0 IS NOT NULL"
        for b in range(n_hashes // band_size)
    )
# Largest band-collision candidate set the incremental probe will
# collect to the driver and push into the index text scan as an In
# predicate (longs — ~8 KB at the cap); bigger sets fall back to the
# join path. Two reasons the cap is ~1k and not larger: (1) beyond
# ~1k scattered ids the In predicate stops skipping row groups anyway
# (every file holds some candidate), so the join path is no worse;
# (2) a multi-thousand-literal In inflates plan STRINGS to megabytes
# and Spark's regex-based plan redaction machinery stack-overflows on
# them — observed live in the 100x scale harness at a cap of 8192
# (java.util.regex deep backtracking in the stream execution thread).
# See incremental_neardup_verdicts_indexed.
MAX_CANDIDATE_ID_PUSHDOWN = 1000
SHINGLE_K = 3


def exact_dedup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Hash-groupBy exact dedup: one row per distinct content, keeper =
    min id (deterministic survivor policy)."""
    return (
        df.select(F.col(id_col), F.md5(F.col(text_col)).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def normalized_dedup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Dedup after canonicalization (lowercase, squash whitespace) —
    catches formatting-only duplicates."""
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    return (
        df.select(F.col(id_col), F.md5(norm).alias("norm_hash"))
        .groupBy("norm_hash")
        .agg(F.min(id_col).alias("keeper_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def shingles_of(text: Column, k: int = SHINGLE_K) -> Column:
    """Word k-gram shingles as an array<string> (empty when < k words).
    k offset ``slice``s of the word array are zipped, so the lambda reads
    struct fields only: indexing the word array inside it re-splits the
    text per shingle (lambdas get no subexpression elimination)."""
    words = words_of(text)
    n = F.size(words)
    parts = [F.slice(words, 1 + off, n - (k - 1)) for off in range(k)]
    gram = lambda z: F.concat_ws(" ", *[z[str(off)] for off in range(k)])
    return F.when(n >= k, F.transform(F.arrays_zip(*parts), gram)).otherwise(
        F.array().cast("array<string>")
    )


def _minhash_base(shingle: Column) -> Column:
    """Base hash per shingle: first 60 bits of md5 as int64, mod P —
    computed ONCE per shingle row and fed to all 8 affine permutations
    (the old form paid 8 independent md5s per shingle). NULL in, NULL
    out (shingle-less docs keep their NULL signature)."""
    return (
        F.conv(F.substring(F.md5(shingle), 1, 15), 16, 10).cast("long")
        % F.lit(MINHASH_PRIME)
    )


def _minhash_perm(hv: Column, i: int) -> Column:
    return (
        F.lit(MINHASH_A[i]) * hv + F.lit(MINHASH_B[i])
    ) % F.lit(MINHASH_PRIME)


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = N_MINHASHES,
) -> DataFrame:
    """Per-document MinHash signature: mh_i = min over shingles of the
    numeric hash family (module docstring). NULL signature for docs
    with no shingles.

    Shape: explode shingles → ONE md5/base-hash per row → groupBy(id)
    .agg(8 affine mins). Keeping the shingles as an array and taking 8
    array_mins looks cheaper (no shuffle) but Catalyst's projection
    collapse inlines the shingle-building expression into every one of
    the 8 columns — an 8× recompute. The explode form builds each
    shingle and its base hash once; the min-agg is a map-side-combined
    HashAggregate on the doc id (uniform key, no skew; int64 buffers —
    fixed-width, hash-agg eligible where the md5-hex min was a
    SortAggregate) — the shape that scales to 100 TB."""
    sh = shingles_of(F.col(text_col))
    # explode_outer keeps shingle-less docs (their signature is NULL,
    # matching array_min over an empty array)
    exploded = df.select(
        F.col(id_col), F.explode_outer(sh).alias("shingle")
    )
    hv = exploded.select(
        F.col(id_col), _minhash_base(F.col("shingle")).alias("__hv")
    )
    aggs = [
        F.min(_minhash_perm(F.col("__hv"), i)).alias(f"mh{i}")
        for i in range(n_hashes)
    ]
    return hv.groupBy(id_col).agg(*aggs)


def minhash_from_shingle_table(
    sh: DataFrame,
    id_col: str = "doc_id",
    n_hashes: int = N_MINHASHES,
) -> DataFrame:
    """MinHash signatures computed from an existing distinct
    ``(id, shingle)`` table (``shingle_table``) instead of re-tokenizing
    the corpus: min over the distinct shingle set equals min over the
    shingle multiset, so the signatures are identical to
    ``minhash_signatures`` — except that shingle-less documents (which
    there carry an all-NULL signature row) are simply absent here. Both
    shapes band to the same candidate set (NULL signatures are dropped
    before banding), so pipelines that already built a shingle table
    (the corpus funnel) save one full tokenize + explode pass over the
    corpus by deriving the signatures from it."""
    hv = sh.select(
        F.col(id_col), _minhash_base(F.col("shingle")).alias("__hv")
    )
    aggs = [
        F.min(_minhash_perm(F.col("__hv"), i)).alias(f"mh{i}")
        for i in range(n_hashes)
    ]
    return hv.groupBy(id_col).agg(*aggs)


def ingest_artifacts(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = N_MINHASHES,
) -> DataFrame:
    """Per-document ingest-time dedup artifacts: ``content_hash`` plus
    the MinHash signature (``mh0..mh{n-1}``) and the distinct-shingle
    count, computed ONCE when a document enters the corpus so an ingest
    index never re-derives them — at 100 TB, re-minhashing the accepted
    corpus on every micro-batch is the difference between a pruned
    column scan and a corpus-wide explode/aggregate per trigger.

    Shape: one explode → groupBy(id) aggregation (the proven
    ``minhash_signatures`` shape, extended with the shingle count),
    joined back to the document row on the uniform id key. The min is
    taken over the DISTINCT shingle set, which equals the min over the
    multiset (``minhash_from_shingle_table`` equivalence). Documents
    with no shingles (< k words) carry ``n_shingles = 0`` and an
    all-NULL signature, exactly like ``minhash_signatures``.
    """
    exploded = df.select(
        F.col(id_col),
        F.explode_outer(
            F.array_distinct(shingles_of(F.col(text_col)))
        ).alias("shingle"),
    )
    # __hv is NULL exactly when shingle is NULL (md5/conv propagate),
    # so the count keeps its "0 for shingle-less docs" semantics
    hv = exploded.select(
        F.col(id_col), _minhash_base(F.col("shingle")).alias("__hv")
    )
    aggs = [
        F.min(_minhash_perm(F.col("__hv"), i)).alias(f"mh{i}")
        for i in range(n_hashes)
    ]
    sig = hv.groupBy(id_col).agg(
        *aggs, F.count("__hv").cast("int").alias("n_shingles")
    )
    return df.withColumn("content_hash", F.md5(F.col(text_col))).join(
        sig, id_col
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    n_hashes: int = N_MINHASHES,
    band_size: int = BAND_SIZE,
) -> DataFrame:
    """Band the signatures and self-join on (band_index, band_key) —
    docs agreeing on any full band become candidate pairs.

    Shingle-less documents (< k words) carry an all-NULL signature and
    are dropped *before* banding: a NULL fold key would never equi-join
    anyway, but filtering first keeps those rows out of the banded
    exchange entirely (and out of band-profile bucket counts) — the
    historical hazard was every short doc sharing one band key and
    forming an O(n²) candidate clique."""
    banded = _banded(signatures, id_col, n_hashes, band_size)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def shingle_table(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Distinct (id, shingle) rows, persisted: the inverted-index
    pipelines (``ngram_jaccard_pairs``, the corpus funnel) read it
    several times; persisting makes the explode run once — at scale the
    difference between one and N passes over the corpus
    (MEMORY_AND_DISK: spills, never recomputes)."""
    from pyspark import StorageLevel

    # distinct-within-document (array_distinct before the explode) IS
    # global distinct of (id, shingle) — and costs zero shuffle, where
    # .distinct() after the explode would shuffle every shingle row
    return (
        df.select(
            F.col(id_col),
            F.explode(F.array_distinct(shingles_of(F.col(text_col)))).alias(
                "shingle"
            ),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )


def jaccard_verify(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    df_b: Optional[DataFrame] = None,
) -> DataFrame:
    """Exact Jaccard over distinct shingle sets for the candidate pairs
    (verification step of the LSH pipeline). A pair with no common
    shingle stays (``n_common = 0``); a pair touching a document with
    no shingles (< k words) is dropped. ``df_b`` holds the ``id_b``
    end's documents when the two ends come from different frames (the
    incremental probe's batch and index); by default both ends read
    ``df``.

    Shape: one distinct-shingle array per document, joined to the pair
    list once per pair end; counts are array sizes — no explode, persist
    or aggregation. When both ends read ``df``, each of its documents is
    shingled once per end, candidate or not (linear in its length)."""

    def arrays(docs: DataFrame, end: str) -> DataFrame:
        return docs.select(
            F.col(id_col).alias(f"id_{end}"),
            F.array_distinct(shingles_of(F.col(text_col))).alias(f"s{end}"),
        )

    n_a, n_b = F.size("sa").cast("long"), F.size("sb").cast("long")
    n_common = F.size(F.array_intersect("sa", "sb")).cast("long")
    return (
        pairs.join(arrays(df, "a"), "id_a")
        .join(arrays(df if df_b is None else df_b, "b"), "id_b")
        # one predicate over both ends drops pairs touching a shingle-less
        # doc and stays a join condition; a per-document filter would be
        # pushed below the shingle projection (shingling every row twice)
        # and, as a constraint on the text, inferred onto the pair ids
        .filter(F.least(n_a, n_b) > 0)
        .select(
            "id_a", "id_b", n_common.alias("n_common"), n_a.alias("n_a"), n_b.alias("n_b")
        )
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: int = 20,
    min_jaccard: float = 0.6,
    min_shared: int = 3,
) -> DataFrame:
    """Direct n-gram-Jaccard dedup with inverted-index blocking: candidate
    pairs share at least ``min_shared`` *rare* shingles (document
    frequency ≤ ``max_df`` — the stop-shingle trick that bounds the
    self-join fan-out to max_df² per shingle), then exact Jaccard over
    the full shingle sets filters to near-duplicates.

    ``min_shared=3`` is lossless for ``min_jaccard=0.6`` on this corpus:
    a 0.6-Jaccard pair of k-shingle docs shares ≥ 0.375·(n_a+n_b)
    shingles (≥ 6 even for the minimum 10-word documents), so requiring
    3 shared candidates cannot drop a true near-duplicate — but it cuts
    the random single-collision candidate pairs by an order of
    magnitude before the expensive verify join.

    Vs MinHash-LSH: no signatures, exact similarity, but recall drops
    for pairs whose every shared shingle is common — the documented
    trade; at 100 TB the rare-shingle join is one bounded shuffle."""
    from pyspark import StorageLevel

    # persisted once: feeds the frequency table, both inverted-index
    # sides, the hot-shingle correction and the size table
    sh = shingle_table(df, text_col, id_col)
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df_"))
    # one shuffle join annotates every (id, shingle) row with its
    # document frequency; rare/hot splits are then free filters over the
    # persisted result. (Broadcasting the rare-shingle list instead
    # would ship the *majority* of the vocabulary to every executor —
    # wrong at corpus scale.) freq is derived from sh by a groupBy on
    # the join key, so its partitioning is reused — only sh shuffles.
    shf = sh.join(freq, "shingle").persist(StorageLevel.MEMORY_AND_DISK)
    rare_sh = shf.filter(F.col("df_") <= max_df)
    a = rare_sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = rare_sh.select(F.col(id_col).alias("id_b"), "shingle")
    # shared-RARE-shingle count per candidate pair (the blocking join)
    pairs = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_rare"))
        .filter(F.col("n_rare") >= min_shared)
    )
    # exact correction: rare ∪ hot partitions the shingle space, so
    # n_common = n_rare + shared-HOT count — the hot set is tiny by
    # construction (df > max_df), so this join touches almost nothing,
    # and the result is *exact* Jaccard without re-joining the full
    # index per pair
    hot_sh = shf.filter(F.col("df_") > max_df)
    ha = hot_sh.select(F.col(id_col).alias("id_a"), "shingle")
    hb = hot_sh.select(F.col(id_col).alias("id_b"), "shingle")
    hot_common = (
        pairs.select("id_a", "id_b")
        .join(ha, "id_a")
        .join(hb, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_hot"))
    )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shingles"))
    na = sizes.select(F.col(id_col).alias("id_a"), F.col("n_shingles").alias("n_a"))
    nb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_shingles").alias("n_b"))
    n_common = F.col("n_rare") + F.coalesce(F.col("n_hot"), F.lit(0))
    return (
        pairs.join(hot_common, ["id_a", "id_b"], "left")
        .join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            n_common.alias("n_common"),
            "n_a",
            "n_b",
            (
                n_common.cast("double") / (F.col("n_a") + F.col("n_b") - n_common)
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= min_jaccard)
    )


def simhash_bits(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n_bits: int = 64
) -> DataFrame:
    """64-bit SimHash as a bit string: per-token md5, per-bit ±1 votes,
    majority per position.

    Shape: one explode to token rows, the md5 hex decoded as two 32-bit
    integer chunks (one ``conv`` parse each — measured ~16% faster than
    16 per-nibble ``instr`` scans), then a single groupBy(id) with 64
    sum aggregates — *one* shuffle on the doc id with map-side combine,
    and no 64× bit-position row blowup (the naive
    explode(token × bit_pos) form is 64× more shuffle input for
    identical votes)."""
    assert n_bits % 32 == 0
    n_chunks = n_bits // 32
    words = words_of(F.col(text_col))
    toks = df.select(F.col(id_col), F.explode(words).alias("tok")).select(
        F.col(id_col), F.md5("tok").alias("h")
    )
    chunks = toks.select(
        F.col(id_col),
        *[
            F.conv(F.substring("h", 8 * i + 1, 8), 16, 10)
            .cast("bigint")
            .alias(f"c{i}")
            for i in range(n_chunks)
        ],
    )
    # vote for bit (32i + j) = sum over tokens of ±1 by chunk bit j
    votes = chunks.groupBy(id_col).agg(
        *[
            F.sum(
                F.shiftright(F.col(f"c{b // 32}"), 31 - b % 32) % 2 * 2 - 1
            ).alias(f"v{b}")
            for b in range(n_bits)
        ]
    )
    bitchars = [
        F.when(F.col(f"v{b}") > 0, F.lit("1")).otherwise(F.lit("0"))
        for b in range(n_bits)
    ]
    return votes.select(F.col(id_col), F.concat(*bitchars).alias("simhash"))


# ---------------------------------------------------------------------------
# incremental (index-probe) near-dup detection


def _band_key(cols) -> Column:
    """int64 band key: polynomial fold of the band's mh columns.
    Injective for band_size 2 (mh ≤ P - 1 = 2147483646 < the 2147483647
    multiplier, so (mh_a, mh_b) → mh_a·2147483647 + mh_b is exact
    base-2147483647 positional encoding); wider bands may collide, but
    both engines compute the identical fold, so bucket semantics still
    agree exactly. Replaces md5(concat_ws(...)): an 8-byte shuffle/join
    key instead of a 32-char hex string, and no per-band md5 at all.
    Twin of ``band_key_sql``."""
    cols = list(cols)
    k = cols[0]
    for c in cols[1:]:
        k = (k % F.lit(2147483648)) * F.lit(2147483647) + c
    return k


def _banded(signatures: DataFrame, id_col: str, n_hashes: int,
            band_size: int) -> DataFrame:
    """(id, band_idx, band_key) rows; shingle-less docs dropped before
    banding (their NULL signature would otherwise put every short doc
    in one O(n²) candidate clique — see lsh_candidate_pairs)."""
    n_bands = n_hashes // band_size
    bands = F.array(
        *[
            _band_key(
                [F.col(f"mh{b * band_size + j}") for j in range(band_size)]
            )
            for b in range(n_bands)
        ]
    )
    return signatures.filter(F.col("mh0").isNotNull()).select(
        F.col(id_col), F.posexplode(bands).alias("band_idx", "band_key")
    )


def lsh_probe_pairs(
    index_sigs: DataFrame,
    batch_sigs: DataFrame,
    id_col: str = "doc_id",
    n_hashes: int = N_MINHASHES,
    band_size: int = BAND_SIZE,
    broadcast_batch: bool = True,
) -> DataFrame:
    """Asymmetric LSH probe: candidate (batch, index) pairs — the
    incremental-ingest shape. The corpus index is NOT self-joined;
    the (small) new batch's banded keys broadcast and the index streams
    through a broadcast hash join, so probing N new docs against a
    100 TB index costs one index scan regardless of index size.

    ``broadcast_batch=False`` drops the hint for batches too large for
    executor memory (a backfill replaying months of ingest): the probe
    becomes a plain equi-join on the band keys — one bounded shuffle of
    both banded tables, the same plan family as ``lsh_candidate_pairs``
    minus the self-join — and AQE may still choose broadcast at runtime
    if the batch turns out small.

    Returns distinct ``(id_batch, id_index)`` candidates."""
    idx = _banded(index_sigs, id_col, n_hashes, band_size)
    new = _banded(batch_sigs, id_col, n_hashes, band_size)
    probe = new.alias("n")
    if broadcast_batch:
        probe = F.broadcast(probe)
    return (
        idx.alias("i")
        .join(
            probe,
            (F.col("i.band_idx") == F.col("n.band_idx"))
            & (F.col("i.band_key") == F.col("n.band_key")),
        )
        .select(
            F.col(f"n.{id_col}").alias("id_batch"),
            F.col(f"i.{id_col}").alias("id_index"),
        )
        .distinct()
    )


def incremental_neardup_verdicts(
    index_docs: DataFrame,
    batch_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_jaccard: float = 0.6,
    broadcast_batch: bool = True,
    check_disjoint_ids: bool = True,
) -> DataFrame:
    """Per-new-document ingest verdict against an existing corpus:
    ``(id, n_matches, best_match_id, best_jaccard, is_novel)`` where a
    match is an index document with exact shingle-Jaccard ≥
    ``min_jaccard`` among the LSH candidates; the best match breaks
    Jaccard ties on the smaller index id (total order → deterministic
    across engines and partitionings).

    Documents too short to shingle (< k words) have nothing to probe
    and are reported novel with ``n_matches = 0`` — the conservative
    ingest decision (they can still be caught by exact dedup).

    Scale: signatures are two uniform-key aggregations; the probe join
    broadcasts only the batch bands; Jaccard verification touches only
    candidate pairs. Nothing in the plan grows with index × batch.

    Batch and index ids must be disjoint: a replayed id with changed
    text would be judged against its own earlier version and, when
    novel, accepted as a second document under a taken id. That
    contract is therefore enforced (``check_disjoint_ids``): one
    broadcast id-semi-join against the index, limit-1, raising on the
    first collision. Disable it only when the caller has already proven
    disjointness (e.g. right after an exact-id anti-join).
    """
    if check_disjoint_ids:
        batch_ids = batch_docs.select(id_col).distinct()
        if broadcast_batch:
            batch_ids = F.broadcast(batch_ids)
        collision = (
            index_docs.select(id_col)
            .join(batch_ids, id_col)
            .limit(1)
            .collect()  # scalar guard envelope, never data rows
        )
        if collision:
            raise ValueError(
                "incremental_neardup_verdicts: document id "
                f"{collision[0][0]!r} appears in BOTH the batch and the "
                "index; a changed text under a taken id would be "
                "accepted as a second document with that id. Drop or "
                "re-key replayed ids before probing (the streaming "
                "ingest sink's exact-hash anti-join does not cover "
                "same-id different-text replays)."
            )
    pairs = lsh_probe_pairs(
        minhash_signatures(index_docs, text_col, id_col),
        minhash_signatures(batch_docs, text_col, id_col),
        id_col,
        broadcast_batch=broadcast_batch,
    ).select(
        F.col("id_batch").alias("id_a"), F.col("id_index").alias("id_b")
    )
    verified = jaccard_verify(batch_docs, pairs, text_col, id_col, index_docs)
    return _novelty_verdicts(
        batch_docs.select(F.col(id_col)), verified, id_col, min_jaccard
    )


def _novelty_verdicts(
    batch_ids: DataFrame,
    verified: DataFrame,
    id_col: str,
    min_jaccard: float,
) -> DataFrame:
    """Shared tail of the incremental-verdict shapes: fold verified
    candidate pairs into per-batch-document ``(n_matches, best_match_id,
    best_jaccard, is_novel)`` rows; non-candidates are novel."""
    matches = verified.filter(F.col("jaccard") >= min_jaccard)
    from pyspark.sql import Window

    w = Window.partitionBy("id_a").orderBy(
        F.col("jaccard").desc(), F.col("id_b").asc()
    )
    best = (
        matches.withColumn("__rn", F.row_number().over(w))
        .groupBy("id_a")
        .agg(
            F.count(F.lit(1)).alias("n_matches"),
            F.min(F.when(F.col("__rn") == 1, F.col("id_b"))).alias(
                "best_match_id"
            ),
            F.min(F.when(F.col("__rn") == 1, F.col("jaccard"))).alias(
                "best_jaccard"
            ),
        )
    )
    return (
        batch_ids
        .join(best.withColumnRenamed("id_a", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_matches"), F.lit(0)).alias("n_matches"),
            "best_match_id",
            "best_jaccard",
            (F.coalesce(F.col("n_matches"), F.lit(0)) == 0).alias("is_novel"),
        )
    )


def incremental_neardup_verdicts_indexed(
    index_art: DataFrame,
    batch_art: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_jaccard: float = 0.6,
    broadcast_batch: bool = True,
) -> DataFrame:
    """``incremental_neardup_verdicts`` against a PRE-COMPUTED index:
    both sides carry ``ingest_artifacts`` columns (``mh*``,
    ``content_hash``), so the band probe reads STORED signatures instead
    of re-minhashing the corpus, and the exact-Jaccard verify
    re-shingles ONLY the candidate documents (the batch docs and the
    index docs some band collided with). Per micro-batch the index pays
    one pruned column scan (ids + 8 signature columns for banding, text
    for candidate rows only) — never a corpus-wide explode/aggregate.

    Contract: batch and index ids are disjoint (the ingest sink's id
    anti-join establishes this); same output schema and values as
    ``incremental_neardup_verdicts`` on the same documents.

    The candidate-pair table feeds multiple consumers (the index-side
    candidate-id projection and the verify join), so it is persisted;
    callers in long-lived sessions release it via ``scoped_caches``.
    """
    from pyspark import StorageLevel

    pairs = (
        lsh_probe_pairs(
            index_art, batch_art, id_col, broadcast_batch=broadcast_batch
        )
        .select(
            F.col("id_batch").alias("id_a"),
            F.col("id_index").alias("id_b"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # Candidate pruning is asymmetric on purpose: only the INDEX side
    # (the side that grows without bound at 100 TB) is pruned to the
    # band-collided rows before its text is read and re-shingled. The
    # batch side is micro-batch-bounded by construction, so re-shingling
    # ALL its rows costs less than the distinct+broadcast+join a
    # batch-side candidate prune would add (profiled one scheduling
    # floor per micro-batch at bench scale); docs that collide with no
    # pair drop out of the verify join untouched — values identical.
    #
    # The index-side text fetch is the WIDE read: a plain join against
    # the candidate ids still scans every index row's (id, text) before
    # the join drops non-candidates — at 100 TB that re-reads the whole
    # corpus' text per micro-batch. Band collisions per batch are few
    # (the LSH design point), so the common case collects the candidate
    # id set to the driver (bounded by MAX_CANDIDATE_ID_PUSHDOWN — the
    # k-bounded-envelope discipline, ~64 KB of longs at the cap) and
    # pushes it into the scan as an In predicate: on the ingest index's
    # doc_id-clustered compacted layout (``compact_table(sort_within_by=
    # ['doc_id'])``) parquet min/max stats then SKIP the files holding
    # no candidates (pinned by tests/test_round11_ops.py::
    # test_band_probe_candidate_text_fetch_skips_files). A candidate
    # set above the cap (a backfill-sized batch) falls back to the
    # join — one full text scan, the pre-r11 posture.
    cand_b = pairs.select(F.col("id_b").alias(id_col)).distinct()
    cand_rows = cand_b.limit(MAX_CANDIDATE_ID_PUSHDOWN + 1).collect()
    if len(cand_rows) <= MAX_CANDIDATE_ID_PUSHDOWN:
        index_text = index_art.filter(
            F.col(id_col).isin([r[0] for r in cand_rows])
            if cand_rows
            else F.lit(False)
        ).select(id_col, text_col)
    else:
        if broadcast_batch:
            cand_b = F.broadcast(cand_b)
        index_text = index_art.join(cand_b, id_col).select(id_col, text_col)
    verified = jaccard_verify(batch_art, pairs, text_col, id_col, index_text)
    return _novelty_verdicts(
        batch_art.select(F.col(id_col)), verified, id_col, min_jaccard
    )


def simhash_near_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    n_bits: int = 64,
    n_chunks: int = 6,
    max_bucket: Optional[int] = 10_000,
) -> DataFrame:
    """SimHash near-duplicate pairs: combinatorial chunk blocking
    (Manku, Jain & Das Sarma, WWW'07), then exact Hamming distance
    filters to ``<= max_hamming``.

    The fingerprint splits into ``n_chunks`` chunks; ``<= max_hamming``
    differing bits can touch at most ``max_hamming`` chunks, so every
    near-dup pair agrees on at least ``s = n_chunks - max_hamming``
    chunks — hence on at least one ``s``-subset of chunks. Blocking on
    ALL ``C(n_chunks, s)`` subset keys is therefore LOSSLESS (exact
    SimHash dedup, not approximate), while the key width is ``s``
    chunks, not one. That exponent is what scales: single-chunk
    blocking (``n_chunks = max_hamming + 1``, the old default) keys on
    16 bits and its expected bucket width grows as ``n/2^16`` —
    quadratic candidate growth the 100x bench measured as 22x wall on
    10x data. The 6-choose-3 default keys on ~32 bits: ~20 keys per
    document, near-singleton buckets until the corpus approaches 2^32
    fingerprints (then raise ``n_chunks``). Only colliding candidates
    reach the per-pair 64-position compare.

    **Hot-bucket guard**: a subset key shared by many documents
    (identical docs collide on *every* key) widens its bucket
    quadratically, the same hazard LSH bands have. Rather than
    trusting an upstream contract, the operator counts bucket widths
    before the self-join and raises past ``max_bucket`` with guidance
    (exact-dedup first, or raise the cap deliberately). The guard
    action doubles as the fingerprint-cache warm-up: it materializes
    the persisted ``bits`` table the join sides then reuse, so its
    marginal cost is one small aggregated count on cached data.
    ``max_bucket=None`` disables the guard (and the extra action).

    The fingerprint persist lives until the session releases it; a
    long-lived caller (bench loop, streaming batch) should wrap the
    call + action in ``core.cache.scoped_caches``.
    """
    if max_hamming >= n_chunks:
        raise ValueError(
            "chunk blocking is only lossless for max_hamming < n_chunks"
        )
    from itertools import combinations

    from pyspark import StorageLevel

    # chunk boundaries: spread n_bits as evenly as possible
    base_w, extra = divmod(n_bits, n_chunks)
    widths = [base_w + (1 if c < extra else 0) for c in range(n_chunks)]
    starts = [1 + sum(widths[:c]) for c in range(n_chunks)]
    subset = n_chunks - max_hamming
    combos = list(combinations(range(n_chunks), subset))

    # persisted: the fingerprint table feeds BOTH self-join sides; an
    # unpersisted plan recomputes the whole token-vote pipeline (the
    # expensive part) twice — measured 14.7 s → 3.4 s at sf0.1
    bits = simhash_bits(df, text_col, id_col, n_bits).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    chunks = bits.select(
        F.col(id_col),
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.concat(
                        *[
                            F.substring("simhash", starts[c], widths[c])
                            for c in combo
                        ]
                    )
                    for combo in combos
                ]
            )
        ).alias("chunk_idx", "chunk"),
    )
    if max_bucket is not None:
        hot = (
            chunks.groupBy("chunk_idx", "chunk")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > max_bucket)
            .orderBy(F.desc("n"))
            .limit(1)
            .collect()  # one row max — a scalar guard envelope
        )
        if hot:
            r = hot[0]
            raise ValueError(
                f"simhash_near_pairs: fingerprint chunk bucket "
                f"(chunk_idx={r['chunk_idx']}, chunk={r['chunk']!r}) holds "
                f"{r['n']} documents (max_bucket={max_bucket}); the chunk "
                "self-join would grow quadratically in that bucket. "
                "Run exact/normalized dedup first (identical documents "
                "collide on every chunk), or pass a higher max_bucket "
                "deliberately."
            )
    a, b = chunks.alias("a"), chunks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    ham = F.aggregate(
        F.transform(
            F.sequence(F.lit(1), F.lit(n_bits)),
            lambda i: F.when(
                F.substring(F.col("sh_a"), i, 1)
                == F.substring(F.col("sh_b"), i, 1),
                0,
            ).otherwise(1),
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return (
        cand.withColumn("hamming", ham.cast("bigint"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def lsh_band_profile(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = N_MINHASHES,
    configs=((8, 1), (4, 2), (2, 4), (1, 8)),
    max_width: int = 64,
) -> DataFrame:
    """LSH band-configuration calibration: for each candidate
    ``(n_bands, band_size)`` split of the same MinHash signatures,
    measure the candidate volume the config would generate — the
    observed side of the LSH s-curve, which is how you SIZE a dedup
    run before launching it on 100 TB (more, narrower bands = higher
    recall but more candidate pairs to verify; this report gives the
    exact pair counts for each trade-off on the actual corpus).

    Per config row: colliding buckets, candidate multiplicity
    (Σ width·(width−1)/2 — computed from bucket WIDTHS, no join), the
    distinct candidate pair count, and the max bucket width. The
    distinct-pair materialization only touches buckets with
    ``2 ≤ width ≤ max_width`` — the df-cap contract every pairing
    operator in this module carries; the multiplicity column still
    counts the capped buckets, so a hot-bucket config is visible
    rather than silently truncated.

    Configs with ``band_size > 2`` band on a lossy 62-bit key
    (``_band_key`` folds to 31 bits between steps), so their bucket and
    candidate counts can include fold collisions (odds ~2^-62).

    Shape: signatures computed once and persisted (they feed every
    config); per config one bucket-width aggregation plus one
    width-capped self-join; each config's report is a handful of
    scalar rows unioned together.
    """
    sigs = minhash_signatures(df, text_col, id_col, n_hashes).persist()
    rows = []
    for n_bands, band_size in configs:
        if n_bands * band_size != n_hashes:
            raise ValueError(
                f"config ({n_bands},{band_size}) != {n_hashes} hashes"
            )
        banded = _banded(sigs, id_col, n_hashes, band_size)
        buckets = banded.groupBy("band_idx", "band_key").agg(
            F.count(F.lit(1)).alias("width")
        )
        coll = buckets.filter(F.col("width") >= 2)
        stats = coll.agg(
            F.count(F.lit(1)).cast("long").alias("n_colliding_buckets"),
            F.coalesce(
                F.sum(F.expr("(width * (width - 1)) div 2")), F.lit(0)
            )
            .cast("long")
            .alias("candidate_multiplicity"),
            F.coalesce(F.max("width"), F.lit(0))
            .cast("long")
            .alias("max_bucket_width"),
        )
        capped = coll.filter(F.col("width") <= max_width).select(
            "band_idx", "band_key"
        )
        pairable = banded.join(capped, ["band_idx", "band_key"])
        a = pairable.select(
            "band_idx", "band_key", F.col(id_col).alias("_ida")
        )
        b = pairable.select(
            "band_idx", "band_key", F.col(id_col).alias("_idb")
        )
        npairs = (
            a.join(b, ["band_idx", "band_key"])
            .filter(F.col("_ida") < F.col("_idb"))
            .select("_ida", "_idb")
            .distinct()
            .agg(
                F.count(F.lit(1))
                .cast("long")
                .alias("distinct_candidate_pairs")
            )
        )
        rows.append(
            stats.crossJoin(npairs).select(
                F.lit(n_bands).cast("int").alias("n_bands"),
                F.lit(band_size).cast("int").alias("band_size"),
                "n_colliding_buckets",
                "candidate_multiplicity",
                "distinct_candidate_pairs",
                "max_bucket_width",
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


def split_leakage_audit(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    weights=(0.8, 0.1, 0.1),
    salt: str = "split1",
) -> DataFrame:
    """Train/val/test contamination audit: every verified near-duplicate
    pair (full LSH pipeline, exact Jaccard ≥ 0.5 checked as the
    integer-exact ``2·n_common ≥ union``) labeled with both documents'
    stable hash-split assignments and an ``is_leak`` flag for pairs
    that CROSS splits — the eval-hygiene failure ``decontaminate_corpus``
    (benchmark n-grams) cannot see, because the leak is between a
    corpus and itself.

    Shape: the minhash/LSH candidate generation and Jaccard
    verification are the proven ``minhash_near_duplicates`` pipeline;
    the split assignment is a pure hash expression of the doc id
    (``sampling.split_label``), so both ends' labels are PROJECTED
    onto the verified pairs — no split table, no id-keyed joins.
    """
    from .sampling import split_label

    pairs = lsh_candidate_pairs(minhash_signatures(df, text_col, id_col))
    verified = jaccard_verify(df, pairs, text_col, id_col)
    neardup = verified.filter(
        F.expr("n_common * 2 >= (n_a + n_b - n_common)")
    )
    return (
        neardup.withColumn("split_a", split_label(F.col("id_a"), weights, salt))
        .withColumn("split_b", split_label(F.col("id_b"), weights, salt))
        .select(
            "id_a",
            "id_b",
            "split_a",
            "split_b",
            "n_common",
            "n_a",
            "n_b",
            F.expr("(n_common * 1000000) div (n_a + n_b - n_common)")
            .cast("long")
            .alias("jaccard_ppm"),
            (F.col("split_a") != F.col("split_b")).alias("is_leak"),
        )
    )


def dedup_family_agreement(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Cross-family dedup agreement: which near-duplicate pairs are
    found by MinHash-Jaccard (whole-document set overlap, ≥ 0.5
    integer-exact), SimHash (weighted-token Hamming ≤ 3), and
    winnowing local overlap (≥ 2 shared selected fingerprints) — and
    which by more than one. The report that picks a family (or a
    union of families) for a 100 TB dedup run: a large
    'winnowing'-only bucket means local/boilerplate overlap the
    whole-document sketches cannot see; a large 'minhash+simhash'
    bucket means the cheap families agree and the expensive union
    adds little.

    Shape: the three proven pipelines run as-is (each df-capped /
    bucket-guarded as documented on its operator), then one uniform
    (a, b) pair-key aggregation over their tagged union. Output is
    family-combination buckets with exact pair counts — sketch-sized.
    """
    from .winnow import winnowing_overlap_pairs as _winnow_pairs

    m = (
        jaccard_verify(
            df,
            lsh_candidate_pairs(minhash_signatures(df, text_col, id_col)),
            text_col,
            id_col,
        )
        .filter(F.expr("n_common * 2 >= (n_a + n_b - n_common)"))
        .select(
            F.col("id_a").alias("a"),
            F.col("id_b").alias("b"),
            F.lit("minhash").alias("fam"),
        )
    )
    s = simhash_near_pairs(df, text_col, id_col).select(
        F.col("id_a").alias("a"),
        F.col("id_b").alias("b"),
        F.lit("simhash").alias("fam"),
    )
    w = _winnow_pairs(df, text_col, id_col).select(
        F.col("doc_a").alias("a"),
        F.col("doc_b").alias("b"),
        F.lit("winnowing").alias("fam"),
    )
    per_pair = (
        m.unionByName(s)
        .unionByName(w)
        .groupBy("a", "b")
        .agg(
            F.concat_ws("+", F.array_sort(F.collect_set("fam"))).alias(
                "families"
            )
        )
    )
    return per_pair.groupBy("families").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    )


def minhash_estimate_error(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = N_MINHASHES,
) -> DataFrame:
    """Sketch-accuracy report: for every LSH candidate pair, the
    MinHash ESTIMATE of Jaccard (matching signature positions / n,
    exact integer ppm) next to the EXACT shingle-set Jaccard — the
    measurement that tells you whether n_hashes is enough before you
    trust the sketch on 100 TB (estimator std-err ≈ √(J(1−J)/n)).

    Shape: signatures computed once and joined to both pair ends
    (uniform doc-id equi-joins); the exact side is the proven
    ``jaccard_verify``. Output is per candidate pair with the absolute
    estimation error in ppm.
    """
    sigs = minhash_signatures(df, text_col, id_col, n_hashes)
    pairs = lsh_candidate_pairs(sigs, id_col, n_hashes)
    exact = jaccard_verify(df, pairs, text_col, id_col)
    sa = sigs.select(
        F.col(id_col).alias("id_a"),
        *[F.col(f"mh{i}").alias(f"a{i}") for i in range(n_hashes)],
    )
    sb = sigs.select(
        F.col(id_col).alias("id_b"),
        *[F.col(f"mh{i}").alias(f"b{i}") for i in range(n_hashes)],
    )
    matches = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(n_hashes)
    )
    est = (matches.cast("long") * 1_000_000 / F.lit(n_hashes)).cast("long")
    exact_ppm = F.expr(
        "(n_common * 1000000) div (n_a + n_b - n_common)"
    ).cast("long")
    return (
        exact.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            est.alias("est_jaccard_ppm"),
            exact_ppm.alias("exact_jaccard_ppm"),
        )
        .withColumn(
            "abs_err_ppm",
            F.abs(F.col("est_jaccard_ppm") - F.col("exact_jaccard_ppm")),
        )
    )
