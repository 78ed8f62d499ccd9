"""Unit tests for the custom-operator layer (asof/ranges/skew/sketches)
— equivalence against the naive-but-obviously-correct form."""

from pyspark.sql import functions as F

from spark_etl_agent_spark.operators.asof import asof_join
from spark_etl_agent_spark.operators.ranges import band_join, bucketed_range_join
from spark_etl_agent_spark.operators.sketches import approx_profile
from spark_etl_agent_spark.operators.skew import salted_join
from spark_etl_agent_spark.queries.base import load


def test_asof_join_matches_naive(spark):
    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (1, 5, "c"), (2, 7, "d"), (3, 9, "e")],
        "k int, ts int, tag string",
    )
    right = spark.createDataFrame(
        [(1, 10, 100.0), (1, 15, 150.0), (2, 8, 80.0)],
        "k int, ts int, v double",
    )
    got = {
        (r.k, r.ts): r.v_asof
        for r in asof_join(left, right, on="k", ts="ts").collect()
    }
    # naive: per left row the max right.ts <= left.ts
    assert got == {
        (1, 10): 100.0,  # ties: <= includes the equal timestamp
        (1, 20): 150.0,
        (1, 5): None,    # nothing at-or-before
        (2, 7): None,
        (3, 9): None,    # key absent on the right
    }


def test_bucketed_range_join_equals_broadcast(spark, sf_dir):
    part = load(spark, sf_dir, "part").select("p_partkey", "p_retailprice")
    bands = spark.range(0, 26).select(
        F.col("id").alias("band_id"),
        (F.col("id") * 100.0).alias("lo"),
        ((F.col("id") + 1) * 100.0).alias("hi"),
    )
    a = band_join(part, bands, value="p_retailprice")
    b = bucketed_range_join(part, bands, value="p_retailprice", bucket_width=75.0)
    rows_a = sorted((r.p_partkey, r.band_id) for r in a.collect())
    rows_b = sorted((r.p_partkey, r.band_id) for r in b.collect())
    assert rows_a == rows_b and rows_a


def test_salted_join_equals_plain(spark, sf_dir):
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    customer = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    small = customer.withColumnRenamed("c_custkey", "o_custkey")
    plain = sorted(
        (r.o_orderkey, r.c_mktsegment)
        for r in orders.join(small, "o_custkey").collect()
    )
    salted = sorted(
        (r.o_orderkey, r.c_mktsegment)
        for r in salted_join(orders, small, on="o_custkey").collect()
    )
    assert plain == salted and plain


def test_salted_join_rejects_outer(spark):
    """right/full would replicate unmatched small-side rows once per
    salt bucket — must raise, not silently corrupt."""
    import pytest

    df = spark.range(4).select(F.col("id").alias("k"))
    for how in ("right", "full", "outer", "full_outer"):
        with pytest.raises(ValueError):
            salted_join(df, df, on="k", how=how)


def test_salted_join_hotkeys_equals_plain_and_scopes_salt(spark, sf_dir):
    """Hot-key-scoped salting: result identical to the plain join, and
    the salt fan-out (the crossJoin-replicated small side) exists only
    on the hot branch — the cold branch is a plain equi-join."""
    from spark_etl_agent_spark.operators.skew import salted_join_hotkeys

    li = load(spark, sf_dir, "lineitem").withColumn(
        "route_key",
        F.expr("CASE WHEN l_orderkey % 10 < 3 THEN 0 ELSE l_orderkey END"),
    ).select("route_key", "l_extendedprice")
    orders = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("route_key"), "o_orderpriority"
    )
    plain = sorted(
        map(tuple, li.join(orders, "route_key").collect())
    )
    two_path = salted_join_hotkeys(
        li, orders, on="route_key", hot_keys=[0], salt_buckets=8
    )
    assert sorted(map(tuple, two_path.collect())) == plain and plain
    # salt scoped to the hot branch: exactly ONE join keyed on _salt,
    # and the replicated-salts range appears once (8 rows, hot side only)
    plan = two_path._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]  # AQE echoes the pre-run plan
    assert plan.count("Range (0, 8") == 1
    assert "_salt" in plan


def test_salted_join_hotkeys_left_preserves_nulls_and_unmatched(spark):
    """NULL keys and unmatched big-side rows must survive a LEFT join
    through the two-path split (NULL isin(...) is NULL, not False —
    the cold filter must keep it)."""
    from spark_etl_agent_spark.operators.skew import salted_join_hotkeys

    big = spark.createDataFrame(
        [(0, "hot"), (1, "cold"), (None, "nullkey"), (9, "unmatched")],
        "k int, tag string",
    )
    small = spark.createDataFrame(
        [(0, "zero"), (1, "one")], "k int, name string"
    )
    out = salted_join_hotkeys(
        big, small, on="k", hot_keys=[0], salt_buckets=4, how="left"
    )
    got = sorted((r.tag, r.name) for r in out.collect())
    assert got == [
        ("cold", "one"), ("hot", "zero"),
        ("nullkey", None), ("unmatched", None),
    ]


def test_salted_join_hotkeys_empty_hotlist_is_plain_join(spark):
    from spark_etl_agent_spark.operators.skew import salted_join_hotkeys

    df = spark.range(10).select(F.col("id").alias("k"))
    out = salted_join_hotkeys(df, df, on="k", hot_keys=[])
    assert out.count() == 10
    assert "_salt" not in out._jdf.queryExecution().executedPlan().toString()


def test_lsh_short_docs_never_band(spark):
    """Shingle-less docs (< 3 words) carry NULL signatures and must not
    collide into one md5('') clique (ADVICE r1)."""
    from spark_etl_agent_spark.llm.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    docs = spark.createDataFrame(
        [(i, "hi there") for i in range(10)]
        + [(100, "a b c d e f g"), (101, "a b c d e f g")],
        ["doc_id", "text"],
    )
    pairs = {
        (r.id_a, r.id_b)
        for r in lsh_candidate_pairs(minhash_signatures(docs)).collect()
    }
    assert pairs == {(100, 101)}  # no short-doc clique


def test_minhash_from_shingle_table_matches_signatures(spark):
    """The shingle-table-derived signatures must equal the direct ones
    for every shingle-bearing doc (min over the distinct set == min
    over the multiset); shingle-less docs are absent instead of
    all-NULL — both shapes band identically."""
    from spark_etl_agent_spark.llm.dedup import (
        minhash_from_shingle_table,
        minhash_signatures,
        shingle_table,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c d e a b c d e"),   # repeated shingles
            (2, "one two three four"),
            (3, "x y"),                    # < 3 words: no shingles
        ],
        ["doc_id", "text"],
    )
    direct = {
        r["doc_id"]: tuple(r[f"mh{i}"] for i in range(8))
        for r in minhash_signatures(docs).collect()
    }
    via_table = {
        r["doc_id"]: tuple(r[f"mh{i}"] for i in range(8))
        for r in minhash_from_shingle_table(shingle_table(docs)).collect()
    }
    assert set(direct) == {1, 2, 3}
    assert direct[3] == (None,) * 8
    assert set(via_table) == {1, 2}
    assert via_table == {k: v for k, v in direct.items() if k != 3}


def test_snapshot_diff_change_types(spark):
    """CDC verb: inserts/deletes/updates classified; unchanged rows
    dropped; NULL→value and value→NULL count as updates (null-safe
    compare)."""
    from spark_etl_agent_spark.operators.cdc import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", None), (3, "c", 3.0), (4, "d", 4.0)],
        "id long, v string, x double",
    )
    new = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, None, 3.0), (5, "e", 5.0)],
        "id long, v string, x double",
    )
    got = {
        r.id: r.change_type
        for r in snapshot_diff(old, new, keys=["id"]).collect()
    }
    assert got == {2: "update", 3: "update", 4: "delete", 5: "insert"}


def test_approx_profile_shape_and_bounds(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    prof = approx_profile(li, keys=["l_returnflag"], value="l_quantity").collect()
    exact = {
        r.l_returnflag: r.n
        for r in li.groupBy("l_returnflag").agg(
            F.countDistinct("l_quantity").alias("n")
        ).collect()
    }
    for r in prof:
        # HLL at rsd=5%: generous ±20% envelope, just proving sanity
        assert abs(r.v_approx_distinct - exact[r.l_returnflag]) <= max(
            5, 0.2 * exact[r.l_returnflag]
        )
        assert len(r.v_approx_quantiles) == 4
        assert sorted(r.v_approx_quantiles) == list(r.v_approx_quantiles)


def test_connected_components_chain_and_islands(spark):
    """Chain 1-2-3-4 and island 10-11 collapse to min-id components;
    convergence is independent of edge direction and order."""
    from spark_etl_agent_spark.operators.graph import (
        connected_components,
        dedup_clusters,
    )

    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (4, 3), (11, 10)], ["id_a", "id_b"]
    )
    got = {
        (r.node, r.component) for r in connected_components(edges).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10)}
    clusters = {
        r.component: (r.n_members, r.max_member)
        for r in dedup_clusters(edges).collect()
    }
    assert clusters == {1: (4, 4), 10: (2, 11)}


def test_connected_components_long_chain_converges_fast(spark):
    """Pointer jumping: a 200-node chain needs O(log n) rounds, far under
    the default cap (one-hop propagation alone would need ~200)."""
    from spark_etl_agent_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], ["id_a", "id_b"]
    )
    got = {r.node: r.component for r in connected_components(edges, max_iters=12).collect()}
    assert got == {i: 0 for i in range(201)}


def test_connected_components_raises_on_cap(spark):
    """Exhausting max_iters without convergence must raise — partial
    labels silently split true components."""
    import pytest

    from spark_etl_agent_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], ["id_a", "id_b"]
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iters=1)


def test_kmeans_cells_power_ivf_index(spark, sf_dir):
    """The trained k-means assignment must drop into ivf_topk as the
    cell column (the codebook-trainer contract): recall vs brute force
    stays reasonable and top-1 self-cell hits are exact."""
    from spark_etl_agent_spark.llm.kmeans import train_cells
    from spark_etl_agent_spark.llm.similarity import brute_force_topk, ivf_topk

    emb = load(spark, sf_dir, "embeddings")
    cells = train_cells(emb, k=4, iters=2)
    with_cells = emb.join(cells, "vec_id").drop("label")
    ivf = ivf_topk(with_cells, nprobe=2, cell_col="cell")
    exact = brute_force_topk(emb)
    got = {(r.query_id, r.neighbor_id) for r in ivf.collect()}
    want = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    assert len(got) > 0
    # nprobe=2 of k=4 cells: expect at least half the exact top-5 found
    assert len(got & want) >= len(want) // 2


from hypothesis import given, settings as hsettings
from hypothesis import strategies as st


@hsettings(max_examples=12, deadline=None)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)),
        min_size=1,
        max_size=40,
    )
)
def test_connected_components_matches_union_find(spark, edges):
    """Distributed min-label propagation must equal a driver-side
    union-find on arbitrary small graphs (self-loops included)."""
    from spark_etl_agent_spark.operators.graph import connected_components

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    # canonical min-id labels: route every node to its root, then the
    # component label is the min node in that root's set
    nodes = sorted(parent)
    comp_members = {}
    for n in nodes:
        comp_members.setdefault(find(n), []).append(n)
    want = {
        n: min(members)
        for root, members in comp_members.items()
        for n in members
    }

    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    got = {r.node: r.component for r in connected_components(df).collect()}
    assert got == want


def test_scd2_collapse_runs_and_null_attrs(spark):
    """Gaps-and-islands collapse: runs merge, NULL→value and value→NULL
    transitions open new versions, is_current marks each key's last run."""
    from spark_etl_agent_spark.operators.scd import scd2_collapse

    rows = [
        (1, 1, "A"), (1, 2, "A"), (1, 3, "B"), (1, 4, None), (1, 5, None),
        (1, 6, "A"),
        (2, 1, "X"),
    ]
    df = spark.createDataFrame(rows, ["k", "ts", "attr"])
    out = scd2_collapse(df, keys=["k"], attrs=["attr"], ts="ts")
    got = sorted(
        (
            (r.k, r.valid_from),
            (r.k, r.attr, r.valid_from, r.valid_to, r.is_current),
        )
        for r in out.collect()
    )
    assert [g[1] for g in got] == [
        (1, "A", 1, 3, False),
        (1, "B", 3, 4, False),
        (1, None, 4, 6, False),
        (1, "A", 6, None, True),
        (2, "X", 1, None, True),
    ]


def test_referential_audit_counts_orphans_and_null_fks(spark):
    from spark_etl_agent_spark.operators.quality import orphans, referential_audit

    child = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 20), (4, 99), (5, None)], ["id", "fk"]
    )
    parent = spark.createDataFrame([(10,), (20,)], ["pk"])
    audit = referential_audit([("c->p", child, "fk", parent, "pk")]).collect()
    assert len(audit) == 1
    row = audit[0]
    assert (row.relation, row.n_child_rows, row.n_null_fk, row.n_orphans) == (
        "c->p", 5, 1, 1
    )
    assert [r.id for r in orphans(child, "fk", parent, "pk").collect()] == [4]


def test_histogram_clamps_max_into_last_bucket(spark):
    from spark_etl_agent_spark.operators.sketches import histogram

    df = spark.createDataFrame([(float(v),) for v in range(0, 101)], ["v"])
    out = {r.bucket: r for r in histogram(df, "v", nbuckets=10).collect()}
    assert set(out) == set(range(10))
    # v=100.0 (== max) lands in bucket 9, not a phantom bucket 10
    assert out[9].n_rows == 11 and out[0].n_rows == 10
    assert out[0].lo == 0.0 and abs(out[9].hi - 100.0) < 1e-9


def test_merge_partial_aggs_equals_direct_and_rejects_unmergeable(spark):
    import pytest

    from spark_etl_agent_spark.operators.incremental import merge_partial_aggs

    rows = [("a", 1, 10.0), ("a", 2, 5.0), ("b", 3, 7.0), ("a", 9, 1.0)]
    df = spark.createDataFrame(rows, ["k", "seq", "v"])
    from pyspark.sql import functions as F

    def partial(d):
        return d.groupBy("k").agg(
            F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv"),
            F.min("seq").alias("lo"), F.max("seq").alias("hi"),
        )

    base = partial(df.filter("seq <= 2"))
    delta = partial(df.filter("seq > 2"))
    measures = [("n", "count"), ("sv", "sum"), ("lo", "min"), ("hi", "max")]
    merged = {
        r.k: (r.n, r.sv, r.lo, r.hi)
        for r in merge_partial_aggs(base, delta, ["k"], measures).collect()
    }
    direct = {r.k: (r.n, r.sv, r.lo, r.hi) for r in partial(df).collect()}
    assert merged == direct
    with pytest.raises(ValueError, match="not sum-mergeable"):
        merge_partial_aggs(base, delta, ["k"], [("n", "avg")])


def test_bpe_train_matches_pure_python_reference(spark):
    """The distributed BPE loop must reproduce the classic
    single-machine algorithm exactly: same merge sequence, same counts
    (ties broken on the pair string in both)."""
    from collections import Counter

    from spark_etl_agent_spark.llm.bpe import bpe_train

    texts = [
        "low lower lowest low low",
        "newer newest new low news",
        "wider wide widest wider",
    ]

    # pure-python reference: weighted vocab of char-split words
    vocab = Counter()
    for t in texts:
        for w in t.split():
            if len(w) >= 2:
                vocab[" ".join(w)] += 1

    def ref_merges(vocab, n_rounds):
        out = []
        vocab = dict(vocab)
        for _ in range(n_rounds):
            pairs = Counter()
            for sym, freq in vocab.items():
                toks = sym.split(" ")
                for a, b in zip(toks, toks[1:]):
                    pairs[f"{a} {b}"] += freq
            if not pairs:
                break
            # max count, ties broken on pair string ascending
            best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
            if best[1] < 2:
                break
            a, b = best[0].split(" ")
            out.append((a, b, best[1]))
            merged = {}
            import re as _re

            pat = _re.compile(f"(^|(?<= )){_re.escape(a)} {_re.escape(b)}((?= )|$)")
            for sym, freq in vocab.items():
                new = pat.sub(a + b, sym)
                merged[new] = merged.get(new, 0) + freq
            vocab = merged
        return out

    want = ref_merges(vocab, 8)
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["doc_id", "text"])
    table, got = bpe_train(df, n_merges=8)
    assert got == want and len(got) >= 5
    rows = sorted((r.merge_rank, r.left, r.right, r.merged) for r in table.collect())
    assert rows == [
        (i + 1, a, b, a + b) for i, (a, b, n) in enumerate(want)
    ]


def test_scoped_caches_releases_only_block_created_storage(spark):
    """scoped_caches must release persists AND localCheckpoints created
    inside the block while leaving pre-existing caches untouched — the
    contract the streaming ingest sink's per-batch cleanup relies on."""
    from pyspark import StorageLevel

    from spark_etl_agent_spark.core.cache import (
        _persistent_rdd_ids,
        scoped_caches,
    )

    outer = spark.range(10).persist(StorageLevel.MEMORY_AND_DISK)
    outer.count()
    base_ids = _persistent_rdd_ids(spark)
    try:
        with scoped_caches(spark):
            inner = spark.range(20).persist(StorageLevel.MEMORY_AND_DISK)
            inner.count()
            ck = spark.range(5).localCheckpoint()
            ck.count()
            assert len(_persistent_rdd_ids(spark)) >= len(base_ids) + 2
        assert _persistent_rdd_ids(spark) == base_ids
        assert outer.storageLevel.useMemory
        assert outer.count() == 10
    finally:
        outer.unpersist()


def test_bpe_encode_arrow_path_matches_expression_path(spark):
    """The two encode engines (fold-expression projection vs the
    Arrow ``mapInPandas`` rank-priority encode used for vocab-scale
    merge tables) must agree row-for-row on a trained merge list —
    the contract that lets ``bpe_encode_stats`` switch mechanism on
    ``MAX_EXPR_MERGES`` without changing results."""
    from spark_etl_agent_spark.llm.bpe import (
        _bpe_encode_stats_arrow,
        bpe_encode_stats,
        bpe_train,
    )

    texts = [
        "low lower lowest low low",
        "newer newest new low news",
        "wider wide widest wider",
        "x",  # single-char word: one token, no merges apply
        "   ",  # whitespace-only doc: must emit no row on both paths
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    _, merges = bpe_train(df, n_merges=8)
    assert len(merges) >= 5
    expr = sorted(map(tuple, bpe_encode_stats(df, merges).collect()))
    arrow = sorted(
        map(tuple, _bpe_encode_stats_arrow(df, merges, "text", "doc_id").collect())
    )
    assert expr == arrow
    assert len(expr) == 4  # the whitespace-only doc dropped


def test_zorder_bounds_both_dims_vs_single_key_sort(spark, sf_dir, tmp_path):
    """File-skipping proof from the actual parquet footers: z-ordered
    files bound BOTH dimensions (mean normalized width well under the
    full range), while a single-key sort leaves the second dimension
    spanning ~its full range in every file."""
    from spark_etl_agent_spark.operators.layout import (
        file_stat_ranges,
        zorder_write,
    )

    part = load(spark, sf_dir, "part").select("p_partkey", "p_retailprice", "p_size")
    zpath = str(tmp_path / "zorder")
    spath = str(tmp_path / "singlesort")
    zorder_write(part, zpath, dims=("p_retailprice", "p_size"), n_files=16)
    (
        part.repartitionByRange(16, "p_retailprice")
        .sortWithinPartitions("p_retailprice")
        .write.mode("overwrite").parquet(spath)
    )

    def mean_norm_width(path, col):
        stats = file_stat_ranges(path, [col])
        los = [s[col][0] for s in stats]
        his = [s[col][1] for s in stats]
        full = max(his) - min(los)
        widths = [(h - l) / full for l, h in zip(los, his)]
        return sum(widths) / len(widths)

    # rows preserved
    assert spark.read.parquet(zpath).count() == part.count()

    z_price = mean_norm_width(zpath, "p_retailprice")
    z_size = mean_norm_width(zpath, "p_size")
    s_price = mean_norm_width(spath, "p_price" if False else "p_retailprice")
    s_size = mean_norm_width(spath, "p_size")

    # single-key sort: tight on its key, near-useless on the other dim
    assert s_price < 0.35 and s_size > 0.75, (s_price, s_size)
    # z-order: meaningfully bounded on BOTH dims
    assert z_price < 0.6 and z_size < 0.6, (z_price, z_size)


def test_distinct_sketches_merge_across_days(spark, sf_dir):
    """Mergeable-HLL pattern: daily sketches built ONCE answer both the
    per-type daily questions and the all-range union within ~5% of
    exact, without touching the fact table again."""
    from spark_etl_agent_spark.operators.sketches import (
        distinct_sketches,
        union_distinct_estimate,
    )

    ev = load(spark, sf_dir, "events").select(
        F.col("ts").cast("date").alias("day"), "event_type", "user_id"
    )
    daily = distinct_sketches(ev, keys=["day", "event_type"], entity="user_id")
    daily = daily.cache()
    try:
        # re-grouped union: per event_type across all days
        per_type = {
            r.event_type: r.approx_uniques
            for r in union_distinct_estimate(daily, group=["event_type"]).collect()
        }
        exact_type = {
            r.event_type: r.n
            for r in ev.groupBy("event_type")
            .agg(F.countDistinct("user_id").alias("n"))
            .collect()
        }
        for t, exact in exact_type.items():
            assert abs(per_type[t] - exact) <= max(2, 0.05 * exact), (t, per_type[t], exact)
        # global union of every sketch
        total = union_distinct_estimate(daily).collect()[0]["approx_uniques"]
        exact_total = ev.select("user_id").distinct().count()
        assert abs(total - exact_total) <= max(2, 0.05 * exact_total)
    finally:
        daily.unpersist()


def test_scd2_temporal_join_covers_every_fact_exactly_once(spark, sf_dir):
    """SCD2 consistency invariant: the validity intervals tile each
    key's timeline with no gaps or overlaps, so a point-in-time join
    matches every fact exactly once — totals reconcile."""
    from spark_etl_agent_spark.queries.lifecycle import scd2_temporal_join

    joined_total = sum(
        r.n_orders for r in scd2_temporal_join(spark, sf_dir).collect()
    )
    n_orders = load(spark, sf_dir, "orders").count()
    assert joined_total == n_orders


def test_gemm_topk_matches_bruteforce_neighbors(spark, sf_dir):
    """The BLAS path must return the same neighbor sets (and ranks) as
    the exact scaled-integer JVM path — float64 GEMM error (~1e-15) is
    far below real similarity gaps."""
    from spark_etl_agent_spark.llm.similarity import brute_force_topk, gemm_topk
    from spark_etl_agent_spark.queries.base import load

    emb = load(spark, sf_dir, "embeddings").repartition(4)
    exact = {
        (r.query_id, r.rnk): r.neighbor_id
        for r in brute_force_topk(emb, query_ids_below=8, k=5).collect()
    }
    gemm = {
        (r.query_id, r.rnk): r.neighbor_id
        for r in gemm_topk(emb, query_ids_below=8, k=5).collect()
    }
    assert exact == gemm and len(exact) > 0


def test_expectation_report_single_pass_and_gates(spark, sf_dir):
    from spark_etl_agent_spark.operators.quality import (
        Expectation, expectation_report, in_range, in_set, not_null,
    )
    from spark_etl_agent_spark.queries.base import load

    orders = load(spark, sf_dir, "orders")
    rules = [
        Expectation("o_orderkey not null", not_null("o_orderkey")),
        Expectation(
            "status known",
            in_set("o_orderstatus", ["O", "F", "P"]),
        ),
        Expectation("price positive", in_range("o_totalprice", 0.0, 1e9)),
        # deliberately failing hard rule: every row violates
        Expectation("impossible", in_range("o_totalprice", -2.0, -1.0)),
        # soft rule with a tolerance that passes
        Expectation(
            "price under 300k (soft)",
            in_range("o_totalprice", 0.0, 300_000.0),
            max_violation_ratio=0.5,
        ),
    ]
    rep = expectation_report(orders, rules, unique_keys=["o_orderkey"])
    rows = {r.rule: r for r in rep.collect()}
    n = orders.count()
    assert rows["o_orderkey not null"].passed
    assert rows["status known"].passed
    assert rows["price positive"].passed
    assert not rows["impossible"].passed
    assert rows["impossible"].n_violations == n
    assert rows["price under 300k (soft)"].passed
    assert rows["unique(o_orderkey)"].passed
    assert all(r.n_rows == n for r in rows.values())

    # single scan: all rules in one aggregation pass (after execution the
    # formatted plan renders Final AND Initial adaptive plans — count the
    # final one only)
    plan = rep._sc._jvm.PythonSQLUtils.explainString(
        rep._jdf.queryExecution(), "formatted"
    )
    tree = plan.split("\n\n")[0].split("== Initial Plan ==")[0]
    assert tree.count("Scan parquet") == 1, tree


def test_expectation_report_uniqueness_catches_dupes(spark):
    from spark_etl_agent_spark.operators.quality import (
        Expectation, expectation_report, not_null,
    )

    df = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c"), (None, "d")], "k int, v string"
    )
    rep = expectation_report(
        df, [Expectation("k not null", not_null("k"))], unique_keys=["k"]
    )
    rows = {r.rule: r for r in rep.collect()}
    assert not rows["k not null"].passed
    uk = rows["unique(k)"]
    # 4 rows, 2 distinct non-null + countDistinct ignores NULL -> 4-2=2
    assert uk.n_violations == 2 and not uk.passed


def test_grouped_quantile_cont_edge_cases(spark):
    from pyspark.sql import functions as F

    from spark_etl_agent_spark.operators.ranks import grouped_quantile_cont

    df = spark.createDataFrame(
        [("a", 10), ("a", None), ("a", 20),          # NULLs ignored
         ("b", 7),                                    # single value
         ("c", None)],                                # all-NULL group
        "g string, v int",
    )
    got = {
        r.g: (r.q_25, r.q_50)
        for r in grouped_quantile_cont(df, ["g"], "v", [0.25, 0.5]).collect()
    }
    ref = {
        r.g: (r.q25, r.q50)
        for r in df.groupBy("g")
        .agg(
            F.expr("percentile(v, 0.25)").alias("q25"),
            F.expr("percentile(v, 0.5)").alias("q50"),
        )
        .collect()
        if r.q25 is not None
    }
    assert got == ref  # {'a': (12.5, 15.0), 'b': (7.0, 7.0)}
    assert "c" not in got


def test_parallel_ntile_empty_frame(spark):
    from pyspark.sql import functions as F

    from spark_etl_agent_spark.operators.ranks import parallel_ntile

    empty = spark.createDataFrame([], "k long, v double")
    out = parallel_ntile(empty, 4, [F.desc("v"), F.asc("k")], bucket_col="b")
    assert out.count() == 0
    assert "b" in out.columns


def test_freshness_report_gates_stale_sources(spark, sf_dir):
    from spark_etl_agent_spark.operators.quality import freshness_report
    from spark_etl_agent_spark.queries.base import load

    ev = load(spark, sf_dir, "events")
    newest = ev.agg(F.max("ts")).collect()[0][0]

    # as_of 1h after the global newest, 48h budget → every type fresh
    # (per-type newest can trail the global one by hours)
    import datetime

    soon = newest + datetime.timedelta(hours=1)
    rep = freshness_report(ev, "ts", soon, 48.0, groups=["event_type"])
    rows = rep.collect()
    assert rows and all(r.passed for r in rows)

    # as_of 30 days later with a 48h budget → everything stale
    late = newest + datetime.timedelta(days=30)
    rep2 = freshness_report(ev, "ts", late, 48.0, groups=["event_type"])
    assert all(not r.passed for r in rep2.collect())

    # empty input: ungrouped report fails loudly rather than passing
    empty = ev.filter(F.lit(False))
    r = freshness_report(empty, "ts", late, 2.0).collect()[0]
    assert r.n_rows == 0 and not r.passed


def test_lsh_always_proposes_exact_duplicates(spark):
    """Soundness floor: identical texts have identical signatures, so
    they MUST surface as candidates in every band — recall can drop for
    near-dupes, never for exact ones."""
    from spark_etl_agent_spark.llm.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    body = "the quick brown fox jumps over the lazy dog again and again "
    docs = spark.createDataFrame(
        [(1, body * 3), (2, body * 3),
         (3, "completely different words about spark shuffles " * 4),
         (4, "yet another unrelated document concerning parquet files " * 4)],
        ["doc_id", "text"],
    )
    pairs = {
        (r.id_a, r.id_b)
        for r in lsh_candidate_pairs(minhash_signatures(docs)).collect()
    }
    assert (1, 2) in pairs


def test_jaccard_verify_bounds_on_real_corpus(spark, sf_dir):
    """Jaccard ∈ [0,1] and n_common ≤ min(n_a, n_b) on every verified
    candidate pair of the real documents fixture."""
    from spark_etl_agent_spark.llm.dedup import (
        jaccard_verify,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    docs = load(spark, sf_dir, "documents")
    verified = jaccard_verify(
        docs, lsh_candidate_pairs(minhash_signatures(docs))
    ).collect()
    assert verified  # fixture contains near-duplicates by construction
    for r in verified:
        assert 0.0 <= r.jaccard <= 1.0, r
        assert r.n_common <= min(r.n_a, r.n_b), r


def test_jaccard_verify_matches_distinct_set_reference(spark):
    """Edge cases against a pure-Python distinct-shingle-set reference:
    a pair with no common shingle stays (n_common 0, jaccard 0.0), a
    pair touching a < 3-word document or an id absent from the frame is
    dropped, a shingle repeated within a document counts once, and the
    counts are bigint with a double jaccard."""
    from spark_etl_agent_spark.llm.dedup import jaccard_verify

    texts = {
        1: "a b c d e f",
        2: "a b c d e g",
        3: "x y",
        4: "p q r p q r p q r",
        5: "a b c a b c z",
    }
    pair_list = [(1, 2), (1, 3), (3, 4), (1, 4), (1, 5), (4, 5), (2, 99)]
    docs = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    pairs = spark.createDataFrame(pair_list, "id_a long, id_b long")
    out = jaccard_verify(docs, pairs)

    def shingles(t):
        w = t.lower().split()
        return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}

    sets = {i: shingles(t) for i, t in texts.items()}
    want = set()
    for a, b in pair_list:
        if sets.get(a) and sets.get(b):
            c = len(sets[a] & sets[b])
            na, nb = len(sets[a]), len(sets[b])
            want.add((a, b, c, na, nb, c / (na + nb - c)))
    got = {tuple(r) for r in out.collect()}
    assert got == want
    assert (1, 4, 0, 4, 3, 0.0) in got  # zero-overlap candidate kept
    assert not any(3 in (r[0], r[1]) for r in got)  # 2-word doc dropped
    assert out.dtypes == [
        ("id_a", "bigint"),
        ("id_b", "bigint"),
        ("n_common", "bigint"),
        ("n_a", "bigint"),
        ("n_b", "bigint"),
        ("jaccard", "double"),
    ]


def test_shingles_of_matches_python_reference(spark):
    """Word k-grams in order against a pure-Python reference of
    ``split(lower(text), '\\s+')``: a leading or trailing blank yields
    an empty word, and a text with fewer than k words (or NULL) gives an
    empty array."""
    import re

    from spark_etl_agent_spark.llm.dedup import shingles_of

    texts = [None, "", " ", "a", "a b", "a b c", "  A  b c", "x\ty\nz w",
             "a b c ", "a a a a a", " ".join(f"w{i}" for i in range(40))]
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id int, text string")

    def reference(t, k):
        if t is None:
            return []
        w = re.split(r"\s+", t.lower())
        return [" ".join(w[i : i + k]) for i in range(len(w) - k + 1)]

    for k in (1, 3, 5):
        got = dict(docs.select("doc_id", shingles_of(F.col("text"), k)).collect())
        assert got == {i: reference(t, k) for i, t in enumerate(texts)}, k
    # the lambda reads struct fields only: one that indexes the word
    # array re-splits the text per shingle (quadratic in its length)
    body = str(shingles_of(F.col("text"))).split("->", 1)[1]
    assert "split(" not in body.split(" ELSE ")[0]


def test_jaccard_verify_adds_no_explode_or_persist(spark, sf_dir):
    """The verify works on one shingle array per document: its optimized
    plan holds no Generate beyond those of its candidate-pair input, and
    running it leaves no persisted RDD behind (an exploded, persisted
    shingle table must not come back)."""
    import re

    from spark_etl_agent_spark.core.cache import _persistent_rdd_ids
    from spark_etl_agent_spark.llm.dedup import (
        jaccard_verify,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    def n_generate(df):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        return len(re.findall(r"(?m)^[\s:|+-]*Generate\b", plan))

    # a local copy of the corpus: a plan no other test has cached, so a
    # persist inside the verify cannot hide behind an earlier one
    real = load(spark, sf_dir, "documents").select("doc_id", "text")
    docs = spark.createDataFrame(real.collect(), real.schema)
    pairs = lsh_candidate_pairs(minhash_signatures(docs))
    before = _persistent_rdd_ids(spark)
    verified = jaccard_verify(docs, pairs)
    assert verified.collect()
    assert _persistent_rdd_ids(spark) == before
    assert n_generate(pairs) > 0  # the pattern does see Generate nodes
    assert n_generate(verified) == n_generate(pairs)


def test_rollup_cascade_levels_consistent_and_single_fact_scan(spark, sf_dir):
    """Each level must equal a direct aggregation of the raw facts at
    that granularity, and coarser levels' plans must re-aggregate the
    finer level (one fact scan total per level chain)."""
    from spark_etl_agent_spark.operators.incremental import rollup_cascade

    ev = load(spark, sf_dir, "events")
    levels = rollup_cascade(
        ev, "ts", ["event_type"], [("value", "sum"), ("event_id", "count")],
        granularities=["hour", "day", "month"],
    )
    for gran in ("hour", "day", "month"):
        direct = (
            ev.groupBy("event_type", F.date_trunc(gran, F.col("ts")).alias("bucket"))
            .agg(
                F.sum("value").alias("value"),
                F.count(F.lit(1)).alias("event_id"),
            )
        )
        got = {
            (r.event_type, r.bucket): (round(r.value or 0, 4), r.event_id)
            for r in levels[gran].collect()
        }
        want = {
            (r.event_type, r.bucket): (round(r.value or 0, 4), r.event_id)
            for r in direct.collect()
        }
        assert got == want and got, gran
    # the monthly plan aggregates the chain, not three separate scans
    plan = levels["month"]._sc._jvm.PythonSQLUtils.explainString(
        levels["month"]._jdf.queryExecution(), "formatted"
    )
    tree = plan.split("\n\n")[0].split("== Initial Plan ==")[0]
    assert tree.count("Scan parquet") == 1, tree


def test_rollup_cascade_incremental_refresh_equals_rebuild(spark, sf_dir):
    """The incremental story: merge a delta into the finest level with
    merge_partial_aggs, re-cascade, and land exactly where a full
    rebuild lands — without the rebuild's raw re-scan."""
    from spark_etl_agent_spark.operators.incremental import (
        merge_partial_aggs,
        rollup_cascade,
    )

    ev = load(spark, sf_dir, "events")
    cut = ev.agg(F.percentile_approx("ts", 0.8)).collect()[0][0]
    old, delta = ev.filter(F.col("ts") <= cut), ev.filter(F.col("ts") > cut)
    measures = [("value", "sum"), ("event_id", "count")]

    # steady state: hourly level built from the old facts only
    hourly_old = rollup_cascade(old, "ts", ["event_type"], measures,
                                granularities=["hour"])["hour"]
    # refresh: aggregate ONLY the delta to hourly partials, merge
    hourly_delta = rollup_cascade(delta, "ts", ["event_type"], measures,
                                  granularities=["hour"])["hour"]
    hourly = merge_partial_aggs(
        hourly_old, hourly_delta, ["event_type", "bucket"], measures
    )
    # cascade the merged hourly level up to daily
    daily = hourly.groupBy(
        "event_type", F.date_trunc("day", F.col("bucket")).alias("bucket")
    ).agg(F.sum("value").alias("value"), F.sum("event_id").alias("event_id"))

    rebuilt = rollup_cascade(ev, "ts", ["event_type"], measures,
                             granularities=["hour", "day"])["day"]
    got = {
        (r.event_type, r.bucket): (round(r.value or 0, 4), r.event_id)
        for r in daily.collect()
    }
    want = {
        (r.event_type, r.bucket): (round(r.value or 0, 4), r.event_id)
        for r in rebuilt.collect()
    }
    assert got == want and got


def test_frequent_items_exact_counts_and_full_recall(spark, sf_dir):
    """Every value above the share threshold must be found with its
    exact count (MG candidates + exact recount), matching the plain
    groupBy answer."""
    from spark_etl_agent_spark.operators.sketches import frequent_items

    li = load(spark, sf_dir, "lineitem")
    got = {
        r.l_returnflag: (r.n_rows, r.share_ppm)
        for r in frequent_items(li, "l_returnflag", min_share=0.10).collect()
    }
    tot = li.count()
    want = {
        r.l_returnflag: (r.n, (r.n * 1_000_000) // tot)
        for r in li.groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
        if r.n > tot * 0.10
    }
    assert got == want and got


def test_frequent_items_skewed_synthetic(spark):
    """One dominant key among high-cardinality noise must surface with
    an exact count at any partitioning."""
    from spark_etl_agent_spark.operators.sketches import frequent_items

    df = spark.range(100_000).selectExpr(
        "CASE WHEN id % 5 = 0 THEN 'HOT' ELSE concat('k', id) END AS k"
    ).repartition(16)
    rows = frequent_items(df, "k", min_share=0.05).collect()
    assert {r.k for r in rows} == {"HOT"}
    assert rows[0].n_rows == 20_000


def test_kmeans_literal_assign_equals_join_assign(spark, sf_dir):
    """All three assignment forms — zero-shuffle literal, broadcast
    map-side-argmax join, and Arrow-batched GEMM (the large-codebook
    production path) — must agree exactly (same math, same tie-break;
    the GEMM's BLAS sums are exact integers by the scaled-component
    design, so this is equality, not tolerance)."""
    from pyspark.sql import functions as F

    from spark_etl_agent_spark.llm.kmeans import (
        _assign,
        _assign_gemm,
        _assign_literal,
    )
    from spark_etl_agent_spark.llm.similarity import dot, scaled

    emb = load(spark, sf_dir, "embeddings")
    base = emb.select(
        F.col("vec_id"), scaled(F.col("embedding")).alias("svec")
    ).withColumn("norm_sq", dot(F.col("svec"), F.col("svec")))
    centroids = (
        base.orderBy("vec_id")
        .limit(5)
        .select(
            F.col("vec_id").alias("cell"),
            F.col("svec").alias("cvec"),
            F.col("norm_sq").alias("cnorm"),
        )
    )
    joined = {
        r.vec_id: r.cell for r in _assign(base, centroids).collect()
    }
    cent_rows = centroids.collect()
    literal = {
        r.vec_id: r.cell
        for r in _assign_literal(base, cent_rows).collect()
    }
    gemm = {
        r.vec_id: r.cell for r in _assign_gemm(base, cent_rows).collect()
    }
    assert joined == literal == gemm and len(joined) > 0


# ---------------------------------------------------------------------------
# round-4 ADVICE regressions: NULL handling at group boundaries
# ---------------------------------------------------------------------------

def test_grouped_quantile_cont_null_group_key(spark):
    """A NULL group key is a real group (null-safe internal joins),
    matching groupBy().agg(percentile(...))."""
    from pyspark.sql import functions as F

    from spark_etl_agent_spark.operators.ranks import grouped_quantile_cont

    df = spark.createDataFrame(
        [("a", 10), ("a", 20), (None, 5), (None, 15), (None, 25)],
        "g string, v int",
    )
    got = {
        r.g: r.q_50
        for r in grouped_quantile_cont(df, ["g"], "v", [0.5]).collect()
    }
    ref = {
        r.g: r.q50
        for r in df.groupBy("g")
        .agg(F.expr("percentile(v, 0.5)").alias("q50"))
        .collect()
    }
    assert got == ref and None in got  # {'a': 15.0, None: 15.0}


def test_column_profile_keeps_all_null_and_null_key_groups(spark):
    """Groups whose value column is entirely NULL, and NULL-keyed
    groups, stay in the profile with v_median NULL — the behavior of
    the SQL oracle's aggregate form (left + null-safe join)."""
    from spark_etl_agent_spark.operators.sketches import column_profile

    df = spark.createDataFrame(
        [("a", 1), ("a", 3), ("b", None), ("b", None), (None, 7)],
        "g string, v int",
    )
    rows = {r.g: r for r in column_profile(df, ["g"], "v").collect()}
    assert set(rows) == {"a", "b", None}
    assert rows["a"].v_median == 2.0 and rows["a"].n == 2
    assert rows["b"].v_median is None and rows["b"].n == 2
    assert rows["b"].v_sum is None
    assert rows[None].v_median == 7.0 and rows[None].n == 1


def test_frequent_items_numeric_nulls_do_not_flood_counters(spark):
    """SQL NULLs arrive in pandas float columns as NaN; NaN != NaN, so
    without pd.isna filtering every NULL row would mint a fresh counter
    key and evict true candidates. Heavy hitter must survive a
    NULL-majority column."""
    from pyspark.sql import functions as F

    from spark_etl_agent_spark.operators.sketches import frequent_items

    vals = [(1.5,)] * 300 + [(None,)] * 5000 + [
        (float(i),) for i in range(400)
    ]
    df = spark.createDataFrame(vals, "x double").repartition(8)
    rows = {r.x: r.n_rows for r in frequent_items(df, "x", min_share=0.05).collect()}
    assert rows.get(1.5) == 300


def test_expectation_report_guards_and_hostile_rule_names(spark):
    import pytest as _pytest

    from spark_etl_agent_spark.operators.quality import (
        Expectation, expectation_report, not_null,
    )

    df = spark.createDataFrame([(1,), (None,)], "k int")
    with _pytest.raises(ValueError):
        expectation_report(df, [])

    hostile = "k 'quoted' \\ backslash, comma"
    rep = expectation_report(
        df, [Expectation(hostile, not_null("k"), 0.0)]
    ).collect()
    assert rep[0].rule == hostile and rep[0].n_violations == 1


def test_gemm_topk_large_query_set_never_collects(spark, sf_dir):
    """Above max_driver_queries the operator must produce the exact
    brute-force answer through the distributed join path with ZERO
    driver-side data collection — collect() is patched to raise for the
    duration of plan construction."""
    from unittest import mock

    from pyspark.sql import DataFrame

    from spark_etl_agent_spark.llm.similarity import brute_force_topk, gemm_topk

    emb = load(spark, sf_dir, "embeddings")
    real_count = DataFrame.count

    with mock.patch.object(
        DataFrame, "collect",
        side_effect=AssertionError("driver collect on the large-query path"),
    ), mock.patch.object(DataFrame, "count", real_count):
        plan = gemm_topk(emb, query_ids_below=8, k=5, max_driver_queries=2)

    got = {
        (r.query_id, r.rnk): r.neighbor_id for r in plan.collect()
    }
    exact = {
        (r.query_id, r.rnk): r.neighbor_id
        for r in brute_force_topk(emb, query_ids_below=8, k=5).collect()
    }
    assert got == exact and len(got) > 0


def test_with_metrics_single_pass_observation(spark):
    """operators.observe: audit numbers piggyback on an action the
    pipeline already runs — no dedicated count scan."""
    from pyspark.sql import functions as F

    from spark_etl_agent_spark.operators.observe import metrics_of, with_metrics

    df = spark.range(100).withColumn("v", F.col("id") * 2)
    observed, obs = with_metrics(
        df,
        n_rows=F.count(F.lit(1)),
        v_sum=F.sum("v"),
        n_null=F.count(F.when(F.col("v").isNull(), 1)),
    )
    # downstream transformation + ONE action; metrics ride along
    observed.filter(F.col("v") >= 0).write.format("noop").mode(
        "overwrite"
    ).save()
    m = metrics_of(obs)
    assert m["n_rows"] == 100
    assert m["v_sum"] == 9900
    assert m["n_null"] == 0


def test_with_metrics_requires_metrics(spark):
    import pytest as _pytest

    from spark_etl_agent_spark.operators.observe import with_metrics

    with _pytest.raises(ValueError):
        with_metrics(spark.range(1))


def test_salted_topk_equals_plain_window(spark):
    """salted_topk must be result-identical to the single per-group
    window at any salt_buckets / input-partitioning combination."""
    import random

    from pyspark.sql import Window

    from spark_etl_agent_spark.operators.skew import salted_topk

    rng = random.Random(7)
    rows = [(i % 3, i, rng.randrange(100)) for i in range(500)]
    for parts in (1, 7):
        for buckets in (1, 4, 32):
            df = spark.createDataFrame(
                rows, "grp int, id long, score long"
            ).repartition(parts)
            order = [F.col("score").desc(), F.col("id")]
            got = sorted(
                tuple(r)
                for r in salted_topk(
                    df, ["grp"], order, 5, salt_buckets=buckets
                ).collect()
            )
            w = Window.partitionBy("grp").orderBy(*order)
            want = sorted(
                tuple(r)
                for r in df.withColumn(
                    "rank_in_group", F.row_number().over(w)
                )
                .filter(F.col("rank_in_group") <= 5)
                .collect()
            )
            assert got == want and len(got) == 15


def test_salted_topk_short_groups_survive(spark):
    """A group smaller than k returns all its rows, ranked."""
    from spark_etl_agent_spark.operators.skew import salted_topk

    df = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 20)], "grp int, id long"
    )
    out = salted_topk(df, ["grp"], [F.col("id")], 5)
    got = {(r.grp, r.id, r.rank_in_group) for r in out.collect()}
    assert got == {(1, 10, 1), (1, 11, 2), (2, 20, 1)}
