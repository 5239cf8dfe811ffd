"""Connected components (operators/cluster.py): correctness on known
topologies, the pointer-jumping convergence bound, and the near-dup
cluster assignment surface."""

import pytest
from pyspark.sql import functions as F

from sparkglm_spark.operators.cluster import connected_components, near_dup_clusters


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "id_a long, id_b long")


def _comp_map(df):
    return {r["id"]: r["component"] for r in df.collect()}


def test_two_components_and_transitivity(spark):
    # {1,2,3} via 1-2, 2-3 (no 1-3 edge) and {10,11}
    out = _comp_map(
        connected_components(_edges(spark, [(2, 1), (2, 3), (10, 11)]))
    )
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_chain_converges_in_log_rounds(spark):
    # path 0-1-2-...-40: diameter 40; pointer jumping must close it well
    # under plain label propagation's 40 rounds
    n = 41
    chain = _edges(spark, [(i, i + 1) for i in range(n - 1)])
    out = _comp_map(connected_components(chain, max_iter=8))
    assert out == {i: 0 for i in range(n)}


def test_duplicate_and_reversed_edges_are_harmless(spark):
    out = _comp_map(
        connected_components(_edges(spark, [(1, 2), (2, 1), (1, 2), (2, 3)]))
    )
    assert out == {1: 1, 2: 1, 3: 1}


def test_self_loops_ignored_and_empty_edges(spark):
    nodes = spark.range(5).select(F.col("id").alias("doc_id"))
    out = connected_components(
        _edges(spark, [(3, 3)]), nodes=nodes, id_col="doc_id"
    )
    got = {r["doc_id"]: r["component"] for r in out.collect()}
    assert got == {i: i for i in range(5)}


def test_max_iter_backstop_raises(spark):
    with pytest.raises(RuntimeError, match="did not converge"):
        # driver_max_edges=0 forces the iterative path (the driver
        # union-find has no rounds to run out of)
        connected_components(
            _edges(spark, [(1, 2)]), max_iter=0, driver_max_edges=0
        )


def test_partition_invariance(spark):
    pairs = [(i, i + 1) for i in range(0, 30, 3)] + [(5, 20), (100, 101)]
    e = _edges(spark, pairs)
    a = _comp_map(connected_components(e.repartition(1)))
    b = _comp_map(connected_components(e.repartition(7)))
    assert a == b


def test_near_dup_clusters_assignment(spark):
    docs = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    pairs = _edges(spark, [(0, 4), (4, 5)])  # cluster {0,4,5}; 1,2,3 singles
    out = {r["doc_id"]: r for r in near_dup_clusters(docs, pairs).collect()}
    assert all(out[i]["cluster_id"] == 0 for i in (0, 4, 5))
    assert all(out[i]["cluster_size"] == 3 for i in (0, 4, 5))
    assert [out[i]["is_duplicate"] for i in (0, 4, 5)] == [False, True, True]
    for i in (1, 2, 3):
        assert out[i]["cluster_id"] == i
        assert out[i]["cluster_size"] == 1
        assert not out[i]["is_duplicate"]


def test_near_dup_clusters_paths_agree_on_ids_absent_from_docs(spark, monkeypatch):
    """Pair endpoints absent from `docs` (6-9) link clusters but are
    not counted: the driver path and the distributed path (forced by a
    zero edge cap) both count only `docs` rows per cluster."""
    import sparkglm_spark.operators.cluster as C

    docs = spark.createDataFrame([(i,) for i in (0, 1, 2, 3, 4, 5)], "doc_id long")
    # {0,4,5,6,7}: 6 and 7 absent; {1,2,8}: 8 absent, links 1 and 2;
    # {3,9}: 9 absent
    pairs = _edges(spark, [(0, 4), (4, 5), (5, 7), (1, 8), (8, 2), (9, 3), (6, 7)])

    def run():
        return sorted(tuple(r) for r in near_dup_clusters(docs, pairs).collect())

    fast = run()
    labels_for = C._labels_for
    monkeypatch.setattr(
        C,
        "_labels_for",
        lambda *a, **kw: labels_for(*a, **{**kw, "driver_max_edges": 0}),
    )
    assert run() == fast
    out = {r[0]: r for r in fast}
    assert [out[i][1:3] for i in range(6)] == [
        (0, 3), (1, 2), (1, 2), (3, 1), (0, 3), (0, 3)
    ]


def _union_find(n_nodes, pairs):
    """Reference twin: classic union-find with path compression, then
    relabel every component by its MINIMUM member — the same canonical
    label connected_components promises."""
    parent = list(range(n_nodes))

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra
    comp_min = {}
    for v in range(n_nodes):
        r = find(v)
        comp_min[r] = min(comp_min.get(r, v), v)
    return {v: comp_min[find(v)] for v in range(n_nodes)}


@pytest.mark.parametrize("seed,n_nodes,n_edges", [(7, 60, 45), (23, 80, 100), (99, 50, 20)])
def test_random_graphs_match_union_find(spark, seed, n_nodes, n_edges):
    """Seeded Erdős–Rényi-ish graphs (sparse → many components, dense →
    one giant component) against the union-find twin: the distributed
    min-label propagation must agree node-for-node."""
    import random

    rng = random.Random(seed)
    pairs = [
        (rng.randrange(n_nodes), rng.randrange(n_nodes)) for _ in range(n_edges)
    ]
    nodes = spark.range(n_nodes)
    got = {
        r["id"]: r["component"]
        for r in connected_components(_edges(spark, pairs), nodes=nodes).collect()
    }
    assert got == _union_find(n_nodes, pairs)


def test_string_ids_raise_at_plan_time(spark):
    from sparkglm_spark.operators.cluster import connected_components

    edges = spark.createDataFrame(
        [("doc-1", "doc-2")], "id_a string, id_b string"
    )
    with pytest.raises(TypeError, match="integral id"):
        connected_components(edges)


def test_driver_and_distributed_paths_agree(spark):
    """The cost-based gate (driver union-find below `driver_max_edges`,
    min-label loop above) must be invisible in results: both paths produce
    identical components on a seeded random graph, singletons included."""
    import random

    from sparkglm_spark.operators.cluster import connected_components

    rng = random.Random(77)
    edges = [(rng.randrange(60), rng.randrange(60)) for _ in range(45)]
    e = spark.createDataFrame(edges, "id_a long, id_b long")
    nodes = spark.createDataFrame([(i,) for i in range(80)], "id long")
    fast = {
        (r["id"], r["component"])
        for r in connected_components(e, nodes=nodes).collect()
    }
    loop = {
        (r["id"], r["component"])
        for r in connected_components(e, nodes=nodes, driver_max_edges=0).collect()
    }
    assert fast == loop and len(fast) == 80


def test_keep_best_per_cluster(spark):
    from sparkglm_spark.operators.cluster import (
        keep_best_per_cluster,
        near_dup_clusters,
    )

    docs = spark.createDataFrame(
        [
            (1, 10.0),  # cluster {1,2,3}: 3 wins on score
            (2, 30.0),  # tie with 3 → smaller id wins
            (3, 30.0),
            (4, 5.0),   # singleton
            (5, 1.0),   # cluster {5,6}: 5 loses
            (6, 2.0),
            (7, 9.9),   # not in `clusters` at all → kept
        ],
        "doc_id long, quality double",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "id_a long, id_b long"
    )
    clusters = near_dup_clusters(docs.where("doc_id < 7"), pairs)
    kept = keep_best_per_cluster(docs, clusters, "quality")
    assert sorted(r["doc_id"] for r in kept.collect()) == [2, 4, 6, 7]
    # ascending (keep the SMALLEST score)
    low = keep_best_per_cluster(docs, clusters, "quality", descending=False)
    assert sorted(r["doc_id"] for r in low.collect()) == [1, 4, 5, 7]
    # content never enters an exchange
    from sparkglm_spark.plans.inspect import assert_no_columns_in_exchanges

    docs_txt = docs.withColumn("text", F.concat(F.lit("t"), "doc_id"))
    assert_no_columns_in_exchanges(
        keep_best_per_cluster(docs_txt, clusters, "quality"), ["text"]
    )


def test_quality_aware_semantic_dedup_composes(embeddings):
    """The composition a curation run uses: semantic pairs → transitive
    clusters → keep the best-scored member of each cluster."""
    import numpy as np

    from sparkglm_spark.operators.cluster import (
        keep_best_per_cluster,
        near_dup_clusters,
    )
    from sparkglm_spark.operators.similarity import semantic_dedup_pairs

    C = np.random.default_rng(5).normal(size=(6, 64))
    pairs = semantic_dedup_pairs(
        embeddings, "vec_id", "embedding", centroids=C, threshold=0.35
    )
    clusters = near_dup_clusters(
        embeddings, pairs, "vec_id", src="id_a", dst="id_b"
    )
    scored = embeddings.withColumn("score", (F.col("vec_id") % 7).cast("double"))
    kept = keep_best_per_cluster(scored, clusters, "score", id_col="vec_id")
    n_all = embeddings.count()
    n_dupes = clusters.where("is_duplicate").count()
    assert kept.count() == n_all - n_dupes  # exactly one survivor per cluster
    # every multi-member cluster's survivor has the max score (tie → min id)
    rows = clusters.join(scored, "vec_id").collect()
    by_cl = {}
    for r in rows:
        by_cl.setdefault(r["cluster_id"], []).append((r["vec_id"], r["score"]))
    kept_ids = {r["vec_id"] for r in kept.collect()}
    for cl, members in by_cl.items():
        best = sorted(members, key=lambda m: (-m[1], m[0]))[0][0]
        assert best in kept_ids
