"""Connected components over near-duplicate pair graphs.

Dedup pipelines need cluster REPRESENTATIVES, not just pairs: "keep one
doc per near-dup cluster" is a transitive-closure problem (A~B, B~C ⇒
{A,B,C} is one cluster even if A≁C directly). This module turns a pair
table — the output of `minhash_dedup_pairs` / `jaccard_pairs` /
`simhash_near_dup_pairs` / `lsh_near_dup_pairs` — into a
(node, component) assignment where the component id is the MINIMUM node
id in the component (deterministic, engine-reproducible).

Algorithm: distributed min-label propagation with POINTER JUMPING
(the hook + shortcut shape of Shiloach-Vishkin / hash-to-min):

    per round:  l(v) <- min(l(v), min_{u in N(v)} l(u))   # edge hop
                l(v) <- min(l(v), l(l(v)))                # pointer jump

The edge hop alone converges in O(diameter) rounds — fine for typical
near-dup clusters (templated copies, diameter 1-2) but O(n) on an
adversarial chain A~B~C~...; the pointer-jump join doubles the label
graph's compression every round, bounding convergence at O(log n) rounds
for ANY topology. Each round is two shuffles over the LABELS table
(|endpoints| rows, 2 longs each) plus one over the symmetric edge list;
the working set is labels + edges, never payloads. `localCheckpoint`
after every round truncates the iterative lineage (same discipline as
the IRLS loop in operators/glm.py).

Scale notes (100 TB corpus => billions of nodes, edges ~ O(nodes) for
near-dup graphs): all state is distributed; the driver sees only the
per-round changed-count (one long). Labels are always node ids of the
same component (min over member labels), so the pointer-jump self-join
always finds its target row. Singleton docs never enter the loop: the
iteration runs over edge ENDPOINTS only, and nodes without edges are
backfilled with their own id afterward (at near-dup thresholds worth
running, endpoints are a small fraction of the corpus).

Reference parity: the reference (alteryx/sparkGLM) has no graph
operators; this extends the dedup surface (SURVEY.md §2 extension ops).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _driver_label_pairs(e: DataFrame) -> list[tuple[int, int]]:
    """Transitive closure of a SMALL edge list on the driver: min-rooted
    union-find with path compression over collected (u, v) longs. Returns
    (node, component) pairs with component = min member id — the same
    contract as the distributed loop, bit-identical and trivially
    partition-invariant. Callers gate the collect (`driver_max_edges`) —
    this is the broadcast-build-side contract, not an unbounded collect."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    pdf = e.toPandas()  # Arrow transfer — far cheaper than Row objects
    # at the 2M-edge gate boundary
    for u, v in zip(pdf["u"].to_numpy().tolist(), pdf["v"].to_numpy().tolist()):
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            # min id stays the root, so find() yields the component min
            if ru < rv:
                parent[rv] = ru
            else:
                parent[ru] = rv
    return [(n, find(n)) for n in parent]


def _components_driver(e: DataFrame) -> DataFrame:
    spark = e.sparkSession
    return spark.createDataFrame(
        _driver_label_pairs(e), "id long, label long"
    )


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    nodes: DataFrame | None = None,
    id_col: str = "id",
    max_iter: int = 50,
    driver_max_edges: int = 2_000_000,
) -> DataFrame:
    """Connected components of the undirected graph given by `edges`.

    Returns (``id_col``, ``component``) — component = min node id in the
    component. If `nodes` is given (one column ``id_col``), every node
    appears in the output; nodes absent from `edges` map to themselves.

    Cost-based physical strategy (the minhash-planner discipline): the
    near-dup pair graph is usually TINY relative to the corpus, and the
    iterative loop pays multiple jobs per round regardless of size — so
    when a bounded probe shows ≤ `driver_max_edges` edges (default 2M ≈
    32 MB of longs, the broadcast-build-side contract), the closure runs
    as driver-side min-rooted union-find: one collect of (u, v) longs,
    zero rounds, identical output. Larger graphs take the distributed
    min-label-propagation + pointer-jumping loop below (O(log n) rounds,
    labels-only shuffles). `driver_max_edges=0` forces the loop.

    `max_iter` is a backstop, not a tuning knob: pointer jumping reaches
    the fixpoint in O(log n) rounds, so 50 covers any graph that fits on
    a cluster. Hitting it raises rather than returning a partial merge —
    a silently-unconverged dedup would drop the wrong documents.

    Ids must be integral (min-label arithmetic is defined over integer
    ids); string ids raise at plan time with the remedy in the message
    rather than degrading to NULL edges and an empty clustering.
    """
    labels, driver_pairs = _labels_for(edges, src, dst, nodes, id_col,
                                       max_iter, driver_max_edges)
    return _components_output(labels, nodes, id_col)


def _labels_for(
    edges: DataFrame,
    src: str,
    dst: str,
    nodes: DataFrame | None,
    id_col: str,
    max_iter: int,
    driver_max_edges: int,
) -> tuple[DataFrame, list[tuple[int, int]] | None]:
    """Endpoint (id, label) assignments for `connected_components` /
    `near_dup_clusters`, plus the raw driver-side pairs when the
    cost-gated driver path fired (None on the distributed path) — the
    pairs let `near_dup_clusters` derive component SIZES on the driver
    instead of a sizes groupBy + join-back (r15, guide §2.4)."""
    from sparkglm_spark.plans.partitioning import (
        bounded_row_probe,
        require_integral_id,
    )

    require_integral_id(edges, src, "connected_components")
    require_integral_id(edges, dst, "connected_components")
    if nodes is not None:
        require_integral_id(nodes, id_col, "connected_components")
    # persist the 2-long edge projection: the upstream pair pipeline (LSH /
    # bitmap verification) is expensive, and it is consumed twice here —
    # by the size probe and then by either the driver collect or the
    # symmetric-view construction. Released as soon as a materialized
    # downstream (driver labels / persisted sym) no longer reads it.
    e = edges.select(
        F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
    ).where(F.col("u") != F.col("v")).persist()

    if driver_max_edges and (
        bounded_row_probe(e.select("u"), driver_max_edges, always_count=True)
        <= driver_max_edges
    ):
        pairs = _driver_label_pairs(e)
        labels = e.sparkSession.createDataFrame(pairs, "id long, label long")
        e.unpersist()
        return labels, pairs

    # symmetric view, deduped: multi-edges add no information, only join fanout
    sym = e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).distinct()
    sym = sym.persist()

    labels = (
        sym.select(F.col("u").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("label"))
        .localCheckpoint()  # eager — materializes sym, so e can release
    )
    e.unpersist()

    converged = False
    for _ in range(max_iter):
        # edge hop: min label over the neighborhood
        nbr = (
            sym.join(labels.withColumnRenamed("id", "v"), "v")
            .groupBy(F.col("u").alias("id"))
            .agg(F.min("label").alias("nbr_label"))
        )
        hopped = (
            labels.join(nbr, "id", "left")
            .select(
                "id",
                F.col("label").alias("prev"),
                F.least("label", F.coalesce("nbr_label", "label")).alias("label"),
            )
        )
        # pointer jump: follow the label one step (label values are node ids,
        # so the self-join always matches)
        jump = hopped.select(
            F.col("id").alias("jid"), F.col("label").alias("jlabel")
        )
        new_labels = (
            hopped.join(jump, hopped["label"] == jump["jid"])
            .select(
                "id", "prev", F.least(hopped["label"], "jlabel").alias("label")
            )
            .localCheckpoint()
        )
        changed = new_labels.where(F.col("label") != F.col("prev")).limit(1).count()
        labels = new_labels.select("id", "label")
        if changed == 0:
            converged = True
            break
    sym.unpersist()
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds; "
            "refusing to return a partially-merged clustering"
        )
    return labels, None


def _components_output(
    labels: DataFrame, nodes: DataFrame | None, id_col: str
) -> DataFrame:
    """(id, label) endpoint assignments → final (id_col, component), with
    edge-less nodes backfilled as their own singleton component."""
    out = labels.select(
        F.col("id").alias(id_col), F.col("label").alias("component")
    )
    if nodes is not None:
        out = (
            nodes.select(F.col(id_col).cast("long").alias(id_col))
            .join(out, id_col, "left")
            .select(
                id_col, F.coalesce("component", F.col(id_col)).alias("component")
            )
        )
    return out


def near_dup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Cluster assignment for every document given a near-dup pair table:
    (id_col, cluster_id, cluster_size, is_duplicate).

    cluster_id = min doc id in the cluster; is_duplicate marks the rows a
    keep-one-per-cluster dedup would drop (everything but the minimum).

    cluster_size counts the `docs` rows in the cluster: pair endpoints
    absent from `docs` link clusters but are not counted. When the
    components took the cost-gated driver path (the usual case — near-dup
    pair graphs are tiny next to the corpus), every endpoint's component
    is already on the driver, so the sizes are a driver-side count over
    the endpoints one broadcast semi-join finds in `docs`, and the output
    is ONE join of the enriched (id, cluster_id, cluster_size) assignment
    onto the docs — the sizes groupBy + join-back exchanges disappear
    (r15, guide §2.4). Docs that are no endpoint are their own singletons,
    size 1. The distributed path keeps the sizes join: (cluster_id, count)
    — O(#clusters) rows."""
    labels, driver_pairs = _labels_for(
        pairs, src, dst, docs, id_col, max_iter=50,
        driver_max_edges=2_000_000,
    )
    if driver_pairs is not None:
        from collections import Counter

        doc_ids = docs.select(F.col(id_col).cast("long").alias("id"))
        label_of = dict(driver_pairs)
        csize = Counter(
            label_of[r[0]]
            for r in doc_ids.join(F.broadcast(labels.select("id")), "id", "left_semi")
            .collect()
        )
        enriched = labels.sparkSession.createDataFrame(
            [(i, lbl, csize[lbl]) for i, lbl in driver_pairs],
            "id long, cluster_id long, cluster_size long",
        )
        return (
            doc_ids.withColumnRenamed("id", id_col)
            .join(enriched.withColumnRenamed("id", id_col), id_col, "left")
            .select(
                id_col,
                F.coalesce("cluster_id", F.col(id_col)).alias("cluster_id"),
                F.coalesce("cluster_size", F.lit(1)).alias("cluster_size"),
                (F.col(id_col) != F.coalesce("cluster_id", F.col(id_col))).alias(
                    "is_duplicate"
                ),
            )
        )
    comp = _components_output(labels, docs, id_col)
    sizes = comp.groupBy(F.col("component").alias("cluster_id")).agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        comp.select(id_col, F.col("component").alias("cluster_id"))
        .join(sizes, "cluster_id")
        .select(
            id_col,
            "cluster_id",
            "cluster_size",
            (F.col(id_col) != F.col("cluster_id")).alias("is_duplicate"),
        )
    )


def keep_best_per_cluster(
    docs: DataFrame,
    clusters: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
    descending: bool = True,
    broadcast_drop_list: bool = True,
) -> DataFrame:
    """Quality-aware keeper selection: of each near-dup cluster keep the
    row with the best `score_col` (highest by default; ties → smallest
    id), not the smallest id — real pipelines keep the LONGEST or
    highest-quality member of a duplicate cluster, and min-id is only the
    right policy when members are byte-identical. `clusters` is a
    (id_col, cluster_id) assignment — `near_dup_clusters` output, or the
    `semantic_dedup_pairs` cluster column joined to ids.

    Plan (the cap_per_group idiom with cap 1): the rank runs over a
    NARROW (cluster_id, id, score) projection — one join on id + one rank
    exchange of ~24-byte rows; losers (every non-winner of a multi-member
    cluster, i.e. exactly the duplicate count) come back as a broadcast
    anti-join, so document content never moves. Rows of `docs` absent
    from `clusters` are kept (no cluster → nothing to lose to)."""
    from pyspark.sql import Window

    # NULLS LAST both ways: a null score must never beat a real one
    score = (
        F.col("__s").desc_nulls_last()
        if descending
        else F.col("__s").asc_nulls_last()
    )
    proj = docs.select(
        F.col(id_col), F.col(score_col).alias("__s")
    ).join(clusters.select(id_col, "cluster_id"), id_col)
    w = Window.partitionBy("cluster_id").orderBy(score, F.col(id_col).asc())
    losers = (
        proj.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") > 1)
        .select(id_col)
    )
    side = F.broadcast(losers) if broadcast_drop_list else losers
    return docs.join(side, id_col, "left_anti")
