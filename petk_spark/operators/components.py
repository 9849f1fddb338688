"""Connected components over near-duplicate pair graphs — the cluster
step that turns pairwise near-dup detection into production dedup.

The pair operators (jaccard/minhash/simhash/embedding near-dup) emit
edges; a training-data pipeline needs one REPRESENTATIVE per duplicate
cluster, which is a connected-components problem: transitive closure of
"a is a near-dup of b". This module computes, fully distributed,
``(id, cluster_id)`` with ``cluster_id = min(id) of the component``,
plus the keep-first filter built on it.

Beyond-reference extension (the reference has no dedup at all —
absence: the whole petk/ tree); declared in SURVEY §2.F.

Algorithm: iterative min-label propagation. Each round every node
takes the min label among itself and its neighbors — one equi-join of
the label frame with the bidirectional edge list plus one min-agg,
i.e. two hash shuffles on ``id`` per round, map-side combined, no
driver data movement (the driver loop only checks a convergence COUNT
per round). Rounds needed = graph diameter; near-dup components are
dense (LSH bucket cliques glued by shared members), so diameters of 2-4
dominate and the loop exits fast. ``localCheckpoint`` every round cuts
the growing lineage so round N's plan doesn't replay rounds 1..N-1
(the classic iterative-Spark trap). For graphs with genuinely long
chains the module also ships the two-phase large-star/small-star
variant (Kiveris et al., "Connected Components in MapReduce and
Beyond", SoCC'14; ``algorithm="star"``), which converges in O(log n)
rounds independent of diameter with the same join+min-agg building
blocks — the 100 TB path when the pair graph isn't the dense near-dup
shape. Equivalence of the two fixpoints is property-tested. Each edge
row explodes into both directions, so the lazy pair frame is scanned
ONCE: under AQE an exchange above a persisted relation (the pair
operators' cached shingle frame) is never reused, so a second consumer
would re-run the whole pair plan.

Determinism: labels are ids, min() is order-insensitive, iteration
count is data-dependent but the fixpoint is unique — the result is
engine-portable, and the DuckDB oracle replays it with a recursive CTE
(extensions_registry._SQL_NEAR_DUP_CLUSTERS).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iterations: int = 25,
    algorithm: str = "label",
) -> DataFrame:
    """(id, cluster_id) for every node; cluster_id = component min id.

    ``nodes``: one row per node id (singletons allowed — they become
    their own cluster). ``edges``: undirected pair list (each pair once
    is enough; both directions are derived internally).

    ``algorithm``: ``"label"`` (default) is min-label propagation —
    O(diameter) rounds, the right shape for dense near-dup components
    (diameter 2-4). ``"star"`` is the alternating large-star/small-star
    algorithm (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14) — O(log n) rounds regardless of diameter, the
    scale path for long-chain graphs where label propagation would
    need (and here refuses beyond) ``max_iterations`` rounds. Both
    reach the identical unique fixpoint (pinned by the equivalence
    property test).

    Raises if the loop exhausts ``max_iterations`` before the fixpoint
    (label: graph diameter > budget): returning partially-propagated
    labels would be a silently wrong closure.
    """
    if nodes.isStreaming or edges.isStreaming:
        raise ValueError("connected_components requires batch frames")
    if algorithm == "star":
        return _star_components(nodes, edges, id_col, src_col, dst_col,
                                max_iterations)
    if algorithm != "label":
        raise ValueError(
            f"unknown algorithm {algorithm!r}: expected 'label' or 'star'"
        )
    labels = nodes.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(id_col).cast("long").alias("lbl"),
    )
    src, dst = F.col(src_col).cast("long"), F.col(dst_col).cast("long")
    both = edges.select(F.explode(F.array(
        F.struct(src.alias("u"), dst.alias("v")),
        F.struct(dst.alias("u"), src.alias("v")),
    )).alias("e")).select("e.u", "e.v").localCheckpoint(eager=False)

    changed = 0
    for _ in range(max_iterations):
        neighbor_min = (
            both.join(labels.withColumnRenamed("id", "v"), "v")
            .groupBy(F.col("u").alias("id"))
            .agg(F.min("lbl").alias("nlbl"))
        )
        updated = (
            labels.join(neighbor_min, "id", "left")
            .select(
                "id",
                F.least(F.col("lbl"), F.coalesce(F.col("nlbl"), F.col("lbl"))).alias(
                    "new_lbl"
                ),
                F.col("lbl"),
            )
        )
        # ONE driver-blocking action per round (round 17, guide §1.2
        # driver latency): the convergence count rides the eager
        # checkpoint's materialization job as an observed metric
        # instead of a second filter/limit/count action — identical
        # `changed == 0` semantics, half the per-round job round-trips.
        obs = Observation()
        updated = updated.observe(
            obs,
            F.count(
                F.when(F.col("new_lbl") != F.col("lbl"), F.lit(1))
            ).alias("changed"),
        ).localCheckpoint(eager=True)
        changed = obs.get["changed"]
        labels = updated.select("id", F.col("new_lbl").alias("lbl"))
        if changed == 0:
            break
    if changed != 0:
        raise RuntimeError(
            f"connected_components did not converge within {max_iterations} "
            "iterations (graph diameter exceeds the round budget) — raise "
            "max_iterations or switch to a large-star/small-star variant"
        )
    return labels.select("id", F.col("lbl").alias("cluster_id"))


def _star_components(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str,
    src_col: str,
    dst_col: str,
    max_iterations: int,
) -> DataFrame:
    """Alternating large-star/small-star (Kiveris et al., SoCC'14).

    Each round is two grouped min-joins over the CURRENT edge frame:

      * large-star — group the bidirectional edge list by ``u``, take
        ``m = min(neighbors ∪ {u})``, re-attach every STRICTLY LARGER
        neighbor directly to ``m``: hooks long chains onto their local
        minimum, halving tall structures.
      * small-star — orient every edge toward the larger endpoint
        (key = max, value = min), take ``m = min(smaller-neighbors ∪
        {u})``, attach ``u`` and all its smaller neighbors to ``m``:
        flattens the result into stars.

    The edge multiset contracts toward star graphs centered on each
    component's min id in O(log n) rounds independent of diameter —
    the property the label-propagation loop lacks. Convergence is an
    edge-set fixpoint, checked with one ``exceptAll().limit(1)`` probe
    per round (an extra small shuffle; rounds are few). Same
    ``localCheckpoint`` lineage-cut discipline as the label loop.

    Final labels: a star edge ``(u, m)`` labels ``u`` with ``m``;
    star centers and singletons label themselves.
    """
    ids = nodes.select(F.col(id_col).cast("long").alias("id")).distinct()
    e = (
        edges.select(
            F.col(src_col).cast("long").alias("u"),
            F.col(dst_col).cast("long").alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )

    def large_star(ed: DataFrame) -> DataFrame:
        bi = ed.unionByName(ed.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = bi.groupBy("u").agg(F.min("v").alias("mv")).select(
            "u", F.least("u", "mv").alias("m")
        )
        return (
            bi.join(m, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("m").alias("u"), F.col("v"))
            .where(F.col("u") != F.col("v"))
            .select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
            .distinct()
        )

    def small_star(ed: DataFrame) -> DataFrame:
        # edges already oriented (u = min, v = max); group by the
        # larger endpoint, attach it and its smaller neighbors to the
        # minimum among them
        m = ed.groupBy(F.col("v").alias("g")).agg(F.min("u").alias("m"))
        re_small = (
            ed.join(m, ed["v"] == m["g"])
            .select(F.col("m").alias("u"), ed["u"].alias("v"))
            .where(F.col("u") != F.col("v"))
        )
        re_center = m.select(F.col("m").alias("u"), F.col("g").alias("v"))
        return (
            re_small.unionByName(re_center)
            .select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
            .distinct()
        )

    for _ in range(max_iterations):
        # ONE symmetric-difference probe job per round (round 16: the
        # two separate exceptAll().limit(1).count() actions doubled the
        # per-round driver latency; the union short-circuits identically
        # — changed == 0 iff the edge sets are equal). Round 17: the
        # checkpoint is LAZY — the probe's shuffle maps compute every
        # partition of new_e anyway, so its materialization rides the
        # probe job instead of paying a separate eager action per round.
        new_e = small_star(large_star(e)).localCheckpoint(eager=False)
        changed = (
            new_e.exceptAll(e)
            .unionAll(e.exceptAll(new_e))
            .limit(1)
            .count()
        )
        e = new_e
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"star components did not converge within {max_iterations} "
            "rounds — O(log n) expected; inspect the edge frame"
        )

    # stars: (u=min/center, v=member). Label members by center; every
    # other node (centers, singletons) labels itself.
    member_lbl = e.groupBy(F.col("v").alias("id")).agg(F.min("u").alias("lbl"))
    return (
        ids.join(member_lbl, "id", "left")
        .select("id", F.coalesce("lbl", "id").alias("cluster_id"))
    )


def near_dup_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    algorithm: str = "label",
) -> DataFrame:
    """(id, cluster_id) over ALL rows of ``df`` given a near-dup pair
    list from any of the pair operators; rows in no pair cluster to
    themselves. ``algorithm`` forwards to :func:`connected_components`
    ("label" O(diameter) / "star" O(log n))."""
    nodes = df.select(F.col(id_col).alias("id")).distinct()
    return connected_components(
        nodes, pairs, "id", src_col, dst_col, algorithm=algorithm
    )


def dedup_near_keep_first(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
) -> DataFrame:
    """Drop every near-duplicate except the minimum-id representative of
    its cluster — the linear-output production dedup (the pair list is
    quadratic in cluster size; the kept set is what a pipeline ships).
    One broadcast-or-shuffle join of df against the (id, cluster_id)
    labels."""
    clusters = near_dup_clusters(df, pairs, id_col)
    keep = clusters.filter(F.col("id") == F.col("cluster_id")).select("id")
    return df.join(
        keep.withColumnRenamed("id", id_col), id_col, "left_semi"
    )
