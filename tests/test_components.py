"""connected_components correctness beyond the clique-shaped near-dup
graphs the oracle query covers: chains force multi-round label
propagation, singletons must self-label, and the keep-first filter must
keep exactly one representative per component."""

from __future__ import annotations

from pyspark.sql import functions as F

from petk_spark.operators.components import (
    connected_components,
    dedup_near_keep_first,
)


def _cc(spark, n_nodes, edge_list):
    nodes = spark.createDataFrame([(i,) for i in range(n_nodes)], "id long")
    edges = spark.createDataFrame(edge_list, "id_a long, id_b long")
    rows = connected_components(nodes, edges).collect()
    return {r.id: r.cluster_id for r in rows}

def test_chain_propagates_to_global_min(spark):
    # 0-1-2-...-9 in REVERSE edge order plus an isolated chain 20-21:
    # diameter 9 forces ~5+ propagation rounds (min label moves one hop
    # per round from each side).
    chain = [(i, i + 1) for i in range(9)][::-1] + [(20, 21)]
    got = _cc(spark, 10, chain + [])
    assert all(got[i] == 0 for i in range(10))


def test_singletons_and_two_components(spark):
    got = _cc(spark, 7, [(1, 2), (2, 3), (5, 6)])
    assert got[0] == 0 and got[4] == 4          # singletons self-label
    assert got[1] == got[2] == got[3] == 1      # component min
    assert got[5] == got[6] == 5


def test_edge_frame_is_evaluated_once(spark):
    """Both edge directions come from ONE scan of the edge frame: a
    counting UDF in the edge plan sees each edge row exactly once (a
    union of two projections evaluates it twice). Labels match the hand
    closure on a graph with a self-loop, a duplicate edge and a
    singleton."""
    from pyspark.sql.types import LongType

    seen = spark.sparkContext.accumulator(0)

    def count(x):
        seen.add(1)
        return x

    edge_rows = [(1, 2), (2, 3), (2, 3), (4, 4), (6, 5)]
    edges = spark.createDataFrame(edge_rows, "a long, b long").select(
        F.udf(count, LongType())("a").alias("id_a"), F.col("b").alias("id_b")
    )
    nodes = spark.createDataFrame([(i,) for i in range(8)], "id long")
    got = {r.id: r.cluster_id for r in connected_components(nodes, edges).collect()}
    assert seen.value == len(edge_rows)
    assert got == {0: 0, 1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 5, 7: 7}


def test_observation_get_returns_after_eager_local_checkpoint(spark):
    """The label loop reads its convergence count from an Observation
    published by the eager localCheckpoint's job. Run on a worker
    thread joined with a timeout, so a Spark change that stops
    publishing it fails this test instead of hanging the suite."""
    import threading

    from pyspark.sql import Observation

    out = {}

    def run():
        try:
            obs = Observation()
            spark.range(10).observe(
                obs, F.count(F.lit(1)).alias("n")
            ).localCheckpoint(eager=True)
            out["n"] = obs.get["n"]
        except Exception as e:  # surfaced by the assert below
            out["error"] = e

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(timeout=120)
    assert not t.is_alive(), "Observation.get blocked after localCheckpoint"
    assert out == {"n": 10}


#: Spark jobs one near_dup_clusters call over the MinHash pairs of the
#: corpus below may launch (local[4], 8 shuffle partitions, AQE on). A
#: doubled subplan — e.g. the pair plan read once per edge direction, or
#: a second consumer of the cached shingle frame — goes well above it.
NEAR_DUP_CLUSTERS_MAX_JOBS = 24


def test_near_dup_clusters_job_ceiling(spark):
    from petk_spark.operators.components import near_dup_clusters
    from petk_spark.operators.dedup import minhash_lsh_near_dup

    base = "a stitch in time saves nine said the tailor to the apprentice"
    rows = [(100 + i, f"{base} w{i % 3}") for i in range(6)]
    rows += [(200 + i, f"one two three four five six seven eight v{i % 2}")
             for i in range(4)]
    rows += [(300, "nothing alike here at all"), (301, None)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sc = spark.sparkContext
    group = "test-near-dup-clusters-jobs"
    sc.setJobGroup(group, "near_dup_clusters job ceiling")
    try:
        got = near_dup_clusters(
            docs, minhash_lsh_near_dup(docs, "doc_id", "text", threshold=0.5),
            "doc_id",
        ).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    labels = {r.id: r.cluster_id for r in got}
    assert labels == {
        **{100 + i: 100 for i in range(6)},
        **{200 + i: 200 for i in range(4)},
        300: 300, 301: 301,
    }
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < n_jobs <= NEAR_DUP_CLUSTERS_MAX_JOBS, n_jobs


def test_keep_first_keeps_one_per_component(spark):
    df = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(8)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(0, 3), (3, 5), (6, 7)], "id_a long, id_b long"
    )
    kept = {r.doc_id for r in dedup_near_keep_first(df, pairs, "doc_id").collect()}
    # components: {0,3,5} -> keep 0; {6,7} -> keep 6; singletons 1,2,4 kept
    assert kept == {0, 1, 2, 4, 6}


def test_sessionize_is_input_order_invariant(spark):
    """Session assignment is a pure function of (user, ts) — input
    order and partitioning must not change any (user, session, count)
    rollup row."""
    from petk_spark.operators.sessions import session_profile

    rows = [
        (u, float(t))
        for u in range(5)
        for t in [0, 10, 2000, 2010, 2020, 9000, 9005 + u]
    ]
    df = spark.createDataFrame(rows, "user_id long, ts double")
    a = sorted(map(tuple, session_profile(df, "user_id", "ts", 60.0).collect()))
    b = sorted(
        map(
            tuple,
            session_profile(
                df.orderBy(F.col("ts").desc()).repartition(7), "user_id", "ts", 60.0
            ).collect(),
        )
    )
    assert a == b
    # gap 60 over [0,10 | 2000..2020 | 9000,9005+u] = 3 sessions per user
    assert {r[1] for r in a} == {1, 2, 3}


# ---------------------------------------------------------------------------
# large-star/small-star scale path
# ---------------------------------------------------------------------------


def _labels(df):
    return sorted((r["id"], r["cluster_id"]) for r in df.collect())


def test_star_matches_label_on_random_graphs(spark):
    """Both algorithms reach the identical unique fixpoint on random
    graphs (clusters + chains + singletons), seeds fixed."""
    import random

    from petk_spark.operators.components import connected_components

    for seed in (7, 21, 99):
        rng = random.Random(seed)
        n = 60
        ids = list(range(1000, 1000 + n))
        edges = []
        # a few dense cliques
        for base in range(0, 30, 10):
            clique = ids[base:base + 6]
            edges += [(a, b) for a in clique for b in clique if a < b]
        # one long chain
        chain = ids[30:50]
        edges += list(zip(chain, chain[1:]))
        # random extra edges
        edges += [tuple(sorted(rng.sample(ids, 2))) for _ in range(15)]
        nodes = spark.createDataFrame([(i,) for i in ids], "id long")
        e = spark.createDataFrame(edges, "id_a long, id_b long")
        lab = connected_components(nodes, e, algorithm="label",
                                   max_iterations=100)
        star = connected_components(nodes, e, algorithm="star")
        assert _labels(lab) == _labels(star), f"seed {seed}"


def test_star_converges_on_long_chain_where_label_budget_fails(spark):
    """A 120-node path has diameter 119: label propagation inside the
    default 25-round budget must refuse, while the O(log n) star
    variant converges and labels the whole chain with its min id."""
    import pytest as _pytest

    from petk_spark.operators.components import connected_components

    ids = list(range(5000, 5120))
    nodes = spark.createDataFrame([(i,) for i in ids], "id long")
    e = spark.createDataFrame(
        list(zip(ids, ids[1:])), "id_a long, id_b long"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(nodes, e, algorithm="label", max_iterations=10)
    star = connected_components(nodes, e, algorithm="star")
    got = _labels(star)
    assert got == [(i, 5000) for i in ids]


def test_star_handles_self_loops_dups_and_singletons(spark):
    from petk_spark.operators.components import connected_components

    nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 9]], "id long")
    e = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 2), (2, 3)], "id_a long, id_b long"
    )
    got = _labels(connected_components(nodes, e, algorithm="star"))
    assert got == [(1, 1), (2, 1), (3, 1), (9, 9)]
