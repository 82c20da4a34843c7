"""Connected-components duplicate clustering (pipeline/clustering.py)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from mcp_clickhouse_spark.pipeline.clustering import (
    connected_components,
    dedup_clusters,
)


def _brute_components(edges: list[tuple[int, int]]) -> dict[int, int]:
    """Union-find ground truth: node -> min id of its component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a: int, b: int) -> None:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    return {n: find(n) for n in parent}


def _cc_dict(spark, edges: list[tuple[int, int]]) -> dict[int, int]:
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    out = connected_components(df).collect()
    return {r["node"]: r["cluster_id"] for r in out}


def test_two_triangles_and_bridge(spark):
    edges = [(1, 2), (2, 3), (3, 1), (10, 11), (11, 12), (3, 10), (20, 21)]
    assert _cc_dict(spark, edges) == _brute_components(edges)


def test_long_chain_converges_in_log_rounds(spark):
    # a 200-node path is the worst case for naive label propagation
    # (O(n) rounds); large-star/small-star must label it min=0 within the
    # 25-iteration backstop (O(log^2 n)).
    edges = [(i, i + 1) for i in range(200)]
    got = _cc_dict(spark, edges)
    assert set(got.values()) == {0}
    assert len(got) == 201


def test_self_pairs_are_singletons(spark):
    edges = [(5, 5), (7, 7), (7, 8)]
    got = _cc_dict(spark, edges)
    assert got == {5: 5, 7: 7, 8: 7}


def test_random_graphs_match_union_find(spark):
    rng = random.Random(42)
    for trial in range(3):
        n = 120
        edges = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(rng.randrange(30, 140))
        ]
        got = _cc_dict(spark, edges)
        want = _brute_components(edges)
        assert got == want, f"trial {trial} mismatch"


def test_dedup_clusters_sizes_and_keep(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (9, 8)], "id_a long, id_b long"
    )
    rows = {r["doc_id"]: r for r in dedup_clusters(pairs).collect()}
    assert rows[1]["cluster_id"] == 1 and rows[1]["keep"] is True
    assert rows[2]["cluster_id"] == 1 and rows[2]["keep"] is False
    assert rows[3]["cluster_size"] == 3
    assert rows[8]["cluster_id"] == 8 and rows[8]["keep"] is True
    assert rows[9]["cluster_size"] == 2
    # exactly one canonical per cluster
    df = dedup_clusters(pairs)
    per = df.groupBy("cluster_id").agg(
        F.sum(F.col("keep").cast("int")).alias("k")
    ).collect()
    assert all(r["k"] == 1 for r in per)


def test_connected_components_raises_on_iteration_exhaustion(spark):
    import pytest as _pytest

    edges = [(i, i + 1) for i in range(40)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_iterations=1)


def test_connected_components_one_action_per_round(spark):
    """r18: lazy localCheckpoints — the convergence signature is the ONLY
    job a CC round launches (it materializes the round's checkpoint as a
    side effect).  The eager form cost 2 jobs/round plus 2 upfront
    materializations: this graph took 8 jobs before, 4 after."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 20)], ["id_a", "id_b"]
    )
    sc = spark.sparkContext

    def jobs() -> int:
        return int(sc._jsc.sc().dagScheduler().nextJobId())

    # count under AQE-off (the bench regime): AQE adds a scheduler job per
    # exchange stage, which would drown the action count being pinned
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        got = sorted(map(tuple, dedup_clusters(pairs).collect()))  # warm
        j0 = jobs()
        assert sorted(map(tuple, dedup_clusters(pairs).collect())) == got
        n_jobs = jobs() - j0
        # initial signature + <=2 round signatures + final collect
        assert n_jobs <= 4, n_jobs
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)
    # labels correct: {1,2,3} -> 1, {10,11} -> 10, {20} -> 20
    assert got == [(1, 1, 3, True), (2, 1, 3, False), (3, 1, 3, False),
                   (10, 10, 2, True), (11, 10, 2, False), (20, 20, 1, True)]
