"""Physical-plan quality gates: these assert the plan SHAPES that make the
queries scale — filter/column pushdown into the parquet scan, broadcast
joins for dims, TakeOrderedAndProject for top-k, partial aggregation, and
bounded shuffle counts. A green run means Catalyst is doing what the 100 TB
design intends, not just that the answers are right."""

from __future__ import annotations

import pytest

from mcp_clickhouse_spark.inventory.registry import QUERIES
from mcp_clickhouse_spark.plans import count_nodes, explain_formatted
import mcp_clickhouse_spark.inventory as inventory

inventory.load_all()

# These gates pin the shapes of scans above the one-task budget.
pytestmark = pytest.mark.usefixtures("above_one_task_budget")


def plan_of(spark, sf_dir, name: str) -> str:
    return explain_formatted(QUERIES[name].fn(spark, sf_dir))


@pytest.fixture(scope="module")
def sf(sf_dir):
    return sf_dir


def test_scan_pushdown_and_pruning(spark, sf):
    plan = plan_of(spark, sf, "scan_projection")
    assert "PushedFilters: [IsNotNull(o_orderstatus), EqualTo(o_orderstatus,F)]" in plan
    # Column pruning: the scan reads exactly the referenced columns.
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "o_orderkey" in read and "o_custkey" in read and "o_totalprice" in read
    assert "o_orderdate" not in read and "o_orderpriority" not in read


def test_in_rewrite_keeps_parquet_pushdown(spark, sf):
    """Round-15 design gate: the two-valued IN rewrite STRIPS literal
    NULL elements instead of coalesce-wrapping precisely so the In +
    IsNotNull filters still reach the parquet scan — a coalesce'd
    predicate would silently lose data-source pushdown at 100 TB."""
    from mcp_clickhouse_spark.dialect import translate
    from mcp_clickhouse_spark.session import read_table

    read_table(spark, sf, "orders").createOrReplaceTempView("orders_inp")
    df = spark.sql(translate(
        "SELECT o_orderkey FROM orders_inp"
        " WHERE o_orderpriority IN ('1-URGENT', '2-HIGH', NULL)"
    ))
    plan = explain_formatted(df)
    pushed = plan.split("PushedFilters")[1][:200]
    assert "In(o_orderpriority" in pushed and "IsNotNull(o_orderpriority" in pushed
    assert "1-URGENT" in pushed and "NULL" not in pushed.split("]")[0]


def test_q1_pushdown_and_partial_agg(spark, sf):
    plan = plan_of(spark, sf, "q1_pricing_summary")
    assert "PushedFilters" in plan and "l_shipdate" in plan.split("PushedFilters")[1][:200]
    # partial→final hash aggregation around one exchange
    assert plan.count("HashAggregate") >= 2
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_partkey" not in read  # pruned


def test_star_join_broadcasts_dims(spark, sf):
    plan = plan_of(spark, sf, "join_star_revenue")
    assert plan.count("BroadcastHashJoin") >= 2  # nation and region


def test_top_k_uses_take_ordered(spark, sf):
    plan = plan_of(spark, sf, "order_limit")
    assert "TakeOrderedAndProject" in plan


def test_semi_anti_join_strategies(spark, sf):
    assert "LeftSemi" in plan_of(spark, sf, "join_semi")
    assert "LeftAnti" in plan_of(spark, sf, "join_anti")


def test_asof_join_single_shuffle(spark, sf):
    """The union+window ASOF strategy must cost exactly ONE exchange (the
    window partitioning) — no pairwise join blowup."""
    plan = plan_of(spark, sf, "join_asof")
    assert count_nodes(plan, "Exchange") == 1
    assert "Window" in plan


def test_limit_by_group_limit_pushdown(spark, sf):
    """Spark's WindowGroupLimit keeps ≤n rows per group before the full
    window sort — the plan feature that makes LIMIT BY scale."""
    plan = plan_of(spark, sf, "shim_limit_by")
    assert "WindowGroupLimit" in plan


def test_events_scan_prunes_props(spark, sf):
    plan = plan_of(spark, sf, "events_tumbling_window")
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "props" not in read and "event_id" not in read  # only ts/type/value read


def test_exact_dedup_is_two_stage_agg(spark, sf):
    plan = plan_of(spark, sf, "pipe_dedup_exact")
    # partial aggregation on the content hash before the shuffle
    assert count_nodes(plan, "HashAggregate") >= 2
    assert count_nodes(plan, "Exchange") == 1


def test_minhash_signature_plan_single_exchange(spark, sf):
    """Round-4 claim pinned: the keyed _spread makes BOTH signature
    aggregation levels distribution-satisfied — exactly one Exchange (the
    repartition itself) in the whole signature plan."""
    from mcp_clickhouse_spark.pipeline.dedup import minhash_signatures
    from mcp_clickhouse_spark.session import read_table

    sigs = minhash_signatures(read_table(spark, sf, "documents"), num_hashes=32)
    plan = explain_formatted(sigs)
    assert count_nodes(plan, "Exchange") == 1
    assert count_nodes(plan, "CartesianProduct") == 0


def _lsh_candidates(spark, sf, op):
    from mcp_clickhouse_spark.pipeline.dedup import (
        minhash_lsh_candidates,
        minhash_signatures,
        simhash_64,
        simhash_near_dups,
    )
    from mcp_clickhouse_spark.pipeline.similarity import _embedding_candidates
    from mcp_clickhouse_spark.session import read_table

    if op == "embedding":
        e = read_table(spark, sf, "embeddings")
        return _embedding_candidates(e, "vec_id", "embedding", 2, 6, 64, 1000, True)
    d = read_table(spark, sf, "documents")
    if op == "simhash":
        return simhash_near_dups(simhash_64(d))
    return minhash_lsh_candidates(minhash_signatures(d, num_hashes=32))


@pytest.mark.parametrize(
    "op, max_exchanges",
    [
        # spread repartition + key window + (band, bucket) + pairs-distinct
        # (count_nodes dedups re-rendered cached subplans by node id)
        ("minhash", 4),
        # fingerprint aggregation + key window + (band, bucket) + distinct
        ("simhash", 4),
        # key window + (band, bucket) + distinct
        ("embedding", 3),
    ],
    ids=["minhash", "simhash", "embedding"],
)
def test_lsh_candidates_plan_no_join_no_cartesian(spark, sf, op, max_exchanges):
    """Candidate generation of every near-dup operator is aggregation +
    generate only: no self-join, no cartesian product, and the bucket-cap
    window and collect_list share one (band, bucket) exchange."""
    plan = explain_formatted(_lsh_candidates(spark, sf, op))
    assert count_nodes(plan, "CartesianProduct") == 0
    assert count_nodes(plan, "SortMergeJoin") == 0
    assert count_nodes(plan, "Join") == 0
    assert count_nodes(plan, "Exchange") <= max_exchanges
    # one collapse-and-band generator over ONE key-window pass — no Union
    # of a star branch with a banding branch.  Window nodes: key window +
    # bucket-cap window + its two WindowGroupLimit halves (count_nodes
    # substring-matches), no more.
    assert count_nodes(plan, "Union") == 0
    assert count_nodes(plan, "Window") == 4


def test_embedding_neardup_plan_no_cartesian(spark, sf):
    from mcp_clickhouse_spark.pipeline.similarity import embedding_neardup_pairs
    from mcp_clickhouse_spark.session import read_table

    nd = embedding_neardup_pairs(read_table(spark, sf, "embeddings"))
    plan = explain_formatted(nd)
    assert count_nodes(plan, "CartesianProduct") == 0


def test_span_dedup_plan_shape(spark, sf):
    # span frequency + flag join key on md5(span) (no span text in the
    # frequency shuffle); no cartesian anywhere; static exchanges bounded:
    # spans->freq agg, flag join alignment, final per-doc regroup.
    plan = plan_of(spark, sf, "pipe_span_dedup")
    assert count_nodes(plan, "CartesianProduct") == 0
    assert count_nodes(plan, "Exchange") <= 4
    assert count_nodes(plan, "HashAggregate") >= 2  # partial+final freq agg


def test_dup_clusters_pair_input_plan(spark, sf):
    # the clustering INPUT (blocked pair generation) must never cartesian;
    # the iterative star-contraction itself is checkpointed per round so a
    # static plan of the output only shows the final label join.
    plan = plan_of(spark, sf, "pipe_ngram_jaccard")
    assert count_nodes(plan, "CartesianProduct") == 0


def test_plans_md_covers_registry():
    """Drift gate (round 13, r11 verdict #4): every registered query must
    have a PLANS.md row or an explicit EXCLUSIONS entry in
    scripts/plan_report.py — new registrations without a regenerated plan
    report fail here instead of aging silently."""
    import re
    from pathlib import Path

    import mcp_clickhouse_spark.inventory as inventory
    from mcp_clickhouse_spark.inventory.registry import QUERIES

    inventory.load_all()
    text = Path(__file__).resolve().parents[1].joinpath("PLANS.md").read_text()
    rows = set(re.findall(r"^\| (\S+) \|", text, flags=re.M))
    sys_path = Path(__file__).resolve().parents[1] / "scripts" / "plan_report.py"
    ns: dict = {"__file__": str(sys_path)}
    exec(
        compile(
            sys_path.read_text().split("def _row")[0], str(sys_path), "exec"
        ),
        ns,
    )
    excluded = set(ns["EXCLUSIONS"])
    missing = sorted(set(QUERIES) - rows - excluded)
    assert not missing, (
        f"queries missing a PLANS.md row (run scripts/plan_report.py or "
        f"add an EXCLUSIONS entry): {missing}"
    )
