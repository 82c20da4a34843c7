"""Helpers for asserting plan SHAPES — the properties that make queries
scale (pushdown, pruning, broadcast, bounded exchanges) rather than just
produce correct rows. tests/test_plans.py builds its gates on these."""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def explain_formatted(df: DataFrame) -> str:
    spark = df.sparkSession
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def count_nodes(plan: str, node: str) -> int:
    """Operator occurrences in the plan TREE only (formatted mode repeats
    every node in the details section).

    A MATERIALIZED cache inlines its stored plan under every
    InMemoryRelation occurrence, so a frame read twice would double-count
    the exchanges that executed exactly once to fill the cache (round 9 —
    jaccard_verify's auto-mode count() materializes the candidates cache
    at construction time and inflated pipe_minhash_lsh from 5 to 8).
    Cold-run-faithful counting: main-tree nodes outside cached subtrees,
    plus each DISTINCT cached plan's nodes ONCE (dedup by id-stripped
    subtree text)."""
    # Round 11 rewrite: count DISTINCT node ids in the details entries
    # ("(N) NodeName" lines) instead of walking the rendered tree.  The
    # tree re-renders a cached/AQE subplan once per reader (the LSH
    # collapse cache appears under both the star and banding branches;
    # an AdaptiveSparkPlan inside a materialized cache prints its
    # "== Final Plan ==" at SHALLOWER indentation than its
    # InMemoryRelation parent, defeating any indentation-based block
    # capture) — but every rendering shares ONE id numbering space, and
    # each id appears exactly once as a details entry, so id-dedup is
    # exact.  Subquery sections restart numbering; count per section.
    total = 0
    for section in re.split(r"^Subquery:\d+", plan, flags=re.M):
        names_by_id: dict[str, str] = {}
        for m in re.finditer(r"^\((\d+)\) (.+)$", section, flags=re.M):
            names_by_id.setdefault(m.group(1), m.group(2))
        total += sum(1 for v in names_by_id.values() if node in v)
    return total


def pushed_filters(plan: str) -> list[str]:
    """All PushedFilters entries, flattened."""
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan):
        out += [p.strip() for p in m.group(1).split(",") if p.strip()]
    return out


def read_schema_columns(plan: str) -> list[str]:
    """Column names from the first ReadSchema entry (scan projection)."""
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    if not m:
        return []
    return [f.split(":")[0].strip() for f in m.group(1).split(",") if f.strip()]


def estimated_size_bytes(df: DataFrame) -> int | None:
    """The optimizer's size estimate for ``df`` — the SAME statistic the
    planner uses to pick join strategies, read driver-side (no job).
    Returns None when the internal API is unavailable (Spark Connect, API
    drift); callers must treat None as "unknown" and take their
    conservative branch."""
    try:
        return int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    except Exception:  # pragma: no cover — estimate unavailable
        return None


def broadcast_threshold(spark) -> int | None:
    """Session autoBroadcastJoinThreshold in bytes, or None if unreadable."""
    try:
        return int(
            spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
        )
    except Exception:  # pragma: no cover
        return None
