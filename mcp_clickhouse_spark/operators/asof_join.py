"""ASOF JOIN — nearest-preceding match, the ClickHouse `ASOF JOIN`.

Reference surface: ClickHouse's ASOF JOIN is part of the delegated SELECT
dialect (SURVEY.md §2.3.3); Spark has no native DataFrame op for it.

Implementation: the union + windowed last(ignorenulls) strategy rather than a
pairwise range join:

  1. tag right rows, null-pad both sides to a common schema, UNION;
  2. one shuffle on the equi-keys, sort each partition by
     (ts, right-before-left on ties);
  3. `last(<right cols>, ignorenulls=True)` over rows UNBOUNDED
     PRECEDING..CURRENT carries the most recent right row forward;
  4. keep left rows.

Scale: exactly ONE shuffle of |L|+|R| rows and a per-partition sort — no
O(|L|·|R|) candidate pairs and no broadcast requirement, so it holds when
both sides are 100 TB-class. Skewed keys are handled by AQE skew-join on the
single exchange.

Tie semantics: a right row with ts equal to the left row's ts matches
(ClickHouse ASOF `>=`, DuckDB `ON l.ts >= r.ts`).
"""

from __future__ import annotations

import functools
import operator
from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    right_cols: Sequence[str] | None = None,
    how: str = "left",
    suffix: str = "_r",
) -> DataFrame:
    """For each left row, attach the right row with the greatest
    ``right_ts <= left_ts`` within the same ``on`` group.

    ``right_cols`` — payload columns carried from the right side (default:
    everything except keys); they come back suffixed.  ``how`` is ``left``
    (keep unmatched left rows, nulls) or ``inner``.
    """
    if how not in ("left", "inner"):
        raise ValueError(f"asof_join: how must be left|inner, got {how}")
    on = list(on)
    if right_cols is None:
        right_cols = [c for c in right.columns if c not in on and c != right_ts]
    right_cols = list(right_cols)

    payload = [f"{c}{suffix}" for c in right_cols] + [f"{right_ts}{suffix}"]
    left_keep = [c for c in left.columns]

    # r18 (guide §3.2 — reduce the big side before shuffling it): when the
    # LEFT side is a small filtered probe against a much larger right-side
    # history, right rows whose key never appears on the left can only feed
    # window groups that emit nothing — prune them with a broadcast
    # semi-join on left's distinct keys BEFORE the union+window, so the
    # window exchange carries ~|left| keys' worth of right rows instead of
    # the full history.  Gated on the optimizer's own size estimates (the
    # join_star convention): fire only when the left is BOTH broadcast-
    # small and an order of magnitude smaller than the right — a
    # comparable-size left (the bench shape: all non-signup events vs all
    # signups) means most right keys match anyway, and the extra semi-join
    # would be pure overhead, so the plan stays unchanged there.  Estimate
    # unavailable (Spark Connect) → conservative no-prune branch.  Output
    # rows are identical either way: pruned right rows join to nothing.
    # The semi-join matches keys null-safely, because the window below
    # groups NULL keys together: a NULL-key left row does match a NULL-key
    # right row.
    from mcp_clickhouse_spark.plans.inspect import (
        broadcast_threshold,
        estimated_size_bytes,
    )

    l_size = estimated_size_bytes(left)
    r_size = estimated_size_bytes(right)
    thresh = broadcast_threshold(left.sparkSession)
    if (
        l_size is not None
        and r_size is not None
        and thresh is not None
        and 0 < l_size <= thresh
        and l_size * 16 <= r_size
    ):
        keys = left.select(*[F.col(c).alias(f"__asof_k{i}") for i, c in enumerate(on)])
        match = [F.col(c).eqNullSafe(F.col(f"__asof_k{i}")) for i, c in enumerate(on)]
        right = right.join(
            F.broadcast(keys.distinct()),
            on=functools.reduce(operator.and_, match),
            how="left_semi",
        )

    l_tag = left.select(
        *[F.col(c) for c in left_keep],
        F.col(left_ts).alias("__asof_ts"),
        F.lit(0).alias("__is_right"),
        *[F.lit(None).cast(dict(right.dtypes)[c]).alias(f"{c}{suffix}") for c in right_cols],
        F.lit(None).cast(dict(right.dtypes)[right_ts]).alias(f"{right_ts}{suffix}"),
    )
    r_tag = right.select(
        *[
            F.col(c).alias(c) if c in on else F.lit(None).cast(dict(left.dtypes)[c]).alias(c)
            for c in left_keep
        ],
        F.col(right_ts).alias("__asof_ts"),
        F.lit(1).alias("__is_right"),
        *[F.col(c).alias(f"{c}{suffix}") for c in right_cols],
        F.col(right_ts).alias(f"{right_ts}{suffix}"),
    )

    merged = l_tag.unionByName(r_tag)
    # Right rows sort BEFORE left rows at equal ts so an exact-ts match counts.
    w = (
        Window.partitionBy(*on)
        .orderBy(F.col("__asof_ts").asc(), F.col("__is_right").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = merged.select(
        *left_keep,
        "__is_right",
        *[F.last(F.col(c), ignorenulls=True).over(w).alias(c) for c in payload],
    )
    out = filled.where(F.col("__is_right") == 0).drop("__is_right")
    if how == "inner":
        out = out.where(F.col(f"{right_ts}{suffix}").isNotNull())
    return out
