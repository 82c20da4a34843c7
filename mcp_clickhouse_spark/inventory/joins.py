"""Join inventory — SURVEY.md §2.3.3 (B9 plus the delegated join surface).

INNER/LEFT/RIGHT/FULL/CROSS/SEMI/ANTI/theta equi- and non-equi joins, the
multi-way star join with broadcast dims, ARRAY JOIN (explode), and the two
custom shims: ANY JOIN and ASOF JOIN.

Scale notes: dimension tables (region/nation) are broadcast — no shuffle of
the fact table on their account; fact-fact joins shuffle on the join key and
rely on AQE for skew. The ASOF join is the union+window strategy (one
shuffle, no pair explosion) — see operators/asof_join.py.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from mcp_clickhouse_spark.functions import cents
from mcp_clickhouse_spark.inventory.registry import query, t
from mcp_clickhouse_spark.operators import any_join, asof_join


@query(
    "join_inner",
    oracle="""
    SELECT o.o_orderkey, o.o_totalprice, c.c_name, c.c_mktsegment
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = 'BUILDING'
    """,
    category="joins",
)
def join_inner(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    return o.join(c, o.o_custkey == c.c_custkey, "inner").select(
        "o_orderkey", "o_totalprice", "c_name", "c_mktsegment"
    )


@query(
    "join_left",
    oracle="""
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
    FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    """,
    category="joins",
)
def join_left(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left").select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    )


@query(
    "join_right",
    oracle="""
    SELECT o.o_orderkey, c.c_custkey, c.c_name
    FROM orders o RIGHT JOIN customer c ON o.o_custkey = c.c_custkey
    """,
    category="joins",
)
def join_right(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    return o.join(c, o.o_custkey == c.c_custkey, "right").select(
        "o_orderkey", "c_custkey", "c_name"
    )


@query(
    "join_full_outer",
    oracle="""
    WITH cc AS (SELECT c_nationkey AS nk, COUNT(*) AS n_cust FROM customer GROUP BY c_nationkey),
         ss AS (SELECT s_nationkey AS nk, COUNT(*) AS n_supp FROM supplier GROUP BY s_nationkey)
    SELECT COALESCE(cc.nk, ss.nk) AS nk, cc.n_cust, ss.n_supp
    FROM cc FULL OUTER JOIN ss ON cc.nk = ss.nk
    """,
    category="joins",
)
def join_full_outer(spark, sf_dir):
    cc = (
        t(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count("*").alias("n_cust"))
    )
    ss = (
        t(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.count("*").alias("n_supp"))
    )
    # on=["nk"] full-outer coalesces the key into one output column.
    return cc.join(ss, on="nk", how="full").select("nk", "n_cust", "n_supp")


@query(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000)
    """,
    category="joins",
)
def join_semi(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 100000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@query(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    category="joins",
)
def join_anti(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@query(
    "join_cross",
    oracle="""
    SELECT r.r_name, s.o_orderstatus
    FROM region r CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) s
    """,
    category="joins",
)
def join_cross(spark, sf_dir):
    r = t(spark, sf_dir, "region").select("r_name")
    s = t(spark, sf_dir, "orders").select("o_orderstatus").distinct()
    return r.crossJoin(s)


@query(
    "join_theta",
    oracle="""
    SELECT n.n_name, COUNT(*) AS n_pairs
    FROM supplier s
    JOIN customer c ON s.s_nationkey = c.c_nationkey AND s.s_acctbal > c.c_acctbal
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    GROUP BY n.n_name
    """,
    category="joins",
)
def join_theta(spark, sf_dir):
    # Equi-key + range predicate: Spark plans a sort-merge/shuffled-hash join
    # on the equi part with the inequality as a post-join filter — no
    # nested-loop explosion.
    s = t(spark, sf_dir, "supplier")
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    return (
        s.join(c, (s.s_nationkey == c.c_nationkey) & (s.s_acctbal > c.c_acctbal))
        .join(F.broadcast(n), n.n_nationkey == s.s_nationkey)
        .groupBy("n_name")
        .agg(F.count("*").alias("n_pairs"))
    )


def _broadcastable(spark, df) -> bool:
    """True when the optimizer's size estimate for ``df`` is under the
    session's autoBroadcastJoinThreshold — i.e. a join against it will be a
    BroadcastHashJoin, not a shuffle.  Driver-side catalyst call, no job.
    Falls back to False (the conservative, scale-safe answer) if the
    internal API moves (r18: helpers shared with the asof prefilter gate
    live in plans.inspect)."""
    from mcp_clickhouse_spark.plans.inspect import (
        broadcast_threshold,
        estimated_size_bytes,
    )

    thresh = broadcast_threshold(spark)
    size = estimated_size_bytes(df)
    if thresh is None or size is None:
        return False
    return 0 < size <= thresh


@query(
    "join_star_revenue",
    oracle="""
    SELECT
      n.n_name,
      r.r_name,
      CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue,
      COUNT(*) AS n_items
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
    GROUP BY n.n_name, r.r_name
    """,
    category="joins",
)
def join_star_revenue(spark, sf_dir):
    # TPC-H Q5-style star join.  Revenue is additive, so grouping by
    # (nation, region) after the joins is exact either way; what is SIZE-
    # ADAPTIVE (r17 optimization, guide §1.2/§3.1) is whether lineitem is
    # pre-aggregated to one (l_orderkey, revenue_cents, count) row per order
    # before the orders join:
    #   - orders too big to broadcast (the 100 TB case): the join shuffles
    #     both sides, so the early reduction shrinks the fact-side exchange
    #     ~4× and drops the money columns from it (measured 1.01 s → 0.66 s
    #     at sf0.1 back when this join shuffled).
    #   - orders broadcastable (estimated under autoBroadcastJoinThreshold):
    #     the fact side is never shuffled at all, so the pre-aggregation's
    #     own Exchange is the ONLY exchange it causes — pure overhead.
    #     Probing the broadcasts directly removes it: 2 Exchange → 1,
    #     measured 0.379 → 0.329 s at sf0.1 (plans/r17/), identical rows.
    # The decision reads the optimizer's size estimate — the same statistic
    # the planner itself uses to pick the join strategy — so plan shape and
    # pre-aggregation can never disagree.
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp_ntz")
    )
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    # scaled-integer revenue (see functions.cents): exact and ~2× faster
    # than decimal; bit-identical to the decimal oracle.
    rev = cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))
    # Both o AND c must broadcast for the no-pre-agg branch to be safe: if
    # customer shuffle-joins, the unreduced lineitem stream would be the
    # shuffled side and the early-reduction win is lost (advice r17).  Note
    # run_prepared's plan cache freezes the branch chosen at FIRST
    # construction for the session lifetime — correctness-safe (branches
    # row-identical, pinned by test) but a conscious staleness: a mid-session
    # threshold change or data growth under the same path re-evaluates only
    # in a new session.
    if _broadcastable(spark, o) and _broadcastable(spark, c):
        return (
            li.select("l_orderkey", rev.alias("rev_c"))
            .join(o.select("o_orderkey", "o_custkey"), F.col("l_orderkey") == F.col("o_orderkey"))
            .join(c.select("c_custkey", "c_nationkey"), F.col("o_custkey") == F.col("c_custkey"))
            .join(F.broadcast(n), F.col("c_nationkey") == n.n_nationkey)
            .join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
            .groupBy("n_name", "r_name")
            .agg(
                (F.sum("rev_c") / F.lit(10000.0)).alias("revenue"),
                F.count("*").alias("n_items"),
            )
        )
    pre = li.groupBy("l_orderkey").agg(
        F.sum(rev).alias("rev_c"), F.count("*").alias("cnt")
    )
    return (
        pre.join(o, pre.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name", "r_name")
        .agg(
            (F.sum("rev_c") / F.lit(10000.0)).alias("revenue"),
            F.sum("cnt").alias("n_items"),
        )
    )


@query(
    "join_any",
    oracle="""
    WITH first_order AS (
      SELECT * FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS rn
        FROM orders
      ) WHERE rn = 1
    )
    SELECT c.c_custkey, c.c_name, f.o_orderkey, f.o_totalprice
    FROM customer c LEFT JOIN first_order f ON c.c_custkey = f.o_custkey
    """,
    category="joins",
)
def join_any(spark, sf_dir):
    # ClickHouse LEFT ANY JOIN, made deterministic: the surviving right row is
    # the customer's first order (min o_orderkey). See operators/any_join.py.
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey"), "o_orderkey", "o_totalprice"
    )
    return any_join(
        c, o, on=["c_custkey"], pick_order=[F.col("o_orderkey").asc()], how="left"
    ).select("c_custkey", "c_name", "o_orderkey", "o_totalprice")


@query(
    "join_asof",
    oracle="""
    SELECT e.event_id, e.user_id, CAST(e.ts AS TIMESTAMP) AS ts,
           s.ts_r, s.value_r
    FROM (SELECT * FROM events WHERE event_type <> 'signup') e
    ASOF LEFT JOIN (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts_r, value AS value_r
      FROM events WHERE event_type = 'signup'
    ) s ON e.user_id = s.user_id AND CAST(e.ts AS TIMESTAMP) >= s.ts_r
    """,
    category="joins",
)
def join_asof(spark, sf_dir):
    # Each non-signup event picks up the user's most recent signup at-or-before
    # its timestamp. Oracle: DuckDB's native ASOF JOIN.
    ev = t(spark, sf_dir, "events")
    left = ev.where(F.col("event_type") != "signup").select("event_id", "user_id", "ts")
    right = ev.where(F.col("event_type") == "signup").select("user_id", "ts", "value")
    return asof_join(
        left, right, on=["user_id"], left_ts="ts", right_ts="ts", right_cols=["value"]
    )


@query(
    "array_join_explode",
    oracle="""
    SELECT vec_id,
           generate_subscripts(embedding, 1) - 1 AS pos,
           unnest(embedding) AS component
    FROM embeddings
    WHERE vec_id < 10
    """,
    category="joins",
)
def array_join_explode(spark, sf_dir):
    # ClickHouse ARRAY JOIN ≈ explode; posexplode carries the ordinal.
    e = t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 10)
    return e.select("vec_id", F.posexplode("embedding").alias("pos", "component"))
