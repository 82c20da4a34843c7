"""Unit tests for the custom operator shims on tiny exact fixtures."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from mcp_clickhouse_spark.operators import (
    any_join,
    asof_join,
    limit_by,
    top_k,
    with_fill,
    with_totals,
)


def test_asof_join_basic(spark):
    trades = spark.createDataFrame(
        [("A", 3, "t1"), ("A", 8, "t2"), ("B", 2, "t3"), ("C", 5, "t4")],
        "sym string, ts long, trade string",
    )
    quotes = spark.createDataFrame(
        [("A", 1, 10.0), ("A", 5, 11.0), ("A", 8, 12.0), ("B", 4, 20.0)],
        "sym string, ts long, px double",
    )
    out = asof_join(trades, quotes, on=["sym"], left_ts="ts", right_ts="ts")
    got = {(r.sym, r.ts): (r.px_r, r.ts_r) for r in out.collect()}
    assert got[("A", 3)] == (10.0, 1)
    assert got[("A", 8)] == (12.0, 8)  # equal ts matches (>= semantics)
    assert got[("B", 2)] == (None, None)  # no quote at-or-before → left join null
    assert got[("C", 5)] == (None, None)  # key with no right rows at all
    # inner drops the unmatched rows
    inner = asof_join(trades, quotes, on=["sym"], left_ts="ts", right_ts="ts", how="inner")
    assert {(r.sym, r.ts) for r in inner.collect()} == {("A", 3), ("A", 8)}


def test_any_join_deterministic_pick(spark):
    left = spark.createDataFrame([(1,), (2,)], "k int")
    right = spark.createDataFrame(
        [(1, "b"), (1, "a"), (2, "z")], "k int, v string"
    )
    out = any_join(left, right, on=["k"], pick_order=[F.col("v").asc()])
    assert {(r.k, r.v) for r in out.collect()} == {(1, "a"), (2, "z")}


def test_limit_by(spark):
    df = spark.createDataFrame(
        [("g1", i) for i in range(5)] + [("g2", i) for i in range(2)], "g string, x int"
    )
    out = limit_by(df, by=["g"], n=3, order=[F.col("x").desc()])
    got = sorted((r.g, r.x) for r in out.collect())
    assert got == [("g1", 2), ("g1", 3), ("g1", 4), ("g2", 0), ("g2", 1)]


def test_top_k_tie_break(spark):
    df = spark.createDataFrame(
        [("g", "a")] * 3 + [("g", "b")] * 3 + [("g", "c")] * 1, "g string, v string"
    )
    out = top_k(df, ["g"], "v", 2).collect()
    assert [(r.v, r.cnt, r.rk) for r in sorted(out, key=lambda r: r.rk)] == [
        ("a", 3, 1),
        ("b", 3, 2),
    ]


def test_with_totals(spark):
    df = spark.createDataFrame([("a", 1), ("a", 2), ("b", 3)], "g string, x int")
    out = with_totals(df, ["g"], [F.sum("x").alias("s")])
    got = {r.g: r.s for r in out.collect()}
    assert got == {"a": 3, "b": 3, None: 6}


def test_with_fill_interpolate(spark):
    df = spark.createDataFrame([(1, 10.0), (5, 50.0), (7, 30.0)], "x int, y double")
    prev = with_fill(df, "x", 1, 7, 1, interpolate={"y": "prev"})
    assert [r.y for r in prev.collect()] == [10.0, 10.0, 10.0, 10.0, 50.0, 50.0, 30.0]
    lin = with_fill(df, "x", 1, 8, 1, interpolate={"y": "linear"})
    got = [r.y for r in lin.collect()]
    assert got == [10.0, 20.0, 30.0, 40.0, 50.0, 40.0, 30.0, 30.0]  # tail carries prev


def test_dialect_settings_format_stripped(spark):
    from mcp_clickhouse_spark.dialect import translate

    assert translate("SELECT 1 AS a FORMAT JSONEachRow") == "SELECT 1 AS a "
    t = translate("SELECT 1 AS a SETTINGS max_threads = 8, readonly = 1")
    assert t.strip() == "SELECT 1 AS a"
    t2 = translate("SELECT count(*) FROM t SETTINGS max_threads=8 FORMAT JSON")
    assert "SETTINGS" not in t2 and "FORMAT" not in t2


def test_with_fill(spark):
    df = spark.createDataFrame([(1, 10), (4, 40)], "x int, y int")
    out = with_fill(df, "x", 1, 5, 1, fill_values={"y": 0})
    assert [(r.x, r.y) for r in out.collect()] == [
        (1, 10),
        (2, 0),
        (3, 0),
        (4, 40),
        (5, 0),
    ]


def test_sum_min_max_map(spark):
    """ClickHouse sumMap/minMap/maxMap semantics: parallel key/value arrays
    aggregate per group into one key-sorted map."""
    from mcp_clickhouse_spark.operators import max_map, min_map, sum_map

    df = spark.createDataFrame(
        [
            ("g1", ["a", "b"], [1, 10]),
            ("g1", ["b", "c"], [20, 300]),
            ("g2", ["a"], [7]),
        ],
        "grp string, ks array<string>, vs array<long>",
    )
    got = {r.grp: dict(r.sum_map) for r in sum_map(df, ["grp"], "ks", "vs").collect()}
    assert got == {"g1": {"a": 1, "b": 30, "c": 300}, "g2": {"a": 7}}
    # key order inside the map is sorted like ClickHouse's output
    row = sum_map(df, ["grp"], "ks", "vs").where("grp = 'g1'").first()
    assert list(row.sum_map.keys()) == ["a", "b", "c"]
    got_min = {r.grp: dict(r.min_map) for r in min_map(df, ["grp"], "ks", "vs").collect()}
    assert got_min["g1"] == {"a": 1, "b": 10, "c": 300}
    got_max = {r.grp: dict(r.max_map) for r in max_map(df, ["grp"], "ks", "vs").collect()}
    assert got_max["g1"] == {"a": 1, "b": 20, "c": 300}
    import pytest as _pt

    with _pt.raises(ValueError):
        from mcp_clickhouse_spark.operators.map_agg import _map_agg

        _map_agg(df, ["grp"], "ks", "vs", "avg", "x")


def test_weighted_quantile(spark):
    """Round-7 operators/weighted_quantile.py — CH quantileExactWeighted:
    smallest value whose cumulative weight reaches level*total (lower
    interpolation, always an actual data value)."""
    from mcp_clickhouse_spark.operators.weighted_quantile import weighted_quantile

    df = spark.createDataFrame(
        [("a", 1.0, 1), ("a", 2.0, 1), ("a", 3.0, 8),
         ("b", 10.0, 5), ("b", 20.0, 5)],
        "g string, v double, w int",
    )
    out = {r.g: r.wq for r in weighted_quantile(df, "v", "w", 0.5, by=["g"]).collect()}
    # group a: weights 1,1,8 of 10 → cum at v=3 is 10 >= 5 → first hit v=3
    assert out == {"a": 3.0, "b": 10.0}
    # level=1 → the maximum; global (no keys) → single row
    top = weighted_quantile(df, "v", "w", 1.0).collect()
    assert len(top) == 1 and top[0].wq == 20.0
    # weight-heavy low value pulls the quantile down
    out25 = {r.g: r.wq for r in weighted_quantile(df, "v", "w", 0.25, by=["g"]).collect()}
    assert out25["b"] == 10.0
    import pytest as _pytest
    with _pytest.raises(ValueError, match="level"):
        weighted_quantile(df, "v", "w", 0.0)


def test_weighted_quantile_null_group_key(spark):
    # GROUP BY treats NULL as a normal key: the re-attach join must be
    # null-SAFE or a NULL-keyed group silently loses its quantile
    import pyspark.sql.functions as F

    from mcp_clickhouse_spark.operators.weighted_quantile import (
        weighted_quantile,
    )

    df = spark.createDataFrame(
        [(None, 1.0, 1), (None, 2.0, 5), ("a", 3.0, 1)],
        "g string, v double, w int",
    )
    out = {
        r.g: r.wq
        for r in weighted_quantile(
            df, "v", F.col("w").cast("bigint"), 0.5, by=["g"]
        ).collect()
    }
    assert out == {None: 2.0, "a": 3.0}


def test_asof_prefilter_gated_on_selectivity(spark, sf_dir):
    """r18 asof probe-side prune (guide §3.2): fires only when the left is
    broadcast-small AND ≫smaller than the right; the bench shape (two
    comparable filters of the same table) must keep its plan unchanged."""
    from mcp_clickhouse_spark.operators.asof_join import asof_join
    from mcp_clickhouse_spark.plans import explain_formatted
    from mcp_clickhouse_spark.session import read_table

    testdata = os.path.dirname(sf_dir)
    sf = os.path.join(testdata, "sf0.01")
    ev = read_table(spark, sf, "events")
    # bench shape: comparable sides -> NO semi-join in the plan
    left_big = ev.where(F.col("event_type") != "signup").select(
        "event_id", "user_id", "ts"
    )
    right = ev.where(F.col("event_type") == "signup").select(
        "user_id", "ts", "value"
    )
    plain = asof_join(left_big, right, on=["user_id"], left_ts="ts",
                      right_ts="ts", right_cols=["value"])
    assert "LeftSemi" not in explain_formatted(plain)

    # selective probe: a parquet-backed tiny left (real size statistics —
    # a createDataFrame local frame reads as unknown/Long.Max and correctly
    # takes the conservative branch) against a 100x bigger right history
    left_small = read_table(spark, sf_dir, "events").where(
        F.col("event_type") != "signup"
    ).select("event_id", "user_id", "ts")
    right_big = read_table(spark, os.path.join(testdata, "sf0.1"), "events").where(
        F.col("event_type") == "signup"
    ).select("user_id", "ts", "value")
    pruned = asof_join(left_small, right_big, on=["user_id"], left_ts="ts",
                       right_ts="ts", right_cols=["value"])
    assert "LeftSemi" in explain_formatted(pruned)
    # rows identical to the ungated formulation (prune only removes right
    # rows that join to nothing): rebuild with the estimator disabled
    import unittest.mock as mock

    with mock.patch(
        "mcp_clickhouse_spark.plans.inspect.estimated_size_bytes",
        return_value=None,
    ):
        ref = asof_join(left_small, right_big, on=["user_id"], left_ts="ts",
                        right_ts="ts", right_cols=["value"])
        assert "LeftSemi" not in explain_formatted(ref)
        ref_rows = ref.collect()
    got = pruned.collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, ref_rows))
    assert len(got) > 0

    # NULL keys: the window groups NULL user_ids together, so a NULL-key
    # left row matches a NULL-key right row — the prune must keep them.
    # Force each branch of the estimate gate and compare rows.
    null_left = spark.createDataFrame(
        [(1, None, 10), (2, None, 30), (3, 7, 20), (4, 8, 5)],
        "event_id bigint, user_id bigint, ts bigint",
    )
    null_right = spark.createDataFrame(
        [(None, 5, 1.5), (None, 25, 2.5), (7, 15, 3.5), (9, 1, 4.5)],
        "user_id bigint, ts bigint, value double",
    )

    def null_key_rows(sizes):
        with mock.patch(
            "mcp_clickhouse_spark.plans.inspect.estimated_size_bytes",
            side_effect=sizes,
        ):
            out = asof_join(null_left, null_right, on=["user_id"], left_ts="ts",
                            right_ts="ts", right_cols=["value"])
        return explain_formatted(out), sorted(map(tuple, out.collect()))

    gated_plan, gated = null_key_rows([100, 100 * 16])  # left small: prune
    plain_plan, plain = null_key_rows([None, None])  # no estimate: no prune
    assert "LeftSemi" in gated_plan and "LeftSemi" not in plain_plan
    assert gated == plain
    assert gated == [(1, None, 10, 1.5, 5), (2, None, 30, 2.5, 25),
                     (3, 7, 20, 3.5, 15), (4, 8, 5, None, None)]
