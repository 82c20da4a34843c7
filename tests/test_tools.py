"""Tool-surface tests mirroring the reference's exact-value assertions
(FIXTURES.md §1.1-1.3, §1.6; reference test_mcp_server.py / test_chdb_tool.py)."""

from __future__ import annotations

import time

import pytest

from mcp_clickhouse_spark.tools import (
    ToolError,
    health_check,
    list_databases,
    list_tables,
    run_embedded_select_query,
    run_select_query,
)


def test_select_order_by_exact_rows(spark, users):
    """Reference test_mcp_server.py:190-212 — exact ordered rows."""
    res = run_select_query(spark, "SELECT id, name, age FROM users ORDER BY id")
    assert res["columns"] == ["id", "name", "age"]
    assert res["rows"] == [
        [1, "Alice", 30],
        [2, "Bob", 25],
        [3, "Charlie", 35],
        [4, "Diana", 28],
    ]


def test_aggregation_exact_values(spark, users):
    """Reference :215-229 — COUNT(*)=4, AVG(age)=29.5."""
    res = run_select_query(
        spark, "SELECT COUNT(*) AS total_users, AVG(age) AS average_age FROM users"
    )
    assert res["rows"] == [[4, 29.5]]


def test_count_distinct(spark, events_ref):
    """Reference :232-253 — COUNT(DISTINCT event_type)=3."""
    res = run_select_query(
        spark, "SELECT COUNT(DISTINCT event_type) AS unique_event_types FROM events_ref"
    )
    assert res["rows"] == [[3]]


def test_min_max(spark, users):
    """Reference :361-362."""
    res = run_select_query(spark, "SELECT MIN(age) AS min_age, MAX(age) AS max_age FROM users")
    assert res["rows"] == [[25, 35]]


def test_nonexistent_table_raises_toolerror(spark):
    """Reference :256-268 — CH path RAISES."""
    with pytest.raises(ToolError, match="Query execution failed"):
        run_select_query(spark, "SELECT * FROM definitely_not_a_table_xyz")


def test_syntax_error_raises_toolerror(spark):
    """Reference :271-283 — bare `SELECT FROM WHERE`."""
    with pytest.raises(ToolError):
        run_select_query(spark, "SELECT FROM WHERE")


def test_write_rejected(spark, users):
    with pytest.raises(ToolError, match="Query execution failed"):
        run_select_query(spark, "DROP TABLE users")
    # and the data is still there
    assert run_select_query(spark, "SELECT COUNT(*) AS n FROM users")["rows"] == [[4]]


def test_embedded_select_scalar(spark):
    """Reference test_chdb_tool.py:16-21 — SELECT 1 → [{'test_value': 1}]."""
    assert run_embedded_select_query(spark, "SELECT 1 AS test_value") == [{"test_value": 1}]


def test_embedded_empty_result(spark, users):
    """Reference :40-46 — empty result is [], not an error."""
    assert run_embedded_select_query(spark, "SELECT * FROM users WHERE 1 = 0") == []


def test_embedded_error_returns_dict(spark):
    """Reference :31-38 — chDB path RETURNS an error dict (asymmetric A14)."""
    res = run_embedded_select_query(spark, "SELECT * FROM missing_table_abc")
    assert res["status"] == "error"
    assert "Query execution failed" in res["message"]


def test_timeout_cancels(spark, users):
    """A12: a slow query times out with a ToolError, and the engine survives."""
    slow_sql = """
    SELECT COUNT(*) AS n FROM (
      SELECT a.id FROM range(3000000000) a CROSS JOIN range(1000) b
    )
    """
    t0 = time.time()
    with pytest.raises(ToolError, match="timed out"):
        run_select_query(spark, slow_sql, timeout_secs=2.0)
    assert time.time() - t0 < 15
    # session still healthy after cancellation
    assert run_select_query(spark, "SELECT 1 AS ok")["rows"] == [[1]]


def test_concurrent_queries(spark, users):
    """Reference :351-377 — 4 simultaneous aggregations."""
    from concurrent.futures import ThreadPoolExecutor

    queries = [
        "SELECT COUNT(*) AS c FROM users",
        "SELECT AVG(age) AS a FROM users",
        "SELECT MIN(age) AS mn FROM users",
        "SELECT MAX(age) AS mx FROM users",
    ]
    with ThreadPoolExecutor(max_workers=4) as pool:
        results = list(pool.map(lambda q: run_select_query(spark, q), queries))
    assert [r["rows"][0][0] for r in results] == [4, 29.5, 25, 35]


def test_list_databases_filters(spark):
    dbs = list_databases(spark)
    assert "default" in dbs
    assert list_databases(spark, like="defa%") == ["default"]
    assert "default" not in list_databases(spark, not_like="defa%")


def test_list_tables_metadata(spark, users):
    resp = list_tables(spark, "default", like="users")
    assert resp["total_tables"] == 1
    tb = resp["tables"][0]
    assert tb["name"] == "users"
    cols = {c["name"]: c["column_type"] for c in tb["columns"]}
    assert cols["id"] == "bigint" and cols["name"] == "string" and cols["age"] == "int"


def test_like_multi_patterns(spark, users, events_ref):
    """A2/A3: multi-LIKE = OR, multi-NOT-LIKE = AND (reference :146-155)."""
    resp = list_tables(spark, "default", like=["users", "events_%"])
    names = {t["name"] for t in resp["tables"]}
    assert {"users", "events_ref"} <= names
    resp2 = list_tables(spark, "default", not_like=["users", "events_%"])
    names2 = {t["name"] for t in resp2["tables"]}
    assert "users" not in names2 and "events_ref" not in names2


def test_explain_through_tool(spark, users):
    """EXPLAIN is read-only and passes through (reference exposes the full
    read-only SELECT surface; EXPLAIN of a write is rejected)."""
    res = run_select_query(spark, "EXPLAIN SELECT COUNT(*) FROM users")
    assert "Aggregate" in res["rows"][0][0] or "Physical Plan" in res["rows"][0][0]
    with pytest.raises(ToolError):
        run_select_query(spark, "EXPLAIN DROP TABLE users")


def test_describe_through_tool(spark, users):
    res = run_select_query(spark, "DESCRIBE users")
    cols = {r[0]: r[1] for r in res["rows"]}
    assert cols["id"] == "bigint" and cols["age"] == "int"


def test_show_through_tool(spark, users):
    res = run_select_query(spark, "SHOW TABLES")
    assert any("users" in row for row in [r for r in res["rows"]] for row in [str(row)])


def test_dialect_mode_through_tool(spark, users):
    res = run_select_query(
        spark,
        "SELECT toString(id) AS sid, multiIf(age < 26, 'young', age < 33, 'mid', 'old') AS band "
        "FROM users ORDER BY id",
        dialect="clickhouse",
    )
    assert res["rows"][0] == ["1", "mid"]
    assert res["rows"][1] == ["2", "young"]


def test_health(spark):
    h = health_check(spark)
    assert h["status"] == 200
    assert "Spark" in h["message"]


def test_settings_max_execution_time_enforced(spark, users):
    """SETTINGS max_execution_time translates to the job-group timeout: the
    same slow query that needs the explicit timeout_secs kill-switch dies
    from its own SETTINGS clause in clickhouse dialect."""
    slow_sql = """
    SELECT COUNT(*) AS n FROM (
      SELECT a.number FROM numbers(3000000000) a CROSS JOIN numbers(1000) b
    ) SETTINGS max_execution_time = 2
    """
    t0 = time.time()
    with pytest.raises(ToolError, match="timed out"):
        run_select_query(spark, slow_sql, dialect="clickhouse")
    assert time.time() - t0 < 15
    assert run_select_query(spark, "SELECT 1 AS ok")["rows"] == [[1]]


def test_settings_passthrough_and_warnings(spark, users):
    """The safe SETTINGS subset applies silently (readonly=1 is the engine's
    permanent state); unknown settings execute the query but warn."""
    import warnings as w

    with w.catch_warnings():
        w.simplefilter("error")  # readonly=1 + max_execution_time: no warning
        res = run_select_query(
            spark,
            "SELECT count() AS n FROM users SETTINGS readonly = 1, max_execution_time = 60",
            dialect="clickhouse",
        )
    assert res["rows"] == [[4]]
    with pytest.warns(UserWarning, match="no Spark equivalent"):
        res = run_select_query(
            spark,
            "SELECT count() AS n FROM users SETTINGS max_threads = 8",
            dialect="clickhouse",
        )
    assert res["rows"] == [[4]]
    with pytest.warns(UserWarning, match="always read-only"):
        run_select_query(
            spark, "SELECT 1 AS x SETTINGS readonly = 0", dialect="clickhouse"
        )


def test_apply_settings_only_lowers_configured_timeout(monkeypatch):
    """The configured timeout (MCP_SPARK_QUERY_TIMEOUT) is the ceiling for a
    direct tool call exactly as for a served one: SETTINGS
    max_execution_time can lower it, never raise it."""
    from mcp_clickhouse_spark.tools import _apply_settings

    monkeypatch.setenv("MCP_SPARK_QUERY_TIMEOUT", "30")
    sql, timeout = _apply_settings(
        "SELECT 1 SETTINGS max_execution_time=60", "clickhouse", None
    )
    assert "SETTINGS" not in sql and timeout == 30
    assert _apply_settings(
        "SELECT 1 SETTINGS max_execution_time=5", "clickhouse", None
    )[1] == 5
    assert _apply_settings("SELECT 1", "spark", None) == ("SELECT 1", 30)
    # An explicit timeout replaces the configured one; SETTINGS still only
    # lowers it.
    assert _apply_settings(
        "SELECT 1 SETTINGS max_execution_time=60", "clickhouse", 2.0
    )[1] == 2.0


def test_extract_settings_unit():
    from mcp_clickhouse_spark.dialect import extract_settings

    sql, st = extract_settings(
        "SELECT 1 SETTINGS max_execution_time = 1.5, join_algorithm = 'hash' FORMAT JSON"
    )
    assert st == {"max_execution_time": "1.5", "join_algorithm": "hash"}
    assert sql.startswith("SELECT 1") and "SETTINGS" not in sql and "FORMAT JSON" in sql
    sql, st = extract_settings("SELECT 1")
    assert st == {} and sql == "SELECT 1"
