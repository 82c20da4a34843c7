"""Shared Spark fixture: one session per test run (the chDB-session analog)."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from mcp_clickhouse_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="mcp-clickhouse-spark-tests", master="local[4]")
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def above_one_task_budget(monkeypatch):
    """Serve testdata tables as tables above the one-task budget are served
    (an UnknownPartitioning file scan or split copy, as at scale), for the
    gates that pin those plan shapes on the small sf0.001 tables."""
    from mcp_clickhouse_spark import session as S

    monkeypatch.setattr(S, "_ONE_TASK_ROWS", 0)
    S._TABLE_CACHE.clear()
    yield
    S._TABLE_CACHE.clear()


@pytest.fixture(scope="session")
def users(spark):
    """FIXTURES.md §1.1 — the reference's users table (test_mcp_server.py:40-69)."""
    df = spark.createDataFrame(
        [
            (1, "Alice", 30, "2024-01-01 10:00:00"),
            (2, "Bob", 25, "2024-01-01 10:00:00"),
            (3, "Charlie", 35, "2024-01-01 10:00:00"),
            (4, "Diana", 28, "2024-01-01 10:00:00"),
        ],
        "id long, name string, age int, created_at string",
    ).selectExpr("id", "name", "age", "CAST(created_at AS TIMESTAMP) created_at")
    df.createOrReplaceTempView("users")
    return df


@pytest.fixture(scope="session")
def events_ref(spark):
    """FIXTURES.md §1.2 — the reference's event-tracking fixture."""
    df = spark.createDataFrame(
        [
            (1001, "login", "2024-01-01 10:00:00"),
            (1002, "logout", "2024-01-01 11:00:00"),
            (1003, "login", "2024-01-01 12:00:00"),
            (2001, "purchase", "2024-01-01 14:00:00"),
        ],
        "event_id long, event_type string, timestamp string",
    ).selectExpr("event_id", "event_type", "CAST(timestamp AS TIMESTAMP) timestamp")
    df.createOrReplaceTempView("events_ref")
    return df
