"""Read-only classifier (A11) — the known-hard guard, no engine needed,
plus the literal and comment bypasses run end to end through both gates."""

import pytest

from mcp_clickhouse_spark import tools
from mcp_clickhouse_spark.dialect import translate
from mcp_clickhouse_spark.readonly import (
    ReadOnlyViolation,
    check_read_only,
    check_read_only_plan,
)

# Writes that hide behind a literal the gate must end where the engine
# does: ``'a\\'`` is the literal ``a\`` (the backslash escapes the
# backslash, not the quote), Spark's raw literal ``r'a\'`` takes no
# escapes at all, and ``# …`` is a ClickHouse line comment holding a lone
# quote.
BYPASSES = [
    ("spark", "WITH s AS (SELECT 'a\\\\' AS c) INSERT INTO ro_tt SELECT * FROM s"),
    ("spark", "WITH s AS (SELECT r'a\\' AS c) INSERT INTO ro_tt SELECT * FROM s -- '"),
    (
        "clickhouse",
        "WITH s AS (SELECT 'b' AS c) # '\nINSERT INTO ro_tt SELECT * FROM s -- '",
    ),
]


@pytest.mark.parametrize(
    "sql",
    [
        "SELECT 1",
        "select * from users",
        "  WITH x AS (SELECT 1 AS a) SELECT * FROM x",
        "VALUES (1, 2), (3, 4)",
        "SHOW DATABASES",
        "SHOW TABLES IN default",
        "DESCRIBE users",
        "DESC users",
        "EXPLAIN SELECT 1",
        "EXPLAIN EXTENDED SELECT * FROM users",
        "(SELECT 1) UNION ALL (SELECT 2)",
        "-- leading comment\nSELECT 1",
        "/* block */ SELECT 1",
        "SELECT 1;",  # trailing semicolon ok
        "SELECT '; DROP TABLE users' AS s",  # write keyword inside a string
        "SELECT 'a\\\\' AS s, 'x; y' AS t",  # escaped backslash ends the literal
        "SELECT 1 AS a # note; x",  # ClickHouse line comment
        "SELECT r'a\\' AS s, 'x; y' AS t",  # raw literal: no escapes
    ],
)
def test_allowed(sql):
    check_read_only(sql)


@pytest.mark.parametrize(
    "sql",
    [
        "INSERT INTO users VALUES (1)",
        "insert into t select * from users",
        "UPDATE users SET age = 1",
        "DELETE FROM users",
        "DROP TABLE users",
        "CREATE TABLE t (a INT)",
        "CREATE OR REPLACE VIEW v AS SELECT 1",
        "ALTER TABLE users ADD COLUMN x INT",
        "TRUNCATE TABLE users",
        "MERGE INTO t USING s ON t.id = s.id WHEN MATCHED THEN DELETE",
        "SET spark.sql.shuffle.partitions=1",
        "CACHE TABLE users",
        "REFRESH TABLE users",
        "ANALYZE TABLE users COMPUTE STATISTICS",
        "GRANT SELECT ON t TO role",
        "",
        "   ",
        "SELECT 1; DROP TABLE users",  # multi-statement smuggling
        "-- comment\nDROP TABLE users",
        "/* c */ INSERT INTO t VALUES (1)",
        "EXPLAIN INSERT INTO t VALUES (1)",  # EXPLAIN of a write still plans it
        # CTE-prefixed DML: first keyword is WITH but the statement writes
        # (round-1 advisor finding — Spark SQL accepts this shape).
        "WITH s AS (SELECT 99 AS x) INSERT INTO victim SELECT * FROM s",
        "WITH s AS (SELECT 1) DELETE FROM t WHERE id IN (SELECT x FROM s)",
        "WITH s AS (SELECT 1 AS x) UPDATE t SET a = 1",
        "WITH s AS (SELECT 1) MERGE INTO t USING s ON t.id = s.x WHEN MATCHED THEN DELETE",
        "EXPLAIN WITH s AS (SELECT 1) INSERT INTO t SELECT * FROM s",
        *(sql for _dialect, sql in BYPASSES),
    ],
)
def test_rejected(sql):
    with pytest.raises(ReadOnlyViolation):
        check_read_only(sql)


@pytest.mark.parametrize(
    "sql",
    [
        # Write verbs as parts of longer identifiers must not false-positive.
        "SELECT update_time, created_at, delete_flag FROM users",
        "WITH inserted AS (SELECT 1 AS a) SELECT * FROM inserted",
        "SELECT 'INSERT INTO t' AS payload",  # verb inside a string literal
        "SELECT `insert` FROM t",  # quoted identifier is masked
    ],
)
def test_depth0_scan_no_false_positives(sql):
    check_read_only(sql)


def test_replace_function_call_allowed():
    """SELECT replace(col, 'a', 'b') is a builtin call, not REPLACE TABLE —
    the reference allows it under readonly=1 (advisor r2)."""
    check_read_only("SELECT replace(n_name, 'a', 'b') FROM nation")
    check_read_only("SELECT replace (n_name, 'a', 'b') FROM nation")


def test_show_create_table_allowed():
    """SHOW CREATE TABLE is a metadata read (advisor r2)."""
    check_read_only("SHOW CREATE TABLE nation")
    check_read_only("DESCRIBE nation")


def test_cte_insert_still_rejected():
    with pytest.raises(ReadOnlyViolation):
        check_read_only("WITH s AS (SELECT 1) INSERT INTO t SELECT * FROM s")


def test_replace_table_still_rejected():
    with pytest.raises(ReadOnlyViolation):
        check_read_only("REPLACE TABLE t AS SELECT 1")
    with pytest.raises(ReadOnlyViolation):
        check_read_only("WITH s AS (SELECT 1) DELETE FROM t WHERE 1=1")


@pytest.mark.parametrize("dialect, sql", BYPASSES)
def test_plan_gate_sees_through_cte(spark, dialect, sql):
    """The parser-backed gate alone rejects both bypasses: the statement
    under the CTE's ``UnresolvedWith`` is what gets classified."""
    if dialect == "clickhouse":
        sql = translate(sql)
    with pytest.raises(ReadOnlyViolation, match="InsertInto"):
        check_read_only_plan(spark, sql)


@pytest.mark.parametrize("disabled", [None, "check_read_only", "check_read_only_plan"])
@pytest.mark.parametrize("dialect, sql", BYPASSES)
def test_bypass_leaves_table_unchanged(spark, tmp_path, monkeypatch, dialect, sql, disabled):
    """Each gate alone, and both together, stop the write before the
    engine runs it: the target parquet table keeps its rows."""
    spark.sql("DROP TABLE IF EXISTS ro_tt")
    spark.sql(f"CREATE TABLE ro_tt (c STRING) USING parquet LOCATION '{tmp_path}/ro_tt'")
    try:
        spark.sql("INSERT INTO ro_tt VALUES ('seed')")
        if disabled:
            monkeypatch.setattr(tools, disabled, lambda *a: None)
        with pytest.raises(tools.ToolError, match="not allowed"):
            tools.run_select_query(spark, sql, dialect=dialect)
        assert spark.table("ro_tt").count() == 1
    finally:
        spark.sql("DROP TABLE IF EXISTS ro_tt")
