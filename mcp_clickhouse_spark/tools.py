"""The public tool surface — the reference's four tools on Spark
(SURVEY.md §0 'Tool surface', §2.1 Tier A).

  list_databases(like, not_like)           (reference mcp_server.py:124-161)
  list_tables(database, like, not_like, page_token, page_size,
              include_detailed_columns)    (:299-418)
  run_select_query(query, timeout)         (:433-459) → {"columns","rows"}
  run_embedded_select_query(query, timeout) (:543-570) → row-dicts / {"status":"error"}
  health_check()                           (:74-103)

The asymmetric error contract is preserved deliberately (A14): the
ClickHouse-path tool RAISES ToolError, the embedded-path tool RETURNS
{"status": "error", "message": …} — mirroring :428-430 vs :552-567.

Functions are plain importable Python (the reference's tests call them the
same way — tests/test_tool.py:7); MCP transport framing is out of scope
(SURVEY.md §7).
"""

from __future__ import annotations

import logging
import re
from typing import Any, Optional, Sequence, Union

from pyspark.sql import DataFrame, SparkSession

from mcp_clickhouse_spark.catalog import describe_table, list_database_names, list_table_names
from mcp_clickhouse_spark.config import get_mcp_config
from mcp_clickhouse_spark.executor import QueryTimeoutError, run_with_timeout
from mcp_clickhouse_spark.pagination import PageState, consume_token, mint_token
from mcp_clickhouse_spark.readonly import (
    ReadOnlyViolation,
    check_read_only,
    check_read_only_plan,
)

logger = logging.getLogger(__name__)

Patterns = Union[str, Sequence[str], None]


class ToolError(Exception):
    """Error surfaced to the tool caller (the reference's fastmcp ToolError)."""


def _as_list(p: Patterns) -> list[str]:
    if p is None:
        return []
    if isinstance(p, str):
        return [p]
    return list(p)


def _like_to_regex(pattern: str) -> str:
    """SQL LIKE (%, _) → anchored regex, for name filtering without a
    DataFrame round-trip. Semantics match Column.like (A2/A3; known-hard #5)."""
    out = []
    for ch in pattern:
        if ch == "%":
            out.append(".*")
        elif ch == "_":
            out.append(".")
        else:
            out.append(re.escape(ch))
    return "^" + "".join(out) + "$"


def _apply_like_filters(names: list[str], like: Patterns, not_like: Patterns) -> list[str]:
    """Multi-pattern LIKE (OR) and NOT LIKE (AND) — reference :146-155."""
    likes = [_like_to_regex(p) for p in _as_list(like)]
    not_likes = [_like_to_regex(p) for p in _as_list(not_like)]
    out = []
    for n in names:
        if likes and not any(re.match(rx, n) for rx in likes):
            continue
        if not_likes and any(re.match(rx, n) for rx in not_likes):
            continue
        out.append(n)
    return out


# --- list_databases (A1-A4) -------------------------------------------------


def list_databases(spark: SparkSession, like: Patterns = None, not_like: Patterns = None):
    """JSON-ready list of database names, with LIKE/NOT LIKE filters."""
    names = list_database_names(spark)
    return _apply_like_filters(sorted(names), like, not_like)


# --- list_tables (A5-A10) ---------------------------------------------------


def list_tables(
    spark: SparkSession,
    database: str = "default",
    like: Patterns = None,
    not_like: Patterns = None,
    page_token: Optional[str] = None,
    page_size: int = 50,
    include_detailed_columns: bool = True,
) -> dict[str, Any]:
    """Paginated table listing with single-use TTL page tokens.

    Token lifecycle mirrors the reference exactly: single-use, parameter
    mismatch → restart page 1, expired/unknown → restart page 1 (A10).
    """
    state: PageState | None = None
    if page_token:
        state = consume_token(page_token, database, like, not_like, include_detailed_columns)
    if state is None:
        names = _apply_like_filters(list_table_names(spark, database), like, not_like)
        start_idx = 0
    else:
        names = state.table_names
        start_idx = state.start_idx

    page_names = names[start_idx : start_idx + page_size]
    tables = []
    for name in page_names:
        tb = describe_table(spark, database, name)
        if not include_detailed_columns:
            tb.columns = []  # payload trimming (A8, reference :259-261)
        tables.append(tb.to_dict())

    next_token = None
    if start_idx + page_size < len(names):
        next_token = mint_token(
            PageState(
                database=database,
                table_names=names,
                start_idx=start_idx + page_size,
                like=like,
                not_like=not_like,
                include_detailed_columns=include_detailed_columns,
            )
        )
    return {
        "tables": tables,
        "next_page_token": next_token,
        "total_tables": len(names),
    }


# --- run_select_query (A11-A14, ClickHouse-path contract) -------------------


def _apply_settings(
    query: str, dialect: str, timeout_secs: float | None
) -> tuple[str, float]:
    """Resolve the call's timeout and translate a ClickHouse ``SETTINGS``
    clause into engine behavior.

    The timeout is ``timeout_secs`` when given, else MCP_SPARK_QUERY_TIMEOUT;
    ``max_execution_time`` (seconds) can only tighten it, ``readonly`` ≥1 is
    the engine's permanent contract (no-op), and anything else is stripped
    with a ``UserWarning`` — visible, not silent."""
    if timeout_secs is None:
        timeout_secs = get_mcp_config().query_timeout
    if dialect != "clickhouse":
        return query, timeout_secs
    import warnings

    from mcp_clickhouse_spark.dialect import extract_settings

    query, settings = extract_settings(query)
    for k, v in settings.items():
        if k == "max_execution_time":
            try:
                t = float(v)
            except ValueError:
                warnings.warn(f"SETTINGS max_execution_time={v!r} is not a number; ignored")
                continue
            if t > 0:
                timeout_secs = min(timeout_secs, t)
        elif k == "readonly":
            if v.strip() not in ("1", "2"):
                warnings.warn(
                    "SETTINGS readonly=0 ignored — this engine is always read-only"
                )
        else:
            warnings.warn(f"ClickHouse setting {k!r} has no Spark equivalent; ignored")
    return query, timeout_secs


def _execute(spark: SparkSession, query: str, dialect: str = "spark") -> DataFrame:
    check_read_only(query)
    # ClickHouse-style table functions in FROM position (file/url/s3/hdfs/
    # sqlite/numbers — chdb_prompt.py:28-60) bind to views/inline rewrites
    # BEFORE dialect translation, in both dialects (Spark SQL has none).
    from mcp_clickhouse_spark.sources.system_tables import bind_system_tables, snapshot
    from mcp_clickhouse_spark.sources.table_functions import bind_sql_table_functions

    # CH SHOW PROCESSLIST == SELECT * FROM system.processes (round 17,
    # wave O); rewrite before binding so the view registrar fires
    if re.match(r"(?is)^\s*SHOW\s+PROCESSLIST\s*;?\s*$", query):
        query = "SELECT * FROM system.processes"
    query = bind_sql_table_functions(spark, query)
    # CH system.* introspection tables (one/numbers/tables/databases/
    # columns/functions/settings/processes) bind to point-in-time
    # catalog views, both dialects
    query = bind_system_tables(spark, query)
    if dialect == "clickhouse":
        from mcp_clickhouse_spark.dialect import translate

        # CH `EXISTS [TEMPORARY] [TABLE|DICTIONARY|DATABASE] name` →
        # one row, UInt8 `result` (reference surface; Spark has no
        # EXISTS statement and its parse error pointed at the keyword).
        # Answered from the catalog: databaseExists for DATABASE,
        # tableExists otherwise (dictionaries don't exist here — the
        # honest 0).  The bare `EXISTS name` spelling is TABLE.
        me = re.match(
            r"(?is)^\s*EXISTS\s+(?:TEMPORARY\s+)?"
            r"(?:(TABLE|DICTIONARY|DATABASE)\s+)?"
            r"(`[^`]+`|[A-Za-z_]\w*(?:\.(?:`[^`]+`|\w+))?)"
            r"\s*(?:FORMAT\s+\w+\s*)?;?\s*$",
            query,
        )
        if me:
            kind = (me.group(1) or "TABLE").upper()
            name = me.group(2).replace("`", "")
            if kind == "DATABASE":
                ok = spark.catalog.databaseExists(name)
            elif kind == "DICTIONARY":
                ok = False
            else:
                try:
                    ok = spark.catalog.tableExists(name)
                except Exception:  # noqa: BLE001 — malformed name → 0
                    ok = False
            return snapshot(spark, [(1 if ok else 0,)], "result tinyint")

        ms = re.match(r"(?is)^\s*EXPLAIN\s+SYNTAX\b", query)
        if ms:
            # CH EXPLAIN SYNTAX shows the rewritten query — here, the
            # Spark SQL the dialect layer produces (round 7)
            return snapshot(
                spark, [(translate(query[ms.end() :]).strip(),)], "query string"
            )
        query = translate(query)
        # Python-UDF-backed helpers (murmurHash3_64, hypothesis-test
        # p-values) register lazily — only queries that use them pay
        from mcp_clickhouse_spark.functions import register_lazy_udfs

        register_lazy_udfs(spark, query)
    # Defense in depth: Spark's own parser classifies the (translated)
    # statement; non-query plans are rejected before execution.
    check_read_only_plan(spark, query)
    return spark.sql(query)


def run_select_query(
    spark: SparkSession,
    query: str,
    timeout_secs: float | None = None,
    dialect: str = "spark",
) -> dict[str, Any]:
    """Read-only SQL → {"columns": [...], "rows": [[...], ...]}.

    ``dialect="clickhouse"`` pre-translates ClickHouse SELECT syntax
    (dialect.py) — the mode in which this engine accepts the reference's
    query language directly. Raises ToolError on failure/timeout (the
    ClickHouse-path error shape, reference :428-430, :451-454).
    """
    query, timeout_secs = _apply_settings(query, dialect, timeout_secs)
    try:
        df_rows = run_with_timeout(
            spark,
            lambda: _collect(spark, query, dialect),
            timeout_secs=timeout_secs,
        )
    except QueryTimeoutError as e:
        raise ToolError(str(e)) from None
    except ToolError:
        raise
    except (ReadOnlyViolation, Exception) as e:  # noqa: BLE001 — contract shape
        raise ToolError(
            f"Query execution failed: {_with_dialect_hint(e, dialect)}"
        ) from None
    return df_rows


def _with_dialect_hint(e: Exception, dialect: str) -> str:
    """Append a ClickHouse-context hint to Spark error classes whose
    fix is dialect knowledge the raw message cannot carry.  The one
    mapping so far (round 17, wave M): CH numeric RANGE-frame offsets
    over a DateTime ORDER BY mean SECONDS (DateTime is unix-seconds),
    but Spark demands an interval literal for timestamp range frames —
    untranslatable at text level because the ORDER BY type is unknown
    until analysis.  Numeric offsets over Date ORDER BY are days in
    both engines and pass through untouched."""
    msg = str(e)
    if dialect == "clickhouse" and "RANGE_FRAME_INVALID_TYPE" in msg:
        msg += (
            " [hint: ClickHouse numeric RANGE offsets over a DateTime"
            " ORDER BY are SECONDS; write the frame as RANGE BETWEEN"
            " INTERVAL n SECOND PRECEDING AND CURRENT ROW here —"
            " numeric offsets over a Date ORDER BY are days and work"
            " unchanged]"
        )
    return msg


def _collect(spark: SparkSession, query: str, dialect: str = "spark") -> dict[str, Any]:
    df = _execute(spark, query, dialect)
    rows = df.collect()
    return {"columns": list(df.columns), "rows": [list(r) for r in rows]}


# --- run_embedded_select_query (chDB-path contract) -------------------------


def run_embedded_select_query(
    spark: SparkSession,
    query: str,
    timeout_secs: float | None = None,
    dialect: str = "spark",
):
    """Read-only SQL → list of row-dicts; errors RETURN
    {"status": "error", "message": ...} (the chDB-path contract,
    reference :520-540, :552-567). Empty result → []."""
    query, timeout_secs = _apply_settings(query, dialect, timeout_secs)
    try:
        return run_with_timeout(
            spark,
            lambda: [
                r.asDict(recursive=True) for r in _execute(spark, query, dialect).collect()
            ],
            timeout_secs=timeout_secs,
        )
    except Exception as e:  # noqa: BLE001 — contract: never raise on this path
        msg = _with_dialect_hint(e, dialect)
        if not isinstance(e, QueryTimeoutError):
            msg = f"Query execution failed: {msg}"
        return {"status": "error", "message": msg}


# --- health (A16) -----------------------------------------------------------


def health_check(spark: SparkSession) -> dict[str, Any]:
    """200-style dict with the engine version, or 503-style on failure
    (reference :74-103)."""
    try:
        spark.sql("SELECT 1").collect()
        return {"status": 200, "message": f"OK - Connected to Spark {spark.version}"}
    except Exception as e:  # noqa: BLE001
        return {"status": 503, "message": f"Health check failed: {e}"}
