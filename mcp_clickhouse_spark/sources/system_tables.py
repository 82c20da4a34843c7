"""ClickHouse ``system.*`` introspection tables for verbatim SQL (round 7).

CH users write ``SELECT name FROM system.tables``/``system.databases``/
``system.columns``, ``SELECT dummy FROM system.one``, ``SELECT number
FROM system.numbers LIMIT n`` constantly (the reference's own prompt
teaches these — mcp_clickhouse/chdb_prompt.py).  Spark has no ``system``
database, so the tool layer binds them on demand:

- references to ``system.<name>`` in the SQL code (never in a quoted span
  or a comment) rewrite to ``_system_<name>`` temp views;
- each view materializes a point-in-time snapshot from the Spark catalog
  via the same code paths the MCP catalog tools use (catalog.py), with
  CH's documented column names;
- ``system.numbers`` binds to a lazy ``spark.range`` — effectively
  unbounded (2^40 rows) but generated on demand, so ``LIMIT n`` reads
  only what it needs (Spark's limit short-circuits range generation);
  an unbounded aggregate over it is the user's own foot-gun, exactly as
  on ClickHouse.

Snapshot semantics: the catalog views are rebuilt per query — a table
created between two queries appears in the second, like CH.
"""

from __future__ import annotations

import re as _re
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import _parse_datatype_string

from mcp_clickhouse_spark.sqltext import Scan

_SYSTEM_RE = _re.compile(r"(?i)\bsystem\s*\.\s*(one|numbers|numbers_mt|tables|databases|columns|functions|settings|processes)\b")

_NUMBERS_CAP = 1 << 40

# The catalog sweep's pool, kept for the process: each new thread opens its
# own py4j connection and JVM thread, so with a pool built per query a
# 10-table sweep cost 152 ms of CPU (median; 49 ms wall), against 117 ms
# (36 ms wall) with one kept pool (local[4], 12 interleaved rounds).
# Not executor.QUERY_EXECUTOR: the sweep already runs on one of its workers,
# so ten concurrent catalog queries could wait there on each other forever.
_SWEEP_POOL = ThreadPoolExecutor(max_workers=8, thread_name_prefix="catalog-sweep")


def bind_system_tables(spark: SparkSession, sql: str) -> str:
    """Rewrite ``system.<t>`` references to bound temp views (no-op when
    the query mentions none)."""
    hits = list(_SYSTEM_RE.finditer(Scan(sql).code_text))
    if not hits:
        return sql
    needed = {m.group(1).lower() for m in hits}
    if "numbers_mt" in needed:
        needed.discard("numbers_mt")
        needed.add("numbers")
    if needed & {"tables", "columns"}:
        # one catalog sweep builds BOTH views — a query joining
        # system.tables with system.columns must not describe the whole
        # catalog twice (round-7 review finding)
        _reg_catalog(spark)
        needed -= {"tables", "columns"}
    for name in needed:
        _REGISTRARS[name](spark)
    out = []
    last = 0
    for m in hits:
        out.append(sql[last : m.start()])
        t = m.group(1).lower()
        out.append(f"_system_{'numbers' if t == 'numbers_mt' else t}")
        last = m.end()
    out.append(sql[last:])
    return "".join(out)


def snapshot(spark: SparkSession, rows: list[tuple], ddl: str) -> DataFrame:
    """A small result built in Python, as a JVM ``LocalRelation`` (built from
    Arrow; Python rows would plan a Python RDD scan, run by Python workers).
    Collected as it is, it runs no Spark job."""
    schema = to_arrow_schema(_parse_datatype_string(ddl))
    return spark.createDataFrame(
        pa.Table.from_pylist([dict(zip(schema.names, r)) for r in rows], schema=schema)
    )


def _catalog_view(df: DataFrame, name: str) -> None:
    """Register a catalog snapshot as one partition: its SinglePartition
    output satisfies every aggregate, sort and window, so a GROUP BY or
    ORDER BY over it plans no exchange and runs one job (four over the bare
    LocalRelation).  A plain filter-select pays one job where the bare
    LocalRelation ran none, so system.one and direct results stay bare."""
    df.coalesce(1).createOrReplaceTempView(name)


def _reg_one(spark: SparkSession) -> None:
    snapshot(spark, [(0,)], "dummy tinyint").createOrReplaceTempView("_system_one")


def _reg_numbers(spark: SparkSession) -> None:
    spark.range(_NUMBERS_CAP).selectExpr("id AS number").createOrReplaceTempView(
        "_system_numbers"
    )


def _reg_databases(spark: SparkSession) -> None:
    from mcp_clickhouse_spark.catalog import list_database_names

    rows = [(d, "Atomic") for d in list_database_names(spark)]
    _catalog_view(snapshot(spark, rows, "name string, engine string"), "_system_databases")


def _reg_catalog(spark: SparkSession) -> None:
    """One describe_table sweep materializes BOTH _system_tables and
    _system_columns."""
    from mcp_clickhouse_spark.catalog import (
        describe_table,
        list_database_names,
        list_table_names,
    )

    names = [
        (db, name)
        for db in list_database_names(spark)
        for name in list_table_names(spark, db)
        if not name.startswith(("_system_", "_tf_"))
        # our own bound views are not user tables
    ]
    # A describe costs ~30 ms for a temp view and ~95 ms for a catalog
    # table (SHOW CREATE + DESCRIBE EXTENDED) on 4 cores, so a serial
    # sweep is O(tables) round-trips; a 300-view session once blew the
    # 30 s tool timeout (round 17).  Catalog reads are thread-safe (the
    # executor layer already runs 10 concurrent queries), so the sweep
    # fans out — same values, same order (map preserves it), ~8× less
    # wall-clock.
    described = list(
        _SWEEP_POOL.map(lambda p: describe_table(spark, p[0], p[1]), names)
    )
    trows = []
    crows = []
    for (db, name), t in zip(names, described):
        trows.append(
            (db, name, t.engine, t.engine_full, t.sorting_key,
             t.primary_key, t.create_table_query, t.comment)
        )
        for pos, c in enumerate(t.columns, start=1):
            crows.append((db, name, c.name, c.column_type, pos, c.comment))
    _catalog_view(snapshot(
        spark, trows,
        "database string, name string, engine string, engine_full string, "
        "sorting_key string, primary_key string, create_table_query string, "
        "comment string",
    ), "_system_tables")
    _catalog_view(snapshot(
        spark, crows,
        "database string, table string, name string, type string, "
        "position int, comment string",
    ), "_system_columns")


def _reg_functions(spark: SparkSession) -> None:
    """CH ``system.functions`` (round 17, wave O): one row per function
    name this dialect resolves — the union of the rename map, the
    templates, and the parametric registry (~1,700 names), plus Spark's
    own catalog functions (reachable verbatim through the translator).
    Names are stored lowercase and matched case-insensitively here
    (``case_insensitive = 1``) — the translator lowercases lookups, so
    every casing works, unlike CH's mostly case-sensitive registry
    (documented delta).  ``is_aggregate`` is set for the known
    aggregate bases and their combinator chains (suffix heuristic over
    the registered chain spellings)."""
    from mcp_clickhouse_spark import dialect as _d
    from mcp_clickhouse_spark.catalog import list_function_names

    agg_bases = set(_d._ORNULL_BASES) | set(_d._IF_ABLE_AGG_BASES) | {
        "count", "sum", "avg", "min", "max", "any", "anylast", "median",
        "argmax", "argmin", "topk", "topkweighted", "summap", "minmap",
        "maxmap", "grouparray", "groupuniqarray", "grouparraysorted",
        "grouparraylast", "rankcorr", "boundingratio",
        "simplelinearregression", "maxintersections",
        "intervallengthsum",
    }
    suffixes = ("if", "ornull", "ordefault", "map", "distinct", "foreach",
                "resample", "array", "simplestate", "argmin", "argmax",
                "merge", "state")

    def is_agg(n: str) -> int:
        if n in agg_bases:
            return 1
        for s in suffixes:
            if n.endswith(s) and n[: -len(s)] in agg_bases:
                return 1
        return 0

    names = sorted(
        set(_d.NAME_MAP) | set(_d.TEMPLATES) | set(_d.PARAMETRIC)
    )
    rows = [(n, is_agg(n), 1, "", "dialect") for n in names]
    seen = set(names)
    for n in list_function_names(spark):
        n = n.lower()
        if n not in seen:
            seen.add(n)
            rows.append((n, 0, 1, "", "spark"))
    _catalog_view(snapshot(
        spark, rows,
        "name string, is_aggregate tinyint, case_insensitive tinyint, "
        "alias_to string, origin string",
    ), "_system_functions")


def _reg_settings(spark: SparkSession) -> None:
    """CH ``system.settings`` → the session's Spark SQL confs
    (``SET -v``: key, value, meaning).  ``changed`` is 0 — Spark does
    not track the default-vs-set distinction per key at this API."""
    spark.sql("SET -v").selectExpr(
        "key AS name",
        "value",
        "CAST(0 AS TINYINT) AS changed",
        "meaning AS description",
    ).createOrReplaceTempView("_system_settings")


def _reg_processes(spark: SparkSession) -> None:
    """CH ``system.processes`` / SHOW PROCESSLIST: an EMPTY typed
    result — this engine is in-process (no server accepting other
    clients' queries); concurrent work within the session is visible
    through the Spark UI / status tracker, which carries job groups,
    not SQL texts."""
    snapshot(
        spark, [],
        "query_id string, user string, elapsed double, query string",
    ).createOrReplaceTempView("_system_processes")


_REGISTRARS = {
    "one": _reg_one,
    "numbers": _reg_numbers,
    "databases": _reg_databases,
    "functions": _reg_functions,
    "settings": _reg_settings,
    "processes": _reg_processes,
}
