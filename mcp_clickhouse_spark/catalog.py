"""Catalog metadata: the reference's Table/Column dataclasses realized over
spark.catalog (SURVEY.md §1.1-1.2, §2.1 A5-A7).

Field mapping (reference mcp_clickhouse/mcp_server.py:26-55):
  engine                → table provider/type (e.g. 'parquet', 'VIEW')
  create_table_query    → SHOW CREATE TABLE output (views/tables) or ''
  sorting_key/primary_key → '' (no MergeTree equivalent; bucket/sort spec
                            would go here for bucketed tables)
  total_rows/total_bytes → catalog stats when computed, else None
  parts/active_parts     → backing file count for external tables, else None
  total_marks            → None (no mark index in Spark)

The reference's N+1 per-table column query loop (:246-258) is collapsed
(§4.1 'improve'): each catalog question is one JVM round-trip. Listings are
one SHOW DATABASES / SHOW TABLES / SHOW FUNCTIONS; a describe takes its
columns from the DataFrame schema (one JSON transfer). Measured on 4 cores, a
temp-view describe costs ~30 ms and a catalog-table describe ~95 ms (SHOW
CREATE TABLE and DESCRIBE EXTENDED take ~28 ms each). PySpark's
``Catalog.list*`` is not used: it pays one Py4J call per attribute of every
result (a table listing ~175 ms where SHOW TABLES takes 35 ms).
"""

from __future__ import annotations

from dataclasses import asdict, dataclass, field
from typing import Any, List, Optional

from pyspark.sql import SparkSession


@dataclass
class Column:
    database: str
    table: str
    name: str
    column_type: str
    default_kind: Optional[str] = None
    default_expression: Optional[str] = None
    comment: Optional[str] = None

    def to_dict(self) -> dict[str, Any]:
        return asdict(self)


@dataclass
class Table:
    database: str
    name: str
    engine: str = ""
    create_table_query: str = ""
    dependencies_database: str = ""
    dependencies_table: str = ""
    engine_full: str = ""
    sorting_key: str = ""
    primary_key: str = ""
    total_rows: Optional[int] = None
    total_bytes: Optional[int] = None
    total_bytes_uncompressed: Optional[int] = None
    parts: Optional[int] = None
    active_parts: Optional[int] = None
    total_marks: Optional[int] = None
    comment: Optional[str] = None
    columns: List[Column] = field(default_factory=list)

    def to_dict(self) -> dict[str, Any]:
        d = asdict(self)
        d["columns"] = [asdict(c) if not isinstance(c, dict) else c for c in self.columns]
        return d


def quote_ident(*parts: str) -> str:
    """Backtick-quote each part of a (multi-part) name for catalog SQL; a
    temp view may be named ``we`ird`` or ``my-view``."""
    return ".".join("`" + p.replace("`", "``") + "`" for p in parts)


def list_database_names(spark: SparkSession) -> list[str]:
    return [r.namespace for r in spark.sql("SHOW DATABASES").collect()]


def show_tables(spark: SparkSession, database: Optional[str] = None) -> list[tuple[str, bool]]:
    """(name, is_temporary) of every table and view in ``database`` (the
    current one when None). Session temp views are listed under every
    database, as in the reference's system.tables scan (:188)."""
    sql = "SHOW TABLES" if database is None else f"SHOW TABLES IN {quote_ident(database)}"
    return [(r.tableName, r.isTemporary) for r in spark.sql(sql).collect()]


def list_table_names(spark: SparkSession, database: str) -> list[str]:
    return sorted(name for name, _ in show_tables(spark, database))


def list_function_names(spark: SparkSession) -> list[str]:
    """Builtin, temporary and current-database functions. SHOW FUNCTIONS
    qualifies a persistent one (``spark_catalog.default.f``); keep the bare
    name, as the function listing of ``Catalog.list*`` does."""
    return [r.function.rsplit(".", 1)[-1] for r in spark.sql("SHOW FUNCTIONS").collect()]


def _attach_stats(spark: SparkSession, ref: str, table: Table) -> None:
    """Fill the MergeTree-analog physical metadata of a catalog table:
    total_rows/total_bytes from catalog statistics (populated by ANALYZE
    TABLE … COMPUTE STATISTICS), the bucket-sort layout, the provider."""
    import re as _re

    try:
        rows = spark.sql(f"DESCRIBE EXTENDED {ref}").collect()
    except Exception:
        return
    provider = num_buckets = None
    for r in rows:
        if r[0] == "Statistics":
            m = _re.search(r"(\d+)\s+bytes(?:,\s*(\d+)\s+rows)?", r[1] or "")
            if m:
                table.total_bytes = int(m.group(1))
                if m.group(2):
                    table.total_rows = int(m.group(2))
        elif r[0] == "Sort Columns":
            # bucketed-table sort spec — the closest Spark analog of
            # MergeTree's sorting_key (reference Table.sorting_key,
            # mcp_server.py:46-48)
            table.sorting_key = (r[1] or "").strip("[]").replace("`", "")
        elif r[0] == "Bucket Columns":
            table.primary_key = (r[1] or "").strip("[]").replace("`", "")
        elif r[0] == "Provider":
            provider = (r[1] or "").strip()
        elif r[0] == "Num Buckets":
            num_buckets = (r[1] or "").strip()
    if provider:
        # engine = the storage provider (the MergeTree-analog slot:
        # reference Table.engine, mcp_server.py:30); engine_full adds the
        # managed/external type and the bucket-sort layout the way CH's
        # engine_full carries the ORDER BY/SETTINGS tail.
        ttype = table.engine  # tableType set by describe_table before this
        table.engine = provider
        full = f"{provider} {ttype}".strip()
        if table.primary_key:
            full += f" CLUSTERED BY ({table.primary_key})"
            if table.sorting_key:
                full += f" SORTED BY ({table.sorting_key})"
            if num_buckets:
                full += f" INTO {num_buckets} BUCKETS"
        table.engine_full = full


def describe_table(spark: SparkSession, database: str, name: str) -> Table:
    table = Table(database=database, name=name)
    # A catalog table wins over a session temp view of the same name.
    ref = next(
        (q for q in (quote_ident(database, name), quote_ident(name)) if spark.catalog.tableExists(q)),
        None,
    )
    if ref is None:
        return table
    meta = spark.catalog.getTable(ref)
    table.engine = table.engine_full = meta.tableType or ""
    table.comment = meta.description
    # A temp view has no DDL (SHOW CREATE TABLE raises
    # EXPECT_PERMANENT_VIEW_NOT_TEMP) and DESCRIBE EXTENDED gives only its
    # column rows.
    if not meta.isTemporary:
        try:
            table.create_table_query = spark.sql(f"SHOW CREATE TABLE {ref}").collect()[0][0]
        except Exception:
            pass
        _attach_stats(spark, ref, table)
    try:
        df = spark.table(ref)
        table.columns = [  # one JSON schema transfer for every column
            Column(
                database=database,
                table=name,
                name=f.name,
                column_type=f.dataType.simpleString(),
                comment=f.metadata.get("comment"),
            )
            for f in df.schema
        ]
        table.parts = table.active_parts = len(df.inputFiles())
    except Exception:
        pass  # e.g. a view whose source table was dropped
    return table
