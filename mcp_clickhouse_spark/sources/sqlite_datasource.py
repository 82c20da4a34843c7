"""SQLite as a PySpark Python Data Source (Spark 4.1 API).

The reference promises ``sqlite(path, table)`` in its chDB mode
(reference chdb_prompt.py:53-55).  There is no sqlite-jdbc jar here, but
CPython ships ``sqlite3``, so this source reads the real database file and
is the one SQLite reader: ``table_functions.sqlite()`` and
``FROM sqlite('db', 't')`` in SQL both go through it.

  - driver: ``schema()`` reads the table's columns (``PRAGMA table_info``);
    ``partitions()`` reads the min/max rowid of the rows that pass the
    pushed filters — metadata only, no row data;
  - executors: each task opens the file read-only (URI mode) and scans its
    own half-open rowid range.  rowid predicates are index-backed in SQLite,
    so N tasks do N disjoint range scans — the same parallelism contract as
    Spark's JDBC ``partitionColumn``/``numPartitions``.

Predicate pushdown: Catalyst hands the reader its filters via
``DataSourceReader.pushFilters`` (needs
``spark.sql.python.filterPushdown.enabled``, which the served session sets).
The translatable subset (comparisons, IN, IS NULL, prefix/suffix/contains,
NOT) becomes a SQL WHERE clause evaluated inside SQLite — a numeric
comparison is index-backed when the column is indexed — and only the
untranslatable remainder is re-checked by Spark, so each pushed fragment
must keep exactly the rows Spark would (see ``_translate``).

Usage:
    spark.dataSource.register(SqliteDataSource)
    df = (spark.read.format("sqlite")
          .option("path", "/data/app.db").option("table", "events").load())
    df.where("user_id = 7")   # WHERE user_id = 7 runs inside SQLite

Column pruning: Spark 4.1's PythonScanBuilder implements only
SupportsPushDownFilters (verified via javap — no
SupportsPushDownRequiredColumns), so Catalyst always hands ``reader()`` the
full table schema and automatic pruning is impossible at this API level.
The reader therefore (a) SELECTs exactly the schema it is given — if a
future Spark prunes, the SQL narrows for free — and (b) honors an explicit
``columns`` option ("a,b") so callers can bound SQLite→Arrow transfer today.
A ``traceFile`` option appends each executor-side SELECT for test assertions.

Scale notes: a SQLite file is a single-host artifact, so this source's
ceiling is the host's I/O — same as any JDBC single-endpoint read.  Ranges
bound per-task work, pushdown bounds per-task I/O.
"""

from __future__ import annotations

import math
import sqlite3
from dataclasses import dataclass
from typing import Iterator

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    Not,
    StringContains,
    StringEndsWith,
    StringStartsWith,
)

_AFFINITY_TO_SPARK = (
    ("INT", T.LongType()),
    ("CHAR", T.StringType()),
    ("CLOB", T.StringType()),
    ("TEXT", T.StringType()),
    ("BLOB", T.BinaryType()),
    ("REAL", T.DoubleType()),
    ("FLOA", T.DoubleType()),
    ("DOUB", T.DoubleType()),
    ("BOOL", T.BooleanType()),
    ("DATE", T.StringType()),  # SQLite stores dates as text/num — keep faithful
    ("NUM", T.DoubleType()),
)


def _spark_type(decl: str) -> T.DataType:
    decl = (decl or "").upper()
    for marker, t in _AFFINITY_TO_SPARK:
        if marker in decl:
            return t
    return T.StringType()  # SQLite's fallback affinity is TEXT-ish; stay lossless


def _quote(ident: str) -> str:
    if not ident.replace("_", "").isalnum():
        raise ValueError(f"invalid sqlite identifier {ident!r}")
    return f'"{ident}"'


@dataclass
class _RowidRange(InputPartition):
    lo: int
    hi: int  # half-open


def _sql_literal(v) -> str | None:
    """A filter value as a SQLite literal, or None when SQLite would not
    compare it as Spark does (bytes; inf/nan, which SQLite has no literal for)."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "1" if v else "0"
    if isinstance(v, int) or (isinstance(v, float) and math.isfinite(v)):
        return repr(v)
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    return None


_COMPARISONS = {
    EqualTo: "=",
    GreaterThan: ">",
    GreaterThanOrEqual: ">=",
    LessThan: "<",
    LessThanOrEqual: "<=",
}


def _translate(f: Filter) -> str | None:
    """One filter → SQLite WHERE fragment that keeps exactly the rows Spark
    would keep, or None if there is no such fragment.

    SQLite compares text by the column's declared collation (NOCASE ignores
    case), applies its type affinity to the literal, and its LIKE ignores
    ASCII case — all unlike Spark.  So a string comparison reads the
    column as text under BINARY collation, and the prefix/suffix/contains
    tests use ``substr``/``instr``, which compare exact characters."""
    if isinstance(f, Not):
        inner = _translate(f.child)
        return f"NOT ({inner})" if inner else None
    attr = getattr(f, "attribute", None)
    if not attr or len(attr) != 1:  # nested columns can't exist in SQLite
        return None
    col = _quote(attr[0])
    if isinstance(f, IsNull):
        return f"{col} IS NULL"
    if isinstance(f, IsNotNull):
        return f"{col} IS NOT NULL"
    if isinstance(f, (StringStartsWith, StringEndsWith, StringContains)):
        lit = _sql_literal(f.value)
        if lit is None:
            return None
        if isinstance(f, StringContains):
            return f"instr({col}, {lit}) > 0"
        if not f.value:  # every non-NULL string starts and ends with ''
            return f"{col} IS NOT NULL"
        n = len(f.value)
        if isinstance(f, StringStartsWith):
            return f"substr({col}, 1, {n}) = {lit}"
        return f"substr({col}, -{n}) = {lit}"
    if isinstance(f, In):
        values = list(f.value)
    elif type(f) in _COMPARISONS:
        values = [f.value]
    else:
        return None
    lits = [_sql_literal(v) for v in values]
    if None in lits:
        return None
    if any(isinstance(v, str) for v in values):
        col = f"CAST({col} AS TEXT) COLLATE BINARY"
    if isinstance(f, In):
        return f"{col} IN ({', '.join(lits)})"
    return f"{col} {_COMPARISONS[type(f)]} {lits[0]}"


class SqliteDataSource(DataSource):
    """format name: ``sqlite`` — options: path, table, numPartitions."""

    @classmethod
    def name(cls) -> str:
        return "sqlite"

    def schema(self) -> T.StructType:
        path, table = self.options["path"], self.options["table"]
        with sqlite3.connect(f"file:{path}?mode=ro", uri=True) as con:
            cols = con.execute(f"PRAGMA table_info({_quote(table)})").fetchall()
        if not cols:
            raise ValueError(f"sqlite table {table!r} not found in {path}")
        want = [c.strip() for c in str(self.options.get("columns", "")).split(",") if c.strip()]
        if want:
            by_name = {c[1]: c for c in cols}
            missing = [c for c in want if c not in by_name]
            if missing:
                raise ValueError(f"sqlite columns {missing} not in table {table!r}")
            cols = [by_name[c] for c in want]
        return T.StructType([T.StructField(c[1], _spark_type(c[2]), True) for c in cols])

    def reader(self, schema: T.StructType) -> "SqliteReader":
        return SqliteReader(self.options, schema)


class SqliteReader(DataSourceReader):
    def __init__(self, options, schema: T.StructType):
        self.path = options["path"]
        self.table = options["table"]
        self.n_parts = int(options.get("numPartitions", 8) or 8)
        # `schema` is whatever Spark asks this reader to produce; read() SELECTs
        # exactly these columns, so a pruned ask never transfers extra columns
        # out of SQLite. A `columns` option narrows it further explicitly.
        want = [c.strip() for c in str(options.get("columns", "")).split(",") if c.strip()]
        names = [f.name for f in schema.fields]
        self.columns = [c for c in names if c in want] if want else names
        # SQLite has no boolean storage class: a BOOL column holds 0/1
        # integers, which Arrow refuses for a boolean field.
        bools = {f.name for f in schema.fields if isinstance(f.dataType, T.BooleanType)}
        self.bool_at = [k for k, c in enumerate(self.columns) if c in bools]
        # Debug/test hook: append every executor-side SELECT to this file so
        # tests can assert what actually ran inside SQLite (pushdown, pruning).
        self.trace_file = options.get("traceFile") or None
        self.where: list[str] = []

    def _trace(self, sql: str) -> None:
        if self.trace_file:
            with open(self.trace_file, "a") as fh:
                fh.write(sql + "\n")

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        for f in filters:
            frag = _translate(f)
            if frag is None:
                yield f  # Spark re-evaluates what SQLite can't
            else:
                self.where.append(frag)

    def partitions(self) -> list[_RowidRange]:
        qtable = _quote(self.table)
        cond = (" AND " + " AND ".join(self.where)) if self.where else ""
        with sqlite3.connect(f"file:{self.path}?mode=ro", uri=True) as con:
            lo, hi = con.execute(
                f"SELECT min(rowid), max(rowid) FROM {qtable} WHERE 1=1{cond}"
            ).fetchone()
        if lo is None:
            return [_RowidRange(0, 0)]
        step = max(1, (hi - lo + 1) // self.n_parts)
        out, start = [], lo
        while start <= hi:
            end = hi + 1 if start + step > hi else start + step
            out.append(_RowidRange(start, end))
            start = end
        return out

    def read(self, partition: _RowidRange):
        if partition.hi <= partition.lo:
            return
        sel = ", ".join(_quote(c) for c in self.columns) if self.columns else "1"
        cond = (" AND " + " AND ".join(self.where)) if self.where else ""
        sql = (
            f"SELECT {sel} FROM {_quote(self.table)}"
            f" WHERE rowid >= ? AND rowid < ?{cond}"
        )
        self._trace(sql)
        with sqlite3.connect(f"file:{self.path}?mode=ro", uri=True) as con:
            rows = con.execute(sql, (partition.lo, partition.hi))
            if not self.bool_at:
                yield from rows
                return
            for row in rows:
                row = list(row)
                for k in self.bool_at:
                    if row[k] is not None:
                        row[k] = bool(row[k])
                yield tuple(row)
