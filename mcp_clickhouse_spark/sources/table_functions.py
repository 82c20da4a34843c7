"""Table-function analogs: query data in place, wherever it lives.

The reference's chDB mode promises `file()`, `url()`, `s3()`, `hdfs()`,
`postgresql()`, `mysql()`, `sqlite()` table functions with format
auto-detection (reference mcp_clickhouse/chdb_prompt.py:28-60). Spark's
readers provide the same reach; this module is the thin dispatcher that
accepts ClickHouse format names and URI schemes.

Scale notes: `file`/`s3`/`hdfs` map directly onto distributed scans (globs
native, partition discovery free, predicate/column pushdown via the normal
DataSource V2 path). `url()` is driver-fetched to local storage then scanned
— matching the reference's documented fallback of downloading first
(chdb_prompt.py:71-95); a 100 TB http source should be mirrored to object
storage instead, and the docstring says so. JDBC reads support
partitionColumn parallelism when the caller provides bounds.
"""

from __future__ import annotations

import os
import tempfile
import urllib.request
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from mcp_clickhouse_spark.catalog import quote_ident, show_tables
from mcp_clickhouse_spark.session import read_data_source
from mcp_clickhouse_spark.sources.sqlite_datasource import SqliteDataSource
from mcp_clickhouse_spark.sqltext import Scan, split_args

# ClickHouse format name → (spark format, reader options)
FORMAT_ALIASES: dict[str, tuple[str, dict[str, str]]] = {
    "csv": ("csv", {"header": "false", "inferSchema": "true"}),
    "csvwithnames": ("csv", {"header": "true", "inferSchema": "true"}),
    "tsv": ("csv", {"sep": "\t", "header": "false", "inferSchema": "true"}),
    "tabseparated": ("csv", {"sep": "\t", "header": "false", "inferSchema": "true"}),
    "tsvwithnames": ("csv", {"sep": "\t", "header": "true", "inferSchema": "true"}),
    "tabseparatedwithnames": (
        "csv",
        {"sep": "\t", "header": "true", "inferSchema": "true"},
    ),
    "json": ("json", {}),
    "jsoneachrow": ("json", {}),
    "ndjson": ("json", {}),
    "jsonlines": ("json", {}),
    "jsoncompact": ("json", {}),
    "parquet": ("parquet", {}),
    "orc": ("orc", {}),
    # served by the pure-Python container codec in avro_lite (the spark-avro
    # connector jar is not in this environment); see _read's special case
    "avro": ("avro", {}),
}

_EXT_FORMAT = {
    ".csv": "csvwithnames",
    ".tsv": "tsvwithnames",
    ".json": "jsoneachrow",
    ".jsonl": "jsoneachrow",
    ".ndjson": "jsoneachrow",
    ".parquet": "parquet",
    ".orc": "orc",
    ".avro": "avro",
}


def detect_format(path: str) -> str:
    """Format from file extension — the analog of chDB's auto-detection."""
    p = path.lower()
    if p.endswith(".gz") or p.endswith(".zst") or p.endswith(".bz2"):
        p = p.rsplit(".", 1)[0]
    for ext, fmt in _EXT_FORMAT.items():
        if p.endswith(ext):
            return fmt
    raise ValueError(f"cannot auto-detect format for {path!r}; pass fmt= explicitly")


def _read(spark: SparkSession, path: str, fmt: str | None, **options: Any) -> DataFrame:
    fmt_name = (fmt or detect_format(path)).lower()
    if fmt_name not in FORMAT_ALIASES:
        raise ValueError(
            f"unsupported format {fmt!r}; known: {sorted(FORMAT_ALIASES)}"
        )
    spark_fmt, default_opts = FORMAT_ALIASES[fmt_name]
    if spark_fmt == "avro":
        from mcp_clickhouse_spark.sources.avro_lite import read_avro

        return read_avro(spark, path)
    # schema= is a reader-API call, not an option — folded into .options()
    # it is silently ignored and the user's pinned types are lost to
    # inference (review finding)
    schema = options.pop("schema", None)
    opts = {**default_opts, **{k: str(v) for k, v in options.items()}}
    reader = spark.read.format(spark_fmt).options(**opts)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)


def file(spark: SparkSession, path: str, fmt: str | None = None, **options: Any) -> DataFrame:
    """`file(path[, format])` — local/posix paths, globs native (B19)."""
    return _read(spark, path, fmt, **options)


def url(spark: SparkSession, http_url: str, fmt: str | None = None, **options: Any) -> DataFrame:
    """`url(http://…, format)` (B20): fetch to local temp storage on the
    driver, then scan distributed. This mirrors the reference's documented
    download-first fallback (chdb_prompt.py:71-95). Not for TB-scale
    sources — mirror those to s3/hdfs and use those readers."""
    fmt_name = fmt or detect_format(http_url.split("?", 1)[0])
    suffix = os.path.splitext(http_url.split("?", 1)[0])[1] or ".dat"
    fd, local = tempfile.mkstemp(prefix="mcp_spark_url_", suffix=suffix)
    os.close(fd)
    urllib.request.urlretrieve(http_url, local)  # noqa: S310 — explicit user URL
    return _read(spark, local, fmt_name, **options)


def s3(
    spark: SparkSession,
    uri: str,
    fmt: str | None = None,
    access_key: str | None = None,
    secret_key: str | None = None,
    **options: Any,
) -> DataFrame:
    """`s3(uri[, keys][, format])` (B21): s3a:// distributed scan, globs
    native. Credentials fall back to the standard provider chain."""
    if uri.startswith("s3://"):
        uri = "s3a://" + uri[len("s3://") :]
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    if access_key:
        conf.set("fs.s3a.access.key", access_key)
    if secret_key:
        conf.set("fs.s3a.secret.key", secret_key)
    return _read(spark, uri, fmt, **options)


def hdfs(spark: SparkSession, uri: str, fmt: str | None = None, **options: Any) -> DataFrame:
    """`hdfs(hdfs://…)` (B22) — native distributed scan."""
    return _read(spark, uri, fmt, **options)


def jdbc(
    spark: SparkSession,
    jdbc_url: str,
    table: str,
    user: str | None = None,
    password: str | None = None,
    driver: str | None = None,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int | None = None,
    **options: Any,
) -> DataFrame:
    """Generic JDBC reader (B23-B25 base). With partition_column + bounds the
    read is split into num_partitions parallel range scans — the only way a
    JDBC source scales past one connection."""
    reader = spark.read.format("jdbc").option("url", jdbc_url).option("dbtable", table)
    if user is not None:
        reader = reader.option("user", user)
    if password is not None:
        reader = reader.option("password", password)
    if driver is not None:
        reader = reader.option("driver", driver)
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions or 8))
        )
    for k, v in options.items():
        reader = reader.option(k, str(v))
    return reader.load()


def postgresql(
    spark: SparkSession, host: str, database: str, table: str, user: str, password: str, **kw
) -> DataFrame:
    """`postgresql(host:port, db, table, user, pw)` (B23)."""
    return jdbc(
        spark,
        f"jdbc:postgresql://{host}/{database}",
        table,
        user=user,
        password=password,
        driver="org.postgresql.Driver",
        **kw,
    )


def mysql(
    spark: SparkSession, host: str, database: str, table: str, user: str, password: str, **kw
) -> DataFrame:
    """`mysql(host:port, db, table, user, pw)` (B24)."""
    return jdbc(
        spark,
        f"jdbc:mysql://{host}/{database}",
        table,
        user=user,
        password=password,
        driver="com.mysql.cj.jdbc.Driver",
        **kw,
    )


def clickhouse(
    spark: SparkSession,
    host: str,
    database: str,
    table: str,
    user: str = "default",
    password: str = "",
    secure: bool = False,
    port: int | None = None,
    **kw,
) -> DataFrame:
    """``clickhouse(host[:port], db, table[, user, password, secure])`` —
    live read of a remote ClickHouse table over JDBC.

    Connection identity mirrors the reference's client config
    (mcp_clickhouse/mcp_server.py:462-480: host/port/secure/user/password
    → clickhouse_connect.get_client): default port 8123, 8443 when
    ``secure`` (the HTTP interface the JDBC driver speaks), explicit
    ``host:port`` wins.  Routes through :func:`jdbc` with the public
    ClickHouse JDBC driver (``com.clickhouse.jdbc.ClickHouseDriver``,
    url ``jdbc:ch://host:port/db``, ``jdbc:ch:https://…`` when secure).

    Scale: pass ``partition_column``/``lower_bound``/``upper_bound``/
    ``num_partitions`` to split the read into parallel range scans —
    the only way a JDBC source feeds more than one executor.  The driver
    jar is not shipped in this environment; absence fails with the JDBC
    class-not-found error (graceful-failure tested like postgresql()).
    """
    if isinstance(secure, str):
        secure = secure.strip().lower() in ("1", "true", "yes")
    hostport = host if ":" in host else f"{host}:{port or (8443 if secure else 8123)}"
    scheme = "jdbc:ch:https://" if secure else "jdbc:ch://"
    return jdbc(
        spark,
        f"{scheme}{hostport}/{database}",
        table,
        user=user,
        password=password,
        driver="com.clickhouse.jdbc.ClickHouseDriver",
        **kw,
    )


def remote(
    spark: SparkSession,
    host: str,
    database: str,
    table: str | None = None,
    user: str = "default",
    password: str = "",
    **kw,
) -> DataFrame:
    """CH ``remote(addresses, db, table[, user, password])`` — alias of
    :func:`clickhouse` (same engine behind both names).  Also accepts the
    2-arg ``remote(addr, 'db.table')`` spelling."""
    if table is None:
        if "." not in database:
            raise ValueError(
                "remote() needs (host, database, table) or (host, 'db.table')"
            )
        database, table = database.split(".", 1)
    return clickhouse(spark, host, database, table, user=user, password=password, **kw)


def remote_secure(spark: SparkSession, host: str, database: str,
                  table: str | None = None, user: str = "default",
                  password: str = "", **kw) -> DataFrame:
    """CH ``remoteSecure(...)`` — :func:`remote` over TLS (port 8443)."""
    kw.setdefault("secure", True)
    return remote(spark, host, database, table, user=user, password=password, **kw)


def sqlite(
    spark: SparkSession, path: str, table: str, num_partitions: int | None = None
) -> DataFrame:
    """`sqlite(path, table)` (B25) — live read of a SQLite database file
    through :class:`~mcp_clickhouse_spark.sources.sqlite_datasource.SqliteDataSource`:
    each task scans its own rowid range of the file, and the filters Spark
    pushes run inside SQLite as its WHERE clause."""
    n = num_partitions or min(spark.sparkContext.defaultParallelism, 8)
    options = {"path": path, "table": table, "numPartitions": str(n)}
    return read_data_source(spark, SqliteDataSource, options)


import hashlib
import re as _re


def bind_sql_table_functions(spark: SparkSession, sql: str) -> str:
    """Rewrite table-function calls in FROM/JOIN position into runnable SQL.

    The reference's chDB mode accepts table functions INSIDE the SQL text
    (``SELECT … FROM file('data.parquet')`` — chdb_prompt.py:28-60).  Spark
    SQL has no such functions, so this binder:

      - ``numbers(N)`` / ``numbers(offset, N)`` → ``spark.range`` with the
        column renamed to ``number`` (a view, not an inline ``range()``
        rewrite — the ClickHouse dialect translator maps the scalar name
        ``range``→``sequence`` and would clobber the inline form);
      - ``file/url/s3/hdfs('path'[, 'Format'])`` and
        ``sqlite('db', 'table')`` → the corresponding Python reader;

    each registered as a deterministic temp view (name = hash of the
    call), call text replaced with the view name.  Idempotent: the same
    call re-binds to the same view.

    Only calls in code (never in a quoted span or a comment) immediately
    after FROM or JOIN are bound, so column/UDF names can never be
    captured.  Errors from the underlying reader
    propagate unchanged (missing file, bad format, …).
    """
    readers = {"file": file, "url": url, "s3": s3, "hdfs": hdfs}
    pat = _re.compile(
        r"(?is)\b(FROM|JOIN)\s+(file|url|s3|hdfs|sqlite|numbers|clickhouse"
        r"|remoteSecure|remote|values|view|cluster|clusterAllReplicas"
        r"|merge)\s*\("
    )
    out = sql
    while True:
        sc = Scan(out)
        m = pat.search(sc.code_text)
        if m is None:
            return out
        open_paren = m.end() - 1
        end = sc.end_of(open_paren)
        raw_args = split_args(out[open_paren + 1 : end - 1])
        fname = m.group(2).lower()

        def _lit(a: str) -> str:
            a = a.strip()
            if len(a) >= 2 and a[0] == a[-1] and a[0] in "'\"":
                return a[1:-1]
            return a

        args = [_lit(a) for a in raw_args]
        # Inline rewrites first (no view needed) — round 15:
        # view(SELECT …) is just a subquery, and cluster()/
        # clusterAllReplicas() collapse to the table reference (this
        # engine IS the whole cluster — Spark owns distribution).
        if fname == "view":
            inner = out[open_paren + 1 : end - 1]
            out = out[: m.start(2)] + "(" + inner + ")" + out[end:]
            continue
        if fname in ("cluster", "clusterallreplicas"):
            if len(args) < 2:
                raise ValueError(
                    f"{fname}() needs (cluster, database.table) or "
                    "(cluster, database, table)"
                )
            ref = args[1] if len(args) == 2 else f"{args[1]}.{args[2]}"
            out = out[: m.start(2)] + ref + out[end:]
            continue
        view = "_tf_" + hashlib.md5(
            f"{fname}:{':'.join(args)}".encode()
        ).hexdigest()[:12]
        # Registering the same deterministic name twice is a no-op
        # behaviorally; skip the reader round-trip when it exists.
        if (view, True) not in show_tables(spark):
            if fname == "numbers":
                if len(args) == 1:
                    df = spark.range(int(args[0]))
                else:
                    df = spark.range(int(args[0]), int(args[0]) + int(args[1]))
                df = df.withColumnRenamed("id", "number")
            elif fname == "sqlite":
                df = sqlite(spark, args[0], args[1])
            elif fname in ("clickhouse", "remote", "remotesecure"):
                fn = {"clickhouse": clickhouse, "remote": remote,
                      "remotesecure": remote_secure}[fname]
                df = fn(spark, *args)
            elif fname == "values":
                # CH values('c1 T1, c2 T2', row, row, …) — literal
                # table.  Rows keep their raw SQL text (tuples pass
                # through; bare scalars get wrapped); types come from
                # the structure via the dialect's TYPE_MAP.
                from mcp_clickhouse_spark.dialect import ch_type_to_spark

                cols, casts = [], []
                # depth-aware split (round 16, advisor #3): a bare
                # str.split(',') mis-split parameterized types —
                # 'a Decimal(10,2)' became two bogus column specs
                for spec in split_args(args[0]):
                    parts = spec.strip().split(None, 1)
                    name = parts[0].strip("`\"")
                    cols.append(name)
                    spark_t = (
                        ch_type_to_spark(parts[1])
                        if len(parts) > 1 else None
                    )
                    casts.append(
                        f"CAST({name} AS {spark_t}) AS {name}"
                        if spark_t else name
                    )
                rows = [
                    r if r.lstrip().startswith("(") else f"({r})"
                    for r in raw_args[1:]
                ]
                if not rows:
                    raise ValueError("values() needs at least one row")
                df = spark.sql(
                    f"SELECT {', '.join(casts)} FROM VALUES"
                    f" {', '.join(rows)} AS __v({', '.join(cols)})"
                )
            elif fname == "merge":
                # CH merge([db, ] 'tables_regexp') — union of every
                # table whose name matches, aligned BY NAME (missing
                # columns NULL-filled), the closest Spark analog of
                # CH's Merge engine semantics.
                if len(args) == 1:
                    db, rx = spark.catalog.currentDatabase(), args[0]
                else:
                    db, rx = args[0], args[1]
                pat_t = _re.compile(rx)
                matches = sorted(
                    t for t in show_tables(spark, db) if pat_t.search(t[0])
                )
                if not matches:
                    raise ValueError(
                        f"merge(): no tables in {db!r} match {rx!r}"
                    )
                df = None
                for n, is_tmp in matches:
                    part = spark.table(quote_ident(n) if is_tmp else quote_ident(db, n))
                    df = part if df is None else df.unionByName(
                        part, allowMissingColumns=True
                    )
            else:
                df = readers[fname](spark, args[0], *(args[1:2] or [None]))
            df.createOrReplaceTempView(view)
        out = out[: m.start(2)] + view + out[end:]
