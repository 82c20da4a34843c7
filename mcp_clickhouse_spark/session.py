"""SparkSession factory and testdata registration.

The reference keeps ONE global embedded-engine session for its whole process
lifetime (mcp_clickhouse/mcp_server.py:578-605: ``_chdb_client`` created once,
closed atexit). A local-mode SparkSession is the exact analog; this module
owns it.

Scale notes (100 TB design): every knob here is chosen so the same code runs
unchanged on a real cluster — AQE handles skew/coalescing at runtime, shuffle
partitions default to the parallelism of the cluster rather than a magic
constant, and timestamps are normalized at scan time (distributed, no driver
materialization).
"""

from __future__ import annotations

import os
import shutil
from typing import Iterable

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_type

# The driver-generated testdata tables (TESTDATA.md).
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

def get_spark(
    app_name: str = "mcp-clickhouse-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the long-lived session — the chDB-session analog.

    This is the one sizing policy: the server, the tests, bench.py and the
    profiling scripts all run the session it builds.

    Config stance:
      - ``local[$SPARK_GRAFT_CPUS]`` unless a master is given.
      - Shuffle partitions = ``max(defaultParallelism, 4)``, read from the
        session itself, so a cluster master sizes them to its executors.
      - AQE on: runtime coalescing of shuffle partitions, skew-join splitting
        and broadcast-join conversion replace hand-tuned plans at scale.
        Over a one-task table (see ``_ONE_TASK_ROWS``) the plan has no
        exchange, so AQE's only query stage is the result stage: one job,
        nothing to re-plan.  Turning it off saved no stage and no job there
        (sf0.01 lineitem GROUP BY … ORDER BY, local[4], medians of six
        interleaved rounds: one partition 140 vs 135 ms CPU per call with
        AQE on vs off, split layout 372 vs 361 ms), so it stays on.
      - Arrow on: every Pandas-UDF boundary is Arrow-batched.
      - UTC session timezone: deterministic timestamp semantics vs the
        DuckDB oracle (naive timestamps on both sides).
      - ``nanosAsLong``: the driver's events table carries parquet
        TIMESTAMP(NANOS) which Spark's vectorized reader rejects; we read the
        raw int64 and normalize to µs in :func:`read_table` — distributed,
        no driver round-trip.
    """
    if master is None:
        master = f"local[{int(os.environ.get('SPARK_GRAFT_CPUS', os.cpu_count() or 4))}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Explicit ANSI pin (round 15): the dialect's error-vs-NULL
        # contract is audited under Spark 4's default ANSI=on; pinning
        # keeps it deterministic if a deployment flips the default.
        # ANSI-sensitive spots emit neutral forms (try_element_at,
        # CASE-guarded division, two-valued IN) — see
        # tests/test_r15_wave.py::TestAnsiNeutrality.
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Python Data Source filter pushdown: off by default in Spark 4.1,
        # required for DataSourceReader.pushFilters to run, so that
        # `FROM sqlite(...) WHERE …` runs its WHERE inside SQLite.
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # Generated-class cache (static conf, default 100 entries): a serving
        # session that alternates over ~14+ distinct query shapes generates
        # far more than 100 whole-stage-codegen fragments, so the default
        # cache thrashes and EVERY execution pays janino+JIT recompilation
        # (~0.3-0.7 s per query). Measured at sf0.1, interleaved min-of-3:
        # headline total 5.5-6.6 s → 2.8 s with the cache sized to hold the
        # whole working set. On a long-lived cluster serving many tenants the
        # same reasoning holds — codegen sources are small (KBs), so 5000
        # entries is megabytes of driver memory for a 2× latency win.
        .config("spark.sql.codegen.cache.maxEntries", "5000")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    partitions = max(spark.sparkContext.defaultParallelism, 4)
    spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
    return spark


# Lazy-DataFrame memo: re-calling spark.read.parquet re-lists files and
# re-reads footers on the driver (~100 ms per call) — wasted when the same
# table is referenced by every query in a session. Keyed per session so a
# restarted session never sees stale plans.
_TABLE_CACHE: dict[tuple[int, str, str], DataFrame] = {}

# --- storage layout: one-task tables and split single-row-group tables ------
# A row group is the smallest unit a parquet scan task reads, and the
# testdata ships every table as ONE file with ONE row group, so each scan of
# it would run as one task whatever the core count.  A warehouse owns its
# storage layout: on first access such a table is copied once, by pyarrow
# (no Spark job), into N contiguous one-row-group files under a directory
# keyed by the source's name, size, mtime and N.  Tables that arrive as many
# files or many row groups, as real ones at scale do, are read in place.
#
# A single file of at most _ONE_TASK_ROWS rows (footer count) is not split:
# it is read in place and served as ONE partition (``coalesce(1)``).  A
# parquet scan's UnknownPartitioning satisfies no clustered distribution, so
# every GROUP BY or ORDER BY over it plans a hash or range exchange, and
# each job and stage that adds costs driver CPU (~30 ms per job on 4
# cores).  SinglePartition output satisfies every aggregate, window, global
# sort and co-partitioned join: a query over such tables plans no exchange
# and runs as one job with one task.  The budget, from ``SELECT k, count(*), sum(v) … GROUP BY k
# ORDER BY k`` on local[4], the split layout (a file of at most _SPLIT_ROWS
# rows read in place, unsplit) vs one partition, medians of six interleaved
# rounds of ten calls, ms per call:
#   sf0.01 orders     15k rows   CPU 392 -> 159   wall 172 ->  87
#   sf0.01 lineitem   60k        CPU 305 -> 138   wall 145 ->  77
#   sf0.1  events    100k        CPU 262 -> 117   wall 136 ->  79
#   sf0.1  orders    150k        CPU 248 -> 129   wall 137 ->  96
#   sf0.1  lineitem  600k        CPU 270 -> 198   wall 139 -> 159
# One task saves CPU at every size, but its wall-time lead shrinks with the
# row count and is lost by 600k rows (more cores favour the split scan,
# whose tasks run in parallel).  100k keeps every sf0.01 table (lineitem:
# 60k) and sf0.1's events within it, and sf0.1's orders and lineitem split.
# This layout is the one sizing policy the pipeline follows too: its
# near-dup operators keep a one-task table in one partition (dedup._spread).
#
# The file count of a split copy is the scan parallelism:
# - _SPLIT_ROWS: 18,750 rows per file bring orders (150k rows at sf0.1) to 8
#   scan tasks; every orders/events-scanning bench query gained;
# - below _SPLIT_BIG_ROWS at most 8 files: 16 for sf0.1's 600k-row lineitem
#   cost ~0.01 s per join query;
# - from _SPLIT_BIG_ROWS up, max(8, cores // 2) files, at most
#   _SPLIT_MAX_FILES: sf1's 6M-row lineitem on 32 cores ran the bench in
#   7.25 s with 8 files, 6.56 s with 16 and 7.01 s with 32;
# - _SPLIT_CPU_TABLES: shingling and vector math are CPU-heavy per row, so
#   from _SPLIT_CPU_MIN_ROWS rows these get at least 4 files (8 was a wash)
#   and are never one-task tables.
_WAREHOUSE_ROOT = os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark_graft_warehouse")
_SPLIT_ROWS = 18_750
_SPLIT_MAX_FILES = 32
_SPLIT_BIG_ROWS = 1_000_000
_SPLIT_CPU_TABLES = {"documents": 4, "embeddings": 4}
_SPLIT_CPU_MIN_ROWS = 2_000
_ONE_TASK_ROWS = 100_000

# Parquet leaf annotations whose Spark type the footer mapping knows, and
# the served values of the confs it assumes.  Anything else (INT96, unsigned
# integers, ENUM/JSON/UUID, another conf value) is left to Spark's inference.
_FOOTER_LEAF_TYPES = {"NONE", "STRING", "INT", "DECIMAL", "DATE", "TIMESTAMP"}
_FOOTER_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled": "true",
    "spark.sql.parquet.binaryAsString": "false",
}


def _one_task(rows: int, name: str) -> bool:
    """Whether a single-file table of ``rows`` rows is served as one
    partition rather than split."""
    return rows <= _ONE_TASK_ROWS and not (
        name in _SPLIT_CPU_TABLES and rows >= _SPLIT_CPU_MIN_ROWS
    )


def _split_file_cap(spark: SparkSession, rows: int) -> int:
    if rows < _SPLIT_BIG_ROWS:
        return 8
    return min(max(8, spark.sparkContext.defaultParallelism // 2), _SPLIT_MAX_FILES)


def _spark_type(t: pa.DataType) -> T.DataType:
    """The type Spark's parquet reader gives a column of arrow type ``t``
    under _FOOTER_CONFS; raises TypeError where the mapping cannot be sure."""
    if pa.types.is_timestamp(t):  # NANOS: raw int64; tz-naive (isAdjustedToUTC=false): NTZ
        if t.unit == "ns":
            return T.LongType()
        return T.TimestampNTZType() if t.tz is None else T.TimestampType()
    if pa.types.is_unsigned_integer(t):
        raise TypeError(f"unsigned integer {t}")
    if pa.types.is_list(t):
        return T.ArrayType(_spark_type(t.value_type), True)
    if pa.types.is_map(t):
        return T.MapType(_spark_type(t.key_type), _spark_type(t.item_type), True)
    if pa.types.is_struct(t):
        return T.StructType([T.StructField(f.name, _spark_type(f.type), True) for f in t])
    return from_arrow_type(t)


def _footer_schema(spark: SparkSession, pf: pq.ParquetFile) -> T.StructType | None:
    """The schema ``spark.read.parquet`` infers for this file, built from its
    footer without a Spark job (every field nullable, as Spark reads it), or
    None when a column or a conf falls outside what the mapping knows."""
    leaves = pf.schema
    if any(spark.conf.get(k).lower() != v for k, v in _FOOTER_CONFS.items()) or any(
        c.physical_type == "INT96" or c.logical_type.type not in _FOOTER_LEAF_TYPES
        for c in map(leaves.column, range(len(leaves)))
    ):
        return None
    try:
        return T.StructType(
            [T.StructField(f.name, _spark_type(f.type), True) for f in leaves.to_arrow_schema()]
        )
    except TypeError:
        return None


def _split_layout(spark: SparkSession, path: str, name: str) -> tuple[str, T.StructType | None]:
    """Return the path read_table should scan and its schema from the parquet
    footer (None: let Spark infer it).  The path is the original file, or a
    multi-file copy when the original is a single row group above the
    one-task budget."""
    try:
        pf = pq.ParquetFile(path)
    except (OSError, pa.ArrowException):
        return path, None
    with pf:
        schema = _footer_schema(spark, pf)
        meta = pf.metadata
        # Only a mapped schema is copied: pyarrow round-trips exactly the
        # types the mapping knows (an INT96 column would come back as NANOS).
        rows = meta.num_rows
        if schema is None or meta.num_row_groups != 1 or _one_task(rows, name):
            return path, schema
        n = min(-(-rows // _SPLIT_ROWS), _split_file_cap(spark, rows))
        if name in _SPLIT_CPU_TABLES and rows >= _SPLIT_CPU_MIN_ROWS:
            n = max(n, _SPLIT_CPU_TABLES[name])
        if n < 2:
            return path, schema
        st = os.stat(path)
        dst = os.path.join(_WAREHOUSE_ROOT, f"{name}-{st.st_size}-{int(st.st_mtime)}-{n}")
        if os.path.isdir(dst):
            return dst, schema
        tmp = f"{dst}.tmp-{os.getpid()}"
        try:
            os.makedirs(tmp, exist_ok=True)
            for i, batch in enumerate(pf.iter_batches(batch_size=-(-rows // n))):
                pq.write_table(pa.Table.from_batches([batch]), f"{tmp}/part-{i:05d}.parquet")
            os.rename(tmp, dst)  # atomic: concurrent processes race safely
        except (OSError, pa.ArrowException):  # read-only tmp, disk full, lost race: …
            shutil.rmtree(tmp, ignore_errors=True)
    # … the race winner's copy, or else the original, always works
    return (dst if os.path.isdir(dst) else path), schema


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table as a DataFrame, normalizing types; a table
    within the one-task budget is served as one partition.

    ``events.ts`` arrives as raw nanoseconds (via ``nanosAsLong``) when the
    file stores TIMESTAMP(NANOS); we truncate to microseconds exactly like
    ``CAST(ts AS TIMESTAMP)`` does in DuckDB (floor division), entirely
    inside whole-stage codegen.
    """
    key = (id(spark), sf_dir, name)
    cached = _TABLE_CACHE.get(key)
    if cached is not None:
        return cached
    if name == "events":
        # Runtime-settable; needed even when the caller built its own session.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    src = os.path.join(sf_dir, f"{name}.parquet")
    path, schema = _split_layout(spark, src, name)
    df = (spark.read if schema is None else spark.read.schema(schema)).parquet(path)
    # In place with a mapped footer: a one-task table, or else a
    # multi-row-group file or a split whose copy failed, which stay as read.
    if path == src and schema is not None and _one_task(pq.read_metadata(src).num_rows, name):
        df = df.coalesce(1)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # ns → µs floor-truncation as TIMESTAMP_NTZ: timezone-independent and
        # identical to DuckDB's CAST(ts AS TIMESTAMP).
        df = df.withColumn(
            "ts",
            F.expr(
                "timestampadd(MICROSECOND, ts div 1000,"  # integer div: ns epoch > 2^53 breaks double math
                " TIMESTAMP_NTZ '1970-01-01 00:00:00')"
            ),
        )
    _TABLE_CACHE[key] = df
    return df


def read_data_source(spark: SparkSession, source: type, options: dict[str, str]) -> DataFrame:
    """Read through a Python Data Source, registering it on the session at
    its first read (never in :func:`get_spark`, so session setup pays
    nothing for a source no query touches).  The schema comes from the
    source's own ``schema()`` on the driver and is handed to the reader,
    so its errors (a missing table, a path with no files) raise here as
    themselves instead of wrapped in an ``AnalysisException``."""
    manager = spark._jsparkSession.sessionState().dataSourceManager()
    if not manager.dataSourceExists(source.name()):
        spark.dataSource.register(source)
    schema = source(options).schema()
    return spark.read.format(source.name()).schema(schema).options(**options).load()


def register_testdata(
    spark: SparkSession, sf_dir: str, tables: Iterable[str] = TESTDATA_TABLES
) -> None:
    """Register the testdata parquet files as temp views (the 'catalog')."""
    for name in tables:
        read_table(spark, sf_dir, name).createOrReplaceTempView(name)
