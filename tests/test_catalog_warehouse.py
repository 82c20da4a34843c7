"""Catalog tools against a REAL database (warehouse tables, not temp views):
multi-database listing, cross-database list_tables, DDL/provider metadata."""

from __future__ import annotations

import pytest

from mcp_clickhouse_spark.tools import list_databases, list_tables, run_select_query


@pytest.fixture(scope="module")
def warehouse_db(spark):
    spark.sql("CREATE DATABASE IF NOT EXISTS analytics_test")
    spark.sql(
        """
        CREATE TABLE IF NOT EXISTS analytics_test.metrics
        USING PARQUET
        COMMENT 'engine metrics table'
        AS SELECT id AS metric_id, CAST(id * 1.5 AS DOUBLE) AS metric_value FROM range(100)
        """
    )
    yield "analytics_test"
    spark.sql("DROP TABLE IF EXISTS analytics_test.metrics")
    spark.sql("DROP DATABASE IF EXISTS analytics_test")


def test_database_appears(spark, warehouse_db):
    assert warehouse_db in list_databases(spark)
    assert list_databases(spark, like="analytics%") == [warehouse_db]


def test_list_tables_in_real_db(spark, warehouse_db):
    resp = list_tables(spark, warehouse_db)
    assert resp["total_tables"] == 1
    tb = resp["tables"][0]
    assert tb["name"] == "metrics"
    # engine = storage provider (MergeTree analog slot); engine_full keeps
    # the managed/external type (round-6: was the bare tableType)
    assert tb["engine"].lower() == "parquet"
    assert "MANAGED" in tb["engine_full"] and "parquet" in tb["engine_full"].lower()
    assert "CREATE TABLE" in tb["create_table_query"]
    assert "metrics" in tb["create_table_query"]
    cols = {c["name"]: c["column_type"] for c in tb["columns"]}
    assert cols == {"metric_id": "bigint", "metric_value": "double"}


def test_query_qualified_table(spark, warehouse_db):
    res = run_select_query(
        spark, f"SELECT COUNT(*) AS n, MAX(metric_id) AS mx FROM {warehouse_db}.metrics"
    )
    assert res["rows"] == [[100, 99]]


def test_statistics_after_analyze(spark, warehouse_db):
    """total_rows/total_bytes (system.tables analog) populate from ANALYZE;
    parts = backing file count."""
    spark.sql(f"ANALYZE TABLE {warehouse_db}.metrics COMPUTE STATISTICS")
    resp = list_tables(spark, warehouse_db)
    tb = resp["tables"][0]
    assert tb["total_rows"] == 100
    assert tb["total_bytes"] and tb["total_bytes"] > 0
    assert tb["parts"] and tb["parts"] >= 1
    assert tb["active_parts"] == tb["parts"]


def test_table_comment_surfaces(spark, warehouse_db):
    resp = list_tables(spark, warehouse_db)
    # comment lives in DDL (catalog comment surfacing varies by provider)
    assert "engine metrics table" in resp["tables"][0]["create_table_query"] or (
        resp["tables"][0]["comment"] == "engine metrics table"
    )


def test_bucketed_table_engine_metadata(spark, warehouse_db):
    """Round-6 (r5 verdict next #9): a bucketed warehouse table surfaces its
    provider, bucket-sort layout (engine_full), sorting_key/primary_key,
    and backing file count — the Table dataclass fidelity note (SURVEY
    §1.1)."""
    spark.sql(
        """
        CREATE TABLE IF NOT EXISTS analytics_test.bucketed
        USING PARQUET
        CLUSTERED BY (k) SORTED BY (s) INTO 4 BUCKETS
        AS SELECT id % 10 AS k, id AS s, id * 2 AS v FROM range(1000)
        """
    )
    try:
        resp = list_tables(spark, warehouse_db)
        tb = {t_["name"]: t_ for t_ in resp["tables"]}["bucketed"]
        assert tb["engine"].lower() == "parquet"
        assert "CLUSTERED BY (k)" in tb["engine_full"]
        assert "SORTED BY (s)" in tb["engine_full"]
        assert "4 BUCKETS" in tb["engine_full"]
        assert tb["sorting_key"] == "s"
        assert tb["primary_key"] == "k"
        assert tb["parts"] and tb["parts"] >= 4  # one file per bucket minimum
    finally:
        spark.sql("DROP TABLE IF EXISTS analytics_test.bucketed")


# --- one round-trip per catalog question: equivalence with the legacy path ----
#
# The catalog helpers answer from SHOW DATABASES / SHOW TABLES / SHOW FUNCTIONS
# and the DataFrame schema.  ``_legacy_describe`` keeps the describe they
# replaced (getTable by throw-and-catch, listColumns), and the corpus below
# must describe identically through both, except for the pinned deltas:
# names that need quoting, a global temp view, and a struct wider than
# spark.sql.debug.maxToStringFields.

EQ_DB = "catalog_eq"
EQ_TEMP = [
    "eq_shadow", "eq_tv_range", "eq_tv_comment", "eq_tv_nested",
    "eq_tv_file", "eq_tv_char", "eq_tv_agg", "eq_tv_empty",
]
EQ_TABLES = ["eq_part", "eq_bucketed", "eq_types", "eq_stats", "eq_shadow", "eq_view"]
QUOTED = ["we`ird", "my-view"]
WIDE = "eq_tv_wide"


def _temp_views(spark):
    return {r.tableName for r in spark.sql("SHOW TABLES").collect() if r.isTemporary}


@pytest.fixture(scope="module", autouse=True)
def _drop_new_temp_views(spark):
    """Temp views are session-wide: drop the ones this module's tools calls
    bind (``_system_*``, ``_tf_*``) so later modules list what they expect."""
    before = _temp_views(spark)
    yield
    for n in _temp_views(spark) - before:
        spark.catalog.dropTempView(n)  # takes the raw name, unlike createOrReplaceTempView


def _legacy_describe(spark, database, name):
    import re

    from mcp_clickhouse_spark.catalog import Column, Table

    meta = None
    for q in (f"{database}.{name}", name):
        try:
            meta = spark.catalog.getTable(q)
            break
        except Exception:
            continue
    table = Table(database=database, name=name)
    is_temp = False
    if meta is not None:
        table.engine = table.engine_full = meta.tableType or ""
        table.comment = meta.description
        is_temp = (meta.tableType or "").upper() == "TEMPORARY"
    for q in () if is_temp else (f"{database}.{name}", name):
        try:
            table.create_table_query = spark.sql(f"SHOW CREATE TABLE {q}").collect()[0][0]
            break
        except Exception:
            continue
    provider = num_buckets = None
    for q in (name,) if is_temp else (f"{database}.{name}", name):
        try:
            rows = spark.sql(f"DESCRIBE EXTENDED {q}").collect()
        except Exception:
            continue
        for r in rows:
            if r[0] == "Statistics":
                m = re.search(r"(\d+)\s+bytes(?:,\s*(\d+)\s+rows)?", r[1] or "")
                if m:
                    table.total_bytes = int(m.group(1))
                    if m.group(2):
                        table.total_rows = int(m.group(2))
            elif r[0] == "Sort Columns":
                table.sorting_key = (r[1] or "").strip("[]").replace("`", "")
            elif r[0] == "Bucket Columns":
                table.primary_key = (r[1] or "").strip("[]").replace("`", "")
            elif r[0] == "Provider":
                provider = (r[1] or "").strip()
            elif r[0] == "Num Buckets":
                num_buckets = (r[1] or "").strip()
        break
    if provider:
        full = f"{provider} {table.engine}".strip()
        table.engine = provider
        if table.primary_key:
            full += f" CLUSTERED BY ({table.primary_key})"
            if table.sorting_key:
                full += f" SORTED BY ({table.sorting_key})"
            if num_buckets:
                full += f" INTO {num_buckets} BUCKETS"
        table.engine_full = full
    try:
        files = spark.table(name if is_temp else f"{database}.{name}").inputFiles()
        table.parts = table.active_parts = len(files)
    except Exception:
        pass
    cols = []
    for q in (name,) if is_temp else (f"{database}.{name}", name):
        try:
            cols = spark.catalog.listColumns(q)
            break
        except Exception:
            continue
    table.columns = [
        Column(database=database, table=name, name=c.name, column_type=c.dataType, comment=c.description)
        for c in cols
    ]
    return table


@pytest.fixture(scope="module")
def eq_corpus(spark, tmp_path_factory):
    """Catalog tables, temp views (one shadowing a catalog table), a
    permanent view, a global temp view, names that need quoting, a
    persistent SQL function and a temp Python UDF."""
    from pyspark.sql import functions as F

    from mcp_clickhouse_spark.functions import register_lazy_udfs

    db = EQ_DB
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    spark.sql(
        f"""CREATE TABLE {db}.eq_part (c CHAR(5) COMMENT 'a char', v VARCHAR(10),
        s STRUCT<a: INT, b: STRING> COMMENT 'a struct', p INT)
        USING PARQUET PARTITIONED BY (p) COMMENT 'partitioned table'"""
    )
    spark.sql(f"INSERT INTO {db}.eq_part VALUES ('ab', 'xyz', named_struct('a', 1, 'b', 'q'), 7)")
    spark.sql(
        f"""CREATE TABLE {db}.eq_bucketed USING PARQUET
        CLUSTERED BY (k) SORTED BY (s) INTO 3 BUCKETS
        AS SELECT id % 5 AS k, id AS s FROM range(50)"""
    )
    spark.sql(
        f"""CREATE TABLE {db}.eq_types USING PARQUET AS SELECT
        CAST(1 AS TINYINT) t, CAST(1 AS SMALLINT) sm, CAST(1.5 AS DECIMAL(10, 2)) d,
        CAST(1.5 AS FLOAT) f, TRUE b, DATE'2024-01-02' dt,
        TIMESTAMP_NTZ'2024-01-02 03:04:05' ntz, TIMESTAMP'2024-01-02 03:04:05' ts,
        X'0102' bin, map('k', array(1, 2)) m, array(named_struct('x', 1.0D)) arr,
        INTERVAL '1 02:03:04' DAY TO SECOND ids, INTERVAL '1-2' YEAR TO MONTH iym"""
    )
    spark.sql(f"CREATE TABLE {db}.eq_stats USING PARQUET AS SELECT id FROM range(20)")
    spark.sql(f"ANALYZE TABLE {db}.eq_stats COMPUTE STATISTICS")
    spark.sql(f"CREATE TABLE {db}.eq_shadow USING PARQUET AS SELECT 1 AS catalog_col")
    spark.sql(f"CREATE VIEW {db}.eq_view COMMENT 'a view' AS SELECT c, p FROM {db}.eq_part")
    spark.sql(f"CREATE FUNCTION IF NOT EXISTS default.eq_f() RETURNS INT RETURN 1")
    register_lazy_udfs(spark, "SELECT ch_jaro(a, b)")

    spark.range(2).selectExpr("'temp' AS temp_col").createOrReplaceTempView("eq_shadow")
    spark.range(3).createOrReplaceTempView("eq_tv_range")
    spark.range(1).select(
        F.col("id").alias("commented", metadata={"comment": "from metadata"})
    ).createOrReplaceTempView("eq_tv_comment")
    spark.sql(
        "SELECT named_struct('a', array(map('k', 1)), 'b', named_struct('c', 1.0D)) AS n"
    ).createOrReplaceTempView("eq_tv_nested")
    path = str(tmp_path_factory.mktemp("eq") / "f.parquet")
    spark.range(10).repartition(2).write.parquet(path)
    spark.read.parquet(path).createOrReplaceTempView("eq_tv_file")
    spark.sql(
        "SELECT CAST('a' AS CHAR(3)) AS c, CAST('b' AS VARCHAR(4)) AS v"
    ).createOrReplaceTempView("eq_tv_char")
    spark.sql(f"SELECT k, count(*) AS n FROM {db}.eq_bucketed GROUP BY k").createOrReplaceTempView("eq_tv_agg")
    spark.createDataFrame([], "a INT, b STRING").createOrReplaceTempView("eq_tv_empty")
    spark.sql(
        "SELECT named_struct(" + ", ".join(f"'f{i}', {i}" for i in range(30)) + ") AS w"
    ).createOrReplaceTempView(WIDE)
    for n in QUOTED:
        spark.range(2).createOrReplaceTempView("`" + n.replace("`", "``") + "`")
    spark.range(4).createOrReplaceGlobalTempView("eq_gv")
    yield db
    spark.catalog.dropGlobalTempView("eq_gv")
    spark.sql("DROP FUNCTION IF EXISTS default.eq_f")
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def _corpus(names):
    return [n for n in names if n in EQ_TEMP + EQ_TABLES]


def test_describe_matches_legacy_path(spark, eq_corpus):
    """Every corpus table and view describes exactly as through the
    listColumns/getTable path, and the listings hold the same names."""
    from mcp_clickhouse_spark.catalog import describe_table, list_database_names, list_table_names

    assert list_database_names(spark) == [d.name for d in spark.catalog.listDatabases()]
    for db in (eq_corpus, "default", "global_temp"):
        names = list_table_names(spark, db)
        assert names == sorted(t.name for t in spark.catalog.listTables(db))
        corpus = _corpus(names)
        if db == eq_corpus:
            assert corpus == sorted(EQ_TEMP + EQ_TABLES)
        else:
            assert corpus == sorted(EQ_TEMP)
        for n in corpus:
            assert describe_table(spark, db, n).to_dict() == _legacy_describe(spark, db, n).to_dict(), n

    shadow = describe_table(spark, eq_corpus, "eq_shadow")
    assert shadow.engine.lower() == "parquet"  # the catalog table wins
    assert [c.name for c in shadow.columns] == ["catalog_col"]
    part = describe_table(spark, eq_corpus, "eq_part").columns
    assert [(c.name, c.column_type, c.comment) for c in part] == [
        ("c", "string", "a char"), ("v", "string", None),
        ("s", "struct<a:int,b:string>", "a struct"), ("p", "int", None),
    ]
    assert describe_table(spark, eq_corpus, "eq_tv_file").parts == 2


def test_list_tables_pages_match_legacy_path(spark, eq_corpus):
    """Both pages of list_tables, with and without columns, equal the
    legacy describes of the same names."""
    from mcp_clickhouse_spark.tools import list_tables

    for detailed in (True, False):
        kw = dict(like="eq_%", not_like=WIDE, page_size=8, include_detailed_columns=detailed)
        first = list_tables(spark, eq_corpus, **kw)
        second = list_tables(spark, eq_corpus, page_token=first["next_page_token"], **kw)
        assert len(first["tables"]) == 8 and second["next_page_token"] is None
        legacy = [_legacy_describe(spark, eq_corpus, n).to_dict() for n in sorted(EQ_TEMP + EQ_TABLES)]
        if not detailed:
            for d in legacy:
                d["columns"] = []
        assert first["tables"] + second["tables"] == legacy


def test_system_catalog_views_match_legacy_path(spark, eq_corpus):
    """system.tables / system.columns rows for the corpus come from the
    same describes, so they equal the legacy ones row for row."""
    from mcp_clickhouse_spark.tools import run_select_query

    names = ", ".join(f"'{n}'" for n in EQ_TEMP + EQ_TABLES)
    tables = run_select_query(
        spark,
        "SELECT name, engine, engine_full, sorting_key, primary_key, create_table_query, comment "
        f"FROM system.tables WHERE database = '{eq_corpus}' AND name IN ({names}) ORDER BY name, engine",
    )["rows"]
    columns = run_select_query(
        spark,
        "SELECT table, name, type, position, comment FROM system.columns "
        f"WHERE database = '{eq_corpus}' AND table IN ({names})",
    )["rows"]
    want_t, want_c = [], []
    for n in sorted(EQ_TEMP + EQ_TABLES):
        t = _legacy_describe(spark, eq_corpus, n)
        want_t.append([n, t.engine, t.engine_full, t.sorting_key, t.primary_key, t.create_table_query, t.comment])
        want_c += [[n, c.name, c.column_type, pos, c.comment] for pos, c in enumerate(t.columns, start=1)]
    assert tables == sorted(want_t, key=lambda r: (r[0], r[1]))
    assert sorted(columns, key=lambda r: (r[0], r[3])) == sorted(want_c, key=lambda r: (r[0], r[3]))
    dbs = run_select_query(spark, "SELECT name FROM system.databases")["rows"]
    assert [r[0] for r in dbs] == [d.name for d in spark.catalog.listDatabases()]


def test_system_functions_spark_names_match_list_functions(spark, eq_corpus):
    """origin = 'spark' holds exactly the listFunctions names the dialect
    does not map, a temp Python UDF and a persistent SQL function included
    (SHOW FUNCTIONS prints the latter as spark_catalog.default.eq_f)."""
    from mcp_clickhouse_spark import dialect
    from mcp_clickhouse_spark.tools import run_select_query

    mapped = set(dialect.NAME_MAP) | set(dialect.TEMPLATES) | set(dialect.PARAMETRIC)
    want = {f.name.lower() for f in spark.catalog.listFunctions()} - mapped
    got = run_select_query(spark, "SELECT name FROM system.functions WHERE origin = 'spark'")["rows"]
    assert [r[0] for r in got if r[0] in want] == [r[0] for r in got]
    assert len(got) == len(want) and {r[0] for r in got} == want
    assert {"eq_f", "ch_jaro"} <= want


def test_missing_database_still_raises(spark, eq_corpus):
    from mcp_clickhouse_spark.tools import list_tables

    with pytest.raises(Exception, match="SCHEMA_NOT_FOUND"):
        spark.catalog.listTables("eq_no_such_db")
    with pytest.raises(Exception, match="SCHEMA_NOT_FOUND"):
        list_tables(spark, "eq_no_such_db")


def test_catalog_tools_never_use_pyspark_catalog_listings(spark, eq_corpus, monkeypatch):
    """Every catalog question is a SHOW command or a schema read: with
    Catalog.list* raising, the tools and system.* views still answer."""
    from mcp_clickhouse_spark.sources.table_functions import bind_sql_table_functions
    from mcp_clickhouse_spark.tools import list_databases, list_tables, run_select_query

    def boom(*a, **k):
        raise AssertionError("PySpark Catalog listing called")

    for attr in ("listColumns", "listTables", "listDatabases", "listFunctions"):
        monkeypatch.setattr(type(spark.catalog), attr, boom)
    assert eq_corpus in list_databases(spark)
    first = list_tables(spark, eq_corpus, page_size=4)
    second = list_tables(spark, eq_corpus, page_token=first["next_page_token"], page_size=4)
    assert first["tables"] and second["tables"]
    for t in ("tables", "columns", "databases", "functions"):
        assert run_select_query(spark, f"SELECT count(*) FROM system.{t}")["rows"][0][0] > 0
    bind_sql_table_functions(spark, "SELECT * FROM numbers(3)")
    bind_sql_table_functions(spark, f"SELECT * FROM merge('{eq_corpus}', '^eq_tv_r')")


def test_names_that_need_quoting_are_described(spark, eq_corpus):
    """A temp view named with a backtick or a dash used to be described as
    an unknown table with no columns; the names are now quoted."""
    from mcp_clickhouse_spark.catalog import describe_table

    from mcp_clickhouse_spark.tools import list_tables

    listed = {t["name"]: t for t in list_tables(spark, eq_corpus, page_size=100)["tables"]}
    for n in QUOTED:
        assert listed[n] == describe_table(spark, eq_corpus, n).to_dict()
        t = describe_table(spark, eq_corpus, n)
        assert (t.engine, t.parts) == ("TEMPORARY", 0), n
        assert [(c.name, c.column_type) for c in t.columns] == [("id", "bigint")], n


def test_global_temp_view_is_described(spark, eq_corpus):
    """A global temp view resolves under global_temp: the legacy path looked
    its columns up by the bare name and returned none."""
    from mcp_clickhouse_spark.catalog import describe_table

    t = describe_table(spark, "global_temp", "eq_gv")
    assert (t.engine, t.parts) == ("TEMPORARY", 0)
    assert [(c.name, c.column_type) for c in t.columns] == [("id", "bigint")]


def test_wide_struct_type_is_not_truncated(spark, eq_corpus):
    """listColumns truncated a struct wider than
    spark.sql.debug.maxToStringFields (25) to '... 5 more fields'; the
    schema path gives the full type, as ClickHouse's system.columns does."""
    from mcp_clickhouse_spark.catalog import describe_table

    full = "struct<" + ",".join(f"f{i}:int" for i in range(30)) + ">"
    assert [c.column_type for c in describe_table(spark, eq_corpus, WIDE).columns] == [full]


def test_repeated_table_function_reuses_its_view(spark, monkeypatch):
    """A second identical numbers(10) binds the view the first one built."""
    from mcp_clickhouse_spark.sources.table_functions import bind_sql_table_functions

    for r in spark.sql("SHOW TABLES LIKE '_tf_*'").collect():
        spark.catalog.dropTempView(r.tableName)
    calls = []
    real = spark.range
    monkeypatch.setattr(spark, "range", lambda *a: calls.append(a) or real(*a))
    first = bind_sql_table_functions(spark, "SELECT * FROM numbers(10)")
    assert calls == [(10,)]
    assert bind_sql_table_functions(spark, "SELECT * FROM numbers(10)") == first
    assert calls == [(10,)]
