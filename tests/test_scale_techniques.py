"""Scale-technique tests: salted aggregation/join equivalence, and bucketed
tables giving shuffle-free co-located joins (the plan property, not just
the right rows)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mcp_clickhouse_spark.operators.salting import salted_agg, salted_join
from mcp_clickhouse_spark.plans import count_nodes, explain_formatted


@pytest.fixture(scope="module")
def skewed(spark):
    # 90% of rows on one key — the classic hot-key distribution.
    return spark.range(10000).select(
        F.when(F.col("id") % 10 < 9, "hot").otherwise(F.concat(F.lit("k"), F.col("id") % 7))
        .alias("k"),
        (F.col("id") % 100).alias("x"),
    )


def test_salted_agg_equivalence(spark, skewed):
    plain = {
        (r.k): (r.c, r.s)
        for r in skewed.groupBy("k")
        .agg(F.count("*").alias("c"), F.sum("x").alias("s"))
        .collect()
    }
    salted = {
        (r.k): (r.c, r.s)
        for r in salted_agg(
            skewed,
            ["k"],
            [F.count("*").alias("c"), F.sum("x").alias("s")],
            [F.sum("c").alias("c"), F.sum("s").alias("s")],
        ).collect()
    }
    assert salted == plain


def test_salted_join_equivalence(spark, skewed):
    dim = spark.createDataFrame(
        [("hot", "H")] + [(f"k{i}", f"D{i}") for i in range(7)], "k string, label string"
    )
    plain = sorted((r.k, r.x, r.label) for r in skewed.join(dim, on="k").collect())
    salted = sorted((r.k, r.x, r.label) for r in salted_join(skewed, dim, on=["k"]).collect())
    assert salted == plain


@pytest.fixture(scope="module")
def bucketed_tables(spark, sf_dir):
    from mcp_clickhouse_spark.session import read_table

    for name, key in (("orders", "o_orderkey"), ("lineitem", "l_orderkey")):
        spark.sql(f"DROP TABLE IF EXISTS b_{name}")
        # a previous run killed mid-write leaves the LOCATION directory
        # behind with no catalog entry (fresh in-memory metastore), and
        # saveAsTable then fails LOCATION_ALREADY_EXISTS — clear it
        import shutil
        from urllib.parse import urlparse

        wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
        shutil.rmtree(f"{wh}/b_{name}", ignore_errors=True)
        (
            read_table(spark, sf_dir, name)
            .write.bucketBy(8, key)
            .sortBy(key)
            .mode("overwrite")
            .saveAsTable(f"b_{name}")
        )
    yield ("b_orders", "b_lineitem")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_bucketed_table_catalog_metadata(spark, bucketed_tables):
    """sorting_key/primary_key surface the bucket/sort spec — the MergeTree
    metadata analog (reference Table dataclass fields)."""
    from mcp_clickhouse_spark.catalog import describe_table

    tb = describe_table(spark, "default", "b_orders")
    assert "o_orderkey" in tb.sorting_key
    assert "o_orderkey" in tb.primary_key
    assert tb.parts and tb.parts >= 8  # one file per bucket at minimum


def test_bucketed_join_has_no_shuffle(spark, bucketed_tables):
    """Co-located join: both sides bucketed on the join key → sort-merge
    join with ZERO exchanges (the 100 TB fact-fact join strategy)."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")  # stable plan text
    try:
        o = spark.table("b_orders")
        li = spark.table("b_lineitem")
        j = li.join(o, li.l_orderkey == o.o_orderkey).groupBy("o_orderstatus").count()
        plan = explain_formatted(j)
        assert "SortMergeJoin" in plan
        # the JOIN itself is exchange-free; the groupBy adds exactly one
        assert count_nodes(plan, "Exchange") == 1
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))


def test_split_layout_rewrites_single_row_group(spark, tmp_path, monkeypatch):
    """Storage-layout ingest (r5): a big single-row-group parquet is
    rewritten once into an N-file copy so the scan stage parallelizes;
    content is identical; the rewrite is cached and small tables are left
    alone."""
    import os

    from mcp_clickhouse_spark import session as S

    monkeypatch.setattr(S, "_WAREHOUSE_ROOT", str(tmp_path / "wh"))
    src_dir = str(tmp_path / "sf")
    os.makedirs(src_dir)
    # 160k rows in ONE file / ONE row group → splits to 2+ files
    big = spark.range(160_000).selectExpr("id AS o_orderkey", "id % 7 AS v")
    big.coalesce(1).write.parquet(str(tmp_path / "stage"))
    import glob as _g
    import shutil

    one = _g.glob(str(tmp_path / "stage" / "part-*.parquet"))[0]
    shutil.copy(one, os.path.join(src_dir, "orders.parquet"))
    # small single-row-group file stays untouched
    small = spark.range(100).selectExpr("id AS n_nationkey")
    small.coalesce(1).write.parquet(str(tmp_path / "stage2"))
    shutil.copy(
        _g.glob(str(tmp_path / "stage2" / "part-*.parquet"))[0],
        os.path.join(src_dir, "nation.parquet"),
    )

    S._TABLE_CACHE.clear()
    df = S.read_table(spark, src_dir, "orders")
    assert df.rdd.getNumPartitions() >= 2  # scan parallelism restored
    # above the one-task budget: a GROUP BY still plans its exchange
    assert count_nodes(explain_formatted(df.groupBy("v").count()), "Exchange") >= 1
    assert df.count() == 160_000
    assert df.agg({"v": "sum"}).first()[0] == big.agg({"v": "sum"}).first()[0]
    wh_dirs = os.listdir(str(tmp_path / "wh"))
    assert len(wh_dirs) == 1 and wh_dirs[0].startswith("orders-")
    # second read: cache hit, no new rewrite dirs
    S._TABLE_CACHE.clear()
    S.read_table(spark, src_dir, "orders").count()
    assert os.listdir(str(tmp_path / "wh")) == wh_dirs
    # small table: read from the original path, nothing written
    small_df = S.read_table(spark, src_dir, "nation")
    assert small_df.count() == 100
    assert small_df.rdd.getNumPartitions() == 1
    assert os.listdir(str(tmp_path / "wh")) == wh_dirs

    S._TABLE_CACHE.clear()


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_footer_schema_equals_inferred(spark, sf_dir, sf, tmp_path):
    """read_table hands Spark each table's schema built from the parquet
    footer, so Spark skips inference; it must be the schema Spark infers,
    for every testdata table and for TIMESTAMP(NANOS) under nanosAsLong."""
    import glob
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from mcp_clickhouse_spark import session as S

    paths = sorted(glob.glob(os.path.join(os.path.dirname(sf_dir), sf, "*.parquet")))
    assert {os.path.basename(p)[:-8] for p in paths} >= set(S.TESTDATA_TABLES)
    nanos = str(tmp_path / "events.parquet")
    pq.write_table(
        pa.table({"event_id": pa.array([1, 2]), "ts": pa.array([1, 2], pa.timestamp("ns"))}),
        nanos,
    )
    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    for path in paths + [nanos]:
        footer = S._footer_schema(spark, pq.ParquetFile(path))
        assert footer == spark.read.parquet(path).schema, path
    assert S._footer_schema(spark, pq.ParquetFile(nanos))["ts"].dataType.typeName() == "long"
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    try:  # a conf the mapping depends on, at another value: Spark infers
        assert S._footer_schema(spark, pq.ParquetFile(nanos)) is None
    finally:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def test_int96_table_is_read_with_inferred_schema(spark, tmp_path, monkeypatch):
    """A Spark-written INT96 timestamp (pyarrow shows it as timestamp[ns],
    Spark reads it as TIMESTAMP) is outside the footer mapping: read_table
    lets Spark infer the schema and reads the file in place."""
    import glob
    import os
    import shutil

    import pyarrow.parquet as pq

    from mcp_clickhouse_spark import session as S

    monkeypatch.setattr(S, "_WAREHOUSE_ROOT", str(tmp_path / "wh"))
    src = spark.range(40_000).selectExpr(
        "id", "timestamp_seconds(id) AS ts", "CAST(timestamp_seconds(id) AS TIMESTAMP_NTZ) AS ntz"
    )
    src.coalesce(1).write.parquet(str(tmp_path / "stage"))
    os.makedirs(tmp_path / "sf")
    path = str(tmp_path / "sf" / "t96.parquet")
    shutil.copy(glob.glob(str(tmp_path / "stage" / "part-*.parquet"))[0], path)
    assert pq.ParquetFile(path).schema.column(1).physical_type == "INT96"
    assert S._split_layout(spark, path, "t96") == (path, None)
    S._TABLE_CACHE.clear()
    try:
        df = S.read_table(spark, str(tmp_path / "sf"), "t96")
        assert df.schema == spark.read.parquet(path).schema
        assert dict(df.dtypes)["ts"] == "timestamp"
        assert df.exceptAll(src).count() == 0 and src.exceptAll(df).count() == 0
    finally:
        S._TABLE_CACHE.clear()
    assert not os.path.exists(tmp_path / "wh")


def test_register_testdata_launches_no_spark_job(spark, sf_dir, tmp_path, monkeypatch):
    """Cold start: on an empty split-layout warehouse, registering the ten
    tables runs no Spark job: schemas come from the footers, and pyarrow
    writes any split copy.  At sf0.01 every table is within the one-task
    budget, so nothing is copied; with the budget at 0, lineitem is split,
    still without a job."""
    import os

    from mcp_clickhouse_spark import session as S

    monkeypatch.setattr(S, "_WAREHOUSE_ROOT", str(tmp_path / "wh"))
    sf01 = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    # own temp views: the suite's shared session keeps its sf0.001 catalog
    one_task, split = spark.newSession(), spark.newSession()
    sc = spark.sparkContext
    group = "test-register-testdata-no-jobs"
    sc.setJobGroup(group, group)
    try:
        S.register_testdata(one_task, sf01)
        copies = os.listdir(tmp_path / "wh") if os.path.exists(tmp_path / "wh") else []
        monkeypatch.setattr(S, "_ONE_TASK_ROWS", 0)
        S.register_testdata(split, sf01)
    finally:
        sc.setJobGroup("", "")
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
        for key in [k for k in S._TABLE_CACHE if k[0] in (id(one_task), id(split))]:
            del S._TABLE_CACHE[key]
    assert jobs == []
    assert copies == []
    assert one_task.table("lineitem").rdd.getNumPartitions() == 1
    assert any(d.startswith("lineitem-") for d in os.listdir(tmp_path / "wh"))
    for fresh in (one_task, split):
        assert fresh.table("lineitem").count() == 60_000


def test_one_task_table_reads_as_single_partition(spark, sf_dir, tmp_path, monkeypatch):
    """A single-file table within _ONE_TASK_ROWS (sf0.01 lineitem, 60k rows,
    the largest table the tool-path benchmark reads) is read in place, with
    no split copy, as one partition whose output is SinglePartition."""
    import os

    from mcp_clickhouse_spark import session as S

    monkeypatch.setattr(S, "_WAREHOUSE_ROOT", str(tmp_path / "wh"))
    sf01 = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    src = os.path.join(sf01, "lineitem.parquet")
    assert S._split_layout(spark, src, "lineitem")[0] == src
    df = S.read_table(spark, sf01, "lineitem")
    assert df.rdd.getNumPartitions() == 1
    partitioning = df._jdf.queryExecution().executedPlan().outputPartitioning()
    assert partitioning.toString() == "SinglePartition"
    assert not os.path.exists(tmp_path / "wh")


def test_one_task_group_by_plans_no_exchange_and_runs_one_job(spark, sf_dir):
    """A GROUP BY ... ORDER BY over a one-task table plans no Exchange and
    runs as one Spark job, with the row counts pyarrow reads."""
    import os

    import pyarrow.parquet as pq

    from mcp_clickhouse_spark.session import read_table

    sf01 = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    df = (
        read_table(spark, sf01, "lineitem")
        .groupBy("l_returnflag")
        .count()
        .orderBy("l_returnflag")
    )
    assert count_nodes(explain_formatted(df), "Exchange") == 0
    sc = spark.sparkContext
    group = "test-one-task-group-by"
    sc.setJobGroup(group, group)
    try:
        rows = [tuple(r) for r in df.collect()]
    finally:
        sc.setJobGroup("", "")
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    flags = pq.read_table(os.path.join(sf01, "lineitem.parquet"), columns=["l_returnflag"])
    want = flags.group_by("l_returnflag").aggregate([([], "count_all")]).to_pylist()
    assert rows == sorted((w["l_returnflag"], w["count_all"]) for w in want)


@pytest.mark.parametrize("name,files", [("lineitem", 8), ("documents", 4)])
def test_split_copy_keeps_rows_and_file_count(spark, sf_dir, tmp_path, monkeypatch, name, files):
    """At sf0.1 the pyarrow split copy holds the source's row multiset in the
    file count the layout formula gives (lineitem 600k rows: 8 files under
    the small-table cap; documents 5k rows: the CPU-table minimum of 4),
    one row group per file."""
    import os

    import pyarrow.parquet as pq

    from mcp_clickhouse_spark import session as S

    monkeypatch.setattr(S, "_WAREHOUSE_ROOT", str(tmp_path / "wh"))
    src = os.path.join(os.path.dirname(sf_dir), "sf0.1", f"{name}.parquet")
    dst, schema = S._split_layout(spark, src, name)
    assert dst != src and schema is not None
    parts = sorted(os.listdir(dst))
    assert len(parts) == files
    assert all(pq.ParquetFile(os.path.join(dst, p)).metadata.num_row_groups == 1 for p in parts)
    want = pq.read_table(src)
    got = pq.read_table(dst).select(want.column_names)
    keys = [(c, "ascending") for c in want.column_names]
    assert got.num_rows == want.num_rows
    assert got.sort_by(keys).equals(want.sort_by(keys))


def test_split_layout_unwritable_warehouse_reads_in_place(spark, sf_dir, tmp_path, monkeypatch):
    """A warehouse the copy cannot be written to (here: below a regular
    file) leaves the original file to be read, with its footer schema."""
    import os

    from mcp_clickhouse_spark import session as S

    (tmp_path / "file").write_text("")
    monkeypatch.setattr(S, "_WAREHOUSE_ROOT", str(tmp_path / "file" / "wh"))
    monkeypatch.setattr(S, "_ONE_TASK_ROWS", 0)  # lineitem (60k rows) is a split candidate
    src = os.path.join(os.path.dirname(sf_dir), "sf0.01", "lineitem.parquet")
    path, schema = S._split_layout(spark, src, "lineitem")
    assert path == src and schema == spark.read.parquet(src).schema


def test_prepared_plan_replay_fresh_execution(spark):
    """run_prepared memoizes the analyzed plan but each call must yield a NEW
    Dataset (fresh QueryExecution → fresh shuffles), identical results."""
    import __spark_entry__ as entry

    qs = entry.queries()
    sf = "/root/testdata/sf0.001"
    a = qs["agg_rollup"](spark, sf)
    b = qs["agg_rollup"](spark, sf)
    assert a._jdf is not b._jdf  # replay builds a distinct JVM Dataset
    rows_a = sorted(map(tuple, a.collect()), key=repr)
    rows_b = sorted(map(tuple, b.collect()), key=repr)
    assert rows_a == rows_b and len(rows_a) > 0


def test_lsh_pipeline_scale_smoke_with_degenerate_slice(spark):
    """30k docs, 40% of them IDENTICAL boilerplate (the mega-bucket that
    sinks uncapped LSH at scale): the full signatures -> banding -> capped
    pair generation -> verify pipeline must complete with pair counts
    bounded by the cap, never O(n_dup^2) = 7.2e7."""
    from pyspark.sql import functions as F

    from mcp_clickhouse_spark.pipeline.dedup import (
        jaccard_verify,
        minhash_lsh_candidates,
        minhash_signatures,
        release_persisted,
    )

    n, dup_frac = 30_000, 0.4
    docs = spark.range(n).selectExpr(
        "id AS doc_id",
        f"""CASE WHEN id < {int(n * dup_frac)}
             THEN 'common crawl boilerplate navigation menu footer copyright'
             ELSE concat_ws(' ', transform(sequence(0, 19),
                  i -> concat('w', CAST(xxhash64(id, i) % 5000 AS STRING))))
           END AS text""",
    )
    sigs = minhash_signatures(docs, num_hashes=16)
    cand = minhash_lsh_candidates(sigs, bands=4, rows_per_band=4, max_bucket_size=20)
    pairs = jaccard_verify(cand, docs, threshold=0.5)
    n_cand = cand.count()
    n_pairs = pairs.count()
    release_persisted()
    # cap=20 -> <=C(20,2)=190 pairs per (band,bucket); 4 bands of the one
    # round 11 (identical-signature collapse): the 12,000-doc boilerplate
    # cluster surfaces as 11,999 star pairs (LINEAR in cluster size — the
    # uncollapsed all-pairs form would be C(12000,2) = 7.2e7) plus
    # rep-level banding collisions bounded by the cap (<=C(20,2)=190 per
    # band) and random-text noise
    n_dup = int(n * dup_frac)
    assert n_dup - 1 <= n_cand <= n_dup - 1 + 4 * 190 + 500
    assert n_pairs <= n_cand
    # all verified pairs are within the duplicate slice
    bad = pairs.where(
        (F.col("id_a") >= int(n * dup_frac)) | (F.col("id_b") >= int(n * dup_frac))
    ).count()
    assert bad == 0
