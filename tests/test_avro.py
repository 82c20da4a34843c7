"""Avro round-trip through the pure-Python container codec (B26).

The environment has no spark-avro jar, no network, and no Python avro
library, so avro_lite implements the public object-container spec directly.
These tests prove the full loop: Spark DataFrame → distributed per-partition
container writes → distributed Data Source read → identical values; plus
codec/edge coverage (deflate + null codecs, nullable unions, logical types,
arrays, empty partitions) and the file()/auto-detect dispatcher route.
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from mcp_clickhouse_spark.sources import table_functions as tf
from mcp_clickhouse_spark.sources.avro_lite import (
    _snappy_supported,
    read_avro,
    read_file_records,
    write_avro,
    write_container,
)

# pyarrow in this environment ships raw snappy; if a build lacks it the
# snappy cases drop out of the fuzz matrix rather than failing.
CODECS = ["null", "deflate"] + (["snappy"] if _snappy_supported() else [])


@pytest.fixture()
def sample(spark):
    return spark.createDataFrame(
        [
            (1, "alpha", 1.5, True, None, datetime.datetime(2024, 1, 1, 10, 0, 0)),
            (2, "béta ünïcode", -2.25, False, 7, datetime.datetime(2024, 6, 30, 23, 59, 59)),
            (3, None, 0.0, None, -12345678901234, datetime.datetime(1969, 12, 31, 23, 0, 0)),
        ],
        "id long, name string, score double, flag boolean, opt long, ts timestamp_ntz",
    )


def _collect_sorted(df):
    return [tuple(r) for r in df.orderBy("id").collect()]


def test_round_trip_deflate(spark, sample, tmp_path):
    out = str(tmp_path / "avro_out")
    n = write_avro(sample, out)
    assert n == 3
    got = read_avro(spark, out)
    assert got.schema == sample.schema
    assert _collect_sorted(got) == _collect_sorted(sample)


def test_round_trip_null_codec(spark, sample, tmp_path):
    out = str(tmp_path / "avro_null")
    write_avro(sample, out, codec="null")
    assert _collect_sorted(read_avro(spark, out)) == _collect_sorted(sample)


def test_file_dispatcher_autodetect(spark, sample, tmp_path):
    out = str(tmp_path / "det")
    write_avro(sample.coalesce(1), out)
    # file() with explicit fmt and with .avro auto-detection
    import glob as _g

    one = _g.glob(out + "/*.avro")[0]
    assert tf.detect_format(one) == "avro"
    df = tf.file(spark, one, fmt="avro")
    assert df.count() == 3
    df2 = tf.file(spark, out + "/*.avro")
    assert df2.count() == 3


def test_arrays_and_date(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, [1.0, 2.5], datetime.date(2024, 3, 1)), (2, [], None)],
        "id long, vec array<double>, d date",
    )
    out = str(tmp_path / "arr")
    write_avro(df, out)
    got = read_avro(spark, out)
    rows = {r.id: (list(r.vec), r.d) for r in got.collect()}
    assert rows[1] == ([1.0, 2.5], datetime.date(2024, 3, 1))
    assert rows[2] == ([], None)


def test_read_avro_path_without_files_raises(spark, tmp_path):
    """A directory holding no ``*.avro`` file fails on the driver with the
    codec's own error, not a Spark analysis error."""
    empty = tmp_path / "no_avro"
    empty.mkdir()
    with pytest.raises(FileNotFoundError, match="no avro files"):
        read_avro(spark, str(empty))


def test_multi_partition_write_one_file_each(spark, sample, tmp_path):
    out = str(tmp_path / "parts")
    write_avro(sample.repartition(3), out)
    import glob as _g

    files = _g.glob(out + "/*.avro")
    assert len(files) == 3
    assert read_avro(spark, out).count() == 3


def test_container_level_codec(tmp_path):
    schema = {
        "type": "record",
        "name": "row",
        "fields": [
            {"name": "a", "type": "long"},
            {"name": "b", "type": ["null", "string"]},
        ],
    }
    p = str(tmp_path / "x.avro")
    write_container(p, schema, iter([(1, "one"), (2, None), (-3, "negative")]))
    got_schema, rows = read_file_records(p)
    assert got_schema == schema
    assert list(rows) == [(1, "one"), (2, None), (-3, "negative")]


def test_events_table_round_trip(spark, sf_dir, tmp_path):
    # A real driver table (ns timestamps normalized at read) survives avro.
    from mcp_clickhouse_spark.session import read_table

    ev = read_table(spark, sf_dir, "events").select("event_id", "ts", "event_type", "value")
    out = str(tmp_path / "events_avro")
    n = write_avro(ev, out)
    got = read_avro(spark, out)
    assert n == ev.count() == got.count()
    a = ev.agg(F.sum("value").alias("s"), F.max("ts").alias("m")).first()
    b = got.agg(F.sum("value").alias("s"), F.max("ts").alias("m")).first()
    assert abs(a.s - b.s) < 1e-6 and a.m == b.m


def test_nested_record_map_round_trip(spark, tmp_path):
    """Nested structs and string-keyed maps survive the loop."""
    df = spark.createDataFrame(
        [
            (1, {"city": "paris", "zip": 75001}, {"a": 1.5, "b": 2.0}),
            (2, {"city": "nyc", "zip": 10001}, {}),
        ],
        "id long, addr struct<city:string, zip:long>, scores map<string,double>",
    )
    out = str(tmp_path / "nested")
    write_avro(df.coalesce(1), out)
    got = read_avro(spark, out)
    assert got.schema == df.schema
    rows = {r.id: (r.addr.city, r.addr.zip, dict(r.scores)) for r in got.collect()}
    assert rows[1] == ("paris", 75001, {"a": 1.5, "b": 2.0})
    assert rows[2] == ("nyc", 10001, {})


def test_enum_read(spark, tmp_path):
    """Enums (written by container-level API) read back as symbol strings."""
    schema = {
        "type": "record",
        "name": "row",
        "fields": [
            {"name": "id", "type": "long"},
            {
                "name": "color",
                "type": {"type": "enum", "name": "Color", "symbols": ["RED", "GREEN", "BLUE"]},
            },
        ],
    }
    p = str(tmp_path / "enum.avro")
    write_container(p, schema, iter([(1, "GREEN"), (2, "RED")]))
    got = read_avro(spark, p)
    assert dict(got.dtypes) == {"id": "bigint", "color": "string"}
    assert {(r.id, r.color) for r in got.collect()} == {(1, "GREEN"), (2, "RED")}


def test_avro_python_datasource(spark, sample, tmp_path):
    """The official Data Source spelling reads the same files."""
    from mcp_clickhouse_spark.sources.avro_lite import AvroLiteDataSource

    out = str(tmp_path / "ds_avro")
    write_avro(sample, out)
    spark.dataSource.register(AvroLiteDataSource)
    got = spark.read.format("avrolite").load(out)
    assert got.schema == sample.schema
    assert _collect_sorted(got) == _collect_sorted(sample)


def test_fixed_round_trip(tmp_path):
    schema = {
        "type": "record",
        "name": "row",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "digest", "type": {"type": "fixed", "name": "md5", "size": 4}},
        ],
    }
    p = str(tmp_path / "fx.avro")
    write_container(p, schema, iter([(1, b"\x00\x01\x02\x03"), (2, b"\xff\xfe\xfd\xfc")]))
    got_schema, rows = read_file_records(p)
    assert list(rows) == [(1, b"\x00\x01\x02\x03"), (2, b"\xff\xfe\xfd\xfc")]


def test_schema_evolution_defaults_skip_promote(tmp_path):
    """Spec §Schema Resolution: writer-v1 files read under reader-v2 —
    added field takes its default, dropped field is skipped, int→long and
    float→double promote, string→bytes converts."""
    v1 = {
        "type": "record",
        "name": "row",
        "fields": [
            {"name": "id", "type": "int"},
            {"name": "legacy", "type": "string"},  # dropped in v2
            {"name": "score", "type": "float"},
            {"name": "name", "type": "string"},
        ],
    }
    v2 = {
        "type": "record",
        "name": "row",
        "fields": [
            {"name": "id", "type": "long"},  # promoted
            {"name": "score", "type": "double"},  # promoted
            {"name": "name", "type": "bytes"},  # string→bytes
            {"name": "added", "type": ["null", "string"], "default": None},
            {"name": "n_tries", "type": "long", "default": 3},
        ],
    }
    p = str(tmp_path / "v1.avro")
    write_container(p, v1, iter([(1, "old", 1.5, "a"), (2, "x", -2.0, "b")]))
    schema, rows = read_file_records(p, reader_schema=v2)
    assert schema == v2
    assert list(rows) == [(1, 1.5, b"a", None, 3), (2, -2.0, b"b", None, 3)]


def test_schema_evolution_aliases_and_nested(tmp_path):
    """Reader field `aliases` match renamed writer fields, including inside
    nested records; writer union reads as reader non-nullable after rename."""
    v1 = {
        "type": "record",
        "name": "row",
        "fields": [
            {"name": "id", "type": "long"},
            {
                "name": "loc",
                "type": {
                    "type": "record",
                    "name": "loc_t",
                    "fields": [
                        {"name": "town", "type": "string"},
                        {"name": "zip", "type": "int"},
                    ],
                },
            },
        ],
    }
    v2 = {
        "type": "record",
        "name": "row",
        "fields": [
            {"name": "id", "type": "long"},
            {
                "name": "loc",
                "type": {
                    "type": "record",
                    "name": "loc_t",
                    "fields": [
                        {"name": "city", "aliases": ["town"], "type": "string"},
                        {"name": "zip", "type": "long"},
                    ],
                },
            },
        ],
    }
    p = str(tmp_path / "n.avro")
    write_container(p, v1, iter([(7, {"town": "paris", "zip": 75001})]))
    _, rows = read_file_records(p, reader_schema=v2)
    assert list(rows) == [(7, {"city": "paris", "zip": 75001})]


def test_schema_evolution_missing_default_raises(tmp_path):
    v1 = {"type": "record", "name": "row", "fields": [{"name": "a", "type": "long"}]}
    v2 = {
        "type": "record",
        "name": "row",
        "fields": [
            {"name": "a", "type": "long"},
            {"name": "b", "type": "string"},  # no default → must fail
        ],
    }
    p = str(tmp_path / "m.avro")
    write_container(p, v1, iter([(1,)]))
    with pytest.raises(ValueError, match="no default"):
        _, rows = read_file_records(p, reader_schema=v2)
        list(rows)


def test_schema_evolution_spark_level(spark, tmp_path):
    """read_avro(reader_schema=...) + the avrolite DS readerSchema option:
    a directory holding v1 AND v2 files reads uniformly under the v2 reader
    schema, distributed."""
    out = str(tmp_path / "evo")
    import os as _os

    _os.makedirs(out)
    v1 = {
        "type": "record",
        "name": "row",
        "fields": [
            {"name": "id", "type": "int"},
            {"name": "name", "type": "string"},
        ],
    }
    v2 = {
        "type": "record",
        "name": "row",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "name", "type": "string"},
            {"name": "lang", "type": "string", "default": "en"},
        ],
    }
    write_container(out + "/a-v1.avro", v1, iter([(1, "one"), (2, "two")]))
    write_container(out + "/b-v2.avro", v2, iter([(3, "drei", "de")]))
    got = read_avro(spark, out, reader_schema=v2)
    assert [f.name for f in got.schema.fields] == ["id", "name", "lang"]
    assert sorted(tuple(r) for r in got.collect()) == [
        (1, "one", "en"),
        (2, "two", "en"),
        (3, "drei", "de"),
    ]
    # same through the official data source
    import json as _json

    spark.dataSource.register(__import__(
        "mcp_clickhouse_spark.sources.avro_lite", fromlist=["AvroLiteDataSource"]
    ).AvroLiteDataSource)
    ds = (
        spark.read.format("avrolite")
        .option("path", out)
        .option("readerSchema", _json.dumps(v2))
        .load()
    )
    assert sorted(tuple(r) for r in ds.collect()) == [
        (1, "one", "en"),
        (2, "two", "en"),
        (3, "drei", "de"),
    ]


def test_timestamp_instant_vs_ntz_logical_types(spark, tmp_path):
    """TimestampType ↔ timestamp-micros (UTC instant) and TimestampNTZType ↔
    local-timestamp-micros, per the reference spark-avro mapping (r4 advice:
    both previously collapsed onto timestamp-micros/NTZ). The instant must
    survive a NON-UTC session round trip."""
    df = spark.createDataFrame(
        [(1, datetime.datetime(2024, 3, 10, 12, 0, 0), datetime.datetime(2024, 3, 10, 7, 0, 0))],
        "id long, t_instant timestamp, t_wall timestamp_ntz",
    )
    from mcp_clickhouse_spark.sources.avro_lite import spark_schema_to_avro

    avro = spark_schema_to_avro(df.schema)

    def logical(t):  # unwrap the nullable union createDataFrame produces
        if isinstance(t, list):
            t = [b for b in t if b != "null"][0]
        return t["logicalType"]

    types = {f["name"]: f["type"] for f in avro["fields"]}
    assert logical(types["t_instant"]) == "timestamp-micros"
    assert logical(types["t_wall"]) == "local-timestamp-micros"
    out = str(tmp_path / "ts")
    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    # pin the instant's identity before any tz games
    want_us = df.select(F.unix_micros("t_instant").alias("us")).first().us
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        write_avro(df, out)
        got = read_avro(spark, out)
        assert dict(got.dtypes) == {
            "id": "bigint",
            "t_instant": "timestamp",
            "t_wall": "timestamp_ntz",
        }
        # the instant is the same point in time (collect() would render it
        # in session-local clock, so compare epoch micros); the NTZ wall
        # clock is verbatim
        row = got.select(
            F.unix_micros("t_instant").alias("us"), "t_wall"
        ).first()
        assert row.us == want_us
        assert row.t_wall == datetime.datetime(2024, 3, 10, 7, 0, 0)
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)


def test_schema_evolution_property_fuzz():
    """Property fuzz: v1-written rows read under a v2 reader (promotion,
    default injection, field drop) always resolve per spec."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    v1 = {
        "type": "record",
        "name": "row",
        "fields": [
            {"name": "a", "type": "int"},
            {"name": "drop_me", "type": ["null", "string"]},
            {"name": "f", "type": "float"},
            {"name": "arr", "type": {"type": "array", "items": "int"}},
        ],
    }
    v2 = {
        "type": "record",
        "name": "row",
        "fields": [
            {"name": "a", "type": "double"},
            {"name": "f", "type": "double"},
            {"name": "arr", "type": {"type": "array", "items": "long"}},
            {"name": "tag", "type": "string", "default": "none"},
        ],
    }
    ints = st.integers(min_value=-(2**31), max_value=2**31 - 1)
    rows_strategy = st.lists(
        st.tuples(
            ints,
            st.none() | st.text(max_size=20),
            st.floats(allow_nan=False, width=32),
            st.lists(ints, max_size=6),
        ),
        max_size=25,
    )

    @settings(max_examples=40, deadline=None)
    @given(rows=rows_strategy, codec=st.sampled_from(CODECS))
    def run(rows, codec):
        import tempfile

        with tempfile.NamedTemporaryFile(suffix=".avro", delete=True) as f:
            write_container(f.name, v1, iter(rows), codec=codec)
            _, got = read_file_records(f.name, reader_schema=v2)
            want = [(float(a), float(fl), list(arr), "none") for a, _, fl, arr in rows]
            assert list(got) == want

    run()


def test_container_round_trip_property():
    """Property fuzz: arbitrary rows of (long, nullable string, double,
    nullable long-array) survive the container codec bit-exactly."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    schema = {
        "type": "record",
        "name": "row",
        "fields": [
            {"name": "a", "type": "long"},
            {"name": "b", "type": ["null", "string"]},
            {"name": "c", "type": "double"},
            {"name": "d", "type": ["null", {"type": "array", "items": "long"}]},
        ],
    }
    longs = st.integers(min_value=-(2**63), max_value=2**63 - 1)
    rows_strategy = st.lists(
        st.tuples(
            longs,
            st.none() | st.text(max_size=40),
            st.floats(allow_nan=False, width=64),
            st.none() | st.lists(longs, max_size=8),
        ),
        max_size=30,
    )

    @settings(max_examples=60, deadline=None)
    @given(rows=rows_strategy, codec=st.sampled_from(CODECS))
    def run(rows, codec):
        import tempfile

        with tempfile.NamedTemporaryFile(suffix=".avro", delete=True) as f:
            write_container(f.name, schema, iter(rows), codec=codec)
            _, got = read_file_records(f.name)
            assert list(got) == [tuple(r) for r in rows]

    run()


@pytest.mark.skipif(not _snappy_supported(), reason="pyarrow built without snappy")
def test_round_trip_snappy(spark, sample, tmp_path):
    """Spec §Required Codecs: snappy block + big-endian CRC32-of-uncompressed."""
    out = str(tmp_path / "avro_snappy")
    write_avro(sample, out, codec="snappy")
    got = read_avro(spark, out)
    assert got.schema == sample.schema
    assert _collect_sorted(got) == _collect_sorted(sample)


@pytest.mark.skipif(not _snappy_supported(), reason="pyarrow built without snappy")
def test_snappy_crc_detects_corruption(tmp_path):
    schema = {
        "type": "record",
        "name": "row",
        "fields": [{"name": "a", "type": "long"}, {"name": "b", "type": "string"}],
    }
    p = str(tmp_path / "s.avro")
    write_container(p, schema, iter([(i, "x" * 50) for i in range(100)]), codec="snappy")
    raw = bytearray(open(p, "rb").read())
    raw[-17] ^= 0xFF  # flip the CRC's last byte (just before the 16-byte sync)
    open(p, "wb").write(bytes(raw))
    _, rows = read_file_records(p)
    with pytest.raises(Exception):  # CRC mismatch or snappy frame error
        list(rows)


def test_unknown_codec_rejected_on_write(tmp_path):
    schema = {"type": "record", "name": "row", "fields": [{"name": "a", "type": "long"}]}
    with pytest.raises(ValueError, match="unsupported avro codec"):
        write_container(str(tmp_path / "z.avro"), schema, iter([(1,)]), codec="zstandard")


def test_schema_resolution_logical_vs_underlying_primitive(tmp_path):
    """Spec: logicalType does not participate in resolution — a plain long
    written by v1 must read under a v2 timestamp-micros reader field (and
    the reverse direction back to plain long)."""
    import datetime

    v1 = {
        "type": "record",
        "name": "row",
        "fields": [{"name": "id", "type": "long"}, {"name": "ts", "type": "long"}],
    }
    v2 = {
        "type": "record",
        "name": "row",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "ts", "type": {"type": "long", "logicalType": "timestamp-micros"}},
        ],
    }
    micros = 1704067200000000  # 2024-01-01T00:00:00Z
    p = str(tmp_path / "lt.avro")
    write_container(p, v1, iter([(1, micros)]))
    _, rows = read_file_records(p, reader_schema=v2)
    (row,) = list(rows)
    assert isinstance(row[1], datetime.datetime)
    # reverse: logical writer read as plain long
    p2 = str(tmp_path / "lt2.avro")
    write_container(p2, v2, iter([(1, row[1])]))
    _, rows2 = read_file_records(p2, reader_schema=v1)
    assert list(rows2) == [(1, micros)]


@pytest.mark.skipif(not _snappy_supported(), reason="pyarrow built without snappy")
def test_snappy_truncated_block_raises_value_error(tmp_path):
    schema = {"type": "record", "name": "row", "fields": [{"name": "a", "type": "long"}]}
    p = str(tmp_path / "tr.avro")
    write_container(p, schema, iter([(i,) for i in range(50)]), codec="snappy")
    raw = open(p, "rb").read()
    # find the block: header ends with the 16-byte sync; block = counts + payload + sync
    # truncate the payload to 3 bytes by rewriting the block by hand is fiddly —
    # instead corrupt the varint so the scanner runs off the end of a tiny payload
    from mcp_clickhouse_spark.sources.avro_lite import _snappy_block_decompress

    with pytest.raises(ValueError, match="truncated"):
        _snappy_block_decompress(b"\xff\xff")  # shorter than CRC suffix
    with pytest.raises(ValueError, match="truncated"):
        _snappy_block_decompress(b"\xff\xff\xff\xff\xff\xff")  # varint runs past end
