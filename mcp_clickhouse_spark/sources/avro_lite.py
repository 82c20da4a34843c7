"""Pure-Python Avro object-container codec with distributed Spark plumbing.

The reference promises the Avro format in its chDB mode
(reference chdb_prompt.py:57-60).  This environment has neither the
spark-avro connector jar, network access to fetch it, nor a Python avro
library — so this module implements the public Avro 1.11 object-container
specification directly (header: magic ``Obj\\x01`` + metadata map + 16-byte
sync marker; then length-prefixed blocks of binary-encoded records;
zigzag-varint primitives), for the schema subset an analytics engine
actually exchanges:

  - primitives: null, boolean, int, long, float, double, bytes, string
  - logical types on read/write: timestamp-micros (Spark TimestampType —
    a UTC instant, matching the reference spark-avro connector's mapping),
    local-timestamp-micros (TimestampNTZType), date
  - records (top-level row type AND nested — read as Spark structs),
    arrays, maps (string keys), enums (as symbol strings), fixed (as bytes)
  - nullable fields as the 2-branch union ``["null", T]``
  - codecs: ``null``, ``deflate`` (zlib) and ``snappy`` (pyarrow's raw
    snappy + the spec's 4-byte big-endian CRC32-of-uncompressed suffix),
    all in both directions
  - READER-SCHEMA RESOLUTION per spec §Schema Resolution: pass
    ``reader_schema=`` to :func:`read_avro` / ``readerSchema`` option on the
    data source — field defaults for writer-missing fields, skipped
    writer-only fields, reader-field ``aliases`` matching, numeric
    promotions (int→long/float/double, long→float/double, float→double)
    and string↔bytes, recursively through records/arrays/maps/unions

Spark integration is genuinely distributed: reads go through one reader,
the Python Data Source :class:`AvroLiteDataSource`, with one task per
container file (Avro files are the natural split unit; block-level
splitting within one file is a noted non-goal), and :func:`write_avro`
emits one container file per partition from the executors.  In local mode
executors share the filesystem; on a cluster the same code runs against
any fuse-mounted/shared path — object-store writes would swap the
``open()`` for the store's client.
"""

from __future__ import annotations

import io
import json
import os
import struct
import zlib
from dataclasses import dataclass
from glob import glob
from typing import Any, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition


_MAGIC = b"Obj\x01"
_SYNC = b"mcp-spark-avrolt"  # deterministic 16-byte sync marker for writes


# Avro spec §Required Codecs: a snappy block is the raw-snappy-compressed
# data followed by the 4-byte big-endian CRC32 of the UNCOMPRESSED data.
# pyarrow ships raw snappy (pa.compress/pa.decompress) in this environment;
# python-snappy does not exist here, so gate on pyarrow's codec support.
def _snappy_supported() -> bool:
    try:
        import pyarrow as pa

        pa.compress(b"", codec="snappy", asbytes=True)
        return True
    except Exception:  # pragma: no cover — pyarrow built without snappy
        return False


def _snappy_block_compress(data: bytes) -> bytes:
    import pyarrow as pa

    comp = pa.compress(data, codec="snappy", asbytes=True)
    return comp + struct.pack(">I", zlib.crc32(data) & 0xFFFFFFFF)


def _snappy_block_decompress(payload: bytes) -> bytes:
    import pyarrow as pa

    if len(payload) < 5:
        raise ValueError("avro snappy block truncated (corrupt block)")
    comp, crc = payload[:-4], payload[-4:]
    # Raw snappy streams lead with the uncompressed length as a little-
    # endian base-128 varint — pa.decompress needs that size up front.
    size = shift = i = 0
    while True:
        if i >= len(comp):
            raise ValueError("avro snappy block truncated (corrupt block)")
        b = comp[i]
        size |= (b & 0x7F) << shift
        i += 1
        shift += 7
        if not (b & 0x80):
            break
    data = pa.decompress(comp, decompressed_size=size, codec="snappy", asbytes=True)
    if struct.pack(">I", zlib.crc32(data) & 0xFFFFFFFF) != crc:
        raise ValueError("avro snappy block CRC32 mismatch (corrupt block)")
    return data


# ---------------------------------------------------------------- primitives
def _zigzag_encode(n: int) -> bytes:
    z = (n << 1) ^ (n >> 63)
    out = bytearray()
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _zigzag_decode(buf: io.BytesIO) -> int:
    shift = 0
    acc = 0
    while True:
        byte = buf.read(1)
        if not byte:
            raise EOFError("truncated varint")
        b = byte[0]
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    return (acc >> 1) ^ -(acc & 1)


def _read_bytes(buf: io.BytesIO) -> bytes:
    n = _zigzag_decode(buf)
    return buf.read(n)


def _write_bytes(out: bytearray, b: bytes) -> None:
    out += _zigzag_encode(len(b))
    out += b


# ---------------------------------------------------------------- schema map
_PRIM_TO_SPARK = {
    "boolean": T.BooleanType(),
    "int": T.IntegerType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "bytes": T.BinaryType(),
    "string": T.StringType(),
}

_SPARK_TO_AVRO = {
    "boolean": "boolean",
    "integer": "int",
    "long": "long",
    "float": "float",
    "double": "double",
    "binary": "bytes",
    "string": "string",
}


def _avro_type_to_spark(t: Any) -> tuple[T.DataType, bool]:
    """(spark type, nullable) for one avro field type."""
    if isinstance(t, list):  # union — only ["null", T] supported
        branches = [b for b in t if b != "null"]
        if len(branches) != 1 or "null" not in t:
            raise ValueError(f"unsupported avro union {t!r} (only nullable)")
        inner, _ = _avro_type_to_spark(branches[0])
        return inner, True
    if isinstance(t, dict):
        logical = t.get("logicalType")
        if logical == "timestamp-micros":
            # a UTC instant — Spark TimestampType, as the reference
            # spark-avro connector maps it (r4 advice: NTZ here silently
            # changed the type class on round-trip)
            return T.TimestampType(), False
        if logical == "local-timestamp-micros":
            return T.TimestampNTZType(), False
        if logical == "date":
            return T.DateType(), False
        kind = t.get("type")
        if kind == "array":
            inner, _ = _avro_type_to_spark(t["items"])
            return T.ArrayType(inner), False
        if kind == "map":
            inner, _ = _avro_type_to_spark(t["values"])
            return T.MapType(T.StringType(), inner), False
        if kind == "enum":
            return T.StringType(), False  # surfaced as the symbol string
        if kind == "fixed":
            return T.BinaryType(), False
        if kind == "record":
            fields = []
            for f in t["fields"]:
                dt, nullable = _avro_type_to_spark(f["type"])
                fields.append(T.StructField(f["name"], dt, nullable))
            return T.StructType(fields), False
        return _avro_type_to_spark(kind)
    if t in _PRIM_TO_SPARK:
        return _PRIM_TO_SPARK[t], False
    raise ValueError(f"unsupported avro type {t!r}")


def avro_schema_to_spark(schema: dict) -> T.StructType:
    if schema.get("type") != "record":
        raise ValueError("top-level avro schema must be a record")
    fields = []
    for f in schema["fields"]:
        dt, nullable = _avro_type_to_spark(f["type"])
        fields.append(T.StructField(f["name"], dt, nullable))
    return T.StructType(fields)


def spark_schema_to_avro(schema: T.StructType, name: str = "row") -> dict:
    fields = []
    for f in schema.fields:
        t = f.dataType.typeName()
        avro_t: Any
        if t in _SPARK_TO_AVRO:
            avro_t = _SPARK_TO_AVRO[t]
        elif t == "timestamp":
            avro_t = {"type": "long", "logicalType": "timestamp-micros"}
        elif t == "timestamp_ntz":
            avro_t = {"type": "long", "logicalType": "local-timestamp-micros"}
        elif t == "date":
            avro_t = {"type": "int", "logicalType": "date"}
        elif t == "array":
            item = f.dataType.elementType.typeName()
            if item not in _SPARK_TO_AVRO:
                raise ValueError(f"unsupported avro array item type {item}")
            avro_t = {"type": "array", "items": _SPARK_TO_AVRO[item]}
        elif t == "map":
            if f.dataType.keyType.typeName() != "string":
                raise ValueError("avro maps require string keys")
            val = f.dataType.valueType.typeName()
            if val not in _SPARK_TO_AVRO:
                raise ValueError(f"unsupported avro map value type {val}")
            avro_t = {"type": "map", "values": _SPARK_TO_AVRO[val]}
        elif t == "struct":
            avro_t = spark_schema_to_avro(f.dataType, name=f"{name}_{f.name}")
        else:
            raise ValueError(f"unsupported spark type for avro write: {t}")
        if f.nullable:
            avro_t = ["null", avro_t]
        fields.append({"name": f.name, "type": avro_t})
    return {"type": "record", "name": name, "fields": fields}


# ------------------------------------------------------------------ decoding
def _decoder_for(t: Any):
    """Return fn(buf) -> python value for one avro type."""
    if isinstance(t, list):
        branches = [b for b in t if b != "null"]
        null_idx = t.index("null")
        inner = _decoder_for(branches[0])

        def dec_union(buf, _n=null_idx, _inner=inner):
            idx = _zigzag_decode(buf)
            return None if idx == _n else _inner(buf)

        return dec_union
    if isinstance(t, dict):
        logical = t.get("logicalType")
        if logical == "timestamp-micros":
            # UTC instant: tz-aware so the Arrow boundary converts it
            # correctly in ANY session timezone
            return lambda buf: pd.Timestamp(_zigzag_decode(buf), unit="us", tz="UTC")
        if logical == "local-timestamp-micros":
            return lambda buf: pd.Timestamp(_zigzag_decode(buf), unit="us")
        if logical == "date":
            return lambda buf: pd.Timestamp(_zigzag_decode(buf), unit="D").date()
        kind = t.get("type")
        if kind == "array":
            item = _decoder_for(t["items"])

            def dec_array(buf, _item=item):
                out = []
                while True:
                    n = _zigzag_decode(buf)
                    if n == 0:
                        return out
                    if n < 0:  # block form: negative count then byte size
                        n = -n
                        _zigzag_decode(buf)
                    for _ in range(n):
                        out.append(_item(buf))

            return dec_array
        if kind == "map":
            val = _decoder_for(t["values"])

            def dec_map(buf, _val=val):
                out = {}
                while True:
                    n = _zigzag_decode(buf)
                    if n == 0:
                        return out
                    if n < 0:
                        n = -n
                        _zigzag_decode(buf)
                    for _ in range(n):
                        k = _read_bytes(buf).decode("utf-8")
                        out[k] = _val(buf)

            return dec_map
        if kind == "enum":
            symbols = list(t["symbols"])
            return lambda buf, _s=symbols: _s[_zigzag_decode(buf)]
        if kind == "fixed":
            size = int(t["size"])
            return lambda buf, _n=size: buf.read(_n)
        if kind == "record":
            names = [f["name"] for f in t["fields"]]
            decs = [_decoder_for(f["type"]) for f in t["fields"]]

            def dec_record(buf, _names=names, _decs=decs):
                return {k: d(buf) for k, d in zip(_names, _decs)}

            return dec_record
        return _decoder_for(kind)
    if t == "boolean":
        return lambda buf: buf.read(1) == b"\x01"
    if t in ("int", "long"):
        return _zigzag_decode
    if t == "float":
        return lambda buf: struct.unpack("<f", buf.read(4))[0]
    if t == "double":
        return lambda buf: struct.unpack("<d", buf.read(8))[0]
    if t == "bytes":
        return _read_bytes
    if t == "string":
        return lambda buf: _read_bytes(buf).decode("utf-8")
    raise ValueError(f"unsupported avro type {t!r}")


def _encoder_for(t: Any):
    """Return fn(out: bytearray, value) for one avro type."""
    if isinstance(t, list):
        branches = [b for b in t if b != "null"]
        null_idx = t.index("null")
        val_idx = 1 - null_idx
        inner = _encoder_for(branches[0])

        def enc_union(out, v, _inner=inner):
            if v is None or v is pd.NaT or (isinstance(v, float) and pd.isna(v)):
                out += _zigzag_encode(null_idx)
            else:
                out += _zigzag_encode(val_idx)
                _inner(out, v)

        return enc_union
    if isinstance(t, dict):
        logical = t.get("logicalType")
        if logical in ("timestamp-micros", "local-timestamp-micros"):
            # both encode µs-since-epoch of the value they are handed;
            # write_avro normalizes TimestampType columns to UTC beforehand
            return lambda out, v: out.__iadd__(_zigzag_encode(int(pd.Timestamp(v).value // 1000)))
        if logical == "date":
            return lambda out, v: out.__iadd__(
                _zigzag_encode((pd.Timestamp(v) - pd.Timestamp(0)).days)
            )
        kind = t.get("type")
        if kind == "array":
            item = _encoder_for(t["items"])

            def enc_array(out, v, _item=item):
                v = list(v)
                if v:
                    out += _zigzag_encode(len(v))
                    for x in v:
                        _item(out, x)
                out += _zigzag_encode(0)

            return enc_array
        if kind == "map":
            val = _encoder_for(t["values"])

            def enc_map(out, v, _val=val):
                items = list(dict(v).items())
                if items:
                    out += _zigzag_encode(len(items))
                    for k, x in items:
                        _write_bytes(out, str(k).encode("utf-8"))
                        _val(out, x)
                out += _zigzag_encode(0)

            return enc_map
        if kind == "enum":
            index = {s: i for i, s in enumerate(t["symbols"])}
            return lambda out, v, _ix=index: out.__iadd__(_zigzag_encode(_ix[str(v)]))
        if kind == "fixed":
            size = int(t["size"])

            def enc_fixed(out, v, _n=size):
                b = bytes(v)
                if len(b) != _n:
                    raise ValueError(f"fixed({_n}) got {len(b)} bytes")
                out += b

            return enc_fixed
        if kind == "record":
            names = [f["name"] for f in t["fields"]]
            encs = [_encoder_for(f["type"]) for f in t["fields"]]

            def enc_record(out, v, _names=names, _encs=encs):
                if hasattr(v, "asDict"):
                    v = v.asDict()
                if isinstance(v, dict):
                    vals = [v[k] for k in _names]
                else:  # tuple/Row-like positional
                    vals = list(v)
                for e, x in zip(_encs, vals):
                    e(out, x)

            return enc_record
        return _encoder_for(kind)
    if t == "boolean":
        return lambda out, v: out.__iadd__(b"\x01" if v else b"\x00")
    if t in ("int", "long"):
        return lambda out, v: out.__iadd__(_zigzag_encode(int(v)))
    if t == "float":
        return lambda out, v: out.__iadd__(struct.pack("<f", float(v)))
    if t == "double":
        return lambda out, v: out.__iadd__(struct.pack("<d", float(v)))
    if t == "bytes":
        return lambda out, v: _write_bytes(out, bytes(v))
    if t == "string":
        return lambda out, v: _write_bytes(out, str(v).encode("utf-8"))
    raise ValueError(f"unsupported avro type {t!r}")


# ------------------------------------------------------- schema resolution
def _kind(t: Any) -> str:
    """Canonical type tag for resolution matching: logical types keep their
    logicalType name, named complex types their kind, primitives themselves."""
    if isinstance(t, list):
        return "union"
    if isinstance(t, dict):
        logical = t.get("logicalType")
        if logical:
            return str(logical)
        kind = t.get("type")
        if kind in ("record", "array", "map", "enum", "fixed"):
            return str(kind)
        return _kind(kind)
    return str(t)


def _skipper(t: Any):
    """fn(buf) -> None that consumes one value of writer type ``t`` — how a
    reader passes over writer-only fields (spec: 'the field is ignored')."""
    if isinstance(t, list):
        branch_skips = [_skipper(b) for b in t]

        def skip_union(buf, _s=branch_skips):
            _s[_zigzag_decode(buf)](buf)

        return skip_union
    if isinstance(t, dict):
        if t.get("logicalType"):
            return _skipper(t["type"])
        kind = t.get("type")
        if kind == "array" or kind == "map":
            inner = (
                _skipper(t["items"]) if kind == "array" else None
            )
            val = _skipper(t["values"]) if kind == "map" else None

            def skip_blocks(buf, _item=inner, _val=val, _is_map=(kind == "map")):
                while True:
                    n = _zigzag_decode(buf)
                    if n == 0:
                        return
                    if n < 0:  # block form carries byte size → fast skip
                        size = _zigzag_decode(buf)
                        buf.seek(size, os.SEEK_CUR)
                        continue
                    for _ in range(n):
                        if _is_map:
                            _read_bytes(buf)
                            _val(buf)
                        else:
                            _item(buf)

            return skip_blocks
        if kind == "enum":
            return lambda buf: _zigzag_decode(buf) and None
        if kind == "fixed":
            size = int(t["size"])
            return lambda buf, _n=size: buf.seek(_n, os.SEEK_CUR) and None
        if kind == "record":
            skips = [_skipper(f["type"]) for f in t["fields"]]

            def skip_record(buf, _s=skips):
                for s in _s:
                    s(buf)

            return skip_record
        return _skipper(kind)
    if t == "null":
        return lambda buf: None
    if t == "boolean":
        return lambda buf: buf.seek(1, os.SEEK_CUR) and None
    if t in ("int", "long"):
        return lambda buf: _zigzag_decode(buf) and None
    if t == "float":
        return lambda buf: buf.seek(4, os.SEEK_CUR) and None
    if t == "double":
        return lambda buf: buf.seek(8, os.SEEK_CUR) and None
    if t in ("bytes", "string"):
        return lambda buf: buf.seek(_zigzag_decode(buf), os.SEEK_CUR) and None
    raise ValueError(f"unsupported avro type {t!r}")


# writer-kind → reader-kind promotions (spec §Schema Resolution) with the
# post-decode conversion each one needs
_PROMOTE = {
    ("int", "long"): lambda v: v,
    ("int", "float"): float,
    ("int", "double"): float,
    ("long", "float"): float,
    ("long", "double"): float,
    ("float", "double"): lambda v: v,
    ("string", "bytes"): lambda v: v.encode("utf-8"),
    ("bytes", "string"): lambda v: v.decode("utf-8"),
}


def _default_value(t: Any, d: Any) -> Any:
    """A reader-field JSON default → runtime value (spec: the default is
    interpreted against the FIRST union branch)."""
    if isinstance(t, list):
        return None if t[0] == "null" else _default_value(t[0], d)
    if isinstance(t, dict):
        logical = t.get("logicalType")
        if logical == "timestamp-micros":
            return pd.Timestamp(int(d), unit="us", tz="UTC")
        if logical == "local-timestamp-micros":
            return pd.Timestamp(int(d), unit="us")
        if logical == "date":
            return pd.Timestamp(int(d), unit="D").date()
        kind = t.get("type")
        if kind == "array":
            return [_default_value(t["items"], x) for x in d]
        if kind == "map":
            return {k: _default_value(t["values"], v) for k, v in dict(d).items()}
        if kind == "enum":
            return str(d)
        if kind == "fixed":
            return str(d).encode("latin-1")  # spec: bytes defaults are \u00XX strings
        if kind == "record":
            return {
                f["name"]: _default_value(f["type"], d.get(f["name"], f.get("default")))
                for f in t["fields"]
            }
        return _default_value(kind, d)
    if t == "null":
        return None
    if t == "bytes":
        return str(d).encode("latin-1")
    if t in ("float", "double"):
        return float(d)
    if t in ("int", "long"):
        return int(d)
    return d


def _resolver(w: Any, r: Any):
    """fn(buf) -> value decoding writer type ``w`` as reader type ``r``
    (spec §Schema Resolution). Raises ValueError on unresolvable pairs."""
    # identical shapes take the fast path — no per-value conversion
    if w == r:
        return _decoder_for(w)
    if isinstance(w, list):  # writer union: resolve each branch
        branch_fns = [_resolver(b, r) if b != "null" else (lambda buf: None) for b in w]

        def dec_wunion(buf, _b=branch_fns):
            return _b[_zigzag_decode(buf)](buf)

        return dec_wunion
    if isinstance(r, list):  # writer non-union read as reader union: first match
        last_err = None
        for branch in r:
            if branch == "null" and w != "null":
                continue
            try:
                return _resolver(w, branch)
            except ValueError as e:
                last_err = e
        raise ValueError(f"no reader union branch matches writer {w!r}: {last_err}")
    wk, rk = _kind(w), _kind(r)
    if wk == rk:
        if wk == "record":
            return _record_resolver(w, r)
        if wk == "array":
            item = _resolver(w["items"], r["items"])

            def dec_array(buf, _item=item):
                out = []
                while True:
                    n = _zigzag_decode(buf)
                    if n == 0:
                        return out
                    if n < 0:
                        n = -n
                        _zigzag_decode(buf)
                    for _ in range(n):
                        out.append(_item(buf))

            return dec_array
        if wk == "map":
            val = _resolver(w["values"], r["values"])

            def dec_map(buf, _val=val):
                out = {}
                while True:
                    n = _zigzag_decode(buf)
                    if n == 0:
                        return out
                    if n < 0:
                        n = -n
                        _zigzag_decode(buf)
                    for _ in range(n):
                        k = _read_bytes(buf).decode("utf-8")
                        out[k] = _val(buf)

            return dec_map
        if wk == "enum":
            wsyms = list(w["symbols"])
            rsyms = set(r["symbols"])
            fallback = r.get("default")

            def dec_enum(buf, _w=wsyms, _r=rsyms, _fb=fallback):
                s = _w[_zigzag_decode(buf)]
                if s in _r:
                    return s
                if _fb is not None:
                    return _fb
                raise ValueError(f"enum symbol {s!r} not in reader schema")

            return dec_enum
        if wk == "fixed":
            if int(w["size"]) != int(r["size"]):
                raise ValueError("fixed size mismatch")
            return _decoder_for(w)
        # same-kind logical/primitive with different spelling ({"type":"long"}
        # vs "long") — decode per writer
        return _decoder_for(w)
    conv = _PROMOTE.get((wk, rk))
    if conv is None:
        # Spec: logicalType is an annotation and does NOT participate in
        # resolution — a logical type and its underlying primitive match.
        # The wire format is identical, so decode per the READER's schema
        # (its logical mapping, if any, applies to the raw value).
        prims = {"null", "boolean", "int", "long", "float", "double", "bytes", "string"}

        def base_of(t: Any) -> str:
            if isinstance(t, dict) and t.get("logicalType"):
                return str(t.get("type"))
            return _kind(t)

        if base_of(w) == base_of(r) and base_of(w) in prims:
            return _decoder_for(r)
        raise ValueError(f"cannot resolve writer {w!r} against reader {r!r}")
    base = _decoder_for(w)
    return lambda buf, _b=base, _c=conv: _c(_b(buf))


def _record_resolver(w: dict, r: dict):
    """Record-vs-record resolution: writer-order decoding with skips for
    writer-only fields, reader defaults for writer-missing fields, reader
    ``aliases`` honored for renames. Returns fn(buf) -> dict."""
    by_name = {f["name"]: f for f in r["fields"]}
    by_alias = {a: f for f in r["fields"] for a in f.get("aliases", [])}
    steps: list[tuple[str | None, Any]] = []
    consumed: set[str] = set()
    for wf in w["fields"]:
        rf = by_name.get(wf["name"]) or by_alias.get(wf["name"])
        if rf is None:
            steps.append((None, _skipper(wf["type"])))
        else:
            consumed.add(rf["name"])
            steps.append((rf["name"], _resolver(wf["type"], rf["type"])))
    defaults: list[tuple[str, Any]] = []
    for rf in r["fields"]:
        if rf["name"] not in consumed:
            if "default" not in rf:
                raise ValueError(
                    f"reader field {rf['name']!r} absent from writer schema "
                    f"and has no default"
                )
            defaults.append((rf["name"], _default_value(rf["type"], rf["default"])))
    order = [f["name"] for f in r["fields"]]

    def dec(buf, _steps=steps, _defaults=defaults, _order=order):
        got = {}
        for name, fn in _steps:
            v = fn(buf)
            if name is not None:
                got[name] = v
        for name, v in _defaults:
            got[name] = v
        return got

    return dec


# ----------------------------------------------------------- container files
def read_header(f) -> tuple[dict, str, bytes]:
    """(schema, codec, sync) from an open binary file positioned at 0."""
    if f.read(4) != _MAGIC:
        raise ValueError("not an avro object container file (bad magic)")
    meta: dict[str, bytes] = {}
    # metadata map uses the same block form as arrays
    while True:
        n = _zigzag_decode(f)
        if n == 0:
            break
        if n < 0:
            n = -n
            _zigzag_decode(f)  # byte size of the block — unused
        for _ in range(n):
            k = _read_bytes(f).decode("utf-8")
            meta[k] = _read_bytes(f)
    schema = json.loads(meta["avro.schema"].decode("utf-8"))
    codec = meta.get("avro.codec", b"null").decode("utf-8")
    sync = f.read(16)
    return schema, codec, sync


def read_file_records(
    path: str, reader_schema: dict | None = None
) -> tuple[dict, Iterator[tuple]]:
    """(schema, iterator of row tuples) for one container file.

    With ``reader_schema``, each file's writer schema is resolved against it
    per the Avro spec (defaults, skips, aliases, promotions) and the returned
    schema/tuples follow the READER schema — so a directory of files written
    under several schema versions reads uniformly.

    Reads the whole file into memory first: container files are
    partition-sized by our own writer and avro block headers are varints
    (not fixed-width), so an in-memory BytesIO is both simplest and fastest
    for the file-per-task granularity this reader uses."""
    with open(path, "rb") as f:
        data = f.read()
    buf = io.BytesIO(data)
    schema, codec, sync = read_header(buf)
    if reader_schema is None:
        decoders = [_decoder_for(fld["type"]) for fld in schema["fields"]]

        def decode_row(block):
            return tuple(dec(block) for dec in decoders)

        out_schema = schema
    else:
        rec = _record_resolver(schema, reader_schema)
        order = [f["name"] for f in reader_schema["fields"]]

        def decode_row(block, _rec=rec, _order=order):
            d = _rec(block)
            return tuple(d[k] for k in _order)

        out_schema = reader_schema

    def rows():
        while True:
            probe = buf.read(1)
            if not probe:
                return
            buf.seek(-1, os.SEEK_CUR)
            n_records = _zigzag_decode(buf)
            n_bytes = _zigzag_decode(buf)
            payload = buf.read(n_bytes)
            if codec == "deflate":
                payload = zlib.decompress(payload, -15)
            elif codec == "snappy":
                payload = _snappy_block_decompress(payload)
            elif codec != "null":
                raise ValueError(f"unsupported avro codec {codec!r}")
            if buf.read(16) != sync:
                raise ValueError("avro sync marker mismatch (corrupt block)")
            block = io.BytesIO(payload)
            for _ in range(n_records):
                yield decode_row(block)

    return out_schema, rows()


def write_container(path: str, schema: dict, rows: Iterator[tuple], codec: str = "deflate") -> int:
    """Write one object-container file; returns the row count."""
    encoders = [_encoder_for(f["type"]) for f in schema["fields"]]
    body = bytearray()
    n = 0
    for row in rows:
        for enc, v in zip(encoders, row):
            enc(body, v)
        n += 1
    payload = bytes(body)
    if codec == "deflate":
        payload = zlib.compress(payload)[2:-4]  # raw deflate: strip zlib wrapper
    elif codec == "snappy":
        payload = _snappy_block_compress(payload)
    elif codec != "null":
        raise ValueError(f"unsupported avro codec {codec!r}")
    header = bytearray()
    header += _MAGIC
    header += _zigzag_encode(2)
    _write_bytes(header, b"avro.schema")
    _write_bytes(header, json.dumps(schema).encode("utf-8"))
    _write_bytes(header, b"avro.codec")
    _write_bytes(header, codec.encode("utf-8"))
    header += _zigzag_encode(0)
    header += _SYNC
    with open(path, "wb") as f:
        f.write(bytes(header))
        if n:
            f.write(_zigzag_encode(n))
            f.write(_zigzag_encode(len(payload)))
            f.write(payload)
            f.write(_SYNC)
    return n


# --------------------------------------------------------------- spark level
def read_avro(
    spark: SparkSession, path: str, reader_schema: dict | str | None = None
) -> DataFrame:
    """Distributed read through :class:`AvroLiteDataSource`: one task per
    container file.

    ``path`` may be a file, a glob, or a directory of ``*.avro`` files.
    Without ``reader_schema``, the schema comes from the first file's header
    (driver-side peek of the header bytes only); with it (dict or JSON
    string), every file's writer schema is RESOLVED against it per the Avro
    spec — the schema-evolution path for data lakes holding several
    generations of files.
    """
    options = {"path": path}
    if reader_schema is not None:
        options["readerSchema"] = (
            reader_schema if isinstance(reader_schema, str) else json.dumps(reader_schema)
        )
    # imported here: Spark's Python workers import this module for every
    # Avro read task and need none of the session module's imports
    from mcp_clickhouse_spark.session import read_data_source

    return read_data_source(spark, AvroLiteDataSource, options)


def write_avro(df: DataFrame, out_dir: str, codec: str = "deflate") -> int:
    """Distributed write: one container file per partition, written from the
    executors; returns total rows written."""
    os.makedirs(out_dir, exist_ok=True)
    avro_schema = spark_schema_to_avro(df.schema)
    cols = df.columns
    # TimestampType columns cross the Arrow boundary as naive datetimes in
    # the SESSION timezone; timestamp-micros encodes a UTC instant, so
    # re-anchor them before encoding (no-op when the session is UTC).
    session_tz = df.sparkSession.conf.get("spark.sql.session.timeZone", "UTC") or "UTC"
    ts_utc = [f.name for f in df.schema.fields if isinstance(f.dataType, T.TimestampType)]

    def write_part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        path = os.path.join(out_dir, f"part-{pid:05d}.avro")

        def rows():
            for pdf in batches:
                for c in ts_utc:
                    col = pdf[c]
                    if getattr(col.dtype, "tz", None) is None:
                        col = col.dt.tz_localize(
                            session_tz, ambiguous=True, nonexistent="shift_forward"
                        )
                    pdf[c] = col.dt.tz_convert("UTC").dt.tz_localize(None)
                for row in pdf.itertuples(index=False):
                    yield tuple(row)

        n = write_container(path, avro_schema, rows(), codec=codec)
        yield pd.DataFrame({"path": [path], "n_rows": [n]})

    stats = df.mapInPandas(write_part, schema="path string, n_rows long").collect()
    return int(sum(r.n_rows for r in stats))


# ----------------------------------------------- official Python Data Source
@dataclass
class _AvroFilePartition(InputPartition):
    path: str


class AvroLiteDataSource(DataSource):
    """``spark.read.format("avrolite").load(path)`` — the one Avro reader
    (:func:`read_avro` reads through it): the container codec above with
    one task per file, via the official Python Data Source API (also usable
    from pure SQL with ``CREATE TEMPORARY VIEW ... USING avrolite``).
    Option ``readerSchema`` (JSON) enables spec schema resolution — each
    file's writer schema is resolved against it on read."""

    @classmethod
    def name(cls) -> str:
        return "avrolite"

    def _files(self) -> list[str]:
        path = self.options.get("path")
        if not path:
            raise ValueError("avrolite requires a path (load(path))")
        if os.path.isdir(path):
            files = sorted(glob(os.path.join(path, "*.avro")))
        else:
            files = sorted(glob(path)) or [path]
        if not files:
            raise FileNotFoundError(f"no avro files at {path!r}")
        return files

    def _reader_schema(self) -> dict | None:
        rs = self.options.get("readerSchema") or self.options.get("readerschema")
        return json.loads(rs) if rs else None

    def schema(self):
        rs = self._reader_schema()
        if rs is not None:
            return avro_schema_to_spark(rs)
        with open(self._files()[0], "rb") as f:
            schema, _, _ = read_header(f)
        return avro_schema_to_spark(schema)

    def reader(self, schema):
        return AvroLiteReader(self._files(), self._reader_schema())


class AvroLiteReader(DataSourceReader):
    def __init__(self, files: list[str], reader_schema: dict | None = None):
        self.files = files
        self.reader_schema = reader_schema

    def partitions(self):
        return [_AvroFilePartition(p) for p in self.files]

    def read(self, partition: _AvroFilePartition):
        _, rows = read_file_records(partition.path, reader_schema=self.reader_schema)
        yield from rows
