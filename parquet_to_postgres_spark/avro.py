"""Avro Object Container File source/sink, pure Python, distributed.

The reference reads only Parquet (``/root/reference/src/main.rs:52``);
``etl.read_source`` generalizes the source matrix (E4).  ORC rides
Spark's built-in datasource, but the ``spark-avro`` module is an
EXTERNAL jar that is not shipped in this environment and installs are
off-limits — so Avro OCF (spec 1.11.x, a public format) is implemented
here in Python (``zlib`` for the deflate codec, pyarrow's libsnappy
binding for snappy) and run THROUGH Spark as one Spark 4 Python Data
Source, ``avro_ocf`` (:class:`AvroOCFDataSource`):

- **read**: one input partition per container file, or per sync-marker
  byte range (``split_bytes``; containers past
  :data:`AUTO_SPLIT_THRESHOLD` split themselves).  Each task decodes its
  range one block at a time.  The ``reader_schema`` option (an Avro
  record schema as JSON) resolves schema-evolved containers by the Avro
  spec's rules; without it, schema drift between files refuses.
- **write**: one container per task, committed two-phase (hidden temp
  file, renamed by the driver's commit).  An input with no partitions
  still leaves one header-only container, so the schema survives:
  Spark runs one write task over an empty partition for it.

Temporal values are converted Python-side by :func:`_temporal_codecs`
with exact integer timedelta arithmetic (never float seconds, never the
session time zone).  :func:`encode_container` / :func:`decode_container`
are the in-memory codec entry points; ``decode_container`` runs the
same range decoder as the Data Source over an in-memory buffer.

Type surface: boolean, int, long, float, double, string, bytes,
date (int/``date``), timestamp (long/``timestamp-micros``), arrays,
maps (string keys), and nested records — nullability as the canonical
``["null", T]`` union; bytes-backed decimals (flat and struct-nested);
on read also enum, fixed, uuid and the millis temporal variants.
Temporal types are supported at the TOP level only (nested temporal
fields raise — honest refusal, same contract as the media decoders).
Paths are posix (local or ``file:``): a Python data source opens its
files with ``open()``.
"""

from __future__ import annotations

import dataclasses
import io
import json
import os
import shutil
import struct
import uuid
import zlib
from hashlib import md5
from typing import Iterator

from pyspark.sql import SparkSession, types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)

MAGIC = b"Obj\x01"

# ------------------------------------------------------------------ codec --

_SPARK_TO_AVRO_PRIM = {
    T.BooleanType: "boolean",
    T.ByteType: "int",
    T.ShortType: "int",
    T.IntegerType: "int",
    T.LongType: "long",
    T.FloatType: "float",
    T.DoubleType: "double",
    T.StringType: "string",
    T.BinaryType: "bytes",
}

_AVRO_TO_SPARK_PRIM = {
    "boolean": T.BooleanType(),
    "int": T.IntegerType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "string": T.StringType(),
    "bytes": T.BinaryType(),
}

_SPARK_TEMPORAL = {
    T.TimestampType: {"type": "long", "logicalType": "timestamp-micros"},
    T.TimestampNTZType: {
        "type": "long",
        "logicalType": "local-timestamp-micros",
    },
    T.DateType: {"type": "int", "logicalType": "date"},
}

_TEMPORAL_LOGICALS = {
    "timestamp-micros": T.TimestampType(),
    "timestamp-millis": T.TimestampType(),
    "local-timestamp-micros": T.TimestampNTZType(),
    "local-timestamp-millis": T.TimestampNTZType(),
    "date": T.DateType(),
}


def spark_to_avro_schema(
    schema: T.StructType, name: str = "row", _top: bool = True
) -> dict:
    """Spark StructType -> Avro record schema (dict, json-dumpable).

    Nullable fields become ``["null", T]`` unions (null FIRST, the
    canonical order, so a null value encodes as index 0)."""
    fields = []
    for f in schema.fields:
        t = _avro_type(f.dataType, f"{name}_{f.name}", _top)
        fields.append(
            {"name": f.name, "type": ["null", t] if f.nullable else t}
        )
    return {"type": "record", "name": name, "fields": fields}


def _avro_type(dt: T.DataType, name: str, top: bool):
    for cls, prim in _SPARK_TO_AVRO_PRIM.items():
        if isinstance(dt, cls):
            return prim
    for cls, logical in _SPARK_TEMPORAL.items():
        if isinstance(dt, cls):
            if not top:
                raise ValueError(
                    f"avro sink: nested {dt.simpleString()} fields "
                    "unsupported (the temporal conversion is top-level "
                    "only)"
                )
            return dict(logical)
    if isinstance(dt, T.DecimalType):
        # bytes-backed decimal (r12): the codec converts Decimal <->
        # big-endian two's-complement unscaled int in the codec
        # itself, so nesting is fine (unlike the top-level-only
        # temporal conversion)
        return {
            "type": "bytes",
            "logicalType": "decimal",
            "precision": dt.precision,
            "scale": dt.scale,
        }
    if isinstance(dt, T.ArrayType):
        if _holds_decimal(dt.elementType):
            raise ValueError(
                "avro sink: decimal inside array/map unsupported "
                "(flat and struct-nested decimals are) — the read side "
                "could not round-trip it (Arrow list<decimal> pandas "
                "conversion gap)"
            )
        item = _avro_type(dt.elementType, name + "_item", False)
        return {
            "type": "array",
            "items": ["null", item] if dt.containsNull else item,
        }
    if isinstance(dt, T.MapType):
        if not isinstance(dt.keyType, T.StringType):
            raise ValueError("avro maps require string keys")
        if _holds_decimal(dt.valueType):
            raise ValueError(
                "avro sink: decimal inside array/map unsupported "
                "(flat and struct-nested decimals are) — the read side "
                "could not round-trip it (Arrow list<decimal> pandas "
                "conversion gap)"
            )
        val = _avro_type(dt.valueType, name + "_value", False)
        return {
            "type": "map",
            "values": ["null", val] if dt.valueContainsNull else val,
        }
    if isinstance(dt, T.StructType):
        return spark_to_avro_schema(dt, name, _top=False)
    raise ValueError(f"avro: unsupported Spark type {dt.simpleString()}")


def avro_to_spark_schema(avro: dict) -> T.StructType:
    """Avro record schema -> Spark StructType.  TOP-LEVEL temporal
    logical types map to Timestamp/TimestampNTZ/Date (the reader emits
    real datetime/date objects, see :func:`_temporal_codecs`).  NESTED
    temporal logicals are refused (the conversion only rewrites
    top-level columns; decoding them silently as raw longs would be
    plausible-but-wrong data — the same honest-refusal contract as the
    write side)."""
    if avro.get("type") != "record":
        raise ValueError("avro: top-level schema must be a record")
    fields = []
    for f in avro["fields"]:
        lt = _logical_of(f["type"])
        if lt in _TEMPORAL_LOGICALS:
            dt, nullable = _TEMPORAL_LOGICALS[lt], isinstance(f["type"], list)
        else:
            dt, nullable = _spark_type(f["type"])
        fields.append(T.StructField(f["name"], dt, nullable))
    return T.StructType(fields)


def _logical_of(node) -> "str | None":
    """The logicalType of a (possibly [null, T]-union) schema node."""
    if isinstance(node, list):
        branches = [b for b in node if b != "null"]
        node = branches[0] if len(branches) == 1 else None
    return node.get("logicalType") if isinstance(node, dict) else None


def _holds_decimal(dt: T.DataType) -> bool:
    if isinstance(dt, T.DecimalType):
        return True
    if isinstance(dt, T.ArrayType):
        return _holds_decimal(dt.elementType)
    if isinstance(dt, T.MapType):
        return _holds_decimal(dt.valueType)
    if isinstance(dt, T.StructType):
        return any(_holds_decimal(f.dataType) for f in dt.fields)
    return False


def _decimal_type(t: dict) -> T.DecimalType:
    """Spark DecimalType for a bytes/fixed decimal logical node —
    precision > 38 refuses (decimal128 is Spark's widest)."""
    p = int(t.get("precision", 0))
    s = int(t.get("scale", 0))
    if not 1 <= p <= 38:
        raise ValueError(
            f"avro decimal precision {p} unsupported (Spark decimals "
            "are <= 38 digits)"
        )
    if not 0 <= s <= p:
        raise ValueError(f"avro decimal scale {s} invalid for precision {p}")
    return T.DecimalType(p, s)


def _spark_type(t) -> "tuple[T.DataType, bool]":
    """Spark type of a schema node below the top level (top-level
    temporal logicals are mapped by :func:`avro_to_spark_schema`)."""
    if isinstance(t, list):  # union
        branches = [b for b in t if b != "null"]
        if len(branches) != 1:
            raise ValueError(f"avro: only [null, T] unions supported: {t}")
        dt, _ = _spark_type(branches[0])
        return dt, True
    if isinstance(t, str):
        if t not in _AVRO_TO_SPARK_PRIM:
            raise ValueError(f"avro: unsupported primitive {t!r}")
        return _AVRO_TO_SPARK_PRIM[t], False
    kind = t["type"]
    if kind in _AVRO_TO_SPARK_PRIM and "logicalType" not in t:
        return _AVRO_TO_SPARK_PRIM[kind], False
    lt = t.get("logicalType")
    if lt == "decimal" and kind in ("bytes", "fixed"):
        # the codec itself converts wire bytes <-> decimal.Decimal
        # (r12), so decimals work NESTED too
        return _decimal_type(t), False
    if lt == "uuid" and kind == "string":
        return T.StringType(), False  # uuid rides its string wire type
    if lt in ("time-millis", "time-micros"):
        # honest refusal: Spark has no TIME-of-day type to carry it;
        # silently surfacing raw wire ints would be
        # plausible-but-wrong data
        raise ValueError(f"avro: logical type {lt!r} unsupported")
    if kind in ("long", "int"):
        if lt in _TEMPORAL_LOGICALS:
            raise ValueError(
                f"avro: nested {lt!r} unsupported (the "
                "temporal conversion is top-level only)"
            )
        return _AVRO_TO_SPARK_PRIM[kind], False  # unknown logical: wire type
    if kind == "enum":
        return T.StringType(), False  # symbols surface as strings
    if kind == "fixed" and lt is None:
        return T.BinaryType(), False
    if kind == "array":
        dt, nullable = _spark_type(t["items"])
        if _holds_decimal(dt):
            # Arrow's pandas NumPyConverter cannot build
            # list<decimal128> from object rows — refuse at schema
            # time instead of dying mid-decode (struct-nested and flat
            # decimals work; r12)
            raise ValueError(
                "avro: decimal inside array/map unsupported "
                "(flat and struct-nested decimals are)"
            )
        return T.ArrayType(dt, nullable), False
    if kind == "map":
        dt, nullable = _spark_type(t["values"])
        if _holds_decimal(dt):
            raise ValueError(
                "avro: decimal inside array/map unsupported "
                "(flat and struct-nested decimals are)"
            )
        return T.MapType(T.StringType(), dt, nullable), False
    if kind == "record":
        fields = []
        for f in t["fields"]:
            dt, nullable = _spark_type(f["type"])
            fields.append(T.StructField(f["name"], dt, nullable))
        return T.StructType(fields), False
    raise ValueError(f"avro: unsupported schema node {t!r}")


# -------------------------------------------------------- binary encoding --


def _zigzag(n: int) -> int:
    return (n << 1) ^ (n >> 63)


def _write_long(out: bytearray, n: int) -> None:
    z = _zigzag(n) & 0xFFFFFFFFFFFFFFFF
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            out.append(b | 0x80)
        else:
            out.append(b)
            return


class _Reader:
    __slots__ = ("buf", "pos")

    def __init__(self, buf: bytes, pos: int = 0):
        self.buf = buf
        self.pos = pos

    def long(self) -> int:
        buf, pos = self.buf, self.pos
        shift = z = 0
        while True:
            b = buf[pos]
            pos += 1
            z |= (b & 0x7F) << shift
            if not b & 0x80:
                break
            shift += 7
        self.pos = pos
        return (z >> 1) ^ -(z & 1)

    def raw(self, n: int) -> bytes:
        p = self.pos
        self.pos = p + n
        return self.buf[p : p + n]


def _encoder(t):
    """Schema node -> value encoder ``fn(out: bytearray, v)``."""
    if isinstance(t, list):
        branches = [b for b in t if b != "null"]
        if len(branches) != 1:
            # refuse like the decode side: coercing a multi-branch
            # union's value through the first branch's encoder would
            # silently corrupt data (r11 second-pass review finding)
            raise ValueError(f"avro: only [null, T] unions supported: {t}")
        inner = _encoder(branches[0])
        null_idx = t.index("null")
        val_idx = 1 - null_idx

        def enc_union(out, v):
            if v is None:
                _write_long(out, null_idx)
            else:
                _write_long(out, val_idx)
                inner(out, v)

        return enc_union
    kind = t if isinstance(t, str) else t["type"]
    if (
        isinstance(t, dict)
        and t.get("logicalType") == "decimal"
        and kind in ("bytes", "fixed")
    ):
        scale = int(t.get("scale", 0))
        size = int(t["size"]) if kind == "fixed" else None

        def enc_decimal(out, v):
            import decimal as _dec

            # EXACT integer arithmetic from as_tuple — context
            # operations like scaleb/quantize silently ROUND to the
            # thread context's 28-digit precision, corrupting wide
            # decimals (caught by the decimal(38,3) round-trip test)
            t = _dec.Decimal(v).as_tuple()
            if not isinstance(t.exponent, int):
                raise ValueError(f"avro decimal: non-finite value {v!r}")
            intval = int("".join(map(str, t.digits)) or "0")
            shift = t.exponent + scale
            if shift >= 0:
                unscaled = intval * 10**shift
            else:
                unscaled, rem = divmod(intval, 10**-shift)
                if rem:
                    raise ValueError(
                        f"avro decimal: value {v} does not fit scale "
                        f"{scale}"
                    )
            if t.sign:
                unscaled = -unscaled
            if size is not None:  # fixed: exactly `size` bytes
                b = unscaled.to_bytes(size, "big", signed=True)
            else:
                # minimal two's-complement length: Python bit_length
                # ignores sign, so -128 (one byte, 0x80) needs the
                # -n-1 form — (bit_length + 8) // 8 alone emitted a
                # redundant 0xff byte for negative exact powers of two
                # (r12 review finding; reference writers are minimal)
                mag = unscaled if unscaled >= 0 else -unscaled - 1
                nbytes = (mag.bit_length() + 8) // 8
                b = unscaled.to_bytes(nbytes, "big", signed=True)
                _write_long(out, len(b))
            out.extend(b)

        return enc_decimal
    if kind == "boolean":
        return lambda out, v: out.append(1 if v else 0)
    if kind in ("int", "long"):
        return lambda out, v: _write_long(out, int(v))
    if kind == "float":
        return lambda out, v: out.extend(struct.pack("<f", float(v)))
    if kind == "double":
        return lambda out, v: out.extend(struct.pack("<d", float(v)))
    if kind == "string":

        def enc_str(out, v):
            b = v.encode("utf-8")
            _write_long(out, len(b))
            out.extend(b)

        return enc_str
    if kind == "bytes":

        def enc_bytes(out, v):
            v = bytes(v)
            _write_long(out, len(v))
            out.extend(v)

        return enc_bytes
    if kind == "array":
        item = _encoder(t["items"])

        def enc_arr(out, v):
            v = list(v)
            if v:
                _write_long(out, len(v))
                for x in v:
                    item(out, x)
            _write_long(out, 0)

        return enc_arr
    if kind == "map":
        val = _encoder(t["values"])

        def enc_map(out, v):
            items = list(v.items())
            if items:
                _write_long(out, len(items))
                for k, x in items:
                    kb = k.encode("utf-8")
                    _write_long(out, len(kb))
                    out.extend(kb)
                    val(out, x)
            _write_long(out, 0)

        return enc_map
    if kind == "record":
        fields = [_encoder(f["type"]) for f in t["fields"]]
        names = [f["name"] for f in t["fields"]]

        def enc_rec(out, v):
            # v: Row/dict/tuple in field order
            if isinstance(v, dict):
                for name, enc in zip(names, fields):
                    enc(out, v[name])
            else:
                for x, enc in zip(v, fields):
                    enc(out, x)

        return enc_rec
    if kind == "fixed":
        size = int(t["size"])

        def enc_fixed(out, v):
            v = bytes(v)
            if len(v) != size:
                raise ValueError(
                    f"avro fixed: {len(v)} bytes for size-{size} field"
                )
            out.extend(v)

        return enc_fixed
    if kind == "enum":
        index = {s: i for i, s in enumerate(t["symbols"])}

        def enc_enum(out, v):
            try:
                _write_long(out, index[v])
            except KeyError:
                raise ValueError(
                    f"avro enum: {v!r} not in symbols {t['symbols']}"
                ) from None

        return enc_enum
    raise ValueError(f"avro: unsupported schema node {t!r}")


def _decoder(t):
    """Schema node -> value decoder ``fn(r: _Reader) -> value``."""
    if isinstance(t, list):
        branch = {i: (None if b == "null" else _decoder(b)) for i, b in enumerate(t)}

        def dec_union(r):
            d = branch[r.long()]
            return None if d is None else d(r)

        return dec_union
    kind = t if isinstance(t, str) else t["type"]
    if (
        isinstance(t, dict)
        and t.get("logicalType") == "decimal"
        and kind in ("bytes", "fixed")
    ):
        scale = int(t.get("scale", 0))
        size = int(t["size"]) if kind == "fixed" else None

        def dec_decimal(r):
            import decimal as _dec

            b = bytes(r.raw(size if size is not None else r.long()))
            unscaled = int.from_bytes(b, "big", signed=True)
            # string construction is EXACT at any width — scaleb is a
            # context op that rounds to 28 digits (see enc_decimal)
            return _dec.Decimal(f"{unscaled}E-{scale}")

        return dec_decimal
    if kind == "boolean":
        return lambda r: r.raw(1) == b"\x01"
    if kind in ("int", "long"):
        return lambda r: r.long()
    if kind == "float":
        return lambda r: struct.unpack("<f", r.raw(4))[0]
    if kind == "double":
        return lambda r: struct.unpack("<d", r.raw(8))[0]
    if kind == "string":
        return lambda r: r.raw(r.long()).decode("utf-8")
    if kind == "bytes":
        return lambda r: bytes(r.raw(r.long()))
    if kind == "array":
        item = _decoder(t["items"])

        def dec_arr(r):
            out = []
            while True:
                n = r.long()
                if n == 0:
                    return out
                if n < 0:  # block-size form: size prefix, then |n| items
                    r.long()
                    n = -n
                for _ in range(n):
                    out.append(item(r))

        return dec_arr
    if kind == "map":
        val = _decoder(t["values"])

        def dec_map(r):
            out = {}
            while True:
                n = r.long()
                if n == 0:
                    return out
                if n < 0:
                    r.long()
                    n = -n
                for _ in range(n):
                    k = r.raw(r.long()).decode("utf-8")
                    out[k] = val(r)

        return dec_map
    if kind == "record":
        fields = [(f["name"], _decoder(f["type"])) for f in t["fields"]]

        def dec_rec(r):
            return {name: dec(r) for name, dec in fields}

        return dec_rec
    if kind == "fixed":
        size = int(t["size"])
        return lambda r: bytes(r.raw(size))
    if kind == "enum":
        symbols = list(t["symbols"])

        def dec_enum(r):
            i = r.long()
            if not 0 <= i < len(symbols):
                raise ValueError(
                    f"avro enum: index {i} out of range "
                    f"({len(symbols)} symbols)"
                )
            return symbols[i]

        return dec_enum
    raise ValueError(f"avro: unsupported schema node {t!r}")


# ------------------------------------------------- schema resolution --


_PROMOTIONS = {
    # writer -> allowed reader primitives (Avro spec "Schema Resolution")
    "int": {"int", "long", "float", "double"},
    "long": {"long", "float", "double"},
    "float": {"float", "double"},
    "double": {"double"},
    "string": {"string", "bytes"},
    "bytes": {"bytes", "string"},
    "boolean": {"boolean"},
    "null": {"null"},
}


def _plain(t):
    """Schema node stripped to its primitive name where applicable."""
    if isinstance(t, dict) and t["type"] in _AVRO_TO_SPARK_PRIM:
        return t["type"]  # logical types resolve by their wire type
    return t


def _resolving_decoder(writer, reader):
    """Decoder for data WRITTEN with ``writer`` producing values shaped
    by ``reader`` — the Avro spec's schema-resolution rules: records
    match fields by NAME (writer-only fields are decoded and
    discarded; reader-only fields take their ``default``, or null for
    a [null, T] union), primitives follow the promotion lattice
    (int→long→float→double, string↔bytes), arrays/maps resolve their
    element/value schemas, and unions resolve branch-wise.  Raises
    ``ValueError`` at BUILD time for unresolvable pairs — never
    mid-stream.

    LOGICAL types (r12 review findings — the wire-type shortcut was
    wrong for them): decimal resolves only to decimal with IDENTICAL
    precision+scale (the value is scale-shaped); temporal logicals
    resolve to themselves, and millis widens to micros (×1000, exact);
    every other logical mismatch refuses — including logical↔plain,
    which the Avro spec's resolution would silently allow but the
    temporal conversion would then reinterpret (a plain long is NOT an
    epoch).  uuid is annotation-only and strips like no logical.
    Enums resolve by name with per-symbol reader-default fallback;
    fixed requires matching name and size."""
    if not isinstance(writer, list) and not isinstance(reader, list):
        wlt = writer.get("logicalType") if isinstance(writer, dict) else None
        rlt = reader.get("logicalType") if isinstance(reader, dict) else None
        wlt = None if wlt == "uuid" else wlt
        rlt = None if rlt == "uuid" else rlt
        if wlt == "decimal" or rlt == "decimal":
            if (
                wlt == rlt == "decimal"
                and int(writer.get("precision", 0))
                == int(reader.get("precision", 0))
                and int(writer.get("scale", 0))
                == int(reader.get("scale", 0))
            ):
                return _decoder(writer)
            raise ValueError(
                f"avro: cannot resolve {writer!r} to {reader!r} "
                "(decimal resolves only to decimal with identical "
                "precision and scale)"
            )
        if wlt != rlt and (wlt is not None or rlt is not None):
            if (wlt, rlt) in (
                ("timestamp-millis", "timestamp-micros"),
                ("local-timestamp-millis", "local-timestamp-micros"),
            ):
                base = _decoder("long")
                return lambda rd: base(rd) * 1000  # exact widening
            raise ValueError(
                f"avro: cannot resolve logical type {wlt!r} to {rlt!r} "
                "(same-logical or millis->micros only; resolving "
                "through the raw wire type would silently reinterpret "
                "values)"
            )
        # wlt == rlt: same semantics — the wire-type rule below is
        # correct (same logical, same wire decode)
    if isinstance(writer, list) or isinstance(reader, list):
        # union handling works on the ORIGINAL nodes: _plain would
        # strip a logical branch (e.g. a decimal dict) to its bare
        # wire name before branch matching, refusing the canonical
        # required->nullable evolution of a logical column (r12
        # third-review finding)
        r_branches = reader if isinstance(reader, list) else [reader]
        if not isinstance(writer, list):
            # Avro spec: NON-union writer -> union reader resolves
            # against the first matching reader branch, with NO branch
            # index on the wire.  The former both-as-lists shortcut
            # decoded a phantom index varint here, misaligning the
            # stream (r12 third-review finding — e.g. plain 'long'
            # writer to the ['null','long'] every nullable reader
            # field carries).
            if writer == "null":
                if "null" in r_branches:
                    return lambda rd: None
                raise ValueError(
                    f"avro: writer null unresolvable to {reader!r}"
                )
            for rb in r_branches:
                if rb == "null":
                    continue
                try:
                    return _resolving_decoder(writer, rb)
                except ValueError:
                    continue
            raise ValueError(
                f"avro: {writer!r} unresolvable to union {reader!r}"
            )
        subs = {}
        for i, wb in enumerate(writer):
            if wb == "null":
                if "null" not in r_branches:
                    raise ValueError(
                        f"avro: writer null branch unresolvable to "
                        f"{reader!r}"
                    )
                subs[i] = None
                continue
            sub = None
            for rb in r_branches:
                if rb == "null":
                    continue
                try:
                    sub = _resolving_decoder(wb, rb)
                    break
                except ValueError:
                    continue
            if sub is None:
                raise ValueError(
                    f"avro: union branch {wb!r} unresolvable to {reader!r}"
                )
            subs[i] = sub

        def dec_union(rd):
            d = subs[rd.long()]
            return None if d is None else d(rd)

        return dec_union
    w, r = _plain(writer), _plain(reader)
    if isinstance(w, str) and isinstance(r, str):
        if r not in _PROMOTIONS.get(w, ()):
            raise ValueError(f"avro: cannot resolve {w!r} to {r!r}")
        base = _decoder(w)
        if w == r:
            return base
        if r in ("float", "double"):
            return lambda rd: float(base(rd))
        if w == "string" and r == "bytes":
            return lambda rd: base(rd).encode("utf-8")
        if w == "bytes" and r == "string":
            return lambda rd: base(rd).decode("utf-8")
        return base  # int -> long: same Python int
    if isinstance(w, dict) and isinstance(r, dict):
        wk, rk = w["type"], r["type"]
        if wk == "array" and rk == "array":
            item = _resolving_decoder(w["items"], r["items"])

            def dec_arr(rd):
                out = []
                while True:
                    n = rd.long()
                    if n == 0:
                        return out
                    if n < 0:
                        rd.long()
                        n = -n
                    for _ in range(n):
                        out.append(item(rd))

            return dec_arr
        if wk == "map" and rk == "map":
            val = _resolving_decoder(w["values"], r["values"])

            def dec_map(rd):
                out = {}
                while True:
                    n = rd.long()
                    if n == 0:
                        return out
                    if n < 0:
                        rd.long()
                        n = -n
                    for _ in range(n):
                        k = rd.raw(rd.long()).decode("utf-8")
                        out[k] = val(rd)

            return dec_map
        if wk == "enum" and rk == "enum":
            if w.get("name") != r.get("name"):
                raise ValueError(
                    f"avro: enum name mismatch {w.get('name')!r} vs "
                    f"{r.get('name')!r}"
                )
            w_syms = list(w["symbols"])
            r_syms = set(r["symbols"])
            fallback = r.get("default")
            if fallback is not None and fallback not in r_syms:
                # spec: an enum default must be one of its own symbols
                # — catch the typo at BUILD time, not by emitting an
                # impossible value (r12 third-review finding)
                raise ValueError(
                    f"avro enum: default {fallback!r} is not one of "
                    f"the reader symbols {sorted(r_syms)}"
                )

            def dec_enum_res(rd):
                i = rd.long()
                if not 0 <= i < len(w_syms):
                    raise ValueError(
                        f"avro enum: index {i} out of range "
                        f"({len(w_syms)} symbols)"
                    )
                s = w_syms[i]
                if s in r_syms:
                    return s
                if fallback is not None:
                    return fallback  # spec: reader enum default
                raise ValueError(
                    f"avro enum: writer symbol {s!r} absent from the "
                    "reader symbols and the reader has no default"
                )

            return dec_enum_res
        if wk == "fixed" and rk == "fixed":
            if w.get("name") != r.get("name") or int(w["size"]) != int(
                r["size"]
            ):
                raise ValueError(
                    f"avro: fixed mismatch {w.get('name')!r}/{w['size']} "
                    f"vs {r.get('name')!r}/{r['size']} (name and size "
                    "must match)"
                )
            size = int(w["size"])
            return lambda rd: bytes(rd.raw(size))
        if wk == "record" and rk == "record":
            w_by_name = {f["name"]: f for f in w["fields"]}
            steps = []  # (writer-order) decode steps
            for f in w["fields"]:
                name = f["name"]
                rf = next(
                    (g for g in r["fields"] if g["name"] == name), None
                )
                if rf is None:
                    steps.append((None, _decoder(f["type"])))  # discard
                else:
                    steps.append(
                        (name, _resolving_decoder(f["type"], rf["type"]))
                    )
            fills = []  # reader-only fields -> defaults
            for g in r["fields"]:
                if g["name"] in w_by_name:
                    continue
                if "default" in g:
                    fills.append((g["name"], g["default"]))
                elif isinstance(g["type"], list) and "null" in g["type"]:
                    fills.append((g["name"], None))
                else:
                    raise ValueError(
                        f"avro: reader field {g['name']!r} absent from "
                        "the writer schema and has no default"
                    )

            def dec_rec(rd):
                out = {}
                for name, dec in steps:
                    v = dec(rd)
                    if name is not None:
                        out[name] = v
                for name, v in fills:
                    out[name] = v
                return out

            return dec_rec
    raise ValueError(f"avro: cannot resolve {w!r} to {r!r}")


# ------------------------------------------------------- snappy codec --
#
# Snappy is the dominant codec on wild Avro containers.  The raw BLOCK
# format (the public format_description.txt: varint preamble + literal
# / 1-2-4-byte-offset copy elements) goes through libsnappy via
# pyarrow's codec.  Avro frames each snappy block with a 4-byte
# BIG-endian CRC32 of the UNCOMPRESSED data (Avro spec, "Required
# Codecs / snappy"); helpers below implement the raw block format and
# the Avro framing separately so each is testable.

# Snappy's largest expansion is a 3-byte copy element emitting 64
# bytes (64/3 ~ 21.3x), so a preamble past 22x the block is a lie.
_SNAPPY_MAX_EXPANSION = 22


def _snappy_decompress(buf: bytes) -> bytes:
    """Raw snappy BLOCK format -> bytes.  Strict: untrusted container
    bytes must raise ValueError, never corrupt.  The output size handed
    to libsnappy is the block's OWN varint preamble (a larger size is
    silently padded with garbage), refused before allocating when it
    exceeds what the block could possibly expand to."""
    import pyarrow as pa

    n = shift = p = 0
    while True:
        if p >= len(buf):
            raise ValueError("snappy: truncated length preamble")
        b = buf[p]
        p += 1
        n |= (b & 0x7F) << shift
        if not (b & 0x80):
            break
        shift += 7
        if shift > 31:
            raise ValueError("snappy: length preamble varint too long")
    if n > _SNAPPY_MAX_EXPANSION * len(buf):
        raise ValueError(
            f"snappy: preamble says {n} bytes, more than a {len(buf)}-byte "
            "block can expand to"
        )
    try:
        return pa.Codec("snappy").decompress(
            buf, decompressed_size=n, asbytes=True
        )
    except OSError as e:
        raise ValueError(f"snappy: corrupt block ({e})") from e


def _snappy_compress(data: bytes) -> bytes:
    """Bytes -> raw snappy BLOCK format (libsnappy's byte stream)."""
    import pyarrow as pa

    return pa.Codec("snappy").compress(data, asbytes=True)


def _avro_snappy_decode(block: bytes) -> bytes:
    """Avro block framing: snappy payload + 4-byte big-endian CRC32 of
    the uncompressed data (Avro spec) — checked, not skipped."""
    if len(block) < 4:
        raise ValueError("avro snappy block shorter than its CRC frame")
    data = _snappy_decompress(block[:-4])
    want = int.from_bytes(block[-4:], "big")
    if zlib.crc32(data) & 0xFFFFFFFF != want:
        raise ValueError("avro snappy block CRC mismatch (corrupt block)")
    return data


def _avro_snappy_encode(data: bytes) -> bytes:
    return _snappy_compress(data) + (zlib.crc32(data) & 0xFFFFFFFF).to_bytes(
        4, "big"
    )


def _header(avro_schema: dict, codec: str, sync: bytes) -> bytes:
    out = bytearray(MAGIC)
    meta = {
        "avro.schema": json.dumps(avro_schema).encode(),
        "avro.codec": codec.encode(),
    }
    _write_long(out, len(meta))
    for k, v in sorted(meta.items()):
        kb = k.encode()
        _write_long(out, len(kb))
        out.extend(kb)
        _write_long(out, len(v))
        out.extend(v)
    _write_long(out, 0)
    out.extend(sync)
    return bytes(out)


def parse_header(buf: bytes) -> "tuple[dict, str, bytes, int]":
    """(schema, codec, sync, data_offset) from an OCF header."""
    if buf[:4] != MAGIC:
        raise ValueError("not an Avro object container file")
    r = _Reader(buf, 4)
    meta = {}
    while True:
        n = r.long()
        if n == 0:
            break
        if n < 0:
            r.long()
            n = -n
        for _ in range(n):
            k = r.raw(r.long()).decode()
            meta[k] = bytes(r.raw(r.long()))
    sync = bytes(r.raw(16))
    schema = json.loads(meta["avro.schema"])
    codec = meta.get("avro.codec", b"null").decode()
    if codec not in ("null", "deflate", "snappy"):
        raise ValueError(
            f"avro codec {codec!r} unsupported (null/deflate/snappy)"
        )
    return schema, codec, sync, r.pos


def _read_header(fh) -> "tuple[dict, str, bytes, int]":
    """:func:`parse_header` of an OPEN container: a 64 KiB prefix
    first, the full read only when the header is pathologically
    large."""
    fh.seek(0)
    try:
        return parse_header(fh.read(65536))
    except (IndexError, ValueError, KeyError):
        fh.seek(0)
        return parse_header(fh.read())


def _decode_range(
    fh, start: int, end: int, want_schema: dict, resolve: bool = False
) -> "Iterator[dict]":
    """Rows of the blocks that ONE byte range of an open container
    owns, decoded one block at a time — the kernel of every read.

    Ownership rule (Avro's own pastSync convention): a range owns the
    blocks whose preceding sync marker STARTS inside [start, end), i.e.
    whose first byte lies in [start+16, end+16).  Range 0 starts at the
    header's data offset; every other range seeks to ``start`` and
    scans forward to the next sync marker.  A block that BEGINS inside
    the range is decoded to completion even when its bytes run past
    ``end``.  With ``resolve``, rows are schema-RESOLVED to
    ``want_schema`` (see :func:`_resolving_decoder`); without it the
    container schema must equal ``want_schema``."""
    got_schema, codec, sync, data_off = _read_header(fh)
    if resolve:
        dec = _resolving_decoder(got_schema, want_schema)
    elif got_schema != want_schema:
        raise ValueError(
            "avro_ocf: container schema drift between files "
            "(pass reader_schema to schema-resolve instead)"
        )
    else:
        dec = _decoder(got_schema)
    limit = end + len(sync)
    if start == 0:
        pos = data_off
    else:
        # bounded chunked scan for the sync: 64 KiB windows with a
        # 15-byte overlap, never materializing the whole range
        pos = None
        scan_at, carry = start, b""
        while scan_at < limit:
            fh.seek(scan_at)
            step = min(65536, limit - scan_at)
            window = carry + fh.read(step)
            hit = window.find(sync)
            if hit >= 0:
                pos = scan_at - len(carry) + hit + len(sync)
                break
            carry = window[-(len(sync) - 1):]
            scan_at += step
        if pos is None or pos >= limit:
            return  # no owned sync, or it starts in the NEXT range
    fsize = fh.seek(0, 2)
    while pos < limit and pos < fsize:
        # block header: two varints (<= 20 bytes), then the data
        fh.seek(pos)
        r = _Reader(fh.read(20))
        try:
            count = r.long()
            size = r.long()
        except IndexError:
            raise ValueError(
                "avro: truncated block header (corrupt container)"
            ) from None
        fh.seek(pos + r.pos)
        block = fh.read(size)
        if fh.read(len(sync)) != sync:
            raise ValueError("avro: sync marker mismatch (corrupt block)")
        pos += r.pos + size + len(sync)
        if codec == "deflate":
            block = zlib.decompress(block, wbits=-15)
        elif codec == "snappy":
            block = _avro_snappy_decode(block)
        br = _Reader(block)
        for _ in range(count):
            yield dec(br)


def decode_container(
    buf: bytes, reader_schema: dict | None = None
) -> "tuple[dict, list[dict]]":
    """(writer schema, rows) of a whole in-memory container, through
    the same range decoder the Data Source runs.  With
    ``reader_schema``, rows are schema-RESOLVED to it."""
    schema = parse_header(buf)[0]
    resolve = reader_schema is not None
    rows = _decode_range(
        io.BytesIO(buf),
        0,
        len(buf),
        reader_schema if resolve else schema,
        resolve=resolve,
    )
    return schema, list(rows)


def encode_container(
    avro_schema: dict,
    rows,
    codec: str = "deflate",
    sync: bytes | None = None,
    block_rows: int = 4096,
) -> bytes:
    """Rows (tuples/dicts in field order) -> OCF bytes."""
    if codec not in ("null", "deflate", "snappy"):
        # refuse at WRITE time: labeling raw blocks with an unknown
        # codec would produce a container every spec-compliant reader
        # rejects or mis-decompresses (r11 second-pass review finding)
        raise ValueError(
            f"avro codec {codec!r} unsupported (null/deflate/snappy)"
        )
    if sync is None:
        sync = md5(json.dumps(avro_schema).encode()).digest()
    enc = _encoder(avro_schema)
    out = bytearray(_header(avro_schema, codec, sync))
    batch = bytearray()
    n = 0

    def flush():
        nonlocal batch, n
        if not n:
            return
        data = bytes(batch)
        if codec == "deflate":
            c = zlib.compressobj(6, zlib.DEFLATED, -15)
            data = c.compress(data) + c.flush()
        elif codec == "snappy":
            data = _avro_snappy_encode(data)
        _write_long(out, n)
        _write_long(out, len(data))
        out.extend(data)
        out.extend(sync)
        batch = bytearray()
        n = 0

    for row in rows:
        enc(batch, row)
        n += 1
        if n >= block_rows:
            flush()
    flush()
    return bytes(out)


# ----------------------------------------------- Python Data Source ----
#
# The OCF codec exposed through Spark 4's Python Data Source API, so the
# format composes with the whole DataFrame surface natively:
#
#     register(spark)                                   # once per session
#     spark.read.format("avro_ocf").load(dir)           # schema inferred
#     df.write.format("avro_ocf").mode("overwrite").save(dir)
#
# Partitions are one-per-file, or one-per-byte-range with the
# .option("split_bytes", n) sync-marker splitting.  Temporal columns
# surface as real Timestamp/TimestampNTZ/Date values — converted with
# exact timedelta arithmetic from the epoch (never float seconds, never
# the session timezone; TimestampType rides tz-aware UTC datetimes).
# Paths are posix (a Python data source executes Python-side by
# definition).

# Auto-split policy: a container past the threshold never serializes on
# ONE core by default — with no explicit split_bytes, the reader carves
# it into AUTO_SPLIT_BYTES sync-marker ranges.
AUTO_SPLIT_THRESHOLD = 128 * 1024 * 1024
AUTO_SPLIT_BYTES = 32 * 1024 * 1024


def _strip_file(path: str) -> str:
    return path.removeprefix("file:")


def _container_files(root: str) -> "list[str]":
    """The container files a read covers: ``root`` itself when it is a
    file, else the visible files directly under it, sorted (hidden and
    temp names are skipped — the Hadoop convention)."""
    if os.path.isfile(root):
        return [root]
    files = [
        os.path.join(root, name)
        for name in sorted(os.listdir(root))
        if not name.startswith((".", "_"))
        and os.path.isfile(os.path.join(root, name))
    ]
    if not files:
        raise ValueError(f"avro_ocf: no files under {root}")
    return files


def _refuse_millis_write(v):
    raise ValueError(
        "avro_ocf writer emits timestamp-micros only — a millis "
        "schema on the write path would silently truncate "
        "sub-millisecond values"
    )


def _temporal_codecs(avro_schema: dict):
    """(decoders, encoders) keyed by field index for top-level temporal
    logicals: wire int <-> datetime/date via exact integer timedelta
    arithmetic."""
    import datetime as _dt

    epoch_naive = _dt.datetime(1970, 1, 1)
    epoch_utc = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)
    epoch_day = _dt.date(1970, 1, 1).toordinal()

    def micros_of(td: "_dt.timedelta") -> int:
        return (td.days * 86400 + td.seconds) * 1_000_000 + td.microseconds

    dec, enc = {}, {}
    for i, f in enumerate(avro_schema["fields"]):
        lt = _logical_of(f["type"])
        if lt == "timestamp-micros":
            dec[i] = lambda m, e=epoch_utc, d=_dt: e + d.timedelta(
                microseconds=m
            )
            # Naive datetimes are LOCAL wall time: pyspark 4's
            # DataSourceWriter delivers TimestampType as
            # `value.astimezone().replace(tzinfo=None)` (conversion.py),
            # i.e. tz-aware -> system-local naive.  A naive
            # `.astimezone(utc)` inverts exactly that (interprets the
            # value as system local); `replace(tzinfo=utc)` would shift
            # every value by the host's UTC offset on non-UTC hosts
            # (r11 ADVICE, medium).
            enc[i] = lambda v, e=epoch_utc, d=_dt: micros_of(
                (v if v.tzinfo else v.astimezone(d.timezone.utc)) - e
            )
        elif lt == "timestamp-millis":
            dec[i] = lambda m, e=epoch_utc, d=_dt: e + d.timedelta(
                milliseconds=m
            )
            # the writer only ever emits micros schemas
            # (spark_to_avro_schema); if a millis schema ever reaches
            # the write path, refuse rather than silently truncate
            # sub-millisecond precision (r12 review finding)
            enc[i] = _refuse_millis_write
        elif lt == "local-timestamp-micros":
            dec[i] = lambda m, e=epoch_naive, d=_dt: e + d.timedelta(
                microseconds=m
            )
            enc[i] = lambda v, e=epoch_naive: micros_of(v - e)
        elif lt == "local-timestamp-millis":
            dec[i] = lambda m, e=epoch_naive, d=_dt: e + d.timedelta(
                milliseconds=m
            )
            enc[i] = _refuse_millis_write
        elif lt == "date":
            dec[i] = lambda n, d=_dt, e=epoch_day: d.date.fromordinal(
                e + n
            )
            enc[i] = lambda v, e=epoch_day: v.toordinal() - e
    return dec, enc


class _OCFPartition(InputPartition):
    def __init__(self, path: str, start: int, end: int):
        self.path = path
        self.start = start
        self.end = end


class _OCFReader(DataSourceReader):
    def __init__(self, options: dict, avro_schema: dict, resolve: bool):
        self.root = _strip_file(options["path"])
        split = options.get("split_bytes")
        self.split = int(split) if split is not None else None
        if self.split is not None and self.split < 1:
            raise ValueError(
                f"avro_ocf: split_bytes must be positive (got {split!r})"
            )
        self.avro_schema = avro_schema
        self.resolve = resolve

    def partitions(self):
        parts = []
        for fpath in _container_files(self.root):
            length = os.path.getsize(fpath)
            step = self.split
            if step is None:
                # auto-split an oversized container when no explicit
                # split_bytes was given: a multi-GB file must never
                # serialize on one core by default
                step = (
                    AUTO_SPLIT_BYTES
                    if length > AUTO_SPLIT_THRESHOLD
                    else max(length, 1)
                )
            parts.extend(
                _OCFPartition(fpath, s, min(s + step, length))
                for s in range(0, max(length, 1), step)
            )
        return parts

    def read(self, partition: "_OCFPartition"):
        names = [f["name"] for f in self.avro_schema["fields"]]
        dec, _ = _temporal_codecs(self.avro_schema)
        with open(partition.path, "rb") as fh:
            for r in _decode_range(
                fh,
                partition.start,
                partition.end,
                self.avro_schema,
                resolve=self.resolve,
            ):
                vals = [r[n] for n in names]
                for i, fn in dec.items():
                    if vals[i] is not None:
                        vals[i] = fn(vals[i])
                yield tuple(vals)


@dataclasses.dataclass
class _OCFCommit(WriterCommitMessage):
    tmp: str
    final: str


class _OCFWriter(DataSourceWriter):
    def __init__(self, options: dict, schema: T.StructType, overwrite: bool):
        self.path = _strip_file(options["path"])
        self.codec = options.get("codec", "deflate")
        self.avro_schema = spark_to_avro_schema(schema)
        # One token per WRITE JOB (driver-side __init__, serialized
        # into every task): temp names carry it so abort()/commit()
        # sweep only THIS job's leftovers — an aborted job must never
        # remove a concurrent writer's in-flight temps (r11 ADVICE, low).
        self.job_token = uuid.uuid4().hex
        if self.codec not in ("null", "deflate", "snappy"):
            raise ValueError(
                f"avro codec {self.codec!r} unsupported "
                "(null/deflate/snappy)"
            )
        # driver-side, before any task runs: a re-run with fewer
        # partitions must not leave stale part files behind
        if overwrite and os.path.isdir(self.path):
            shutil.rmtree(self.path)
        os.makedirs(self.path, exist_ok=True)

    def write(self, rows) -> "_OCFCommit":
        # Two-phase commit (r11 fourth-pass review findings): the task
        # writes a HIDDEN temp file (uuid-named — unique across
        # applications, unlike taskAttemptId, so append from a fresh
        # run can never clobber) and only the driver-side commit()
        # renames the files of SUCCESSFUL attempts to their visible
        # names.  A retried/speculative attempt's orphan temp is
        # ignored by the reader (hidden files are excluded from
        # listings) and swept by abort().
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        _, enc = _temporal_codecs(self.avro_schema)

        def wire_rows():
            for row in rows:
                vals = list(row)
                for i, fn in enc.items():
                    if vals[i] is not None:
                        vals[i] = fn(vals[i])
                yield tuple(vals)

        sync = md5((json.dumps(self.avro_schema) + str(pid)).encode()).digest()
        buf = encode_container(
            self.avro_schema, wire_rows(), codec=self.codec, sync=sync
        )
        final = f"part-{pid:05d}-{uuid.uuid4().hex}.avro"
        tmp = f"._tmp-{self.job_token}-{final}"
        with open(os.path.join(self.path, tmp), "wb") as fh:
            fh.write(buf)
        return _OCFCommit(tmp=tmp, final=final)

    def _sweep_job_temps(self) -> None:
        # Remove THIS job's remaining temps (failed/speculative
        # attempts that never reached commit).  Scoped by job_token: a
        # concurrent append job's temps are untouched.
        prefix = f"._tmp-{self.job_token}-"
        for name in os.listdir(self.path):
            if name.startswith(prefix):
                try:
                    os.remove(os.path.join(self.path, name))
                except OSError:
                    pass

    def commit(self, messages) -> None:
        for m in messages:
            os.replace(
                os.path.join(self.path, m.tmp),
                os.path.join(self.path, m.final),
            )
        self._sweep_job_temps()

    def abort(self, messages) -> None:
        self._sweep_job_temps()


class AvroOCFDataSource(DataSource):
    """`avro_ocf` — the OCF codec as a first-class Spark 4 Python
    Data Source (register once per session, see :func:`register`):

    >>> spark.read.format("avro_ocf").load(path)
    >>> df.write.format("avro_ocf").mode("overwrite").save(path)

    Options: ``split_bytes`` (read: sync-marker range splitting),
    ``reader_schema`` (read: an Avro record schema as JSON; every
    container resolves to it), ``codec`` (write: null/deflate/snappy)."""

    @classmethod
    def name(cls) -> str:
        return "avro_ocf"

    def _avro_schema(self) -> dict:
        """The read's Avro schema: the reader schema when given, else
        the first container's own."""
        given = self.options.get("reader_schema")
        if given is not None:
            return json.loads(given)
        root = _strip_file(self.options["path"])
        with open(_container_files(root)[0], "rb") as fh:
            return _read_header(fh)[0]

    def schema(self):
        return avro_to_spark_schema(self._avro_schema())

    def reader(self, schema: T.StructType) -> "_OCFReader":
        # read() decodes every container field and emits temporal
        # objects per the read's Avro schema, so the declared schema
        # must equal the inferred one — names AND types (a name-only
        # check let .schema('ts long') pass and then die deep in Arrow
        # conversion; r11 third-pass review finding).  Project/cast
        # after load.
        avro_schema = self._avro_schema()
        inferred = avro_to_spark_schema(avro_schema)
        # names AND types, but NOT nullability: a DDL-parsed user
        # schema is all-nullable while inferred non-union fields are
        # not, and refusing over that printed two identical
        # simpleString()s (r11 fourth-pass review finding)
        got = [(f.name, f.dataType) for f in schema.fields]
        want = [(f.name, f.dataType) for f in inferred.fields]
        if got != want:
            raise ValueError(
                "avro_ocf: reader schema must equal the container "
                f"schema {inferred.simpleString()} (got "
                f"{schema.simpleString()}) — project/cast after load"
            )
        return _OCFReader(
            dict(self.options),
            avro_schema,
            resolve="reader_schema" in self.options,
        )

    def writer(self, schema: T.StructType, overwrite: bool):
        return _OCFWriter(dict(self.options), schema, overwrite)


def register(spark: SparkSession) -> None:
    """Register ``avro_ocf`` on ``spark`` unless it already is."""
    manager = spark._jsparkSession.sessionState().dataSourceManager()
    if not manager.dataSourceExists(AvroOCFDataSource.name()):
        spark.dataSource.register(AvroOCFDataSource)
