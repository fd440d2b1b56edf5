"""Avro object-container source & sink WITHOUT the spark-avro connector.

Reference surface: ``db.read_avro`` (module-level source re-export,
``src/dask_obj/core.py:6``) and the bag ``to_avro`` sink passthrough —
the one Tier-D cell every round-10 audit carried as environment-blocked
(no ``spark-avro_2.13`` jar in this image, no network to fetch one).

The block is only the CONNECTOR, not the format: the Avro object
container file is a small open spec (magic ``Obj\\x01``, a metadata map
carrying the JSON schema and codec, then length-prefixed binary blocks
separated by a 16-byte sync marker; values are zigzag-varint longs,
length-prefixed utf-8 strings/bytes, little-endian IEEE doubles/floats,
union-index-prefixed nullables).  So the sink is a pure-Python encoder
running INSIDE ``df.mapInArrow`` — one container file per non-empty
partition, written tmp-then-rename, with Arrow giving exact null
semantics (pandas would fold integer nulls into NaN) — and the source
is a Spark-4 Python DataSource (the ``synthetic_docs`` precedent in
sources/io.py) streaming length-prefixed blocks (O(block) memory, NOT
whole-file) and splitting large files at sync-marker boundaries into
multiple input partitions, exactly the way Hadoop's AvroInputFormat
does: seek into the byte range, pattern-scan forward to the next sync
marker, decode blocks whose start offset falls inside the range.  Both
sides scale the way every file source does: per-partition independent
work, no driver bottleneck, no shuffle.

Spec compliance is pinned by round-tripping through the APACHE AVRO JVM
reader (`org.apache.avro.file.DataFileReader`) that ships on Spark's
own classpath (avro-1.12.1.jar) — see tests/test_core.py — so the
bytes this writer emits are proven readable by the canonical
implementation, not merely by our own decoder.

Supported Spark types (the testdata + reference surface, plus the
full complex-type spec as of round 12): integral types → avro long,
double/float, string, boolean, binary → bytes, TimestampType →
long+``timestamp-micros``, TimestampNTZType →
long+``local-timestamp-micros``, DateType → int+``date`` (the Avro
logical types, annotation-only on the wire — the JVM reader sees the
annotated long/int), DecimalType → bytes+``decimal`` (unscaled
two's-complement big-endian, per the spec), and RECURSIVELY:
ArrayType (``containsNull`` → ["null", T] items), MapType with
string keys (avro maps are string-keyed by definition), and
StructType → nested records (nested nullability from the Spark
flags).  Every top-level field rides nullable via ["null", T] unions.
The READER additionally resolves avro types Spark lacks: enum → its
symbol string, fixed → binary, decimal on the fixed wire, uuid (and
any unknown logical type) → its base type, and any unrequested
field — however complex — is consumed and dropped (avro rows have no
per-field offsets).  Codecs: ``null``, ``deflate``
(raw RFC-1951 via stdlib zlib, per the spec — no zlib wrapper, no
checksum), and ``snappy`` (pyarrow's raw snappy codec + the spec's
4-byte big-endian CRC32 of the uncompressed block).

Deterministic output: the sync marker is the md5 of (schema JSON,
partition id, write id), so identical data produces identical bytes —
replays and retries rewrite the same file instead of scattering
variants.

Filesystem contract: the sink's overwrite/rename/cleanup and the
source's directory listing use the LOCAL POSIX filesystem (os /
shutil), which is the execution model of this image (local[32], shared
FS).  On a real cluster with an object store or HDFS these paths would
route through the Hadoop FileSystem API (``spark._jvm``) instead; the
per-partition encode/decode is FS-agnostic.
"""

from __future__ import annotations

import json
import math
import os

import re as _re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    ByteType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    MapType,
    ShortType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from dask_obj_spark.pinning import pin, scoped

_PRIMS = {
    LongType: "long",
    IntegerType: "long",
    ShortType: "long",
    ByteType: "long",
    DoubleType: "double",
    FloatType: "float",
    StringType: "string",
    BooleanType: "boolean",
    BinaryType: "bytes",
}

# temporal Spark types ride as Avro logical types: an int/long on the
# wire plus a schema annotation (spark-avro uses the same mapping)
_LOGICAL = {
    TimestampType: "ts-micros",       # long + logicalType timestamp-micros
    TimestampNTZType: "ts-ntz-micros",  # long + local-timestamp-micros
    DateType: "date",                 # int + logicalType date
}


def _spark_type_desc(dt, fieldpath: str):
    """Recursive type DESCRIPTOR ``(kind, extra)`` for one Spark type.

    kind is a wire-level tag; extra depends on it:
      prims/temporals  -> None
      'decimal'        -> (precision, scale)          (bytes wire)
      'array'          -> (elem_desc, elem_nullable)
      'map'            -> (value_desc, value_nullable) (string keys)
      'record'         -> [(name, desc, nullable), ...]
    """
    t = type(dt)
    if t in _PRIMS:
        return (_PRIMS[t], None)
    if t in _LOGICAL:
        return (_LOGICAL[t], None)
    if t is DecimalType:
        return ("decimal", (dt.precision, dt.scale))
    if t is ArrayType:
        return (
            "array",
            (_spark_type_desc(dt.elementType, fieldpath + "_item"), dt.containsNull),
        )
    if t is MapType:
        if type(dt.keyType) is not StringType:
            raise NotImplementedError(
                f"avro: map keys must be strings (avro maps are string-keyed); "
                f"field {fieldpath!r} has key type {dt.keyType}"
            )
        return (
            "map",
            (_spark_type_desc(dt.valueType, fieldpath + "_value"),
             dt.valueContainsNull),
        )
    if t is StructType:
        return (
            "record",
            [
                (f.name, _spark_type_desc(f.dataType, fieldpath + "_" + f.name),
                 f.nullable)
                for f in dt.fields
            ],
        )
    raise NotImplementedError(
        f"avro: unsupported type {dt} for field {fieldpath!r}"
    )


def _field_kinds(schema: StructType) -> list[tuple[str, tuple]]:
    """[(name, desc)] per top-level field (descs per _spark_type_desc)."""
    return [(f.name, _spark_type_desc(f.dataType, f.name)) for f in schema.fields]


def _safe_avro_name(path: str) -> str:
    """Avro names must match [A-Za-z_][A-Za-z0-9_]*."""
    s = _re.sub(r"[^A-Za-z0-9_]", "_", path)
    return s if s and not s[0].isdigit() else "_" + s


_AVRO_NAME_RE = _re.compile(r"[A-Za-z_][A-Za-z0-9_]*\Z")


def _check_field_name(name: str, where: str) -> str:
    """Avro FIELD names cannot be sanitized silently — the reader
    projects by name, so a mangled name would break round-trips (and
    two Spark names could mangle to the same avro name).  Loud guard."""
    if not _AVRO_NAME_RE.match(name):
        raise NotImplementedError(
            f"avro: field name {name!r} at {where!r} is not represent"
            f"able (avro names must match [A-Za-z_][A-Za-z0-9_]*) — "
            f"rename the column/struct field before writing"
        )
    return name


def _avro_type_json(desc, path: str, used: set | None = None):
    """Avro JSON schema node for one descriptor (recursive).  ``used``
    dedups generated record TYPE names: sanitized field paths can
    collide (struct columns ``a.b`` and ``a_b`` both yield ``r_a_b``),
    and a duplicate named type is rejected by spec-compliant parsers
    (the JVM ``Schema.Parser`` throws "Can't redefine")."""
    if used is None:
        used = set()
    kind, extra = desc
    if kind == "ts-micros":
        return {"type": "long", "logicalType": "timestamp-micros"}
    if kind == "ts-ntz-micros":
        return {"type": "long", "logicalType": "local-timestamp-micros"}
    if kind == "date":
        return {"type": "int", "logicalType": "date"}
    if kind == "decimal":
        prec, scale = extra
        return {
            "type": "bytes", "logicalType": "decimal",
            "precision": prec, "scale": scale,
        }
    if kind == "array":
        edesc, enull = extra
        items = _avro_type_json(edesc, path + "_item", used)
        return {"type": "array", "items": ["null", items] if enull else items}
    if kind == "map":
        vdesc, vnull = extra
        values = _avro_type_json(vdesc, path + "_value", used)
        return {"type": "map", "values": ["null", values] if vnull else values}
    if kind == "record":
        fields = []
        for n, d, nullable in extra:
            _check_field_name(n, path)
            tj = _avro_type_json(d, path + "_" + n, used)
            if nullable:
                fields.append({"name": n, "type": ["null", tj], "default": None})
            else:
                fields.append({"name": n, "type": tj})
        base = _safe_avro_name("r_" + path)
        rec_name, i = base, 2
        while rec_name in used:  # collision: a_b vs a.b → r_a_b
            rec_name, i = f"{base}_{i}", i + 1
        used.add(rec_name)
        return {"type": "record", "name": rec_name, "fields": fields}
    return kind  # plain primitive


def _avro_schema_json(kinds: list[tuple[str, tuple]], name: str) -> str:
    used: set = set()
    return json.dumps(
        {
            "type": "record",
            "name": name,
            "fields": [
                # every TOP-LEVEL Spark column is nullable on the wire
                # (unchanged from the pre-complex-type format)
                {"name": _check_field_name(n, "<row>"),
                 "type": ["null", _avro_type_json(d, n, used)],
                 "default": None}
                for n, d in kinds
            ],
        }
    )


def _make_avro_codec():
    """Self-contained encode/decode primitives (nested defs → cloudpickle
    ships them by value; workers never import this module — the
    `_make_bpe_greedy_encode` factory discipline from operators/corpus.py)."""

    import decimal as _decimal
    import struct
    import zlib
    from datetime import date as _date
    from datetime import datetime as _datetime
    from datetime import timedelta as _timedelta
    from datetime import timezone as _timezone

    import pyarrow as _pa

    _EPOCH_UTC = _datetime(1970, 1, 1, tzinfo=_timezone.utc)
    _EPOCH_NAIVE = _datetime(1970, 1, 1)
    _EPOCH_DATE = _date(1970, 1, 1)

    def zz(n):
        u = (n << 1) ^ (n >> 63)
        out = bytearray()
        while u > 0x7F:
            out.append((u & 0x7F) | 0x80)
            u >>= 7
        out.append(u)
        return bytes(out)

    def enc_any(kind, extra, v, buf):
        # top-level ts/date reach here as int micros/days (arrow cast);
        # NESTED temporals arrive as datetime/date objects from
        # Arrow's to_pylist — both are accepted
        if kind == "long":
            buf += zz(int(v))
        elif kind in ("ts-micros", "ts-ntz-micros"):
            if isinstance(v, int):
                buf += zz(v)
            else:  # exact: timedelta holds days/seconds/micros integrally
                epoch = _EPOCH_UTC if v.tzinfo is not None else _EPOCH_NAIVE
                td = v - epoch
                buf += zz(
                    td.days * 86_400_000_000
                    + td.seconds * 1_000_000
                    + td.microseconds
                )
        elif kind == "date":
            buf += zz(v if isinstance(v, int) else (v - _EPOCH_DATE).days)
        elif kind == "double":
            buf += struct.pack("<d", float(v))
        elif kind == "float":
            buf += struct.pack("<f", float(v))
        elif kind == "string":
            b = v.encode("utf-8") if isinstance(v, str) else bytes(v)
            buf += zz(len(b)) + b
        elif kind == "bytes":
            b = bytes(v)
            buf += zz(len(b)) + b
        elif kind == "boolean":
            buf += b"\x01" if v else b"\x00"
        elif kind == "decimal":
            # unscaled two's-complement big-endian bytes (avro spec)
            _, scale = extra
            with _decimal.localcontext() as ctx:
                ctx.prec = 78  # > max DecimalType precision (38) + scale
                unscaled = int(v.scaleb(scale))
            raw = unscaled.to_bytes(
                max(1, (unscaled.bit_length() + 8) // 8), "big", signed=True
            )
            buf += zz(len(raw)) + raw
        elif kind == "array":
            (ekind, eextra), enull = extra
            vals = list(v)
            if vals:
                buf += zz(len(vals))
                for x in vals:
                    if enull:
                        if x is None:
                            buf += zz(0)
                            continue
                        buf += zz(1)
                    elif x is None:
                        raise ValueError(
                            "avro sink: null array element in a "
                            "containsNull=false column"
                        )
                    enc_any(ekind, eextra, x, buf)
            buf += zz(0)
        elif kind == "map":
            (vkind, vextra), vnull = extra
            items = list(v.items()) if isinstance(v, dict) else list(v)
            if items:
                buf += zz(len(items))
                for k, x in items:
                    kb = k.encode("utf-8")
                    buf += zz(len(kb)) + kb
                    if vnull:
                        if x is None:
                            buf += zz(0)
                            continue
                        buf += zz(1)
                    elif x is None:
                        raise ValueError(
                            "avro sink: null map value in a "
                            "valueContainsNull=false column"
                        )
                    enc_any(vkind, vextra, x, buf)
            buf += zz(0)
        elif kind == "record":
            # v is a dict (arrow to_pylist) or a positional tuple/Row
            by_name = isinstance(v, dict)
            for i, (fname, (fkind, fextra), fnull) in enumerate(extra):
                x = v.get(fname) if by_name else v[i]
                if fnull:
                    if x is None:
                        buf += zz(0)
                        continue
                    buf += zz(1)
                elif x is None:
                    raise ValueError(
                        f"avro sink: null in non-nullable struct field "
                        f"{fname!r}"
                    )
                enc_any(fkind, fextra, x, buf)
        else:
            raise ValueError(f"bad kind {kind}")

    def enc_row(kinds, row, buf):
        for (name, (kind, extra)), v in zip(kinds, row):
            if v is None:
                buf += zz(0)  # union branch 0 = null
                continue
            buf += zz(1)  # union branch 1 = value
            enc_any(kind, extra, v, buf)

    def header(schema_json, sync, codec="null"):
        buf = bytearray(b"Obj\x01")
        meta = [
            (b"avro.schema", schema_json.encode("utf-8")),
            (b"avro.codec", codec.encode("ascii")),
        ]
        buf += zz(len(meta))
        for k, v in meta:
            buf += zz(len(k)) + k + zz(len(v)) + v
        buf += zz(0)
        buf += sync
        return bytes(buf)

    # -- snappy: the raw (unframed) stream, through pyarrow's codec --

    def snappy_compress(data):
        return _pa.compress(bytes(data), codec="snappy", asbytes=True)

    def snappy_decompress(data):
        data = bytes(data)
        # preamble: the uncompressed length, little-endian base-128
        ulen = shift = pos = 0
        while True:
            if pos >= len(data):
                raise ValueError("snappy: truncated length preamble")
            b = data[pos]
            pos += 1
            ulen |= (b & 0x7F) << shift
            if not b & 0x80:
                break
            shift += 7
        if ulen > 32 * len(data):  # no tag expands > 22x: corrupt preamble
            raise ValueError("snappy: declared length exceeds any valid stream")
        try:
            return _pa.decompress(
                data, decompressed_size=ulen, codec="snappy", asbytes=True
            )
        except (_pa.ArrowException, OSError) as e:
            # pyarrow reports corrupt snappy data as OSError (ArrowIOError)
            raise ValueError(f"snappy: {e}") from e

    def compress(codec, block):
        if codec == "null":
            return bytes(block)
        if codec == "deflate":
            # Avro deflate = raw RFC-1951 stream (wbits=-15): no zlib
            # header, no checksum
            c = zlib.compressobj(6, zlib.DEFLATED, -15)
            return c.compress(bytes(block)) + c.flush()
        if codec == "snappy":
            # Avro snappy = snappy stream + 4-byte BIG-endian CRC32 of
            # the UNCOMPRESSED data (java.util.zip.CRC32 == zlib.crc32)
            raw = bytes(block)
            return snappy_compress(raw) + struct.pack(
                ">I", zlib.crc32(raw) & 0xFFFFFFFF
            )
        raise NotImplementedError(f"avro codec {codec!r} not supported")

    # ---- decoder (the read side of the same spec) ----

    def rd_long(mv, pos):
        shift = u = 0
        while True:
            b = mv[pos]
            pos += 1
            u |= (b & 0x7F) << shift
            if not b & 0x80:
                break
            shift += 7
        return (u >> 1) ^ -(u & 1), pos

    def rd_any(kind, extra, mv, pos):
        """Decode one value of a RESOLVED descriptor.  Complex extras:
        'array'/'map' -> (item_rdesc, item_mode); 'record' ->
        ([(rdesc, mode, slot)], nslots) with slot -1 for file fields
        the caller did not request (bytes still consumed); 'enum' ->
        symbols tuple (decodes to the symbol string); 'fixed' -> size;
        'decimal' -> (wire, size, scale)."""
        if kind == "long":
            return rd_long(mv, pos)
        if kind == "double":
            return struct.unpack("<d", mv[pos : pos + 8])[0], pos + 8
        if kind == "float":
            return struct.unpack("<f", mv[pos : pos + 4])[0], pos + 4
        if kind in ("string", "bytes"):
            n, pos = rd_long(mv, pos)
            raw = bytes(mv[pos : pos + n])
            return (raw.decode("utf-8") if kind == "string" else raw), pos + n
        if kind == "boolean":
            return mv[pos] == 1, pos + 1
        if kind == "ts-micros":
            us, pos = rd_long(mv, pos)
            return _EPOCH_UTC + _timedelta(microseconds=us), pos
        if kind == "ts-ntz-micros":
            us, pos = rd_long(mv, pos)
            return _EPOCH_NAIVE + _timedelta(microseconds=us), pos
        if kind == "ts-millis":  # foreign files: timestamp-millis
            ms, pos = rd_long(mv, pos)
            return _EPOCH_UTC + _timedelta(milliseconds=ms), pos
        if kind == "ts-ntz-millis":
            ms, pos = rd_long(mv, pos)
            return _EPOCH_NAIVE + _timedelta(milliseconds=ms), pos
        if kind == "date":
            days, pos = rd_long(mv, pos)
            return _EPOCH_DATE + _timedelta(days=days), pos
        if kind == "enum":
            i, pos = rd_long(mv, pos)
            return extra[i], pos
        if kind == "fixed":
            return bytes(mv[pos : pos + extra]), pos + extra
        if kind == "decimal":
            wire, size, scale = extra
            if wire == "fixed":
                raw = bytes(mv[pos : pos + size])
                pos += size
            else:
                n, pos = rd_long(mv, pos)
                raw = bytes(mv[pos : pos + n])
                pos += n
            unscaled = int.from_bytes(raw, "big", signed=True)
            with _decimal.localcontext() as ctx:
                ctx.prec = 78
                return _decimal.Decimal(unscaled).scaleb(-scale), pos
        if kind == "array":
            (ik, ie), imode = extra
            vals = []
            while True:
                n, pos = rd_long(mv, pos)
                if n == 0:
                    break
                if n < 0:  # block with byte-size prefix
                    n = -n
                    _, pos = rd_long(mv, pos)
                for _ in range(n):
                    v, pos = rd_nullable(ik, ie, imode, mv, pos)
                    vals.append(v)
            return vals, pos
        if kind == "map":
            (vk, ve), vmode = extra
            out = {}
            while True:
                n, pos = rd_long(mv, pos)
                if n == 0:
                    break
                if n < 0:
                    n = -n
                    _, pos = rd_long(mv, pos)
                for _ in range(n):
                    kl, pos = rd_long(mv, pos)
                    key = bytes(mv[pos : pos + kl]).decode("utf-8")
                    pos += kl
                    out[key], pos = rd_nullable(vk, ve, vmode, mv, pos)
            return out, pos
        if kind == "record":
            plan, nslots = extra
            row = [None] * nslots
            for (fk, fe), mode, slot in plan:
                if mode == "plain":
                    is_null = False
                else:
                    nb, strict = _MODES[mode]
                    branch, pos = rd_long(mv, pos)
                    is_null = branch == nb
                    if is_null and strict:
                        raise ValueError(_STRICT_NULL_MSG)
                if is_null:
                    continue
                v, pos = rd_any(fk, fe, mv, pos)
                if slot >= 0:
                    row[slot] = v
            return tuple(row), pos
        raise ValueError(f"bad kind {kind}")

    # mode → (null-branch index, strict).  The '!' modes mark slots the
    # REQUESTED schema declares non-nullable while the file's union
    # allows null: Spark codegen trusts nullable=False, so delivering a
    # silent None there corrupts downstream results — raise instead.
    _MODES = {
        "null0": (0, False), "null1": (1, False),
        "null0!": (0, True), "null1!": (1, True),
    }
    _STRICT_NULL_MSG = (
        "avro: null value in a slot the requested schema declares "
        "non-nullable (containsNull/valueContainsNull/nullable=False) — "
        "request a nullable type or clean the file"
    )

    def rd_nullable(kind, extra, mode, mv, pos):
        """One possibly-union-wrapped value (mode 'plain'/'null0'/
        'null1', with a '!' suffix when the requested slot forbids
        null — see _MODES)."""
        if mode != "plain":
            nb, strict = _MODES[mode]
            branch, pos = rd_long(mv, pos)
            if branch == nb:
                if strict:
                    raise ValueError(_STRICT_NULL_MSG)
                return None, pos
        return rd_any(kind, extra, mv, pos)

    def rd_row(plan, nsel, mv, pos):
        """Decode one top-level record per the FILE's schema plan,
        projecting into `nsel` output slots.  plan rows:
        ((kind, extra), mode, slot) — mode is 'plain' (non-nullable),
        'null0' (["null",T]), or 'null1' ([T,"null"]); slot is the
        output index, or -1 for a file field the caller did not request
        (its bytes are still consumed — Avro rows have no per-field
        offsets)."""
        v, pos = rd_any("record", (plan, nsel), mv, pos)
        return list(v), pos

    # -- streaming file-handle primitives (header parse + block scan) --

    def rd_long_f(fh):
        shift = u = 0
        while True:
            b = fh.read(1)[0]
            u |= (b & 0x7F) << shift
            if not b & 0x80:
                break
            shift += 7
        return (u >> 1) ^ -(u & 1)

    def read_header(fh):
        """Parse magic + metadata map + sync from the current handle
        position (must be 0).  Returns (codec:str, schema_json:str,
        sync:bytes, header_len:int).  Streams — never loads the file."""
        if fh.read(4) != b"Obj\x01":
            raise ValueError("not an avro container file")
        codec = b"null"
        schema_raw = None
        nmeta = rd_long_f(fh)
        while nmeta != 0:
            if nmeta < 0:
                nmeta = -nmeta
                rd_long_f(fh)  # byte-size prefix of the map block
            for _ in range(nmeta):
                kl = rd_long_f(fh)
                key = fh.read(kl)
                vl = rd_long_f(fh)
                val = fh.read(vl)
                if key == b"avro.codec":
                    codec = val
                elif key == b"avro.schema":
                    schema_raw = val
            nmeta = rd_long_f(fh)
        codec_s = (codec or b"null").decode("ascii")
        if codec_s not in ("null", "deflate", "snappy"):
            raise NotImplementedError(f"avro codec {codec_s!r} not supported")
        if schema_raw is None:
            raise ValueError("avro container missing avro.schema metadata")
        sync = fh.read(16)
        return codec_s, schema_raw.decode("utf-8"), sync, fh.tell()

    _IN_PROGRESS = ("<in-progress>", None)  # named-type recursion guard

    def _split_union(t, where):
        """(non-null type, mode) for a possibly-union schema node."""
        if not isinstance(t, list):
            return t, "plain"
        if len(t) == 2 and "null" in t:
            ni = t.index("null")
            return t[1 - ni], ("null0" if ni == 0 else "null1")
        raise NotImplementedError(
            f"avro: unsupported union {t} at {where!r} "
            f"(only 2-branch null unions)"
        )

    def _avro_type_to_desc(t, where, names=None, ns=""):
        """Recursive FILE-side descriptor (kind, extra) for one
        (non-union) avro schema node.  Complex extras: 'array'/'map' ->
        (item_desc, item_mode); 'record' -> [(name, desc, mode)];
        'enum' -> symbols tuple; 'fixed' -> size; 'decimal' ->
        (wire, size, precision, scale).  `names` registers defined
        record/enum/fixed types by fullname so later string REFERENCES
        to them resolve (namespace-aware: a bare reference resolves in
        the enclosing namespace `ns` first, then as a fullname);
        RECURSIVE references (a type reaching itself) raise — our
        descs are finite trees."""
        prims = {
            "long": "long", "int": "long", "double": "double",
            "float": "float", "string": "string", "bytes": "bytes",
            "boolean": "boolean",
        }
        if names is None:
            names = {}

        def _fullname(t, ns):
            n = t["name"]
            if "." in n:
                return n
            space = t.get("namespace", ns)
            return f"{space}.{n}" if space else n

        if isinstance(t, str):
            if t in prims:
                return (prims[t], None)
            ref = names.get(f"{ns}.{t}" if ns and "." not in t else t,
                            names.get(t))
            if ref is _IN_PROGRESS:
                raise NotImplementedError(
                    f"avro type {t!r} at {where!r} is RECURSIVE "
                    f"(self-referential schemas are not supported)"
                )
            if ref is not None:
                return ref
            raise NotImplementedError(
                f"avro type {t!r} at {where!r} not supported "
                f"(not a defined named type in this schema)"
            )
        if isinstance(t, dict):
            base = t.get("type")
            lt = t.get("logicalType")
            if lt == "timestamp-micros":
                return ("ts-micros", None)
            if lt == "local-timestamp-micros":
                return ("ts-ntz-micros", None)
            if lt == "timestamp-millis":
                return ("ts-millis", None)
            if lt == "local-timestamp-millis":
                return ("ts-ntz-millis", None)
            if lt == "date":
                return ("date", None)
            if lt == "decimal" and base in ("bytes", "fixed"):
                desc = ("decimal", (
                    base, t.get("size"), t.get("precision"), t.get("scale", 0),
                ))
                if base == "fixed":
                    names[_fullname(t, ns)] = desc
                return desc
            if base == "array":
                it, imode = _split_union(t["items"], where + ".items")
                return ("array", (
                    _avro_type_to_desc(it, where + ".items", names, ns), imode,
                ))
            if base == "map":
                vt, vmode = _split_union(t["values"], where + ".values")
                return ("map", (
                    _avro_type_to_desc(vt, where + ".values", names, ns), vmode,
                ))
            if base == "record":
                fullname = _fullname(t, ns)
                names[fullname] = _IN_PROGRESS  # recursion guard
                sub_ns = fullname.rsplit(".", 1)[0] if "." in fullname else ""
                fields = []
                for f in t.get("fields", []):
                    ft, fmode = _split_union(
                        f["type"], where + "." + f["name"]
                    )
                    fields.append((
                        f["name"],
                        _avro_type_to_desc(
                            ft, where + "." + f["name"], names, sub_ns
                        ),
                        fmode,
                    ))
                desc = ("record", fields)
                names[fullname] = desc
                return desc
            if base == "enum":
                desc = ("enum", tuple(t["symbols"]))
                names[_fullname(t, ns)] = desc
                return desc
            if base == "fixed":
                desc = ("fixed", int(t["size"]))
                names[_fullname(t, ns)] = desc
                return desc
            if base in prims:
                # dict-wrapped primitive (unknown logical types fall back
                # to their base wire type, per the avro spec)
                return (prims[base], None)
            raise NotImplementedError(
                f"avro type {t!r} at {where!r} not supported"
            )
        raise NotImplementedError(f"avro type {t!r} at {where!r} not supported")

    def kinds_from_schema_json(schema_json):
        """FILE-schema decode plan: [(name, desc, mode)] where mode
        records nullability + union null-branch index ('plain', 'null0',
        'null1') and desc is the recursive (kind, extra) descriptor.
        This is what makes foreign containers — arbitrary field order,
        [T,"null"] unions, non-nullable fields, nested records, maps,
        enums, fixed, decimals — decode correctly instead of per the
        caller's requested layout."""
        import json as _json

        sch = _json.loads(schema_json)
        if not isinstance(sch, dict) or sch.get("type") != "record":
            raise NotImplementedError("avro: top-level schema must be a record")
        desc = _avro_type_to_desc(sch, "<root>")
        return [(n, d, m) for n, d, m in desc[1]]

    def _validate_anchor(fh, anchor, sync, filesize):
        """True iff a well-formed block starts at `anchor`: positive row
        count, in-bounds size, and the 16-byte sync marker sits exactly
        after the data — a 128-bit check that makes a false sync-pattern
        match in row data vanishingly unlikely to also validate."""
        try:
            fh.seek(anchor)
            cnt = rd_long_f(fh)
            size = rd_long_f(fh)
            if cnt <= 0 or size < 0:
                return False
            data_end = fh.tell() + size
            if data_end + 16 > filesize:
                return False
            fh.seek(data_end)
            return fh.read(16) == sync
        except (IndexError, OSError):
            return False

    def find_anchor(fh, sync, start, filesize):
        """First validated block start (offset of its count varint)
        >= `start`, found by scanning for the sync pattern the way
        Avro's own DataFileReader.sync() does — chunked, O(1) memory,
        15-byte overlap so markers straddling chunk edges are seen."""
        pos = max(start - 16, 0)
        tail = b""
        base = pos
        while True:
            fh.seek(base + len(tail))
            chunk = fh.read(1 << 20)
            if not chunk:
                return None
            buf = tail + chunk
            off = 0
            while True:
                q = buf.find(sync, off)
                if q < 0:
                    break
                anchor = base + q + 16
                if anchor >= start and _validate_anchor(fh, anchor, sync, filesize):
                    return anchor
                off = q + 1
            # keep a 15-byte overlap for markers spanning the boundary
            base += len(buf) - 15
            tail = buf[-15:]

    def iter_block_rows(fh, anchor, hi, filesize, sync, codec, plan, nsel):
        """Decode blocks starting at `anchor` while their start offset
        is < `hi` (split ownership rule: a block belongs to the split
        containing its first byte).  O(one block) memory."""
        import zlib as _zlib

        pos = anchor
        while pos is not None and pos < hi and pos + 16 < filesize:
            fh.seek(pos)
            cnt = rd_long_f(fh)
            size = rd_long_f(fh)
            data = fh.read(size)
            if codec == "deflate":
                data = _zlib.decompress(data, -15)
            elif codec == "snappy":
                crc = int.from_bytes(data[-4:], "big")
                data = snappy_decompress(data[:-4])
                if _zlib.crc32(data) & 0xFFFFFFFF != crc:
                    raise ValueError(
                        f"avro snappy block at offset {pos}: CRC mismatch"
                    )
            mv = memoryview(data)
            p = 0
            for _ in range(cnt):
                row, p = rd_row(plan, nsel, mv, p)
                yield row
            got = fh.read(16)
            if got != sync:
                raise ValueError(
                    f"avro: bad sync after block at offset {pos} "
                    f"(corrupt file or mid-write read)"
                )
            pos = fh.tell()

    # ---- schema resolution (requested Spark-side descs vs the FILE's
    # writer schema) ----
    # a file kind is accepted for a requested kind per avro
    # schema-resolution promotions (float→double, millis→the requested
    # micros timestamp class, enum→string, fixed→bytes).  long→double
    # is NOT accepted: the decoder would hand Spark a Python int in a
    # double slot — read as long and cast instead.  Timestamps resolve
    # ACROSS the instant/naive classes: the wire value is the same long
    # either way, the UNIT (millis/micros) comes from the file, and the
    # AWARENESS comes from the reader's declared type — exactly the
    # interpretation contract Spark's session gives those columns
    # (events.ts round-trips as TimestampType written / timestamp_ntz
    # requested).

    _TS_KINDS = ("ts-micros", "ts-millis", "ts-ntz-micros", "ts-ntz-millis")
    _COMPAT = {
        "double": ("double", "float"),
        "float": ("float",),
        "long": ("long",),
        "string": ("string", "enum"),
        "bytes": ("bytes", "fixed"),
        "boolean": ("boolean",),
        "ts-micros": _TS_KINDS,
        "ts-ntz-micros": _TS_KINDS,
        "date": ("date",),
        "decimal": ("decimal",),
        "array": ("array",),
        "map": ("map",),
        "record": ("record",),
    }

    def _identity_desc(fdesc):
        """Decode desc for a file field the caller did NOT request —
        its bytes must still be consumed (rows have no per-field
        offsets), so decode fully and discard (record slots all -1)."""
        fkind, fextra = fdesc
        if fkind in ("array", "map"):
            idesc, imode = fextra
            return (fkind, (_identity_desc(idesc), imode))
        if fkind == "record":
            return ("record", (
                [(_identity_desc(d), m, -1) for _, d, m in fextra], 0,
            ))
        if fkind == "decimal":
            wire, size, _prec, scale = fextra
            return ("decimal", (wire, size, scale))
        return (fkind, fextra)

    def _resolve_desc(rdesc, fdesc, where, fname):
        """Recursive avro schema resolution: the RESOLVED decode desc
        for a requested desc against the file's desc — promotions
        (int→long, float→double, millis→the requested micros class,
        enum→string, fixed→bytes), by-name nested-record projection
        (extra file fields consumed and dropped), and loud errors on
        missing/incompatible fields."""
        rkind, rextra = rdesc
        fkind, fextra = fdesc
        if fkind not in _COMPAT.get(rkind, ()):
            raise ValueError(
                f"read_avro: field {where!r} in {fname} has avro kind "
                f"{fkind!r}, incompatible with requested {rkind!r}"
            )
        if rkind in ("ts-micros", "ts-ntz-micros"):
            # unit from the file, awareness from the request
            unit = "millis" if fkind.endswith("millis") else "micros"
            return (("ts-ntz-" if rkind == "ts-ntz-micros" else "ts-") + unit,
                    None)
        if rkind == "decimal":
            rprec, rscale = rextra
            wire, size, fprec, fscale = fextra
            if fscale != rscale or (fprec or 0) > rprec:
                raise ValueError(
                    f"read_avro: field {where!r} in {fname} is "
                    f"decimal({fprec},{fscale}), incompatible with "
                    f"requested decimal({rprec},{rscale}) (scales must "
                    f"match; file precision must fit)"
                )
            return ("decimal", (wire, size, fscale))
        if rkind in ("array", "map"):
            (ridesc, rnull) = rextra
            fidesc, fimode = fextra
            sub = "items" if rkind == "array" else "values"
            # request forbids null but the file's union allows it →
            # strict mode: an ACTUAL null raises at decode (files whose
            # union is never exercised still read fine)
            imode = fimode if (rnull or fimode == "plain") else fimode + "!"
            return (rkind, (
                _resolve_desc(ridesc, fidesc, f"{where}.{sub}", fname), imode,
            ))
        if rkind == "record":
            slot_of = {n: (i, d, null) for i, (n, d, null) in enumerate(rextra)}
            plan, seen = [], set()
            for n, d, m in fextra:
                if n not in slot_of:
                    plan.append((_identity_desc(d), m, -1))
                    continue
                i, rd, rnull = slot_of[n]
                seen.add(n)
                fmode = m if (rnull or m == "plain") else m + "!"
                plan.append((
                    _resolve_desc(rd, d, f"{where}.{n}", fname), fmode, i,
                ))
            missing = [n for n, _, _null in rextra if n not in seen]
            if missing:
                raise ValueError(
                    f"read_avro: fields {missing} of {where!r} not present "
                    f"in {fname} (file has {[n for n, _, _m in fextra]})"
                )
            return ("record", (plan, len(rextra)))
        return (fkind, fextra)  # prims incl. enum/fixed promotions

    def resolve_plan(req_kinds, file_kinds, fname):
        """Project the FILE's decode order onto the requested top-level
        columns (see _resolve_desc).  req_kinds: [(name, desc)] or
        [(name, desc, nullable)] in the requested output order — the
        2-tuple form means nullable=True; the 3-tuple form threads each
        top-level StructField's nullable flag through, so strict-null
        ('!') enforcement applies at the TOP level exactly as it does
        in nested slots (a foreign file whose union carries an actual
        null raises instead of silently delivering None into a
        non-nullable column).  file_kinds: [(name, desc, mode)] from
        kinds_from_schema_json.  Returns the rd_row plan:
        [((kind, extra), mode, slot)]."""
        req = [
            (k[0], k[1], k[2] if len(k) > 2 else True) for k in req_kinds
        ]
        _, (plan, _n) = _resolve_desc(
            ("record", req),
            ("record", list(file_kinds)),
            "<row>", fname,
        )
        return plan

    return {
        "zz": zz,
        "enc_row": enc_row,
        "header": header,
        "compress": compress,
        "read_header": read_header,
        "find_anchor": find_anchor,
        "iter_block_rows": iter_block_rows,
        "kinds_from_schema_json": kinds_from_schema_json,
        "resolve_plan": resolve_plan,
        "rd_row": rd_row,
        "snappy_compress": snappy_compress,
        "snappy_decompress": snappy_decompress,
    }


@scoped
def to_avro(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    codec: str = "null",
    block_rows: int = 4096,
    write_id: str | None = None,
) -> DataFrame:
    """Distributed Avro sink: one container file per non-empty partition
    via ``mapInArrow`` (exact nulls), tmp-then-rename per file, rows
    chunked into blocks of at most ``block_rows`` so readers stay
    O(block) and big files split at sync boundaries.  ``codec`` is
    ``"null"``, ``"deflate"`` (raw zlib per the spec), or ``"snappy"``
    (pyarrow's raw codec + big-endian CRC32 suffix per the spec).
    Returns the per-file stats frame (file, n_rows) — dimension-sized —
    after materializing it (the write IS the action).

    ``mode="append"`` REQUIRES a caller-supplied ``write_id``: files are
    named ``part-{pid}-{write_id}.avro``, so distinct appends coexist
    while a RETRY of the same (data, write_id) idempotently rewrites the
    same files.  Without it, a second append's part-00000 would
    ``os.replace`` the first one's — silent data loss (round-11 advice).

    Overwrite/rename assume a local POSIX filesystem (true in this
    image); on a cluster store, route through the Hadoop FS API.
    """
    import shutil

    if codec not in ("null", "deflate", "snappy"):
        raise NotImplementedError(f"avro codec {codec!r} not supported")
    if block_rows < 1:
        raise ValueError("to_avro: block_rows must be >= 1")
    kinds = _field_kinds(df.schema)
    schema_json = _avro_schema_json(kinds, "spark_row")
    if mode == "overwrite":
        shutil.rmtree(path, ignore_errors=True)  # local-FS contract (see docstring)
    elif mode == "append":
        if write_id is None:
            raise ValueError(
                "to_avro: mode='append' requires write_id= (a per-write "
                "unique, retry-stable token) — otherwise part files from "
                "an earlier append would be silently replaced"
            )
    else:
        raise ValueError(f"to_avro: unsupported mode {mode!r}")
    os.makedirs(path, exist_ok=True)
    suffix = f"-{write_id}" if write_id is not None else ""
    # call the factory on the DRIVER: the returned nested (<locals>)
    # functions cloudpickle BY VALUE into the closure — capturing the
    # module-level factory itself would pickle by reference and fail
    # on executors without dask_obj_spark on PYTHONPATH (verify-skill
    # worker-closure rule; _make_bpe_greedy_encode precedent)
    cdc = _make_avro_codec()
    zz, enc_row, header, compress = (
        cdc["zz"], cdc["enc_row"], cdc["header"], cdc["compress"],
    )
    # TOP-LEVEL temporal columns: have Arrow hand us the raw int
    # micros/days — exact, tz-free, and ~free (a metadata-only cast).
    # Nested temporals (inside structs/arrays/maps) arrive as
    # datetime/date objects from to_pylist; enc_any handles both.
    cast_kinds = {"ts-micros": "int64", "ts-ntz-micros": "int64", "date": "int32"}
    casts = [cast_kinds.get(k) for _, (k, _) in kinds]

    def write_partition(batches):
        import hashlib
        import os as _os

        import pyarrow as pa
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        sync = hashlib.md5(
            (schema_json + f"#part{pid}{suffix}").encode("utf-8")
        ).digest()
        fh = None
        final = _os.path.join(path, f"part-{pid:05d}{suffix}.avro")
        tmp = final + ".tmp"
        n_rows = 0
        for batch in batches:
            cols = [
                (batch.column(i).cast(getattr(pa, c)()) if c else batch.column(i))
                .to_pylist()
                for i, c in enumerate(casts)
            ]
            if not cols or not cols[0]:
                continue
            if fh is None:
                fh = open(tmp, "wb")
                fh.write(header(schema_json, sync, codec))
            cnt_total = len(cols[0])
            for lo in range(0, cnt_total, block_rows):
                hi = min(lo + block_rows, cnt_total)
                block = bytearray()
                for r in range(lo, hi):
                    enc_row(kinds, [c[r] for c in cols], block)
                payload = compress(codec, block)
                fh.write(zz(hi - lo) + zz(len(payload)) + payload + sync)
            n_rows += cnt_total
        if fh is not None:
            fh.close()
            _os.replace(tmp, final)
            yield pa.RecordBatch.from_pydict(
                {"file": [f"part-{pid:05d}{suffix}.avro"], "n_rows": [n_rows]}
            )

    stats = pin(df.mapInArrow(write_partition, "file string, n_rows bigint"))
    return stats


def _spark_type_from_desc(desc):
    """Spark DataType for one FILE-side descriptor — the INFERENCE
    direction (schema=None), reversing _spark_type_desc with the
    reader's promotions: enum → string, fixed → binary, int → long,
    millis → the corresponding timestamp class."""
    kind, extra = desc
    scalars = {
        "long": LongType, "double": DoubleType, "float": FloatType,
        "string": StringType, "bytes": BinaryType, "boolean": BooleanType,
        "enum": StringType, "date": DateType,
    }
    if kind in scalars:
        return scalars[kind]()
    if kind in ("ts-micros", "ts-millis"):
        return TimestampType()
    if kind in ("ts-ntz-micros", "ts-ntz-millis"):
        return TimestampNTZType()
    if kind == "fixed":
        return BinaryType()
    if kind == "decimal":
        _wire, _size, prec, scale = extra
        if (prec or 38) > 38:
            # clamping would make resolution reject the schema we just
            # inferred (file precision > requested) — fail HERE, clearly
            raise NotImplementedError(
                f"avro: decimal precision {prec} exceeds Spark's "
                f"DecimalType(38) — pass an explicit schema to read "
                f"this column another way (e.g. skip it)"
            )
        return DecimalType(prec or 38, scale)
    if kind == "array":
        idesc, imode = extra
        return ArrayType(_spark_type_from_desc(idesc), imode != "plain")
    if kind == "map":
        vdesc, vmode = extra
        return MapType(StringType(), _spark_type_from_desc(vdesc),
                       vmode != "plain")
    if kind == "record":
        return StructType([
            StructField(n, _spark_type_from_desc(d), m != "plain")
            for n, d, m in extra
        ])
    raise NotImplementedError(f"avro: cannot infer Spark type for {kind!r}")


def read_avro(
    spark: SparkSession,
    path: str,
    schema: StructType | str | None = None,
    split_bytes: int = 32 << 20,
) -> DataFrame:
    """Distributed Avro source without the connector jar: a Spark-4
    Python DataSource whose reader STREAMS length-prefixed blocks
    (O(block) memory, never the whole file) and SPLITS files larger
    than ``split_bytes`` at sync-marker boundaries into multiple input
    partitions — the Hadoop AvroInputFormat recipe: seek into the byte
    range, pattern-scan to the next 16-byte sync, own every block whose
    start offset falls inside [lo, hi).  A foreign multi-GB container
    therefore fans out across tasks instead of pinning one task + one
    file of memory.  ``schema`` is a DDL string or StructType; when
    omitted (``None``, the dask ``read_avro`` calling convention) it is
    INFERRED from the first file's writer schema — one ~KB header read
    on the driver, so the data scan stays a single pass (enum → string,
    fixed → binary, int → long, millis → the corresponding timestamp
    class; per-file resolution still reconciles heterogeneous files).

    Schema RESOLUTION, per file: each task decodes per the FILE's own
    writer schema (parsed from the container header) and projects the
    requested columns by NAME — so foreign containers with a different
    field order, ``[T, "null"]`` union order, non-nullable fields,
    extra fields (consumed and dropped — even complex ones), or
    ``timestamp-millis`` temporals (promoted to the requested micros
    class, as are int → long, float → double, enum → string, fixed →
    binary, decimal-on-fixed → the requested DecimalType) all read
    correctly; nested records resolve RECURSIVELY by name with the
    same promotions.  A requested field missing from a file, or
    present with an incompatible type (including a decimal scale
    mismatch), raises a ValueError naming the field and both types.
    An empty directory (e.g. the round-trip of an all-empty frame)
    yields an empty DataFrame, not an executor error — WITH an explicit
    ``schema``; under ``schema=None`` there is nothing to infer from,
    so the empty directory raises and names the fix.  The directory
    listing assumes a local POSIX filesystem (true in this image)."""
    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
    from pyspark.sql.types import _parse_datatype_string

    # driver-side factory call → by-value pickling (see to_avro)
    cdc = _make_avro_codec()
    read_header, find_anchor, iter_block_rows, kinds_from_schema_json = (
        cdc["read_header"], cdc["find_anchor"], cdc["iter_block_rows"],
        cdc["kinds_from_schema_json"],
    )
    if split_bytes < 1:
        # a negative value would yield a single (0, -hi) split that
        # silently reads 0 rows; zero divides — guard like block_rows
        raise ValueError("read_avro: split_bytes must be >= 1")
    if schema is None:
        # dask's read_avro parity: infer from the data.  One ~KB header
        # read of the first file on the DRIVER — still a single-pass
        # scan (per-file resolution below reconciles the other files).
        first = sorted(
            f for f in os.listdir(path) if f.endswith(".avro")
        )
        if not first:
            raise ValueError(
                f"read_avro: schema=None requires at least one .avro "
                f"file in {path!r} to infer from — pass an explicit "
                f"schema to read an empty directory as an empty frame"
            )
        with open(os.path.join(path, first[0]), "rb") as fh:
            _codec, schema_json0, _sync, _hl = read_header(fh)
        st = StructType([
            StructField(n, _spark_type_from_desc(d), m != "plain")
            for n, d, m in kinds_from_schema_json(schema_json0)
        ])
    else:
        st = _parse_datatype_string(schema) if isinstance(schema, str) else schema
    kinds = _field_kinds(st)
    # 3-tuple form: each top-level field's nullable flag rides into
    # resolve_plan so strict-null ('!') enforcement applies at the top
    # level too (ADVICE r12) — own-file round-trips are unaffected
    # (the writer always emits nullable unions, and strict mode only
    # raises on an ACTUAL null)
    req_kinds = [
        (n, d, f.nullable) for (n, d), f in zip(kinds, st.fields)
    ]

    # schema resolution lives in the codec factory (resolve_plan) so it
    # ships by value to executors and is property-testable standalone;
    # see the factory for the promotion rules (long→double rejected,
    # timestamps resolve across the instant/naive classes with the UNIT
    # from the file and the AWARENESS from the request)
    resolve_plan = cdc["resolve_plan"]
    files = sorted(
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.endswith(".avro")
    )
    splits = []
    for f in files:
        size = os.path.getsize(f)
        n = max(1, math.ceil(size / split_bytes))
        for i in range(n):
            splits.append((f, i * split_bytes, min((i + 1) * split_bytes, size), size))

    class _Split(InputPartition):
        def __init__(self, f, lo, hi, size):
            self.f, self.lo, self.hi, self.size = f, lo, hi, size

    class _Reader(DataSourceReader):
        def partitions(self):
            return [_Split(*s) for s in splits]

        def read(self, part):
            # an empty dir → partitions() == [], which PySpark turns
            # into a single None partition — yield nothing (r11 advice)
            if part is None:
                return
            with open(part.f, "rb") as fh:
                codec, schema_json, sync, header_len = read_header(fh)
                # decode per the FILE's writer schema, project by name —
                # foreign field order / union order / non-nullable
                # fields / extra fields all resolve correctly
                plan = resolve_plan(
                    req_kinds, kinds_from_schema_json(schema_json), part.f
                )
                if part.lo == 0:
                    anchor = header_len if header_len < part.hi else None
                else:
                    anchor = find_anchor(fh, sync, part.lo, part.size)
                if anchor is None:
                    return
                for row in iter_block_rows(
                    fh, anchor, part.hi, part.size, sync, codec,
                    plan, len(kinds),
                ):
                    yield tuple(row)

    class _AvroSource(DataSource):
        @classmethod
        def name(cls):
            return "dask_obj_avro"

        def schema(self):
            return st

        def reader(self, schema):
            return _Reader()

    spark.dataSource.register(_AvroSource)
    return spark.read.format("dask_obj_avro").schema(st).load()
