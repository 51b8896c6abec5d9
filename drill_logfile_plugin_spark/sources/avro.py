"""Avro Object Container File source, read from scratch per the
published Avro 1.x specification (the binary encoding + object
container file chapters of avro.apache.org's spec).

Why from scratch: this pyspark distribution ships Spark's CORE avro
jars but not the ``spark-avro`` datasource module, so
``spark.read.format("avro")`` fails at source resolution, and no
Python avro binding is installed — yet ``.avro`` part files are a
data-lake staple right beside the SequenceFiles this round also
covers. The container layout and binary encoding are small and fully
specified.

Implemented, stated plainly:

* **Container layout**: ``Obj\\x01`` magic, file-metadata map
  (``avro.schema`` JSON + ``avro.codec``), 16-byte sync marker; data
  blocks of (zigzag-long record count, zigzag-long byte size, codec-
  compressed record bytes, sync marker VERIFIED per block).
* **Codecs**: ``null``, ``deflate`` (RAW deflate per spec),
  ``snappy`` (raw snappy + the spec's 4-byte big-endian CRC32 of the
  UNCOMPRESSED bytes, verified — decoded by libsnappy through
  operators/snappy.py), ``bzip2``, ``xz`` (stdlib, bounded),
  ``zstandard`` (pyarrow's libzstd, bounded). Unknown codec
  names are a named absence.
* **Binary encoding**: null/boolean/int/long (zigzag varint)/float/
  double/bytes/string/fixed/enum (symbol index -> name)/array + map
  (block runs incl. the negative-count byte-size form)/record
  (writer-schema field order)/union. Schema references by name (a
  named record/enum/fixed used again later) resolve through the
  parse-time name table.
* **Spark mapping**: record->struct, string/enum->string,
  bytes/fixed->binary, int->int, long->bigint, float/double/boolean,
  array<T>, map<string,T>; a union is supported in its overwhelmingly
  common ``[null, T]`` / ``[T, null]`` form (nullable T) — any other
  union is a named NotImplementedError at schema-mapping time, never
  silent coercion. Logical types (decimal, timestamp-*) decode as
  their UNDERLYING primitive — documented, the caller applies
  semantics; nothing is silently scaled.
* **Reader schema = writer schema**: each file decodes with its own
  embedded schema (no schema-resolution/aliasing pass); the DataFrame
  schema derives from the FIRST file's header and files whose schema
  differs quarantine per-file (skip) or abort (strict).

House shape: ``binaryFile`` scan -> one Arrow-batched ``mapInPandas``
(one task per file, per-file quarantine — the WARC/SequenceFile
contract). Bounds on every declared size; sync markers verified;
corrupt structure is ValueError.
"""

from __future__ import annotations

import json
from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

_MAX_FILE = 1 << 30
_MAX_BLOCK = 256 << 20
_MAX_ITEMS = 50_000_000
_MAX_DEPTH = 32

_MAGIC = b"Obj\x01"


class _Cursor:
    __slots__ = ("data", "pos")

    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.pos = pos

    def take(self, n: int) -> bytes:
        if n < 0 or self.pos + n > len(self.data):
            raise ValueError("avro data truncated")
        out = self.data[self.pos : self.pos + n]
        self.pos += n
        return out

    def long(self) -> int:
        """Zigzag varint (the int/long wire form)."""
        shift = 0
        acc = 0
        while True:
            if self.pos >= len(self.data):
                raise ValueError("avro varint truncated")
            b = self.data[self.pos]
            self.pos += 1
            acc |= (b & 0x7F) << shift
            if not b & 0x80:
                break
            shift += 7
            if shift > 63:
                raise ValueError("avro varint exceeds 64 bits")
        return (acc >> 1) ^ -(acc & 1)

    def bytes_(self) -> bytes:
        n = self.long()
        if n < 0:
            raise ValueError("avro negative byte length")
        return self.take(n)

    def string(self) -> str:
        return self.bytes_().decode("utf-8", errors="replace")


def _parse_schema(node, names: dict):
    """Normalize a schema JSON node into the tuple form the decoder
    walks, registering named types for by-name references."""
    if isinstance(node, str):
        if node in names:
            return names[node]
        prim = {
            "null", "boolean", "int", "long", "float", "double",
            "bytes", "string",
        }
        if node in prim:
            return (node,)
        raise ValueError(f"avro schema references unknown name {node!r}")
    if isinstance(node, list):
        return ("union", [_parse_schema(b, names) for b in node])
    if not isinstance(node, dict):
        raise ValueError("avro schema node malformed")
    t = node.get("type")
    if t in ("record", "error"):
        fields = []
        parsed = ("record", node.get("name", ""), fields)
        _register(node, names, parsed)
        for f in node.get("fields", []):
            fields.append((f["name"], _parse_schema(f["type"], names)))
        return parsed
    if t == "enum":
        parsed = ("enum", list(node.get("symbols", [])))
        _register(node, names, parsed)
        return parsed
    if t == "fixed":
        size = int(node.get("size", -1))
        if size < 0 or size > _MAX_BLOCK:
            raise ValueError("avro fixed size out of bounds")
        parsed = ("fixed", size)
        _register(node, names, parsed)
        return parsed
    if t == "array":
        return ("array", _parse_schema(node["items"], names))
    if t == "map":
        return ("map", _parse_schema(node["values"], names))
    # {"type": "string", "logicalType": ...} and friends: underlying
    return _parse_schema(t, names)


def _register(node: dict, names: dict, parsed) -> None:
    name = node.get("name")
    if not name:
        return
    ns = node.get("namespace")
    full = f"{ns}.{name}" if ns and "." not in name else name
    names[full] = parsed
    names[name] = parsed


def _spark_type(schema):
    kind = schema[0]
    simple = {
        "boolean": BooleanType(),
        "int": IntegerType(),
        "long": LongType(),
        "float": FloatType(),
        "double": DoubleType(),
        "bytes": BinaryType(),
        "string": StringType(),
    }
    if kind in simple:
        return simple[kind]
    if kind == "null":
        raise NotImplementedError("avro: a bare null column has no type")
    if kind == "enum":
        return StringType()
    if kind == "fixed":
        return BinaryType()
    if kind == "array":
        return ArrayType(_spark_type(schema[1]))
    if kind == "map":
        return MapType(StringType(), _spark_type(schema[1]))
    if kind == "record":
        return StructType(
            [StructField(n, _spark_type(s)) for n, s in schema[2]]
        )
    if kind == "union":
        branches = [b for b in schema[1] if b[0] != "null"]
        if len(branches) != 1:
            raise NotImplementedError(
                "avro: only [null, T] unions map to a column type; "
                f"this union has {len(branches)} non-null branches"
            )
        return _spark_type(branches[0])
    raise ValueError(f"avro schema kind {kind!r} unknown")


def _decode(cur: _Cursor, schema, depth: int = 0):
    if depth > _MAX_DEPTH:
        raise ValueError("avro value nesting exceeds the bound")
    kind = schema[0]
    if kind == "null":
        return None
    if kind == "boolean":
        return cur.take(1) != b"\x00"
    if kind in ("int", "long"):
        return cur.long()
    if kind == "float":
        import struct

        return struct.unpack("<f", cur.take(4))[0]
    if kind == "double":
        import struct

        return struct.unpack("<d", cur.take(8))[0]
    if kind == "bytes":
        return bytearray(cur.bytes_())
    if kind == "string":
        return cur.string()
    if kind == "fixed":
        return bytearray(cur.take(schema[1]))
    if kind == "enum":
        idx = cur.long()
        symbols = schema[1]
        if not 0 <= idx < len(symbols):
            raise ValueError(f"avro enum index {idx} out of range")
        return symbols[idx]
    if kind == "array":
        out = []
        while True:
            count = cur.long()
            if count == 0:
                return out
            if count < 0:
                count = -count
                cur.long()  # block byte size (skippable form)
            if len(out) + count > _MAX_ITEMS:
                raise ValueError("avro array exceeds the item bound")
            for _ in range(count):
                out.append(_decode(cur, schema[1], depth + 1))
    if kind == "map":
        out = {}
        while True:
            count = cur.long()
            if count == 0:
                return out
            if count < 0:
                count = -count
                cur.long()
            if len(out) + count > _MAX_ITEMS:
                raise ValueError("avro map exceeds the item bound")
            for _ in range(count):
                k = cur.string()
                out[k] = _decode(cur, schema[1], depth + 1)
    if kind == "record":
        # dict, not tuple: Arrow's pandas->struct conversion takes
        # mapping values for nested StructType fields
        return {n: _decode(cur, s, depth + 1) for n, s in schema[2]}
    if kind == "union":
        idx = cur.long()
        branches = schema[1]
        if not 0 <= idx < len(branches):
            raise ValueError(f"avro union index {idx} out of range")
        return _decode(cur, branches[idx], depth + 1)
    raise ValueError(f"avro schema kind {kind!r} unknown")


def _codec_fn(name: str):
    import bz2
    import lzma
    import zlib

    if name in ("", "null"):
        return lambda p, cap: p
    if name == "deflate":

        def _deflate(p: bytes, cap: int) -> bytes:
            d = zlib.decompressobj(-15)  # RAW deflate per the spec
            try:
                out = d.decompress(p, cap + 1)
            except zlib.error as ex:
                raise ValueError(f"bad deflate block: {ex}") from ex
            if len(out) > cap:
                raise ValueError("avro block exceeds the bound")
            return out

        return _deflate
    if name == "snappy":
        from ..operators.snappy import snappy_raw_decompress

        def _snappy(p: bytes, cap: int) -> bytes:
            if len(p) < 4:
                raise ValueError("avro snappy block shorter than its CRC")
            out = snappy_raw_decompress(p[:-4], cap)
            want = int.from_bytes(p[-4:], "big")
            if zlib.crc32(out) & 0xFFFFFFFF != want:
                raise ValueError("avro snappy block CRC mismatch")
            return out

        return _snappy
    if name == "bzip2":
        from ..operators.multimodal import bounded_decompress_bytes

        return lambda p, cap: bounded_decompress_bytes(p, "bz2", cap)
    if name == "xz":
        from ..operators.multimodal import bounded_decompress_bytes

        return lambda p, cap: bounded_decompress_bytes(p, "xz", cap)
    if name == "zstandard":
        from ..operators.multimodal import bounded_decompress_bytes

        return lambda p, cap: bounded_decompress_bytes(p, "zstd", cap)
    raise NotImplementedError(f"avro codec {name!r} has no decoder")


def _parse_header(data: bytes):
    """(schema_json_str, parsed_schema, codec_fn, sync, body_pos)."""
    if data[:4] != _MAGIC:
        raise ValueError("not an Avro object container (Obj1 magic missing)")
    cur = _Cursor(data, 4)
    meta = {}
    while True:
        count = cur.long()
        if count == 0:
            break
        if count < 0:
            count = -count
            cur.long()
        if len(meta) + count > 1024:
            raise ValueError("avro metadata exceeds the bound")
        for _ in range(count):
            k = cur.string()
            meta[k] = cur.bytes_()
    schema_json = meta.get("avro.schema")
    if schema_json is None:
        raise ValueError("avro header lacks avro.schema")
    try:
        schema_node = json.loads(schema_json)
    except json.JSONDecodeError as ex:
        raise ValueError(f"avro.schema is not JSON: {ex}") from ex
    schema = _parse_schema(schema_node, {})
    codec = _codec_fn(meta.get("avro.codec", b"null").decode("ascii", "replace"))
    sync = cur.take(16)
    return schema_json, schema, codec, sync, cur.pos


def avro_records(data: bytes):
    """``(schema, iterator of decoded records)`` for one container
    payload — records are dicts (field name -> value) for record
    schemas, scalars otherwise. The parsing core, driver-free."""
    _, schema, codec, sync, pos = _parse_header(data)

    def gen():
        cur = _Cursor(data, pos)
        total = 0
        while cur.pos < len(data):
            n_rec = cur.long()
            size = cur.long()
            if n_rec < 0 or size < 0 or size > _MAX_BLOCK:
                raise ValueError("avro block header out of bounds")
            raw = codec(cur.take(size), _MAX_BLOCK)
            if cur.take(16) != sync:
                raise ValueError("avro sync marker mismatch")
            total += len(raw)
            if total > _MAX_FILE:
                raise ValueError("avro file exceeds the decoded bound")
            bcur = _Cursor(raw)
            for _ in range(n_rec):
                yield _decode(bcur, schema)
            if bcur.pos != len(raw):
                raise ValueError("avro block has undecoded trailing bytes")

    return schema, gen()


def read_avro(
    spark: SparkSession,
    path: str,
    on_error: str = "skip",
    path_glob: str | None = None,
) -> DataFrame:
    """One row per record across the Avro container files under
    ``path``; the DataFrame schema derives from the first file's
    embedded writer schema (top-level record -> its fields as columns;
    any other top level -> one ``value`` column). Files whose schema
    JSON differs from the first quarantine per-file (skip) or abort
    naming the file (strict)."""
    if on_error not in ("skip", "strict"):
        raise ValueError(
            f"on_error must be 'skip' or 'strict', got {on_error!r}"
        )
    reader = spark.read.format("binaryFile")
    if path_glob:
        reader = reader.option("pathGlobFilter", path_glob)
    files = reader.load(path).select("path", "content")
    first = files.select("path").orderBy("path").first()
    if first is None:
        raise ValueError(f"no files under {path!r}")
    head = _local_head(first["path"])
    ref_json, ref_schema, _, _, _ = _parse_header(head)
    if ref_schema[0] == "record":
        out_schema = _spark_type(ref_schema)
    else:
        out_schema = StructType(
            [StructField("value", _spark_type(ref_schema))]
        )

    def parse_batches(
        batches: Iterable[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for fpath, blob in zip(pdf["path"], pdf["content"]):
                frows = []  # per-file: skip must drop the WHOLE file,
                # never leave a corrupt file's earlier records behind
                try:
                    data = bytes(blob)
                    got_json, _, _, _, _ = _parse_header(data)
                    if json.loads(got_json) != json.loads(ref_json):
                        raise ValueError(
                            "avro schema differs from the first file's"
                        )
                    _, records = avro_records(data)
                    if ref_schema[0] == "record":
                        field_names = [n for n, _ in ref_schema[2]]
                        for rec in records:
                            frows.append(
                                tuple(rec[n] for n in field_names)
                            )
                    else:
                        for rec in records:
                            frows.append((rec,))
                except (ValueError, NotImplementedError) as ex:
                    if on_error == "strict":
                        raise ValueError(f"{fpath}: {ex}") from ex
                    continue
                rows.extend(frows)
            yield pd.DataFrame(
                rows, columns=[f.name for f in out_schema.fields]
            )

    return files.mapInPandas(parse_batches, out_schema)


def _local_head(uri: str, n: int = 1 << 20) -> bytes:
    """First ``n`` bytes of a binaryFile path for header parsing —
    local filesystems only (the schema-derivation step); other
    schemes need the whole-file lane."""
    p = uri
    if p.startswith("file:"):
        p = p[5:]
        while p.startswith("//"):
            p = p[1:]
    if "://" in p:
        raise NotImplementedError(
            f"avro schema derivation reads local paths; got {uri!r} — "
            "pass a local path or copy one file down"
        )
    with open(p, "rb") as fh:
        return fh.read(n)
