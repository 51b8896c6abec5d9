"""Avro object-container reader (r11) pinned against an independent
in-test WRITER built from the published spec (zigzag varints, block
runs, container framing, each codec's exact body shape — the snappy
body via the in-test raw encoder from tests/test_lz4_snappy.py)."""

import bz2
import json
import lzma
import struct
import zlib

import pyarrow as pa
import pytest

from drill_logfile_plugin_spark.sources.avro import (
    avro_records,
    read_avro,
)
from tests.test_lz4_snappy import _snappy_compress_raw

SYNC = bytes(range(16, 32))


# ----------------------------------------------------- independent writer

def _zz(v: int) -> bytes:
    """Zigzag varint."""
    u = (v << 1) ^ (v >> 63) if v < 0 else v << 1
    out = bytearray()
    while True:
        if u < 0x80:
            out.append(u)
            return bytes(out)
        out.append((u & 0x7F) | 0x80)
        u >>= 7


def _wbytes(b: bytes) -> bytes:
    return _zz(len(b)) + b


def _wstr(s: str) -> bytes:
    return _wbytes(s.encode())


def _encode(value, schema, names=None) -> bytes:
    """Independent binary encoder for the schema shapes the tests
    use (JSON-node driven, no sharing with the parser's tuple IR).
    ``names`` carries named-type definitions for by-name reuse."""
    if names is None:
        names = {}
    if isinstance(schema, list):  # union
        for i, branch in enumerate(schema):
            if branch == "null" and value is None:
                return _zz(i)
            if branch != "null" and value is not None:
                return _zz(i) + _encode(value, branch, names)
        raise AssertionError("no union branch fits")
    if isinstance(schema, str) and schema in names:
        return _encode(value, names[schema], names)
    if isinstance(schema, dict):
        t = schema["type"]
        if "name" in schema:
            names[schema["name"]] = schema
        if t == "record":
            return b"".join(
                _encode(value[f["name"]], f["type"], names)
                for f in schema["fields"]
            )
        if t == "enum":
            return _zz(schema["symbols"].index(value))
        if t == "fixed":
            assert len(value) == schema["size"]
            return bytes(value)
        if t == "array":
            out = b""
            if value:
                out += _zz(len(value)) + b"".join(
                    _encode(v, schema["items"], names) for v in value
                )
            return out + _zz(0)
        if t == "map":
            out = b""
            if value:
                out += _zz(len(value)) + b"".join(
                    _wstr(k) + _encode(v, schema["values"], names)
                    for k, v in value.items()
                )
            return out + _zz(0)
        return _encode(value, t, names)
    if schema == "null":
        return b""
    if schema == "boolean":
        return b"\x01" if value else b"\x00"
    if schema in ("int", "long"):
        return _zz(value)
    if schema == "float":
        return struct.pack("<f", value)
    if schema == "double":
        return struct.pack("<d", value)
    if schema == "bytes":
        return _wbytes(bytes(value))
    if schema == "string":
        return _wstr(value)
    raise AssertionError(f"unhandled schema {schema}")


_WRITER_CODECS = {
    "null": lambda d: d,
    "deflate": lambda d: zlib.compress(d)[2:-4],  # raw deflate body
    "snappy": lambda d: _snappy_compress_raw(d)
    + (zlib.crc32(d) & 0xFFFFFFFF).to_bytes(4, "big"),
    "bzip2": bz2.compress,
    "xz": lzma.compress,
    "zstandard": lambda d: pa.Codec("zstd").compress(d, asbytes=True),
}


def _container(
    schema_node, records, codec="null", per_block=4, sync=SYNC
) -> bytes:
    comp = _WRITER_CODECS[codec]
    out = bytearray(b"Obj\x01")
    meta = {
        "avro.schema": json.dumps(schema_node).encode(),
        "avro.codec": codec.encode(),
    }
    out += _zz(len(meta))
    for k, v in meta.items():
        out += _wstr(k) + _wbytes(v)
    out += _zz(0)
    out += sync
    for start in range(0, len(records), per_block):
        chunk = records[start : start + per_block]
        names: dict = {}
        raw = b"".join(_encode(r, schema_node, names) for r in chunk)
        body = comp(raw)
        out += _zz(len(chunk)) + _zz(len(body)) + body + sync
    return bytes(out)


DOC_SCHEMA = {
    "type": "record",
    "name": "Doc",
    "fields": [
        {"name": "doc_id", "type": "long"},
        {"name": "text", "type": ["null", "string"]},
        {"name": "lang", "type": {
            "type": "enum", "name": "Lang", "symbols": ["en", "de", "fr"],
        }},
        {"name": "scores", "type": {"type": "array", "items": "double"}},
        {"name": "tags", "type": {"type": "map", "values": "int"}},
        {"name": "digest", "type": {
            "type": "fixed", "name": "Digest", "size": 4,
        }},
        {"name": "meta", "type": {
            "type": "record", "name": "Meta", "fields": [
                {"name": "source", "type": "string"},
                {"name": "ok", "type": "boolean"},
            ],
        }},
    ],
}

DOCS = [
    {
        "doc_id": i,
        "text": None if i % 4 == 3 else f"document {i} text body",
        "lang": ["en", "de", "fr"][i % 3],
        "scores": [i * 0.5, -i * 0.25],
        "tags": {f"t{i}": i, "n": -i},
        "digest": bytes([i, i + 1, i + 2, i + 3]),
        "meta": {"source": f"s{i % 2}", "ok": i % 2 == 0},
    }
    for i in range(9)
]


# ------------------------------------------------------------- core parse

@pytest.mark.parametrize("codec", list(_WRITER_CODECS))
def test_roundtrip_all_codecs(codec):
    data = _container(DOC_SCHEMA, DOCS, codec=codec)
    _, records = avro_records(data)
    got = list(records)
    assert len(got) == len(DOCS)
    for g, w in zip(got, DOCS):
        assert g["doc_id"] == w["doc_id"]
        assert g["text"] == w["text"]
        assert g["lang"] == w["lang"]
        assert g["scores"] == pytest.approx(w["scores"])
        assert dict(g["tags"]) == w["tags"]
        assert bytes(g["digest"]) == w["digest"]
        assert g["meta"] == w["meta"]


def test_scalar_top_level_and_negative_block_counts():
    data = _container("string", ["alpha", "beta", "gamma"], per_block=2)
    _, records = avro_records(data)
    assert list(records) == ["alpha", "beta", "gamma"]
    # array with the negative-count (byte-size-prefixed) block form
    schema = {"type": "array", "items": "int"}
    body = _zz(-2) + _zz(2) + _zz(7) + _zz(-7) + _zz(0)
    blob = (
        bytearray(b"Obj\x01")
        + _zz(1) + _wstr("avro.schema") + _wbytes(json.dumps(schema).encode())
        + _zz(0) + SYNC
        + _zz(1) + _zz(len(body)) + body + SYNC
    )
    _, records = avro_records(bytes(blob))
    assert list(records) == [[7, -7]]


def test_named_type_reuse():
    schema = {
        "type": "record", "name": "Pair", "fields": [
            {"name": "a", "type": {
                "type": "fixed", "name": "H", "size": 2}},
            {"name": "b", "type": "H"},  # by-name reference
        ],
    }
    recs = [{"a": b"xy", "b": b"zw"}]
    _, records = avro_records(_container(schema, recs))
    got = list(records)[0]
    assert bytes(got["a"]) == b"xy" and bytes(got["b"]) == b"zw"


def test_rejections():
    with pytest.raises(ValueError, match="magic"):
        avro_records(b"NOPE" + bytes(60))
    good = _container(DOC_SCHEMA, DOCS)
    bad = bytearray(good)
    bad[-10] ^= 0xFF  # inside the final sync marker
    with pytest.raises(ValueError, match="sync"):
        list(avro_records(bytes(bad))[1])
    with pytest.raises(ValueError, match="truncated"):
        list(avro_records(good[:-20])[1])
    snap = bytearray(_container(DOC_SCHEMA, DOCS[:2], codec="snappy"))
    snap[-20] ^= 0xFF  # ciphertext byte -> CRC mismatch (or snappy err)
    with pytest.raises(ValueError):
        list(avro_records(bytes(snap))[1])
    with pytest.raises(NotImplementedError, match="codec"):
        avro_records(_container(DOC_SCHEMA, [], codec="null").replace(
            b"avro.codec\x08null", b"avro.codec\x08lzo!"
        ))


def test_multibranch_union_is_named_absence(spark, tmp_path):
    schema = {
        "type": "record", "name": "U", "fields": [
            {"name": "v", "type": ["int", "string"]},
        ],
    }
    (tmp_path / "u.avro").write_bytes(_container(schema, [{"v": 3}]))
    with pytest.raises(Exception, match="union"):
        read_avro(spark, str(tmp_path)).collect()


# ------------------------------------------------------------ Spark lane

def test_read_avro_spark_lane(spark, tmp_path):
    (tmp_path / "part-0.avro").write_bytes(
        _container(DOC_SCHEMA, DOCS[:5], codec="deflate")
    )
    (tmp_path / "part-1.avro").write_bytes(
        _container(DOC_SCHEMA, DOCS[5:], codec="snappy")
    )
    df = read_avro(spark, str(tmp_path))
    assert df.columns == [
        "doc_id", "text", "lang", "scores", "tags", "digest", "meta",
    ]
    rows = {r["doc_id"]: r for r in df.collect()}
    assert len(rows) == 9
    assert rows[1]["text"] == "document 1 text body"
    assert rows[3]["text"] is None
    assert rows[2]["meta"]["source"] == "s0"
    assert rows[4]["tags"]["n"] == -4
    # composes straight into SQL
    df.createOrReplaceTempView("avro_docs")
    n = spark.sql(
        "SELECT count(*) AS n FROM avro_docs WHERE text IS NOT NULL"
    ).collect()[0]["n"]
    assert n == 7


def test_schema_mismatch_quarantines_or_aborts(spark, tmp_path):
    (tmp_path / "a.avro").write_bytes(_container(DOC_SCHEMA, DOCS[:3]))
    other = {"type": "record", "name": "Other", "fields": [
        {"name": "x", "type": "int"}]}
    (tmp_path / "b.avro").write_bytes(_container(other, [{"x": 1}]))
    assert read_avro(spark, str(tmp_path)).count() == 3
    with pytest.raises(Exception, match="differs"):
        read_avro(spark, str(tmp_path), on_error="strict").count()


def test_midfile_corruption_drops_whole_file(spark, tmp_path):
    good = _container(DOC_SCHEMA, DOCS[:3])
    bad = bytearray(_container(DOC_SCHEMA, DOCS[:6], per_block=3))
    bad[-10] ^= 0xFF  # second block's sync marker
    (tmp_path / "a.avro").write_bytes(good)
    (tmp_path / "b.avro").write_bytes(bytes(bad))
    df = read_avro(spark, str(tmp_path))
    assert df.count() == 3  # b.avro's first (valid) block must NOT leak
