"""SequenceFile reader (r11) pinned against an independent in-test
WRITER built from the published Hadoop layout (header v6, record /
record-compressed / block-compressed bodies, zero-compressed vints,
sync escapes), with codec bodies produced by the in-test snappy/lz4
encoders from tests/test_lz4_snappy.py — generator side fully
independent of the parser under test."""

import bz2
import gzip
import zlib

import pyarrow as pa
import pytest

from drill_logfile_plugin_spark.sources.seqfile import (
    maybe_text,
    read_sequencefile,
    sequencefile_documents,
    sequencefile_records,
)
from tests.test_lz4_snappy import _lz4_compress_block, _snappy_compress_raw

SYNC = bytes(range(16))
TEXT = "org.apache.hadoop.io.Text"
LONGW = "org.apache.hadoop.io.LongWritable"
NULLW = "org.apache.hadoop.io.NullWritable"


# ----------------------------------------------------- independent writer

def _w_vint(v: int) -> bytes:
    """Hadoop WritableUtils.writeVLong for the sizes tests need."""
    if -112 <= v <= 127:
        return bytes([v & 0xFF])
    out = bytearray()
    base = -112
    val = v
    if v < 0:
        base = -120
        val = ~v
    size = (val.bit_length() + 7) // 8
    out.append((base - size) & 0xFF)
    out += val.to_bytes(size, "big")
    return bytes(out)


def _w_str(s: str) -> bytes:
    b = s.encode("utf-8")
    return _w_vint(len(b)) + b


def _text(s: str) -> bytes:
    b = s.encode("utf-8")
    return _w_vint(len(b)) + b


def _longw(v: int) -> bytes:
    return v.to_bytes(8, "big", signed=True)


_CODECS = {
    None: None,
    "org.apache.hadoop.io.compress.DefaultCodec": zlib.compress,
    "org.apache.hadoop.io.compress.GzipCodec": gzip.compress,
    "org.apache.hadoop.io.compress.BZip2Codec": bz2.compress,
    "org.apache.hadoop.io.compress.SnappyCodec": lambda d: (
        len(d).to_bytes(4, "big")
        + len(_snappy_compress_raw(d)).to_bytes(4, "big")
        + _snappy_compress_raw(d)
    ),
    "org.apache.hadoop.io.compress.Lz4Codec": lambda d: (
        len(d).to_bytes(4, "big")
        + len(_lz4_compress_block(d)).to_bytes(4, "big")
        + _lz4_compress_block(d)
    ),
    "org.apache.hadoop.io.compress.ZStandardCodec": lambda d: (
        pa.Codec("zstd").compress(d, asbytes=True)
    ),
}


def _header(
    key_class=TEXT, value_class=TEXT, codec=None, block=False,
    meta=(), sync=SYNC,
) -> bytes:
    out = bytearray(b"SEQ\x06")
    out += _w_str(key_class) + _w_str(value_class)
    out += bytes([1 if codec else 0, 1 if block else 0])
    if codec:
        out += _w_str(codec)
    out += len(meta).to_bytes(4, "big")
    for k, v in meta:
        out += _w_str(k) + _w_str(v)
    out += sync
    return bytes(out)


def _record_file(records, codec=None, sync_every=None, **hdr_kw) -> bytes:
    """Uncompressed / record-compressed layout. ``records`` is
    [(key_bytes, value_bytes)]; with a codec each VALUE compresses
    individually. ``sync_every`` inserts a sync escape every N
    records."""
    comp = _CODECS[codec]
    out = bytearray(_header(codec=codec, block=False, **hdr_kw))
    for i, (k, v) in enumerate(records):
        if sync_every and i and i % sync_every == 0:
            out += (-1).to_bytes(4, "big", signed=True) + SYNC
        body = comp(v) if comp else v
        out += (len(k) + len(body)).to_bytes(4, "big")
        out += len(k).to_bytes(4, "big")
        out += k + body
    return bytes(out)


def _block_file(records, codec, per_block=3, **hdr_kw) -> bytes:
    comp = _CODECS[codec]
    out = bytearray(_header(codec=codec, block=True, **hdr_kw))
    for start in range(0, len(records), per_block):
        chunk = records[start : start + per_block]
        out += (-1).to_bytes(4, "big", signed=True) + SYNC
        out += _w_vint(len(chunk))
        key_lens = b"".join(_w_vint(len(k)) for k, _ in chunk)
        keys = b"".join(k for k, _ in chunk)
        val_lens = b"".join(_w_vint(len(v)) for _, v in chunk)
        vals = b"".join(v for _, v in chunk)
        for raw in (key_lens, keys, val_lens, vals):
            c = comp(raw)
            out += _w_vint(len(c)) + c
    return bytes(out)


RECORDS = [
    (_text(f"key-{i}"), _text(f"document body number {i}, " * (i % 5 + 1)))
    for i in range(10)
]


# ------------------------------------------------------------- core parse

def test_uncompressed_record_layout():
    data = _record_file(RECORDS)
    h, it = sequencefile_records(data)
    got = list(it)
    assert h.key_class == TEXT and not h.compressed and not h.block
    assert got == [(k, v) for k, v in RECORDS]


def test_sync_escapes_are_skipped_and_verified():
    data = _record_file(RECORDS, sync_every=3)
    _, it = sequencefile_records(data)
    assert list(it) == RECORDS
    bad = bytearray(_record_file(RECORDS, sync_every=3))
    # corrupt the first in-body sync marker (after header)
    idx = bad.index((-1).to_bytes(4, "big", signed=True), 100)
    bad[idx + 5] ^= 0xFF
    with pytest.raises(ValueError, match="sync marker"):
        list(sequencefile_records(bytes(bad))[1])


@pytest.mark.parametrize(
    "codec",
    [c for c in _CODECS if c],
    ids=lambda c: c.rsplit(".", 1)[-1],
)
def test_record_compressed_all_codecs(codec):
    data = _record_file(RECORDS, codec=codec)
    h, it = sequencefile_records(data)
    assert h.compressed and not h.block
    assert list(it) == RECORDS


@pytest.mark.parametrize(
    "codec",
    [c for c in _CODECS if c],
    ids=lambda c: c.rsplit(".", 1)[-1],
)
def test_block_compressed_all_codecs(codec):
    data = _block_file(RECORDS, codec=codec, per_block=4)
    h, it = sequencefile_records(data)
    assert h.block
    assert list(it) == RECORDS


def test_metadata_and_long_keys():
    recs = [(_longw(i), _text(f"v{i}")) for i in range(3)]
    data = _record_file(
        recs, key_class=LONGW, meta=(("a", "1"), ("b", "2")),
    )
    h, it = sequencefile_records(data)
    assert h.key_class == LONGW
    assert list(it) == recs


def test_null_key_empty_record():
    recs = [(b"", _text("only value")), (b"", b"")]
    data = _record_file(recs, key_class=NULLW)
    assert list(sequencefile_records(data)[1]) == recs


def test_rejections():
    with pytest.raises(ValueError, match="SEQ magic"):
        sequencefile_records(b"NOPE" + b"\x00" * 50)
    with pytest.raises(NotImplementedError, match="version"):
        sequencefile_records(b"SEQ\x04" + b"\x00" * 50)
    with pytest.raises(NotImplementedError, match="codec"):
        sequencefile_records(
            _record_file([], codec=None)[:4]
            + _w_str(TEXT) + _w_str(TEXT)
            + bytes([1, 0]) + _w_str("com.example.WeirdCodec")
            + (0).to_bytes(4, "big") + SYNC
        )
    data = _record_file(RECORDS)
    with pytest.raises(ValueError, match="truncated"):
        list(sequencefile_records(data[:-3])[1])
    # declared record length beyond the payload
    bad = bytearray(_record_file([(_text("k"), _text("v"))]))
    bad[-8:-4] = (1 << 20).to_bytes(4, "big")
    with pytest.raises(ValueError):
        list(sequencefile_records(bytes(bad))[1])


def test_vint_boundary_values_roundtrip():
    from drill_logfile_plugin_spark.sources.seqfile import _read_vint

    for v in (0, 1, 127, -112, 128, 255, 256, 65535, 1 << 24, (1 << 31) - 1):
        raw = _w_vint(v) + b"tail"
        got, i = _read_vint(raw, 0)
        assert got == v and raw[i:] == b"tail"


def test_maybe_text_writables():
    assert maybe_text(_text("héllo"), TEXT) == "héllo"
    assert maybe_text(_longw(-42), LONGW) == "-42"
    assert maybe_text(b"", NULLW) == ""
    assert maybe_text((3).to_bytes(4, "big") + b"abc",
                      "org.apache.hadoop.io.BytesWritable") == "abc"
    assert maybe_text(b"\x00" * 8, "com.example.CustomWritable") is None
    with pytest.raises(ValueError, match="mismatch"):
        maybe_text(_text("x") + b"extra", TEXT)


# ------------------------------------------------------------ Spark lanes

def test_read_sequencefile_spark_lane(spark, tmp_path):
    (tmp_path / "part-00000").write_bytes(
        _record_file(RECORDS[:5], codec="org.apache.hadoop.io.compress.DefaultCodec")
    )
    (tmp_path / "part-00001").write_bytes(
        _block_file(RECORDS[5:], codec="org.apache.hadoop.io.compress.SnappyCodec")
    )
    df = read_sequencefile(spark, str(tmp_path))
    rows = df.collect()
    assert len(rows) == 10
    assert {r["value_class"] for r in rows} == {TEXT}
    got = sorted(bytes(r["value"]) for r in rows)
    assert got == sorted(v for _, v in RECORDS)


def test_corrupt_file_quarantines_or_aborts(spark, tmp_path):
    (tmp_path / "good.seq").write_bytes(_record_file(RECORDS[:3]))
    (tmp_path / "bad.seq").write_bytes(b"SEQ\x06garbage-that-fails")
    assert read_sequencefile(spark, str(tmp_path)).count() == 3
    with pytest.raises(Exception, match="bad.seq"):
        read_sequencefile(spark, str(tmp_path), on_error="strict").count()


def test_sequencefile_documents_adapter(spark, tmp_path):
    recs = [(_longw(i), _text(f"doc body {i} with words")) for i in range(4)]
    (tmp_path / "part-00000").write_bytes(
        _record_file(recs, key_class=LONGW,
                     codec="org.apache.hadoop.io.compress.Lz4Codec")
    )
    docs = sequencefile_documents(spark, str(tmp_path))
    assert docs.columns == ["doc_id", "text", "source"]
    rows = docs.orderBy("text").collect()
    assert [r["text"] for r in rows] == [
        f"doc body {i} with words" for i in range(4)
    ]
    assert len({r["doc_id"] for r in rows}) == 4


def test_midfile_corruption_drops_whole_file(spark, tmp_path):
    """Skip-mode quarantine is per FILE: valid records before a
    corrupt tail must not leak through."""
    good = _record_file(RECORDS[:3])
    bad = _record_file(RECORDS[:3]) + b"\x00\x00\x00\x10short"
    (tmp_path / "good.seq").write_bytes(good)
    (tmp_path / "bad.seq").write_bytes(bad)
    df = read_sequencefile(spark, str(tmp_path))
    assert df.count() == 3
    assert {r["path"].rsplit("/", 1)[-1] for r in df.collect()} == {
        "good.seq"
    }


def test_all_quarantined_batch_yields_cleanly(spark, tmp_path):
    """A partition whose every file quarantines must yield an empty
    Arrow-convertible batch (object dtype), not crash."""
    (tmp_path / "only-bad.seq").write_bytes(b"SEQ\x06broken")
    assert read_sequencefile(spark, str(tmp_path)).count() == 0
