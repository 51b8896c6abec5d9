"""decompress_payload and the bounded primitive behind it: exact
roundtrips across every codec (stdlib and pyarrow compressors as the
independent references), multi-member gzip, concatenated and skippable
zstd frames, the decompression-bomb guard (bounded work, named error),
the quarantine matrix, and NULL passthrough."""

from __future__ import annotations

import bz2
import gzip
import lzma
import zlib

import pyarrow as pa
import pytest

from drill_logfile_plugin_spark.operators.multimodal import (
    bounded_decompress_bytes,
    decompress_payload,
)

BODY = b"the quick brown fox " * 200


def _df(spark, payloads):
    return spark.createDataFrame(
        [(i, p) for i, p in enumerate(payloads)],
        "doc_id long, payload binary",
    )


@pytest.mark.parametrize(
    "codec,compress",
    [
        ("gzip", gzip.compress),
        ("zlib", zlib.compress),
        ("raw-deflate", lambda b: zlib.compress(b)[2:-4]),
        ("bz2", bz2.compress),
        ("xz", lzma.compress),
    ],
)
def test_roundtrip_all_codecs(spark, codec, compress):
    df = _df(spark, [compress(BODY), compress(b"x")])
    rows = decompress_payload(df, codec=codec).orderBy("doc_id").collect()
    assert bytes(rows[0]["payload"]) == BODY
    assert bytes(rows[1]["payload"]) == b"x"


def test_gzip_multi_member(spark):
    """The WARC layout: concatenated gzip members inflate to the
    concatenated bodies."""
    blob = gzip.compress(b"first|") + gzip.compress(b"second")
    rows = decompress_payload(_df(spark, [blob]), codec="gzip").collect()
    assert bytes(rows[0]["payload"]) == b"first|second"


def test_bomb_guard(spark):
    """A tiny payload inflating past max_bytes is quarantined (default),
    and names the bound under strict — work stays bounded either way."""
    bomb = zlib.compress(b"\x00" * (1 << 20))  # ~1 KiB -> 1 MiB
    df = _df(spark, [bomb, zlib.compress(b"fine")])
    rows = (
        decompress_payload(df, codec="zlib", max_bytes=1 << 16)
        .orderBy("doc_id")
        .collect()
    )
    assert rows[0]["payload"] is None  # quarantined
    assert bytes(rows[1]["payload"]) == b"fine"
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import PythonException

    with pytest.raises(
        (PythonException, Py4JJavaError), match="exceeds max_bytes"
    ):
        decompress_payload(
            df, codec="zlib", max_bytes=1 << 16, on_error="strict"
        ).collect()


def test_quarantine_matrix_and_nulls(spark):
    df = _df(spark, [gzip.compress(b"ok"), b"not gzip at all", None])
    got = {
        r["doc_id"]: r["payload"]
        for r in decompress_payload(df, codec="gzip").collect()
    }
    assert bytes(got[0]) == b"ok" and got[1] is None and got[2] is None
    skipped = decompress_payload(df, codec="gzip", on_error="skip").collect()
    # skip drops the CORRUPT row; the NULL row passes through as NULL
    assert {r["doc_id"] for r in skipped} == {0, 2}
    with pytest.raises(NotImplementedError, match="lz4"):
        decompress_payload(df, codec="lz4")
    with pytest.raises(ValueError, match="max_bytes"):
        decompress_payload(df, max_bytes=0)


def test_composes_with_decode(spark):
    """The crawl shape: stored-gzip PNG bytes → decompress → decode."""
    from drill_logfile_plugin_spark.operators.multimodal import (
        _png_encode_gray,
        decode_media,
    )
    import numpy as np

    png = _png_encode_gray(
        np.arange(64, dtype=np.uint8).reshape(8, 8)
    )
    df = _df(spark, [gzip.compress(png)])
    meta = decode_media(
        decompress_payload(df, codec="gzip"), codec="png"
    ).first()
    assert (meta["width"], meta["height"]) == (8, 8)


# --- zstd lane: pyarrow's libzstd, run through the bounded primitive ---

_ZMAGIC = b"\x28\xb5\x2f\xfd"


def _zstd_compress(data: bytes) -> bytes:
    return pa.Codec("zstd").compress(data, asbytes=True)


_M64 = (1 << 64) - 1
_P1, _P2, _P3 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9
_P4, _P5 = 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _xxh64_short(data: bytes) -> int:
    """xxHash64, seed 0, for inputs under 32 bytes (no stripe loop):
    the zstd content checksum of the test frames below."""
    assert len(data) < 32
    h = (_P5 + len(data)) & _M64
    i = 0
    while i + 8 <= len(data):
        k = int.from_bytes(data[i : i + 8], "little")
        h ^= (_rotl64(k * _P2 & _M64, 31) * _P1) & _M64
        h = (_rotl64(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= len(data):
        h ^= int.from_bytes(data[i : i + 4], "little") * _P1 & _M64
        h = (_rotl64(h, 23) * _P2 + _P3) & _M64
        i += 4
    for b in data[i:]:
        h ^= b * _P5 & _M64
        h = _rotl64(h, 11) * _P1 & _M64
    h ^= h >> 33
    h = h * _P2 & _M64
    h ^= h >> 29
    h = h * _P3 & _M64
    return h ^ (h >> 32)


def _checksummed_raw_frame(data: bytes) -> bytes:
    """RFC 8878 frame: single segment, 1-byte content size, one raw
    block, content checksum (libzstd's compressor never sets it)."""
    block = (1 | (len(data) << 3)).to_bytes(3, "little") + data
    check = (_xxh64_short(data) & 0xFFFFFFFF).to_bytes(4, "little")
    return _ZMAGIC + bytes([0x24, len(data)]) + block + check


def test_xxh64_published_check_values():
    assert _xxh64_short(b"") == 0xEF46DB3751D8E999
    assert _xxh64_short(b"a") == 0xD24EC4F1A98C6E5B
    assert _xxh64_short(b"abc") == 0x44BC2CF5AD770999


def test_zstd_roundtrip_and_quarantine(spark):
    df = _df(spark, [_zstd_compress(b"hello zstd"), b"not zstd", None])
    got = {
        r["doc_id"]: r["payload"]
        for r in decompress_payload(df, codec="zstd").collect()
    }
    assert bytes(got[0]) == b"hello zstd"
    assert got[1] is None and got[2] is None  # quarantine + NULL-through


def test_zstd_live_without_module(spark):
    """No zstd module (zstandard, compression.zstd) is needed: the lane
    decodes a real zstd frame through Spark on pyarrow's libzstd."""
    df = _df(spark, [_zstd_compress(b"module-free payload " * 4)])
    out = decompress_payload(df, codec="zstd").collect()
    assert bytes(out[0]["payload"]) == b"module-free payload " * 4


def test_zstd_bomb_guard(spark):
    bomb = _zstd_compress(b"\x00" * (1 << 20))  # 1 MiB of zeros
    df = _df(spark, [bomb])
    out = decompress_payload(df, codec="zstd", max_bytes=1024).collect()
    assert out[0]["payload"] is None  # bounded, quarantined — no abort
    ok = decompress_payload(df, codec="zstd", max_bytes=1 << 21).collect()
    assert len(bytes(ok[0]["payload"])) == 1 << 20


def test_zstd_content_checksum_mismatch():
    data = b"checksummed content"
    frame = _checksummed_raw_frame(data)
    assert bounded_decompress_bytes(frame, "zstd", 1 << 20) == data
    bad = bytearray(frame)
    bad[-1] ^= 0xFF
    with pytest.raises(ValueError, match="checksum"):
        bounded_decompress_bytes(bytes(bad), "zstd", 1 << 20)


def test_zstd_skippable_and_concatenated_frames():
    a = _zstd_compress(b"first ")
    skip = b"\x5a\x2a\x4d\x18" + (3).to_bytes(4, "little") + b"xyz"
    b = _checksummed_raw_frame(b"second")
    assert bounded_decompress_bytes(a + skip + b, "zstd", 1 << 20) == (
        b"first second"
    )


def test_zstd_rejections():
    good = _zstd_compress(b"the quick brown fox jumps over the lazy dog " * 40)
    with pytest.raises(ValueError, match="Unknown frame descriptor"):
        bounded_decompress_bytes(b"\xde\xad\xbe\xef rest", "zstd", 1 << 20)
    with pytest.raises(ValueError, match="Truncated"):
        bounded_decompress_bytes(good[:-9], "zstd", 1 << 20)
    with pytest.raises(ValueError, match="bad zstd"):
        bounded_decompress_bytes(good + b"garbage", "zstd", 1 << 20)
    with pytest.raises(ValueError, match="exceeds max_bytes"):
        bounded_decompress_bytes(good, "zstd", 10)


def test_zstd_dictionary_frames_quarantine():
    """Dictionary frames are unsupported: one that names a dictionary
    is corrupt, also behind a skippable frame carrying a dictionary
    (the .warc.zst convention), which is skipped unread."""
    frame = _ZMAGIC + bytes([0x01, 0x50, 0x07]) + b"\x01\x00\x00"
    skip = b"\x5d\x2a\x4d\x18" + (4).to_bytes(4, "little") + b"dict"
    for payload in (frame, skip + frame):
        with pytest.raises(ValueError, match="Dictionary mismatch"):
            bounded_decompress_bytes(payload, "zstd", 1 << 20)


# --- streaming bounded bz2/xz (r9): the one-shot decompress bomb window ---

@pytest.mark.parametrize(
    "codec,compress",
    [("gzip", gzip.compress), ("bz2", bz2.compress), ("xz", lzma.compress),
     ("zstd", _zstd_compress),
     ("lz4", lambda b: pa.Codec("lz4").compress(b, asbytes=True))],
)
def test_bounded_bytes_roundtrip_and_cap(codec, compress):
    """bz2/xz once inflated FULLY before the size check (one-shot
    stdlib decompress). The shared streaming primitive stops AT the cap
    on every lane."""
    assert bounded_decompress_bytes(compress(BODY), codec, 1 << 20) == BODY
    bomb = compress(b"\x00" * (1 << 20))  # tiny payload, 1 MiB inflated
    with pytest.raises(ValueError, match="exceeds max_bytes"):
        bounded_decompress_bytes(bomb, codec, 1 << 10)


@pytest.mark.parametrize(
    "codec,compress,ref",
    [
        ("bz2", bz2.compress, bz2.decompress),
        ("xz", lzma.compress, lzma.decompress),
    ],
)
def test_bounded_multistream_stdlib_parity(codec, compress, ref):
    """Concatenated streams inflate to concatenated bodies; invalid
    leftover after >=1 valid stream is ignored; a truncated stream
    raises — byte-for-byte the stdlib one-shot semantics."""
    both = compress(b"first|") + compress(b"second")
    assert bounded_decompress_bytes(both, codec, 1 << 20) == ref(both)
    trailing = compress(b"body") + b"garbage after the stream"
    assert bounded_decompress_bytes(trailing, codec, 1 << 20) == ref(trailing)
    blob = compress(b"0123456789" * 100)
    with pytest.raises(ValueError, match="truncated|bad"):
        bounded_decompress_bytes(blob[: len(blob) // 2], codec, 1 << 20)
    with pytest.raises(ValueError, match="bad"):
        bounded_decompress_bytes(b"definitely not compressed", codec, 1 << 20)


def test_bz2_xz_spark_bomb_guard(spark):
    for codec, compress in (("bz2", bz2.compress), ("xz", lzma.compress)):
        bomb = compress(b"\x00" * (1 << 20))
        df = _df(spark, [bomb, compress(b"fine")])
        rows = (
            decompress_payload(df, codec=codec, max_bytes=1 << 16)
            .orderBy("doc_id")
            .collect()
        )
        assert rows[0]["payload"] is None  # quarantined at the cap
        assert bytes(rows[1]["payload"]) == b"fine"


# --- brotli lane: pyarrow's bundled brotli ---


def _brotli_compress(data: bytes) -> bytes:
    return pa.Codec("brotli").compress(data, asbytes=True)


def test_brotli_roundtrip_live(spark):
    bomb = _brotli_compress(b"\x00" * (1 << 20))
    good = _brotli_compress(BODY)
    df = _df(spark, [good, b"not brotli", None, good[: len(good) // 2], bomb])
    got = {
        r["doc_id"]: r["payload"]
        for r in decompress_payload(
            df, codec="brotli", max_bytes=1 << 16
        ).collect()
    }
    assert bytes(got[0]) == BODY
    assert got[1] is None  # corrupt -> quarantined
    assert got[2] is None  # NULL-through
    assert got[3] is None  # truncated -> quarantined
    assert got[4] is None  # bomb -> quarantined at the cap
    with pytest.raises(ValueError, match="Truncated"):
        bounded_decompress_bytes(good[: len(good) // 2], "brotli", 1 << 20)
    with pytest.raises(ValueError, match="exceeds max_bytes"):
        bounded_decompress_bytes(bomb, "brotli", 1 << 16)
    assert len(bounded_decompress_bytes(bomb, "brotli", 1 << 21)) == 1 << 20


# --- every lane: empty input, corrupt input, many gzip members ---


@pytest.mark.parametrize(
    "codec,want",
    [("gzip", b""), ("bz2", b""), ("xz", b""),
     ("zstd", None), ("lz4", None), ("brotli", None)],
)
def test_empty_payload_per_lane(codec, want):
    if want is None:
        with pytest.raises(ValueError, match="empty"):
            bounded_decompress_bytes(b"", codec, 1 << 20)
    else:
        assert bounded_decompress_bytes(b"", codec, 1 << 20) == want


def test_gzip_many_members_linear_time():
    """32k members (the per-record .warc.gz layout, 8.9 MB) decode in
    one pass: restarting a decompressor on the remaining input per
    member copies that input per member, which took ~22 s here."""
    import random
    import time

    rng = random.Random(0)
    bodies = [rng.randbytes(256) for _ in range(32_000)]
    blob = b"".join(gzip.compress(b, mtime=0) for b in bodies)
    t0 = time.perf_counter()
    out = bounded_decompress_bytes(blob, "gzip", 1 << 30)
    assert time.perf_counter() - t0 < 5
    assert out == b"".join(bodies)


from hypothesis import given, settings, strategies as st  # noqa: E402


@settings(max_examples=80, deadline=None)
@given(noise=st.binary(min_size=1, max_size=400))
def test_fuzz_corrupt_never_hangs_or_miscrashes(noise):
    """Garbage, bare or behind a codec's magic, is ValueError out (or
    a bounded decode of a frame noise happens to complete); never a
    hang or a foreign exception type."""
    for codec, magic in (
        ("gzip", b"\x1f\x8b\x08\x00"),
        ("zstd", _ZMAGIC),
        ("lz4", b"\x04\x22\x4d\x18"),
        ("brotli", b""),
    ):
        for payload in (noise, magic + noise):
            try:
                bounded_decompress_bytes(payload, codec, 1 << 16)
            except ValueError:
                pass
