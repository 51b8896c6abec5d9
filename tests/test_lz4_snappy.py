"""LZ4 + snappy lanes. Standard LZ4 frames and raw snappy decode
through pyarrow's liblz4 / libsnappy; the LZ4 block decoder, the legacy
frame, snappy framing and both Hadoop block layouts stay hand-written.
Everything is pinned against independent in-test ENCODERS (a greedy
LZ4 block compressor, a frame writer with every FLG option, and a
greedy snappy compressor, written from the published specs), against
pyarrow's reference encoders (``lz4_raw`` / ``snappy``), and against the
published known-answer vectors (xxHash32 check values; the CRC-32C
standard check)."""

import pyarrow as pa
import pytest

from drill_logfile_plugin_spark.operators.lz4 import (
    hadoop_lz4_decompress,
    lz4_block_decompress,
    lz4_frame_decompress,
)
from drill_logfile_plugin_spark.operators.snappy import (
    crc32c,
    hadoop_snappy_decompress,
    snappy_framed_decompress,
    snappy_raw_decompress,
)

_M32 = 0xFFFFFFFF
_P32 = (2654435761, 2246822519, 3266489917, 668265263, 374761393)


def _rotl32(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & _M32


def xxh32(data: bytes, seed: int = 0) -> int:
    """xxHash32 (the published algorithm): the frame writer's header,
    block and content checksums, which liblz4 verifies on decode."""
    p1, p2, p3, p4, p5 = _P32
    n = len(data)
    i = 0
    if n >= 16:
        acc = [(seed + p1 + p2) & _M32, (seed + p2) & _M32, seed & _M32,
               (seed - p1) & _M32]
        while i <= n - 16:
            for j in range(4):
                lane = int.from_bytes(data[i + 4 * j : i + 4 * j + 4], "little")
                acc[j] = (_rotl32((acc[j] + lane * p2) & _M32, 13) * p1) & _M32
            i += 16
        h = sum(_rotl32(v, r) for v, r in zip(acc, (1, 7, 12, 18))) & _M32
    else:
        h = (seed + p5) & _M32
    h = (h + n) & _M32
    while i + 4 <= n:
        lane = int.from_bytes(data[i : i + 4], "little")
        h = (_rotl32((h + lane * p3) & _M32, 17) * p4) & _M32
        i += 4
    for b in data[i:]:
        h = (_rotl32((h + b * p5) & _M32, 11) * p1) & _M32
    h = ((h ^ (h >> 15)) * p2) & _M32
    h = ((h ^ (h >> 13)) * p3) & _M32
    return h ^ (h >> 16)


# ---------------------------------------------------------------- samples

SAMPLES = [
    b"",
    b"a",
    b"hello world",
    b"abcd" * 64,
    b"the quick brown fox jumps over the lazy dog " * 100,
    bytes(range(256)) * 7,                       # incompressible-ish
    b"\x00" * 100000,                            # long RLE (overlap copies)
    ("line %d of a web log\n" * 500 % tuple(range(500))).encode()
    if False else b"".join(b"line %d of a web log\n" % i for i in range(500)),
    "Ünïcøde мέσα 中文 🎈 ".encode() * 300,
]


# ------------------------------------------------- independent LZ4 encoder

def _lz4_compress_block(data: bytes) -> bytes:
    """Greedy LZ4 block encoder from lz4_Block_format.md, honoring the
    encoder-side end rules (final sequence literal-only, last 5 bytes
    literal, no match starting in the last 12 bytes)."""
    out = bytearray()
    n = len(data)

    def emit(lit_start, lit_end, offset=None, mlen=None):
        nonlocal out
        lit = lit_end - lit_start
        tok_m = 0
        if mlen is not None:
            m = mlen - 4
            tok_m = 15 if m >= 15 else m
        out.append(((15 if lit >= 15 else lit) << 4) | tok_m)
        if lit >= 15:
            rem = lit - 15
            while rem >= 255:
                out.append(255)
                rem -= 255
            out.append(rem)
        out += data[lit_start:lit_end]
        if mlen is not None:
            out += offset.to_bytes(2, "little")
            m = mlen - 4
            if m >= 15:
                rem = m - 15
                while rem >= 255:
                    out.append(255)
                    rem -= 255
                out.append(rem)

    table: dict[bytes, int] = {}
    i = 0
    anchor = 0
    while i + 12 <= n:
        key = data[i : i + 4]
        cand = table.get(key)
        table[key] = i
        if cand is not None and i - cand <= 65535:
            mlen = 4
            limit = n - 5
            while i + mlen < limit and data[cand + mlen] == data[i + mlen]:
                mlen += 1
            emit(anchor, i, i - cand, mlen)
            i += mlen
            anchor = i
        else:
            i += 1
    emit(anchor, n)
    return bytes(out)


def _lz4_frame(
    data: bytes,
    *,
    chunk: int = 65536,
    bd_code: int = 4,
    b_indep: bool = True,
    b_checksum: bool = False,
    c_size: bool = False,
    c_checksum: bool = False,
    store_uncompressed: bool = False,
) -> bytes:
    """Standard-frame writer per lz4_Frame_format.md."""
    flg = (
        0b01000000
        | (0x20 if b_indep else 0)
        | (0x10 if b_checksum else 0)
        | (0x08 if c_size else 0)
        | (0x04 if c_checksum else 0)
    )
    hdr = bytes([flg, bd_code << 4])
    if c_size:
        hdr += len(data).to_bytes(8, "little")
    out = bytearray(b"\x04\x22\x4d\x18")
    out += hdr
    out.append((xxh32(hdr) >> 8) & 0xFF)
    for off in range(0, len(data), chunk) or [0]:
        block = data[off : off + chunk]
        if not block:
            continue
        comp = _lz4_compress_block(block)
        if store_uncompressed or len(comp) >= len(block):
            out += (len(block) | 0x80000000).to_bytes(4, "little")
            payload = block
        else:
            out += len(comp).to_bytes(4, "little")
            payload = comp
        out += payload
        if b_checksum:
            out += xxh32(payload).to_bytes(4, "little")
    out += b"\x00\x00\x00\x00"  # EndMark
    if c_checksum:
        out += xxh32(data).to_bytes(4, "little")
    return bytes(out)


def _lz4_legacy(data: bytes, chunk: int = 8 << 20) -> bytes:
    out = bytearray(b"\x02\x21\x4c\x18")
    for off in range(0, len(data), chunk):
        comp = _lz4_compress_block(data[off : off + chunk])
        out += len(comp).to_bytes(4, "little")
        out += comp
    return bytes(out)


# --------------------------------------------- independent snappy encoder

def _snappy_compress_raw(data: bytes) -> bytes:
    """Greedy raw-snappy encoder from format_description.txt (varint
    preamble, literal + copy-with-2-byte-offset elements)."""
    out = bytearray()
    ln = len(data)
    while True:  # varint32 preamble
        if ln < 0x80:
            out.append(ln)
            break
        out.append((ln & 0x7F) | 0x80)
        ln >>= 7

    def emit_literal(a, b):
        nonlocal out
        if a == b:
            return
        length = b - a - 1
        if length < 60:
            out.append(length << 2)
        else:
            nbytes = (length.bit_length() + 7) // 8
            out.append((59 + nbytes) << 2)
            out += length.to_bytes(nbytes, "little")
        out += data[a:b]

    table: dict[bytes, int] = {}
    i = 0
    anchor = 0
    n = len(data)
    while i + 4 <= n:
        key = data[i : i + 4]
        cand = table.get(key)
        table[key] = i
        if cand is not None and i - cand <= 65535:
            emit_literal(anchor, i)
            mlen = 4
            while i + mlen < n and mlen < 64 and data[cand + mlen] == data[i + mlen]:
                mlen += 1
            out.append(((mlen - 1) << 2) | 2)
            out += (i - cand).to_bytes(2, "little")
            i += mlen
            anchor = i
        else:
            i += 1
    emit_literal(anchor, n)
    return bytes(out)


def _masked(data: bytes) -> bytes:
    crc = crc32c(data)
    return ((((crc >> 15) | (crc << 17)) + 0xA282EAD8) & 0xFFFFFFFF).to_bytes(
        4, "little"
    )


def _snappy_frame(
    data: bytes, chunk: int = 65536, compress: bool = True,
    enc=_snappy_compress_raw,
) -> bytes:
    out = bytearray(b"\xff\x06\x00\x00sNaPpY")
    for off in range(0, len(data), chunk):
        block = data[off : off + chunk]
        if compress:
            body = _masked(block) + enc(block)
            out.append(0x00)
        else:
            body = _masked(block) + block
            out.append(0x01)
        out += len(body).to_bytes(3, "little")
        out += body
    return bytes(out)


def _hadoop_snappy(
    data: bytes, block: int = 4096, sub: int = 1024, enc=_snappy_compress_raw
) -> bytes:
    """Hadoop BlockCompressorStream layout; ``enc`` compresses each
    subchunk (the Lz4Codec layout is the same with an LZ4 block)."""
    out = bytearray()
    for off in range(0, len(data), block):
        b = data[off : off + block]
        out += len(b).to_bytes(4, "big")
        for soff in range(0, len(b), sub):
            comp = enc(b[soff : soff + sub])
            out += len(comp).to_bytes(4, "big")
            out += comp
    return bytes(out)


# -------------------------------------------------- known-answer vectors

def test_xxh32_published_check_values():
    assert xxh32(b"") == 0x02CC5D05
    assert xxh32(b"a") == 0x550D7456
    assert xxh32(b"abc") == 0x32D153FF
    assert xxh32(b"Nobody inspects the spammish repetition") == 0xE2293B2F


def test_crc32c_standard_check_value():
    assert crc32c(b"123456789") == 0xE3069283


def test_lz4_block_hand_vector():
    # lit(4)"abcd", match offset 4 len 8, lit(5)"abcde"
    src = b"\x44abcd\x04\x00\x50abcde"
    assert lz4_block_decompress(src, 1000) == b"abcdabcdabcdabcde"


def test_snappy_copy1_and_copy4_hand_vectors():
    # preamble 8; lit(4)"abcd"; copy1 len 4 offset 4
    src = bytes([8, 3 << 2]) + b"abcd" + bytes([(0 << 2) | 1 | (0 << 5), 4])
    assert snappy_raw_decompress(src, 100) == b"abcdabcd"
    # copy4: same semantics with a 4-byte offset
    src = bytes([8, 3 << 2]) + b"abcd" + bytes([(3 << 2) | 3]) + (4).to_bytes(4, "little")
    assert snappy_raw_decompress(src, 100) == b"abcdabcd"


# ------------------------------------------------------------ roundtrips

@pytest.mark.parametrize("sample", SAMPLES, ids=range(len(SAMPLES)))
def test_lz4_block_roundtrip(sample):
    comp = _lz4_compress_block(sample)
    assert lz4_block_decompress(comp, len(sample) + 1) == sample


@pytest.mark.parametrize(
    "kw",
    [
        {},
        {"b_checksum": True},
        {"c_size": True},
        {"c_checksum": True},
        {"b_checksum": True, "c_size": True, "c_checksum": True},
        {"chunk": 1000, "bd_code": 7},
        {"store_uncompressed": True},
        {"b_indep": False, "chunk": 500},
    ],
    ids=[
        "plain", "bsum", "csize", "csum", "all", "chunked", "stored",
        "linked",
    ],
)
def test_lz4_frame_roundtrip(kw):
    for sample in SAMPLES:
        frame = _lz4_frame(sample, **kw)
        assert lz4_frame_decompress(frame, 10 << 20) == sample


def test_lz4_linked_blocks_cross_block_match():
    """A hand-built linked frame whose second block's match reaches
    into the FIRST block's output — the history-window path."""
    hdr = bytes([0b01000000, 4 << 4])  # v1, b_indep=0, 64KB blocks
    frame = bytearray(b"\x04\x22\x4d\x18") + hdr
    frame.append((xxh32(hdr) >> 8) & 0xFF)
    b1 = bytes([8 << 4]) + b"abcdefgh"  # literal-only block
    frame += len(b1).to_bytes(4, "little") + b1
    # block 2: zero literals, match offset 8 len 8 (from block 1), then
    # the final literal-only token; liblz4 holds blocks to the spec's
    # end rules (last 5 bytes literals, last match >= 12 bytes from
    # the end)
    b2 = bytes([(0 << 4) | 4]) + (8).to_bytes(2, "little") + bytes([5 << 4]) + b"!tail"
    frame += len(b2).to_bytes(4, "little") + b2
    frame += b"\x00\x00\x00\x00"
    assert lz4_frame_decompress(bytes(frame), 1000) == b"abcdefghabcdefgh!tail"


def test_lz4_concatenated_and_skippable_frames():
    a = _lz4_frame(b"first ")
    skip = b"\x50\x2a\x4d\x18" + (7).to_bytes(4, "little") + b"ignored"
    b = _lz4_frame(b"second")
    assert lz4_frame_decompress(a + skip + b, 1000) == b"first second"


def test_lz4_legacy_frame_roundtrip():
    for sample in SAMPLES:
        assert lz4_frame_decompress(_lz4_legacy(sample), 10 << 20) == sample
    # legacy followed by a standard frame
    combo = _lz4_legacy(b"old ") + _lz4_frame(b"new")
    assert lz4_frame_decompress(combo, 1000) == b"old new"


@pytest.mark.parametrize("sample", SAMPLES, ids=range(len(SAMPLES)))
def test_snappy_raw_roundtrip(sample):
    comp = _snappy_compress_raw(sample)
    assert snappy_raw_decompress(comp, len(sample) + 1) == sample


def test_snappy_framed_roundtrip():
    for sample in SAMPLES:
        for compress in (True, False):
            frame = _snappy_frame(sample, compress=compress)
            assert snappy_framed_decompress(frame, 10 << 20) == sample


def test_snappy_framed_padding_and_skippable_chunks():
    frame = bytearray(_snappy_frame(b"data here"))
    frame += bytes([0xFE]) + (3).to_bytes(3, "little") + b"\x00\x00\x00"
    frame += bytes([0x80]) + (2).to_bytes(3, "little") + b"zz"
    frame += _snappy_frame(b" more")[10:]  # chunks from a second stream
    assert snappy_framed_decompress(bytes(frame), 1000) == b"data here more"


def test_hadoop_snappy_roundtrip():
    for sample in SAMPLES:
        assert (
            hadoop_snappy_decompress(_hadoop_snappy(sample), 10 << 20)
            == sample
        )


#: ~300 kB of access-log lines: the multi-block size the reference
#: encoders are checked at, beside SAMPLES
LOG_SAMPLE = b"".join(
    b'10.0.%d.%d - - [20/Oct/2026:17:%02d:%02d +0000] "GET /api/items/%d '
    b'HTTP/1.1" %d %d\n'
    % (i % 256, i * 7 % 256, i // 60 % 60, i % 60, i * 31 % 10007,
       (200, 304, 404)[i % 3], i * 13 % 5000)
    for i in range(3500)
)


def _pa_raw(codec):
    return lambda b: pa.Codec(codec).compress(b, asbytes=True)


@pytest.mark.parametrize(
    "sample", SAMPLES + [LOG_SAMPLE], ids=[*map(str, range(len(SAMPLES))), "log"]
)
def test_kept_decoders_match_reference_encoders(sample):
    """The hand-written decoders invert liblz4's raw-block and
    libsnappy's encoders (through pyarrow) byte for byte."""
    lz4_raw, snappy_raw = _pa_raw("lz4_raw"), _pa_raw("snappy")
    block = lz4_raw(sample)
    assert lz4_block_decompress(block, len(sample)) == sample
    legacy = b"\x02\x21\x4c\x18" + len(block).to_bytes(4, "little") + block
    assert lz4_frame_decompress(legacy, len(sample)) == sample
    hadoop_lz4 = _hadoop_snappy(sample, 65536, 16384, enc=lz4_raw)
    assert hadoop_lz4_decompress(hadoop_lz4, len(sample)) == sample
    hadoop_snappy = _hadoop_snappy(sample, 65536, 16384, enc=snappy_raw)
    assert hadoop_snappy_decompress(hadoop_snappy, len(sample)) == sample
    framed = _snappy_frame(sample, enc=snappy_raw)
    assert snappy_framed_decompress(framed, len(sample)) == sample


# ------------------------------------------------------------ rejections

def test_lz4_frame_rejections():
    good = _lz4_frame(b"payload payload payload")
    # header checksum
    bad = bytearray(good)
    bad[6] ^= 0xFF
    with pytest.raises(ValueError, match="ERROR_headerChecksum_invalid"):
        lz4_frame_decompress(bytes(bad), 1000)
    # version bits
    with pytest.raises(ValueError, match="ERROR_headerVersion_wrong"):
        lz4_frame_decompress(b"\x04\x22\x4d\x18" + bytes([0b10000000, 0x40, 0]), 1000)
    # unknown magic
    with pytest.raises(ValueError, match="ERROR_frameType_unknown"):
        lz4_frame_decompress(b"\xde\xad\xbe\xefrest", 1000)
    # truncation
    with pytest.raises(ValueError, match="Truncated compressed stream"):
        lz4_frame_decompress(good[:-3], 1000)
    # content checksum
    sick = bytearray(_lz4_frame(b"payload", c_checksum=True))
    sick[-1] ^= 0xFF
    with pytest.raises(ValueError, match="ERROR_contentChecksum_invalid"):
        lz4_frame_decompress(bytes(sick), 1000)
    # block checksum
    sick = bytearray(_lz4_frame(b"payload", b_checksum=True))
    sick[-5] ^= 0xFF  # last block checksum byte (before EndMark)
    with pytest.raises(ValueError, match="ERROR_blockChecksum_invalid"):
        lz4_frame_decompress(bytes(sick), 1000)


def test_lz4_dict_frame_is_rejected():
    """A frame naming a dictionary (DictID set) cannot decode here:
    this header-only one is corrupt like any other."""
    hdr = bytes([0b01100001, 4 << 4]) + (7).to_bytes(4, "little")
    frame = b"\x04\x22\x4d\x18" + hdr + bytes([(xxh32(hdr) >> 8) & 0xFF])
    with pytest.raises(ValueError, match="bad lz4 stream"):
        lz4_frame_decompress(frame, 1000)


def test_lz4_block_structure_rejections():
    with pytest.raises(ValueError, match="offset 0"):
        lz4_block_decompress(b"\x14a\x00\x00\x10b", 100)
    with pytest.raises(ValueError, match="before the window"):
        lz4_block_decompress(b"\x14a\x09\x00\x10b", 100)
    with pytest.raises(ValueError, match="truncated"):
        lz4_block_decompress(b"\xf0", 100)


def test_lz4_bomb_stops_at_cap():
    frame = _lz4_frame(b"\x00" * 200000, chunk=65536)
    with pytest.raises(ValueError, match="exceeds max_bytes"):
        lz4_frame_decompress(frame, 1000)
    frame = _lz4_frame(b"\x00" * 200000, c_size=True)
    with pytest.raises(ValueError, match="exceeds max_bytes"):
        lz4_frame_decompress(frame, 1000)
    # the hand-decoded legacy frame honours the same cap
    with pytest.raises(ValueError, match="bound"):
        lz4_frame_decompress(_lz4_legacy(b"\x00" * 200000), 1000)


def test_snappy_rejections():
    comp = _snappy_compress_raw(b"hello hello hello hello")
    with pytest.raises(ValueError, match="bound"):
        snappy_raw_decompress(comp, 4)
    # output past the declared size, truncation, an offset outside the
    # window: libsnappy names all three "Corrupt"
    with pytest.raises(ValueError, match="Corrupt snappy"):
        snappy_raw_decompress(comp + bytes([0 << 2]) + b"x", 100)
    with pytest.raises(ValueError, match="Corrupt snappy"):
        snappy_raw_decompress(comp[:-2], 100)
    with pytest.raises(ValueError, match="Corrupt snappy"):
        snappy_raw_decompress(bytes([6, 1 << 2]) + b"ab" + bytes([1, 9]), 100)
    with pytest.raises(ValueError, match="varint truncated"):
        snappy_raw_decompress(b"", 100)
    frame = bytearray(_snappy_frame(b"some text to protect"))
    frame[-1] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        snappy_framed_decompress(bytes(frame), 1000)
    with pytest.raises(ValueError, match="identifier"):
        snappy_framed_decompress(b"\x00\x04\x00\x00abcd", 1000)
    bad = bytes(_snappy_frame(b"x")) + bytes([0x02]) + (1).to_bytes(3, "little") + b"r"
    with pytest.raises(ValueError, match="unskippable"):
        snappy_framed_decompress(bad, 1000)


# ------------------------------------------------------- envelope wiring

def test_document_router_unwraps_lz4_and_snappy_envelopes():
    from drill_logfile_plugin_spark.operators.documents import (
        _extract_one,
        sniff_document,
    )

    body = (
        "The compression envelope carries an ordinary web page whose "
        "main content is this paragraph of several varied sentences. "
        "It exists so the extraction classifier sees natural prose "
        "with normal stopword density and keeps it as body text, the "
        "way a real crawled page would read after boilerplate removal."
    )
    html = f"<html><body><p>{body}</p></body></html>".encode()
    for env in (
        _lz4_frame(html),
        _lz4_legacy(html),
        _snappy_frame(html),
    ):
        fmt = sniff_document(env)
        assert fmt == "gz:html"
        text, units = _extract_one(fmt, env)
        assert "ordinary web page" in text


def test_tar_lz4_and_tar_sz_route_through_archives():
    import io
    import tarfile

    from drill_logfile_plugin_spark.operators.archives import archive_members

    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as tf:
        data = b"member payload " * 10
        info = tarfile.TarInfo("docs/a.txt")
        info.size = len(data)
        tf.addfile(info, io.BytesIO(data))
    raw_tar = buf.getvalue()
    for env in (_lz4_frame(raw_tar), _snappy_frame(raw_tar)):
        members = dict(archive_members(env))
        assert members["docs/a.txt"] == b"member payload " * 10


def test_explode_archive_tar_lz4_spark_lane(spark):
    import io
    import tarfile

    from drill_logfile_plugin_spark.operators.archives import explode_archive

    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as tf:
        for name, data in [("a.txt", b"alpha doc"), ("b.txt", b"beta doc")]:
            info = tarfile.TarInfo(name)
            info.size = len(data)
            tf.addfile(info, io.BytesIO(data))
    env = _lz4_frame(buf.getvalue())
    df = spark.createDataFrame(
        [(0, bytearray(env))], "doc_id long, payload binary"
    )
    rows = {r["member_name"]: bytes(r["payload"])
            for r in explode_archive(df).collect()}
    assert rows == {"a.txt": b"alpha doc", "b.txt": b"beta doc"}


# ------------------------------------------------------------- fuzzing

from hypothesis import given, settings, strategies as st  # noqa: E402


@settings(max_examples=60, deadline=None)
@given(
    data=st.binary(min_size=0, max_size=4000),
    frame_kw=st.sampled_from([
        {}, {"b_checksum": True}, {"c_checksum": True},
        {"b_indep": False, "chunk": 700}, {"chunk": 900},
    ]),
)
def test_fuzz_lz4_roundtrip(data, frame_kw):
    frame = _lz4_frame(data, **frame_kw)
    assert lz4_frame_decompress(frame, 1 << 20) == data
    legacy = _lz4_legacy(data)
    assert lz4_frame_decompress(legacy, 1 << 20) == data


@settings(max_examples=60, deadline=None)
@given(data=st.binary(min_size=0, max_size=4000))
def test_fuzz_snappy_roundtrip(data):
    assert snappy_raw_decompress(
        _snappy_compress_raw(data), len(data) + 1
    ) == data
    assert snappy_framed_decompress(_snappy_frame(data), 1 << 20) == data
    assert hadoop_snappy_decompress(_hadoop_snappy(data), 1 << 20) == data


@settings(max_examples=80, deadline=None)
@given(noise=st.binary(min_size=1, max_size=300))
def test_fuzz_corrupt_quarantines_cleanly(noise):
    """Garbage (bare or magic-prefixed) -> ValueError, never a foreign
    exception or a hang."""
    import pytest as _pytest

    for payload in (
        noise,
        b"\x04\x22\x4d\x18" + noise,
        b"\xff\x06\x00\x00sNaPpY" + noise,
    ):
        try:
            lz4_frame_decompress(payload, 1 << 16)
        except ValueError:
            pass
    try:
        snappy_raw_decompress(noise, 1 << 16)
    except ValueError:
        pass
