"""Snappy decoding: raw, framing format, Hadoop block format.

Snappy is the default codec of a large share of Hadoop-era corpus
exports (SequenceFile/``.snappy`` part files) and the framing format
(``.sz``) shows up in log shippers.

* **Raw format**: libsnappy through pyarrow's ``snappy`` codec. The
  varint32 uncompressed-length preamble is read here and bounded by
  the caller's cap BEFORE anything is allocated; libsnappy then
  decodes exactly that many bytes, and any structure error is
  ValueError.
* **Framing format** (``.sz``), from framing_format.txt, because
  pyarrow has no API for it: the ``\\xff`` stream-identifier chunk
  ("sNaPpY"), compressed (0x00) and uncompressed (0x01) data chunks
  carrying a MASKED CRC-32C of the uncompressed data — verified —
  padding (0xFE) and skippable (0x80-0xFD) chunks skipped,
  unskippable reserved chunks (0x02-0x7F) refused, 64 KiB per-chunk
  uncompressed bound per the spec.
* **Hadoop block format**: big-endian uncompressed-block length +
  per-subchunk big-endian compressed lengths — the layout
  ``BlockCompressorStream`` writes inside part files. No magic, so
  this lane is extension-routed only (never sniffed).

``crc32c`` (pinned to the published check value) is also the TFRecord
framing checksum.

Untrusted-input contract as everywhere: declared sizes bounded before
allocation, inflation stops at the caller's cap, corrupt structure is
ValueError for the per-row quarantine lanes.
"""

from __future__ import annotations

_M32 = 0xFFFFFFFF

# CRC-32C (Castagnoli), reflected polynomial 0x82F63B78 — the framing
# format's integrity primitive. Table built once at import.
_CRC32C_TABLE = []
for _i in range(256):
    _c = _i
    for _ in range(8):
        _c = (_c >> 1) ^ 0x82F63B78 if _c & 1 else _c >> 1
    _CRC32C_TABLE.append(_c)
del _i, _c


def crc32c(data: bytes) -> int:
    """CRC-32C (Castagnoli). Check value: crc32c(b"123456789") ==
    0xE3069283 (the published standard check)."""
    crc = _M32
    for b in data:
        crc = _CRC32C_TABLE[(crc ^ b) & 0xFF] ^ (crc >> 8)
    return crc ^ _M32


def _masked_crc32c(data: bytes) -> int:
    """framing_format.txt: mask = rotr15(crc) + 0xa282ead8."""
    crc = crc32c(data)
    return (((crc >> 15) | (crc << 17)) + 0xA282EAD8) & _M32


def _read_varint32(src: bytes, i: int) -> tuple[int, int]:
    result = 0
    shift = 0
    while True:
        if i >= len(src):
            raise ValueError("snappy varint truncated")
        b = src[i]
        i += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, i
        shift += 7
        if shift > 28:
            raise ValueError("snappy varint exceeds 32 bits")


def snappy_raw_decompress(src: bytes, max_out: int) -> bytes:
    """Decode one raw snappy payload (format_description.txt) whose
    declared length is at most ``max_out``."""
    import pyarrow as pa

    declared, _ = _read_varint32(src, 0)
    if declared > max_out:
        raise ValueError("snappy declared size exceeds the bound")
    try:
        return pa.Codec("snappy").decompress(
            src, decompressed_size=declared, asbytes=True
        )
    except (OSError, pa.ArrowException) as ex:
        raise ValueError(f"bad snappy data: {ex}") from ex


_SNAPPY_FRAME_MAGIC = b"\xff\x06\x00\x00sNaPpY"
_FRAME_CHUNK_MAX = 65536  # framing_format.txt: max UNCOMPRESSED chunk


def snappy_framed_decompress(payload: bytes, max_bytes: int) -> bytes:
    """Decode a snappy framing-format (``.sz``) stream, verifying each
    chunk's masked CRC-32C."""
    if not payload.startswith(_SNAPPY_FRAME_MAGIC):
        raise ValueError("snappy framing stream identifier missing")
    out = bytearray()
    i = 0
    n = len(payload)
    while i < n:
        if i + 4 > n:
            raise ValueError("snappy frame chunk header truncated")
        ctype = payload[i]
        clen = int.from_bytes(payload[i + 1 : i + 4], "little")
        i += 4
        if i + clen > n:
            raise ValueError("snappy frame chunk truncated")
        body = payload[i : i + clen]
        i += clen
        if ctype == 0xFF:  # stream identifier (repeatable)
            if body != b"sNaPpY":
                raise ValueError("snappy stream identifier corrupt")
            continue
        if ctype in (0x00, 0x01):  # compressed / uncompressed data
            if clen < 4:
                raise ValueError("snappy data chunk shorter than its CRC")
            want = int.from_bytes(body[:4], "little")
            data = (
                snappy_raw_decompress(body[4:], _FRAME_CHUNK_MAX)
                if ctype == 0x00
                else body[4:]
            )
            if len(data) > _FRAME_CHUNK_MAX:
                raise ValueError("snappy frame chunk exceeds 64 KiB")
            if _masked_crc32c(data) != want:
                raise ValueError("snappy frame chunk CRC mismatch")
            if len(out) + len(data) > max_bytes:
                raise ValueError("snappy output exceeds the bound")
            out += data
            continue
        if ctype == 0xFE or 0x80 <= ctype <= 0xFD:
            continue  # padding / skippable reserved
        raise ValueError(
            f"snappy frame chunk type {ctype:#04x} is unskippable reserved"
        )
    return bytes(out)


def hadoop_snappy_decompress(payload: bytes, max_bytes: int) -> bytes:
    """Decode the Hadoop BlockCompressorStream snappy layout:
    repeated [4-byte BE uncompressed block length, then subchunks of
    4-byte BE compressed length + raw snappy] until the block's
    declared output is complete. No magic — extension-routed only."""
    out = bytearray()
    i = 0
    n = len(payload)
    while i < n:
        if i + 4 > n:
            raise ValueError("hadoop-snappy block header truncated")
        block_len = int.from_bytes(payload[i : i + 4], "big")
        i += 4
        if len(out) + block_len > max_bytes:
            raise ValueError("hadoop-snappy output exceeds the bound")
        produced = 0
        while produced < block_len:
            if i + 4 > n:
                raise ValueError("hadoop-snappy subchunk header truncated")
            clen = int.from_bytes(payload[i : i + 4], "big")
            i += 4
            if i + clen > n:
                raise ValueError("hadoop-snappy subchunk truncated")
            data = snappy_raw_decompress(
                payload[i : i + clen], block_len - produced
            )
            i += clen
            produced += len(data)
            out += data
        if produced != block_len:
            raise ValueError(
                "hadoop-snappy block produced more than it declared"
            )
    return bytes(out)
