"""LZ4 frame and block decoding.

LZ4 is the shipping compression of Kafka topic dumps, Hadoop
intermediate data, and a long tail of data-lake exports
(``.jsonl.lz4`` / ``.tar.lz4``).

* **Standard frames** (magic ``0x184D2204``) decode through pyarrow's
  liblz4 stream (``multimodal.bounded_decompress_bytes``): header,
  block and content checksums verified, skippable frames skipped,
  concatenated frames decoded in sequence. liblz4 names its errors
  (``ERROR_headerChecksum_invalid`` and so on).
* **Raw blocks** (lz4_Block_format.md) decode by hand, because pyarrow
  has no API for them: its stream rejects the legacy frame
  (``ERROR_frameType_unknown``), and its one-shot ``lz4_raw`` codec pads
  its output to the size it is given rather than trimming it, so a
  block of unknown decoded length cannot go through it. The block
  decoder feeds the **legacy frame** (``0x184C2102``, the original
  ``lz4`` CLI: fixed 8 MiB blocks, no checksums, ends at EOF or at
  the next magic) and the **Hadoop block layout**. A legacy frame
  decodes by hand only ahead of any standard frame: once a standard
  or skippable frame starts, the rest of the payload goes to liblz4.

Like every untrusted-input lane: all declared sizes are bounded
before allocation, inflation stops AT the caller's cap (a bomb costs
the cap, not an executor), corrupt structure is ValueError so the
per-row quarantine contract applies.

Wired into ``multimodal.unwrap_envelope`` (``.html.lz4`` /
``.jsonl.lz4`` documents, ``.tar.lz4`` archives) and the SequenceFile
``Lz4Codec``.
"""

from __future__ import annotations


def _read_lsic(src: bytes, i: int, base: int) -> tuple[int, int]:
    """The 255-continuation length extension (linear small-integer
    code): add bytes while they read 255."""
    total = base
    n = len(src)
    while True:
        if i >= n:
            raise ValueError("lz4 block truncated in a length extension")
        b = src[i]
        i += 1
        total += b
        if b != 255:
            return total, i


def lz4_block_decompress(src: bytes, max_out: int) -> bytes:
    """Decode one LZ4 BLOCK (lz4_Block_format.md). ValueError on
    malformed structure or output beyond ``max_out``."""
    out = bytearray()
    i = 0
    n = len(src)
    while i < n:
        token = src[i]
        i += 1
        lit = token >> 4
        if lit == 15:
            lit, i = _read_lsic(src, i, 15)
        if i + lit > n:
            raise ValueError("lz4 block truncated in literals")
        out += src[i : i + lit]
        i += lit
        if len(out) > max_out:
            raise ValueError("lz4 block output exceeds the bound")
        if i == n:
            break  # final sequence: literals only
        if i + 2 > n:
            raise ValueError("lz4 block truncated at a match offset")
        offset = src[i] | (src[i + 1] << 8)
        i += 2
        if offset == 0:
            raise ValueError("lz4 match offset 0 is invalid")
        if offset > len(out):
            raise ValueError("lz4 match offset reaches before the window")
        mlen = token & 0xF
        if mlen == 15:
            mlen, i = _read_lsic(src, i, 15)
        mlen += 4
        if len(out) + mlen > max_out:
            raise ValueError("lz4 block output exceeds the bound")
        start = len(out) - offset
        if offset >= mlen:
            out += out[start : start + mlen]
        else:
            # overlap copy: the source pattern repeats (RLE-style)
            pattern = bytes(out[start:])
            reps = mlen // offset + 1
            out += (pattern * reps)[:mlen]
    return bytes(out)


_LZ4_LEGACY_MAGIC = b"\x02\x21\x4c\x18"  # 0x184C2102 little-endian
_LEGACY_BLOCK_MAX = 8 << 20  # the legacy frame's fixed block size


def _decode_legacy_frame(
    payload: bytes, pos: int, out: bytearray, max_bytes: int
) -> int:
    """The original lz4 CLI frame: raw 4-byte LE block sizes + blocks,
    until EOF or the next magic value."""
    while pos + 4 <= len(payload):
        word = int.from_bytes(payload[pos : pos + 4], "little")
        if word == 0x184C2102 or word == 0x184D2204 or (
            0x184D2A50 <= word <= 0x184D2A5F
        ):
            return pos  # next frame begins
        pos += 4
        if word > len(payload) - pos:
            raise ValueError("lz4 legacy frame truncated in a block")
        chunk = lz4_block_decompress(
            payload[pos : pos + word], _LEGACY_BLOCK_MAX
        )
        pos += word
        if len(out) + len(chunk) > max_bytes:
            raise ValueError("lz4 output exceeds the bound")
        out += chunk
    if pos != len(payload):
        raise ValueError("lz4 legacy frame has trailing bytes")
    return pos


def hadoop_lz4_decompress(payload: bytes, max_bytes: int) -> bytes:
    """Decode the Hadoop BlockCompressorStream lz4 layout (the
    ``Lz4Codec`` wire format inside SequenceFiles / part files):
    repeated [4-byte BE uncompressed block length, then subchunks of
    4-byte BE compressed length + one raw LZ4 BLOCK] until the block's
    declared output is complete. No magic — extension/metadata-routed
    only, never sniffed."""
    out = bytearray()
    i = 0
    n = len(payload)
    while i < n:
        if i + 4 > n:
            raise ValueError("hadoop-lz4 block header truncated")
        block_len = int.from_bytes(payload[i : i + 4], "big")
        i += 4
        if len(out) + block_len > max_bytes:
            raise ValueError("hadoop-lz4 output exceeds the bound")
        produced = 0
        while produced < block_len:
            if i + 4 > n:
                raise ValueError("hadoop-lz4 subchunk header truncated")
            clen = int.from_bytes(payload[i : i + 4], "big")
            i += 4
            if i + clen > n:
                raise ValueError("hadoop-lz4 subchunk truncated")
            chunk = lz4_block_decompress(
                payload[i : i + clen], block_len - produced
            )
            i += clen
            produced += len(chunk)
            out += chunk
        if produced != block_len:
            raise ValueError(
                "hadoop-lz4 block produced more than it declared"
            )
    return bytes(out)


def lz4_frame_decompress(payload: bytes, max_bytes: int) -> bytes:
    """Decode a whole ``.lz4`` payload: leading legacy frames by hand,
    then standard and skippable frames, concatenated, through liblz4."""
    from .multimodal import bounded_decompress_bytes

    if len(payload) < 4:
        raise ValueError("lz4 payload shorter than a frame magic")
    out = bytearray()
    pos = 0
    while payload[pos : pos + 4] == _LZ4_LEGACY_MAGIC:
        pos = _decode_legacy_frame(payload, pos + 4, out, max_bytes)
    if pos < len(payload):
        out += bounded_decompress_bytes(
            payload[pos:], "lz4", max_bytes - len(out)
        )
    return bytes(out)
