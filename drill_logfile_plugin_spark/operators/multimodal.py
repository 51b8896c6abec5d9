"""Multimodal column plumbing: opaque binary payloads + typed metadata.

The pattern for image/audio/video at 100 TB: store the raw media as a
``binary`` column next to typed metadata, keep it opaque to the relational
layer, and run decode / feature-extraction as **Arrow-batched Pandas
iterators** (``mapInPandas``) so bytes move executor-side in columnar
batches — never row-at-a-time through the driver.

The decode step is pluggable by codec name:

* ``codec="png"`` — a REAL decoder: a complete stdlib+numpy PNG reader
  covering EVERY spec-valid static profile (all five filter types, all
  five color types at all their legal bit depths 1/2/4/8/16, Adam7
  interlace, bounded-inflate + dimension bomb guards) producing true
  dimensions and luma pixels; features are content-derived intensity
  histograms. Verified in pytest against independently-encoded images
  (the test writes PNGs with its own spec-following encoder, per-row
  filter types chosen adversarially, plus a hypothesis sweep over
  random geometry).
* ``codec="jpeg"`` — a REAL Huffman-JPEG decoder (:mod:`.jpeg`):
  stdlib+numpy marker parse, entropy decode, dequant + IDCT on the luma
  plane, restart markers, 4:4:4/4:2:2/4:2:0 subsampling — BASELINE and
  PROGRESSIVE (spectral selection + successive approximation + EOB
  runs). Arithmetic coding / 12-bit / hierarchical raise
  NotImplementedError — the remaining plug-in points. Verified against
  independent in-test encoders (both modes) at the lossless
  quantized-coefficient layer plus an independently-computed IDCT pixel
  reference.
* ``codec="gif"`` — a REAL GIF87a/89a decoder (:mod:`.gif`): LZW,
  global/local color tables, 4-pass interlacing, and multi-frame
  animations whose graphic-control delays drive real ``frame_sample``
  timestamps. Per-frame decode; disposal-chain compositing is the
  documented out-of-scope line.
* ``codec="wav"`` — REAL audio (:mod:`.audio`): RIFF/PCM decode behind
  the :func:`decode_audio` metadata lane, amplitude-histogram features,
  and 25 ms analysis windows in ``frame_sample``.
* ``codec="avi"`` — REAL video (:mod:`.video`): MJPEG-in-AVI container
  walk; every sampled frame is genuinely decoded by the package's own
  JPEG decoder with container-derived timestamps.
* ``codec="fake"`` — a deterministic stand-in that derives (width, height,
  format) from the md5 of the payload bytes. Because Python's hashlib md5
  equals SQL ``md5()``, the fake decoder is *oracle-checkable end to end*:
  the driver's DuckDB SQL reproduces it exactly, which validates the real
  part (schema, batching, partitioning, UDF signature) rather than the
  stub — the driver fixture lane (q33/q42).
* any other codec (ffmpeg-class formats) — raises
  :class:`NotImplementedError` at plan-build time, marking exactly
  where the next decoder plugs in behind the same Spark-side shape.

Per-row robustness: real codecs take an ``on_error`` mode — ``"null"``
quarantine (default for the metadata/feature lanes), ``"skip"``, or
``"strict"`` — so one corrupt payload in a 100-TB corpus marks its row
instead of failing the job.

No reference counterpart: the reference plugin is text-only
(LogRecordReader.java:125 hardcodes UTF-8 line decoding); this module is
part of the LLM-pipeline extension tier.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator, Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

#: Metadata schema produced by decode_media for every payload row.
DECODED_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("media_format", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_bytes", LongType()),
        StructField("n_pixels", LongType()),
    ]
)

SUPPORTED_CODECS = ("fake", "png", "jpeg", "gif", "bmp", "tiff", "pnm", "wav", "avi", "y4m")

#: codecs whose payloads are audio — they have no (width, height) and
#: route through decode_audio instead of decode_media
AUDIO_CODECS = ("wav",)


# --- format sniffing ---------------------------------------------------------
#
# Real crawls carry MIXED media: one payload column holds PNGs beside
# JPEGs beside WAVs. Every container here opens with an unambiguous
# magic, so a byte-prefix sniff routes each ROW to the right decoder —
# `codec="auto"` on the decode/hash lanes and the `sniff_media` metadata
# operator build on this one function.

#: media kind per sniffable codec
SNIFF_KINDS = {
    "png": "image",
    "jpeg": "image",
    "gif": "image",
    "bmp": "image",
    "tiff": "image",
    "pnm": "image",
    "wav": "audio",
    "avi": "video",
    "y4m": "video",
    "pdf": "document",
    # probe-tier formats: sniffable by magic, METADATA-only decodable
    # (operators/probe.py); the image/video decode lanes quarantine them
    "mp4": "video",
    "mp3": "audio",
    "flac": "audio",
    "ogg": "audio",
    "webp": "image",
    "avif": "image",
    "heic": "image",
    "webm": "video",
}


def sniff_codec(payload: bytes) -> str:
    """Identify a payload's container by magic bytes (never by content
    decode — sniffing is O(12 bytes) per row). ValueError on
    unrecognized prefixes."""
    if payload.startswith(_PNG_SIG):
        return "png"
    if payload.startswith(b"\xff\xd8"):
        return "jpeg"
    if payload.startswith((b"GIF87a", b"GIF89a")):
        return "gif"
    if payload.startswith(b"BM"):
        return "bmp"
    if payload.startswith((b"II*\x00", b"MM\x00*")):
        return "tiff"
    if (
        len(payload) >= 3
        and payload[0:1] == b"P"
        and payload[1:2] in b"123456"
        and payload[2] in b" \t\r\n\x0b\x0c#"
    ):
        return "pnm"
    if payload.startswith(b"YUV4MPEG2"):
        return "y4m"
    if payload.startswith(b"%PDF-"):
        return "pdf"
    if payload.startswith(b"RIFF") and len(payload) >= 12:
        riff_type = payload[8:12]
        if riff_type == b"WAVE":
            return "wav"
        if riff_type == b"AVI ":
            return "avi"
        if riff_type == b"WEBP":
            return "webp"
        raise ValueError(f"RIFF container of unrecognized type {riff_type!r}")
    if len(payload) >= 12 and payload[4:8] == b"ftyp":
        brand = payload[8:12]
        if brand[:4] in (b"avif", b"avis"):
            return "avif"
        if brand[:4] in (b"heic", b"heix", b"mif1"):
            return "heic"
        return "mp4"
    if payload.startswith(b"fLaC"):
        return "flac"
    if payload.startswith(b"OggS"):
        return "ogg"
    # MP3 is sniffed on the unambiguous ID3 tag only: a bare 0xFFEx
    # frame sync needs the probe tier's next-frame validation, which a
    # prefix sniff cannot perform
    if payload.startswith(b"ID3"):
        return "mp3"
    if payload.startswith(b"\x1a\x45\xdf\xa3"):
        # EBML: WebM or Matroska — the magic alone cannot tell (DocType
        # lives inside the header); the probe tier refines to "mkv"
        return "webm"
    raise ValueError("unrecognized media magic")


#: Metadata schema produced by sniff_media.
SNIFF_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("media_format", StringType()),
        StructField("media_kind", StringType()),
        StructField("n_bytes", LongType()),
    ]
)


def sniff_media(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
) -> DataFrame:
    """Classify every payload by container magic — the routing scan a
    mixed-media corpus runs FIRST, so each kind's decode lane reads only
    its own rows (``WHERE media_format = 'jpeg'`` semi-joins back). Pure
    prefix inspection: no decode, no allocation, scan speed regardless
    of payload size. Unrecognized payloads get NULL format/kind rather
    than erroring (the profile-not-quarantine posture: counting unknown
    magics is the point of the scan)."""
    narrow = df.select(
        F.col(id_col).alias("doc_id"), F.col(payload_col).alias("payload")
    ).where(F.col("payload").isNotNull())

    def sniff_batches(
        batches: Iterable[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, fmts, kinds, nbs = [], [], [], []
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    fmt = sniff_codec(p)
                    kind = SNIFF_KINDS[fmt]
                except ValueError:
                    fmt = kind = None
                ids.append(doc_id)
                fmts.append(fmt)
                kinds.append(kind)
                nbs.append(len(p))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "media_format": pd.Series(fmts, dtype="object"),
                    "media_kind": pd.Series(kinds, dtype="object"),
                    "n_bytes": pd.Series(nbs, dtype="int64"),
                }
            )

    return narrow.mapInPandas(sniff_batches, SNIFF_SCHEMA)


def _luma_of_sniffed(fmt: str, p: bytes):
    """First-frame/still luma for a sniffed payload — the shared decode
    hook behind the ``codec="auto"`` lanes. Audio raises ValueError (no
    luma; the caller's on_error mode decides)."""
    if fmt == "png":
        return _png_decode(p)[2]
    if fmt == "jpeg":
        from .jpeg import _jpeg_decode

        return _jpeg_decode(p)[2]
    if fmt == "gif":
        from .gif import _gif_first_frame_screen

        return _gif_first_frame_screen(p)[2]
    if fmt == "bmp":
        from .bmp import _bmp_decode

        return _bmp_decode(p)[2]
    if fmt == "tiff":
        from .tiff import _tiff_decode

        return _tiff_decode(p)[2]
    if fmt == "pnm":
        from .pnm import _pnm_decode

        return _pnm_decode(p)[2]
    if fmt == "y4m":
        from .video import _y4m_frame_luma

        return _y4m_frame_luma(p, 0)
    if fmt == "avi":
        from .jpeg import _jpeg_decode
        from .video import _avi_decode

        return _jpeg_decode(_avi_decode(p)[3][0])[2]
    # audio and documents have no luma plane; the caller's on_error
    # mode decides (route them via decode_audio / pdf.extract_pdf_text)
    raise ValueError(f"sniffed {fmt!r} payload has no luma plane")


# --- real codec: PNG --------------------------------------------------------
#
# PNG's container is stdlib-decodable (zlib + struct), so the decode
# path below is a complete, spec-correct reader for EVERY spec-valid
# static profile — all five color types at all their legal bit depths,
# both interlace modes, all five filters. It is a CORRECTNESS-grade
# decoder: the per-row unfilter loop is Python, fine for
# metadata/feature extraction over thumbnails and fixtures; a
# production image pipeline swaps in a vectorized codec behind the same
# dispatch without touching any Spark-side shape.

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
#: channels per pixel by PNG color type (8-bit depth)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _png_chunks(payload: bytes):
    import struct

    pos = 8
    while pos + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        if len(data) != length:
            raise ValueError("truncated PNG chunk")
        yield ctype, data
        pos += 12 + length  # length + type + data + CRC
        if ctype == b"IEND":
            return
    raise ValueError("PNG missing IEND")


#: Hard upper bound on decoded pixel count (~6.7x a 4K frame). IHDR
#: dimensions are attacker/corruption-controlled; without a bound a
#: 25-byte crafted payload could demand a multi-GiB allocation (or feed a
#: zlib decompression bomb) and take down an executor instead of raising
#: the documented ValueError. Thumbnails/fixtures — this decoder's stated
#: scope — sit orders of magnitude below it.
_PNG_MAX_PIXELS = 1 << 26

#: Adam7 pass geometry: (x0, y0, dx, dy) per pass, PNG spec 8.2.
_ADAM7 = (
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
)


def _png_unfilter(raw, offset: int, h: int, stride: int, bpp: int):
    """Reverse PNG scanline filtering for one (sub-)image of ``h`` rows of
    ``stride`` bytes, filter unit ``bpp`` bytes (channels x bytes/sample,
    min 1 — spec 9.2). Returns a (h, stride) uint8 array; consumes
    ``h * (stride + 1)`` bytes of ``raw`` starting at ``offset``."""
    import numpy as np

    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        ftype = raw[offset + y * (stride + 1)]
        row = np.frombuffer(
            raw,
            dtype=np.uint8,
            count=stride,
            offset=offset + y * (stride + 1) + 1,
        ).astype(np.int32)
        if ftype == 0:  # None
            cur = row
        elif ftype == 2:  # Up
            cur = (row + prev) & 0xFF
        elif ftype in (1, 3, 4):  # Sub / Average / Paeth: sequential in x
            cur = np.zeros(stride, dtype=np.int32)
            for x in range(stride):
                a = cur[x - bpp] if x >= bpp else 0
                b = prev[x]
                if ftype == 1:
                    pred = a
                elif ftype == 3:
                    pred = (a + b) >> 1
                else:
                    c = prev[x - bpp] if x >= bpp else 0
                    pa, pb, pc = abs(b - c), abs(a - c), abs(a + b - 2 * c)
                    pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                cur[x] = (row[x] + pred) & 0xFF
        else:
            raise ValueError(f"invalid PNG filter type {ftype}")
        out[y] = cur.astype(np.uint8)
        prev = cur
    return out


#: spec-valid (color type -> allowed bit depths), PNG spec 11.2.2
_PNG_VALID_DEPTHS = {
    0: (1, 2, 4, 8, 16),
    2: (8, 16),
    3: (1, 2, 4, 8),
    4: (8, 16),
    6: (8, 16),
}


def _png_decode(payload: bytes):
    """Decode a PNG to ``(width, height, gray)`` — ``gray`` a (h, w)
    uint8 luma array (integer BT.601 weights for color images; palette
    resolved first; alpha ignored; 16-bit samples reduced to their high
    byte, the spec's fast-path 16->8 scaling; sub-byte grayscale scaled
    by the exact 255/(2^d-1) factor). COMPLETE for every spec-valid
    static profile: all five color types at all their legal bit depths
    (1/2/4/8/16), interlace 0 and Adam7, all five filters. Malformed or
    spec-invalid bytes raise ValueError (never a partial image)."""
    import struct
    import zlib

    import numpy as np

    if payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG (bad signature)")
    width = height = None
    depth = ctype_num = interlace = None
    palette = None
    idat = bytearray()
    for ctype, data in _png_chunks(payload):
        if ctype == b"IHDR":
            width, height, depth, ctype_num, _comp, _filt, interlace = (
                struct.unpack(">IIBBBBB", data)
            )
        elif ctype == b"PLTE":
            palette = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat.extend(data)
    if width is None:
        raise ValueError("PNG missing IHDR")
    if (
        ctype_num not in _PNG_VALID_DEPTHS
        or depth not in _PNG_VALID_DEPTHS[ctype_num]
        or interlace not in (0, 1)
    ):
        raise ValueError(
            f"PNG header is not a spec-valid profile: depth={depth} "
            f"colorType={ctype_num} interlace={interlace}"
        )
    # dimension sanity BEFORE any allocation: IHDR is untrusted input
    if width == 0 or height == 0:
        raise ValueError("PNG with zero dimension")
    if width * height > _PNG_MAX_PIXELS:
        raise ValueError(
            f"PNG dimensions {width}x{height} exceed the decoder bound "
            f"({_PNG_MAX_PIXELS} pixels)"
        )
    nch = _PNG_CHANNELS[ctype_num]

    def _stride(pw: int) -> int:
        # scanline bytes for pw pixels: sub-byte samples pack MSB-first
        return (pw * nch * depth + 7) // 8

    bpp = max(1, nch * depth // 8)  # filter unit, spec 9.2

    # expected inflated size is fully determined by the header — bound the
    # inflate to it so a crafted IDAT (decompression bomb) cannot out-
    # allocate the image it claims to be
    if interlace == 0:
        pass_dims = [(width, height, 0, 0, 1, 1)]
    else:
        pass_dims = []
        for x0, y0, dx, dy in _ADAM7:
            pw = (width - x0 + dx - 1) // dx
            ph = (height - y0 + dy - 1) // dy
            if pw > 0 and ph > 0:
                pass_dims.append((pw, ph, x0, y0, dx, dy))
    expected = sum(ph * (_stride(pw) + 1) for pw, ph, *_ in pass_dims)
    try:
        d = zlib.decompressobj()
        raw = d.decompress(bytes(idat), expected + 1)
    except zlib.error as e:
        # malformed bytes are ValueError everywhere in this decoder —
        # one exception class for "not a decodable PNG"
        raise ValueError(f"corrupt PNG IDAT stream: {e}") from None
    if len(raw) != expected:
        raise ValueError("PNG IDAT length does not match dimensions")

    # unfilter each (sub-)image, unpack samples, then scatter Adam7
    # passes into place
    samples = np.zeros((height, width * nch), dtype=np.uint8)
    offset = 0
    for pw, ph, x0, y0, dx, dy in pass_dims:
        stride = _stride(pw)
        sub = _png_unfilter(raw, offset, ph, stride, bpp)
        offset += ph * (stride + 1)
        if depth == 16:  # big-endian high byte (spec 16->8 fast path)
            sub = sub.reshape(ph, pw * nch, 2)[:, :, 0]
        elif depth < 8:
            bits = np.unpackbits(sub, axis=1)[:, : pw * depth]
            weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint8)
            sub = (
                bits.reshape(ph, pw, depth).astype(np.uint8) * weights
            ).sum(axis=2).astype(np.uint8)
            if ctype_num == 0:
                # exact sample scaling: 255/(2^d - 1) is integral for
                # d in {1, 2, 4} (255 = 3 * 5 * 17)
                sub = sub * np.uint8(255 // ((1 << depth) - 1))
        sub = sub.reshape(ph, pw, nch)
        rows = np.arange(y0, height, dy)[:ph]
        cols = np.arange(x0, width, dx)[:pw]
        grid = samples.reshape(height, width, nch)
        grid[np.ix_(rows, cols)] = sub
    px = samples.reshape(height, width, nch)
    if ctype_num == 3:
        if palette is None:
            raise ValueError("palette PNG missing PLTE")
        if int(px.max(initial=0)) >= len(palette):
            raise ValueError("PNG palette index out of PLTE range")
        rgb = palette[px[:, :, 0]].astype(np.int64)
        gray = (rgb[:, :, 0] * 299 + rgb[:, :, 1] * 587 + rgb[:, :, 2] * 114) // 1000
    elif ctype_num in (2, 6):
        rgb = px[:, :, :3].astype(np.int64)
        gray = (rgb[:, :, 0] * 299 + rgb[:, :, 1] * 587 + rgb[:, :, 2] * 114) // 1000
    else:  # 0 (gray) / 4 (gray+alpha): first channel IS the luma
        gray = px[:, :, 0].astype(np.int64)
    return int(width), int(height), gray.astype(np.uint8)


def _png_encode_gray(gray) -> bytes:
    """Encode a (h, w) uint8 luma array as a minimal grayscale PNG
    (color type 0, depth 8, filter 0, one IDAT) — the output half of the
    resize lane. Round-trips exactly through :func:`_png_decode`."""
    import struct
    import zlib

    import numpy as np

    g = np.ascontiguousarray(gray, dtype=np.uint8)
    h, w = g.shape

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    raw = (
        np.concatenate(
            [np.zeros((h, 1), dtype=np.uint8), g], axis=1
        )  # filter byte 0 per row
        .tobytes()
    )
    return (
        _PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def resize_media(
    df: DataFrame,
    max_side: int = 256,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    codec: str = "png",
    on_error: str = "skip",
) -> DataFrame:
    """ACTUAL image resize: decode → nearest-neighbor resample of the
    luma plane → re-encode as grayscale PNG. Returns
    ``(doc_id, payload, width, height)`` — real bytes, ready for the
    feature/phash lanes downstream (:func:`resize_plan` remains the
    metadata-only planner for pipelines that resample inside their own
    codec).

    Nearest-neighbor (``src = (dst * src_len) // dst_len``) is chosen
    over box filtering deliberately: it is a pure integer map, so the
    output is a bit-exact function of the input on every platform — the
    tier's cross-engine determinism rule. Images already within
    ``max_side`` are re-encoded unscaled (output codec is normalized
    PNG either way).

    ``on_error``: ``"skip"`` (default) drops undecodable payloads,
    ``"strict"`` aborts.
    """
    if codec not in ("png", "jpeg"):
        raise NotImplementedError(
            f"resize_media decodes codec 'png' or 'jpeg', got {codec!r}"
        )
    _check_on_error(on_error, allowed=("skip", "strict"))
    if max_side < 1:
        raise ValueError("max_side must be >= 1")

    out_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("payload", BinaryType()),
            StructField("width", IntegerType()),
            StructField("height", IntegerType()),
        ]
    )

    narrow = df.select(
        F.col(id_col).alias("doc_id"), F.col(payload_col).alias("payload")
    ).where(F.col("payload").isNotNull())

    def resize_batches(
        batches: Iterable[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        if codec == "jpeg":
            from .jpeg import _jpeg_decode as _decode
        else:
            _decode = _png_decode
        for pdf in batches:
            ids, payloads, ws, hs = [], [], [], []
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    w, h, gray = _decode(p)
                except (ValueError, NotImplementedError):
                    if on_error == "strict":
                        raise
                    continue
                if max(w, h) > max_side:
                    if w >= h:
                        tw = max_side
                        th = max(1, (h * max_side) // w)
                    else:
                        th = max_side
                        tw = max(1, (w * max_side) // h)
                else:
                    tw, th = w, h
                rows = (np.arange(th, dtype=np.int64) * h) // th
                cols = (np.arange(tw, dtype=np.int64) * w) // tw
                resized = gray[np.ix_(rows, cols)]
                ids.append(doc_id)
                payloads.append(_png_encode_gray(resized))
                ws.append(tw)
                hs.append(th)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "payload": pd.Series(payloads, dtype="object"),
                    "width": pd.Series(ws, dtype="int32"),
                    "height": pd.Series(hs, dtype="int32"),
                }
            )

    return narrow.mapInPandas(resize_batches, out_schema)


def attach_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach a binary payload column (UTF-8 bytes of the text column).

    Stand-in for reading real media bytes; gives every downstream operator
    a genuine BinaryType column to exercise.
    """
    return df.withColumn("payload", F.col(text_col).cast("binary"))


def _fake_decode(payload: bytes) -> tuple[str, int, int]:
    """Deterministic (format, width, height) from md5 of the bytes.

    Mirrored in SQL by the oracle: width/height are 16 + (16-bit md5
    prefix mod 512); format cycles on the first hash nibble.
    """
    h = hashlib.md5(payload).hexdigest()
    width = 16 + int(h[0:4], 16) % 512
    height = 16 + int(h[4:8], 16) % 512
    fmt = ("png", "jpeg", "webp", "gif")[int(h[8], 16) % 4]
    return fmt, width, height


def _check_on_error(on_error: str, allowed=("null", "skip", "strict")) -> None:
    if on_error not in allowed:
        raise ValueError(f"on_error must be one of {allowed}, got {on_error!r}")


def decode_media(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    codec: str = "fake",
    on_error: str = "null",
) -> DataFrame:
    """Decode binary payloads to typed metadata via mapInPandas.

    The iterator-of-DataFrames signature keeps peak memory bounded by the
    Arrow batch size (``spark.sql.execution.arrow.maxRecordsPerBatch``)
    regardless of total partition size — the correct shape for multi-MB
    media payloads.

    ``on_error`` governs per-row codec failures (ValueError on malformed
    bytes, NotImplementedError on unsupported profiles): ``"null"``
    (default) quarantines the row — doc_id and n_bytes survive, the
    decoded metadata columns are NULL, so undecodable payloads are
    countable (``width IS NULL``) without failing a 100-TB job on one
    corrupt byte; ``"skip"`` drops the row; ``"strict"`` re-raises,
    aborting the job (the pre-r7 behavior, opt-in for pipelines that
    treat any corrupt payload as a data bug). The fake codec is total —
    it never errors — so the driver's oracle lane is mode-independent.
    """
    if codec != "auto" and codec not in SUPPORTED_CODECS:
        raise NotImplementedError(
            f"codec {codec!r}: further media codecs (ffmpeg-class) are not "
            f"available in this environment; supported: {SUPPORTED_CODECS} "
            "plus 'auto' (magic-byte routing)"
        )
    if codec in AUDIO_CODECS:
        raise ValueError(
            f"codec {codec!r} is audio — it has no (width, height); use "
            "decode_audio for the audio metadata lane"
        )
    _check_on_error(on_error)
    if codec == "png":
        def _decode_one(p: bytes) -> tuple[str, int, int]:
            w, h, _gray = _png_decode(p)
            return "png", w, h
    elif codec == "jpeg":
        def _decode_one(p: bytes) -> tuple[str, int, int]:
            from .jpeg import _jpeg_decode

            w, h, _gray = _jpeg_decode(p)
            return "jpeg", w, h
    elif codec == "avi":
        def _decode_one(p: bytes) -> tuple[str, int, int]:
            from .video import _avi_decode

            w, h, _us, _frames = _avi_decode(p)
            return "avi", w, h
    elif codec == "y4m":
        def _decode_one(p: bytes) -> tuple[str, int, int]:
            from .video import _y4m_decode

            w, h, _us, _frames = _y4m_decode(p)
            return "y4m", w, h
    elif codec == "gif":
        def _decode_one(p: bytes) -> tuple[str, int, int]:
            from .gif import _gif_decode

            w, h, _frames = _gif_decode(p)
            return "gif", w, h
    elif codec == "bmp":
        def _decode_one(p: bytes) -> tuple[str, int, int]:
            from .bmp import _bmp_decode

            w, h, _gray = _bmp_decode(p)
            return "bmp", w, h
    elif codec == "tiff":
        def _decode_one(p: bytes) -> tuple[str, int, int]:
            from .tiff import _tiff_decode

            w, h, _gray = _tiff_decode(p)
            return "tiff", w, h
    elif codec == "pnm":
        def _decode_one(p: bytes) -> tuple[str, int, int]:
            from .pnm import _pnm_decode

            w, h, _gray = _pnm_decode(p)
            return "pnm", w, h
    elif codec == "auto":
        def _decode_one(p: bytes) -> tuple[str, int, int]:
            # magic-routed mixed-media decode; audio payloads have no
            # (width, height), so they quarantine under on_error (run
            # sniff_media first to route them to decode_audio)
            fmt = sniff_codec(p)
            if fmt in AUDIO_CODECS:
                raise ValueError(
                    f"sniffed {fmt!r} is audio; route via decode_audio"
                )
            gray = _luma_of_sniffed(fmt, p)
            h, w = gray.shape
            return fmt, w, h
    else:
        _decode_one = _fake_decode

    # NULL payloads are filtered up front (the phash_signatures posture):
    # hashlib/len over None raises inside the Arrow batch, failing the
    # whole job; a missing payload has nothing to decode. Mirrored by the
    # oracle's text IS NOT NULL guard.
    narrow = df.select(
        F.col(id_col).alias("doc_id"), F.col(payload_col).alias("payload")
    ).where(F.col("payload").isNotNull())

    def decode_batches(
        batches: Iterable[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, fmts, ws, hs, nbs, nps = [], [], [], [], [], []
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    fmt, w, h = _decode_one(p)
                except (ValueError, NotImplementedError):
                    if on_error == "strict":
                        raise
                    if on_error == "skip":
                        continue
                    fmt, w, h = None, None, None
                ids.append(doc_id)
                fmts.append(fmt)
                ws.append(w)
                hs.append(h)
                nbs.append(len(p))
                nps.append(None if w is None else w * h)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "media_format": pd.Series(fmts, dtype="object"),
                    # nullable pandas dtypes: quarantined rows carry NULL
                    # metadata through Arrow without float-upcasting
                    "width": pd.Series(ws, dtype="Int32"),
                    "height": pd.Series(hs, dtype="Int32"),
                    "n_bytes": pd.Series(nbs, dtype="int64"),
                    "n_pixels": pd.Series(nps, dtype="Int64"),
                }
            )

    return narrow.mapInPandas(decode_batches, DECODED_SCHEMA)


#: Metadata schema produced by decode_audio.
AUDIO_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("media_format", StringType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_channels", IntegerType()),
        StructField("n_frames", LongType()),
        StructField("duration_ms", LongType()),
        StructField("n_bytes", LongType()),
    ]
)


def decode_audio(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    codec: str = "wav",
    on_error: str = "null",
) -> DataFrame:
    """Decode audio payloads to typed metadata via mapInPandas — the
    audio twin of :func:`decode_media` (audio has sample-rate/channel/
    duration shape, not width x height). Same NULL-payload prefilter,
    same ``on_error`` quarantine contract, same Arrow-batched iterator
    memory bounds. Real WAV/PCM decode (:mod:`.audio`)."""
    if codec not in AUDIO_CODECS:
        raise NotImplementedError(
            f"audio codec {codec!r} not available; supported: {AUDIO_CODECS}"
        )
    _check_on_error(on_error)

    narrow = df.select(
        F.col(id_col).alias("doc_id"), F.col(payload_col).alias("payload")
    ).where(F.col("payload").isNotNull())

    def audio_batches(
        batches: Iterable[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        from .audio import _wav_decode

        for pdf in batches:
            ids, fmts, rates, chans, nfs, durs, nbs = (
                [], [], [], [], [], [], []
            )
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    rate, samples = _wav_decode(p)
                    nf, nc = samples.shape
                except (ValueError, NotImplementedError):
                    if on_error == "strict":
                        raise
                    if on_error == "skip":
                        continue
                    rate = nc = nf = None
                ids.append(doc_id)
                fmts.append(None if rate is None else "wav")
                rates.append(rate)
                chans.append(nc)
                nfs.append(nf)
                durs.append(
                    None if rate is None else (nf * 1000) // rate
                )
                nbs.append(len(p))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "media_format": pd.Series(fmts, dtype="object"),
                    "sample_rate": pd.Series(rates, dtype="Int32"),
                    "n_channels": pd.Series(chans, dtype="Int32"),
                    "n_frames": pd.Series(nfs, dtype="Int64"),
                    "duration_ms": pd.Series(durs, dtype="Int64"),
                    "n_bytes": pd.Series(nbs, dtype="int64"),
                }
            )

    return narrow.mapInPandas(audio_batches, AUDIO_SCHEMA)


#: Schema produced by audio_windows.
AUDIO_WINDOWS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("window_idx", IntegerType()),
        StructField("t_ms", LongType()),
        StructField("energy", LongType()),
        StructField("n_samples", IntegerType()),
        StructField("zero_crossings", IntegerType()),
    ]
)


def audio_windows(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    window_ms: int = 25,
    codec: str = "wav",
    on_error: str = "skip",
) -> DataFrame:
    """Per-window audio analysis features — the DSP one-to-many lane:
    one row per ``window_ms`` hop of the channel-mean signal with
    ``energy`` (sum of squared samples, int64), ``n_samples``, and
    ``zero_crossings`` (sign-change count, zeros carrying the previous
    sign). ALL-INTEGER outputs — a pure function of the payload bytes on
    any platform (rms = sqrt(energy / n_samples) is one caller-side
    expression away; speech/silence gating thresholds `energy` directly).
    Tail samples short of a full window are dropped (standard hop
    framing). ``on_error``: ``"skip"`` default / ``"strict"``.
    """
    if codec not in AUDIO_CODECS:
        raise NotImplementedError(
            f"audio codec {codec!r} not available; supported: {AUDIO_CODECS}"
        )
    _check_on_error(on_error, allowed=("skip", "strict"))
    if window_ms < 1:
        raise ValueError("window_ms must be >= 1")

    narrow = df.select(
        F.col(id_col).alias("doc_id"), F.col(payload_col).alias("payload")
    ).where(F.col("payload").isNotNull())

    def window_batches(
        batches: Iterable[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        from .audio import _wav_mono

        for pdf in batches:
            ids, idxs, ts, energies, ns, zcs = [], [], [], [], [], []
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    rate, mono = _wav_mono(p)
                except (ValueError, NotImplementedError):
                    if on_error == "strict":
                        raise
                    continue
                hop = max(1, (rate * window_ms) // 1000)
                n_windows = mono.size // hop
                if n_windows == 0:
                    continue
                m = mono[: n_windows * hop].astype(np.int64)
                grid = m.reshape(n_windows, hop)
                energy = (grid * grid).sum(axis=1)
                # sign with zeros inheriting the previous sign: standard
                # ZCR convention, and exactly reproducible
                sign = np.sign(m)
                prev = 1
                for i in range(sign.size):  # fill zeros forward
                    if sign[i] == 0:
                        sign[i] = prev
                    else:
                        prev = sign[i]
                flips = (sign[1:] != sign[:-1]).astype(np.int64)
                # crossings attributed to the window of the LATER sample
                flip_win = np.zeros(n_windows, dtype=np.int64)
                np.add.at(flip_win, np.arange(1, m.size) // hop, flips)
                for i in range(n_windows):
                    ids.append(doc_id)
                    idxs.append(i)
                    ts.append(i * window_ms)
                    energies.append(int(energy[i]))
                    ns.append(hop)
                    zcs.append(int(flip_win[i]))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "window_idx": pd.Series(idxs, dtype="int32"),
                    "t_ms": pd.Series(ts, dtype="int64"),
                    "energy": pd.Series(energies, dtype="int64"),
                    "n_samples": pd.Series(ns, dtype="int32"),
                    "zero_crossings": pd.Series(zcs, dtype="int32"),
                }
            )

    return narrow.mapInPandas(window_batches, AUDIO_WINDOWS_SCHEMA)


def audio_segments(
    windows: DataFrame,
    energy_threshold: int,
    min_windows: int = 1,
    id_col: str = "doc_id",
) -> DataFrame:
    """Speech/silence segmentation over an :func:`audio_windows` frame —
    the audio lane feeding the RELATIONAL tier: pure DataFrame island
    detection (the sessionize/gaps-and-islands shape), no UDF.

    A window is ``active`` iff ``energy > energy_threshold`` (integer
    comparison — platform-exact). Consecutive same-state windows merge
    into segments via the classic running-count-of-state-changes window
    trick, partitioned per document (each document's window count is
    bounded by its duration — never a corpus-wide sort). Segments
    shorter than ``min_windows`` are RECLASSIFIED into their neighbor
    state (debouncing: a one-window blip inside speech stays speech)
    by a second island pass over the debounced state.

    Returns ``(doc_id, segment_idx, kind, start_ms, end_ms, n_windows,
    energy)`` with ``kind`` in ('speech', 'silence'), segments ordered
    and contiguous per document.
    """
    if min_windows < 1:
        raise ValueError("min_windows must be >= 1")
    from pyspark.sql import Window as W

    w_doc = W.partitionBy(id_col).orderBy("window_idx")
    active = (F.col("energy") > F.lit(int(energy_threshold))).cast("int")
    marked = windows.withColumn("__a", active).withColumn(
        "__flip",
        F.when(
            F.lag("__a").over(w_doc).isNull()
            | (F.lag("__a").over(w_doc) != F.col("__a")),
            1,
        ).otherwise(0),
    )
    grouped = marked.withColumn("__g", F.sum("__flip").over(w_doc))
    # debounce: count each island's size, flip sub-minimum islands
    sizes = grouped.groupBy(id_col, "__g", "__a").agg(
        F.count(F.lit(1)).alias("__n")
    )
    deb = grouped.join(sizes, [id_col, "__g", "__a"]).withColumn(
        "__a2",
        F.when(F.col("__n") < min_windows, 1 - F.col("__a")).otherwise(
            F.col("__a")
        ),
    )
    # second island pass over the debounced state
    deb2 = deb.withColumn(
        "__flip2",
        F.when(
            F.lag("__a2").over(w_doc).isNull()
            | (F.lag("__a2").over(w_doc) != F.col("__a2")),
            1,
        ).otherwise(0),
    ).withColumn("__g2", F.sum("__flip2").over(w_doc))
    return (
        deb2.groupBy(id_col, "__g2")
        .agg(
            F.first("__a2").alias("__kind"),
            F.min("t_ms").alias("start_ms"),
            F.count(F.lit(1)).alias("n_windows"),
            F.sum("energy").alias("energy"),
        )
        .withColumn(
            "kind",
            F.when(F.col("__kind") == 1, "speech").otherwise("silence"),
        )
        .withColumn(
            "segment_idx",
            F.row_number().over(
                W.partitionBy(id_col).orderBy("start_ms")
            )
            - 1,
        )
        .withColumn(
            # segments tile the document: each ends where the next
            # starts; the final segment is open-ended (NULL — its true
            # end is the audio duration, which the windows frame does
            # not carry)
            "end_ms",
            F.lead("start_ms").over(
                W.partitionBy(id_col).orderBy("start_ms")
            ),
        )
        .select(
            id_col,
            "segment_idx",
            "kind",
            "start_ms",
            "end_ms",
            "n_windows",
            "energy",
        )
    )


#: Schema produced by extract_features.
FEATURES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("features", ArrayType(DoubleType())),
    ]
)


def extract_features(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    dim: int = 16,
    codec: str = "fake",
    on_error: str = "null",
) -> DataFrame:
    """Feature-extract binary payloads to a dense vector via mapInPandas.

    The embedding-extraction shape: media bytes in, ``array<double>`` out,
    ready for the similarity tier (cosine_topk / ann_lsh_topk / ivf_topk).
    Fake codec: feature j = byte j of iterated md5 of the payload, scaled
    to [0, 1] by /255 — deterministic, and reproducible in SQL (md5 hex
    pairs → ints), so aggregates over features are oracle-checkable with
    order-independent reducers (MIN/MAX; j/255.0 is IEEE-exact in every
    engine). PNG/JPEG codecs: a ``dim``-bin normalized luma histogram of
    the decoded pixels (each feature = fraction of pixels in that
    intensity band) — a real, content-derived image feature.

    ``on_error`` (real codecs only — fake is total): ``"null"`` default
    quarantines undecodable rows with NULL features, ``"skip"`` drops
    them, ``"strict"`` aborts the job (see :func:`decode_media`).
    """
    if codec != "auto" and codec not in SUPPORTED_CODECS:
        raise NotImplementedError(f"codec {codec!r} not available")
    _check_on_error(on_error)
    if codec == "fake" and dim > 16:
        raise ValueError("fake codec derives at most 16 features (one md5)")
    if codec != "fake" and not 1 <= dim <= 256:
        raise ValueError("histogram features need 1 <= dim <= 256")

    narrow = df.select(
        F.col(id_col).alias("doc_id"), F.col(payload_col).alias("payload")
    ).where(F.col("payload").isNotNull())

    if codec in ("png", "jpeg", "avi", "y4m", "gif", "bmp", "tiff", "pnm", "auto"):
        def _gray_of(p: bytes):
            if codec == "auto":
                # magic-routed: still/keyframe luma for images and
                # video; audio quarantines (no luma plane)
                return _luma_of_sniffed(sniff_codec(p), p)
            if codec == "png":
                return _png_decode(p)[2]
            if codec == "jpeg":
                from .jpeg import _jpeg_decode

                return _jpeg_decode(p)[2]
            if codec == "gif":
                from .gif import _gif_first_frame_screen

                return _gif_first_frame_screen(p)[2]
            if codec == "bmp":
                from .bmp import _bmp_decode

                return _bmp_decode(p)[2]
            if codec == "tiff":
                from .tiff import _tiff_decode

                return _tiff_decode(p)[2]
            if codec == "pnm":
                from .pnm import _pnm_decode

                return _pnm_decode(p)[2]
            if codec == "y4m":
                from .video import _y4m_frame_luma

                # a video's feature = its FIRST frame's luma histogram
                # (the keyframe-thumbnail convention); Y4M's Y plane is
                # already luma
                return _y4m_frame_luma(p, 0)
            from .jpeg import _jpeg_decode
            from .video import _avi_decode

            # a video's feature = its FIRST frame's luma histogram (the
            # keyframe-thumbnail convention; per-frame features compose
            # via frame_sample + per-frame payload decode)
            return _jpeg_decode(_avi_decode(p)[3][0])[2]

        def _features_one(p: bytes) -> list[float]:
            import numpy as np

            gray = _gray_of(p)
            hist = np.bincount(
                (gray.ravel().astype(np.int64) * dim) // 256, minlength=dim
            )
            return (hist / max(1, gray.size)).tolist()
    elif codec in AUDIO_CODECS:
        def _features_one(p: bytes) -> list[float]:
            import numpy as np

            from .audio import _wav_mono

            _rate, mono = _wav_mono(p)
            # dim-bin amplitude histogram over the signed 16-bit range —
            # the audio analogue of the luma histogram
            bins = ((mono.astype(np.int64) + 32768) * dim) // 65536
            hist = np.bincount(
                np.clip(bins, 0, dim - 1), minlength=dim
            )
            return (hist / max(1, mono.size)).tolist()
    else:
        def _features_one(p: bytes) -> list[float]:
            return [b / 255.0 for b in hashlib.md5(p).digest()[:dim]]

    def feature_batches(
        batches: Iterable[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, feats = [], []
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    f = _features_one(p)
                except (ValueError, NotImplementedError):
                    if on_error == "strict":
                        raise
                    if on_error == "skip":
                        continue
                    f = None
                ids.append(doc_id)
                feats.append(f)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "features": pd.Series(feats, dtype="object"),
                }
            )

    return narrow.mapInPandas(feature_batches, FEATURES_SCHEMA)


#: Schema produced by frame_sample.
FRAMES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("t_ms", LongType()),
    ]
)


def frame_sample(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    every_n: int = 2,
    codec: str = "fake",
    on_error: str = "skip",
) -> DataFrame:
    """Sample frames from video/audio payloads: one output row per
    sampled frame (the one-to-many media shape — mapInPandas as a
    flatMap).

    * ``codec="avi"`` — REAL video sampling: frame count and timestamps
      come from the MJPEG container (avih microseconds-per-frame), and
      every sampled frame is itself JPEG-decoded (a corrupt frame
      mid-stream is caught, not passed through).
    * ``codec="wav"`` — audio analysis windows: one frame per 25 ms hop
      at the file's real sample rate.
    * ``codec="png"/"jpeg"`` — a validated still image is one frame.
    * ``codec="fake"`` — deterministic count (1..8, md5 nibbles 10-12)
      at 25 fps; md5-derived, so the exploded row set is reproducible
      in SQL (DuckDB ``unnest(range(...))``) — the driver-oracle lane
      (q42) checks the full explode.

    ``on_error`` (real codecs only): an undecodable payload yields zero
    frames under ``"skip"`` (default — in a one-to-many explode the
    natural quarantine is an empty explosion); ``"strict"`` aborts.
    """
    if codec not in SUPPORTED_CODECS:
        raise NotImplementedError(f"codec {codec!r} not available")
    _check_on_error(on_error, allowed=("skip", "strict"))
    if every_n < 1:
        # plan-build-time guard: range(0, n, 0) would ValueError inside
        # every executor task; a negative step silently emits no frames
        raise ValueError("every_n must be >= 1")

    narrow = df.select(
        F.col(id_col).alias("doc_id"), F.col(payload_col).alias("payload")
    ).where(F.col("payload").isNotNull())

    def frame_batches(
        batches: Iterable[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        if codec in ("jpeg", "avi"):
            from .jpeg import _jpeg_decode
        if codec == "avi":
            from .video import _avi_decode
        if codec in AUDIO_CODECS:
            from .audio import _wav_mono
        for pdf in batches:
            ids, idxs, ts = [], [], []
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    if codec in ("png", "jpeg", "bmp", "tiff", "pnm"):
                        # a validated still image is exactly one frame
                        if codec == "bmp":
                            from .bmp import _bmp_decode as _still
                        elif codec == "tiff":
                            from .tiff import _tiff_decode as _still
                        elif codec == "pnm":
                            from .pnm import _pnm_decode as _still
                        elif codec == "png":
                            _still = _png_decode
                        else:
                            _still = _jpeg_decode
                        _still(p)
                        sampled = [(0, 0)]
                    elif codec == "avi":
                        # REAL video frames: container-counted, container-
                        # timed; every SAMPLED frame must itself decode
                        _w, _h, us, frames = _avi_decode(p)
                        sampled = []
                        for i in range(0, len(frames), every_n):
                            _jpeg_decode(frames[i])
                            sampled.append((i, (i * us) // 1000))
                    elif codec == "y4m":
                        # raw planar frames are validated by the
                        # container's own size arithmetic at decode
                        from .video import _y4m_decode

                        _w, _h, us, frames = _y4m_decode(p)
                        sampled = [
                            (i, (i * us) // 1000)
                            for i in range(0, len(frames), every_n)
                        ]
                    elif codec == "gif":
                        # animation frames with REAL graphic-control
                        # delays; t_ms = cumulative start time
                        from .gif import _gif_decode

                        _w, _h, frames = _gif_decode(p)
                        starts = []
                        t = 0
                        for fr in frames:
                            starts.append(t)
                            t += fr["delay_ms"]
                        sampled = [
                            (i, starts[i])
                            for i in range(0, len(frames), every_n)
                        ]
                    elif codec in AUDIO_CODECS:
                        # audio "frames" = 25 ms analysis windows
                        rate, mono = _wav_mono(p)
                        hop = max(1, (rate * 25) // 1000)
                        n_windows = mono.size // hop
                        sampled = [
                            (i, i * 25)
                            for i in range(0, n_windows, every_n)
                        ]
                    else:
                        h = hashlib.md5(p).hexdigest()
                        n_frames = 1 + int(h[9:12], 16) % 8
                        sampled = [
                            (i, i * 40) for i in range(0, n_frames, every_n)
                        ]
                except (ValueError, NotImplementedError):
                    if on_error == "strict":
                        raise
                    continue
                for i, t in sampled:
                    ids.append(doc_id)
                    idxs.append(i)
                    ts.append(t)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "t_ms": pd.Series(ts, dtype="int64"),
                }
            )

    return narrow.mapInPandas(frame_batches, FRAMES_SCHEMA)


def resize_plan(
    df: DataFrame, max_side: int = 256, codec: str = "fake"
) -> DataFrame:
    """Plan a resize: target dims preserving aspect ratio, longest side
    capped at ``max_side``. Pure column arithmetic over decoded metadata —
    the byte-level resample itself would live in the codec (stubbed here).
    """
    if codec not in SUPPORTED_CODECS:
        raise NotImplementedError(f"codec {codec!r} not available")
    scale = F.when(
        F.greatest("width", "height") <= max_side, F.lit(1.0)
    ).otherwise(max_side / F.greatest("width", "height"))
    return df.select(
        "*",
        F.greatest(F.floor(F.col("width") * scale).cast("int"), F.lit(1)).alias(
            "target_width"
        ),
        F.greatest(
            F.floor(F.col("height") * scale).cast("int"), F.lit(1)
        ).alias("target_height"),
    )


# --- perceptual-hash media near-dup --------------------------------------

def _ahash64(payload: bytes) -> int:
    """64-bit average-hash of a byte payload (signed int64).

    The aHash shape on real images (downscale to an 8x8 grid, threshold
    each cell against the global mean) applied to the payload byte
    stream: 64 equal-span cells via integer cumulative-sum boundaries,
    bit i set iff cell i's mean exceeds the global mean. All-integer
    cross-multiplied comparisons (sum_i * n > total * len_i) — no float,
    so the signature is a pure function of the bytes on any platform.

    Robustness contract (what the near-dup lane relies on): a k-byte
    SUBSTITUTION touches at most k cells directly, so two payloads
    differing in k < max_hamming bytes band together unless a marginal
    cell elsewhere sits exactly on the shifted global mean. Insertions
    and deletions reframe every downstream cell (position-based cells;
    same limitation as real aHash under crop/scale) — that is the text
    tier's job, not this lane's.
    """
    import numpy as np

    a = np.frombuffer(payload, dtype=np.uint8)
    if a.size == 0:
        return 0
    idx = (np.arange(65, dtype=np.int64) * a.size) // 64
    cs = np.concatenate(([0], np.cumsum(a, dtype=np.int64)))
    sums = cs[idx[1:]] - cs[idx[:-1]]
    lens = idx[1:] - idx[:-1]
    total, n = int(cs[-1]), int(a.size)
    bits = (lens > 0) & (sums * n > total * lens)
    val = int(bits.astype(np.uint64) @ (np.uint64(1) << np.arange(64, dtype=np.uint64)))
    return val - (1 << 64) if val >= (1 << 63) else val


def _ahash64_luma(gray) -> int:
    """TRUE image aHash: 8x8 integer box means of the luma plane,
    bit i set iff cell i's mean exceeds the global mean — all
    cross-multiplied integer comparisons (cell_sum * n_total >
    total_sum * n_cell), a pure function of the pixels on any platform.
    Because it hashes CONTENT, two different ENCODINGS of the same image
    (a PNG re-filtered, a GIF re-palettized, a JPEG of the same pixels)
    collapse to the same or near-same signature — exactly what the
    byte-level :func:`_ahash64` cannot do."""
    import numpy as np

    g = np.asarray(gray, dtype=np.int64)
    h, w = g.shape
    # integral image -> exact 8x8 cell sums at integer boundaries
    ii = np.zeros((h + 1, w + 1), dtype=np.int64)
    ii[1:, 1:] = g.cumsum(0).cumsum(1)
    rb = (np.arange(9, dtype=np.int64) * h) // 8
    cb = (np.arange(9, dtype=np.int64) * w) // 8
    sums = (
        ii[rb[1:], :][:, cb[1:]]
        - ii[rb[:-1], :][:, cb[1:]]
        - ii[rb[1:], :][:, cb[:-1]]
        + ii[rb[:-1], :][:, cb[:-1]]
    )
    counts = (rb[1:] - rb[:-1])[:, None] * (cb[1:] - cb[:-1])[None, :]
    total, n = int(g.sum()), h * w
    bits = ((counts > 0) & (sums * n > total * counts)).ravel()
    val = int(
        bits.astype(np.uint64)
        @ (np.uint64(1) << np.arange(64, dtype=np.uint64))
    )
    return val - (1 << 64) if val >= (1 << 63) else val


def _ahash64_luma_dihedral(gray) -> int:
    """Orientation-canonical aHash: the MINIMUM of :func:`_ahash64_luma`
    over the eight dihedral transforms of the image (4 rotations x
    mirror). Rotated, flipped, or mirror-scanned copies of the same
    picture — the classic scanned-document and re-photographed
    duplicate class — then band to ONE signature. The canonicalization
    is a pure function of the pixels (min over a fixed transform set),
    so it keeps the tier's determinism contract; the cost is 8 box-mean
    passes over the integral image — negligible beside the decode."""
    import numpy as np

    g = np.asarray(gray)
    best = None
    for k in range(4):
        r = np.rot90(g, k)
        for cand in (r, r[:, ::-1]):
            sig = _ahash64_luma(np.ascontiguousarray(cand))
            if best is None or sig < best:
                best = sig
    return best


def phash_signatures(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    codec: str = "raw",
    on_error: str = "skip",
    orientation_invariant: bool = False,
) -> DataFrame:
    """(doc_id, sig) perceptual signatures via an Arrow-batched UDF.

    ``orientation_invariant=True`` (real codecs only) canonicalizes
    over the eight dihedral transforms
    (:func:`_ahash64_luma_dihedral`), so rotated/flipped copies — the
    scanned-document duplicate class — band together.

    ``codec="raw"`` (default — the oracle-friendly lane) hashes the
    payload BYTE stream (:func:`_ahash64`). A real image codec
    (``"png"``/``"jpeg"``/``"gif"``) decodes first and hashes the 8x8
    luma box means (:func:`_ahash64_luma`) — CONTENT-level signatures,
    so re-encodings of the same pixels band together even when not one
    payload byte matches (pinned in pytest: the same image written with
    different PNG filters, and as a GIF, signature-identically).

    NULL payloads are filtered before the UDF (a payloadless row can
    near-duplicate nothing); with a real codec, undecodable payloads
    follow ``on_error`` — ``"skip"`` (default: no signature, the
    natural quarantine for a candidate generator) or ``"strict"``.
    """
    if codec not in ("raw", "png", "jpeg", "gif", "bmp", "tiff", "pnm", "y4m", "auto"):
        raise NotImplementedError(
            f"phash_signatures codec {codec!r} not available"
        )
    _check_on_error(on_error, allowed=("skip", "strict"))
    if orientation_invariant and codec == "raw":
        raise ValueError(
            "orientation_invariant needs decoded pixels; codec='raw' "
            "hashes bytes"
        )

    narrow = df.where(F.col(payload_col).isNotNull()).select(
        F.col(id_col).alias("doc_id"), F.col(payload_col).alias("payload")
    )

    def sig_batches(
        batches: Iterable[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        if codec == "jpeg":
            from .jpeg import _jpeg_decode as _decode
        elif codec == "gif":
            from .gif import _gif_first_frame_screen as _decode
        elif codec == "bmp":
            from .bmp import _bmp_decode as _decode
        elif codec == "tiff":
            from .tiff import _tiff_decode as _decode
        elif codec == "pnm":
            from .pnm import _pnm_decode as _decode
        elif codec == "y4m":
            from .video import _y4m_frame_luma

            def _decode(p):
                # first-frame Y plane: the video near-dup keyframe rule
                return None, None, _y4m_frame_luma(p, 0)
        elif codec == "auto":
            def _decode(p):
                # magic-routed cross-format media dedup in ONE pass;
                # audio payloads raise (no luma) -> skip/strict
                return None, None, _luma_of_sniffed(sniff_codec(p), p)
        elif codec == "png":
            _decode = _png_decode
        for pdf in batches:
            ids, sigs = [], []
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                if codec == "raw":
                    sig = _ahash64(p)
                else:
                    try:
                        luma = _decode(p)[2]
                        sig = (
                            _ahash64_luma_dihedral(luma)
                            if orientation_invariant
                            else _ahash64_luma(luma)
                        )
                    except (ValueError, NotImplementedError):
                        if on_error == "strict":
                            raise
                        continue
                ids.append(doc_id)
                sigs.append(sig)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "sig": pd.Series(sigs, dtype="int64"),
                }
            )

    sig_schema = StructType(
        [StructField("doc_id", LongType()), StructField("sig", LongType())]
    )
    return narrow.mapInPandas(sig_batches, sig_schema)


def phash_neardup(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    codec: str = "raw",
) -> DataFrame:
    """Media near-duplicate pairs by perceptual hash: the multimodal →
    dedup bridge. Signatures are Arrow-batched numpy
    (:func:`phash_signatures` — byte-level ``"raw"``, or a real codec
    for CONTENT-level signatures that catch re-encodings); candidate
    generation and the exact bit_count re-rank reuse the SimHash
    4x16-bit banding engine (dedup.hamming_band_pairs) —
    pigeonhole-lossless at Hamming <= 3, equi-join-only, O(near-dups)
    shuffle. Returns (doc_a, doc_b, hamming).
    """
    from .dedup import hamming_band_pairs

    return hamming_band_pairs(
        phash_signatures(df, payload_col, id_col, codec=codec),
        max_hamming=max_hamming,
        bits=64,
    )


def _bounded_multistream_bytes(
    p: bytes, new_decompressor, err_types, max_bytes: int, name: str
) -> bytes:
    """Streaming bounded decompression over one-or-more concatenated
    streams via the decompressobj protocol (``decompress(data,
    max_length)`` / ``eof`` / ``needs_input`` / ``unused_data``) —
    the bz2/lzma shape. Mirrors stdlib ``bz2.decompress`` /
    ``lzma.decompress`` semantics (invalid leftover after at least one
    valid stream is ignored; a truncated stream raises) while keeping
    inflation capped AT ``max_bytes`` — the one-shot stdlib functions
    inflate fully before any size check, which is exactly the bomb
    window this helper closes."""
    out = bytearray()
    data = p
    streams = 0
    while data:
        dec = new_decompressor()
        try:
            while not dec.eof:
                chunk = dec.decompress(data, max_bytes + 1 - len(out))
                out += chunk
                if len(out) > max_bytes:
                    raise ValueError(
                        f"decompressed size exceeds max_bytes={max_bytes}"
                    )
                data = b""
                if not dec.eof and not chunk and dec.needs_input:
                    raise ValueError(f"truncated {name} stream")
        except err_types as ex:
            if streams:
                break  # stdlib semantics: ignore invalid trailing bytes
            raise ValueError(f"bad {name} stream: {ex}") from ex
        streams += 1
        data = dec.unused_data
    return bytes(out)


#: largest read from a decompression stream: a bomb costs at most this
#: much memory past the cap
_READ_CHUNK = 1 << 20

#: the compression envelopes the document router and the archive tier
#: unwrap transparently, by magic prefix
_ENVELOPES = (
    (b"\x1f\x8b", "gzip"),
    (b"BZh", "bz2"),
    (b"\xfd7zXZ\x00", "xz"),
    (b"\x28\xb5\x2f\xfd", "zstd"),
    (b"\x04\x22\x4d\x18", "lz4"),  # lz4 frame
    (b"\x02\x21\x4c\x18", "lz4"),  # lz4 legacy frame
    (b"\xff\x06\x00\x00sNaPpY", "snappy"),  # snappy framing format
)


def bounded_decompress_bytes(p: bytes, codec: str, max_bytes: int) -> bytes:
    """Driver-free single-payload bounded decompression: the one
    primitive behind ``decompress_payload``, the document and
    compressed-tar envelopes, the WARC segment codecs and the Avro /
    SequenceFile zstd codecs.

    gzip (multi-member), zstd and lz4 frames (concatenated and
    skippable frames included) and brotli read pyarrow's decompression
    stream in chunks up to ``max_bytes + 1``, so a bomb costs the cap,
    never its inflated size. bz2 and xz keep the stdlib
    ``decompressobj`` loop. Corrupt, truncated and over-cap input is
    ValueError (the quarantine contract); an empty zstd, lz4 or brotli
    payload is corrupt, an empty gzip, bz2 or xz one inflates to b"".
    zstd dictionary frames are unsupported and raise ValueError."""
    if codec == "bz2":
        import bz2 as _bz2

        return _bounded_multistream_bytes(
            p, _bz2.BZ2Decompressor, (OSError, EOFError), max_bytes, "bz2"
        )
    if codec == "xz":
        import lzma as _lzma

        return _bounded_multistream_bytes(
            p, _lzma.LZMADecompressor, (_lzma.LZMAError,), max_bytes, "xz"
        )
    if codec not in ("gzip", "zstd", "lz4", "brotli"):
        raise NotImplementedError(f"bounded_decompress_bytes: codec {codec!r}")
    import pyarrow as pa

    if not p and codec != "gzip":
        raise ValueError(f"bad {codec} stream: empty payload")
    parts, total = [], 0
    try:
        stream = pa.CompressedInputStream(pa.BufferReader(p), codec)
        while chunk := stream.read(min(_READ_CHUNK, max_bytes + 1 - total)):
            total += len(chunk)
            if total > max_bytes:
                raise ValueError(
                    f"decompressed size exceeds max_bytes={max_bytes}"
                )
            parts.append(chunk)
    except (OSError, pa.ArrowException) as ex:
        raise ValueError(f"bad {codec} stream: {ex}") from ex
    return b"".join(parts)


def sniff_envelope(payload: bytes) -> str | None:
    """The compression envelope ``payload`` starts with, or None."""
    return next((c for m, c in _ENVELOPES if payload.startswith(m)), None)


def unwrap_envelope(payload: bytes, max_bytes: int) -> bytes:
    """Bounded decompression of a payload ``sniff_envelope`` names.
    lz4 goes through ``lz4_frame_decompress`` (legacy frames are decoded
    by hand) and snappy framing through ``snappy_framed_decompress``."""
    codec = sniff_envelope(payload)
    if codec == "lz4":
        from .lz4 import lz4_frame_decompress

        return lz4_frame_decompress(payload, max_bytes)
    if codec == "snappy":
        from .snappy import snappy_framed_decompress

        return snappy_framed_decompress(payload, max_bytes)
    return bounded_decompress_bytes(payload, codec, max_bytes)


def decompress_payload(
    df: DataFrame,
    payload_col: str = "payload",
    codec: str = "gzip",
    on_error: str = "null",
    max_bytes: int = 256 * 1024 * 1024,
    out_col: str | None = None,
) -> DataFrame:
    """Decompress a binary column: crawl stores and API dumps ship
    bodies gzip/zlib/bz2/xz-compressed, and every decoder downstream
    wants the raw bytes.

    Arrow-batched ``mapInPandas`` with the tier's quarantine contract —
    ``on_error="null"`` (default) nulls the corrupt row's output,
    ``"skip"`` drops it, ``"strict"`` aborts. ``max_bytes`` is the
    decompression-bomb guard (the PNG bounded-inflate rule applied to
    payloads): inflation stops AT the cap via streaming decompressors,
    so a 42-byte zip-bomb costs max_bytes of work, not an executor.
    NULL payloads pass through as NULL (absent in, absent out).

    ``codec``: ``"gzip"`` (multi-member streams supported — the WARC
    member layout), ``"zlib"``, ``"raw-deflate"``, ``"bz2"``, ``"xz"``,
    ``"zstd"`` (modern corpora increasingly ship zstd) and ``"brotli"``
    (``Content-Encoding: br`` is ubiquitous in WARC payloads). gzip,
    zstd and brotli decode through pyarrow's bundled libraries; zstd
    dictionary frames are unsupported and quarantine like corruption.
    """
    import zlib as _zlib

    _check_on_error(on_error)
    if max_bytes <= 0:
        raise ValueError(f"max_bytes must be positive, got {max_bytes}")

    def _zlib_one(p: bytes, wbits: int) -> bytes:
        d = _zlib.decompressobj(wbits)
        try:
            chunk = d.decompress(p, max_bytes + 1)
        except _zlib.error as ex:
            raise ValueError(f"bad deflate stream: {ex}") from ex
        if len(chunk) > max_bytes:
            raise ValueError(
                f"decompressed size exceeds max_bytes={max_bytes}"
            )
        if not d.eof:
            raise ValueError("truncated deflate stream")
        return chunk

    if codec == "zlib":
        _one = lambda p: _zlib_one(p, _zlib.MAX_WBITS)  # noqa: E731
    elif codec == "raw-deflate":
        _one = lambda p: _zlib_one(p, -_zlib.MAX_WBITS)  # noqa: E731
    elif codec in ("gzip", "bz2", "xz", "zstd", "brotli"):
        _one = lambda p: bounded_decompress_bytes(  # noqa: E731
            p, codec, max_bytes
        )
    else:
        raise NotImplementedError(
            f"codec {codec!r}: gzip/zlib/raw-deflate/bz2/xz/zstd/brotli "
            "supported"
        )

    target = out_col or payload_col
    schema = df.select(
        *[c for c in df.columns if c != target],
        F.col(payload_col).cast("binary").alias(target),
    ).schema

    cols = [c for c in df.columns if c != target]

    def batches(it: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in it:
            outs = np.empty(len(pdf), dtype=object)
            outs[:] = None
            keep = np.ones(len(pdf), dtype=bool)
            for i, p in enumerate(pdf[payload_col]):
                if p is None:
                    continue
                try:
                    outs[i] = _one(bytes(p))
                except ValueError:
                    if on_error == "strict":
                        raise
                    if on_error == "skip":
                        keep[i] = False
            res = pdf[cols].copy()
            res[target] = pd.Series(outs, index=pdf.index)
            yield res[keep][[f.name for f in schema.fields]]

    return df.mapInPandas(batches, schema)
