"""Archive explosion: zip/tar dumps into one row per member file.

Document dumps rarely arrive as loose files — they arrive as zip,
tar (optionally gz/bz2/xz-compressed), and 7z archives (r9:
:mod:`.sevenzip` — LZMA2/LZMA1/Copy/BZip2 folders, solid archives,
compressed headers). This operator is
the ingestion step AHEAD of the document router: each archive payload
explodes into its member files as ``(doc_id, member_idx, member_name,
payload, n_bytes)`` rows, and ``extract_document_text`` (or the media
lanes) then route each member by its own magic — "a tarball of mixed
PDFs and HTML in, training text out" is two composed calls.

Rules:

* zip via stdlib ``zipfile``; tar via ``tarfile`` over an in-memory
  stream, with the tar bytes first run through the package's bounded
  ``multimodal.unwrap_envelope`` when they carry a gzip/bz2/xz/zstd/
  lz4/snappy envelope (``.tar.gz`` handled without a separate pass);
* directories, links, and zero-byte members are skipped (nothing to
  route); member NAMES pass through untouched — path traversal is a
  non-issue because nothing here touches a filesystem (bytes to bytes);
* zip-bomb guards: declared uncompressed sizes are summed and bounded
  BEFORE any member is read, each member reads through a capped
  stream, and member counts are bounded;
* nested archives are NOT recursed (a member that is itself a zip
  emerges as that zip's bytes — re-apply the operator if a dump nests,
  which keeps every explosion's cost visible in the plan);
* encrypted members decrypt when ``password=...`` is given (r11):
  traditional PKWARE ZipCrypto through the stdlib's native support,
  WinZip AES (AE-1/AE-2, method 99) from the published spec
  (PBKDF2-HMAC-SHA1 key material, AES-CTR over the repo's FIPS-197
  ECB, encrypt-then-MAC HMAC-SHA1 tag, 2-byte verifier for the named
  wrong-password failure), and 7zAES per :mod:`.sevenzip`; without a
  password, encrypted members raise the named NotImplementedError
  quarantine.

No reference counterpart; LLM-pipeline extension tier (SURVEY.md §2
Tier C).
"""

from __future__ import annotations

import io
import tarfile
import zipfile
import zlib

_MAX_MEMBERS = 1 << 20
_MAX_TOTAL = 1 << 31  # 2 GiB declared-uncompressed bound per archive
_MAX_MEMBER = 512 << 20

#: WinZip AES (compression method 99) strength byte -> AES key bytes;
#: salt is half the key length per the published AE-1/AE-2 spec.
_WZ_AES_KEYLEN = {1: 16, 2: 24, 3: 32}
_WZ_AES_METHOD = 99
_WZ_AES_EXTRA_ID = 0x9901
_WZ_PBKDF2_ITERS = 1000


def _winzip_aes_extra(info) -> tuple[int, int] | None:
    """(strength, actual_method) from the 0x9901 extra field, or None."""
    extra = info.extra or b""
    at = 0
    while at + 4 <= len(extra):
        eid, esz = int.from_bytes(extra[at:at + 2], "little"), int.from_bytes(
            extra[at + 2:at + 4], "little"
        )
        if eid == _WZ_AES_EXTRA_ID and esz >= 7:
            body = extra[at + 4 : at + 4 + esz]
            strength = body[4]
            method = int.from_bytes(body[5:7], "little")
            return strength, method
        at += 4 + esz
    return None


def _zip_raw_member_bytes(payload: bytes, info) -> bytes:
    """The member's stored bytes straight from the local file record
    (zipfile exposes only its own decryption; WinZip-AES needs raw)."""
    off = info.header_offset
    if payload[off : off + 4] != b"PK\x03\x04":
        raise ValueError("zip local header signature missing")
    fnlen = int.from_bytes(payload[off + 26 : off + 28], "little")
    exlen = int.from_bytes(payload[off + 28 : off + 30], "little")
    start = off + 30 + fnlen + exlen
    end = start + info.compress_size
    if end > len(payload):
        raise ValueError("zip member data escapes the payload")
    return payload[start:end]


def _winzip_aes_decrypt(payload: bytes, info, password: str) -> bytes:
    """Decrypt + decompress one WinZip-AES member (the published AE-1/
    AE-2 layout): salt ‖ 2-byte password verifier ‖ ciphertext ‖ 10-byte
    HMAC-SHA1 tag. Key material = PBKDF2-HMAC-SHA1(password, salt, 1000
    iters) split as (AES key, HMAC key, verifier); cipher = AES-CTR
    with a little-endian block counter starting at 1 (encrypt == decrypt
    in CTR, so the repo's FIPS-197 ECB-encrypt is the whole primitive);
    the tag authenticates the CIPHERTEXT (encrypt-then-MAC)."""
    import hashlib
    import hmac as hmac_mod

    from .pdf_crypt import aes_ecb_encrypt

    parsed = _winzip_aes_extra(info)
    if parsed is None:
        raise ValueError("zip AES member missing its 0x9901 extra field")
    strength, method = parsed
    keylen = _WZ_AES_KEYLEN.get(strength)
    if keylen is None:
        raise ValueError(f"zip AES strength byte {strength} invalid")
    raw = _zip_raw_member_bytes(payload, info)
    saltlen = keylen // 2
    if len(raw) < saltlen + 2 + 10:
        raise ValueError("zip AES member data truncated")
    salt = raw[:saltlen]
    verifier = raw[saltlen : saltlen + 2]
    ct = raw[saltlen + 2 : -10]
    tag = raw[-10:]
    material = hashlib.pbkdf2_hmac(
        "sha1", password.encode("utf-8"), salt, _WZ_PBKDF2_ITERS,
        dklen=2 * keylen + 2,
    )
    aes_key = material[:keylen]
    mac_key = material[keylen : 2 * keylen]
    if material[2 * keylen :] != verifier:
        raise ValueError("zip decrypt failed: wrong password")
    want = hmac_mod.new(mac_key, ct, hashlib.sha1).digest()[:10]
    if not hmac_mod.compare_digest(want, tag):
        raise ValueError("zip AES authentication failed (corrupt member)")
    # AES-CTR keystream: 16-byte little-endian counter starting at 1
    n_blocks = (len(ct) + 15) // 16
    counters = b"".join(
        (i + 1).to_bytes(16, "little") for i in range(n_blocks)
    )
    stream = aes_ecb_encrypt(aes_key, counters)[: len(ct)]
    data = bytes(a ^ b for a, b in zip(ct, stream))
    if method == 0:  # stored
        out = data
    elif method == 8:  # deflate (raw)
        d = zlib.decompressobj(-15)
        try:
            out = d.decompress(data, _MAX_MEMBER + 1)
        except zlib.error as exc:
            raise ValueError(f"zip AES member corrupt: {exc}")
    else:
        raise NotImplementedError(
            f"zip AES member compression method {method} is a plug-in "
            "point (stored/deflate decode)"
        )
    return out


def _zip_members(payload: bytes, password: str | None = None):
    try:
        zf = zipfile.ZipFile(io.BytesIO(payload))
    except zipfile.BadZipFile as exc:
        raise ValueError(f"zip archive malformed: {exc}")
    infos = zf.infolist()
    if len(infos) > _MAX_MEMBERS:
        raise ValueError(f"archive member count exceeds the bound ({_MAX_MEMBERS})")
    total = 0
    for info in infos:
        total += info.file_size
        if total > _MAX_TOTAL:
            raise ValueError("archive declared size exceeds the bound")
    pwd = password.encode("utf-8") if password is not None else None
    for info in infos:
        if info.is_dir() or info.file_size == 0:
            continue
        encrypted = bool(info.flag_bits & 0x1)
        if info.compress_type == _WZ_AES_METHOD:
            # WinZip AES (r11): stdlib zipfile cannot decrypt it
            if password is None:
                raise NotImplementedError(
                    "zip AES-encrypted member "
                    f"{info.filename!r}: pass password=... to decrypt"
                )
            data = _winzip_aes_decrypt(payload, info, password)
            if len(data) > _MAX_MEMBER:
                raise ValueError("archive member exceeds the member bound")
            yield info.filename, data
            continue
        if encrypted and password is None:
            raise NotImplementedError(
                "zip encrypted member "
                f"{info.filename!r}: pass password=... to decrypt"
            )
        try:
            # stdlib zipfile implements traditional PKWARE (ZipCrypto)
            # decryption natively when pwd is given (r11)
            with zf.open(info, pwd=pwd if encrypted else None) as fh:
                data = fh.read(_MAX_MEMBER + 1)
        except RuntimeError as exc:
            # zipfile raises RuntimeError("Bad password ...") on a
            # ZipCrypto verifier mismatch
            raise ValueError(f"zip decrypt failed: {exc}")
        except (zipfile.BadZipFile, zlib.error, OSError, EOFError) as exc:
            raise ValueError(f"archive member corrupt: {exc}")
        if len(data) > _MAX_MEMBER:
            raise ValueError("archive member exceeds the member bound")
        yield info.filename, data


def _tar_members(payload: bytes):
    from .multimodal import sniff_envelope, unwrap_envelope

    if sniff_envelope(payload):
        # streaming bounded inflate capped AT _MAX_TOTAL — the one-shot
        # gzip/bz2/lzma.decompress functions inflate fully BEFORE any
        # size check, so a small bz2/xz bomb (>10^4:1 ratios) would
        # exhaust executor memory ahead of the guard; the shared
        # bounded primitive closes that window for every envelope.
        try:
            payload = unwrap_envelope(payload, _MAX_TOTAL)
        except ValueError as exc:
            raise ValueError(f"compressed tar envelope corrupt: {exc}")
    try:
        tf = tarfile.open(fileobj=io.BytesIO(payload), mode="r:")
    except tarfile.TarError as exc:
        raise ValueError(f"tar archive malformed: {exc}")
    count = 0
    total = 0
    for member in tf:
        count += 1
        if count > _MAX_MEMBERS:
            raise ValueError(f"archive member count exceeds the bound ({_MAX_MEMBERS})")
        if not member.isfile() or member.size == 0:
            continue
        total += member.size
        if total > _MAX_TOTAL:
            raise ValueError("archive declared size exceeds the bound")
        fh = tf.extractfile(member)
        if fh is None:
            continue
        data = fh.read(_MAX_MEMBER + 1)
        if len(data) > _MAX_MEMBER:
            raise ValueError("archive member exceeds the member bound")
        yield member.name, data


def archive_members(payload: bytes, password: str | None = None):
    """Yield ``(name, bytes)`` for each regular member; ValueError on
    anything that is not a zip / tar / compressed tar / 7z.
    ``password`` (r11) decrypts 7zAES archives (including encrypted
    headers); zip-crypto is a separate, unimplemented scheme."""
    if payload[:2] == b"PK":
        yield from _zip_members(payload, password=password)
        return
    if payload[:6] == b"7z\xbc\xaf\x27\x1c":
        from .sevenzip import sevenzip_members

        total = 0
        count = 0
        for name, data in sevenzip_members(payload, password=password):
            count += 1
            if count > _MAX_MEMBERS:
                raise ValueError(
                    f"archive member count exceeds the bound ({_MAX_MEMBERS})"
                )
            total += len(data)
            if total > _MAX_TOTAL or len(data) > _MAX_MEMBER:
                raise ValueError("archive declared size exceeds the bound")
            yield name, data
        return
    from .multimodal import sniff_envelope

    if sniff_envelope(payload) or payload[257:262] == b"ustar":
        yield from _tar_members(payload)
        return
    raise ValueError("payload is neither a zip nor a (compressed) tar nor a 7z")


def explode_archive(
    df,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    on_error: str = "skip",
    password: str | None = None,
):
    """Spark lane (one-to-many): archive payloads -> one row per member
    ``(doc_id, member_idx, member_name, payload, n_bytes)``. An
    unreadable ARCHIVE yields zero rows under "skip" (default) or
    aborts under "strict"; member reads are all-or-nothing per archive
    (a lying member bound fails that archive, not the job, under
    "skip"). ``password`` (r11) decrypts 7zAES archives in the batch;
    a corpus-wide known password is the realistic shape (per-row
    passwords belong to a pre-join against a credential table)."""
    from collections.abc import Iterable, Iterator

    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        BinaryType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from .multimodal import _check_on_error

    _check_on_error(on_error, allowed=("skip", "strict"))
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("member_idx", IntegerType()),
            StructField("member_name", StringType()),
            StructField("payload", BinaryType()),
            StructField("n_bytes", LongType()),
        ]
    )
    narrow = df.select(
        F.col(id_col).alias("doc_id"), F.col(payload_col).alias("payload")
    ).where(F.col("payload").isNotNull())

    def batches(it: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, idxs, names, blobs, sizes = [], [], [], [], []
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    members = list(
                        archive_members(bytes(p), password=password)
                    )
                except ValueError:
                    if on_error == "strict":
                        raise
                    continue
                for i, (name, data) in enumerate(members):
                    ids.append(doc_id)
                    idxs.append(i)
                    names.append(name)
                    blobs.append(data)
                    sizes.append(len(data))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "member_idx": pd.Series(idxs, dtype="int32"),
                    "member_name": pd.Series(names, dtype="object"),
                    "payload": pd.Series(blobs, dtype="object"),
                    "n_bytes": pd.Series(sizes, dtype="int64"),
                }
            )

    return narrow.mapInPandas(batches, schema)
