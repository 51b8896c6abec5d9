"""Unified document text extraction: one lane for a mixed corpus.

A real document dump is heterogeneous — PDFs beside DOCX beside EPUB
beside saved HTML beside plain text, all in one payload column. This
module routes EACH ROW to the right extractor (the media tier's
``codec="auto"`` pattern applied to documents):

* ``%PDF-`` -> :func:`..operators.pdf._pdf_extract_text`;
* zip (``PK``) -> inspected ONCE for its defining member —
  ``word/document.xml`` -> DOCX, ``xl/workbook.xml`` -> XLSX,
  ``ppt/presentation.xml`` -> PPTX, ``META-INF/container.xml`` ->
  EPUB, ``content.xml`` -> ODT
  (a zip prefix alone is ambiguous, so document sniffing reads the
  central directory, unlike the media sniffer's pure-prefix rule —
  documented divergence, still O(directory) not O(content));
* OLE2 magic (``D0 CF 11 E0``) -> refined by directory stream names:
  ``.doc`` (:mod:`.ole2` — CFB walk + Word piece table), ``.xls``
  (:mod:`.xls` — BIFF8 SST/cells/formula results), ``.ppt``
  (:mod:`.ppt` — text atoms); encrypted OOXML quarantines by name;
* an ``<html`` / ``<!doctype html`` marker in the first 512 bytes ->
  the jusText block extractor (:mod:`.boilerplate`);
* a ``WEBVTT`` header -> WebVTT captions, an SRT first-cue shape
  (number + ``-->`` timing line) -> SubRip captions, a JSON object
  carrying ``"cells"`` -> Jupyter notebook (:mod:`.captions`);
* an mbox ``From `` envelope or >= 2 RFC 5322 header lines -> email
  (:mod:`.email_text`; mailboxes linearize here — use
  ``explode_mbox`` for the one-row-per-message shape);
* a Unicode BOM -> decoded via the charset chain, then classed html
  vs plain text (a UTF-16 .txt — the Windows default export — is a
  document, not a quarantine);
* strict-UTF-8-decodable bytes -> plain text, passed through;
* remaining byte strings run the legacy-charset chain
  (:mod:`.charset`): BOM-less UTF-16 heuristic, then the WHATWG
  windows-1252 fallback gated on control-character ratio — legacy
  single-byte text extracts, binary junk still quarantines;
* anything else quarantines per ``on_error``.

Declared charsets (HTTP Content-Type labels a source captured) enter
via ``extract_document_text(charset_col=...)`` and take effect in the
txt/html lanes between the BOM and the UTF-8 probe; a declared label
whose bytes don't decode strictly under it falls through the chain
(the mismatch policy pinned in tests/test_charset.py).

Output is ONE schema for every format: ``(doc_id, doc_format, text,
n_units, n_chars)`` — ``n_units`` is pages (pdf), paragraphs
(docx/odt/rtf), chapters (epub), good blocks (html), cues (srt/vtt),
cells (ipynb), messages (mbox), parts (eml), 1 (txt). The text column is the
text tier's input; a mixed million-document dump becomes training
text in a single ``extract_document_text`` call composed with
clean_corpus -> dedup -> chunk.

No reference counterpart; LLM-pipeline extension tier (SURVEY.md §2
Tier C).
"""

from __future__ import annotations

import io
import re
import zipfile

DOCUMENT_FORMATS = (
    "pdf", "docx", "xlsx", "pptx", "doc", "xls", "ppt", "ooxml_enc",
    "msg", "odt", "ods", "odp", "epub", "html", "rtf", "tex", "srt",
    "vtt", "ipynb", "eml", "mbox", "txt",
)


#: inflation bound of one compression envelope (mixed dumps ship
#: .html.gz / .json.xz wholesale, .jsonl.zst is the shipping format of
#: the modern public corpora, .lz4 and snappy-framed .sz come out of
#: Kafka/Hadoop-era exports; ``multimodal.sniff_envelope`` has the
#: magic table); tar payloads stay with explode_archive — an envelope
#: whose CONTENT is a tar is an archive, not a document
_ENVELOPE_MAX = 256 << 20


def _unwrap_envelope(payload: bytes) -> bytes:
    """Bounded decompression of a compression envelope through the
    shared ``multimodal.unwrap_envelope`` (a bomb costs the cap, not an
    executor; corruption is ValueError)."""
    from .multimodal import unwrap_envelope

    return unwrap_envelope(payload, _ENVELOPE_MAX)


_MAX_ENVELOPE_DEPTH = 3


def sniff_document(payload: bytes, _depth: int = 0) -> str:
    """Identify a document payload's format (see module doc). ValueError
    on unrecognized payloads. Compressed envelopes report the INNER
    format prefixed ``gz:`` — callers route through ``_extract_one``,
    which unwraps once. Nesting is bounded: a deeper-than-3 envelope
    chain is a crafted payload, not a document (and unbounded recursion
    would escape the quarantine contract as RecursionError)."""
    from .multimodal import sniff_envelope

    if sniff_envelope(payload):
        if _depth >= _MAX_ENVELOPE_DEPTH:
            raise ValueError(
                "compression envelopes nested deeper than the bound"
            )
        inner = _unwrap_envelope(payload)
        if inner[257:262] == b"ustar":
            raise ValueError(
                "compressed tar payload: route via explode_archive"
            )
        return "gz:" + sniff_document(inner, _depth + 1)
    # container formats with their own readers: NAME the right lane
    # (the tar-redirect pattern) instead of "unrecognized"
    if payload.startswith(b"Obj\x01"):
        raise ValueError(
            "avro object container: route via sources.avro.read_avro"
        )
    if payload.startswith(b"SEQ"):
        raise ValueError(
            "hadoop sequencefile: route via "
            "sources.seqfile.read_sequencefile"
        )
    if payload.startswith(b"ARROW1"):
        raise ValueError(
            "arrow ipc file: route via sources.arrow_ipc.read_arrow_ipc"
        )
    if payload.startswith(b"%PDF-"):
        return "pdf"
    if payload.startswith(b"PK"):
        try:
            zf = zipfile.ZipFile(io.BytesIO(payload))
            names = set(zf.namelist())
        except zipfile.BadZipFile:
            raise ValueError("zip-prefixed payload is not a readable archive")
        if "word/document.xml" in names:
            return "docx"
        if "xl/workbook.xml" in names:
            return "xlsx"
        if "ppt/presentation.xml" in names:
            return "pptx"
        if "META-INF/container.xml" in names:
            return "epub"
        if "content.xml" in names:
            # the ODF family: the mimetype member names the flavor
            mt = b""
            if "mimetype" in names:
                try:
                    with zf.open("mimetype") as fh:
                        mt = fh.read(256)
                except Exception:
                    mt = b""
            if b"spreadsheet" in mt:
                return "ods"
            if b"presentation" in mt:
                return "odp"
            return "odt"
        raise ValueError("zip archive is not DOCX/XLSX/PPTX/EPUB/ODF")
    if payload.startswith(b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"):
        # OLE2 compound file: refined by DIRECTORY stream names (the
        # zip central-directory precedent — O(directory), no stream
        # content read); encrypted OOXML keeps the .doc lane's named
        # quarantine
        from .ole2 import cfb_stream_names

        names = set(cfb_stream_names(payload))
        if "WordDocument" in names:
            return "doc"
        if "Workbook" in names or "Book" in names:
            return "xls"
        if "PowerPoint Document" in names:
            return "ppt"
        if "EncryptionInfo" in names and "EncryptedPackage" in names:
            # ECMA-376 encrypted OOXML: decryptable under the no-secret
            # profile (empty password / VelvetSweatshop), then re-routed
            return "ooxml_enc"
        if "__properties_version1.0" in names or any(
            n.startswith("__substg1.0_") for n in names
        ):
            return "msg"  # Outlook message (MS-OXMSG property streams)
        return "doc"  # unknown OLE2: the .doc lane names what it found
    if payload.startswith(b"{\\rtf"):
        return "rtf"
    head = payload[:512].lower()
    if b"<html" in head or b"<!doctype html" in head:
        return "html"
    if payload.lstrip()[:6] == b"WEBVTT" or payload[:9] == b"\xef\xbb\xbfWEBVTT":
        return "vtt"
    # SRT: a cue number line then an HH:MM:SS,mmm --> timing line
    if re.match(
        rb"^\s*\d+\s*\r?\n\s*\d{1,2}:\d{2}:\d{2},\d{3}\s*-->", payload[:64]
    ):
        return "srt"
    if payload.lstrip()[:1] == b"{" and b'"cells"' in payload[:4096]:
        return "ipynb"
    # A Unicode BOM names the encoding outright (UTF-16 .txt is the
    # Windows default export); decode once to see whether it's marked-up
    # HTML or plain text — the byte-level <html sniff above can't see
    # into UTF-16/32.
    from .charset import decode_text, is_texty, sniff_bom

    if sniff_bom(payload) is not None:
        head = decode_text(payload)[0][:512]
        low = head.lower()
        if "<html" in low or "<!doctype html" in low:
            return "html"
        if head.lstrip().startswith("WEBVTT"):
            return "vtt"
        if re.match(r"^\s*\d+\s*\r?\n\s*\d{1,2}:\d{2}:\d{2},\d{3}\s*-->", head):
            return "srt"
        return "txt"
    from .email_text import looks_like_email

    # Email first: a message merely QUOTING LaTeX markup must stay an
    # email, not be routed to detex (advice r9).
    if looks_like_email(payload):
        return "mbox" if payload.startswith(b"From ") else "eml"
    # LaTeX source (arXiv dumps): markers anchored to line starts so a
    # plain-text file discussing \documentclass mid-line passes through
    # as txt instead of being detex-mangled.
    if re.search(
        rb"(?m)^[ \t]*\\documentclass|^[ \t]*\\begin\{document\}",
        payload[:4096],
    ):
        return "tex"
    try:
        payload.decode("utf-8", errors="strict")
        return "txt"
    except UnicodeDecodeError:
        pass
    # Legacy-charset plain text: the BOM-less UTF-16 heuristic, the
    # r11 legacy-encoding sniffer, and the WHATWG windows-1252
    # fallback, gated on the control-character ratio so binary junk
    # still quarantines.
    text, _enc, src = decode_text(payload)
    if src in ("utf-16-heuristic", "sniffed", "fallback") and is_texty(text):
        return "txt"
    raise ValueError("unrecognized document payload")


def _extract_one(fmt: str, payload: bytes, declared_charset=None,
                 html_markdown: bool = False):
    """(text, n_units) via the format's extractor. ``declared_charset``
    (an HTTP/container-level charset label) feeds the txt/html decode
    chain; structured formats carry their own encoding rules.
    ``html_markdown`` renders the html lane through the structure-
    preserving markdown extractor instead of the flat jusText text."""
    if fmt.startswith("gz:"):
        return _extract_one(
            fmt[3:], _unwrap_envelope(payload), declared_charset,
            html_markdown,
        )
    if fmt == "pdf":
        from .pdf import _pdf_extract_text

        return _pdf_extract_text(payload)
    if fmt == "docx":
        from .docx import _docx_extract_text

        return _docx_extract_text(payload)
    if fmt == "doc":
        from .ole2 import _doc_extract_text

        return _doc_extract_text(payload)
    if fmt == "xls":
        from .xls import _xls_extract_text

        return _xls_extract_text(payload)
    if fmt == "xlsx":
        from .ooxml import _xlsx_extract_text

        return _xlsx_extract_text(payload)
    if fmt == "pptx":
        from .ooxml import _pptx_extract_text

        return _pptx_extract_text(payload)
    if fmt == "ooxml_enc":
        from .offcrypto import decrypt_ooxml

        inner = decrypt_ooxml(payload)
        return _extract_one(sniff_document(inner), inner)
    if fmt == "tex":
        from .latex import _latex_extract_text

        return _latex_extract_text(payload)
    if fmt == "msg":
        from .msg import _msg_extract_text

        return _msg_extract_text(payload)
    if fmt == "ppt":
        from .ppt import _ppt_extract_text

        return _ppt_extract_text(payload)
    if fmt == "odt":
        from .odt import _odt_extract_text

        return _odt_extract_text(payload)
    if fmt == "ods":
        from .odt import _ods_extract_text

        return _ods_extract_text(payload)
    if fmt == "odp":
        from .odt import _odp_extract_text

        return _odp_extract_text(payload)
    if fmt == "epub":
        from .epub import _epub_extract_text

        return _epub_extract_text(payload)
    if fmt in ("srt", "vtt"):
        from .captions import _captions_extract_text

        text, n_cues, _span = _captions_extract_text(payload)
        return text, n_cues
    if fmt == "ipynb":
        from .captions import _ipynb_extract_text

        return _ipynb_extract_text(payload)
    if fmt == "rtf":
        from .rtf import _rtf_extract_text

        return _rtf_extract_text(payload)
    if fmt == "eml":
        from .email_text import _eml_extract_text

        text, n_parts, _s, _f, _d = _eml_extract_text(payload)
        return text, n_parts
    if fmt == "mbox":
        from .email_text import _eml_extract_text, _mbox_messages

        texts = []
        for m in _mbox_messages(payload):
            try:
                texts.append(_eml_extract_text(m)[0])
            except ValueError:
                continue  # a broken message loses itself only
        if not texts:
            raise ValueError("mbox contains no extractable messages")
        return "\f".join(texts), len(texts)
    if fmt == "html":
        from .charset import decode_text

        decoded = decode_text(payload, declared_charset, html=True)[0]
        if html_markdown:
            from .html_md import html_to_markdown

            text, _nb, n_good = html_to_markdown(decoded)
        else:
            from .boilerplate import _extract_main

            text, _nb, n_good = _extract_main(decoded)
        return text, n_good
    if fmt == "txt":
        from .charset import decode_text, is_texty

        text, _enc, src = decode_text(payload, declared_charset)
        if src in (
            "utf-16-heuristic", "sniffed", "fallback"
        ) and not is_texty(text):
            raise ValueError("binary payload is not decodable text")
        return text, 1
    raise ValueError(f"document format {fmt!r} not extractable")


def extract_document_text(
    df,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    codec: str = "auto",
    on_error: str = "null",
    passthrough_cols: tuple = (),
    charset_col: str | None = None,
    html_markdown: bool = False,
):
    """Spark lane: mixed document payloads -> ``(doc_id, doc_format,
    text, n_units, n_chars)``. ``codec="auto"`` sniffs per row; naming
    a format skips the sniff (and rows of other formats then fail into
    the quarantine path). ``passthrough_cols`` ride the Arrow batch
    untouched and append to the output schema — the adapter hook that
    keeps compositions (e.g. WARC url/source columns) exchange-free
    instead of re-joining on doc_id. ``charset_col`` names a nullable
    string column carrying a per-row declared charset label (e.g. the
    HTTP Content-Type parameter a WARC adapter captured); it feeds the
    txt/html decode chain (operators/charset.py) and is consumed, not
    emitted. ``html_markdown=True`` renders html rows through the
    structure-preserving markdown extractor (operators/html_md.py) —
    the markdown-shaped training-text option, same schema."""
    from collections.abc import Iterable, Iterator

    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from .multimodal import _check_on_error

    if codec != "auto" and codec not in DOCUMENT_FORMATS:
        raise NotImplementedError(
            f"document codec {codec!r} not available; supported: "
            f"{DOCUMENT_FORMATS} plus 'auto'"
        )
    _check_on_error(on_error)
    passthrough_cols = tuple(passthrough_cols)
    reserved = {"doc_id", "doc_format", "text", "n_units", "n_chars", "payload", "_charset"}
    for c in passthrough_cols:
        if c in reserved:
            raise ValueError(f"passthrough column {c!r} collides with the output schema")
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("doc_format", StringType()),
            StructField("text", StringType()),
            StructField("n_units", IntegerType()),
            StructField("n_chars", LongType()),
        ]
        + [df.schema[c] for c in passthrough_cols]
    )
    narrow = df.select(
        F.col(id_col).alias("doc_id"),
        F.col(payload_col).alias("payload"),
        *([F.col(charset_col).alias("_charset")] if charset_col else []),
        *[F.col(c) for c in passthrough_cols],
    ).where(F.col("payload").isNotNull())

    def batches(it: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, fmts, texts, nus, ncs = [], [], [], [], []
            keep_idx = []
            charsets = (
                pdf["_charset"] if charset_col else [None] * len(pdf)
            )
            for row_i, (doc_id, p, declared) in enumerate(
                zip(pdf["doc_id"], pdf["payload"], charsets)
            ):
                raw = bytes(p)
                try:
                    fmt = sniff_document(raw) if codec == "auto" else codec
                    text, n_units = _extract_one(
                        fmt, raw, declared, html_markdown
                    )
                except (ValueError, NotImplementedError, UnicodeDecodeError):
                    if on_error == "strict":
                        raise
                    if on_error == "skip":
                        continue
                    fmt, text, n_units = None, None, None
                ids.append(doc_id)
                fmts.append(fmt)
                texts.append(text)
                nus.append(n_units)
                ncs.append(None if text is None else len(text))
                keep_idx.append(row_i)
            out = {
                "doc_id": pd.Series(ids, dtype="int64"),
                "doc_format": pd.Series(fmts, dtype="object"),
                "text": pd.Series(texts, dtype="object"),
                "n_units": pd.Series(nus, dtype="Int32"),
                "n_chars": pd.Series(ncs, dtype="Int64"),
            }
            for c in passthrough_cols:
                out[c] = pdf[c].iloc[keep_idx].reset_index(drop=True)
            yield pd.DataFrame(out)

    return narrow.mapInPandas(batches, schema)
