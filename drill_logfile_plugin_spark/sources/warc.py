"""WARC source: ingest web-archive files (the Common Crawl container).

The reference plugin reads regex-structured log lines; the training-data
extension of that idea is the crawl archive itself — WARC (ISO 28500),
the record-structured format Common Crawl, Internet Archive, and every
serious crawler emit. One WARC record = a CRLF-terminated header block
(``WARC/1.x`` version line + ``Name: value`` fields including
``Content-Length``), two CRLFs, ``Content-Length`` payload bytes, two
CRLFs. ``response`` records carry a full HTTP response as payload —
status line, HTTP headers, body — and the body is what a pipeline wants.

Spark shape
-----------
``read_warc`` maps ``binaryFile`` scans through one Arrow-batched
``mapInPandas``: one task per WARC file, records exploded to rows
``(warc_type, url, warc_date, content_type, http_status, body, n_bytes)``.
That per-FILE parallelism is exactly how WARC is deployed at scale:
Common Crawl ships ~1 GB ``.warc.gz`` segments BY THE THOUSANDS, so the
unit of parallelism is the segment file — each gzip member must be
decompressed sequentially anyway (the format's own constraint, not
this reader's; the segment inventory is the split inventory).
``.warc.gz`` per-record gzip members (the Common Crawl convention —
each record its own member, members concatenated) and ``.warc.zst``
segments decompress with one bounded streaming pass through pyarrow
(zstd dictionary frames are unsupported: such a segment is corrupt);
plain ``.warc`` parses directly.

Dirty-archive posture (the ``on_error`` quarantine convention): a
malformed record header or a lying Content-Length raises ValueError
under ``on_error="strict"``; the default ``"skip"`` drops the broken
TAIL of that file (framing is byte-offset-chained, so nothing after a
bad length can be trusted) while keeping every record already parsed —
one corrupt segment never fails the 100 TB job.

Composes with the crawl-hygiene tier: ``read_warc`` → filter
``warc_type = 'response'`` → ``strip_html(body)`` →
``canonical_url(url)`` → ``pipeline.ingest_increment``.
"""

from __future__ import annotations

from typing import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

#: inflation bound per WARC file (a segment is ~1 GiB compressed; the
#: bound caps a crafted bomb, not a real crawl file)
_MAX_WARC_FILE = 8 << 30

WARC_SCHEMA = StructType(
    [
        StructField("path", StringType()),
        StructField("record_no", LongType()),
        StructField("warc_type", StringType()),
        StructField("url", StringType()),
        StructField("warc_date", StringType()),
        StructField("content_type", StringType()),
        StructField("http_content_type", StringType()),
        StructField("http_status", IntegerType()),
        StructField("body", BinaryType()),
        StructField("n_bytes", LongType()),
    ]
)


def _parse_http_payload(payload: bytes):
    """Split an HTTP-response payload into (status, content_type, body).
    ``content_type`` is the HTTP Content-Type header verbatim — the
    carrier of the server-declared charset the text adapters decode by.
    A payload that doesn't start with HTTP/ is returned whole with
    status/content_type None (WARC allows raw payloads; resource
    records carry the object directly)."""
    if not payload.startswith(b"HTTP/"):
        return None, None, payload
    sep = payload.find(b"\r\n\r\n")
    if sep < 0:
        return None, None, payload
    head = payload[:sep].decode("latin-1", "replace")
    lines = head.split("\r\n")
    status_line = lines[0].split()
    status = None
    if len(status_line) >= 2 and status_line[1].isdigit():
        status = int(status_line[1])
    ctype = None
    for ln in lines[1:]:
        if ln.lower().startswith("content-type:"):
            ctype = ln.split(":", 1)[1].strip()
            break
    return status, ctype, payload[sep + 4 :]


def parse_warc_records(data: bytes):
    """Yield ``(warc_type, url, date, content_type, status, body)`` per
    record of a decompressed WARC stream. Raises ValueError at the first
    malformed framing — the caller decides skip-tail vs strict."""
    pos = 0
    n = len(data)
    while pos < n:
        # tolerate inter-record CRLF padding
        while pos < n and data[pos : pos + 2] == b"\r\n":
            pos += 2
        if pos >= n:
            return
        end = data.find(b"\r\n\r\n", pos)
        if end < 0:
            raise ValueError("WARC record header not terminated")
        header = data[pos:end].decode("latin-1", "replace")
        lines = header.split("\r\n")
        if not lines[0].startswith("WARC/"):
            raise ValueError(
                f"expected WARC/x.y version line, got {lines[0][:40]!r}"
            )
        fields: dict[str, str] = {}
        for ln in lines[1:]:
            if ":" in ln:
                k, v = ln.split(":", 1)
                fields[k.strip().lower()] = v.strip()
        try:
            length = int(fields["content-length"])
        except (KeyError, ValueError):
            raise ValueError("WARC record missing a valid Content-Length")
        body_start = end + 4
        if body_start + length > n:
            raise ValueError(
                "WARC Content-Length runs past the end of the stream"
            )
        payload = data[body_start : body_start + length]
        status, http_ctype, body = _parse_http_payload(payload)
        yield (
            fields.get("warc-type"),
            fields.get("warc-target-uri"),
            fields.get("warc-date"),
            fields.get("content-type"),
            http_ctype,
            status,
            body,
        )
        pos = body_start + length


def read_warc(
    spark: SparkSession,
    path: str,
    on_error: str = "skip",
    path_glob: str | None = None,
) -> DataFrame:
    """Read WARC / WARC.gz files under ``path`` to one row per record
    (schema :data:`WARC_SCHEMA`). See the module doc for the parallelism
    and error contracts."""
    if on_error not in ("skip", "strict"):
        raise ValueError(
            f"on_error must be 'skip' or 'strict', got {on_error!r}"
        )
    reader = spark.read.format("binaryFile")
    if path_glob:
        reader = reader.option("pathGlobFilter", path_glob)
    files = reader.load(path).select("path", "content")

    def parse_batches(
        batches: Iterable[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k.name: [] for k in WARC_SCHEMA.fields}
            for fpath, blob in zip(pdf["path"], pdf["content"]):
                data = bytes(blob)
                # .warc.gz (multi-member, the Common Crawl layout) and
                # .warc.zst (newer archive crawls) inflate in one
                # bounded pass, so a bomb costs the cap; corruption
                # follows the skip/strict contract
                codec = (
                    "gzip" if data[:2] == b"\x1f\x8b"
                    else "zstd" if data[:4] == b"\x28\xb5\x2f\xfd"
                    else None
                )
                if codec:
                    from ..operators.multimodal import (
                        bounded_decompress_bytes,
                    )

                    try:
                        data = bounded_decompress_bytes(
                            data, codec, _MAX_WARC_FILE
                        )
                    except ValueError as ex:
                        if on_error == "strict":
                            raise ValueError(f"{fpath}: {ex}") from ex
                        continue
                rec_no = 0
                gen = parse_warc_records(data)
                while True:
                    try:
                        rec = next(gen)
                    except StopIteration:
                        break
                    except ValueError:
                        if on_error == "strict":
                            raise
                        break  # framing broken: drop the untrusted tail
                    wtype, url, date, ctype, http_ct, status, body = rec
                    out["path"].append(fpath)
                    out["record_no"].append(rec_no)
                    out["warc_type"].append(wtype)
                    out["url"].append(url)
                    out["warc_date"].append(date)
                    out["content_type"].append(ctype)
                    out["http_content_type"].append(http_ct)
                    out["http_status"].append(status)
                    out["body"].append(body)
                    out["n_bytes"].append(len(body))
                    rec_no += 1
            yield pd.DataFrame(
                {
                    "path": pd.Series(out["path"], dtype="object"),
                    "record_no": pd.Series(out["record_no"], dtype="int64"),
                    "warc_type": pd.Series(out["warc_type"], dtype="object"),
                    "url": pd.Series(out["url"], dtype="object"),
                    "warc_date": pd.Series(out["warc_date"], dtype="object"),
                    "content_type": pd.Series(
                        out["content_type"], dtype="object"
                    ),
                    "http_content_type": pd.Series(
                        out["http_content_type"], dtype="object"
                    ),
                    "http_status": pd.Series(
                        out["http_status"], dtype="object"
                    ),
                    "body": pd.Series(out["body"], dtype="object"),
                    "n_bytes": pd.Series(out["n_bytes"], dtype="int64"),
                }
            )

    return files.mapInPandas(parse_batches, WARC_SCHEMA)


def wet_documents(warc: DataFrame, decode_audit: bool = False) -> DataFrame:
    """The WET twin of :func:`warc_documents`: Common Crawl's .wet.gz
    files carry ``conversion`` records whose payload is ALREADY extracted
    plain text (no HTTP envelope, no markup), so the adapter is URL
    canonicalization + decode: UTF-8 by spec, with the BOM/declared
    rungs of the charset chain honored (a converted page keeps its
    exporter's BOM more often than the spec admits). ``decode_audit``
    (r11) appends the same scan-fused ``fffd_density``/``decode_suspect``
    columns as :func:`warc_documents`."""
    from ..operators.charset import (
        declared_charset_expr,
        decode_expr,
        decode_suspect_expr,
        fffd_density_expr,
    )
    from ..operators.web import canonical_url

    conv = warc.where(
        (F.col("warc_type") == "conversion") & F.col("url").isNotNull()
    )
    cs = declared_charset_expr(
        F.col("content_type"), F.col("body"), meta=False
    )
    text = decode_expr(F.col("body"), cs)
    cols = [
        F.xxhash64("url", "warc_date", "record_no").alias("doc_id"),
        canonical_url("url").alias("url"),
        text.alias("text"),
        F.lower(F.parse_url(F.col("url"), F.lit("HOST"))).alias("source"),
    ]
    if decode_audit:
        cols.append(fffd_density_expr(text).alias("fffd_density"))
        cols.append(decode_suspect_expr(text).alias("decode_suspect"))
    return conv.select(*cols)


def warc_documents(
    warc: DataFrame, min_status: int = 200, max_status: int = 299,
    decode_audit: bool = False,
) -> DataFrame:
    """The crawl→pipeline adapter: response records with a 2xx status
    become (doc_id, url, text, source) — body bytes decoded through the
    JVM charset chain (BOM, then the HTTP Content-Type charset captured
    at parse time, then the HTML meta prescan, defaulting UTF-8 with
    replacement), markup stripped, URL canonicalized, source = the
    registered domain — one whole-stage-codegen map, no Python. Feed
    the result straight to ``pipeline.ingest_increment``.

    ``decode_audit=True`` (r11) appends two scan-fused columns —
    ``fffd_density`` (replacement-char share of the decoded text) and
    ``decode_suspect`` (density >= the pinned threshold) — making the
    JVM lane's no-strict-mode divergence machine-actionable: route
    suspect rows through the Python strict chain
    (``extract_document_text(charset_col=...)``) instead of keeping
    replacement soup. Still zero Exchange, zero Python (plan contract
    pinned in tests). Default off: the base schema and its pinned
    plan signatures are unchanged."""
    from ..operators.charset import (
        declared_charset_expr,
        decode_expr,
        decode_suspect_expr,
        fffd_density_expr,
    )
    from ..operators.web import canonical_url, strip_html

    responses = warc.where(
        (F.col("warc_type") == "response")
        & F.col("http_status").between(min_status, max_status)
        & F.col("url").isNotNull()
    )
    cs = declared_charset_expr(F.col("http_content_type"), F.col("body"))
    text = strip_html(decode_expr(F.col("body"), cs))
    cols = [
        F.xxhash64("url", "warc_date", "record_no").alias("doc_id"),
        canonical_url("url").alias("url"),
        text.alias("text"),
        F.lower(F.parse_url(F.col("url"), F.lit("HOST"))).alias("source"),
    ]
    if decode_audit:
        cols.append(fffd_density_expr(text).alias("fffd_density"))
        cols.append(decode_suspect_expr(text).alias("decode_suspect"))
    return responses.select(*cols)


#: The Common Crawl WAT envelope, as a Spark DDL schema for ``from_json``
#: — only the fields the adapter surfaces (from_json ignores the rest of
#: the envelope; a schema covering every WAT field would be brittle
#: against the crawler's additions and buys nothing downstream).
_WAT_ENVELOPE_DDL = (
    "Envelope struct<"
    "`WARC-Header-Metadata`: struct<"
    "`WARC-Target-URI`: string, `WARC-Type`: string, `WARC-Date`: string>,"
    "`Payload-Metadata`: struct<`HTTP-Response-Metadata`: struct<"
    "Headers: map<string,string>,"
    "`HTML-Metadata`: struct<"
    "Head: struct<Title: string>,"
    "Links: array<struct<path: string, url: string>>"
    ">>>>"
)


def wat_records(warc: DataFrame) -> DataFrame:
    """The WAT adapter — the third Common Crawl artifact next to .warc
    (:func:`warc_documents`) and .wet (:func:`wet_documents`).

    WAT files are WARC containers whose ``metadata`` records carry a
    JSON envelope describing the corresponding crawl record: the target
    URI, the HTTP response headers, and extracted HTML metadata (title,
    outlinks). That is the link graph + header corpus without touching
    page bodies — what link-analysis, URL-frontier, and dedup-by-header
    pipelines read INSTEAD of the 10× larger .warc.

    Pure composition, all JVM: ``read_warc`` explodes the records (the
    WARC framing is identical); this adapter filters ``metadata`` rows
    and parses the JSON payload with ``from_json`` under a fixed
    envelope schema — no Python, no second pass over the bytes, and a
    malformed envelope yields NULL fields (from_json's contract), never
    a failed task: the quarantine posture of the tier at the JSON layer.

    Returns ``(doc_id, url, warc_date, subject_type, title, headers,
    outlinks, n_links)`` where ``subject_type`` is the WARC-Type of the
    DESCRIBED record (response/request/warcinfo — one WAT record exists
    per original record), ``headers`` is the HTTP response header map,
    and ``outlinks`` the href targets extracted by the crawler.
    """
    meta = warc.where(
        (F.col("warc_type") == "metadata") & F.col("body").isNotNull()
    )
    env = F.from_json(
        F.decode(F.col("body"), "UTF-8"), f"struct<{_WAT_ENVELOPE_DDL}>"
    )["Envelope"]
    hdr = env["WARC-Header-Metadata"]
    http = env["Payload-Metadata"]["HTTP-Response-Metadata"]
    links = http["HTML-Metadata"]["Links"]
    outlinks = F.filter(
        F.transform(links, lambda l: l["url"]),
        lambda u: u.isNotNull(),
    )
    return meta.select(
        F.xxhash64("url", "warc_date", "record_no").alias("doc_id"),
        # the envelope's target URI is authoritative; the record's own
        # WARC-Target-URI header (surfaced by read_warc) is the fallback
        F.coalesce(hdr["WARC-Target-URI"], F.col("url")).alias("url"),
        F.col("warc_date"),
        hdr["WARC-Type"].alias("subject_type"),
        http["HTML-Metadata"]["Head"]["Title"].alias("title"),
        http["Headers"].alias("headers"),
        outlinks.alias("outlinks"),
        # explicit null test: non-ANSI size(NULL) is the legacy -1
        F.when(outlinks.isNull(), F.lit(0))
        .otherwise(F.size(outlinks))
        .alias("n_links"),
    )


def warc_extracted_documents(
    warc: DataFrame,
    min_status: int = 200,
    max_status: int = 299,
    on_error: str = "null",
    html_markdown: bool = False,
) -> DataFrame:
    """The crawl adapter for NON-HTML responses too (r9): 2xx bodies
    route per-row by magic through the document tier —
    ``(doc_id, url, source, doc_format, text, n_units, n_chars)``.
    ``warc_documents`` strips markup from everything as if it were
    HTML; this lane runs the jusText extractor for HTML and the real
    format extractors for the crawl's PDFs, Office files, LaTeX
    sources, and compressed envelopes, with undecodable bodies
    quarantined per ``on_error``. The url/source columns ride the
    extraction's Arrow batch as passthrough columns, so the composed
    plan stays an exchange-free narrow map. The HTTP Content-Type
    charset captured at parse time feeds the router's txt/html decode
    chain per row (``charset_col``)."""
    from ..operators.charset import declared_charset_expr
    from ..operators.documents import extract_document_text
    from ..operators.web import canonical_url

    responses = warc.where(
        (F.col("warc_type") == "response")
        & F.col("http_status").between(min_status, max_status)
        & F.col("url").isNotNull()
    ).select(
        F.xxhash64("url", "warc_date", "record_no").alias("doc_id"),
        canonical_url("url").alias("url"),
        F.lower(F.parse_url(F.col("url"), F.lit("HOST"))).alias("source"),
        declared_charset_expr(F.col("http_content_type")).alias("charset"),
        "body",
    )
    return extract_document_text(
        responses,
        payload_col="body",
        on_error=on_error,
        passthrough_cols=("url", "source"),
        charset_col="charset",
        html_markdown=html_markdown,
    ).select(
        "doc_id", "url", "source", "doc_format", "text", "n_units", "n_chars"
    )
