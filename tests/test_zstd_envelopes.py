"""zstd document envelopes + .tar.zst: the `.jsonl.zst` / `.html.zst`
shipping format of the modern public corpora (The Pile, RedPajama,
Dolma) routes through the bounded zstd lane — magic ``28 B5 2F FD``
in the shared envelope sniff (``multimodal.sniff_envelope``) that the
document router and the archive tier both use. libzstd (bundled with
pyarrow) decodes, and pyarrow's compressor writes the test frames."""

import io
import tarfile

import pyarrow as pa
import pytest

import drill_logfile_plugin_spark.operators.archives as AR
import drill_logfile_plugin_spark.operators.documents as DOC

_MAGIC = b"\x28\xb5\x2f\xfd"


@pytest.fixture
def zstd_lane():
    """Real-format compression callable."""
    return lambda b: pa.Codec("zstd").compress(b, asbytes=True)


# --- document router -----------------------------------------------------------


def test_html_zst_envelope_routes_and_extracts(zstd_lane):
    html = (
        b"<html><body><p>"
        + b"Zstd envelope prose with the of and a to for stopwords. " * 6
        + b"</p></body></html>"
    )
    payload = zstd_lane(html)
    assert DOC.sniff_document(payload) == "gz:html"
    text, n = DOC._extract_one("gz:html", payload)
    assert "Zstd envelope prose" in text


def test_txt_zst_envelope(zstd_lane):
    payload = zstd_lane("compressed plain text — zstd".encode())
    assert DOC.sniff_document(payload) == "gz:txt"
    text, n = DOC._extract_one("gz:txt", payload)
    assert text == "compressed plain text — zstd" and n == 1


def test_tar_zst_redirects_to_archive_lane(zstd_lane):
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as tf:
        data = b"member body"
        info = tarfile.TarInfo("a.txt")
        info.size = len(data)
        tf.addfile(info, io.BytesIO(data))
    payload = zstd_lane(buf.getvalue())
    with pytest.raises(ValueError, match="explode_archive"):
        DOC.sniff_document(payload)
    got = dict(AR.archive_members(payload))
    assert got == {"a.txt": b"member body"}


def test_zst_bomb_costs_the_cap(zstd_lane, monkeypatch):
    monkeypatch.setattr(DOC, "_ENVELOPE_MAX", 1024)
    bomb = zstd_lane(b"\x00" * (1 << 20))
    with pytest.raises(ValueError, match="max_bytes|bound"):
        DOC._unwrap_envelope(bomb)


def test_corrupt_zst_quarantines(zstd_lane):
    with pytest.raises(ValueError, match="zstd|magic|bad"):
        DOC._extract_one("gz:txt", _MAGIC + b"\xde\xad\xbe\xef" * 8)


def test_zst_document_row_is_live_through_spark(spark, zstd_lane):
    """A .zst document row decodes through the Spark lane."""
    text = (
        "The zstd envelope now decodes everywhere, with sentences "
        "that read like an ordinary paragraph of prose. " * 3
    )
    payload = zstd_lane(text.encode())
    df = spark.createDataFrame(
        [(0, bytearray(payload))], "doc_id long, payload binary"
    )
    out = DOC.extract_document_text(df).collect()
    assert out[0]["text"] is not None
    assert "decodes everywhere" in out[0]["text"]
