"""Charset detection + transcoding pins (round 10): the planted
windows-1251 / Shift-JIS / UTF-16 fixtures that previously mojibaked
or quarantined now round-trip to correct text, through every surface —
the Python chain (operators/charset.py), the document router, and the
JVM expression twins the WARC adapters compose.

Policy pins (the declared-vs-detected mismatch contract):
- BOM beats declared beats meta beats UTF-8 probe beats heuristics;
- a declared label whose bytes do NOT strictly decode under it falls
  through the chain, visible as source != 'declared';
- the windows-1252 fallback is the WHATWG table: all 256 bytes decode,
  the five cp1252-undefined bytes to their C1 controls;
- binary junk still quarantines (the control-ratio texty gate).
"""

import gzip

import pytest

import drill_logfile_plugin_spark.operators.charset as CS
import drill_logfile_plugin_spark.operators.documents as DOC

RU = "Привет, мир! Это русский текст для проверки кодировок."
JA = "こんにちは世界。日本語のテキストです。"
EL = "Γειά σου κόσμε"


# --- Python chain: BOMs -------------------------------------------------------


@pytest.mark.parametrize(
    "enc",
    ["utf-8-sig", "utf-16-le", "utf-16-be", "utf-32-le", "utf-32-be"],
)
def test_bom_roundtrip(enc):
    if enc == "utf-8-sig":
        payload = RU.encode("utf-8-sig")
    else:
        import codecs

        bom = {
            "utf-16-le": codecs.BOM_UTF16_LE,
            "utf-16-be": codecs.BOM_UTF16_BE,
            "utf-32-le": codecs.BOM_UTF32_LE,
            "utf-32-be": codecs.BOM_UTF32_BE,
        }[enc]
        payload = bom + RU.encode(enc)
    text, got_enc, source = CS.decode_text(payload)
    assert text == RU
    assert source == "bom"


def test_utf32_bom_checked_before_utf16():
    # FF FE 00 00 is UTF-32-LE, not UTF-16-LE + NULs
    payload = b"\xff\xfe\x00\x00" + "AB".encode("utf-32-le")
    text, enc, source = CS.decode_text(payload)
    assert (text, enc, source) == ("AB", "utf-32-le", "bom")


def test_bom_beats_declared():
    payload = b"\xff\xfe" + RU.encode("utf-16-le")
    text, enc, source = CS.decode_text(payload, declared="windows-1251")
    assert text == RU and source == "bom"


# --- Python chain: declared labels --------------------------------------------


def test_declared_windows_1251_roundtrips():
    text, enc, source = CS.decode_text(
        RU.encode("cp1251"), declared="windows-1251"
    )
    assert (text, enc, source) == (RU, "windows-1251", "declared")


def test_declared_shift_jis_roundtrips_with_aliases():
    for label in ("shift_jis", "Shift-JIS", "x-sjis", "SJIS"):
        text, enc, source = CS.decode_text(
            JA.encode("shift_jis"), declared=label
        )
        assert (text, source) == (JA, "declared"), label


def test_declared_latin1_means_windows_1252():
    # WHATWG: latin-1/ascii labels mean windows-1252 on the web
    payload = b"\x93quoted\x94 caf\xe9"
    text, enc, source = CS.decode_text(payload, declared="ISO-8859-1")
    assert text == "“quoted” café"
    assert enc == "windows-1252" and source == "declared"


def test_declared_mismatch_falls_through():
    # declared sjis, but the bytes are valid UTF-8 Cyrillic that is NOT
    # valid Shift-JIS -> the chain falls to the UTF-8 probe
    payload = "тест\xff".encode("utf-8")[:-2] + "т".encode("utf-8")
    assert payload.decode("utf-8")
    with pytest.raises(UnicodeDecodeError):
        payload.decode("shift_jis")
    text, enc, source = CS.decode_text(payload, declared="shift_jis")
    assert source == "utf-8" and text == payload.decode("utf-8")


def test_unknown_and_hostile_labels_ignored():
    for label in ("", None, "no-such-charset", "utf-7", "base64", "zlib"):
        text, enc, source = CS.decode_text(b"plain ascii", declared=label)
        assert (text, source) == ("plain ascii", "utf-8")


# --- Python chain: HTML meta prescan -------------------------------------------


def test_html_meta_charset_shift_jis():
    html = (
        b'<html><head><meta charset="shift_jis"></head><body><p>'
        + JA.encode("shift_jis")
        + b"</p></body></html>"
    )
    text, enc, source = CS.decode_text(html, html=True)
    assert JA in text and source == "meta"


def test_html_meta_http_equiv_form():
    html = (
        b'<html><head><meta http-equiv="Content-Type" content="text/html;'
        b' charset=windows-1251"></head><body>'
        + RU.encode("cp1251")
        + b"</body></html>"
    )
    text, enc, source = CS.decode_text(html, html=True)
    assert RU in text and enc == "windows-1251" and source == "meta"


def test_declared_beats_meta():
    html = (
        b'<meta charset="windows-1251"><p>'
        + EL.encode("iso-8859-7")
        + b"</p>"
    )
    text, enc, source = CS.decode_text(
        html, declared="iso-8859-7", html=True
    )
    assert EL in text and source == "declared"


# --- Python chain: heuristics + fallback ---------------------------------------


def test_bomless_utf16_heuristic_both_endians():
    ascii_text = "BOM-stripped Windows export, ASCII payload only.\r\n" * 3
    for enc in ("utf-16-le", "utf-16-be"):
        text, got, source = CS.decode_text(ascii_text.encode(enc))
        assert text == ascii_text
        assert got == enc and source == "utf-16-heuristic"


def test_whatwg_1252_fallback_decodes_every_byte():
    payload = bytes(range(256))
    text = CS._decode_w1252(payload)
    assert len(text) == 256
    assert text[0x93] == "“" and text[0x80] == "€"
    # the five cp1252-undefined bytes map to their C1 controls
    for b in (0x81, 0x8D, 0x8F, 0x90, 0x9D):
        assert ord(text[b]) == b


def test_fallback_source_and_texty_gate():
    text, enc, source = CS.decode_text(b"caf\xe9 \x93ok\x94")
    assert (text, enc, source) == ("café “ok”", "windows-1252", "fallback")
    assert CS.is_texty(text)
    junk = (bytes(range(1, 32)) + b"\xff\xfe\xfd") * 4
    jt, _e, jsrc = CS.decode_text(junk)
    assert jsrc == "fallback" and not CS.is_texty(jt)


# --- router integration ---------------------------------------------------------


def test_router_utf16_bom_txt_extracts():
    payload = b"\xff\xfe" + RU.encode("utf-16-le")
    assert DOC.sniff_document(payload) == "txt"
    text, n = DOC._extract_one("txt", payload)
    assert text == RU and n == 1


def test_router_utf16_html_detected_and_extracted():
    html = "<html><body><p>" + RU + " " + RU + "</p></body></html>"
    payload = b"\xff\xfe" + html.encode("utf-16-le")
    assert DOC.sniff_document(payload) == "html"


def test_router_declared_charset_column(spark):
    rows = [
        (0, bytearray(RU.encode("cp1251")), "windows-1251"),
        (1, bytearray(JA.encode("shift_jis")), "shift_jis"),
        (2, bytearray(b"plain utf-8 text"), None),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, payload binary, charset string"
    )
    out = {
        r["doc_id"]: r
        for r in DOC.extract_document_text(
            df, codec="txt", charset_col="charset"
        ).collect()
    }
    assert out[0]["text"] == RU
    assert out[1]["text"] == JA
    assert out[2]["text"] == "plain utf-8 text"


def test_router_gz_envelope_keeps_declared_charset(spark):
    rows = [(0, bytearray(gzip.compress(RU.encode("cp1251"))), "windows-1251")]
    df = spark.createDataFrame(
        rows, "doc_id long, payload binary, charset string"
    )
    out = DOC.extract_document_text(df, charset_col="charset").collect()
    assert out[0]["doc_format"] == "gz:txt"
    assert out[0]["text"] == RU


def test_router_undeclared_legacy_text_survives_via_fallback():
    # undeclared windows-1252: decodes correctly; undeclared 1251:
    # byte-preserving single-byte decode (recoverable, not U+FFFD soup)
    w1252 = "résumé “smart quotes” déjà vu".encode("cp1252")
    assert DOC.sniff_document(w1252) == "txt"
    text, _ = DOC._extract_one("txt", w1252)
    assert text == "résumé “smart quotes” déjà vu"
    ru_bytes = RU.encode("cp1251")
    text, _ = DOC._extract_one("txt", ru_bytes)
    assert text.encode("latin-1", "ignore")  # no replacement chars
    assert "�" not in text


# --- JVM expression twins (the WARC lanes) --------------------------------------


def test_jvm_decode_expr_matrix(spark):
    from pyspark.sql import functions as F

    from drill_logfile_plugin_spark.sources.tables import configure_session

    configure_session(spark)
    rows = [
        (0, "text/html; charset=windows-1251",
         bytearray(("<p>" + RU + "</p>").encode("cp1251"))),
        (1, "text/html; charset=Shift_JIS",
         bytearray(JA.encode("shift_jis"))),
        (2, "text/html",
         bytearray((
             '<html><meta charset="windows-1251"><body>' + RU
         ).encode("cp1251"))),
        (3, None, bytearray(b"\xff\xfe" + RU.encode("utf-16-le"))),
        (4, None, bytearray("plain utf-8 Привет".encode())),
        (5, "text/plain; charset=EUC-KR",
         bytearray("한국어 텍스트".encode("euc-kr"))),
    ]
    df = spark.createDataFrame(
        rows, "id long, ct string, body binary"
    )
    cs = CS.declared_charset_expr(F.col("ct"), F.col("body"))
    out = {
        r["id"]: r
        for r in df.select(
            "id",
            cs.alias("cs"),
            CS.decode_expr(F.col("body"), cs).alias("text"),
        ).collect()
    }
    assert out[0]["cs"] == "windows-1251" and RU in out[0]["text"]
    assert out[1]["cs"] == "shift_jis" and JA in out[1]["text"]
    assert out[2]["cs"] == "windows-1251" and RU in out[2]["text"]
    assert out[3]["cs"] == "utf-16" and out[3]["text"] == RU  # BOM stripped
    assert out[4]["text"] == "plain utf-8 Привет"
    assert out[5]["cs"] == "euc-kr" and "한국어" in out[5]["text"]


def test_warc_documents_charset_end_to_end(spark, tmp_path):
    from drill_logfile_plugin_spark.sources.tables import configure_session
    from drill_logfile_plugin_spark.sources.warc import (
        read_warc,
        warc_documents,
        warc_extracted_documents,
    )
    from tests.test_warc import _http, _record

    configure_session(spark)
    # English stopwords interleaved so the jusText scorer keeps the
    # block (its stopword-density heuristic); the charset payload under
    # test is the RU/JA text riding the same block.
    ru_html = (
        "<html><body><p>"
        + ("the of and a to for it is " + RU + " ") * 6
        + "</p></body></html>"
    ).encode("cp1251")
    ja_html = (
        '<html><head><meta charset="shift_jis"></head><body><p>'
        + ("the of and a to for it is " + JA + " ") * 8
        + "</p></body></html>"
    ).encode("shift_jis")
    blob = (
        _record(url="https://ru.example/a",
                payload=_http(ru_html, ctype="text/html; charset=windows-1251"))
        + _record(url="https://jp.example/b", payload=_http(ja_html))
        + _record(url="https://u16.example/c",
                  payload=_http(b"\xff\xfe" + ("Plain UTF-16 prose here. " * 8).encode("utf-16-le"),
                                ctype="text/plain"))
    )
    (tmp_path / "intl.warc").write_bytes(blob)
    warc = read_warc(spark, str(tmp_path / "intl.warc"))

    docs = {r["source"]: r for r in warc_documents(warc).collect()}
    assert RU in docs["ru.example"]["text"]
    assert "�" not in docs["ru.example"]["text"]
    assert JA in docs["jp.example"]["text"]
    assert "Plain UTF-16 prose" in docs["u16.example"]["text"]

    ext = {r["source"]: r for r in warc_extracted_documents(warc).collect()}
    assert RU in ext["ru.example"]["text"]
    assert JA in ext["jp.example"]["text"]
    assert "Plain UTF-16 prose" in ext["u16.example"]["text"]

    # the composed plans stay exchange-free narrow maps
    for lane in (warc_documents(warc), warc_extracted_documents(warc)):
        plan = lane._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan


# --- r10 follow-through: captions + WARC.zst lanes ------------------------------


def test_srt_legacy_charset_and_utf16_bom():
    """Subtitle rips are the most legacy-charset-heavy text format in
    the wild: cp1252 cue text decodes, and a UTF-16-BOM VTT/SRT routes
    to the caption lane (not the bare-txt fallback)."""
    srt_1252 = (
        b"1\r\n00:00:01,000 --> 00:00:02,000\r\n"
        b"\x93quoted\x94 caf\xe9 line\r\n\r\n"
    )
    assert DOC.sniff_document(srt_1252) == "srt"
    text, n = DOC._extract_one("srt", srt_1252)
    assert text == "“quoted” café line" and n == 1

    vtt_u16 = ("WEBVTT\n\n00:01.000 --> 00:02.000\n" + RU + "\n").encode(
        "utf-16"
    )
    assert DOC.sniff_document(vtt_u16) == "vtt"
    text, n = DOC._extract_one("vtt", vtt_u16)
    assert RU in text

    srt_u16 = (
        "1\r\n00:00:01,000 --> 00:00:02,000\r\n" + RU + "\r\n\r\n"
    ).encode("utf-16")
    assert DOC.sniff_document(srt_u16) == "srt"
    assert RU in DOC._extract_one("srt", srt_u16)[0]


def test_warc_zst_segment(spark, tmp_path):
    """A .warc.zst segment parses through the bounded zstd lane."""
    import pyarrow as pa

    from drill_logfile_plugin_spark.sources.warc import read_warc
    from tests.test_warc import _http, _record

    blob = _record(url="https://z.example/a", payload=_http(b"<p>zst</p>"))
    comp = pa.Codec("zstd").compress(blob, asbytes=True)
    (tmp_path / "seg.warc.zst").write_bytes(comp)
    rows = read_warc(spark, str(tmp_path)).collect()
    assert len(rows) == 1 and rows[0]["url"] == "https://z.example/a"
