"""WebDataset source + sink (r11): in-test shards built directly with
stdlib tarfile (the generator side — independent of the reader's
archive-tier parse), convention pins, byte-stable export."""

import io
import tarfile

import pytest

from drill_logfile_plugin_spark.sources.webdataset import (
    read_webdataset,
    split_member_name,
    webdataset_samples,
    webdataset_text,
    write_webdataset_shards,
)


def _shard(members) -> bytes:
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as tf:
        for name, data in members:
            info = tarfile.TarInfo(name)
            info.size = len(data)
            tf.addfile(info, io.BytesIO(data))
    return buf.getvalue()


MEMBERS = [
    ("s000.jpg", b"\xff\xd8fakejpeg"),
    ("s000.txt", "a caption".encode()),
    ("s000.seg.json", b'{"boxes": []}'),
    ("s001.txt", "text only sample".encode()),
    ("d/s002.jpg", b"\xff\xd8other"),
    ("d/s002.txt", "nested dir sample".encode()),
]


def test_split_member_name_convention():
    assert split_member_name("s000.jpg") == ("s000", "jpg")
    assert split_member_name("s000.seg.json") == ("s000", "seg.json")
    assert split_member_name("d/e/s1.tar.gz") == ("d/e/s1", "tar.gz")
    assert split_member_name("noext") == ("noext", "")


def test_samples_group_consecutive_members():
    got = list(webdataset_samples(_shard(MEMBERS)))
    assert [k for k, _ in got] == ["s000", "s001", "d/s002"]
    assert got[0][1] == {
        "jpg": b"\xff\xd8fakejpeg",
        "txt": b"a caption",
        "seg.json": b'{"boxes": []}',
    }
    assert got[1][1] == {"txt": b"text only sample"}


def test_interleaved_key_starts_new_sample():
    members = [
        ("a.txt", b"1"), ("b.txt", b"2"), ("a.json", b"3"),
    ]
    got = list(webdataset_samples(_shard(members)))
    assert [k for k, _ in got] == ["a", "b", "a"]


def test_rejections():
    with pytest.raises(ValueError, match="no field extension"):
        list(webdataset_samples(_shard([("bare", b"x")])))
    with pytest.raises(ValueError, match="repeats field"):
        list(
            webdataset_samples(
                _shard([("a.txt", b"1"), ("a.txt", b"2")])
            )
        )


def test_read_webdataset_spark_lane(spark, tmp_path):
    (tmp_path / "shard-0.tar").write_bytes(_shard(MEMBERS[:4]))
    (tmp_path / "shard-1.tar").write_bytes(_shard(MEMBERS[4:]))
    df = read_webdataset(spark, str(tmp_path))
    rows = {r["key"]: r for r in df.collect()}
    assert set(rows) == {"s000", "s001", "d/s002"}
    assert bytes(rows["s000"]["fields"]["jpg"]) == b"\xff\xd8fakejpeg"
    text = webdataset_text(df)
    got = {r["key"]: r["text"] for r in text.collect()}
    assert got["s001"] == "text only sample"
    assert got["d/s002"] == "nested dir sample"


def test_compressed_shard_reads_transparently(spark, tmp_path):
    import gzip

    import pyarrow as pa

    raw = _shard(MEMBERS[:4])
    (tmp_path / "shard-0.tar.gz").write_bytes(gzip.compress(raw))
    for i, codec in enumerate(("lz4", "zstd"), 1):
        (tmp_path / f"shard-{i}.tar.{codec[:3]}").write_bytes(
            pa.Codec(codec).compress(raw, asbytes=True)
        )
    df = read_webdataset(spark, str(tmp_path))
    assert df.count() == 6  # all three shards decode: 2 samples each


def test_tar_zst_shard_reads_via_pure_decoder(spark, tmp_path):
    """A .tar.zst shard decodes on any host: the archive tier's zstd
    envelope goes through the bounded pyarrow primitive, with no zstd
    module installed."""
    import pyarrow as pa

    raw = _shard(MEMBERS[:4])
    (tmp_path / "shard-0.tar.zst").write_bytes(
        pa.Codec("zstd").compress(raw, asbytes=True)
    )
    df = read_webdataset(spark, str(tmp_path))
    assert df.count() == 2


def test_corrupt_shard_quarantines_whole_file(spark, tmp_path):
    (tmp_path / "good.tar").write_bytes(_shard(MEMBERS[:4]))
    bad = bytearray(_shard(MEMBERS[4:]))
    bad[148:156] = b"00000000"  # break the first header's checksum
    (tmp_path / "bad.tar").write_bytes(bytes(bad))
    df = read_webdataset(spark, str(tmp_path))
    assert {r["key"] for r in df.collect()} == {"s000", "s001"}
    with pytest.raises(Exception, match="bad.tar"):
        read_webdataset(spark, str(tmp_path), on_error="strict").count()


ROWS = [
    (0, "alpha text", bytearray(b"\x01\x02"), '{"a": 1}'),
    (1, "beta text", None, '{"a": 2}'),
    (2, None, bytearray(b"\x03"), None),
]
SCHEMA = "doc_id long, text string, image binary, meta string"
COLS = {"text": "txt", "image": "jpg", "meta": "json"}


def test_write_read_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(ROWS, SCHEMA)
    man = write_webdataset_shards(df, str(tmp_path / "out"), 2, COLS)
    assert sum(r["n_samples"] for r in man.collect()) == 3
    back = read_webdataset(spark, str(tmp_path / "out"))
    fields = sorted(
        tuple(sorted(r["fields"].keys())) for r in back.collect()
    )
    assert fields == sorted(
        [("jpg", "json", "txt"), ("json", "txt"), ("jpg",)]
    )
    texts = {
        bytes(r["fields"]["txt"]).decode()
        for r in back.collect()
        if "txt" in r["fields"]
    }
    assert texts == {"alpha text", "beta text"}


def test_export_is_byte_stable_across_layouts(spark, tmp_path):
    df = spark.createDataFrame(ROWS, SCHEMA)
    m1 = write_webdataset_shards(
        df.repartition(1), str(tmp_path / "a"), 2, COLS, salt="s"
    )
    m2 = write_webdataset_shards(
        df.repartition(5), str(tmp_path / "b"), 2, COLS, salt="s"
    )
    k = lambda r: r["shard"]  # noqa: E731
    assert [
        (r["shard"], r["sha256"]) for r in sorted(m1.collect(), key=k)
    ] == [
        (r["shard"], r["sha256"]) for r in sorted(m2.collect(), key=k)
    ]
    a = sorted((p.name, p.read_bytes()) for p in (tmp_path / "a").iterdir())
    b = sorted((p.name, p.read_bytes()) for p in (tmp_path / "b").iterdir())
    assert a == b


def test_write_rejects_bad_specs(spark, tmp_path):
    df = spark.createDataFrame(ROWS, SCHEMA)
    with pytest.raises(ValueError, match="unknown column"):
        write_webdataset_shards(
            df, str(tmp_path / "x"), 1, {"nope": "txt"}
        )
    with pytest.raises(ValueError, match="must be string or binary"):
        write_webdataset_shards(
            df, str(tmp_path / "x"), 1, {"doc_id": "txt"}
        )
    with pytest.raises(ValueError, match="repeats an extension"):
        write_webdataset_shards(
            df, str(tmp_path / "x"), 1, {"text": "txt", "meta": "txt"}
        )


def test_all_quarantined_batch_yields_cleanly(spark, tmp_path):
    bad = bytearray(_shard(MEMBERS[:2]))
    bad[148:156] = b"00000000"
    (tmp_path / "only-bad.tar").write_bytes(bytes(bad))
    assert read_webdataset(spark, str(tmp_path)).count() == 0
