"""End-to-end contract for pipeline.ingest_increment — the documented
composition of snapshot delta -> incremental dedup -> clean_corpus ->
split -> chunk -> pack, on a planted fixture where every stage's verdict
is known in advance, plus the plan contract that document text never
rides an exchange between stages."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from drill_logfile_plugin_spark.pipeline import ingest_increment

CHUNK = 10
BUDGET = 16


def _good(tag: str) -> str:
    """24 distinct short tokens -> 'good' quality, 'en'-agnostic."""
    return " ".join(f"{tag}w{i}" for i in range(24))


@pytest.fixture(scope="module")
def corpus(spark):
    existing = spark.createDataFrame(
        [
            (1, "web", _good("a")),
            (2, "web", _good("b")),
            (3, "books", _good("c")),
            (4, "books", _good("d")),
        ],
        "doc_id long, source string, text string",
    )
    increment = spark.createDataFrame(
        [
            (2, "web", _good("b")),        # unchanged -> delta drops it
            (3, "books", _good("c2")),     # changed -> re-ingested
            (10, "web", _good("n")),       # brand new -> kept
            (11, "web", _good("n")),       # dup of 10 within delta -> loses to min id
            (12, "books", _good("a")),     # content already in corpus (doc 1) -> anti-joined
            (13, "web", "spam " * 30),     # repetitive junk -> clean_corpus drops
            (14, "books", None),           # NULL text -> quality 'too_short' -> dropped
        ],
        "doc_id long, source string, text string",
    )
    return existing, increment


def _expected_split(doc_id: int, train_pct=80, val_pct=10) -> str:
    b = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:4], 16) % 100
    if b < train_pct:
        return "train"
    if b < train_pct + val_pct:
        return "val"
    return "test"


def test_ingest_increment_survivors_and_chunks(spark, corpus):
    existing, increment = corpus
    out = ingest_increment(
        existing, increment, chunk_tokens=CHUNK, pack_budget=BUDGET
    )
    rows = out.collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)

    # exactly the planted survivors: changed doc 3, new doc 10
    assert set(by_doc) == {3, 10}

    for doc_id, chunks in by_doc.items():
        chunks.sort(key=lambda r: r["chunk_id"])
        # 24 tokens at chunk 10 -> 10, 10, 4
        assert [c["n_chunk_tokens"] for c in chunks] == [10, 10, 4]
        assert [c["chunk_id"] for c in chunks] == [0, 1, 2]
        # split: the q55 md5-bucket construction, same for every chunk
        splits = {c["split"] for c in chunks}
        assert splits == {_expected_split(doc_id)}

    # packing: each doc is alone in its source shard here, so bins are
    # the greedy fill over its own chunks: cume 0,10,20 DIV 16 -> 0,0,1
    for chunks in by_doc.values():
        assert [c["bin_id"] for c in chunks] == [0, 0, 1]


def test_ingest_increment_deterministic(spark, corpus):
    existing, increment = corpus
    a = ingest_increment(existing, increment, chunk_tokens=CHUNK)
    b = ingest_increment(existing, increment, chunk_tokens=CHUNK)
    assert sorted(map(str, a.collect())) == sorted(map(str, b.collect()))


def test_ingest_increment_plan_never_shuffles_text(spark, corpus):
    """The composition contract: every exchange in the executed plan
    carries ids/fingerprints/counts — never the document text column
    (the delta and dedup lanes are fingerprint projections; the one
    text-side join broadcasts the delta-sized winner set; chunking drops
    text before the packing window's shuffle)."""
    existing, increment = corpus
    out = ingest_increment(existing, increment, chunk_tokens=CHUNK)
    plan = out._jdf.queryExecution().executedPlan().toString()
    exchange_lines = [ln for ln in plan.splitlines() if "Exchange" in ln]
    assert exchange_lines, "expected a non-degenerate distributed plan"
    assert not any("text#" in ln for ln in exchange_lines), (
        "document text must never ride a shuffle:\n"
        + "\n".join(exchange_lines)
    )


def test_ingest_increment_leakage_safe_variant(spark, corpus):
    """With a dup-cluster map, near-dup documents share a split
    (leakage_safe_split path): planted cluster {3, 10} must land both
    docs' chunks in one split — the split of the cluster id."""
    existing, increment = corpus
    clusters = spark.createDataFrame(
        [(3, 3), (10, 3)], "node long, cluster_id long"
    )
    out = ingest_increment(
        existing, increment, chunk_tokens=CHUNK, clusters=clusters
    )
    splits = {r["split"] for r in out.select("split").collect()}
    assert len(splits) == 1


def test_ingest_increment_bootstrap_run(spark, corpus):
    """existing=None (the first run): no delta/anti-join stages — every
    increment doc flows through dedup/clean/split/chunk/pack. Planted
    verdicts: 2 (now new), 3, 10 survive; 11 still loses the in-delta
    dedup to 10; 12 survives (its content twin doc 1 is NOT in any
    standing corpus on a bootstrap run); 13/14 still cleaned away."""
    _, increment = corpus
    out = ingest_increment(None, increment, chunk_tokens=CHUNK)
    assert {r["doc_id"] for r in out.collect()} == {2, 3, 10, 12}

    plan = out._jdf.queryExecution().executedPlan().toString()
    exchange_lines = [ln for ln in plan.splitlines() if "Exchange" in ln]
    assert not any("text#" in ln for ln in exchange_lines)


def test_ingest_increment_fingerprint_projection_equivalent(spark, corpus):
    """existing_fp (the persisted corpus_fingerprints projection — the
    production form that never reads corpus text) must produce exactly
    what passing the full snapshot produces; passing both is a setup
    error."""
    from drill_logfile_plugin_spark.pipeline import corpus_fingerprints

    existing, increment = corpus
    full = ingest_increment(existing, increment, chunk_tokens=CHUNK)
    fp = corpus_fingerprints(existing)
    assert fp.columns == ["doc_id", "fp"]
    via_fp = ingest_increment(
        None, increment, chunk_tokens=CHUNK, existing_fp=fp
    )
    assert sorted(map(str, full.collect())) == sorted(
        map(str, via_fp.collect())
    )
    with pytest.raises(ValueError, match="not both"):
        ingest_increment(existing, increment, existing_fp=fp)


def test_ingest_increment_stream_cross_batch_dedup(spark, tmp_path):
    """The streaming loop dedups ACROSS micro-batches via the persistent
    fingerprint store: content ingested in batch N never re-enters in
    batch N+1, and every epoch's output is written to its own idempotent
    epoch directory."""
    from drill_logfile_plugin_spark.pipeline import ingest_increment_stream

    src = tmp_path / "incoming"
    src.mkdir()
    schema = "doc_id long, source string, text string"
    # batch 1: docs 1, 2 — batch 2: doc 3 = content twin of doc 1, doc 4 new
    spark.createDataFrame(
        [(1, "web", _good("x")), (2, "web", _good("y"))], schema
    ).coalesce(1).write.parquet(str(src / "f1"))
    spark.createDataFrame(
        [(3, "web", _good("x")), (4, "web", _good("z"))], schema
    ).coalesce(1).write.parquet(str(src / "f2"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "f*"))
    )
    q = ingest_increment_stream(
        stream,
        output_path=str(tmp_path / "out"),
        fp_path=str(tmp_path / "fps"),
        checkpoint=str(tmp_path / "ckpt"),
        chunk_tokens=CHUNK,
    )
    q.processAllAvailable()
    q.stop()

    out_ids = {
        r["doc_id"]
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    # the content twin pair {1, 3}: exactly ONE member ingested (which
    # one depends on batch order); 2 and 4 always present
    assert {2, 4} <= out_ids
    assert len(out_ids & {1, 3}) == 1
    fps = spark.read.parquet(str(tmp_path / "fps")).collect()
    assert len(fps) == 3  # x, y, z — the twin contributed no new fp
    assert len({r["fp"] for r in fps}) == 3
    # CROSS-batch proof: two distinct epochs ran, and the second epoch
    # recorded exactly one NEW fingerprint (the twin was adjudicated
    # against epoch 0's store, not inside its own batch)
    by_epoch = {}
    for r in fps:
        by_epoch.setdefault(r["epoch"], set()).add(r["fp"])
    assert len(by_epoch) == 2, f"expected 2 micro-batches, got {by_epoch.keys()}"
    first, second = (by_epoch[e] for e in sorted(by_epoch))
    assert len(first) == 2 and len(second) == 1


def test_ingest_increment_stream_replay_is_lossless(spark, tmp_path):
    """The foreachBatch replay contract: re-running an epoch AFTER its
    fingerprints were written (crash before checkpoint commit) must
    reproduce the same output — not see its own fingerprints and
    overwrite the epoch with empty frames (the silent-loss failure the
    store's epoch filter exists to prevent)."""
    from drill_logfile_plugin_spark.pipeline import _process_increment_batch

    schema = "doc_id long, source string, text string"
    b0 = spark.createDataFrame([(1, "web", _good("x"))], schema)
    b1 = spark.createDataFrame([(2, "web", _good("y"))], schema)
    out, fps = str(tmp_path / "out"), str(tmp_path / "fps")

    _process_increment_batch(spark, b0, 0, out, fps, chunk_tokens=CHUNK)
    first = sorted(map(str, spark.read.parquet(out).collect()))
    assert first, "epoch 0 must ingest doc 1"

    # replay epoch 0 (its fps are already on disk)
    _process_increment_batch(spark, b0, 0, out, fps, chunk_tokens=CHUNK)
    assert sorted(map(str, spark.read.parquet(out).collect())) == first
    assert spark.read.parquet(fps).count() == 1

    # and the next epoch still dedups against epoch 0
    _process_increment_batch(spark, b1, 1, out, fps, chunk_tokens=CHUNK)
    ids = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert ids == {1, 2}
    assert spark.read.parquet(fps).count() == 2


# --- near-dup mode (stage 2c) ----------------------------------------------


def _variant(tag: str, swap_at: int = 12) -> str:
    """_good(tag) with ONE token swapped: 3-shingle Jaccard ~ 19/25 =
    0.76 >= 0.6 — a planted near-duplicate (crawl variant), never
    byte-identical."""
    toks = [f"{tag}w{i}" for i in range(24)]
    toks[swap_at] = "SWAPPED"
    return " ".join(toks)


@pytest.fixture(scope="module")
def near_corpus(spark):
    existing = spark.createDataFrame(
        [
            (1, "web", _good("a")),
            (2, "web", _good("b")),
        ],
        "doc_id long, source string, text string",
    )
    increment = spark.createDataFrame(
        [
            (20, "web", _variant("a")),   # near-dup of STANDING doc 1 -> dropped
            (21, "web", _good("f")),      # fresh -> survives
            (22, "web", _variant("f")),   # near-dup of NEW 21 -> loses to min id
            (23, "books", _good("g")),    # fresh, untouched by any pair
        ],
        "doc_id long, source string, text string",
    )
    return existing, increment


def test_ingest_increment_near_dup_drops_crawl_variants(spark, near_corpus):
    """near_dup=True: a crawl VARIANT (not byte-identical) of standing
    content is dropped; within the delta the min-id member of a new
    near-dup cluster survives; exact-only mode admits all of them."""
    existing, increment = near_corpus
    exact_only = ingest_increment(existing, increment, chunk_tokens=CHUNK)
    assert {r["doc_id"] for r in exact_only.collect()} == {20, 21, 22, 23}

    out = ingest_increment(
        existing, increment, chunk_tokens=CHUNK, near_dup=True
    )
    assert {r["doc_id"] for r in out.collect()} == {21, 23}


def test_ingest_increment_near_dup_split_is_cluster_cohesive(
    spark, near_corpus
):
    """The derived cluster map drives the leakage-safe split: surviving
    doc 21's chunks take the bucket of its CLUSTER id (21, the min of
    {21, 22}), and an untouched doc keeps the naive assignment."""
    existing, increment = near_corpus
    out = ingest_increment(
        existing, increment, chunk_tokens=CHUNK, near_dup=True
    )
    rows = out.collect()
    s21 = {r["split"] for r in rows if r["doc_id"] == 21}
    s23 = {r["split"] for r in rows if r["doc_id"] == 23}
    assert s21 == {_expected_split(21)}
    assert s23 == {_expected_split(23)}


def test_ingest_increment_near_dup_standing_bands_and_clusters(
    spark, near_corpus, tmp_path
):
    """The production form: the standing corpus contributes through its
    PERSISTED band index (never re-banded) and a standing cluster map
    (folded, not recomputed) — output identical to the from-scratch
    call; a geometry-mismatched index is a setup error."""
    from drill_logfile_plugin_spark.operators.dedup import (
        load_band_index,
        minhash_bands,
        save_band_index,
    )

    existing, increment = near_corpus
    path = str(tmp_path / "bands")
    save_band_index(minhash_bands(existing), path)
    idx = load_band_index(spark, path)
    standing_clusters = spark.createDataFrame(
        [(1, 1), (2, 2)], "cluster_id long, node long"
    )

    base = ingest_increment(
        existing, increment, chunk_tokens=CHUNK, near_dup=True
    )
    via_idx = ingest_increment(
        existing,
        increment,
        chunk_tokens=CHUNK,
        near_dup=True,
        standing_bands=idx,
        standing_clusters=standing_clusters,
    )
    assert sorted(map(str, base.collect())) == sorted(
        map(str, via_idx.collect())
    )

    with pytest.raises(ValueError, match="geometry"):
        ingest_increment(
            existing,
            increment,
            near_dup=True,
            standing_bands=(idx[0], {**idx[1], "bands": 32}),
        )


def test_ingest_increment_near_dup_changed_member_judged_on_new_text(spark):
    """A changed document whose id sits in a standing cluster is judged
    on its NEW text, not on the map row of its old text: either member
    of the standing cluster {1, 2} changed to unrelated text survives;
    doc 2 changed to a near-duplicate of doc 1 is dropped."""
    schema = "doc_id long, source string, text string"
    existing = spark.createDataFrame(
        [(1, "web", _good("a")), (2, "web", _variant("a"))], schema
    )
    standing_clusters = spark.createDataFrame(
        [(1, 1), (1, 2)], "cluster_id long, node long"
    )

    def survivors(doc_id, text):
        out = ingest_increment(
            existing,
            spark.createDataFrame([(doc_id, "web", text)], schema),
            chunk_tokens=CHUNK,
            near_dup=True,
            standing_clusters=standing_clusters,
        )
        return {r["doc_id"] for r in out.collect()}

    assert survivors(2, _good("z")) == {2}
    assert survivors(1, _good("z")) == {1}
    assert survivors(2, _variant("a", swap_at=5)) == set()


def test_ingest_increment_near_dup_bootstrap_and_guards(spark, near_corpus):
    """Bootstrap near-dup (no standing corpus): within-increment
    variants still dedup, standing variants have nothing to match.
    Guards: clusters= alongside near_dup is ambiguous; the fingerprint
    projection alone cannot support the re-rank."""
    from drill_logfile_plugin_spark.pipeline import corpus_fingerprints

    existing, increment = near_corpus
    out = ingest_increment(
        None, increment, chunk_tokens=CHUNK, near_dup=True
    )
    # 20 survives a bootstrap (its standing twin is not standing here)
    assert {r["doc_id"] for r in out.collect()} == {20, 21, 23}

    clusters = spark.createDataFrame(
        [(21, 21)], "node long, cluster_id long"
    )
    with pytest.raises(ValueError, match="ambiguous"):
        ingest_increment(
            None, increment, near_dup=True, clusters=clusters
        )
    with pytest.raises(ValueError, match="snapshot"):
        ingest_increment(
            None,
            increment,
            near_dup=True,
            existing_fp=corpus_fingerprints(existing),
        )


def test_ingest_increment_near_dup_plan_never_shuffles_text(
    spark, near_corpus
):
    """The text-never-in-an-exchange contract extends to the near-dup
    stage: the LSH lanes ride token-hash projections and candidate-only
    shingle sets; document text itself still never shuffles. Checked on
    the FINAL adaptive plan (the executed strategy, not the static
    guess)."""
    existing, increment = near_corpus
    out = ingest_increment(
        existing, increment, chunk_tokens=CHUNK, near_dup=True
    )
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    exchange_lines = [ln for ln in plan.splitlines() if "Exchange" in ln]
    assert exchange_lines, "expected a non-degenerate distributed plan"
    assert not any("text#" in ln for ln in exchange_lines), (
        "document text must never ride a shuffle:\n"
        + "\n".join(exchange_lines)
    )


def test_ingest_increment_near_dup_reads_fingerprint_store_once(
    spark, near_corpus, tmp_path
):
    """Near-dup mode materializes the winner-id set once, so the packed
    output's plan reads that checkpoint and never the standing
    fingerprint store; the exact-only path stays lazy and submits no job
    while it builds, so its plan still scans the store."""
    from drill_logfile_plugin_spark.pipeline import corpus_fingerprints

    existing, increment = near_corpus
    fp_path = str(tmp_path / "fp")
    corpus_fingerprints(existing).write.parquet(fp_path)
    store = spark.read.parquet(fp_path)

    def executed_plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    out = ingest_increment(
        None,
        increment,
        chunk_tokens=CHUNK,
        existing_fp=store,
        standing_docs=existing,
        near_dup=True,
    )
    assert {r["doc_id"] for r in out.collect()} == {21, 23}
    assert "FileScan" not in executed_plan(out)

    tracker = spark.sparkContext.statusTracker()

    def _njobs():
        ids = tracker.getJobIdsForGroup(None)
        return max(ids) + 1 if ids else 0

    j0 = _njobs()
    exact_only = ingest_increment(
        None, increment, chunk_tokens=CHUNK, existing_fp=store
    )
    assert _njobs() == j0, "exact-only build submitted a Spark job"
    exact_only.collect()
    assert "FileScan" in executed_plan(exact_only)


def test_ingest_increment_near_dup_reliable_checkpoint_mode_identical(
    spark, near_corpus, tmp_path
):
    """The winner-id barrier takes both checkpoint modes: with a
    checkpoint dir configured (reliable checkpoint()) and with the
    executor-local escape hatch, the packed output is identical."""
    from drill_logfile_plugin_spark.operators import dedup as D

    existing, increment = near_corpus

    def packed():
        return ingest_increment(
            existing, increment, chunk_tokens=CHUNK, near_dup=True
        ).collect()

    sc = spark.sparkContext
    had_dir = sc.getCheckpointDir() is not None
    prev = spark.conf.get(D.RELIABLE_CHECKPOINT_CONF, None)
    if not had_dir:
        sc.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        spark.conf.set(D.RELIABLE_CHECKPOINT_CONF, "true")
        reliable = packed()
        spark.conf.set(D.RELIABLE_CHECKPOINT_CONF, "false")
        local = packed()
    finally:
        # a checkpoint dir cannot be unset: without one before, keep the
        # session on executor-local barriers as it was
        if had_dir and prev is None:
            spark.conf.unset(D.RELIABLE_CHECKPOINT_CONF)
        else:
            spark.conf.set(D.RELIABLE_CHECKPOINT_CONF, prev or "false")
    assert sorted(map(str, reliable)) == sorted(map(str, local))
    assert {r["doc_id"] for r in local} == {21, 23}


def test_ingest_increment_stream_near_dup_across_epochs(spark, tmp_path):
    """The near-dup streaming loop: a crawl VARIANT (not byte-identical)
    of content packed in an earlier epoch is dropped by the standing
    band-index probe; the docs/bands stores accumulate one epoch per
    batch and replay stays lossless."""
    from drill_logfile_plugin_spark.pipeline import _process_increment_batch

    schema = "doc_id long, source string, text string"
    b0 = spark.createDataFrame(
        [(1, "web", _good("x")), (2, "web", _good("y"))], schema
    )
    # 10: near-variant of epoch-0 doc 1 -> dropped; 11 fresh -> kept;
    # 12: near-variant of 11 WITHIN the batch -> loses to min id
    b1 = spark.createDataFrame(
        [
            (10, "web", _variant("x")),
            (11, "web", _good("z")),
            (12, "web", _variant("z")),
        ],
        schema,
    )
    out = str(tmp_path / "out")
    fps = str(tmp_path / "fps")
    docs = str(tmp_path / "docs")
    bands = str(tmp_path / "bands")
    kw = dict(
        chunk_tokens=CHUNK, near_dup=True, docs_path=docs, bands_path=bands
    )

    _process_increment_batch(spark, b0, 0, out, fps, **kw)
    assert {
        r["doc_id"] for r in spark.read.parquet(out).collect()
    } == {1, 2}
    # the band store holds epoch 0's survivors, banded once
    band_docs = {
        r["doc_id"] for r in spark.read.parquet(bands).collect()
    }
    assert band_docs == {1, 2}

    _process_increment_batch(spark, b1, 1, out, fps, **kw)
    ids = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert ids == {1, 2, 11}, ids
    # stores grew by exactly the epoch-1 survivor
    assert {
        r["doc_id"] for r in spark.read.parquet(docs).collect()
    } == {1, 2, 11}

    # replay epoch 1 (docs/bands/fps for epoch 1 already on disk): the
    # epoch filter must keep the replay blind to its own state
    first = sorted(map(str, spark.read.parquet(out).collect()))
    _process_increment_batch(spark, b1, 1, out, fps, **kw)
    assert sorted(map(str, spark.read.parquet(out).collect())) == first


def test_ingest_increment_stream_near_dup_requires_stores(spark, tmp_path):
    from drill_logfile_plugin_spark.pipeline import ingest_increment_stream

    schema = "doc_id long, source string, text string"
    src = tmp_path / "incoming"
    src.mkdir()
    stream = spark.readStream.schema(schema).parquet(str(src))
    with pytest.raises(ValueError, match="bands_path"):
        ingest_increment_stream(
            stream,
            output_path=str(tmp_path / "o"),
            fp_path=str(tmp_path / "f"),
            checkpoint=str(tmp_path / "c"),
            near_dup=True,
        )
