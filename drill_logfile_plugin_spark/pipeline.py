"""End-to-end incremental ingestion: the operators, composed.

The repo's LLM-pipeline tier ships as individually certified operators;
this module is the documented composition a corpus team actually runs
when a new crawl/batch arrives against a standing corpus:

    snapshot delta  ->  incremental content dedup  ->  quality filter
    ->  per-document split assignment  ->  token chunking  ->  sequence
    packing

each stage the already-oracle-certified operator (q51's diff + inc-dedup
shapes, q23/q24/q62 via clean_corpus, q55's split construction, q61's
chunk/pack), glued so that **document text never rides a shuffle**:

* the delta and dedup lanes operate on (id, md5-fingerprint)
  projections — ~40 bytes/doc through every exchange regardless of
  document size (the snapshot_diff / exact-dedup discipline);
* the ONE join that brings text its keep-verdict is a left-semi equi
  join against the winner-id set — delta-sized, hence broadcast in any
  realistic increment (AQE decides; the plan contract in
  tests/test_pipeline.py pins that no exchange carries the text column);
* everything after that join is map-only (clean_corpus: fused scan
  expressions; split: a hash of the id; chunk_docs: explode that DROPS
  text) until pack_sequences' per-shard window, which shuffles token
  counts only.

Scale posture at 100 TB: the expensive paths are the two fingerprint
shuffles (O(increment) + O(corpus) fixed-width rows) and the packing
window (O(chunks of the *kept delta*), partitioned by shard — never a
global sort). The fingerprint diff runs ONCE per increment: in near-dup
mode, where the LSH probe, the cluster fold, the verdict and the write
all consume the kept delta, one eager job checkpoints the delta-sized
winner-id column (never text) and every consumer reads that; the
exact-only path has one consumer and stays lazy. Persisting the standing
corpus's fingerprint projection bucketed by id
(sources/sinks.write_bucketed) turns tomorrow's diff into a zero-shuffle
co-located join.

No reference counterpart (the reference is a scan plugin); this is the
LLM-pipeline extension tier's composition surface (SURVEY.md §2 Tier C).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .operators.chunking import chunk_docs, pack_sequences
from .operators.dedup import (
    _barrier,
    dup_clusters,
    incremental_dup_clusters,
    incremental_lsh_pairs,
    lsh_candidate_pairs,
)
from .operators.sampling import leakage_safe_split
from .operators.text import clean_corpus
from .operators.versioning import snapshot_diff


def corpus_fingerprints(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """The ``(id, fp)`` projection of a corpus snapshot — the standing
    state :func:`ingest_increment` actually needs (``existing_fp=``).

    At 100 TB this is THE increment-loop optimization: passing the full
    snapshot as ``existing`` re-reads and re-hashes every document's
    text on every run, while this projection is ~40 bytes/doc — write it
    once per snapshot version (ideally bucketed by the id,
    sources/sinks.write_bucketed, making the delta join zero-shuffle)
    and each increment run touches only fingerprints.
    """
    return df.select(
        F.col(id_col), F.md5(F.col(text_col)).alias("fp")
    )


def ingest_increment(
    existing: DataFrame | None,
    increment: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    langs: tuple[str, ...] | None = None,
    quality_keep: tuple[str, ...] = ("good",),
    drop_repetitive: bool = True,
    chunk_tokens: int = 64,
    pack_budget: int = 2048,
    train_pct: int = 80,
    val_pct: int = 10,
    clusters: DataFrame | None = None,
    existing_fp: DataFrame | None = None,
    near_dup: bool = False,
    standing_bands=None,
    standing_clusters: DataFrame | None = None,
    standing_docs: DataFrame | None = None,
    jaccard_threshold: float = 0.6,
    quality_model=None,
    quality_threshold: float = 0.5,
    dsir_model=None,
    dsir_threshold: float = 0.0,
    langid_model=None,
) -> DataFrame:
    """Process a corpus increment end to end; returns the packed chunk
    table ``(passthrough cols..., split, chunk_id, n_chunk_tokens,
    bin_id)`` — one row per training chunk of every NEW document worth
    keeping.

    ``existing=None`` is the BOOTSTRAP run — no standing corpus yet, so
    the delta and corpus anti-join stages are skipped and the whole
    increment proceeds through dedup/clean/split/chunk/pack; the output
    of run N then serves as ``existing`` for run N+1.

    ``existing_fp`` replaces ``existing`` with its persisted
    :func:`corpus_fingerprints` projection — the production form: the
    standing corpus's text is then never read (let alone re-hashed) by
    an increment run; only ~40 bytes/doc of fingerprints flow through
    the delta and anti-join. Output is identical to passing the full
    snapshot (pinned in pytest). Passing both is a setup error.

    Stages (each the certified operator, see module docstring):

    1. **Delta** — :func:`..operators.versioning.snapshot_diff` against
       the standing corpus: only ``added``/``changed`` ids proceed
       (re-ingesting unchanged documents would duplicate them downstream
       and waste the whole pipeline's work).
    2. **Incremental dedup** — within the delta, exact content dedup
       keeps the min-id representative per fingerprint; content already
       present ANYWHERE in the standing corpus (same bytes under a
       different id — mirrors, reposts) is anti-joined away. Both steps
       on (id, fingerprint) projections only.
    3. **Keep-verdict join** — ONE left-semi equi join brings the
       increment's full rows to their verdict (winner ids are
       delta-sized; AQE broadcasts them in any realistic increment).
    4. **Quality filter** — :func:`..operators.text.clean_corpus`
       (language gate, quality bands, repetition verdict), map-only.
       ``quality_model=`` (a :func:`..operators.classifier.logreg_fit`
       model, e.g. from ``artifacts.load_logreg_model``) adds the
       LEARNED gate after the rules: rows scoring below
       ``quality_threshold`` drop, and since scoring is one JVM
       expression it fuses into the same scan — the model's feature
       columns must be present on the increment (compute them with
       ``doc_quality_features`` before calling, or fit on columns the
       increment already carries). ``dsir_model=`` (a
       :func:`..operators.dsir.dsir_fit` model, e.g. from
       ``artifacts.load_dsir_model``) adds the TARGET-DRIVEN gate after
       both: rows whose DSIR log importance weight falls below
       ``dsir_threshold`` drop (stage 4c — thresholded importance
       resampling, the increment-safe form of the DSIR selection).
       ``langid_model=`` (r10, a fitted
       :func:`..operators.langid.lang_id_fit` model, e.g. from
       ``artifacts.load_langid_model``) swaps the clean stage's
       5-language marker heuristic for the learned classifier — the
       ``langs`` gate then speaks the model's class labels.
    5. **Split** — per-document train/val/test via the q55 md5-bucket
       construction (a pure function of the id: reproducible across
       engines and corpus versions), assigned BEFORE chunking so every
       chunk of a document lands in the same split. Pass ``clusters``
       (a dup_clusters frame) to use
       :func:`..operators.sampling.leakage_safe_split` instead — near-dup
       cluster members then share a split, closing the twin-leak.
    6. **Chunk + pack** — :func:`..operators.chunking.chunk_docs` (drops
       text) then :func:`..operators.chunking.pack_sequences` per
       ``source_col`` shard.

    ``near_dup=True`` inserts stage **2c** between dedup and the
    keep-verdict join: MinHash-LSH near-duplicate adjudication of the
    exact-unique delta (:func:`..operators.dedup.incremental_lsh_pairs`
    against the standing corpus, :func:`..operators.dedup.
    lsh_candidate_pairs` within a bootstrap), so crawl VARIANTS — same
    page re-fetched with a new timestamp, boilerplate shuffled — are
    dropped, not just byte-identical content. Policy: a standing member
    always wins its cluster (it is already in the corpus); among
    new-only clusters the min-id member survives. The resulting cluster
    map (folded into ``standing_clusters`` when given, see
    :func:`..operators.dedup.incremental_dup_clusters`) then drives the
    leakage-safe split automatically — surviving members of a near-dup
    cluster share a split with their standing twins, closing the
    twin-leak without a separate ``clusters=`` hand-off (passing
    ``clusters`` alongside ``near_dup=True`` is therefore a setup
    error). ``standing_bands`` takes the persisted
    :func:`..operators.dedup.minhash_bands` index (or the
    ``load_band_index`` tuple, geometry-validated) so the standing
    corpus is never re-banded; because the exact re-rank must read
    candidate-hit standing TEXT, near-dup against a standing corpus
    needs a text source: the full ``existing`` snapshot, or — when the
    exact lanes run on ``existing_fp`` (the production projection) —
    ``standing_docs``, a ``(id, text)`` frame of the standing corpus
    (only candidate-hit rows of it are ever read past the scan).
    Neither present raises (run exact-only instead).

    Eagerness: exact-only mode builds with no Spark job — the whole
    increment runs in the caller's action. Near-dup mode runs one eager
    job at build time that checkpoints the winner-id set of stage 2
    (:func:`..operators.dedup._barrier`, either checkpoint mode), so the
    snapshot diff and the anti-join against the standing fingerprints
    run once per increment instead of once per stage-2c consumer; the
    LSH probe and cluster ladder add their own barriers on top.
    """
    if existing is not None and existing_fp is not None:
        raise ValueError(
            "pass existing (full snapshot) OR existing_fp (its "
            "corpus_fingerprints projection), not both"
        )
    if near_dup and clusters is not None:
        raise ValueError(
            "near_dup=True derives the cluster map itself (fold of "
            "standing_clusters + this increment's pairs) — passing "
            "clusters= too is ambiguous; pass standing_clusters instead"
        )
    if (
        near_dup
        and existing is None
        and standing_docs is None
        and existing_fp is not None
    ):
        raise ValueError(
            "near_dup=True against a standing corpus needs a text "
            "source for the exact Jaccard re-rank (the fingerprint "
            "projection has none) — pass existing= (the full snapshot) "
            "or standing_docs= (an (id, text) frame), or run exact-only"
        )
    # Normalize the standing state to one (id, __fp) frame: from the
    # persisted projection when given (the production form — corpus text
    # never read), else hashed from the full snapshot; None = bootstrap.
    new_fp = increment.select(
        F.col(id_col), F.md5(F.col(text_col)).alias("__fp")
    )
    if existing_fp is not None:
        old_fp = existing_fp.select(
            F.col(id_col), F.col("fp").alias("__fp")
        )
    elif existing is not None:
        old_fp = existing.select(
            F.col(id_col), F.md5(F.col(text_col)).alias("__fp")
        )
    else:
        old_fp = None

    # 1. delta ids (snapshot_diff emits its key as 'doc_id'); bootstrap
    # run: the whole increment IS the delta
    if old_fp is not None:
        delta_ids = (
            snapshot_diff(
                old_fp, new_fp, id_col=id_col, fingerprint_col="__fp"
            )
            .where(F.col("status").isin("added", "changed"))
            .select(F.col("doc_id").alias(id_col))
        )
        new_fp = new_fp.join(delta_ids, id_col, "left_semi")
        # 2a. content anywhere in the standing corpus never re-enters
        new_fp = new_fp.join(old_fp.select("__fp"), "__fp", "left_anti")

    # 2b. winner ids: min-id representative per fingerprint (narrow lanes)
    winners = (
        new_fp.groupBy("__fp")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    if near_dup:
        # every stage-2c consumer of ``kept`` would otherwise re-run the
        # diff and the O(corpus) anti-join; checkpoint the id column only
        winners = _barrier(winners)

    # 3. the one wide join: text meets its keep-verdict
    kept = increment.join(winners, id_col, "left_semi")

    # 2c. near-dup adjudication of the exact-unique delta (opt-in).
    # Ordering note: this runs AFTER the keep-verdict join because it
    # needs text (tokenize/band/re-rank) and must only consider
    # exact-winners — banding exact-duplicate rows would waste work on
    # content already adjudicated. Text still never rides an exchange:
    # the LSH lanes project text to token hashes scan-side; only
    # candidate-hit documents' shingle sets (O(duplicates)) shuffle in
    # the exact re-rank (the q27/incremental-probe discipline).
    split_clusters = clusters
    if near_dup:
        standing_src = standing_docs if standing_docs is not None else existing
        if old_fp is not None and standing_src is not None:
            pairs = incremental_lsh_pairs(
                kept,
                standing_src,
                standing_bands=standing_bands,
                text_col=text_col,
                id_col=id_col,
                jaccard_threshold=jaccard_threshold,
            )
        else:
            pairs = lsh_candidate_pairs(
                kept, text_col, id_col,
                jaccard_threshold=jaccard_threshold,
            )
        pair_edges = pairs.select("doc_a", "doc_b")
        if standing_clusters is not None:
            # A changed document is a NEW node judged on its new text
            # (the pairs above re-rank it on that text), but the map's
            # rows that name its id describe the OLD text. Folding them
            # in would hand the new version its old cluster, dropping it
            # whatever it now says, so they are left out of the fold.
            # Verdicts cannot miss them: every new member of a
            # component holding a standing node loses, and a new node
            # reaches a standing node only through its own pairs, never
            # through standing-to-standing links.
            new_nodes = kept.select(F.col(id_col).alias("node"))
            current = standing_clusters.join(
                new_nodes, "node", "left_anti"
            ).join(
                new_nodes.withColumnRenamed("node", "cluster_id"),
                "cluster_id",
                "left_anti",
            )
            merged = incremental_dup_clusters(current, pair_edges)
        else:
            merged = dup_clusters(pair_edges)
        # Survivor policy for an increment: a standing member always
        # wins its cluster (that content is already in the corpus —
        # an increment run must never displace it); among new-only
        # clusters the min-id member survives (= cluster_id, the map's
        # id policy). Nodes in the map but not in this delta are
        # standing by definition.
        new_ids = kept.select(F.col(id_col).alias("node")).withColumn(
            "__new", F.lit(1)
        )
        labeled = merged.join(new_ids, "node", "left")
        verdicts = labeled.groupBy("cluster_id").agg(
            F.max(F.when(F.col("__new").isNull(), 1).otherwise(0)).alias(
                "__has_standing"
            ),
            F.min(F.when(F.col("__new") == 1, F.col("node"))).alias(
                "__min_new"
            ),
        )
        losers = (
            labeled.where(F.col("__new") == 1)
            .join(verdicts, "cluster_id")
            .where(
                (F.col("__has_standing") == 1)
                | (F.col("node") != F.col("__min_new"))
            )
            .select(F.col("node").alias(id_col))
        )
        kept = kept.join(losers, id_col, "left_anti")
        # the merged map drives the split: surviving members of a
        # near-dup cluster share a bucket with their standing twins
        split_clusters = merged

    # 4. map-only quality filter
    cleaned = clean_corpus(
        kept,
        text_col=text_col,
        id_col=id_col,
        langs=langs,
        quality_keep=quality_keep,
        drop_repetitive=drop_repetitive,
        langid_model=langid_model,
    )

    # 4b. optional LEARNED quality gate (classifier.logreg_fit model):
    # scoring is one JVM expression folded into the same scan as the
    # rule filter above — a trained model prices like a rule. Features
    # must already be columns (or come from doc_quality_features-style
    # expressions the model was fit on); rows scoring NULL (any NULL
    # feature) are dropped like any other absent-value verdict.
    if quality_model is not None:
        from .operators.classifier import logreg_score

        cleaned = (
            logreg_score(cleaned, quality_model, "__q")
            .where(F.col("__q") >= F.lit(float(quality_threshold)))
            .drop("__q")
        )

    # 4c. optional TARGET-DRIVEN gate (dsir.dsir_fit model): keep rows
    # whose DSIR log importance weight clears ``dsir_threshold`` — the
    # thresholded form of importance resampling, the right shape for an
    # incremental pipeline (a global top-k across increments is not
    # well-defined; calibrate the threshold once on a reference corpus
    # quantile and every increment applies it identically). Unlike the
    # learned gate this is NOT map-only — scoring explodes (id, bucket)
    # pairs through a broadcast join and one partial-agg'd sum — but the
    # exchange carries 12-byte pairs, never text, and the verdict comes
    # back via one id semi join. Unscorable rows (no tokens) drop, the
    # absent-value rule.
    if dsir_model is not None:
        from .operators.dsir import dsir_score

        keep_ids = (
            dsir_score(cleaned, dsir_model, id_col=id_col, text_col=text_col)
            .where(F.col("dsir_logw") >= F.lit(float(dsir_threshold)))
            .select(id_col)
        )
        cleaned = cleaned.join(keep_ids, id_col, "left_semi")

    # 5. per-document split (before chunking: chunks inherit it)
    if split_clusters is not None:
        assigned = leakage_safe_split(
            cleaned, split_clusters, id_col=id_col,
            train_pct=train_pct, val_pct=val_pct,
        )
    else:
        bucket = (
            F.conv(
                F.substring(F.md5(F.col(id_col).cast("string")), 1, 4), 16, 10
            ).cast("long")
            % 100
        )
        assigned = cleaned.withColumn(
            "split",
            F.when(bucket < train_pct, "train")
            .when(bucket < train_pct + val_pct, "val")
            .otherwise("test"),
        )

    # 6. chunk (drops text) + pack per shard
    chunks = chunk_docs(assigned, text_col=text_col, chunk_tokens=chunk_tokens)
    return pack_sequences(
        chunks, budget=pack_budget, shard_col=source_col, id_col=id_col
    )


def ingest_increment_stream(
    increment_stream: DataFrame,
    output_path: str,
    fp_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    near_dup: bool = False,
    docs_path: str | None = None,
    bands_path: str | None = None,
    **pipeline_kwargs,
):
    """Continuous corpus ingestion: :func:`ingest_increment` as a
    Structured Streaming ``foreachBatch`` loop with a PERSISTENT
    fingerprint store, so deduplication works ACROSS micro-batches and
    across restarts — batch N+1 never re-ingests content batch N (or
    any earlier run) already adjudicated.

    Per micro-batch:

    1. read the standing fingerprint store from ``fp_path`` (absent on
       the very first batch — that batch bootstraps),
    2. run :func:`ingest_increment` with ``existing_fp=`` (the
       production projection — only fingerprints flow through the
       delta/dedup lanes),
    3. write the packed chunks to ``output_path/epoch=N`` and the
       batch's NEW fingerprints to ``fp_path/epoch=N`` — both
       ``overwrite`` of the epoch directory, so a replayed batch (the
       foreachBatch at-least-once contract after a failure) rewrites
       its own epoch instead of duplicating rows: the loop is
       idempotent per epoch, hence exactly-once end to end.

    The store accumulates every fingerprint the loop has ADJUDICATED
    (each batch's distinct new content, winner id attached), not just
    what survived cleaning — re-appearing junk is skipped at the
    fingerprint join instead of being re-cleaned every batch. Read
    outputs with ``spark.read.parquet(output_path)`` (epoch becomes a
    partition column).

    ``near_dup=True`` extends the loop's standing state from one store
    to three, all epoch-partitioned with the same replay-safe
    ``epoch < N`` read and idempotent per-epoch overwrite:

    * ``fp_path`` — every adjudicated fingerprint (as before);
    * ``docs_path`` (required) — ``(id, text)`` of each epoch's PACKED
      survivors: corpus membership, the text source for the exact
      Jaccard re-rank (only candidate-hit rows are read past the scan);
    * ``bands_path`` (required) — those survivors' MinHash band rows
      (default geometry): the standing index, accumulated one epoch at
      a time — a batch is banded exactly once, when it enters the
      corpus, which IS :func:`..operators.dedup.update_band_index`'s
      fold expressed as epoch partitions (append the increment's bands;
      retirement is implicit because a changed document re-entering is
      a new epoch row and the delta stage already keeps old ids out).

    A near-variant of ANY earlier epoch's surviving content is then
    dropped by stage 2c, not just byte-identical re-posts.

    Returns the started ``StreamingQuery``; the caller owns its
    lifecycle. ``pipeline_kwargs`` pass through to
    :func:`ingest_increment` (langs, quality_keep, chunk_tokens, ...).
    """
    if near_dup and (docs_path is None or bands_path is None):
        raise ValueError(
            "near_dup streaming needs docs_path and bands_path (the "
            "standing text + band stores that make the probe incremental)"
        )
    spark = increment_stream.sparkSession

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        _process_increment_batch(
            spark,
            batch_df,
            int(epoch_id),
            output_path,
            fp_path,
            id_col=id_col,
            text_col=text_col,
            near_dup=near_dup,
            docs_path=docs_path,
            bands_path=bands_path,
            **pipeline_kwargs,
        )

    return (
        increment_stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def _process_increment_batch(
    spark,
    batch_df: DataFrame,
    epoch_id: int,
    output_path: str,
    fp_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    near_dup: bool = False,
    docs_path: str | None = None,
    bands_path: str | None = None,
    **pipeline_kwargs,
) -> None:
    """One epoch of :func:`ingest_increment_stream`, module-level so the
    replay contract is directly testable.

    REPLAY SAFETY (the subtle half of the idempotency claim): the store
    read excludes the CURRENT epoch's own directory. A batch that
    crashed after writing its fingerprints but before the checkpoint
    commit is replayed with the same epoch id — if the store included
    epoch N's partial fingerprints, the replay would see its own content
    as "already present", ingest nothing, and OVERWRITE epoch N's output
    and fingerprints with empty frames (silent data loss). Excluding
    ``epoch >= epoch_id`` makes a replay see exactly what the first
    attempt saw, so the overwrite reproduces the same bytes. Epoch ids
    are monotonically increasing per checkpoint (the foreachBatch
    contract), so the strict filter is correct for future epochs too.
    """
    from pyspark.sql import functions as _F
    from pyspark.sql.utils import AnalysisException

    def _read_state(path: str | None, cols):
        if path is None:
            return None
        try:
            return (
                spark.read.parquet(path)
                .where(_F.col("epoch") < epoch_id)
                .select(*cols)
            )
        except AnalysisException:
            return None  # store absent: bootstrap (or first near-dup epoch)

    store = _read_state(fp_path, [id_col, "fp"])
    standing_docs = standing_bands = None
    if near_dup:
        standing_docs = _read_state(docs_path, [id_col, text_col])
        standing_bands = _read_state(
            bands_path, ["doc_id", "band_id", "bucket"]
        )
    packed = ingest_increment(
        None,
        batch_df,
        id_col=id_col,
        text_col=text_col,
        existing_fp=store,
        # enabled when there is a standing text store to probe OR this
        # is the very first epoch (bootstrap: within-batch near-dup)
        near_dup=near_dup and (standing_docs is not None or store is None),
        standing_docs=standing_docs,
        standing_bands=standing_bands,
        **pipeline_kwargs,
    )
    packed.write.mode("overwrite").parquet(f"{output_path}/epoch={epoch_id}")
    if near_dup:
        # fold this epoch's PACKED survivors into the standing text +
        # band stores (read back from the just-written epoch so the
        # pipeline is not recomputed); idempotent overwrite per epoch,
        # same replay contract as the fingerprint store below
        from .operators.dedup import minhash_bands

        kept_ids = (
            spark.read.parquet(f"{output_path}/epoch={epoch_id}")
            .select(id_col)
            .distinct()
        )
        kept_docs = batch_df.select(id_col, text_col).join(
            kept_ids, id_col, "left_semi"
        )
        kept_docs.write.mode("overwrite").parquet(
            f"{docs_path}/epoch={epoch_id}"
        )
        minhash_bands(
            spark.read.parquet(f"{docs_path}/epoch={epoch_id}"),
            text_col=text_col,
            id_col=id_col,
        ).write.mode("overwrite").parquet(f"{bands_path}/epoch={epoch_id}")
    new_fp = corpus_fingerprints(
        batch_df, id_col=id_col, text_col=text_col
    ).groupBy("fp").agg(_F.min(id_col).alias(id_col))
    if store is not None:
        new_fp = new_fp.join(store.select("fp"), "fp", "left_anti")
    new_fp.select(id_col, "fp").write.mode("overwrite").parquet(
        f"{fp_path}/epoch={epoch_id}"
    )
