"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Design for 100 TB
-----------------
* **Exact dedup** groups on ``md5(text)`` — a fixed 32-byte shuffle key —
  never on the raw document text (shuffling multi-KB keys is the classic
  exact-dedup scale mistake).
* **MinHash+LSH** never compares all pairs: each doc emits ``bands`` small
  (band_id, bucket) keys; candidate pairs come from an equi shuffle join on
  those keys, so cost is O(sum of bucket sizes²) ≈ O(n_dups), not O(n²).
  The exact Jaccard re-check then removes LSH false positives.
* **SimHash** pairs join on one of four 8-bit bytes of the 32-bit signature
  (pigeonhole: any pair within Hamming distance 3 agrees on ≥1 byte), so the
  candidate join is equi-key too, and the result is *exactly* the set of
  pairs with distance ≤ 3 — banding here is lossless, not approximate.
* Hash policy: md5 where the oracle must replicate the value bit-for-bit
  (exact-dedup content hash, fingerprints, SimHash — md5 is identical in
  Spark, DuckDB, and hashlib); xxhash64 where the hash is internal
  candidate-generation state judged only by its *output pairs* (MinHash
  signatures/buckets — the LSH oracle is the exact all-pairs Jaccard, so
  the cheap non-cryptographic JVM intrinsic is the right hot-path choice).

No row-at-a-time Python UDFs anywhere — expressions are JVM-side except
the MinHash signature/banding step, which is an Arrow-batched pandas UDF
(one numpy pass per batch; the pure-SQL formulation needed 128 interpreted
lambda traversals per doc and was ~5× slower end-to-end).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

from .text import TOKS_DUCK, TOKS_SPARK

def _spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition when the source has fewer splits than cores.

    The shingle/signature expressions below are interpreted higher-order
    functions — CPU-bound per-document work. On a real corpus the parquet
    scan yields thousands of splits and this is a no-op; on a small table
    (one file = one split) every core but one would idle through the most
    expensive phase of the operator. Shuffling the raw docs once (a few
    hundred bytes each) is far cheaper than single-threading the parse.

    The split estimate is driver-side metadata only — input-file count
    plus the optimizer's size statistic over ``maxPartitionBytes`` (large
    files split) — never RDD ``getNumPartitions``, which converts the
    plan to an RDD and materializes scan state per call (banned
    package-wide; tests/test_plans.py source sweep).

    Precondition: the input is a scan-rooted frame (a table read, a
    filter/semi-join over one — every in-package call site), where leaf
    metadata reflects real execution parallelism. A plan that collapses
    partitioning downstream of the scan (``limit``, ``coalesce(1)``) is
    invisible to leaf metadata; callers building such plans should
    repartition explicitly before the pair operators. The converse miss
    (a post-shuffle frame over a 1-file table paying one redundant
    repartition of raw docs) is the cheap direction by design.
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    if _est_scan_splits(df) < par:
        return df.repartition(par)
    return df


def _est_scan_splits(df: DataFrame) -> int:
    """Driver-side metadata estimate of a scan-rooted frame's split count.

    Input-file count plus the optimizer's size statistic over
    ``maxPartitionBytes`` (large files split) — never RDD
    ``getNumPartitions`` (see :func:`_spread`'s docstring for the whys
    and the scan-rooted precondition). Returns 0 when the source is not
    file-backed or stats are unavailable — callers must treat 0 as
    UNKNOWN (spread to be safe), never as "empty"."""
    try:
        est = len(df.inputFiles())
        par = df.sparkSession.sparkContext.defaultParallelism
        if est and est < par:
            # Account for big files splitting: bytes / maxPartitionBytes.
            size = int(
                df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
            )
            mpb = _bytes_conf(
                df.sparkSession, "spark.sql.files.maxPartitionBytes", 128 << 20
            )
            est = max(est, -(-size // mpb))
        return est
    except Exception:
        return 0  # non-file source / stats unavailable: unknown


def _bytes_conf(spark, key: str, default: int) -> int:
    """Read a Spark byte-size conf ("134217728", "128m", "1g") — parsed by
    Spark's own JavaUtils.byteStringAsBytes, the parser the conf itself
    goes through, so the interpretation cannot drift from Spark's."""
    raw = spark.conf.get(key, None)
    if raw is None:
        return default
    try:
        return int(
            spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
                str(raw)
            )
        )
    except Exception:
        return default


#: Conf key to force executor-local barriers even when a checkpoint dir is
#: configured (escape hatch for tests / single-node runs).
RELIABLE_CHECKPOINT_CONF = "spark.graft.dedup.reliableCheckpoint"


def _barrier(df: DataFrame) -> DataFrame:
    """Eager iteration/reuse barrier with a fault-domain choice.

    Default (no checkpoint dir configured): ``localCheckpoint`` —
    executor-local disk, zero setup, right for single-node and
    interactive runs. Its trade: losing an executor loses the
    checkpointed partitions WITH their lineage, failing the job.

    Cluster mode: call ``spark.sparkContext.setCheckpointDir(path)``
    (HDFS/object store) before running the operator and the same barrier
    becomes a reliable ``checkpoint()`` — survives executor loss, at the
    cost of a write to the fault-tolerant store. The frame is persisted
    around the checkpoint: Spark's reliable checkpoint otherwise executes
    the subplan once to return rows and AGAIN to write the checkpoint
    files (the classic uncached-checkpoint double-compute). Set the
    ``spark.graft.dedup.reliableCheckpoint=false`` conf to force local
    barriers even with a dir configured. Both modes produce identical
    results (tests/test_llm_ops.py pins cluster equality across modes);
    only the fault domain differs.
    """
    spark = df.sparkSession
    if (
        spark.sparkContext.getCheckpointDir() is not None
        and str(spark.conf.get(RELIABLE_CHECKPOINT_CONF, "true")).lower()
        != "false"
    ):
        cached = df.persist()
        try:
            return cached.checkpoint(eager=True)
        finally:
            cached.unpersist()
    return df.localCheckpoint(eager=True)


def _lazy_barrier(df: DataFrame) -> DataFrame:
    """Reuse barrier that materializes inside the CONSUMING action.

    Same role as :func:`_barrier` — one physical computation feeding
    several consumers — minus the eager driver-blocking job: the
    returned frame wraps ONE checkpoint-marked RDD, so every consumer
    subtree scans the same RDD object and the scheduler's stage dedup
    (keyed on RDD identity — no canonicalization race, unlike AQE
    exchange reuse across concurrently-submitted stages) computes it
    exactly once, on first use, overlapped with whatever independent
    stages the action is already running. Deliberately NOT ``persist``:
    a lazy cache registers in the CacheManager keyed on the canonical
    plan, so a later identical build (e.g. the bench's min-of-3 re-run
    of the same query) would silently read the first run's data instead
    of recomputing — a correctness-neutral but measurement-corrupting
    reuse this engine bans.

    Use it when nothing at construction time needs the materialized
    rows; keep :func:`_barrier` when a collect/observe/size decision
    reads them before the plan is final. Reliable-checkpoint mode
    (checkpoint dir configured) stays EAGER: a lazy reliable checkpoint
    cannot use the persist-around-checkpoint double-compute guard
    without leaking the cache past the action.
    """
    spark = df.sparkSession
    if (
        spark.sparkContext.getCheckpointDir() is not None
        and str(spark.conf.get(RELIABLE_CHECKPOINT_CONF, "true")).lower()
        != "false"
    ):
        return _barrier(df)
    return df.localCheckpoint(eager=False)


def _ladder_session(df: DataFrame):
    """Move ``df`` into a LADDER SESSION: a clone of its session with AQE
    off and ladder-width shuffles. Returns ``(moved_df, home)``, where
    ``home(frame)`` moves a ladder result back to the caller's session.

    Trainer loops (BPE/WordPiece merge rounds, unigram EM) and the graph
    contractions (dup_clusters, pagerank) submit one tiny job per round
    over cached or checkpointed vocab/pair-graph-sized frames. AQE turns
    each of those queries into several driver round-trips (one job per
    materialized query stage + the final job) to earn runtime
    re-planning that such a frame never needs — its joins are hash-
    joinable either way and there is no skew to split. Measured on the
    sf0.1 corpus (warm session): the 7-round BPE+WordPiece ladder drops
    34 -> 11 jobs and ~3.4 -> ~2.2 s with merges bit-identical. This is
    NOT a local-mode constant: every AQE stage costs a driver scheduling
    round-trip on a cluster too, and the ladder is latency-bound by
    construction (the corpus-sized passes stay in the caller's session,
    where AQE coalescing/skew handling keep their value). The shuffle
    width is ``max(4, defaultParallelism // 4)`` (the trainers'
    ``round_partitions`` sizing, cluster-proportional); ladder
    aggregates are integer-exact (argmax over integer counts, integer
    min/sum folds), so neither AQE nor partition count can change a
    value.

    Why a session and not a conf flip: Spark plans capture SQL confs at
    freeze time, so flipping the caller's session would pin every plan
    another thread freezes meanwhile to ladder geometry. The clone has
    its own SQLConf and shares the SparkContext and the cache, so plans
    frozen anywhere else keep the caller's confs, and the caller's
    session is never written. It is a CLONE, not ``newSession()``: a
    new session starts from the static defaults (ANSI on, 200 shuffle
    partitions, JVM timezone), while the clone carries the caller's
    confs (``configure_session``'s ANSI/timezone settings, the
    :data:`RELIABLE_CHECKPOINT_CONF` knob). Cloning takes ~3 ms (4-core
    local[4] driver).

    Frames cross sessions by their analyzed plan through
    ``Dataset.ofRows`` — the one internal-API use in the package
    (``org.apache.spark.sql.classic`` on Spark 4,
    ``org.apache.spark.sql`` on 3.5). Moved inputs should be
    checkpointed or cached, so the ladder reads their rows rather than
    re-planning their lineage; moved-back results are plain frames of
    the caller's session (lazy checkpoints included, materializing in
    the caller's consuming action).
    """
    from py4j.java_gateway import JavaClass

    home = df.sparkSession
    ladder = type(home)(home.sparkContext, home._jsparkSession.cloneSession())
    ladder.conf.set("spark.sql.adaptive.enabled", "false")
    ladder.conf.set(
        "spark.sql.shuffle.partitions",
        str(max(4, home.sparkContext.defaultParallelism // 4)),
    )
    dataset = home._jvm.org.apache.spark.sql.classic.Dataset
    if not isinstance(dataset, JavaClass):
        dataset = home._jvm.org.apache.spark.sql.Dataset

    def move(frame: DataFrame, session) -> DataFrame:
        plan = frame._jdf.queryExecution().analyzed()
        return DataFrame(dataset.ofRows(session._jsparkSession, plan), session)

    return move(df, ladder), lambda out: move(out, home)


def _probed_barrier(df: DataFrame, metric):
    """:func:`_barrier` + one observed scalar riding the SAME job.

    Iterative operators (dup_clusters) need a convergence probe after
    every barrier; a separate ``isEmpty()``/``count()`` action would
    re-execute the subplan, doubling the driver loop's job count.
    ``df.observe`` metrics fire on the eager checkpoint action itself, so
    the probe is free. Returns (checkpointed df, metric value).

    Contract: under reliable-mode cache eviction the subplan (metrics
    node included) can partially re-execute, INFLATING the accumulated
    value — it never undercounts. Callers may therefore rely on it as
    (a) a zero/nonzero convergence signal (re-execution of an
    all-false/empty frame accumulates zero), or (b) an UPPER bound fed to
    a size-triggered perf hint such as :func:`_maybe_broadcast` — an
    inflated count can only SUPPRESS a broadcast, degrading that run to
    the shuffle path it would otherwise take, never mis-planning a
    too-large broadcast. Any use where an overcount could change
    *results* (not plans) needs a real count instead.
    """
    from pyspark.sql import Observation

    obs = Observation()
    out = _barrier(df.observe(obs, metric))
    return out, obs.get["n"]


# --- shingling ------------------------------------------------------------


def bind_once_sql_spark(arr_sql: str, body: str, var: str = "tk") -> str:
    """Bind an array expression to a lambda variable so the BODY can
    reference it many times while it is evaluated ONCE.

    The trap this exists for: a SQL fragment like
    ``transform(sequence(...), i -> slice({toks}, i + 1, n))`` re-inlines
    ``{toks}`` — a regex ``split`` over the document — INSIDE the lambda,
    and Spark evaluates lambda bodies per element with no common-
    subexpression elimination across the boundary, so the split runs once
    per position: O(tokens²) per document. Measured at sf0.1 on the
    8-gram explode: 2.6 s inlined vs 0.55 s bound (4.7x). Wrapping the
    expression as the sole element of an array and binding it via an
    outer ``transform`` evaluates it once; ``element_at(..., 1)``
    unwraps under both ANSI modes.
    """
    return f"element_at(transform(array({arr_sql}), {var} -> {body}), 1)"


def shingles_sql_spark(col: str, n: int) -> str:
    """Distinct word n-gram strings of a text column (Spark SQL fragment).

    Guarded for documents shorter than ``n`` tokens (an empty shingle
    set): Spark's ``sequence(0, negative)`` generates a DESCENDING range,
    whose -1 index then crashes ``slice`` under ANSI — short documents
    are routine after cleaning/stripping stages, so the guard is
    correctness, not pedantry. DuckDB's ``range`` clamps to empty on its
    own (the mirror needs no guard). The token array is bound once via
    :func:`bind_once_sql_spark` — inlining it would re-run the regex
    split per shingle position (the O(tokens²) trap measured 4.7x).
    """
    toks = TOKS_SPARK.format(c=col)
    return bind_once_sql_spark(
        toks,
        f"IF(size(tk) >= {n}, "
        f"array_distinct(transform(sequence(0, size(tk) - {n}), "
        f"i -> array_join(slice(tk, i + 1, {n}), ' '))), "
        f"array())",
    )


def shingles_sql_duck(col: str, n: int) -> str:
    toks = TOKS_DUCK.format(c=col)
    return (
        f"list_distinct(list_transform(range(len({toks}) - {n - 1}), "
        f"i -> array_to_string({toks}[i + 1 : i + {n}], ' ')))"
    )


def shingles(col: str = "text", n: int = 3) -> Column:
    return F.expr(shingles_sql_spark(col, n))


# --- exact dedup ----------------------------------------------------------


def exact_dedup_survivors(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """One row per distinct content: (content_hash, keep_id, n_copies).

    keep_id = MIN(id) is the canonical deterministic survivor policy.

    NULL text is NOT content: ``md5(NULL)`` is NULL, and grouping it
    would fold every unfetched/failed-extraction row into one "content"
    group and silently delete all but the minimum id. NULL-text rows
    each survive as their own singleton (keep_id = own id, n_copies = 1,
    content_hash NULL) — "text missing" is not provably duplicate.
    """
    base = df.select(
        F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col)
    )
    grouped = (
        base.where(F.col("content_hash").isNotNull())
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )
    nulls = base.where(F.col("content_hash").isNull()).select(
        "content_hash",
        F.col(id_col).alias("keep_id"),
        F.lit(1).cast("long").alias("n_copies"),
    )
    return grouped.unionByName(nulls)


# --- MinHash + LSH --------------------------------------------------------


def _lane_seeds(num_hashes: int) -> list[int]:
    """Deterministic 64-bit per-lane seeds, md5-derived at plan-build
    time (pure Python, no RNG state — reproducible across sessions)."""
    return [
        int.from_bytes(
            hashlib.md5(f"spark-graft-minhash:{k}".encode()).digest()[:8],
            "big",
        )
        for k in range(num_hashes)
    ]


def _band_buckets_udf(num_hashes: int, bands: int, shingle_n: int):
    """Pandas UDF: token-hash array -> per-band LSH bucket ids.

    Input is one xxhash64 per TOKEN (the only per-string work, done on
    the JVM as a single ``transform`` — n ops, not n_shingles × n string
    ops). Everything downstream is vectorized numpy per Arrow batch:

    * shingle hash = FNV-style rolling polynomial over ``shingle_n``
      consecutive token hashes (wrapping int64 — deterministic; its
      linear suffix-correlation is harmless because each lane applies a
      full scramble below),
    * MinHash lane k = ``MIN over shingles of splitmix64(h XOR seed_k)``
      — a genuinely independent scramble per lane. Two rejected
      formulations looked right and were statistically broken, caught by
      the planted-borderline-pair test (tests/test_llm_ops.py): a
      multiply-add ``h*a_k+b_k`` is MONOTONIC in h (every lane's min
      collapses to the argmin shingle — one k=1 minhash wearing 128
      hats), and adding ``mod 2^61-1`` barely helps because products
      stay under 2^62, so the map wraps at most once and lanes remain
      ~95% correlated — miss rate degrades from the advertised
      (1-J^r)^b to roughly (1-J). The XOR+finalizer map has no such
      order structure. Computed as one ``(m, num_hashes)`` uint64
      broadcast + column min,
    * band bucket = the same FNV polynomial over the band's lanes.

    An earlier pure-SQL formulation ran the lane arithmetic as 128
    interpreted ``transform`` lambdas per doc (HOFs are never codegen'd)
    and was ~5× slower end-to-end. All values here are internal
    candidate-generation state, never oracle-compared: hash choices only
    decide which *unequal* shingles/lane-tuples collide, and collisions
    are false-positive candidates that the exact Jaccard re-rank removes
    — the operator's output is invariant to them.
    """
    seeds = np.asarray(_lane_seeds(num_hashes), dtype=np.uint64)
    rows = num_hashes // bands
    fnv = np.int64(1099511628211)
    c1 = np.uint64(0xBF58476D1CE4E5B9)
    c2 = np.uint64(0x94D049BB133111EB)

    def mix64(z: np.ndarray) -> np.ndarray:
        """splitmix64 finalizer, elementwise over uint64."""
        z = z ^ (z >> np.uint64(30))
        z = z * c1
        z = z ^ (z >> np.uint64(27))
        z = z * c2
        return z ^ (z >> np.uint64(31))

    @F.pandas_udf(ArrayType(LongType()))
    def buckets(token_hashes: pd.Series) -> pd.Series:
        out = []
        with np.errstate(over="ignore"):
            for arr in token_hashes:
                t = np.asarray(arr, dtype=np.int64)
                m = t.size - shingle_n + 1
                if m <= 0:
                    sh = np.zeros(1, dtype=np.int64)
                else:
                    sh = np.zeros(m, dtype=np.int64)
                    for j in range(shingle_n):
                        sh = sh * fnv + t[j : j + m]
                # Blocked lane min: the (m, num_hashes) scramble matrix
                # is ~1 GB for a 1M-shingle document (and splitmix64's
                # temporaries multiply that), which turns one giant doc
                # into an allocation-bound 80 s row. Running the min
                # over 64k-shingle blocks bounds peak memory at
                # ~64 MB/doc with identical output (min is associative);
                # typical docs fit one block and take the same path.
                shu = sh.astype(np.uint64)
                mins = np.full(
                    num_hashes, np.uint64(0xFFFFFFFFFFFFFFFF), dtype=np.uint64
                )
                for s0 in range(0, shu.size, 65536):
                    blk = mix64(
                        shu[s0 : s0 + 65536, None] ^ seeds
                    ).min(axis=0)
                    np.minimum(mins, blk, out=mins)
                lanes = mins.astype(np.int64)
                bl = lanes.reshape(bands, rows)
                acc = np.zeros(bands, dtype=np.int64)
                for r in range(rows):
                    acc = acc * fnv + bl[:, r]
                out.append(acc)
        return pd.Series(out)

    return buckets


def minhash_bands(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    num_hashes: int = 128,
    bands: int = 64,
    spread: bool = True,
) -> DataFrame:
    """The ``(doc_id, band_id, bucket)`` MinHash-LSH band table of a
    corpus — the near-dup INDEX, now a public artifact.

    This is the expensive half of :func:`lsh_candidate_pairs` (tokenize
    + ``num_hashes`` scrambled lane minima per document); the join that
    follows is O(duplicates). At 100 TB the index-once/probe-many shape
    matters: persist this table per snapshot (ideally bucketed on
    ``(band_id, bucket)`` — sources/sinks.write_bucketed — so probes
    co-locate) and each increment banding-hashes ONLY its own documents
    (:func:`incremental_lsh_pairs`); the standing corpus is never
    re-tokenized. Persist/restore with :func:`save_band_index` /
    :func:`load_band_index`, which pin the (shingle_n, num_hashes,
    bands) geometry — probing an index with mismatched geometry would
    silently miss candidates, so the loader's manifest makes it a setup
    error instead.

    Documents with fewer than ``shingle_n`` tokens are excluded (empty
    shingle set — every one would collide with every other in every
    band and re-rank to 0/0; exact dedup owns them).
    """
    if num_hashes % bands != 0 or bands > num_hashes:
        raise ValueError(
            f"bands ({bands}) must divide num_hashes ({num_hashes})"
        )
    if spread:
        df = _spread(df)
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.expr(TOKS_SPARK.format(c=text_col)).alias("toks"),
    ).where(F.size("toks") >= shingle_n)
    # Candidate generation hashes each TOKEN once (xxhash64, a bigint JVM
    # intrinsic — n interpreted ops per doc, vs n_shingles × n string ops
    # for per-shingle hashing; no array_join/slice string allocation, no
    # array_distinct since duplicate shingles cannot change a MIN).
    # Shingle hashes are derived from consecutive token hashes inside the
    # banding UDF, vectorized. Only the re-rank needs string shingle sets.
    bucket_udf = _band_buckets_udf(num_hashes, bands, shingle_n)
    return (
        base.select(
            "doc_id", F.expr("transform(toks, t -> xxhash64(t))").alias("hs")
        )
        .select(
            "doc_id",
            F.posexplode(bucket_udf(F.col("hs"))).alias("band_id", "bucket"),
        )
    )


def lsh_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    num_hashes: int = 128,
    bands: int = 64,
    jaccard_threshold: float = 0.6,
) -> DataFrame:
    """Near-duplicate pairs via MinHash-LSH banding + exact Jaccard re-rank.

    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b and
    jaccard >= threshold. With r = num_hashes/bands rows per band, a pair
    with true Jaccard J is missed with probability (1 - J^r)^bands — at the
    defaults (r=2, b=64) a J=0.6 pair is missed with p ≈ 4e-13, so the
    output matches an exact all-pairs computation on any realistic data
    while doing no all-pairs work.
    """
    # Geometry validated (plan-build time) and banding built by
    # minhash_bands; the spread happens HERE because the re-rank below
    # reuses the same spread frame. Empty-shingle docs are excluded in
    # minhash_bands (see its docstring for both whys).
    df = _spread(df)
    banded = minhash_bands(
        df, text_col, id_col, shingle_n, num_hashes, bands, spread=False
    )
    # banded is referenced by both sides of the candidate self-join — but
    # both sides shuffle on the same (band_id, bucket) key, so Catalyst's
    # ReuseExchange computes the tokenize+hash+band pipeline ONCE and
    # reads the shuffle twice; no persist/checkpoint needed here.
    # (Round 2 had an eager localCheckpoint at this spot; with the one
    # below it serialized the operator into three back-to-back jobs
    # and tripled exposure to host throttling — 44 s vs ~8 s.)
    # Candidate pairs via native hash self-join on (band_id, bucket).
    # A groupBy+collect_list pair expansion was tried and is SLOWER here:
    # a near-identical pair collides in all ~64 bands, so the pair space
    # before dedup is ~bands × n_dup_pairs (704k rows at sf0.1) and the
    # interpreted lambda expansion loses to the codegen'd join on that
    # volume. Bucket skew is bounded by design: 2 lanes/band keeps bucket
    # posting lists near-singleton away from true duplicate clusters.
    a = banded.alias("a")
    b = banded.alias("b")
    # The candidate set is referenced three times below (two id
    # projections + the re-rank join), in subplans different enough
    # that ReuseExchange cannot dedup them; the ONE eager barrier
    # in this operator materializes the banding/self-join subplan once
    # instead of once per reference. EAGER deliberately: the lazy form
    # (localCheckpoint(eager=False)) was tried in r11 and regressed the
    # operator ~2x (isolated min 3.93 s vs 1.98 s at sf0.1) — the three
    # consumer subtrees race to compute the persist-marked RDD inside
    # the final AQE job and re-run the banding pipeline redundantly,
    # where the eager job computes it exactly once up front. It is
    # O(duplicate pairs) — tiny at any corpus scale; see _barrier for
    # the local-vs-reliable fault-domain knob.
    cand, n_cand = _probed_barrier(
        a.join(
            # shuffled-hash over sort-merge (r11, guide §3): both sides
            # share one exchange (ReuseExchange) but SMJ pays two
            # identical sorts over it; the per-partition hash build
            # skips both. Isolated q27 min-of-6: 1.98 -> 1.34 s.
            b.hint("shuffle_hash"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct(),
        F.count(F.lit(1)).alias("n"),
    )
    # Exact re-rank: build string shingle sets ONLY for docs that appear in
    # a candidate pair (a left-semi prefilter) — candidate counts are
    # O(duplicates), so this is a tiny fraction of the corpus. The
    # checkpointed candidate frame carries no stats, so the planner would
    # sort-merge every re-rank join against it; the pair count riding the
    # barrier job (free — same action) drives the broadcast decision
    # instead, with the dedup tier's frontier threshold as the fallback
    # to SMJ on a pathologically dup-heavy corpus (r11; q27 re-rank SMJs
    # -> BHJs, one fewer exchange each).
    cand_ids = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .union(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh = F.expr(shingles_sql_spark(text_col, shingle_n))
    docs = (
        df.join(
            _maybe_broadcast(cand_ids, 2 * n_cand),
            df[id_col] == cand_ids["doc_id"],
            "left_semi",
        )
        .select(F.col(id_col).alias("doc_id"), sh.alias("sh"))
    )
    da = docs.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    db = docs.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        _maybe_broadcast(cand, n_cand)
        .join(da, "doc_a")
        # db is the second join's build side: O(candidate docs) rows
        # (bounded by 2 x pair count), each a shingle array — the same
        # frontier gate bounds it.
        .join(_maybe_broadcast(db, 2 * n_cand), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (inter / union).alias("jaccard"),
        )
        .where(F.col("jaccard") >= jaccard_threshold)
    )


KIND_BAND_INDEX = "minhash-band-index"


def save_band_index(
    bands_df: DataFrame,
    path: str,
    shingle_n: int = 3,
    num_hashes: int = 128,
    bands: int = 64,
) -> str:
    """Persist a :func:`minhash_bands` table with its geometry manifest.

    The band table is parquet (corpus-band-sized — a TABLE, not a driver
    artifact); the manifest (artifacts.py format, written through the
    Hadoop FileSystem API so hdfs:// / s3a:// paths work wherever the
    parquet write works) pins (shingle_n, num_hashes, bands) so
    :func:`incremental_lsh_pairs` can refuse a geometry-mismatched probe
    — mismatched banding would silently MISS candidates, the worst
    failure mode a dedup index can have. Layout:
    ``path/bands-v{N}.parquet`` + ``path/manifest.json``; the manifest
    names the live version, which is what lets
    :func:`update_band_index` fold increments in-place-ish (write next
    version, flip the manifest, drop the old) without readers ever
    seeing a half-written table.
    """
    return _save_versioned_index(
        bands_df,
        path,
        KIND_BAND_INDEX,
        {
            "shingle_n": int(shingle_n),
            "num_hashes": int(num_hashes),
            "bands": int(bands),
        },
    )


def _save_versioned_index(
    bands_df: DataFrame, path: str, kind: str, geometry: dict, version: int = 1
) -> str:
    from ..artifacts import save_artifact_fs

    spark = bands_df.sparkSession
    bands_dir = f"bands-v{version:06d}.parquet"
    bands_df.write.mode("overwrite").parquet(f"{path}/{bands_dir}")
    save_artifact_fs(
        spark,
        f"{path}/manifest.json",
        kind,
        {**geometry, "bands_dir": bands_dir, "version": int(version)},
    )
    return path


def load_band_index(spark, path: str) -> tuple[DataFrame, dict]:
    """Load a persisted band index: ``(bands_df, params)``. Pass the
    tuple straight to :func:`incremental_lsh_pairs` as
    ``standing_bands`` — the probe validates the geometry."""
    return _load_versioned_index(spark, path, KIND_BAND_INDEX)


def _load_versioned_index(spark, path: str, kind: str) -> tuple[DataFrame, dict]:
    from ..artifacts import load_artifact_fs

    _, params, _ = load_artifact_fs(spark, f"{path}/manifest.json", kind)
    # pre-versioning indexes stored the table at a fixed name
    bands_dir = params.get("bands_dir", "bands.parquet")
    bands_df = spark.read.parquet(f"{path}/{bands_dir}")
    return bands_df, params


def _update_versioned_index(
    spark,
    path: str,
    kind: str,
    inc_bands: DataFrame | None,
    retire_ids: DataFrame,
    id_name: str,
) -> str:
    """Shared fold+retire over a versioned (bands table, manifest) index:
    drop ``retire_ids`` rows, union the increment's bands, write version
    N+1, flip the manifest, best-effort drop version N."""
    from ..artifacts import fs_delete, load_artifact_fs

    _, params, _ = load_artifact_fs(spark, f"{path}/manifest.json", kind)
    old_dir = params.get("bands_dir", "bands.parquet")
    version = int(params.get("version", 1))
    standing = spark.read.parquet(f"{path}/{old_dir}")
    updated = standing.join(retire_ids, id_name, "left_anti")
    if inc_bands is not None:
        updated = updated.unionByName(inc_bands)
    geometry = {
        k: v for k, v in params.items() if k not in ("bands_dir", "version")
    }
    _save_versioned_index(updated, path, kind, geometry, version=version + 1)
    if old_dir != f"bands-v{version + 1:06d}.parquet":
        try:
            fs_delete(spark, f"{path}/{old_dir}")
        except Exception:
            pass  # superseded data; next update may retry the cleanup
    return path


def update_band_index(
    spark,
    path: str,
    increment: DataFrame | None = None,
    removed_ids: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """Fold an increment into a persisted band index and retire rows —
    the maintenance path that keeps index-once/probe-many economics over
    a LIFETIME of increments (without it, every Nth increment run pays a
    full corpus re-band once drift accumulates).

    Semantics (pinned as an equivalence in pytest):
    ``update(index(A), increment=B, removed_ids=R)`` produces exactly
    ``index((A \\ R \\ ids(B)) ∪ B)`` — i.e. the from-scratch index over
    the corpus after applying the increment, because banding is a pure
    per-document function under the manifest's pinned geometry. Ids
    appearing in ``increment`` are retired first (a CHANGED document's
    old bands must not keep matching its obsolete content);
    ``removed_ids`` (a one-column frame of ``id_col``) handles outright
    deletions. Writes version N+1 of the band table, flips the
    manifest, then best-effort-drops version N — a reader holding the
    old manifest keeps a consistent table; a crash between steps leaves
    the old version live and intact.

    Cost: O(standing index rewrite) IO + O(increment) banding CPU — no
    standing text is ever touched. At 100 TB the rewrite is the
    parquet-sized band table (64 rows x ~24 bytes per doc), not the
    corpus; partition-pruned rewrites (bucketed band table) are the next
    optimization if even that IO matters.
    """
    _, params = load_band_index(spark, path)
    inc_bands = None
    retire = None
    if increment is not None:
        inc_bands = minhash_bands(
            increment,
            text_col,
            id_col,
            shingle_n=params["shingle_n"],
            num_hashes=params["num_hashes"],
            bands=params["bands"],
        )
        retire = increment.select(F.col(id_col).alias("doc_id"))
    if removed_ids is not None:
        removed = removed_ids.select(
            F.col(removed_ids.columns[0]).alias("doc_id")
        )
        retire = removed if retire is None else retire.unionByName(removed)
    if retire is None:
        return path  # nothing to fold, nothing to retire
    return _update_versioned_index(
        spark, path, KIND_BAND_INDEX, inc_bands, retire.distinct(), "doc_id"
    )


def incremental_lsh_pairs(
    increment: DataFrame,
    standing: DataFrame,
    standing_bands: DataFrame | tuple[DataFrame, dict] | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    num_hashes: int = 128,
    bands: int = 64,
    jaccard_threshold: float = 0.6,
) -> DataFrame:
    """Near-dup pairs TOUCHING an increment: the q51 incremental-dedup
    shape lifted from exact to MinHash level.

    Returns exactly :func:`lsh_candidate_pairs` over
    ``standing ∪ increment`` RESTRICTED to pairs with at least one
    increment member (pinned as an equivalence in pytest) — new-vs-
    standing and new-vs-new, (doc_a < doc_b, jaccard >= threshold) —
    while banding-hashing ONLY the increment: the standing corpus
    contributes via ``standing_bands`` (its persisted
    :func:`minhash_bands` index; computed here when None). Standing
    TEXT is read once, left-semi-filtered to candidate-hit documents
    (O(duplicates)), for the exact re-rank only — never re-tokenized
    into signatures. That is the index-once/probe-many economics a
    daily-crawl loop needs: per-increment cost is O(increment) banding
    + O(pairs touching the increment) join work.

    ``standing_bands`` as the (df, params) tuple from
    :func:`load_band_index` validates the geometry and raises on
    mismatch. Precondition: ids unique across both frames; if an id
    appears in both (a changed document), the INCREMENT's text wins the
    re-rank and self-pairs (x, x) are excluded.
    """
    if isinstance(standing_bands, tuple):
        bands_df, params = standing_bands
        want = {
            "shingle_n": shingle_n,
            "num_hashes": num_hashes,
            "bands": bands,
        }
        got = {k: params.get(k) for k in want}
        if got != want:
            raise ValueError(
                f"band-index geometry mismatch: index built with {got}, "
                f"probe called with {want} — rebuild the index or match "
                "the parameters (a mismatched probe silently misses "
                "candidates)"
            )
        standing_bands = bands_df
    elif standing_bands is None:
        standing_bands = minhash_bands(
            standing, text_col, id_col, shingle_n, num_hashes, bands
        )
    inc_bands = minhash_bands(
        increment, text_col, id_col, shingle_n, num_hashes, bands
    )

    a, b = inc_bands.alias("a"), standing_bands.alias("b")
    cross = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .select(
            F.least("a.doc_id", "b.doc_id").alias("doc_a"),
            F.greatest("a.doc_id", "b.doc_id").alias("doc_b"),
        )
    )
    ia, ib = inc_bands.alias("ia"), inc_bands.alias("ib")
    self_pairs = (
        ia.join(
            ib,
            (F.col("ia.band_id") == F.col("ib.band_id"))
            & (F.col("ia.bucket") == F.col("ib.bucket"))
            & (F.col("ia.doc_id") < F.col("ib.doc_id")),
        )
        .select(
            F.col("ia.doc_id").alias("doc_a"),
            F.col("ib.doc_id").alias("doc_b"),
        )
    )
    cand = _lazy_barrier(cross.unionByName(self_pairs).distinct())

    # Exact re-rank over candidate-hit docs only. Increment wins an id
    # collision (a changed doc compares on its NEW text).
    inc_docs = increment.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("__t")
    )
    standing_docs = standing.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("__t")
    ).join(inc_docs.select("doc_id"), "doc_id", "left_anti")
    all_docs = inc_docs.unionByName(standing_docs)
    cand_ids = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .union(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh = F.expr(shingles_sql_spark("__t", shingle_n))
    docs = all_docs.join(cand_ids, "doc_id", "left_semi").select(
        "doc_id", sh.alias("sh")
    )
    da = docs.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    db = docs.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        cand.join(da, "doc_a")
        .join(db, "doc_b")
        .select("doc_a", "doc_b", (inter / union).alias("jaccard"))
        .where(F.col("jaccard") >= jaccard_threshold)
    )


# --- SimHash --------------------------------------------------------------

SIMHASH_BITS = 32


def _hash32_spark(tok: str) -> str:
    return f"CAST(conv(substring(md5({tok}), 1, 8), 16, 10) AS BIGINT)"


def _hash32_duck(tok: str) -> str:
    # DuckDB has no hex→int conversion; fold the 8 hex digits manually.
    return (
        f"list_reduce(list_transform(string_split_regex(substr(md5({tok}), 1, 8), ''), "
        f"c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), "
        f"(a, b) -> a * 16 + b)"
    )


def simhash_from_hashes(hs_col: str) -> str:
    """32-bit SimHash from a pre-hashed token array column.

    32 arithmetic folds over the hash array; callers should stage
    ``hs_col`` as its own projection so the md5-per-token work runs once —
    inlining it here would re-evaluate it 32× (the bit expressions are
    separate trees, outside common-subexpression elimination's reach).
    """
    bits = []
    for j in range(SIMHASH_BITS):
        sb = (
            f"aggregate({hs_col}, CAST(0 AS BIGINT), "
            f"(acc, h) -> acc + (CASE WHEN (shiftright(h, {j}) & 1) = 1 "
            f"THEN 1 ELSE -1 END))"
        )
        bits.append(f"(CASE WHEN ({sb}) >= 0 THEN CAST({1 << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)")
    return " + ".join(bits)


def token_hashes_sql_spark(col: str = "text") -> str:
    """Per-token 32-bit hashes (md5-derived — oracle-reproducible)."""
    toks = TOKS_SPARK.format(c=col)
    return f"transform({toks}, t -> {_hash32_spark('t')})"


def simhash_sql_spark(col: str = "text") -> str:
    """32-bit SimHash of the whitespace tokens (with repeats = weights).

    Single-expression form (token hashes inlined 32×) — convenient for
    tests/oracles; hot paths use the staged form (see simhash_pairs).
    """
    return simhash_from_hashes(token_hashes_sql_spark(col))


def _duck_bit_term(hs: str, shift: int, weight: str) -> str:
    """One DuckDB SimHash bit term over hash-list expression ``hs``:
    sum ±1 by bit ``shift``, sign >= 0 contributes ``weight``.

    The single home of the sign/tie convention (``>= 0 →`` weight set)
    for BOTH DuckDB mirrors — the 32-bit oracle lane and the 64-bit
    signature lane must never drift from each other or from
    :func:`simhash_from_hashes` / ``_simhash_udf`` on the Spark side."""
    sb = (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform({hs}, h -> CASE WHEN ((h >> {shift}) & 1) = 1 "
        f"THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END)), "
        f"(a, b) -> a + b)"
    )
    return (
        f"(CASE WHEN ({sb}) >= 0 THEN CAST({weight} AS BIGINT) "
        f"ELSE CAST(0 AS BIGINT) END)"
    )


def simhash_sql_duck(col: str = "text") -> str:
    toks = TOKS_DUCK.format(c=col)
    hs = f"list_transform({toks}, t -> {_hash32_duck('t')})"
    return " + ".join(
        _duck_bit_term(hs, j, str(1 << j)) for j in range(SIMHASH_BITS)
    )


def simhash32(col: str = "text") -> Column:
    return F.expr(simhash_sql_spark(col))


def simhash64_sigs_sql_duck(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB mirror of :func:`simhash_pairs`'s 64-bit signature lane: a
    full ``(doc_id, sig)`` SELECT (CTE-structured so each token's md5 is
    computed once, not once per bit).

    The 64-bit token hash is md5's first 16 hex chars; DuckDB BIGINT
    arithmetic is checked (no wrap-around), so the hash is folded as TWO
    32-bit halves and bit ``j`` reads half ``j // 32``. The signature's
    bit 63 cannot ride the ``2^63`` weight either — its term adds
    ``-2^63`` instead, which IS the two's-complement reinterpretation the
    Spark UDF performs (uint64 bit math viewed as int64;
    ``_simhash_udf``'s docstring). NULL/whitespace-only docs are filtered
    exactly as the Spark side does (they carry no token signal and would
    form a Hamming-0 clique)."""
    toks = TOKS_DUCK.format(c=text_col)
    fold = (
        "list_reduce(list_transform(string_split_regex({s}, ''), "
        "c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), "
        "(a, b) -> a * 16 + b)"
    )
    hh = f"list_transform(hx, m -> {fold.format(s='substr(m, 1, 8)')})"
    hl = f"list_transform(hx, m -> {fold.format(s='substr(m, 9, 8)')})"
    terms = []
    for j in range(64):
        src, sh = ("hl", j) if j < 32 else ("hh", j - 32)
        w = "-9223372036854775808" if j == 63 else str(1 << j)
        terms.append(_duck_bit_term(src, sh, w))
    sig = " + ".join(terms)
    return f"""
    SELECT doc_id, {sig} AS sig
    FROM (
      SELECT doc_id, {hh} AS hh, {hl} AS hl
      FROM (
        SELECT {id_col} AS doc_id,
               list_transform({toks}, t -> md5(t)) AS hx
        FROM {table}
        WHERE {toks} IS NOT NULL
          AND array_to_string({toks}, '') != ''
      )
    )"""


def _simhash_udf(bits: int = SIMHASH_BITS):
    """Pandas UDF: whitespace-token array -> ``bits``-wide SimHash signature.

    At ``bits=32``, bit-identical to :func:`simhash_sql_spark` /
    :func:`simhash_sql_duck` (the forms the DuckDB oracle mirrors): token
    hash = first 8 hex chars of md5 as a 32-bit int (``hashlib.md5`` ==
    Spark ``md5`` == DuckDB ``md5`` on UTF-8 bytes); per bit j, sum ±1
    over tokens by bit j, sign >= 0 sets bit j. The empty-doc case (sum
    over no tokens = 0 → every bit set) falls out of the same arithmetic.
    One md5 pass + one ``(m, bits)`` numpy reduction per doc replaces an
    interpreted md5-per-token lambda plus ``bits`` interpreted
    ``aggregate`` lambdas.

    At ``bits=64``, the token hash widens to the first 16 hex chars (md5
    has the bits to spare) and the signature occupies the full int64 —
    bit 63 makes the stored value negative, which is only a
    representation detail: banding extracts via shift+mask and the
    Hamming re-rank XORs the raw two's-complement patterns, both
    sign-agnostic. Bit math runs in uint64 and the result is reinterpreted
    (not value-converted) into the LongType column.
    """
    if bits not in (32, 64):
        raise ValueError("simhash bits must be 32 or 64")
    nbytes = bits // 8
    js = np.arange(bits, dtype=np.uint64)
    weights = np.uint64(1) << js

    @F.pandas_udf(LongType())
    def sig(toks: pd.Series) -> pd.Series:
        out = np.empty(len(toks), dtype=np.uint64)
        for i, arr in enumerate(toks):
            h = np.fromiter(
                (
                    int.from_bytes(
                        hashlib.md5(t.encode("utf-8")).digest()[:nbytes],
                        "big",
                    )
                    for t in arr
                ),
                dtype=np.uint64,
                count=len(arr),
            )
            # Blocked bit-sum accumulation (the lane-min fix's additive
            # sibling): the full (m, bits) expansion plus its ±1
            # temporaries is ~1.5 GB for a 1M-token document; per-block
            # partial sums bound peak memory with identical arithmetic.
            sb = np.zeros(bits, dtype=np.int64)
            for s0 in range(0, h.size, 65536):
                blk = h[s0 : s0 + 65536, None]
                sb += (
                    2 * ((blk >> js) & np.uint64(1)).astype(np.int64) - 1
                ).sum(axis=0)
            out[i] = ((sb >= 0) * weights).sum(dtype=np.uint64)
        return pd.Series(out.view(np.int64))

    return sig


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """Pairs within Hamming distance ``max_hamming`` of a SimHash signature.

    Exact (not approximate): the candidate join is on one of 4 signature
    bands; any pair with ≤3 differing bits must agree on at least one band
    (pigeonhole over 4 bands), so banding loses nothing for max_hamming ≤ 3.

    Bucket-headroom contract (when to widen the signature): at ``bits=32``
    the 4 bands are 8 bits wide — only 256 buckets per band, so each
    band's posting lists grow O(n/256) and the candidate self-join goes
    quadratic in n/256. Fine up to corpora of ~millions, and it is the
    form the driver oracle (simhash_sql_duck) pins bit-for-bit, so q28
    keeps it. At larger n pass ``bits=64``: signatures widen to the full
    md5-derived 64 bits and band as 4×16-bit quarters — the pigeonhole
    argument is band-count-ruled (lossless for Hamming ≤ bands-1,
    unchanged at 4 bands) while buckets-per-band jumps 256× to 65 536,
    restoring near-singleton posting lists; the exact Hamming re-rank is
    identical (``bit_count`` over the XOR of the int64 patterns is
    sign-agnostic, so bit 63 driving the stored value negative is
    harmless). Recall-vs-width behavior is pinned in
    tests/test_llm_ops.py: both widths recover a planted near-pair, and
    the 64-bit signature separates docs the coarser 32-bit form may
    alias.
    """
    if bits not in (32, 64):
        raise ValueError("simhash bits must be 32 or 64")
    df = _spread(df)
    sig_udf = _simhash_udf(bits)
    # NULL/whitespace-only docs are excluded, parallel to the LSH lane's
    # sub-shingle-width guard: a NULL token array arrives as None in the
    # Arrow batch (TypeError in the UDF), and every empty doc shares one
    # signature — a Hamming-0 clique whose band buckets go quadratic.
    # They carry no token-level signal; exact dedup owns them.
    sigs = (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.expr(TOKS_SPARK.format(c=text_col)).alias("toks"),
        )
        .where(
            F.col("toks").isNotNull()
            & (F.array_join(F.col("toks"), "") != "")
        )
        .select(
            "doc_id",
            sig_udf(F.col("toks")).alias("sig"),
        )
    )
    return hamming_band_pairs(sigs, max_hamming=max_hamming, bits=bits)


def hamming_band_pairs(
    sigs: DataFrame, max_hamming: int = 3, bits: int = 64
) -> DataFrame:
    """Pairs within Hamming ``max_hamming`` of any int signature column.

    The banding engine under :func:`simhash_pairs` (and the perceptual-
    hash media lane, multimodal.phash_neardup), factored over a
    ``(doc_id, sig)`` frame: 4 equal bands, equi self-join per band,
    exact ``bit_count(xor)`` re-rank — pigeonhole-lossless for
    ``max_hamming <= 3``. See simhash_pairs' docstring for the
    bucket-headroom rule governing the 32- vs 64-bit choice.
    """
    if max_hamming > 3:
        raise ValueError(
            "4-band banding is only lossless for max_hamming <= 3; "
            "use more/narrower bands for larger radii"
        )
    if bits not in (32, 64):
        raise ValueError("signature bits must be 32 or 64")
    band_bits = bits // 4
    band_mask = (1 << band_bits) - 1
    # Both sides of the candidate self-join read this; materialize the
    # signature pipeline once, EAGERLY (4×n small rows; the r11 lazy
    # form let the self-join's two sides race the persist-marked RDD
    # and re-run the signature pipeline — isolated min 1.38 s vs
    # 0.83 s eager at sf0.1; see _barrier for the local-vs-reliable
    # knob). A groupBy+
    # collect_list pair expansion was tried and is slower: dup-heavy
    # corpora have large in-bucket pair volume and the interpreted
    # lambda expansion (bit_count per pair) loses to the codegen'd hash
    # join + filter.
    banded = _barrier(
        sigs.select(
            "doc_id",
            "sig",
            F.posexplode(
                F.array(
                    *[
                        F.expr(f"(shiftright(sig, {band_bits * k}) & {band_mask})")
                        for k in range(4)
                    ]
                )
            ).alias("band_id", "byte"),
        )
    )
    a = banded.alias("a")
    b = banded.alias("b")
    hamming = F.expr("bit_count(CAST(sig_a ^ sig_b AS BIGINT))")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.byte") == F.col("b.byte"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .distinct()
        .select("doc_a", "doc_b", hamming.cast("int").alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
    )


# --- blocked n-gram Jaccard ----------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 2,
    block_expr: str = "n_chars DIV 50",
    threshold: float = 0.3,
) -> DataFrame:
    """Exact n-gram Jaccard within blocking-key groups, via inverted index.

    The block key (default: 50-char length band) scopes which pairs count
    as comparable — the standard blocking pattern when a domain key (same
    source, same URL-host, similar length) makes cross-block duplicates
    implausible. Within a block the result is exact.

    Shape: never materializes the per-block pair space. Shingles explode
    into an inverted index (doc, blk, shingle); a self equi-join on
    (blk, shingle) + groupBy counts |A∩B| only for pairs that share ≥1
    shingle (pairs with empty intersection have Jaccard 0 < threshold and
    are correctly absent); set sizes join back for |A∪B| = |A|+|B|-|A∩B|.
    Cost is O(Σ per-shingle posting-list²) ≈ O(co-occurrences) — on a
    mostly-distinct corpus that is near-linear, vs the all-pairs join's
    O(Σ block²·setsize) even when nothing matches.

    Exact-by-construction: the inverted index joins on xxhash64(shingle)
    (8-byte shuffle keys), whose collisions can only over-count the
    intersection — so the hashed threshold pass keeps every true pair —
    and survivors are then re-verified against the string shingle sets
    (array_intersect), which removes any collision-inflated phantom.
    The reported jaccard is the exact string-set value.
    """
    df = _spread(df)
    # Referenced by both the index explode and the size lookup (and the
    # index twice more via the self-join): materialize the tokenize+
    # shingle work once — lazily, inside the consuming action (see
    # _lazy_barrier; no construction-time job).
    docs = _lazy_barrier(
        df.select(
            F.col(id_col).alias("doc_id"),
            F.expr(block_expr).alias("blk"),
            F.expr(shingles_sql_spark(text_col, shingle_n)).alias("sh"),
        )
    )
    sizes = docs.select("doc_id", F.size("sh").alias("sz"))
    # Join on the 8-byte xxhash64 of the shingle, not the string itself —
    # same shuffle volume trick as exact dedup's md5 key. Hash collisions
    # can only INFLATE n_inter (a true shared shingle always collides with
    # itself; two distinct shingles colliding adds phantom intersection),
    # so the hashed count is an upper bound and the threshold filter on it
    # is a lossless prefilter: no true pair is dropped. The string-shingle
    # re-verification below then removes any phantom survivors, making the
    # operator exact-by-construction — at O(survivors) extra cost, since
    # only pairs past the threshold reach the array_intersect.
    idx = docs.select(
        "doc_id", "blk", F.explode("sh").alias("g0")
    ).select("doc_id", "blk", F.xxhash64("g0").alias("g"))
    a = idx.select(F.col("doc_id").alias("doc_a"), "blk", "g")
    b = idx.select(F.col("doc_id").alias("doc_b"), "blk", "g")
    inter = (
        a.join(b, ["blk", "g"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b", "blk")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    ni = F.col("n_inter")
    surv = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", "blk", "n_inter", "sz_a", "sz_b")
        .where(ni / (F.col("sz_a") + F.col("sz_b") - ni) >= threshold)
    )
    # Exact re-verification on the string shingle sets (docs is already
    # checkpointed; survivors are a handful of rows, so these joins are
    # broadcast-cheap at any corpus scale).
    va = docs.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    vb = docs.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    xi = F.size(F.array_intersect("sh_a", "sh_b"))
    return (
        surv.join(va, "doc_a")
        .join(vb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "blk",
            (xi / (F.size("sh_a") + F.size("sh_b") - xi)).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


# --- edit-distance near-dup (char-level) ----------------------------------


def edit_distance_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    snippet_len: int = 64,
    probe_len: int = 16,
    max_dist: int = 5,
) -> DataFrame:
    """Char-level near-dup pairs: Levenshtein over fixed-length snippets,
    candidates from two-probe blocking.

    The token-level operators (MinHash/SimHash/Jaccard) treat a document
    as a shingle set and miss the "same text, small typo/edit" class when
    the edit shifts every shingle (short docs) — this operator covers that
    class. Comparing full documents by edit distance is O(len²) per pair
    and unblockable, so the standard fingerprint compromise: distance over
    the leading ``snippet_len`` chars.

    Candidate generation is **two-probe blocking**: a pair is compared
    when the snippets share their first ``probe_len`` chars OR their last
    ``probe_len`` chars — two equi self-joins on 8-byte hash keys, never
    all-pairs. A pair edited in BOTH probe regions is consciously missed
    (same bounded-recall trade as LSH banding; with max_dist=5 and edits
    uniform over 64 chars, both-ends clustering is rare). The DuckDB
    oracle recomputes the identical blocked semantics, so a MATCH
    certifies engine parity (blocking + distance), while recall bounds are
    the documented contract. Second documented recall bound: documents
    shorter than ``2 * probe_len`` chars (32 at the defaults) cannot fill
    both probe regions and are excluded from blocking entirely — for a
    corpus of very short records, shrink ``probe_len`` (the blocking
    keys stay 8-byte hashes at any probe width).

    Scale posture: shuffle keys are (probe-id, xxhash64(probe)) — 9 bytes
    regardless of document size; the expensive levenshtein runs only on
    collision pairs, JVM-side (codegen'd), after a distinct() that
    collapses double-probe hits.
    """
    s = F.substring(F.col(text_col), 1, snippet_len)
    d = df.select(F.col(id_col).alias("doc_id"), s.alias("s")).where(
        F.length("s") >= 2 * probe_len
    )
    pre = d.select(
        "doc_id", "s", F.lit(0).alias("p"),
        F.xxhash64(F.substring("s", 1, probe_len)).alias("k"),
    )
    suf = d.select(
        "doc_id", "s", F.lit(1).alias("p"),
        F.xxhash64(F.substring("s", -probe_len, probe_len)).alias("k"),
    )
    blocks = pre.unionByName(suf)
    a = blocks.select(
        F.col("doc_id").alias("doc_a"), F.col("s").alias("s_a"), "p", "k"
    )
    b = blocks.select(
        F.col("doc_id").alias("doc_b"), F.col("s").alias("s_b"), "p", "k"
    )
    cand = (
        a.join(b, ["p", "k"])
        .where(F.col("doc_a") < F.col("doc_b"))
        # xxhash64 equality is a candidate signal, not truth: re-check the
        # probe strings before paying for levenshtein (collision p~2^-64,
        # but the oracle compares strings — parity demands we do too).
        .where(
            (
                (F.col("p") == 0)
                & (
                    F.substring("s_a", 1, probe_len)
                    == F.substring("s_b", 1, probe_len)
                )
            )
            | (
                (F.col("p") == 1)
                & (
                    F.substring("s_a", -probe_len, probe_len)
                    == F.substring("s_b", -probe_len, probe_len)
                )
            )
        )
        .select("doc_a", "doc_b", "s_a", "s_b")
        .distinct()
    )
    return cand.select(
        "doc_a",
        "doc_b",
        F.levenshtein("s_a", "s_b").alias("edit_dist"),
    ).where(F.col("edit_dist") <= max_dist)


# --- pair graph -> duplicate clusters (connected components) ---------------

#: Frontier row-count threshold under which the iterative graph operators
#: (dup_clusters, graphrank.pagerank, the q63 leakage joins) broadcast
#: their pair-graph-derived frames instead of sort-merging (16-byte rows
#: -> ~16 MB at the limit, inside the default 8 GB broadcast-table
#: ceiling and any sane executor memory). See :func:`_maybe_broadcast`.
BROADCAST_FRONTIER_ROWS = 1_000_000


def _maybe_broadcast(df: DataFrame, rows: int) -> DataFrame:
    """Size-triggered broadcast hint for known-small iteration frames.

    A checkpointed frame keeps its source plan's size ESTIMATE (pyspark
    4.1.2), not its real size: when that estimate falls under
    ``autoBroadcastJoinThreshold`` the planner broadcasts the frame
    without any hint (tests/test_r12_advice.py::
    test_ladder_lazy_barrier_freeze_jobs), and when it overshoots — a
    join or aggregate estimate far above the rows contraction actually
    left — every round sort-merges even over a handful of labels. The
    operators' convergence probes already COUNT these frames for free
    (observed metrics riding the barrier jobs), so the hint costs
    nothing and decides on the real count: under
    :data:`BROADCAST_FRONTIER_ROWS` the frame ships to executors and its
    joins run shuffle-free; larger frames keep the planner's choice.
    """
    return F.broadcast(df) if rows <= BROADCAST_FRONTIER_ROWS else df


def dup_clusters(
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over a duplicate-pair graph: (doc_id, cluster_id).

    The missing step between every pair operator above and an actual dedup
    pass: near-dup relations are not transitive (A~B, B~C, A!~C), so a
    survivor policy needs the transitive CLUSTER, not pairs. cluster_id is
    the minimum doc_id reachable from the node — the same deterministic
    min-survivor policy as exact_dedup_survivors. Every node that appears
    in a pair gets exactly one output row.

    Algorithm: hook-and-shortcut contraction (the FastSV/pointer-jumping
    family). Each round (a) HOOKS: every label adopts the minimum label in
    its label-graph neighborhood — for a path this is only a shift-by-one,
    which is why hooking alone needs O(diameter) rounds; then (b)
    SHORTCUTS: the old→new map is composed with itself to its fixpoint by
    pointer jumping (m = m∘m doubles the jump distance, so the fixpoint
    takes log(chain) compositions), collapsing every hook chain straight
    to its minimum; then (c) nodes are relabeled and edges rewritten
    through the collapsed map, dropping self-loops. A 65-node path
    converges in ONE outer round (~6 inner compositions); near-clique
    duplicate clusters converge immediately.

    Scale posture: every step is an equi join / partial-agg groupBy on
    8-byte ids; per-round volume is O(edges), and the edge set only
    shrinks (contraction). The graph is O(duplicate pairs) — tiny
    relative to the corpus. Each step ends in an eager barrier (see
    :func:`_barrier`) that caps lineage depth (nested iteration would
    otherwise stack plans rounds deep) at O(pair-graph) checkpoint
    storage — executor-local by default, reliable when a checkpoint dir
    is configured. The per-round emptiness probes that drive convergence
    are scalar job results, not data collects.

    Id columns must already be integral: a silent ``cast("long")`` of
    string ids would turn non-numeric ids into NULLs, EMPTY the pair
    graph, and make downstream dedup silently keep every near-duplicate.
    Hash string ids to long explicitly (e.g. ``xxhash64``) before calling.
    """
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    for c in (id_a, id_b):
        dt = pairs.schema[c].dataType
        if not isinstance(dt, (ByteType, ShortType, IntegerType, LongType)):
            raise TypeError(
                f"dup_clusters: id column '{c}' has type {dt.simpleString()}; "
                "ids must be integral (hash string ids to long explicitly, "
                "e.g. xxhash64(id), so the pair graph cannot silently "
                "collapse to NULLs)"
            )
    # The entry barrier stays in the caller's session: its input subtree
    # can be the full corpus-sized candidate pipeline, where ambient AQE
    # keeps its value.
    e, n_edges = _probed_barrier(
        pairs.select(
            F.col(id_a).cast("long").alias("src"),
            F.col(id_b).cast("long").alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct(),
        F.count(F.lit(1)).alias("n"),
    )
    # The contraction ladder is a driver-sequential chain of tiny probed-
    # barrier jobs (shortcut rounds, edge rewrites); with AQE on, each
    # becomes several per-stage driver round-trips that a pair-graph-sized
    # frame never needs (see _ladder_session) — and even the LAZY barriers
    # finalize their adaptive plans at construction (toRdd), running one
    # stage job per subtree shuffle. Size-gated on the probed edge count:
    # in the broadcast regime the rounds are pure scheduler latency, so
    # AQE re-planning is all cost; a pathologically huge pair graph keeps
    # AQE's coalescing/skew tools in the caller's session.
    if n_edges and 2 * n_edges <= BROADCAST_FRONTIER_ROWS:
        e, home = _ladder_session(e)
        labels = home(_run_contraction(e, n_edges, max_iter))
    else:
        labels = _run_contraction(e, n_edges, max_iter)
    return labels.select("node", F.col("label").alias("cluster_id"))


def _run_contraction(e, n_edges, max_iter):
    """The hook/shortcut/relabel loop of :func:`dup_clusters`: the
    (node, label) map of edge list ``e``."""
    # node -> current label; labels start as the node id itself. Lazy:
    # nothing reads these rows until the first relabel join's consumer
    # (or the caller's action when the graph is empty) materializes them.
    labels = _lazy_barrier(
        e.select(F.col("src").alias("node"))
        .union(e.select("dst"))
        .distinct()
        .select("node", F.col("node").alias("label"))
    )

    def _shortcut(m: DataFrame, frontier_rows: int) -> DataFrame:
        """Pointer-jump an old→new map (new <= old) to its fixpoint.

        One barrier job per composition ROUND. The hops carry no
        broadcast hint: a BroadcastExchange runs its build side as a
        driver job of its own, ahead of the plan that uses it
        (tests/test_r12_advice.py::test_ladder_lazy_barrier_freeze_jobs
        pins this), while a shuffle join at ladder width runs inside the
        barrier job. The planner still broadcasts a hop whose map's size
        estimate is under ``autoBroadcastJoinThreshold`` — a checkpoint
        keeps its source plan's estimate — and that hop then costs the
        build job, hint or not.

        A round chains SEVERAL hops against the same map in the small
        regime, so the collapsed jump distance grows as (hops+1)^rounds
        instead of 2^rounds. Convergence is decided by the LAST hop's
        movement, observed on the same barrier job: if applying the map
        to the last hop's output moved nothing, that output is already
        the fixpoint of "apply m" (m only ever maps downward), so the
        former confirmation round — a whole extra job proving n_moved=0
        — is unnecessary. The probe's inflate-only contract
        (:func:`_probed_barrier`) can only ADD a redundant round, never
        fake convergence.
        """
        hops = 3 if frontier_rows <= BROADCAST_FRONTIER_ROWS else 1
        for _ in range(64):  # (hops+1)^64 jump distance; unbounded
            out = m.select("old", "new")
            for h in range(hops):
                bh = m.select(
                    F.col("old").alias(f"_o{h}"),
                    F.col("new").alias(f"_n{h}"),
                )
                nxt = F.coalesce(F.col(f"_n{h}"), F.col("new"))
                sel = [
                    F.col("old"),
                    nxt.alias("new"),
                ]
                if h == hops - 1:
                    sel.append((nxt < F.col("new")).cast("long").alias("mv"))
                out = out.join(
                    bh, F.col("new") == F.col(f"_o{h}"), "left"
                ).select(*sel)
            ck, n_moved = _probed_barrier(out, F.sum("mv").alias("n"))
            m = ck.select("old", "new")
            if not n_moved:
                return m
        raise RuntimeError("dup_clusters: shortcut did not reach a fixpoint")

    rounds = 0
    while n_edges:
        if rounds >= max_iter:
            raise RuntimeError(
                f"dup_clusters: not converged after {max_iter} rounds "
                "(adversarial graph topology; raise max_iter)"
            )
        rounds += 1
        # The hook map has at most one row per distinct label-graph node,
        # bounded by twice the surviving edge count.
        frontier = 2 * n_edges
        # Hook: min neighbor label per label-node, over both edge
        # directions; shortcut: collapse hook chains by pointer jumping.
        nbr_min = _shortcut(
            e.select("src", "dst")
            .union(e.select(F.col("dst"), F.col("src")))
            .groupBy(F.col("src").alias("old"))
            .agg(F.min("dst").alias("nbr"))
            .select("old", F.least("old", "nbr").alias("new")),
            frontier,
        )
        # Relabel nodes through the contraction map. The barrier is
        # LAZY: no construction-time decision reads the relabeled rows
        # (only the next round's join and the final output consume
        # them), so the former eager form serialized one pure-latency
        # job per round; the lazy checkpoint still caps lineage at
        # depth-1 per round once the consuming action materializes it.
        # No broadcast hint: a broadcast inside the frozen plan runs its
        # build side as a job while this barrier is BUILT, where a
        # shuffle join freezes with no job and runs inside the consuming
        # action. A map whose carried size estimate is under
        # autoBroadcastJoinThreshold is broadcast by the planner anyway,
        # so then the build job stays (see _shortcut's docstring).
        labels = _lazy_barrier(
            labels.join(
                nbr_min,
                labels["label"] == nbr_min["old"],
                "left",
            )
            .select(
                "node",
                F.coalesce("new", "label").alias("label"),
            )
        )
        # ...and rewrite edges into the new label space; the emptiness
        # probe that decides convergence rides the same barrier job.
        ma = nbr_min.select(F.col("old").alias("src"), F.col("new").alias("ns"))
        mb = nbr_min.select(F.col("old").alias("dst"), F.col("new").alias("nd"))
        e, n_edges = _probed_barrier(
            e.join(ma, "src", "left")
            .join(mb, "dst", "left")
            .select(
                F.coalesce("ns", "src").alias("src"),
                F.coalesce("nd", "dst").alias("dst"),
            )
            .where(F.col("src") != F.col("dst"))
            .distinct(),
            F.count(F.lit(1)).alias("n"),
        )
    return labels


def incremental_dup_clusters(
    standing_clusters: DataFrame,
    new_pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    max_iter: int = 25,
) -> DataFrame:
    """Merge NEW duplicate pairs into a standing cluster map without
    replaying history — the cluster-level leg of the incremental story
    (pairs come from :func:`incremental_lsh_pairs` /
    similarity.incremental_embedding_neardup; this folds them in).

    Correctness rests on the star-compression invariant: the standing
    map's (cluster_id → node) STAR EDGES preserve exactly the
    connectivity of every pair ever folded in, so connected components
    over ``stars ∪ new_pairs`` equal components over the full historical
    pair set — pinned as an equivalence in pytest, including new pairs
    that BRIDGE two standing clusters. Per-increment cost is
    O(standing map + new pairs) — the map is one row per clustered doc
    (duplicate-sized, never corpus-sized), so the fold never re-reads or
    re-bands anything.

    Cluster ids stay the min reachable doc_id (:func:`dup_clusters`'s
    policy), which makes them STABLE under growth: an untouched cluster
    keeps its id verbatim; merged clusters adopt the min of their
    members' ids — never a fresh surrogate that would re-key downstream
    survivor tables. Returns the updated full map (node, cluster_id):
    every standing node plus every node in a new pair.
    """
    stars = standing_clusters.select(
        F.col("cluster_id").alias(id_a), F.col("node").alias(id_b)
    ).where(F.col(id_a) != F.col(id_b))
    edges = stars.unionByName(new_pairs.select(id_a, id_b))
    merged = dup_clusters(edges, id_a=id_a, id_b=id_b, max_iter=max_iter)
    # A standing SINGLETON-row cluster (possible if a caller folded a
    # filtered map) emits only a self-loop star edge, which dup_clusters
    # drops — re-attach any standing node the merge lost.
    lost = standing_clusters.join(
        merged.select("node"), "node", "left_anti"
    )
    return merged.unionByName(lost)


def dedup_corpus(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    jaccard_threshold: float = 0.6,
    survivor: str = "min_id",
) -> DataFrame:
    """End-to-end corpus dedup: exact → near-dup pairs → clusters → keep.

    The composition every training pipeline actually runs, as one call:

    1. exact pass — keep the min-id document per md5(text) group
       (32-byte shuffle keys, never raw text);
    2. near-dup pass over the exact survivors — MinHash-LSH banded
       candidate pairs + exact Jaccard re-rank at ``jaccard_threshold``;
    3. transitivity — connected components over the pair graph
       (:func:`dup_clusters`), because near-dup is not transitive and
       per-pair dropping over- or under-deletes chains;
    4. survivor election per cluster, by ``survivor`` policy:
       ``"min_id"`` (default) keeps the min-id member — pure id
       arithmetic, no second graph pass; ``"pagerank"`` keeps the
       most-central member (:func:`~.graphrank.pagerank` over the pair
       graph, ties → min id) — on revision chains the hub is the
       canonical variant the others drift from, where min-id keeps
       whichever revision happened to be ingested first.

    Returns the surviving rows of ``df`` with their original columns.
    Deterministic end to end (min-id tie-breaks throughout; pagerank is
    integer-exact); each stage is the documented 100 TB-shaped operator
    above. Exactly one survivor per cluster under either policy, so the
    kept-set SIZE is policy-independent — only membership shifts.
    """
    if survivor not in ("min_id", "pagerank"):
        raise ValueError(f"unknown survivor policy: {survivor!r}")
    keep_exact = exact_dedup_survivors(df, text_col, id_col).select(
        F.col("keep_id").alias(id_col)
    )
    uniq = df.join(keep_exact, id_col, "left_semi")
    pairs = lsh_candidate_pairs(
        uniq, text_col, id_col, jaccard_threshold=jaccard_threshold
    )
    if survivor == "pagerank":
        # Two consumers (clusters + centrality) re-plan the LSH re-rank's
        # corpus semi-scan without this O(dup-pairs) barrier; the min_id
        # path has one consumer, which applies its own barrier.
        pairs = _barrier(pairs)
    clusters = dup_clusters(pairs)
    if survivor == "min_id":
        losers = clusters.where(
            F.col("cluster_id") != F.col("node")
        ).select(F.col("node").alias(id_col))
    else:
        from .graphrank import pagerank

        ranks = pagerank(pairs.select("doc_a", "doc_b"))
        w = Window.partitionBy("cluster_id").orderBy(
            F.desc("rank_scaled"), F.asc("node")
        )
        losers = (
            clusters.join(
                ranks.select(
                    F.col("doc_id").alias("node"), "rank_scaled"
                ),
                "node",
            )
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") > 1)
            .select(F.col("node").alias(id_col))
        )
    return uniq.join(losers, id_col, "left_anti")


# --- winnowing fingerprints (MOSS) ----------------------------------------

def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 4,
    w: int = 4,
    engine: str = "arrow",
) -> DataFrame:
    """Winnowed document fingerprints (the MOSS algorithm's selection).

    Guarantee-bearing LOCAL fingerprinting: hash every word ``k``-gram,
    slide a ``w``-wide window over the hash sequence, keep each window's
    minimum — any token run of length >= ``w + k - 1`` shared by two
    documents spans a full window in both, whose identical minimum is
    selected by both, so the match is DETECTED with certainty while only
    ~2/(w+1) of the grams are kept (density bound). The sparse,
    guaranteed complement to q59's keep-every-8-gram boilerplate scan;
    the per-document fingerprint SET is position-free (a window's min
    VALUE, not its offset), which keeps the whole computation a pure
    array expression both engines replay bit-for-bit (md5 grams, string
    min).

    Returns (doc_id, fp) — one exploded row per selected fingerprint.
    Scale: per-row JVM array lambdas fused into the scan (no Python, no
    shuffle); the output is the density-bounded fingerprint stream that
    feeds an inverted-index group-by/join exactly like the shingle
    operators. Docs shorter than ``w + k - 1`` tokens yield no
    fingerprints (no full window exists).
    """
    toks = TOKS_SPARK.format(c=text_col)
    if engine == "sql":
        # Reference formulation: literally the oracle's expression tree.
        # ~4x slower than the UDF path at sf0.1 (interpreted HOF lambdas
        # around 30M md5 calls); kept for the cross-engine equality pin.
        # token array bound once (bind_once_sql_spark): inlined, the
        # regex split would re-run per gram position — O(tokens^2)
        grams = (
            f"transform(sequence(0, size(tk) - {k}), "
            f"i -> md5(array_join(slice(tk, i + 1, {k}), ' ')))"
        )
        g = df.select(
            F.col(id_col).alias("doc_id"),
            F.expr(
                bind_once_sql_spark(
                    toks,
                    f"CASE WHEN size(tk) >= {k} THEN {grams} "
                    "ELSE array() END",
                )
            ).alias("_grams"),
        )
        sel = (
            f"array_distinct(transform(sequence(0, size(_grams) - {w}), "
            f"j -> array_min(slice(_grams, j + 1, {w}))))"
        )
        return g.select(
            "doc_id",
            F.explode(
                F.expr(
                    f"CASE WHEN size(_grams) >= {w} THEN {sel} "
                    "ELSE array() END"
                )
            ).alias("fp"),
        )
    if engine != "arrow":
        raise ValueError(f"unknown engine: {engine!r}")
    # Arrow path, bit-identical to the SQL form (pinned in pytest):
    # hashlib md5 == SQL md5 on the same " ".join'd shingle bytes, and
    # numpy min over fixed-width ASCII-hex byte strings is the same
    # lexicographic order as SQL's string min. Sliding-window min via a
    # stride view — one vectorized pass per doc instead of w interpreted
    # lambda traversals per window.
    sel_udf = _winnow_udf(k, w)
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.expr(toks).alias("_toks"),
    ).select("doc_id", F.explode(sel_udf(F.col("_toks"))).alias("fp"))


def _winnow_udf(k: int, w: int):
    from pyspark.sql.types import StringType

    @F.pandas_udf(ArrayType(StringType()))
    def winnow(toks: pd.Series) -> pd.Series:
        out = []
        for arr in toks:
            if arr is None:
                # NULL text -> NULL token array -> None in the Arrow
                # batch; the SQL engine emits no fingerprints for it
                # (size(NULL) never >= k), so the arrow lane must not
                # crash on len(None) — both engines agree on "nothing".
                out.append([])
                continue
            m = len(arr) - k + 1
            if m < w:
                out.append([])
                continue
            grams = np.array(
                [
                    hashlib.md5(
                        " ".join(arr[i : i + k]).encode()
                    ).hexdigest()
                    for i in range(m)
                ],
                dtype="S32",
            )
            # min has no ufunc loop for byte strings; rank space does:
            # np.unique sorts S32 lexicographically (== SQL string order
            # on ASCII hex), so window-min over the inverse ranks selects
            # the same hashes.
            uniq, inv = np.unique(grams, return_inverse=True)
            wins = np.lib.stride_tricks.sliding_window_view(inv, w)
            sel = np.unique(wins.min(axis=1))
            out.append([uniq[i].decode() for i in sel])
        return pd.Series(out)

    return winnow


def winnow_sql_duck(k: int = 4, w: int = 4, col: str = "text") -> str:
    """DuckDB CTE body replaying winnow_fingerprints over ``documents``:
    SELECT doc_id, fp rows (same md5 grams, same window-min selection)."""
    toks = TOKS_DUCK.format(c=col)
    return f"""
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(len(_grams) - {w - 1}),
               j -> list_min(_grams[j + 1 : j + {w}])
             ))) AS fp
      FROM (
        SELECT doc_id,
               list_transform(range(len({toks}) - {k - 1}),
                 i -> md5(array_to_string({toks}[i + 1 : i + {k}], ' ')))
                 AS _grams
        FROM documents
      )
    """


# --- exact substring dedup (Lee et al. 2022, "Deduplicating Training
# --- Data Makes Language Models Better" — the ExactSubstr stage) --------


def exact_substring_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 50,
    min_count: int = 2,
    starts=None,
) -> DataFrame:
    """Remove every >= ``n``-token span that occurs >= ``min_count`` times
    anywhere in the corpus (the Lee et al. 2022 ExactSubstr stage).

    The reference formulation builds a suffix array over the concatenated
    corpus and cuts out all occurrences of any repeated substring of at
    least the threshold length. The distributed re-expression here uses
    the n-gram COVER identity instead of suffix arrays or pairwise extent
    extension: token position j lies inside a repeated span of length
    >= n  <=>  j is covered by some n-gram (start s, s <= j <= s+n-1)
    whose corpus occurrence count is >= min_count.

    Proof sketch — forward: a repeated span [a, a+L-1], L >= n, contains
    the n-gram start s = min(max(j-n+1, a), a+L-n) for every j it covers
    (s <= j <= s+n-1 by the clamp), and that n-gram sits inside the span,
    so every one of the span's occurrences contributes an occurrence of
    the gram (count >= min_count). Backward: a covered j lies inside the
    covering n-gram itself — a repeated span of length exactly n. So the
    cover removes PRECISELY the tokens of maximal repeated extents, with
    no pair enumeration: the same guarantee the suffix-array scan gives,
    as one group-by and one equi-join on fixed-width keys.

    Unlike :func:`~.text.strip_boilerplate` (distinct-DOC threshold — a
    doc can't be its own boilerplate), occurrences count WITH
    multiplicity: a passage pasted twice into one document is removed,
    matching the suffix-array semantics (every copy is cut — the
    documented Lee et al. behavior, which removes all occurrences rather
    than all-but-one).

    Returns (``id_col``, text_clean, n_tokens, n_removed, n_spans) where
    ``n_spans`` counts the MAXIMAL removed extents per document (sorted
    equal-length intervals merge where consecutive starts gap <= n, so a
    linear JVM fold counts the breaks).

    Scale: the positional stream (:func:`~.text.positional_ngram_starts`,
    pass ``starts=`` to share q59's barriered stream with the boilerplate
    rewrite) shuffles (doc_id, i, 16-byte dual hash) — never text; the
    repeat index is one partial-agg'd count >= min_count; the cover join
    is per-doc bounded; the rewrite is executor-local array lambdas. At
    100 TB every exchange moves fixed-width keys and the only corpus-
    sized pass is the scan-fused explode.
    """
    from .text import cover_rewrite, positional_ngram_starts

    base, st = starts if starts is not None else positional_ngram_starts(
        df, text_col, id_col, n
    )
    repeats = (
        st.groupBy("gh", "gh2")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") >= min_count)
        .select("gh", "gh2")
    )
    covered = (
        st.join(repeats, ["gh", "gh2"])
        .groupBy("doc_id")
        .agg(F.collect_list("i").alias("starts"))
    )
    return cover_rewrite(base, covered, id_col, n)


def exact_substring_sql_duck(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 50,
    min_count: int = 2,
) -> str:
    """DuckDB mirror of :func:`exact_substring_dedup` (string-equality
    repeat index counted WITH multiplicity, 0-based positions, identical
    cover predicate; n_spans via LAG over sorted covered starts — break
    exactly where consecutive starts gap > n)."""
    toks = TOKS_DUCK.format(c=text_col)
    return f"""
    WITH tke AS (
      SELECT {id_col} AS doc_id, COALESCE({toks}, []) AS tk FROM {table}
    ), ste AS (
      SELECT doc_id, i - 1 AS i,
             array_to_string(tk[i : i + {n - 1}], ' ') AS g
      FROM tke, UNNEST(range(1, len(tk) - {n - 2})) AS t(i)
      WHERE len(tk) >= {n}
    ), repe AS (
      SELECT g FROM (
        SELECT g, COUNT(*) AS c FROM ste GROUP BY g
      ) WHERE c >= {min_count}
    ), hite AS (
      SELECT doc_id, i FROM ste JOIN repe USING (g)
    ), cove AS (
      SELECT doc_id, list(i) AS starts FROM hite GROUP BY doc_id
    ), spane AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN prev IS NULL OR i - prev > {n}
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_spans
      FROM (
        SELECT doc_id, i,
               lag(i) OVER (PARTITION BY doc_id ORDER BY i) AS prev
        FROM hite
      ) GROUP BY doc_id
    ), oute AS (
      SELECT t.doc_id, t.tk,
             list_filter(t.tk, (x, j) ->
               len(list_filter(COALESCE(c.starts, []),
                               s -> s <= j - 1 AND j - 1 <= s + {n - 1})) = 0
             ) AS surv,
             COALESCE(s.n_spans, 0) AS n_spans
      FROM tke t
      LEFT JOIN cove c USING (doc_id)
      LEFT JOIN spane s USING (doc_id)
    )
    SELECT doc_id, COALESCE(array_to_string(surv, ' '), '') AS text_clean,
           CAST(len(tk) AS BIGINT) AS n_tokens,
           CAST(len(tk) - len(surv) AS BIGINT) AS n_removed,
           CAST(n_spans AS BIGINT) AS n_spans
    FROM oute
    """
