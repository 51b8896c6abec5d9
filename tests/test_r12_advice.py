"""Ladder-session tests (``dedup._ladder_session``) and the r12 mechanisms
that survive it.

* A moved frame plans without AQE at ladder width and carries the
  caller's session confs (ANSI, timezone, the reliable-checkpoint knob).
* While a ladder runs on one thread, another thread keeps the ambient
  confs: a plain action and a lazy barrier there plan with ambient AQE
  and width.
* No ladder leaves the caller's SQL confs changed, and every frame a
  ladder returns belongs to the caller's session.
* Ladder results equal ambient-session results (AQE on, ambient width).
* Freeze-time jobs of a lazy barrier in the ladder session, over a
  broadcast-hinted and a plain join.
* ``_est_scan_splits``: metadata-only split estimate behind ``_spread``.
"""

from __future__ import annotations

import re
import threading
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

import drill_logfile_plugin_spark.operators.dedup as D
from drill_logfile_plugin_spark.operators.bpe import bpe_train
from drill_logfile_plugin_spark.operators.graphrank import pagerank
from drill_logfile_plugin_spark.operators.unigram import unigram_train
from drill_logfile_plugin_spark.operators.wordpiece import wordpiece_train


def _widths(df) -> set[int]:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return {int(w) for w in re.findall(r"hashpartitioning\(.*?, (\d+)\)", plan)}


def _is_adaptive(df) -> bool:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return "AdaptiveSparkPlan" in plan


def _grouped(df):
    return df.groupBy((F.col("id") % 97).alias("k")).count()


def _owned_by(df, spark) -> bool:
    return df.sparkSession is spark and df._jdf.sparkSession().equals(
        spark._jsparkSession
    )


@contextmanager
def _local_barriers(spark):
    """Keep barriers executor-local (lazy stays lazy) even when an earlier
    test configured a checkpoint dir."""
    prev = spark.conf.get(D.RELIABLE_CHECKPOINT_CONF, None)
    spark.conf.set(D.RELIABLE_CHECKPOINT_CONF, "false")
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(D.RELIABLE_CHECKPOINT_CONF)
        else:
            spark.conf.set(D.RELIABLE_CHECKPOINT_CONF, prev)


def _ambient(monkeypatch):
    """Run ladders in the caller's session (ambient AQE and width)."""
    monkeypatch.setattr(D, "_ladder_session", lambda df: (df, lambda o: o))


def test_ladder_session_plans_without_aqe_at_ladder_width(spark):
    width = max(4, spark.sparkContext.defaultParallelism // 4)
    ambient = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert ambient != width, "fixture width must differ from ladder width"
    with _local_barriers(spark):
        moved, home = D._ladder_session(
            D._barrier(spark.range(0, 1000, 1, 8))
        )
        ladder = moved.sparkSession
        assert ladder is not spark
        for key in (
            "spark.sql.ansi.enabled",
            "spark.sql.session.timeZone",
            D.RELIABLE_CHECKPOINT_CONF,
        ):
            assert ladder.conf.get(key) == spark.conf.get(key), key
        out = _grouped(moved)
        assert not _is_adaptive(out)
        assert _widths(out) == {width}
        back = home(out)
        assert _owned_by(back, spark)
        assert _is_adaptive(back)
        assert sorted(map(tuple, back.collect())) == sorted(
            map(tuple, _grouped(spark.range(0, 1000, 1, 8)).collect())
        )


@contextmanager
def _ladder_held(spark, monkeypatch):
    """Hold a ladder open on a worker thread (its session cloned and its
    input moved) while the body runs on this thread; on exit, release it
    and check the ladder's result."""
    entered, release = threading.Event(), threading.Event()
    real = D._ladder_session

    def held(df):
        out = real(df)
        entered.set()
        release.wait(30)
        return out

    monkeypatch.setattr(D, "_ladder_session", held)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
    )
    result = {}
    t = threading.Thread(
        target=lambda: result.update(out=D.dup_clusters(pairs).collect())
    )
    t.start()
    try:
        assert entered.wait(30)
        yield
    finally:
        release.set()
        t.join(60)
    assert not t.is_alive()
    assert sorted(map(tuple, result["out"])) == [
        (1, 1), (2, 1), (3, 1), (10, 10), (11, 10)
    ]


def test_ambient_plan_window_restores_confs_for_non_holder(spark, monkeypatch):
    """While a ladder is held open on another thread, this thread sees
    the caller's ambient confs and plans a plain action with AQE on at
    ambient width; the confs are unchanged once the ladder ends."""
    ambient_aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    ambient_width = spark.conf.get("spark.sql.shuffle.partitions", "200")
    with _ladder_held(spark, monkeypatch):
        assert spark.conf.get("spark.sql.adaptive.enabled", "true") == ambient_aqe
        assert spark.conf.get("spark.sql.shuffle.partitions") == ambient_width
        plain = _grouped(spark.range(0, 1000, 1, 8))
        assert _is_adaptive(plain) == (ambient_aqe != "false")
        assert _widths(plain) == {int(ambient_width)}
        assert len(plain.collect()) == 97
    assert spark.conf.get("spark.sql.adaptive.enabled", "true") == ambient_aqe
    assert spark.conf.get("spark.sql.shuffle.partitions") == ambient_width


def test_lazy_barrier_freezes_under_ambient_aqe_for_non_holder(spark, monkeypatch):
    """A lazy barrier frozen on this thread while a ladder is held open
    on another must plan under the caller's AMBIENT confs. Deterministic
    observable: freezing an adaptive plan runs its stage-materialization
    jobs at ``toRdd`` time, while an AQE-off plan runs none."""
    if spark.conf.get("spark.sql.adaptive.enabled", "true") == "false":
        pytest.skip("ambient session has AQE off; no contrast to test")
    tracker = spark.sparkContext.statusTracker()

    def _njobs():
        ids = tracker.getJobIdsForGroup(None)
        return max(ids) + 1 if ids else 0

    with _ladder_held(spark, monkeypatch), _local_barriers(spark):
        j0 = _njobs()
        D._lazy_barrier(_grouped(spark.range(0, 1000, 1, 8)))
        assert _njobs() > j0, "barrier froze without AQE stage jobs"


def test_ladders_leave_caller_confs_and_return_caller_frames(spark):
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(
            ["low lower lowest", "new newer newest", "wide wider widest"] * 3
        )],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
    )
    before = spark.conf.getAll
    returned = {}
    for name, run in (
        ("bpe", lambda: bpe_train(docs, n_merges=3)[1]),
        ("wordpiece", lambda: wordpiece_train(docs, n_merges=3)[1]),
        ("unigram", lambda: unigram_train(docs, vocab_size=12, seed_size=30)),
        ("dup_clusters", lambda: D.dup_clusters(pairs)),
        ("pagerank", lambda: pagerank(pairs, 3)),
    ):
        returned[name] = run()
        assert spark.conf.getAll == before, f"{name} changed session confs"
    for name in ("bpe", "wordpiece", "dup_clusters", "pagerank"):
        assert _owned_by(returned[name], spark), name
        assert returned[name].count() > 0, name


def test_dup_clusters_ladder_matches_ambient(spark, monkeypatch):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        "doc_a long, doc_b long",
    )
    laddered = D.dup_clusters(pairs)
    assert _owned_by(laddered, spark)
    got = sorted(tuple(r) for r in laddered.collect())
    _ambient(monkeypatch)
    assert got == sorted(tuple(r) for r in D.dup_clusters(pairs).collect())
    assert {c for _, c in got} == {1, 10, 20}


def test_pagerank_ladder_matches_ambient(spark, monkeypatch):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 4)], "doc_a long, doc_b long"
    )
    laddered = pagerank(pairs, 3)
    assert _owned_by(laddered, spark)
    got = sorted(tuple(r) for r in laddered.collect())
    _ambient(monkeypatch)
    assert got == sorted(tuple(r) for r in pagerank(pairs, 3).collect())


def test_pagerank_empty_graph_skips_guard_and_returns_empty(spark):
    before = spark.conf.getAll
    empty = spark.createDataFrame([], "doc_a long, doc_b long")
    out = pagerank(empty, 3)
    assert out.count() == 0
    assert _owned_by(out, spark)
    assert spark.conf.getAll == before


def test_ladder_lazy_barrier_freeze_jobs(spark):
    """What a lazy barrier costs at BUILD time (nothing consumes it) in
    the ladder session, over a join against a small checkpointed frame.
    A broadcast in the frozen plan runs its build side as one job while
    the barrier is built. A plain join costs the same job: the
    checkpoint carries its source plan's size estimate, so the planner
    broadcasts the small side on its own. Only an exchange-only plan
    (broadcasting off) freezes with no job."""
    tracker = spark.sparkContext.statusTracker()

    def _njobs():
        ids = tracker.getJobIdsForGroup(None)
        return max(ids) + 1 if ids else 0

    m = D._barrier(
        spark.range(0, 200, 1, 4).select(
            F.col("id").alias("old"), F.floor(F.col("id") / 2).alias("new")
        )
    )
    labels = D._barrier(
        spark.range(0, 400, 1, 4).select(
            F.col("id").alias("node"), (F.col("id") % 200).alias("label")
        )
    )

    def freeze_jobs(build, broadcasting=True):
        joined, _ = D._ladder_session(
            labels.join(build, labels["label"] == build["old"], "left")
        )
        ladder = joined.sparkSession
        ladder.conf.set(D.RELIABLE_CHECKPOINT_CONF, "false")
        if not broadcasting:
            ladder.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j0 = _njobs()
        D._lazy_barrier(joined)
        return _njobs() - j0

    assert freeze_jobs(F.broadcast(m)) == 1
    assert freeze_jobs(m) == 1
    assert freeze_jobs(m, broadcasting=False) == 0


def test_est_scan_splits_metadata_only(spark, tmp_path):
    p = str(tmp_path / "t.parquet")
    spark.range(100).write.parquet(p)
    scan = spark.read.parquet(p)
    est = D._est_scan_splits(scan)
    assert est >= 1
    # non-file source: unknown, reported as 0 (callers treat as unknown)
    assert D._est_scan_splits(spark.range(5)) == 0


def test_shortcut_single_round_fixpoint_long_chain(spark):
    """The r12 last-hop convergence probe must still fully collapse
    pointer chains (a 40-step map needs several multi-hop rounds)."""
    m = spark.createDataFrame(
        [(i, i - 1) for i in range(1, 41)], "doc_a long, doc_b long"
    )
    out = {r["node"]: r["cluster_id"] for r in D.dup_clusters(m).collect()}
    assert set(out.values()) == {0}
    assert len(out) == 41
