"""Integer-exact PageRank over document graphs (fixed-iteration).

`dup_clusters` (dedup.py) answers *membership* — which documents form one
duplicate family; PageRank answers *centrality* — which member is the
hub. On a near-dup graph the hub is the canonical variant (the one most
others resemble), a better survivor-election key than MIN(id) when the
corpus keeps revision chains; on citation/link graphs it is the standard
importance prior for sampling weights.

Why fixed-iteration and integer-scaled: the textbook power iteration
sums doubles in engine-chosen order and stops on an epsilon — both
non-portable. Here every rank is a scaled BIGINT (initial mass
``SCALE = 1e6`` per node) and one iteration is

    rank'(v) = BASE + floor(damping * S(v)),
    S(v)     = sum over in-edges (u, v) of  rank(u) DIV out_degree(u)

with ``BASE = round((1 - damping) * SCALE)`` precomputed in Python and
injected into both engines. ``DIV`` is integer division (exact), ``S``
is an order-free BIGINT sum, and ``damping * S`` is one correctly-
rounded double multiply + floor — so after any fixed number of
iterations the rank table is bit-identical across engines and the
driver hash-checks the whole thing (q63's pagerank arm). Rank mass
leaks through the floors (≤ 1 unit per edge per iteration) — fine for a
*ranking*; this is deliberately not a stochastic-matrix solver.

Scale posture: one iteration = one equi join (edges ⨝ ranks on an
8-byte id) + one partial-agg'd sum + one left join back onto nodes —
identical plan shape to dup_clusters' contraction rounds, O(edges)
shuffle per round. Below the dedup tier's frontier threshold the whole
ladder is built lazily with AQE off at ladder width, so construction
runs ZERO driver-blocking jobs and every iteration materializes inside
the consuming action (intermediate rank tables lazily barriered to
keep each iteration's plan depth-1). Larger graphs keep ambient AQE
with shallow unrolled lineage (constant iteration count, default 3).
The graph here is the *pair* graph (duplicates only), orders of
magnitude smaller than the corpus.

Restricted to nodes that appear in the edge list (the induced
subgraph): every node has degree >= 1, so there is no dangling-mass
redistribution — stated, not hidden.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Initial per-node rank mass (scaled integer).
SCALE = 1_000_000


def pagerank(
    pairs: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
    symmetric: bool = True,
) -> DataFrame:
    """Fixed-``iterations`` integer PageRank over an edge list.

    ``pairs`` rows are edges (``src_col``, ``dst_col``); with
    ``symmetric=True`` (the near-dup-pair case) each pair contributes
    both directions. Returns (doc_id, rank_scaled) for every node in the
    edge list — src AND dst sides, so directed sinks are ranked — bit-
    identical across engines by construction (module docstring). The
    DuckDB mirror (:func:`pagerank_sql_duck`) certifies the symmetric
    form; directed runs are covered by pytest, with dangling-node mass
    dropped rather than redistributed (see the nodes comment below).
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    e = pairs.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    )
    if symmetric:
        e = e.unionByName(
            pairs.select(
                F.col(dst_col).alias("src"), F.col(src_col).alias("dst")
            )
        )
    # One eager barrier on the edge list: ``deg``, ``nodes``, and every
    # iteration's contrib join all reference it, and when ``pairs`` is an
    # expensive subtree (e.g. LSH candidate generation + exact re-rank)
    # each un-materialized reference re-plans that whole pipeline —
    # ReuseExchange cannot dedup the differently-shaped subplans. The
    # barrier is O(edges) — pair-graph-sized, tiny at any corpus scale —
    # and honors the reliable-checkpoint knob (see dedup._barrier).
    from .dedup import (
        BROADCAST_FRONTIER_ROWS,
        _ladder_session,
        _probed_barrier,
    )

    e, n_edges = _probed_barrier(e.distinct(), F.count(F.lit(1)).alias("n"))
    # The iteration constructions below chain LAZY barriers; under AQE,
    # even a lazy localCheckpoint finalizes its adaptive plan at
    # CONSTRUCTION time (toRdd), running one stage-materialization job
    # per shuffle in the subtree — pure driver latency for node-sized
    # frames. In the small regime (same gate as the ladder's plain-join
    # choice) the whole ladder is built in a ladder session (AQE off,
    # see dedup._ladder_session), so every deferred RDD materializes
    # inside the consuming action instead; a huge graph keeps AQE, and
    # an empty one skips the session like dup_clusters does.
    if n_edges and 2 * n_edges <= BROADCAST_FRONTIER_ROWS:
        e, home = _ladder_session(e)
        return home(_pagerank_ladder(e, n_edges, iterations, damping))
    return _pagerank_ladder(e, n_edges, iterations, damping)


def _pagerank_ladder(
    e: DataFrame, n_edges: int, iterations: int, damping: float
) -> DataFrame:
    """The deg/nodes/iteration constructions of :func:`pagerank`."""
    from .dedup import (
        BROADCAST_FRONTIER_ROWS,
        _lazy_barrier,
    )

    base = round((1.0 - damping) * SCALE)
    # deg and the per-iteration rank tables are node-sized (<= 2x edges)
    # and carry no broadcast hint: a BroadcastExchange inside a plan
    # being FROZEN (the lazy barriers below, toRdd) runs its build side
    # as a driver job at freeze time (tests/test_r12_advice.py::
    # test_ladder_lazy_barrier_freeze_jobs), where a shuffle join
    # freezes with no job and runs inside the CONSUMING action, which
    # overlaps it with whatever else that action runs (q63: the clusters
    # arm). The planner still broadcasts a side whose carried size
    # estimate is under autoBroadcastJoinThreshold, hint or not.
    # deg is consumed by every iteration's contrib join; the LAZY
    # barrier (one checkpoint-marked RDD) means each iteration reads
    # the materialized node-sized frame instead of re-aggregating the
    # edge list once per iteration.
    deg = _lazy_barrier(
        e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    )
    # Nodes = src ∪ dst: under symmetric=True the two sets coincide, but
    # a DIRECTED graph has destination-only (dangling) nodes — they must
    # receive rank mass and appear in the output (they are often the
    # highest-centrality nodes). They contribute nothing onward (their
    # inflow mass is dropped, not redistributed — the bounded-iteration
    # integer scheme has no uniform-redistribution term; documented
    # deviation from the textbook dangling-mass handling).
    # nodes feeds every iteration's left join AND the initial ranks;
    # lazily materialized once instead of re-running union+distinct over
    # the edge list per iteration.
    nodes = _lazy_barrier(
        e.select(F.col("src").alias("doc_id"))
        .unionByName(e.select(F.col("dst").alias("doc_id")))
        .distinct()
    )
    ranks = nodes.select("doc_id", F.lit(SCALE).cast("long").alias("rank_scaled"))
    small = 2 * n_edges <= BROADCAST_FRONTIER_ROWS
    for i in range(iterations):
        contrib = (
            e.join(deg, "src")
            .join(
                ranks.select(
                    F.col("doc_id").alias("src"),
                    F.col("rank_scaled").alias("r_src"),
                ),
                "src",
            )
            .select("dst", F.expr("r_src DIV deg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        ranks = (
            nodes.join(
                contrib.select(F.col("dst").alias("doc_id"), "s"),
                "doc_id",
                "left",
            )
            .select(
                "doc_id",
                (
                    F.lit(base)
                    + F.floor(
                        F.lit(damping) * F.coalesce(F.col("s"), F.lit(0)).cast("double")
                    )
                )
                .cast("long")
                .alias("rank_scaled"),
            )
        )
        # When broadcasting, barrier the intermediate rank tables so each
        # broadcast build reads a materialized node-sized frame instead of
        # re-executing the unrolled prior-iteration chain once per build.
        # LAZY: each intermediate table has exactly one consumer (the next
        # iteration's broadcast build), so the eager form only serialized
        # a driver-blocking job per iteration in front of the same
        # computation. The final iteration stays unbarriered — it feeds
        # the caller's plan.
        if small and i < iterations - 1:
            ranks = _lazy_barrier(ranks)
    return ranks


def pagerank_sql_duck(
    pairs_cte: str,
    iterations: int = 3,
    damping: float = 0.85,
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
) -> str:
    """DuckDB mirror: unrolled-iteration PageRank over ``pairs_cte``
    (a SQL fragment producing the symmetric-input pair rows — this
    mirror always symmetrizes, i.e. it certifies the ``symmetric=True``
    form). Returns a full query; embed it as a subselect/CTE body.
    Rejects ``iterations < 1`` exactly like the Spark side, so an
    invalid configuration cannot silently return the uniform initial
    ranks."""
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    base = round((1.0 - damping) * SCALE)
    ctes = [
        f"""__pr_pairs AS ({pairs_cte}),
    __pr_edges AS (
      SELECT DISTINCT src, dst FROM (
        SELECT {src_col} AS src, {dst_col} AS dst FROM __pr_pairs
        UNION ALL
        SELECT {dst_col} AS src, {src_col} AS dst FROM __pr_pairs
      )
    ),
    __pr_deg AS (
      SELECT src, COUNT(*) AS deg FROM __pr_edges GROUP BY src
    ),
    __pr_r0 AS (
      SELECT src AS doc_id, CAST({SCALE} AS BIGINT) AS rank_scaled
      FROM __pr_deg
    )"""
    ]
    for i in range(1, iterations + 1):
        ctes.append(
            f"""__pr_r{i} AS (
      SELECT n.src AS doc_id,
             CAST({base} + FLOOR({damping!r} *
                  CAST(COALESCE(c.s, 0) AS DOUBLE)) AS BIGINT) AS rank_scaled
      FROM __pr_deg n LEFT JOIN (
        SELECT e.dst, CAST(SUM(r.rank_scaled // d.deg) AS BIGINT) AS s
        FROM __pr_edges e
        JOIN __pr_deg d ON e.src = d.src
        JOIN __pr_r{i - 1} r ON e.src = r.doc_id
        GROUP BY e.dst
      ) c ON n.src = c.dst
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"\n    SELECT doc_id, rank_scaled FROM __pr_r{iterations}"
    )
