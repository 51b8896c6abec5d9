"""Unigram-LM (SentencePiece-style) tokenizer induction + encoding.

Beside BPE's merge induction (operators/bpe.py) the other tokenizer
real pipelines train is the unigram language model of Kudo 2018
("Subword Regularization", public): start from a large seed vocabulary
of candidate pieces, run EM over the corpus to estimate piece
likelihoods, prune the worst pieces, repeat until the target vocabulary
size; encode by Viterbi-segmenting each word under the final piece
likelihoods. This module implements it with the engine's established
disciplines:

* **Corpus-sized work happens exactly once** (the ``bpe_train`` rule):
  one scan builds the word-TYPE frequency table; seeding, every EM
  iteration, and every pruning round run over word types / the
  vocabulary, which Heaps' law keeps orders of magnitude smaller than
  the corpus.
* **Integer-scaled likelihoods** — piece log-probabilities are stored
  as ``round(logp · 2^20)`` BIGINTs (:data:`LOGP_SCALE`). Every Viterbi
  comparison during training and encoding is then an integer
  comparison: the full EM trajectory and every segmentation are
  bit-exact across sessions, partitionings, platforms, and engines —
  the same fixed-point discipline as ``classifier.GRAD_SCALE``.
* **Hard (Viterbi) EM** — the E-step assigns each word type its single
  best segmentation and counts pieces along it, weighted by the word's
  corpus frequency. Counts are pure integers, so the distributed sum is
  exact and commutative (layout-proof) with no gradient rounding at
  all. This is the documented deviation from SentencePiece's soft
  (lattice forward-backward) EM: soft expected counts are corpus-order-
  dependent floats, hard counts are not, and for tokenizer induction
  the two converge to closely similar vocabularies. Deterministic
  tie-breaks everywhere: among equal-scoring segmentations Viterbi
  prefers the LONGEST piece ending at each position (then
  lexicographic); pruning and top-k seeding order by (count DESC,
  piece ASC).
* **E-step shape**: one Arrow-batched ``mapInPandas`` over the
  word-type table emitting (piece, weighted count) partial rows, then
  one partial-agg'd ``groupBy(piece)`` shuffle — vocab-sized, never
  corpus-sized. The model (pieces + scaled logps) rides the closure as
  a broadcast-sized artifact, the IVF-centroid convention.
* **Viterbi encode as a scan-fused fold** (:func:`unigram_encode`) —
  scoring + backtracking are TWO ``aggregate`` folds over each token's
  character positions, all JVM expressions (piece likelihoods as a map
  literal): no shuffle, no Python, plan contract pinned in
  tests/test_unigram.py. Characters absent from the vocabulary encode
  as single-character UNK pieces at :data:`UNK_LOGP_SCALED` so foreign
  bytes stay countable instead of failing the row.

Persist with ``artifacts.save_unigram_model`` / ``load_unigram_model``.

No reference counterpart; LLM-pipeline extension tier (SURVEY.md §2
Tier C), prescribed by the round-9 verdict ("Next round" #6).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import TOKS_SPARK

#: fixed-point scale for log-probabilities (see module doc)
LOGP_SCALE = 1 << 20
#: scaled log-prob charged for an unknown single character at encode
#: time (well below any trained piece, far above the -inf sentinel)
UNK_LOGP_SCALED = -64 * LOGP_SCALE
_NEG_INF = -(1 << 60)


class UnigramModel:
    """pieces + integer-scaled log-probs (aligned lists), plus the max
    piece length the Viterbi window uses."""

    __slots__ = ("pieces", "logp_scaled", "max_piece_len")

    def __init__(self, pieces, logp_scaled, max_piece_len):
        self.pieces = list(pieces)
        self.logp_scaled = [int(x) for x in logp_scaled]
        self.max_piece_len = int(max_piece_len)
        if len(self.pieces) != len(self.logp_scaled):
            raise ValueError("UnigramModel: pieces/logp_scaled differ")
        if self.max_piece_len <= 0:
            raise ValueError("UnigramModel: max_piece_len must be positive")


def _viterbi_counts(word: str, freq: int, logp: dict, max_len: int, out: dict):
    """Hard-EM E-step for one word type: best segmentation under the
    integer-scaled likelihoods, piece counts (× freq) accumulated into
    ``out``. Pure-integer DP — bit-exact by construction. Tie-break:
    longest piece ending at the position wins (checked last, >=)."""
    n = len(word)
    best = [_NEG_INF] * (n + 1)
    best[0] = 0
    back = [0] * (n + 1)
    for i in range(1, n + 1):
        for piece_len in range(1, min(max_len, i) + 1):
            j = i - piece_len
            if best[j] == _NEG_INF:
                continue
            lp = logp.get(word[j:i])
            if lp is None:
                lp = UNK_LOGP_SCALED if piece_len == 1 else None
            if lp is None:
                continue
            cand = best[j] + lp
            if cand >= best[i]:  # >= : longest piece wins ties
                best[i] = cand
                back[i] = j
    i = n
    while i > 0:
        j = back[i]
        piece = word[j:i]
        out[piece] = out.get(piece, 0) + freq
        i = j


def _word_freqs(df: DataFrame, text_col: str) -> DataFrame:
    toks = F.expr(TOKS_SPARK.format(c=text_col))
    return (
        df.where(F.col(text_col).isNotNull())
        .select(F.explode(toks).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _estep(words: DataFrame, model: UnigramModel) -> dict:
    """One distributed E-step: (piece -> summed integer count)."""
    from collections.abc import Iterable, Iterator

    import pandas as pd
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    logp = dict(zip(model.pieces, model.logp_scaled))
    max_len = model.max_piece_len
    schema = StructType(
        [StructField("piece", StringType()), StructField("cnt", LongType())]
    )

    def batches(it: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            acc: dict = {}
            for w, f in zip(pdf["w"], pdf["freq"]):
                _viterbi_counts(w, int(f), logp, max_len, acc)
            yield pd.DataFrame(
                {
                    "piece": pd.Series(list(acc), dtype="object"),
                    "cnt": pd.Series(list(acc.values()), dtype="int64"),
                }
            )

    rows = (
        words.mapInPandas(batches, schema)
        .groupBy("piece")
        .agg(F.sum("cnt").alias("cnt"))
        .collect()
    )
    return {r["piece"]: r["cnt"] for r in rows}


def _mstep(counts: dict, pieces: list) -> list:
    """Scaled log-probs from integer counts (zero-count pieces get a
    floor one scale-unit under the smallest observed probability)."""
    total = sum(counts.get(p, 0) for p in pieces)
    if total <= 0:
        raise ValueError("unigram_train: E-step produced no counts")
    out = []
    for p in pieces:
        c = counts.get(p, 0)
        if c > 0:
            out.append(round(math.log(c / total) * LOGP_SCALE))
        else:
            out.append(None)
    observed_min = min(x for x in out if x is not None)
    floor = observed_min - LOGP_SCALE
    return [x if x is not None else floor for x in out]


def unigram_train(
    df: DataFrame,
    text_col: str = "text",
    vocab_size: int = 400,
    seed_size: int = 2000,
    max_piece_len: int = 8,
    em_iters: int = 2,
    prune_fraction: float = 0.25,
) -> UnigramModel:
    """Induce a unigram-LM vocabulary (module doc for shapes and the
    hard-EM deviation). Single characters are never pruned (coverage);
    rounds of (EM × ``em_iters``, prune ``prune_fraction`` of the
    worst multi-character pieces) run until ``vocab_size``."""
    if vocab_size < 2 or seed_size < vocab_size:
        raise ValueError(
            "unigram_train: need seed_size >= vocab_size >= 2, got "
            f"seed {seed_size} / vocab {vocab_size}"
        )
    if not 0 < prune_fraction < 1:
        raise ValueError("unigram_train: prune_fraction must be in (0,1)")
    words = _word_freqs(df, text_col).persist()
    try:
        if words.limit(1).count() == 0:
            raise ValueError("unigram_train: corpus has no tokens")
        # --- seed: all substrings up to max_piece_len, weighted by word
        # frequency; top seed_size by (count DESC, piece ASC) + all chars
        w = F.col("w")
        subs = F.flatten(
            F.transform(
                F.sequence(F.lit(1), F.length(w)),
                lambda i: F.transform(
                    F.sequence(
                        i,
                        F.least(
                            F.length(w), i + F.lit(max_piece_len - 1)
                        ),
                    ),
                    lambda j: F.substr(w, i, j - i + 1),
                ),
            )
        )
        sub_counts = (
            words.select(F.col("freq"), F.explode(subs).alias("p"))
            .groupBy("p")
            .agg(F.sum("freq").alias("cnt"))
        )
        top = (
            sub_counts.orderBy(F.desc("cnt"), F.asc("p"))
            .limit(seed_size)
            .collect()
        )
        chars = {
            r["p"]: r["cnt"]
            for r in sub_counts.where(F.length("p") == 1).collect()
        }
        seed_counts = {r["p"]: r["cnt"] for r in top}
        for c, cnt in chars.items():
            seed_counts.setdefault(c, cnt)
        pieces = sorted(seed_counts)
        logp = _mstep(seed_counts, pieces)
        model = UnigramModel(pieces, logp, max_piece_len)

        # --- EM + prune rounds until the target size. The ladder runs
        # in a ladder session (dedup._ladder_session, AQE off): each
        # E-step is one job over the cached word-type partitions instead
        # of several per-stage driver round-trips; the corpus-sized seed
        # pass above stays in the caller's session.
        from .dedup import _ladder_session

        em_words, _ = _ladder_session(words)
        while True:
            for _ in range(em_iters):
                counts = _estep(em_words, model)
                model = UnigramModel(
                    model.pieces,
                    _mstep(counts, model.pieces),
                    max_piece_len,
                )
            if len(model.pieces) <= vocab_size:
                break
            counts = _estep(em_words, model)
            multi = [p for p in model.pieces if len(p) > 1]
            n_single = len(model.pieces) - len(multi)
            target_multi = max(vocab_size - n_single, 0)
            n_drop = max(
                min(
                    int(len(multi) * prune_fraction) or 1,
                    len(multi) - target_multi,
                ),
                0,
            )
            if n_drop == 0:
                break
            # worst multi-char pieces by (count ASC, piece DESC) drop
            multi.sort(key=lambda p: (counts.get(p, 0), _desc_key(p)))
            dropped = set(multi[:n_drop])
            kept = [p for p in model.pieces if p not in dropped]
            kept_logp = [
                lp
                for p, lp in zip(model.pieces, model.logp_scaled)
                if p not in dropped
            ]
            model = UnigramModel(kept, kept_logp, max_piece_len)
        # final renormalizing EM pass
        counts = _estep(em_words, model)
        model = UnigramModel(
            model.pieces, _mstep(counts, model.pieces), max_piece_len
        )
    finally:
        words.unpersist()
    return model


class _desc_key(str):
    """Inverted string ordering for the (count ASC, piece DESC) prune
    sort — deterministic without a second sort pass."""

    def __lt__(self, other):  # noqa: D105
        return str.__gt__(self, other)


def _viterbi_exprs(tok: Column, model: UnigramModel):
    """(scores, pieces) expressions for one token column — the two
    scan-fused folds (module doc). ``scores`` is the best-score array
    (1+len entries, scaled longs); ``pieces`` the backtracked
    segmentation (array<string>)."""
    L = model.max_piece_len
    lp_map = F.create_map(
        *[
            F.lit(x)
            for p, s in zip(model.pieces, model.logp_scaled)
            for x in (p, s)
        ]
    )

    def piece_score(j: Column, i: Column) -> Column:
        """Scaled logp of tok[j..i) (1-based substr), UNK for unknown
        single chars, -inf sentinel otherwise."""
        sub = F.substr(tok, j + 1, i - j)
        return F.coalesce(
            F.element_at(lp_map, sub),
            F.when(i - j == 1, F.lit(UNK_LOGP_SCALED)),
            F.lit(_NEG_INF),
        )

    def fwd(acc: Column, i: Column) -> Column:
        # best[i] = max over j in [max(0, i-L), i-1] of best[j]+score
        cands = F.transform(
            F.sequence(F.greatest(i - L, F.lit(0)), i - 1),
            lambda j: F.element_at(acc, (j + 1).cast("int"))
            + piece_score(j, i),
        )
        return F.concat(acc, F.array(F.array_max(cands)))

    scores = F.aggregate(
        F.sequence(F.lit(1), F.length(tok)),
        F.array(F.lit(0).cast("long")),
        fwd,
    )

    def back(st: Column, _: Column) -> Column:
        # walk i backwards: find the SMALLEST j achieving best[i] with
        # the piece ending at i — smallest j = longest piece, the
        # training tie-break mirrored. The score array rides the
        # accumulator struct so the forward fold evaluates ONCE.
        i = st["i"]
        sc = st["sc"]
        js = F.sequence(F.greatest(i - L, F.lit(0)), i - 1)
        j = F.element_at(
            F.filter(
                js,
                lambda j: F.element_at(sc, (j + 1).cast("int"))
                + piece_score(j, i)
                == F.element_at(sc, (i + 1).cast("int")),
            ),
            1,
        )
        return F.when(i <= 0, st).otherwise(
            F.struct(
                sc.alias("sc"),
                j.alias("i"),
                F.concat(
                    F.array(F.substr(tok, j + 1, i - j)), st["out"]
                ).alias("out"),
            )
        )

    pieces = F.aggregate(
        F.sequence(F.lit(1), F.length(tok)),  # enough backward steps
        F.struct(
            scores.alias("sc"),
            F.length(tok).cast("long").alias("i"),
            F.array().cast("array<string>").alias("out"),
        ),
        back,
    )["out"]
    return scores, pieces


def unigram_encode(
    df: DataFrame,
    model: UnigramModel,
    text_col: str = "text",
    out_col: str = "pieces",
) -> DataFrame:
    """Append the Viterbi segmentation of each document —
    ``array<string>`` of pieces across its whitespace tokens, in order.
    Scan-fused: two ``aggregate`` folds per token, no shuffle, no
    Python (plan contract in tests/test_unigram.py). NULL text →
    NULL."""
    toks = F.expr(TOKS_SPARK.format(c=text_col))

    def per_token(t: Column) -> Column:
        _, p = _viterbi_exprs(t, model)
        return p

    seg = F.flatten(
        F.transform(F.filter(toks, lambda t: t != ""), per_token)
    )
    return df.withColumn(
        out_col,
        F.when(F.col(text_col).isNotNull(), seg),
    )


def unigram_vocab_ids(
    model: UnigramModel, specials: tuple = ("<unk>",)
) -> dict:
    """piece -> contiguous integer token id, deterministic and
    engine-stable: ``specials`` take ``0..len(specials)-1`` in the order
    given (``<unk>`` = 0 by default), then pieces by (scaled logp DESC,
    piece ASC) — the bpe_vocab_ids total order applied to the unigram
    artifact, so a dataset tokenized today and one tokenized next month
    under the same model carry identical ids."""
    if len(set(specials)) != len(specials):
        raise ValueError(f"duplicate special tokens: {specials}")
    out = {s: i for i, s in enumerate(specials)}
    ranked = sorted(
        (
            (p, lp)
            for p, lp in zip(model.pieces, model.logp_scaled)
            if p not in out
        ),
        key=lambda t: (-t[1], t[0]),
    )
    for i, (p, _lp) in enumerate(ranked):
        out[p] = len(specials) + i
    return out


def unigram_encode_ids(
    df: DataFrame,
    model: UnigramModel,
    text_col: str = "text",
    out_col: str = "token_ids",
    specials: tuple = ("<unk>",),
    unk_id: int = 0,
) -> DataFrame:
    """Tokenize straight to integer ids (``array<long>``): the Viterbi
    segmentation mapped through :func:`unigram_vocab_ids` as a map
    LITERAL (vocabulary-sized, the same artifact class as the scorer's
    weight arrays) — still one scan-fused expression, no shuffle, no
    Python. Pieces outside the vocabulary (UNK single characters) map
    to ``unk_id``."""
    ids = unigram_vocab_ids(model, specials)
    id_map = F.create_map(
        *[x for p, i in ids.items() for x in (F.lit(p), F.lit(int(i)))]
    )
    enc = unigram_encode(df, model, text_col, "__pieces")
    return enc.withColumn(
        out_col,
        F.transform(
            "__pieces",
            lambda p: F.coalesce(
                F.element_at(id_map, p), F.lit(int(unk_id))
            ).cast("long"),
        ),
    ).drop("__pieces")


def unigram_token_counts(
    df: DataFrame,
    model: UnigramModel,
    text_col: str = "text",
    out_col: str = "n_pieces",
) -> DataFrame:
    """Piece count per document — the token-budget surface, same folds.
    NULL text counts NULL (``size(NULL)`` is -1 under non-ANSI
    semantics, which would silently shrink token-budget SUMs by one
    per NULL document — r11 fix, pinned in pytest)."""
    out = unigram_encode(df, model, text_col, "__pieces")
    return out.withColumn(
        out_col,
        F.when(F.col("__pieces").isNotNull(), F.size("__pieces")),
    ).drop("__pieces")
