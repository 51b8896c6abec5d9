"""Distributed WordPiece tokenizer training + application.

Completes the repo's tokenizer-induction family: BPE (operators/bpe.py,
frequency-greedy merges), unigram-LM (operators/unigram.py, EM-pruned
Viterbi), and here WordPiece — the BERT-family tokenizer (Schuster &
Nakajima 2012, "Japanese and Korean Voice Search"; the training
formulation below is the one the public HuggingFace tokenizers library
documents: BPE-style merges scored by LIKELIHOOD GAIN rather than raw
frequency, and greedy longest-match-first encoding).

Training is the BPE machinery with two deltas:

* **Segmentation**: a word's non-initial characters carry the ``##``
  continuation prefix (``"abc"`` -> ``a ##b ##c``), so a piece's
  word-initial and word-internal occurrences are distinct symbols —
  the property that lets greedy longest-match encoding round-trip.
  Merging ``(a, ##b)`` produces ``a##b``-without-the-marker — i.e.
  ``a + b[2:]`` (``un + ##able -> unable``, ``##ab + ##le -> ##able``).
* **Pair score**: ``freq(ab) / (freq(a) * freq(b))`` — the unigram-LM
  likelihood gain of fusing the pair — instead of BPE's raw
  ``freq(ab)``. Symbol frequencies are the CURRENT round's, so each
  round joins the (vocab-sized) pair table with the (vocab-sized)
  symbol table; both sides are orders of magnitude smaller than the
  corpus, which is what keeps induction trainable at 100 TB — the
  corpus is scanned exactly once, for the word-type table
  (``bpe._word_types``' shape). Ties break on (score DESC, a ASC,
  b ASC); the score is an IEEE double of the same expression on every
  engine, so the trajectory is reproducible across runs and layouts.

Encoding is greedy longest-match-first (MaxMatch): at each position
take the LONGEST vocabulary piece (word-initial plain, else
``##``-prefixed); a word with any unmatchable position encodes to the
single ``[UNK]`` piece — whole-word UNK, the published behavior, not
per-character fallback. Scan-fused: one ``aggregate`` fold per token
with the vocabulary riding the plan as a ``create_map`` literal
(unigram's Viterbi pattern) — no shuffle, no Python, no join; plan
contract pinned in tests.

Convention wart, stated plainly: a corpus word that itself contains
``##`` is indistinguishable from a continuation piece once spaced.
The mechanics stay deterministic (symbols are just strings); only the
linguistic reading of such pieces is off — the same wart every
``##``-marker WordPiece implementation shares.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .bpe import _adjacent_pair_counts, _word_types
from .dedup import _barrier
from .text import TOKS_SPARK

UNK_PIECE = "[UNK]"


def _wp_spaced(t: Column) -> Column:
    """WordPiece initial segmentation of one token:
    ``"abc"`` -> ``" a ##b ##c"`` (leading space, ``##`` on every
    non-initial character). The one definition shared by training and
    the model's alphabet; DOTALL for the same U+2028-class reason as
    ``bpe._spaced``."""
    head = F.concat(F.lit(" "), F.substring(t, 1, 1))
    tail = F.regexp_replace(
        F.substr(t, F.lit(2), F.length(t)), "(?s)(.)", " ##$1"
    )
    return F.concat(head, tail)


def _wp_word_types(df: DataFrame, text_col: str) -> DataFrame:
    """(s, freq) word-type table under WordPiece segmentation — the
    corpus's ONE full scan, exactly ``bpe._word_types`` with the
    ``##`` spacing."""
    toks = F.expr(TOKS_SPARK.format(c=text_col))
    return (
        df.select(F.explode(toks).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(_wp_spaced(F.col("w")).alias("s"), "freq")
    )


def _symbol_freqs(words: DataFrame) -> DataFrame:
    """(symbol, freq): corpus-weighted symbol frequencies of the
    current state — the score's denominator terms. Vocab-sized."""
    return (
        words.select(
            "freq", F.explode(F.split(F.trim("s"), " ")).alias("symbol")
        )
        .groupBy("symbol")
        .agg(F.sum("freq").alias("freq"))
    )


def merged_symbol(a: str, b: str) -> str:
    """The piece a merge (a, b) creates: b's continuation marker is
    absorbed (``un + ##able -> unable``; ``##ab + ##le -> ##able``)."""
    return a + (b[2:] if b.startswith("##") else b)


def _merge_fold(s: Column, a: str, b: str) -> Column:
    """Greedy left-to-right application of one merge to a spaced
    symbol string — ``bpe._merge_fold`` generalized to WordPiece's
    marker-absorbing merged symbol."""
    merged = merged_symbol(a, b)
    tail = F.lit(" " + a)

    def step(acc: Column, x: Column) -> Column:
        hit = acc.endswith(tail) & (x == F.lit(b))
        return F.when(
            hit,
            F.concat(
                F.substr(acc, F.lit(1), F.length(acc) - F.lit(len(a) + 1)),
                F.lit(" " + merged),
            ),
        ).otherwise(F.concat(acc, F.lit(" "), x))

    return F.aggregate(F.split(F.trim(s), " "), F.lit(""), step)


def wordpiece_train(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 8,
    min_freq: int = 1,
    barrier_every: int = 4,
    round_partitions: int | None = None,
    word_freqs: DataFrame | None = None,
) -> tuple[list[tuple[str, str, float]], DataFrame]:
    """Induce ``n_merges`` WordPiece merges from the corpus.

    Returns ``(merges, words)``: ``merges`` the ordered merge table
    ``[(sym_a, sym_b, score), ...]`` (driver-side model artifact, k
    tuples), ``words`` the post-merge word-type table ``(s, freq)``.

    Per-round cost after the one corpus scan: a vocab-sized pair
    explode + count, a vocab-sized symbol count, two vocab×vocab-key
    equi joins, and a 1-row argmax collect — the ``bpe_train`` shape
    with the likelihood-gain score. Stops early when no pair's
    JOINT frequency reaches ``min_freq`` (the score itself is scale-
    free, so the frequency floor is what filters noise pairs).
    Caching/barrier discipline identical to ``bpe_train``.

    ``word_freqs``: optional pre-aggregated ``(w, freq)`` word-type
    table (``bpe.word_type_freqs``), already materialized (barriered)
    and sized by the caller — the trainer then derives its ##-spaced
    initial state with a vocab-sized job instead of paying its own
    corpus scan+shuffle (the q50 shared-scan shape; values identical
    either way, the spacing being a deterministic per-row map).
    """
    if round_partitions is None:
        round_partitions = max(
            4, df.sparkSession.sparkContext.defaultParallelism // 4
        )
    if word_freqs is not None:
        # No extra barrier: narrow per-row spacing over the caller's
        # materialized partitions (see bpe_train).
        words = word_freqs.select(
            _wp_spaced(F.col("w")).alias("s"), "freq"
        )
    else:
        words = _barrier(
            _wp_word_types(df, text_col).repartition(round_partitions)
        )
    merges: list[tuple[str, str, float]] = []
    pinned: list[DataFrame] = []
    # Round ladder in a ladder session (AQE off) — one job per argmax
    # over cached vocab-sized partitions (see bpe_train /
    # dedup._ladder_session).
    from .dedup import _ladder_session

    words, home = _ladder_session(words)
    for r in range(n_merges):
        pairs = _adjacent_pair_counts(words).where(
            F.col("freq") >= min_freq
        )
        syms = _symbol_freqs(words)
        best = (
            pairs.alias("p")
            .join(syms.alias("fa"), F.col("p.a") == F.col("fa.symbol"))
            .join(syms.alias("fb"), F.col("p.b") == F.col("fb.symbol"))
            .select(
                "p.a",
                "p.b",
                (
                    F.col("p.freq").cast("double")
                    / (
                        F.col("fa.freq").cast("double")
                        * F.col("fb.freq").cast("double")
                    )
                ).alias("score"),
            )
            .orderBy(F.desc("score"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()
        )
        if len(pinned) > 1:
            pinned.pop(0).unpersist()
        if not best:
            break
        a, b, score = best[0]["a"], best[0]["b"], float(best[0]["score"])
        merges.append((a, b, score))
        words = words.withColumn("s", _merge_fold(F.col("s"), a, b))
        if (r + 1) % barrier_every == 0:
            words = _barrier(words)
            for p in pinned:
                p.unpersist()
            pinned.clear()
        else:
            words = words.persist()
            pinned.append(words)
    for p in pinned:
        if p is not words:
            p.unpersist()
    return merges, home(words)


def wordpiece_merges_sql_duck(
    n_merges: int = 4,
    table: str = "documents",
    text_col: str = "text",
) -> str:
    """DuckDB mirror of :func:`wordpiece_train`'s full trajectory (the
    ``bpe_merges_sql_duck`` chained-CTE structure with the WordPiece
    deltas): stage ``i`` recounts pairs AND symbol frequencies over the
    stage-``i-1`` word table, scores each pair
    ``CAST(freq AS DOUBLE) / (CAST(fa AS DOUBLE) * CAST(fb AS DOUBLE))``
    — operand-for-operand the Spark expression, so the IEEE doubles are
    bit-identical — picks the same (score DESC, a, b) argmax, and
    applies the same greedy fold with the marker-absorbing merged
    symbol. Emits one row per executed merge (rk 1..k: a, b, score)
    plus the rk-0 summary row whose ``score`` column carries the
    corpus's total encoded symbol count after all merges (cast to
    DOUBLE — certifying application semantics in-band, like the BPE
    mirror's rk-0). Early stop mirrors via the LEFT JOIN ON TRUE
    pass-through."""
    from .text import TOKS_DUCK

    toks = TOKS_DUCK.format(c=text_col)
    spaced = (
        r"' ' || left(w, 1) || "
        r"regexp_replace(substr(w, 2), '(.)', ' ##\1', 'g')"
    )
    merged = (
        "m.a || CASE WHEN m.b LIKE '##%' THEN substr(m.b, 3) "
        "ELSE m.b END"
    )
    parts = [
        f"""w0 AS MATERIALIZED (
      SELECT {spaced} AS s, CAST(COUNT(*) AS BIGINT) AS freq
      FROM (SELECT unnest({toks}) AS w FROM {table})
      WHERE w != '' GROUP BY w
    )"""
    ]
    for i in range(1, n_merges + 1):
        prev = f"w{i - 1}"
        parts.append(
            f"""p{i} AS MATERIALIZED (
      SELECT syms[i] AS a, syms[i + 1] AS b, CAST(SUM(freq) AS BIGINT) AS freq
      FROM (SELECT string_split(trim(s, ' '), ' ') AS syms, freq FROM {prev}),
           UNNEST(range(1, len(syms))) AS t(i)
      GROUP BY a, b
    )"""
        )
        parts.append(
            f"""s{i} AS MATERIALIZED (
      SELECT sym, CAST(SUM(freq) AS BIGINT) AS freq
      FROM (SELECT unnest(string_split(trim(s, ' '), ' ')) AS sym, freq
            FROM {prev})
      GROUP BY sym
    )"""
        )
        parts.append(
            f"""b{i} AS MATERIALIZED (
      SELECT p.a, p.b,
             CAST(p.freq AS DOUBLE) /
               (CAST(sa.freq AS DOUBLE) * CAST(sb.freq AS DOUBLE)) AS score
      FROM p{i} p
      JOIN s{i} sa ON p.a = sa.sym
      JOIN s{i} sb ON p.b = sb.sym
      ORDER BY score DESC, p.a, p.b LIMIT 1
    )"""
        )
        parts.append(
            f"""w{i} AS MATERIALIZED (
      SELECT CASE WHEN m.a IS NULL THEN w.s ELSE list_reduce(
               list_prepend('', string_split(trim(w.s, ' '), ' ')),
               (acc, x) -> CASE
                 WHEN ends_with(acc, ' ' || m.a) AND x = m.b
                 THEN left(acc, len(acc) - len(m.a) - 1) || ' ' || {merged}
                 ELSE acc || ' ' || x END) END AS s,
             w.freq
      FROM {prev} w LEFT JOIN b{i} m ON TRUE
    )"""
        )
    selects = [
        f"SELECT CAST({i} AS BIGINT) AS rk, a, b, score FROM b{i}"
        for i in range(1, n_merges + 1)
    ]
    selects.append(
        f"SELECT CAST(0 AS BIGINT) AS rk, '<corpus>' AS a, "
        f"CAST(NULL AS VARCHAR) AS b, "
        f"CAST(COALESCE((SELECT SUM(freq * len(string_split(trim(s, ' '), "
        f"' '))) FROM w{n_merges}), 0) AS DOUBLE) AS score"
    )
    return "WITH " + ",\n".join(parts) + "\n" + "\nUNION ALL ".join(selects)


class WordPieceModel:
    """The encode-side artifact: vocabulary pieces + the longest
    CONTENT length (characters matched in the word, the ``##`` marker
    excluded) the MaxMatch window needs."""

    __slots__ = ("pieces", "max_content_len", "unk")

    def __init__(self, pieces, unk: str = UNK_PIECE):
        self.pieces = sorted(set(pieces))
        if not self.pieces:
            raise ValueError("WordPieceModel: empty vocabulary")
        self.unk = unk
        self.max_content_len = max(
            len(p) - 2 if p.startswith("##") else len(p)
            for p in self.pieces
        )
        if self.max_content_len <= 0:
            raise ValueError("WordPieceModel: no non-empty piece")


def wordpiece_model(
    words: DataFrame,
    merges: list[tuple[str, str, float]],
    unk: str = UNK_PIECE,
) -> WordPieceModel:
    """Build the vocabulary from a trained state: every symbol of the
    post-merge word-type table, every merge operand, and every merge
    result. That union is exactly "alphabet + all created pieces":
    a symbol only ever leaves the word table by participating in a
    merge, so operands recover anything merging consumed. The collect
    is vocab-sized (distinct symbols), the same bounded-artifact shape
    as the BPE merge table and IVF centroids."""
    rows = _symbol_freqs(words).select("symbol").collect()
    vocab = {r["symbol"] for r in rows}
    for a, b, _ in merges:
        vocab.add(a)
        vocab.add(b)
        vocab.add(merged_symbol(a, b))
    return WordPieceModel(vocab, unk=unk)


def _maxmatch_expr(tok: Column, model: WordPieceModel) -> Column:
    """Greedy longest-match-first segmentation of one token as a
    scan-fused fold. Accumulator: (pos consumed, pieces, failed);
    each step consumes >= 1 character, so ``length(tok)`` steps
    suffice. Whole-word UNK on any unmatchable position."""
    vmap = F.create_map(*[F.lit(x) for p in model.pieces for x in (p, 1)])
    L = model.max_content_len

    def piece_at(pos: Column, ln: Column) -> Column:
        sub = F.substr(tok, pos + 1, ln)
        return F.when(pos == 0, sub).otherwise(F.concat(F.lit("##"), sub))

    def step(acc: Column, _: Column) -> Column:
        pos = acc["pos"]
        done = acc["failed"] | (pos >= F.length(tok))
        lens = F.sequence(
            F.least(F.lit(L), F.length(tok) - pos), F.lit(1), F.lit(-1)
        )
        best = F.element_at(
            F.filter(
                lens,
                lambda ln: F.element_at(vmap, piece_at(pos, ln)).isNotNull(),
            ),
            1,
        )
        return F.when(done, acc).otherwise(
            F.when(
                best.isNull(),
                F.struct(
                    pos.alias("pos"),
                    acc["out"].alias("out"),
                    F.lit(True).alias("failed"),
                ),
            ).otherwise(
                F.struct(
                    (pos + best).alias("pos"),
                    F.concat(
                        acc["out"], F.array(piece_at(pos, best))
                    ).alias("out"),
                    F.lit(False).alias("failed"),
                )
            )
        )

    final = F.aggregate(
        F.sequence(F.lit(1), F.length(tok)),
        F.struct(
            F.lit(0).cast("int").alias("pos"),
            F.array().cast("array<string>").alias("out"),
            F.lit(False).alias("failed"),
        ),
        step,
    )
    return F.when(
        final["failed"], F.array(F.lit(model.unk))
    ).otherwise(final["out"])


def wordpiece_encode(
    df: DataFrame,
    model: WordPieceModel,
    text_col: str = "text",
    out_col: str = "pieces",
) -> DataFrame:
    """Append the WordPiece segmentation — ``array<string>`` across the
    document's whitespace tokens, in order, unknown words as one
    ``model.unk`` each. Scan-fused (no shuffle, no Python — plan
    contract in tests); NULL text -> NULL."""
    toks = F.expr(TOKS_SPARK.format(c=text_col))
    seg = F.flatten(
        F.transform(
            F.filter(toks, lambda t: t != ""),
            lambda t: _maxmatch_expr(t, model),
        )
    )
    return df.withColumn(
        out_col, F.when(F.col(text_col).isNotNull(), seg)
    )


def wordpiece_token_counts(
    df: DataFrame,
    model: WordPieceModel,
    text_col: str = "text",
    out_col: str = "n_pieces",
) -> DataFrame:
    """Piece count per document — the token-budget surface, same
    scan-fused folds (unigram_token_counts' shape)."""
    out = wordpiece_encode(df, model, text_col, "__wp_pieces")
    return out.withColumn(
        out_col,
        # size(NULL) is -1 under non-ANSI semantics; NULL text must
        # count NULL, not -1
        F.when(
            F.col("__wp_pieces").isNotNull(), F.size("__wp_pieces")
        ),
    ).drop("__wp_pieces")


def wordpiece_vocab_ids(
    model: WordPieceModel, specials: tuple[str, ...] = (UNK_PIECE,)
) -> list[tuple[str, int]]:
    """Deterministic contiguous ids: specials first in the order given
    (``[UNK]`` = 0 by default), then vocabulary pieces in lexicographic
    (binary codepoint) order — stable across runs, engines, layouts."""
    out = list(specials)
    seen = set(specials)
    for p in model.pieces:  # already sorted
        if p not in seen:
            out.append(p)
            seen.add(p)
    return [(p, i) for i, p in enumerate(out)]


def wordpiece_encode_ids(
    df: DataFrame,
    model: WordPieceModel,
    text_col: str = "text",
    out_col: str = "piece_ids",
    specials: tuple[str, ...] = (UNK_PIECE,),
) -> DataFrame:
    """``array<int>`` of :func:`wordpiece_vocab_ids` ids — the stream a
    trainer consumes. Same scan-fused shape; the id map rides the plan
    as a literal."""
    ids = wordpiece_vocab_ids(model, specials)
    idmap = F.create_map(*[F.lit(x) for p, i in ids for x in (p, i)])
    pieces_col = "__wp_pieces"
    out = wordpiece_encode(df, model, text_col, pieces_col)
    return out.withColumn(
        out_col,
        F.when(
            F.col(pieces_col).isNotNull(),
            F.transform(
                F.col(pieces_col), lambda p: F.element_at(idmap, p)
            ),
        ),
    ).drop(pieces_col)
