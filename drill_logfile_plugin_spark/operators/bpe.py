"""Distributed BPE tokenizer training + application.

A training-data pipeline does not just COUNT tokens (operators/text.py
``n_bpe_tokens``) — it *induces* the tokenizer from the corpus. This
module implements the classic byte-pair-encoding merge induction
(Sennrich et al. 2016, "Neural Machine Translation of Rare Words with
Subword Units" — public) Spark-first:

* **Corpus-sized work happens exactly once**: one scan tokenizes and
  builds the word-TYPE frequency table (the shuffle carries one row per
  distinct word per partition, map-side partial agg). Everything after
  runs on the vocabulary, which is orders of magnitude smaller than the
  corpus (Heaps' law) — the property that makes BPE trainable at 100 TB.
* **Each merge round is vocab-sized**: adjacent-pair explode over the
  word types (weighted by word frequency), one partial-agg'd count
  shuffle, and a 1-row argmax ``collect`` — a model artifact, the same
  bounded driver-side collect shape as the IVF centroids
  (similarity.py) and z-order cutpoints (sinks.py). Merge application
  is a narrow JVM ``replace`` on the symbol string — no shuffle.
* **Deterministic end to end**: ties break on (freq DESC, a ASC, b ASC)
  under binary string order (Spark UTF8String and DuckDB both compare
  UTF-8 bytes = codepoint order), so the full merge trajectory — where
  every selection depends on all prior merges — is reproducible across
  runs, cluster sizes, and engines. The q50 ``bpe`` arm hash-pins it
  against an independently-computed DuckDB chain.

Symbol-sequence representation: a word's symbols are kept as a single
space-delimited string (``" a b c"``); tokens never contain whitespace
(they come from a whitespace split), so the delimiter is unambiguous.
Merge application is a left fold over the symbol array with a string
accumulator: if the accumulator ends with ``" a"`` and the next symbol
is ``b``, the tail symbol is rewritten to ``ab``, else the symbol is
appended. The fold IS greedy left-to-right non-overlapping merging —
``aaaa`` under (a,a) becomes ``(aa)(aa)`` and ``aaa`` becomes
``(aa)(a)``, exactly like reference BPE (a delimited string *replace*
would get runs of 4+ wrong: the pattern consumes the shared delimiter,
yielding ``(aa)(a)(a)``). Spark's ``aggregate`` and DuckDB's
``list_reduce`` evaluate the identical CASE, so the trajectory is
engine-exact.

Deviation from Sennrich: no ``</w>`` end-of-word marker — merges are
word-internal only (the word types are already whitespace-delimited and
the marker would double every oracle expression for no extra operator
coverage). Documented, not accidental.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import _barrier
from .text import TOKS_DUCK, TOKS_SPARK

#: Spaced initial symbol string of one token (DuckDB): "abc" -> " a b c ".
_SPACED_DUCK = r"' ' || regexp_replace({t}, '(.)', '\1 ', 'g')"


def _spaced(t: Column) -> Column:
    """Spaced initial symbol string of one token: "abc" -> " a b c ".

    The ONE definition of the character-segmentation scheme on the Spark
    side — training (:func:`_word_types`) and application
    (:func:`bpe_encode`) must space identically or the merge table stops
    applying to what was trained; ``_SPACED_DUCK`` is its SQL mirror.
    """
    # (?s): Java '.' otherwise skips line terminators (U+2028 U+2029
    # U+0085 -- which CAN sit inside a token, since \\s+ splits neither
    # engine on them) while RE2's '.' spaces them, silently fusing a
    # 2-char symbol on the Spark side only. DOTALL closes the gap
    # exactly: \\n never reaches a token, so the only characters it adds
    # are ones RE2's '.' already matched.
    return F.concat(F.lit(" "), F.regexp_replace(t, "(?s)(.)", "$1 "))


def word_type_freqs(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(w, freq): raw word-type frequency table — the corpus's ONE full
    tokenize+explode+aggregate pass.

    Segmentation-scheme-free, so it is shareable: the BPE and WordPiece
    trainers differ only in how they *space* a word into initial symbols,
    not in what they count. A caller inducing both tokenizers over the
    same corpus (the q50 shape) computes this once (barriered) and hands
    it to both trainers via ``word_freqs=`` — one corpus scan+shuffle
    instead of two.

    Empty/whitespace-only documents are dropped here: Spark's
    ``split(trim(''), '\\s+')`` yields ``['']``, and without the filter
    that phantom empty word would put a ``''`` symbol into the trained
    state and the vocabulary (mirrored by ``WHERE w != ''`` in the
    oracle's w0 and the token filter in :func:`bpe_encode`).
    """
    toks = F.expr(TOKS_SPARK.format(c=text_col))
    return (
        df.select(F.explode(toks).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _word_types(df: DataFrame, text_col: str) -> DataFrame:
    """(s, freq): spaced symbol string + corpus frequency per word TYPE."""
    return word_type_freqs(df, text_col).select(
        _spaced(F.col("w")).alias("s"), "freq"
    )


def _adjacent_pair_counts(words: DataFrame) -> DataFrame:
    """(a, b, freq): corpus-weighted adjacent symbol-pair counts.

    Counts every adjacent POSITION (overlapping runs included — "aaa"
    contributes (a,a) twice), exactly as reference BPE does; greedy
    application then merges non-overlapping left-to-right, so a run's
    realized merge count may be lower than its counted frequency. Both
    engines replicate the same count-then-replace pair, so the quirk is
    bit-reproducible.
    """
    arr = F.split(F.trim("s"), " ")
    return (
        words.where(F.size(arr) >= 2)
        .select(
            "freq",
            F.explode(
                F.zip_with(
                    F.slice(arr, 1, F.size(arr) - 1),
                    F.slice(arr, 2, F.size(arr) - 1),
                    lambda a, b: F.struct(a.alias("a"), b.alias("b")),
                )
            ).alias("p"),
        )
        .groupBy("p.a", "p.b")
        .agg(F.sum("freq").alias("freq"))
    )


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 8,
    min_freq: int = 1,
    barrier_every: int = 4,
    round_partitions: int | None = None,
    word_freqs: DataFrame | None = None,
) -> tuple[list[tuple[str, str, int]], DataFrame]:
    """Induce ``n_merges`` BPE merges from the corpus.

    Returns ``(merges, words)``: ``merges`` is the ordered merge table
    ``[(sym_a, sym_b, freq), ...]`` (the model artifact — k tuples on the
    driver, like IVF centroids), ``words`` the post-merge word-type
    frequency table ``(s, freq)`` with ``s`` the spaced symbol string —
    aggregate ``freq * n_symbols`` over it for the corpus's encoded
    token count.

    Stops early when no pair reaches ``min_freq``. The word-type table
    is barriered up front (it anchors every round); after that, each
    round's folded state is ``persist()``-ed and the NEXT round's argmax
    job materializes it — one job per merge, and every round's plan is a
    depth-1 fold over cached vocab partitions (Spark swaps persisted
    frames for their InMemoryRelation at analysis time). The pre-r5 form
    chained the folds instead: round r re-evaluated r nested
    ``aggregate`` folds with a codegen tree that grew with the
    trajectory, which a contended host amplified 5x (the r4 driver
    bench). ``barrier_every`` is the HARD lineage cut on top of the
    per-round pins — an eager checkpoint honoring the dedup tier's
    local-vs-reliable knob (dedup.py ``_barrier``) that bounds the
    recompute cascade a lost executor / evicted cache partition can
    trigger to at most ``barrier_every`` fold re-applications.

    ``round_partitions`` sizes the vocabulary table for the iterative
    phase (default ``max(4, defaultParallelism // 4)``): the k merge
    rounds are LATENCY-bound sequential jobs over a table orders of
    magnitude smaller than the corpus, so fewer, fuller partitions cut
    per-round task overhead while the one corpus-sized count before the
    barrier keeps full parallelism. Scales with the cluster, not a
    constant.

    ``word_freqs``: optional pre-aggregated ``(w, freq)`` word-type table
    (:func:`word_type_freqs`), already materialized (barriered) and sized
    by the caller — the trainer then derives its spaced initial state
    from it with a vocab-sized job instead of paying its own corpus
    scan+shuffle. A caller inducing several tokenizers over one corpus
    (q50: BPE + WordPiece) shares one scan this way. Values are identical
    either way (the spacing is a deterministic per-row map); only where
    the corpus pass runs differs.
    """
    if round_partitions is None:
        round_partitions = max(
            4, df.sparkSession.sparkContext.defaultParallelism // 4
        )
    if word_freqs is not None:
        # No extra barrier: the caller materialized word_freqs, and the
        # spacing is a narrow per-row map over its cached partitions —
        # the first argmax job evaluates it in place, and the per-round
        # persist discipline below keeps every later round depth-1.
        words = word_freqs.select(_spaced(F.col("w")).alias("s"), "freq")
    else:
        words = _barrier(
            _word_types(df, text_col).repartition(round_partitions)
        )
    merges: list[tuple[str, str, int]] = []
    # One job per merge round: the argmax action over round r's pair
    # counts is ALSO what materializes round r's persisted fold (Spark
    # swaps a persisted frame for its InMemoryRelation at analysis time,
    # so round r+1's plan is always a depth-1 fold over cached vocab
    # partitions — never a re-evaluated fold chain, and never a second
    # materialization job per round). ``barrier_every`` keeps its
    # meaning as the HARD lineage cut (eager checkpoint honoring the
    # local-vs-reliable knob), bounding the recompute cascade an evicted
    # cache partition / lost executor could trigger.
    pinned: list[DataFrame] = []
    # The round ladder runs in a ladder session (dedup._ladder_session,
    # AQE off): each argmax is one job over cached vocab-sized
    # partitions instead of several per-stage driver round-trips; the
    # corpus-sized pass above stays in the caller's session, where AQE
    # keeps its value.
    from .dedup import _ladder_session

    words, home = _ladder_session(words)
    for r in range(n_merges):
        best = (
            _adjacent_pair_counts(words)
            .orderBy(F.desc("freq"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()
        )
        # the argmax just materialized `words`; its predecessor's
        # cache partitions are now dead weight
        if len(pinned) > 1:
            pinned.pop(0).unpersist()
        if not best or best[0]["freq"] < min_freq:
            break
        a, b, freq = best[0]["a"], best[0]["b"], int(best[0]["freq"])
        merges.append((a, b, freq))
        words = words.withColumn("s", _merge_fold(F.col("s"), a, b))
        if (r + 1) % barrier_every == 0:
            # the eager checkpoint materializes NOW, through the
            # pinned predecessors — after it they are all dead weight
            words = _barrier(words)
            for p in pinned:
                p.unpersist()
            pinned.clear()
        else:
            words = words.persist()
            pinned.append(words)
    # leave the final state materialized for the caller (vocab/sum reads),
    # but drop every other pin. `p is not words` (not `pinned[:-1]`):
    # when the last executed round took the barrier branch or the loop
    # broke early, the tail of `pinned` is NOT the returned frame, and
    # slicing would leak its cache partitions for the session lifetime.
    for p in pinned:
        if p is not words:
            p.unpersist()
    return merges, home(words)


def _merge_fold(s: Column, a: str, b: str) -> Column:
    """Greedy left-to-right application of one merge (a, b) to a
    space-delimited symbol string — the fold described in the module
    docstring. Pure Column API: the pair strings ride as literals, so
    symbols containing quotes or regex metacharacters are safe (no SQL
    text is built from data)."""
    tail = F.lit(" " + a)

    def step(acc: Column, x: Column) -> Column:
        hit = acc.endswith(tail) & (x == F.lit(b))
        return F.when(
            hit,
            F.concat(
                F.substr(acc, F.lit(1), F.length(acc) - F.lit(len(a) + 1)),
                F.lit(" " + a + b),
            ),
        ).otherwise(F.concat(acc, F.lit(" "), x))

    return F.aggregate(F.split(F.trim(s), " "), F.lit(""), step)


def _apply_merges(spaced: Column, merges: list[tuple[str, str, int]]) -> Column:
    for a, b, _ in merges:
        spaced = _merge_fold(spaced, a, b)
    return spaced


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str, int]],
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Tokenize with a trained merge table: adds ``out_col`` =
    array<string> of subword symbols (word boundaries not preserved,
    matching the flat id stream a trainer consumes).

    Pure JVM column expressions — per word: space the characters
    (:func:`_spaced`, the same segmentation training used), apply the k
    merges in rank order as chained greedy folds (:func:`_merge_fold` —
    the same fold training applied, NOT a string ``replace``, which the
    module docstring shows diverges on runs of 4+), split. Scan-speed at
    any corpus size; the merge table rides the plan as literals (no
    join, no UDF). Empty/whitespace-only documents encode to ``[]``
    (the tokenizer was trained with the same phantom-empty-word filter).
    Concatenating a word's subwords always reconstructs the word
    (merges only ever join adjacent symbols — pinned in pytest).
    """
    toks = F.expr(TOKS_SPARK.format(c=text_col))
    per_word = F.transform(
        F.filter(toks, lambda t: t != F.lit("")),
        lambda t: F.split(F.trim(_apply_merges(_spaced(t), merges)), " "),
    )
    return df.withColumn(out_col, F.flatten(per_word))


def bpe_vocab(words: DataFrame) -> DataFrame:
    """Vocabulary table ``(symbol, freq)`` of a trained tokenizer state —
    the companion artifact to the merge table (a tokenizer ships as
    vocab + merges). Explodes the post-merge word-type symbols weighted
    by word frequency; one partial-agg'd count shuffle over the
    vocabulary, never the corpus. ``SUM(freq)`` over it equals the
    corpus's total encoded symbol count (the q50 bpe arm's rk-0 row),
    and every symbol :func:`bpe_encode` can emit for in-vocabulary text
    appears in it — both pinned in pytest."""
    return (
        words.select(
            "freq", F.explode(F.split(F.trim("s"), " ")).alias("symbol")
        )
        .groupBy("symbol")
        .agg(F.sum("freq").alias("freq"))
    )


def bpe_vocab_ids(
    vocab: DataFrame, specials: tuple[str, ...] = ("<unk>",)
) -> DataFrame:
    """Assign contiguous integer token ids to a :func:`bpe_vocab` table:
    ``(symbol, token_id)`` — the id map a trainer actually consumes.

    Ids are deterministic and engine-stable: ``specials`` take
    ``0..len(specials)-1`` in the order given (``<unk>`` = 0 by
    default), then vocabulary symbols by (freq DESC, symbol ASC) — the
    same total order every run, every engine, every cluster layout, so
    a dataset tokenized today and one tokenized next month under the
    same trained vocab carry identical ids.

    Scale note: the global rank is a single-partition window over the
    VOCABULARY (model-artifact-sized — bounded by the symbol alphabet
    plus one entry per merge, never corpus-sized), the same class of
    bounded state as the merge table itself.
    """
    from pyspark.sql import Window

    if len(set(specials)) != len(specials):
        raise ValueError(f"duplicate special tokens: {specials}")
    spark = vocab.sparkSession
    sp = spark.createDataFrame(
        [(s, i) for i, s in enumerate(specials)],
        "symbol string, token_id long",
    )
    w = Window.orderBy(F.desc("freq"), F.asc("symbol"))
    ranked = vocab.where(~F.col("symbol").isin(*specials) if specials else F.lit(True)).select(
        "symbol",
        (F.row_number().over(w) + len(specials) - 1).cast("long").alias(
            "token_id"
        ),
    )
    return sp.unionByName(ranked)


def bpe_encode_ids(
    df: DataFrame,
    merges: list[tuple[str, str, int]],
    vocab_ids: DataFrame,
    text_col: str = "text",
    out_col: str = "token_ids",
    unk_id: int = 0,
) -> DataFrame:
    """Tokenize straight to integer ids: adds ``out_col`` =
    ``array<long>`` — :func:`bpe_encode`'s symbols mapped through a
    :func:`bpe_vocab_ids` table, out-of-vocabulary symbols to
    ``unk_id``.

    Scan-speed by construction: the id map collapses to ONE map value
    (``map_from_entries(collect_list(...))`` — vocabulary-sized, a model
    artifact) broadcast onto every row via a 1-row cross join (the
    bounded-broadcast pattern the stats frames use), and the lookup is
    a pure ``transform``/``element_at`` expression. No corpus shuffle,
    no UDF, no per-token explode/re-assemble round trip — the plan
    contract in pytest pins the absence of any corpus-side exchange.
    Empty/whitespace documents encode to ``[]`` (same as bpe_encode).
    """
    enc = bpe_encode(df, merges, text_col=text_col, out_col="__sym")
    vmap = vocab_ids.agg(
        F.map_from_entries(
            F.collect_list(F.struct("symbol", "token_id"))
        ).alias("__vmap")
    )
    return (
        enc.crossJoin(F.broadcast(vmap))
        .withColumn(
            out_col,
            F.transform(
                "__sym",
                lambda s: F.coalesce(
                    F.element_at(F.col("__vmap"), s),
                    F.lit(int(unk_id)).cast("long"),
                ),
            ),
        )
        .drop("__sym", "__vmap")
    )


def bpe_merges_sql_duck(
    n_merges: int = 8,
    table: str = "documents",
    text_col: str = "text",
) -> str:
    """DuckDB mirror of :func:`bpe_train`'s full trajectory, as a chained
    CTE: stage ``i`` recounts pairs over the stage-``i-1`` word table,
    picks the same (freq DESC, a, b) argmax, and applies the same greedy
    merge fold (``list_reduce`` of the CASE the Spark ``aggregate``
    evaluates; the merge pair rides in via a 1-row ``LEFT JOIN ON TRUE``
    because DuckDB lambdas cannot contain subqueries — LEFT, not CROSS,
    so when the pair supply is exhausted before ``n_merges`` rounds
    (the trainer's early stop) the empty ``b{{i}}`` passes words through
    unchanged instead of emptying the chain: post-stop stages emit no
    merge row and the rk-0 summary reflects the stopped state, exactly
    like :func:`bpe_train`. Every stage is ``MATERIALIZED`` — inlined
    CTEs would re-expand the chain exponentially. The mirror certifies
    ``min_freq=1`` trainings (it has no frequency floor; with a higher
    floor the trainer stops earlier than the mirror). Emits one row per
    executed merge (rk 1..k) plus the rk-0 summary row — the corpus's
    total encoded symbol count after all merges
    (``SUM(freq * n_symbols)``), which certifies application semantics
    in-band, not just selection.
    """
    toks = TOKS_DUCK.format(c=text_col)
    spaced = _SPACED_DUCK.format(t="w")
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
            f"b{i} AS MATERIALIZED (SELECT a, b, freq FROM p{i} "
            f"ORDER BY freq DESC, a, b LIMIT 1)"
        )
        parts.append(
            f"""w{i} AS MATERIALIZED (
      SELECT CASE WHEN m.a IS NULL THEN w.s ELSE list_reduce(
               list_prepend('', string_split(trim(w.s, ' '), ' ')),
               (acc, x) -> CASE
                 WHEN ends_with(acc, ' ' || m.a) AND x = m.b
                 THEN left(acc, len(acc) - len(m.a) - 1) || ' ' || m.a || m.b
                 ELSE acc || ' ' || x END) END AS s,
             w.freq
      FROM {prev} w LEFT JOIN b{i} m ON TRUE
    )"""
        )
    selects = [
        f"SELECT CAST({i} AS BIGINT) AS rk, a, b, freq FROM b{i}"
        for i in range(1, n_merges + 1)
    ]
    selects.append(
        f"SELECT CAST(0 AS BIGINT) AS rk, '<corpus>' AS a, "
        f"CAST(NULL AS VARCHAR) AS b, "
        f"CAST((SELECT SUM(freq * len(string_split(trim(s, ' '), ' '))) "
        f"FROM w{n_merges}) AS BIGINT) AS freq"
    )
    return "WITH " + ",\n".join(parts) + "\n" + "\nUNION ALL ".join(selects)
