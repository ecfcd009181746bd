"""Byte-pair-encoding tokenizer training as pure DataFrame algebra
(brief requirement — token counting / training-data pipeline surface;
no reference analog).

Classic BPE (Sennrich et al. 2016) trains on the *word-frequency
table*, not the raw corpus: the corpus collapses to (distinct word,
count) once — at 100 TB that is one shuffle on the word and a vocab-
sized table thereafter (natural-language vocabularies are millions of
rows, not billions) — and every merge round then runs over vocab-scale
data. Each round is: adjacent-pair counts weighted by word frequency
(one explode + one aggregate), a deterministic arg-max (count desc,
then pair lexicographically), and a single-scan merge application.

Portability contract (what the DuckDB oracle replays bit-for-bit):

- a word is represented as a symbol string ``' c1 c2 ... </w> '`` —
  single-space separated with leading AND trailing spaces, so the
  pair (a, b) occurs exactly where ``' a b '`` occurs;
- applying a merge is ``replace(sym, ' a b ', ' ab ')`` — both
  engines' ``replace`` substitutes non-overlapping occurrences
  scanning left to right and resuming AFTER the replacement, so for a
  run ``a a a a`` one round merges positions (1,2) — the consumed
  separator means (3,4) merges on a LATER occurrence scan, a
  documented, deterministic deviation from exhaustive-per-round
  application that both engines share;
- the arg-max tie-break is binary string order (both engines'
  default collation).

The per-round state (the symbol table) is vocab-sized, so rounds are
``localCheckpoint``-truncated like ``dedup.connected_components`` —
plans stay O(1) in the merge count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import words

END_MARK = "</w>"


def word_symbol_table(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(sym, cnt): the word-frequency table with each distinct word
    expanded to its initial character-symbol string."""
    tok = df.select(F.explode(words(text_col)).alias("word"))
    return symbol_table_from_words(
        tok.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    )


def symbol_table_from_words(wordtab: DataFrame) -> DataFrame:
    """Symbol table from an existing (word, cnt) frequency table — the
    entry point the streaming corpus collector uses
    (``streaming.word_count_sink`` state serves BOTH tokenizer
    families; see ``unigram.unigram_train_from_words``)."""
    sym = F.concat(
        F.lit(" "),
        F.concat_ws(" ", F.expr("regexp_extract_all(word, '.', 0)")),
        F.lit(f" {END_MARK} "),
    )
    return wordtab.select(sym.alias("sym"), "cnt")


def pair_counts(symbols: DataFrame) -> DataFrame:
    """Adjacent symbol-pair counts weighted by word frequency:
    (l, r, n). One explode over vocab-scale rows + one aggregate."""
    base = symbols.select("cnt", F.split(F.trim(F.col("sym")), " ").alias("a")).filter(
        F.size("a") >= 2
    )
    pairs = base.select(
        "cnt",
        F.explode(
            F.expr(
                "transform(sequence(1, size(a) - 1),"
                " i -> struct(element_at(a, i) AS l, element_at(a, i + 1) AS r))"
            )
        ).alias("p"),
    )
    return pairs.groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r")).agg(
        F.sum("cnt").alias("n")
    )


def apply_merge(symbols: DataFrame, merge: DataFrame) -> DataFrame:
    """Apply the 1-row (l, r) merge to every symbol string — a
    broadcast of the scalar pair + a map-side replace; no shuffle."""
    return (
        symbols.crossJoin(F.broadcast(merge.select("l", "r")))
        .withColumn(
            "sym",
            F.expr("replace(sym, ' ' || l || ' ' || r || ' ', ' ' || l || r || ' ')"),
        )
        .select("sym", "cnt")
    )


def bpe_train(
    df: DataFrame, n_merges: int = 8, text_col: str = "text"
) -> DataFrame:
    """Train ``n_merges`` BPE merges; returns (merge_rank, left_sym,
    right_sym, pair_count) in training order. Deterministic: arg-max by
    (count desc, l, r) binary order."""
    return bpe_train_from_symbols(word_symbol_table(df, text_col), n_merges)


def bpe_train_from_symbols(symbols: DataFrame, n_merges: int = 8) -> DataFrame:
    """Train from an existing symbol table (see
    :func:`symbol_table_from_words`) — BPE's from-state entry point."""
    # DEFERRED checkpoints (optimization round 15): eager=True ran two
    # blocking driver jobs per merge round (16 sequential jobs for 8
    # merges); deferred barriers keep the same materialize-once reuse
    # (top feeds the merge row AND apply_merge; cur feeds the next
    # round's pair_counts AND apply_merge) while the work executes
    # inside the consumer's own jobs.
    cur = symbols.localCheckpoint(eager=False)
    out: list[DataFrame] = []
    for rank in range(1, n_merges + 1):
        top = (
            pair_counts(cur)
            .orderBy(F.desc("n"), "l", "r")
            .limit(1)
            .localCheckpoint(eager=False)
        )
        out.append(
            top.select(
                F.lit(rank).cast("long").alias("merge_rank"),
                F.col("l").alias("left_sym"),
                F.col("r").alias("right_sym"),
                F.col("n").alias("pair_count"),
            )
        )
        if rank < n_merges:
            cur = apply_merge(cur, top).localCheckpoint(eager=False)
    merges = out[0]
    for m in out[1:]:
        merges = merges.unionAll(m)
    return merges


def corpus_alphabet(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(char): the distinct single characters of the corpus's words —
    the BPE training alphabet, against which :func:`bpe_encode`'s
    ``alphabet`` byte-fallback checks encode-time characters. One
    corpus-scale explode collapsing to alphabet-scale rows (at 100 TB
    the output is a few thousand rows regardless of corpus size)."""
    return (
        df.select(F.explode(words(text_col)).alias("word"))
        .select(F.explode(F.expr("regexp_extract_all(word, '.', 0)")).alias("char"))
        .distinct()
    )


def bpe_encode(
    df: DataFrame,
    merges: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alphabet: DataFrame | None = None,
) -> DataFrame:
    """Tokenize documents with a trained merge table: fold the merges
    in rank order over each word's symbol string (the standard greedy
    application), then explode to (id, token). The merge table is
    collapsed to ONE array row and broadcast — documents are never
    shuffled.

    ``alphabet`` (a (char) frame, normally
    :func:`corpus_alphabet` over the TRAINING corpus) switches on
    byte fallback (VERDICT r11 #5, the GPT-2 byte-level discipline
    adapted to char-seeded BPE): after the merge fold, any
    single-character token outside the training alphabet is emitted as
    its UTF-8 byte tokens ``<0xNN>`` instead of a raw unknown symbol —
    no input is ever out-of-vocabulary. Only single characters can be
    unknown by construction: every multi-character token is some
    merge's output (the fold only ever concatenates ``' l r '`` into
    ``' lr '``), and the end mark is ``</w>`` — both always known. The
    alphabet rides the encode as one broadcast map row, same as the
    merge table."""
    # array_sort on the struct (rank leads) — collect_list order is not
    # guaranteed by an upstream orderBy
    table = merges.agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    "merge_rank",
                    F.col("left_sym").alias("l"),
                    F.col("right_sym").alias("r"),
                )
            )
        ).alias("_merges")
    )
    tok = df.select(F.col(id_col), F.explode(words(text_col)).alias("word"))
    # Fold the merges once per DISTINCT word, not per occurrence
    # (optimization round 15, guide §2.3's "decide on the proxy" in
    # per-task form): the fold's result is a pure function of the word,
    # and the interpreted 8-step replace fold over every corpus token
    # occurrence was ~4x the cost of the vocab-scale fold. The encoded
    # vocabulary is the same broadcastable size class as the merge/
    # alphabet artifacts themselves; occurrences attach by broadcast
    # join, so documents are still never shuffled.
    sym = F.concat(
        F.lit(" "),
        F.concat_ws(" ", F.expr("regexp_extract_all(word, '.', 0)")),
        F.lit(f" {END_MARK} "),
    )
    wenc = (
        tok.select("word")
        .distinct()
        .crossJoin(F.broadcast(table))
        .withColumn("_sym", sym)
        .withColumn(
            "_sym",
            F.expr(
                "aggregate(_merges, _sym, (acc, m) ->"
                " replace(acc, ' ' || m.l || ' ' || m.r || ' ', ' ' || m.l || m.r || ' '))"
            ),
        )
    )
    if alphabet is None:
        wtoks = wenc.select("word", F.split(F.trim(F.col("_sym")), " ").alias("_toks"))
    else:
        from .unigram import byte_tokens_sql

        amap = alphabet.agg(
            F.map_from_entries(
                F.collect_list(F.struct(F.col("char"), F.lit(True).alias("v")))
            ).alias("_alpha")
        )
        toks = (
            "flatten(transform(split(trim(_sym), ' '), tk ->"
            " CASE WHEN length(tk) > 1 OR try_element_at(_alpha, tk) IS NOT NULL"
            f" THEN array(tk) ELSE {byte_tokens_sql('tk')} END))"
        )
        wtoks = wenc.crossJoin(F.broadcast(amap)).select(
            "word", F.expr(toks).alias("_toks")
        )
    return tok.join(F.broadcast(wtoks), on="word").select(
        id_col, F.explode("_toks").alias("token")
    )
