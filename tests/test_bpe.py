"""BPE trainer/encoder invariants (operators/bpe.py). The end-to-end
merge values are oracle-checked in test_oracle.py (``bpe_merges``);
these pin the encoder semantics and the cross-engine ``replace``
contract the whole design rests on."""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

from data_warehouse_implementation_spark.operators import bpe
from data_warehouse_implementation_spark.session import load_tables


def test_replace_run_semantics_match_duckdb(spark):
    """Both engines must resolve overlapping-run merges identically:
    single-pass, left-to-right, resuming after the replacement."""
    cases = [" a a a ", " a a a a ", " a a a a a ", " x a a y a a "]
    got = [
        r.out
        for r in spark.createDataFrame([(c,) for c in cases], "s string")
        .select(F.expr("replace(s, ' a a ', ' aa ')").alias("out"))
        .collect()
    ]
    con = duckdb.connect()
    want = [
        con.execute("SELECT replace(?, ' a a ', ' aa ')", [c]).fetchone()[0]
        for c in cases
    ]
    assert got == want


def test_bpe_encode_roundtrip_and_compression(spark):
    """Encoded tokens must reconstruct each word exactly (strip the
    end marker, concatenate), and training must actually compress:
    fewer tokens than characters, some multi-char tokens."""
    docs = load_tables(spark, "/root/testdata/sf0.001")["documents"]
    merges = bpe.bpe_train(docs, n_merges=8)
    rows = merges.collect()
    assert [r.merge_rank for r in rows] == list(range(1, 9))
    assert all(r.pair_count > 0 for r in rows)

    enc = bpe.bpe_encode(docs, merges)
    # per-doc reconstruction: tokens, stripped of the end marker and
    # concatenated, must equal the lowercased whitespace-joined words
    rebuilt = (
        enc.withColumn("piece", F.regexp_replace("token", "</w>$", ""))
        .groupBy("doc_id")
        .agg(F.concat_ws("", F.collect_list("piece")).alias("glued"))
    )
    orig = docs.select(
        "doc_id",
        F.concat_ws("", F.expr(r"filter(split(lower(text), '\\s+'), x -> x != '')")).alias(
            "want"
        ),
    )
    # collect_list order within a doc is the explode order of a single
    # row's tokens (no shuffle between explode and agg at this size is
    # NOT guaranteed, so compare as multisets of characters instead):
    # sorted char arrays equal <=> same characters with same counts,
    # which catches substitution/permutation that a length check misses
    joined = rebuilt.join(orig, on="doc_id")
    charbag = lambda c: F.sort_array(F.split(F.col(c), ""))
    bad = joined.filter(
        ~(charbag("glued") == charbag("want"))
    ).count()
    assert bad == 0, "token pieces lost, duplicated, or substituted characters"

    n_tokens = enc.count()
    n_chars = docs.select(F.sum(F.length(F.regexp_replace(F.lower("text"), r"\s+", "")))).first()[0]
    n_words = docs.select(
        F.sum(F.size(F.expr(r"filter(split(lower(text), '\\s+'), x -> x != '')")))
    ).first()[0]
    # untrained tokenization = every char + one </w> marker per word;
    # 8 merges must strictly beat it
    assert n_tokens < n_chars + n_words, "no compression over character tokenization"
    assert enc.filter(F.length(F.regexp_replace("token", "</w>$", "")) >= 2).count() > 0


def test_bpe_merge_application_is_exact(spark):
    """A crafted corpus with a known best pair: 'ab' dominates, so
    round 1 must merge (a, b) and the merged symbol must appear in the
    round-2 state."""
    df = spark.createDataFrame(
        [("ab ab ab ab cd",), ("ab ab cd",)], "text string"
    )
    m = bpe.bpe_train(df, n_merges=2).collect()
    assert (m[0].left_sym, m[0].right_sym, m[0].pair_count) == ("a", "b", 6)
    # round 2: 'ab' + '</w>' (6) beats 'c d' (2)
    assert (m[1].left_sym, m[1].right_sym) == ("ab", "</w>")


def test_bpe_byte_fallback_unseen_chars_become_bytes(spark):
    """VERDICT r11 #5 (BPE side): with a training ``alphabet``, encode
    is total — single characters outside the alphabet come out as
    UTF-8 byte tokens; merged symbols and the end mark are always
    known; alphabet characters pass through; and on fully-known text
    the output equals the strict encoder's."""
    from data_warehouse_implementation_spark.operators import bpe

    train = spark.createDataFrame(
        [(1, "the cat sat on the mat the cat"), (2, "the hat on the cat")],
        "doc_id long, text string",
    )
    merges = bpe.bpe_train(train, n_merges=4)
    alpha = bpe.corpus_alphabet(train)
    probe = spark.createDataFrame([(9, "the züx cat")], "doc_id long, text string")
    toks = [r.token for r in bpe.bpe_encode(probe, merges, alphabet=alpha).collect()]
    assert "<0x7A>" in toks and "<0xC3>" in toks and "<0xBC>" in toks and "<0x78>" in toks
    assert not any(t in ("z", "ü", "x") for t in toks)
    assert toks.count("</w>") >= 1  # end mark survives the byte pass
    known = spark.createDataFrame([(3, "the cat hat")], "doc_id long, text string")
    strict = sorted((r.doc_id, r.token) for r in bpe.bpe_encode(known, merges).collect())
    fb = sorted(
        (r.doc_id, r.token) for r in bpe.bpe_encode(known, merges, alphabet=alpha).collect()
    )
    assert strict == fb


def test_wordpiece_score_differs_from_bpe_frequency(spark):
    """The WordPiece objective: the likelihood-gain score must pick a
    rare-but-exclusive pair over the most FREQUENT pair when the
    frequent pair's symbols are promiscuous — the crafted corpus where
    BPE and WordPiece provably choose differently on round 1."""
    from data_warehouse_implementation_spark.operators import bpe, wordpiece

    # 'xy' appears 4x but x,y appear 12x each elsewhere; 'qu' appears
    # 2x and q,u appear ONLY together
    docs = spark.createDataFrame(
        [(1, "xy xy xy xy xa xb xc ya yb yc ax bx cx ay by cy qu qu")],
        "doc_id long, text string",
    )
    wp = wordpiece.wordpiece_train(docs, n_merges=1).collect()[0]
    bp = bpe.bpe_train(docs, n_merges=1).collect()[0]
    assert (wp.left_sym, wp.right_sym) == ("q", "u")
    assert (bp.left_sym, bp.right_sym) != ("q", "u")
    # the score is exactly n/(nl*nr)
    assert wp.score == wp.pair_count / (wp.left_count * wp.right_count)


def test_wordpiece_greedy_encode_longest_match_and_unk(spark):
    """Greedy longest-match-first semantics, brute-forced: the longest
    vocab piece wins at each position; a word with an unmatchable
    character collapses to ['[UNK]'] (the BERT rule)."""
    from data_warehouse_implementation_spark.operators import wordpiece

    vocab = spark.createDataFrame(
        [("a",), ("b",), ("ab",), ("abc",), ("c",), ("d",)], "piece string"
    )
    wt = spark.createDataFrame(
        [("abcab", 1), ("abd", 2), ("abz", 3), ("dcba", 1)], "word string, cnt long"
    )
    out = {
        r.word: (list(r.pieces), r.n_pieces)
        for r in wordpiece.wordpiece_encode_words(wt, vocab, max_piece_len=3).collect()
    }
    assert out["abcab"] == (["abc", "ab"], 2)  # longest-first, not a+b
    assert out["abd"] == (["ab", "d"], 2)
    assert out["abz"] == (["[UNK]"], 1)  # z unmatched -> whole word UNK
    assert out["dcba"] == (["d", "c", "b", "a"], 4)


def test_wordpiece_encode_matches_python_greedy_on_corpus(spark):
    """End-to-end differential on the real sf0.001 corpus: the in-row
    greedy fold must equal a python replay of greedy longest-match
    over the SAME trained vocabulary for every distinct word."""
    from pyspark.sql import functions as F

    from data_warehouse_implementation_spark.operators import wordpiece
    from data_warehouse_implementation_spark.operators.text import words
    from data_warehouse_implementation_spark.session import load_tables

    docs = load_tables(spark, "/root/testdata/sf0.001")["documents"]
    merges = wordpiece.wordpiece_train(docs, n_merges=4)
    vocab = wordpiece.wordpiece_vocab(docs, merges)
    vset = {r.piece for r in vocab.collect()}
    wt = (
        docs.select(F.explode(words("text")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    got = {
        r.word: list(r.pieces)
        for r in wordpiece.wordpiece_encode_words(wt, vocab, max_piece_len=6).collect()
    }

    def greedy(w):
        out, i = [], 0
        while i < len(w):
            for l in range(min(6, len(w) - i), 0, -1):
                if w[i : i + l] in vset:
                    out.append(w[i : i + l])
                    i += l
                    break
            else:
                return ["[UNK]"]
        return out

    for w, pieces in got.items():
        assert pieces == greedy(w), (w, pieces, greedy(w))

