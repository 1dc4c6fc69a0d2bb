"""BPE merge learning (operators/tokenizer.py): reference semantics on
hand-computable corpora — merged symbols must feed later rounds, the merge
application must be greedy left-to-right single-pass, ties must break
deterministically, and the loop must stop early when no pair remains."""

from __future__ import annotations

import collections

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from postgres_debezium_clickhouse_spark.operators.tokenizer import (
    _apply_merge,
    bpe_top_merges,
)


def test_bpe_merged_symbol_feeds_next_round(spark):
    docs = spark.createDataFrame([("hello hello hell",)] * 5, ["text"])
    got = [(r.left_sym, r.right_sym, r.merged, r.pair_count)
           for r in bpe_top_merges(docs, k=3).collect()]
    # round 1: (h,e)=15 ties (e,l)=15 -> 'e' < 'h' wins; then el+l, h+ell
    assert got == [("e", "l", "el", 15), ("el", "l", "ell", 15),
                   ("h", "ell", "hell", 15)]


def _reference_bpe(vocab: dict, k: int) -> list:
    """Textbook BPE over a {word: count} vocabulary: each round merges the
    most frequent adjacent pair (ties: smallest (left, right)), scanning
    every word left to right without overlap."""
    words = {tuple(w): c for w, c in vocab.items()}
    table = []
    for rank in range(1, k + 1):
        counts = collections.Counter()
        for syms, c in words.items():
            for pair in zip(syms, syms[1:]):
                counts[pair] += c
        if not counts:
            break
        best = max(counts.values())
        left, right = min(p for p, n in counts.items() if n == best)
        table.append((rank, left, right, left + right, best))
        merged = {}
        for syms, c in words.items():
            out, i = [], 0
            while i < len(syms):
                if syms[i:i + 2] == (left, right):
                    out.append(left + right)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            merged[tuple(out)] = c
        words = merged
    return table


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    vocab=st.dictionaries(st.text("abc", min_size=1, max_size=6),
                          st.integers(1, 3), min_size=1, max_size=8),
    k=st.integers(1, 6),
)
def test_bpe_learner_matches_python_reference(spark, vocab, k):
    """Counts of 1-3 over a three-letter alphabet tie often: the one-task
    learner must make the reference's choice in every round."""
    text = " ".join(w for w, c in vocab.items() for _ in range(c))
    docs = spark.createDataFrame([(text,)], ["text"])
    got = sorted(tuple(r) for r in bpe_top_merges(docs, k=k).collect())
    assert got == _reference_bpe(vocab, k)


def test_bpe_stops_early_when_no_pairs_remain(spark):
    docs = spark.createDataFrame([("ab ab",)], ["text"])
    rows = bpe_top_merges(docs, k=5).collect()
    assert [(r.merged, r.pair_count) for r in rows] == [("ab", 2)]


def test_apply_merge_is_greedy_left_to_right(spark):
    df = spark.createDataFrame(
        [(["a", "a", "a"],), (["a", "a", "a", "a"],), (["b", "a", "a"],), ([],)],
        "syms array<string>",
    )
    out = [r.m for r in df.select(_apply_merge(F.col("syms"), "a", "a").alias("m")).collect()]
    # aaa -> [aa, a] (no overlapping re-merge), aaaa -> [aa, aa]
    assert out == [["aa", "a"], ["aa", "aa"], ["b", "aa"], []]


def test_bpe_on_real_corpus_is_sane(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("text")
    rows = bpe_top_merges(docs, k=3).collect()
    assert len(rows) == 3
    assert [r.merge_rank for r in rows] == [1, 2, 3]
    for r in rows:
        assert r.merged == r.left_sym + r.right_sym
        assert r.pair_count > 0
    # determinism: same corpus, same table
    again = bpe_top_merges(docs, k=3).collect()
    assert [tuple(r) for r in again] == [tuple(r) for r in rows]


def test_bpe_encode_roundtrip_with_learned_table(spark):
    """Train → encode end-to-end on hand-computable text; unknown symbols
    pass through unmerged, empty text encodes to zeros."""
    train = spark.createDataFrame([("abc abc ab de",)] * 3, ["text"])
    table = bpe_top_merges(train, k=3).collect()
    merges = [(r.left_sym, r.right_sym) for r in sorted(table, key=lambda r: r.merge_rank)]
    from postgres_debezium_clickhouse_spark.operators.tokenizer import bpe_encode

    docs = spark.createDataFrame(
        [(1, "abcd ab ae"), (2, "zzz"), (3, "")],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in bpe_encode(docs, merges).collect()}
    assert (out[1].n_words, out[1].n_subwords, out[1].n_base_symbols) == (3, 5, 8)
    assert out[1].compression == 1.6
    assert (out[2].n_subwords, out[2].n_base_symbols) == (3, 3)  # no rule applies
    assert (out[3].n_words, out[3].n_subwords) == (0, 0)


@pytest.mark.slow
def test_bpe_subwords_always_reconstruct_the_word(spark):
    """Property (hypothesis): for ANY corpus of random small-alphabet
    words and the merge table learned from it, every word's subword
    sequence concatenates back to exactly the original word — merging can
    regroup symbols but never lose or invent characters."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st
    from pyspark.sql import functions as F

    from postgres_debezium_clickhouse_spark.operators.tokenizer import _apply_merge

    word = st.text(alphabet="abcd", min_size=1, max_size=8)

    @settings(max_examples=10, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(words=st.lists(word, min_size=1, max_size=12))
    def prop(words):
        docs = spark.createDataFrame([(" ".join(words),)], ["text"])
        table = bpe_top_merges(docs, k=3).collect()
        df = spark.createDataFrame([(w,) for w in set(words)], ["w"])
        syms = F.split("w", "")
        for r in sorted(table, key=lambda r: r.merge_rank):
            syms = _apply_merge(syms, r.left_sym, r.right_sym)
        out = df.select("w", F.concat_ws("", syms).alias("rejoined")).collect()
        for row in out:
            assert row.rejoined == row.w, (row.w, row.rejoined)

    prop()


def test_merge_pairs_accepts_schema_rows_and_validates(spark):
    """ADVICE r7: passing bpe_top_merges rows (5-tuples / Rows) straight to
    bpe_encode must work — rank-sorted, identical to the 2-tuple form —
    and malformed entries (int rank where a symbol belongs) must raise
    instead of silently applying no merges."""
    import pytest

    from postgres_debezium_clickhouse_spark.operators.tokenizer import (
        bpe_encode,
        bpe_top_merges,
    )

    train = spark.createDataFrame([("abc abc ab de",)] * 3, ["text"])
    rows = bpe_top_merges(train, k=3).collect()
    docs = spark.createDataFrame([(1, "abcd ab ae"), (2, "zzz")], ["doc_id", "text"])
    want = sorted(map(tuple, bpe_encode(
        docs, [(r.left_sym, r.right_sym) for r in rows]).collect()))
    # Row objects straight from collect(), deliberately shuffled
    got_rows = sorted(map(tuple, bpe_encode(docs, rows[::-1]).collect()))
    # full 5-tuples, also shuffled
    got_tuples = sorted(map(tuple, bpe_encode(
        docs, [tuple(r) for r in rows][::-1]).collect()))
    assert got_rows == want and got_tuples == want
    with pytest.raises(TypeError, match="symbols must be strings"):
        bpe_encode(docs, [("a", 2)])
    with pytest.raises(TypeError, match="pair or a"):
        bpe_encode(docs, ["ab"])
    with pytest.raises(TypeError, match="pair or a"):
        bpe_encode(docs, [(1, "a", "b")])  # 3-tuple: neither form


def test_bpe_encode_arrow_bit_equal_small_table(spark):
    """Arrow path vs expression path on the planted fixture: identical
    rows including nulls/empty-text edge cases and the rounded
    compression column."""
    from postgres_debezium_clickhouse_spark.operators.tokenizer import (
        bpe_encode,
        bpe_encode_arrow,
        bpe_top_merges,
    )

    train = spark.createDataFrame([("abc abc ab de",)] * 3, ["text"])
    rows = bpe_top_merges(train, k=3).collect()
    docs = spark.createDataFrame(
        [(1, "abcd ab ae"), (2, "zzz"), (3, ""), (4, None), (5, "abc abc abc")],
        "doc_id long, text string",
    )
    expr = sorted(map(tuple, bpe_encode(docs, rows).collect()))
    arrow = sorted(map(tuple, bpe_encode_arrow(docs, rows).collect()))
    assert arrow == expr


@pytest.mark.slow
def test_bpe_encode_arrow_k100_learned_merges(spark):
    """K≥100 LEARNED merges (r7 verdict item 6).  At K=110 the expression
    path cannot even ANALYZE (Catalyst hits `Max iterations (100) reached
    for batch Resolution` — measured, this is the plan explosion the Arrow
    path exists for), so at production K the Arrow path is checked against
    an in-test pure-Python reference; expression-vs-arrow bit-equality is
    pinned at K=40, inside the expression form's working range."""
    import string
    from decimal import ROUND_HALF_UP, Decimal

    from postgres_debezium_clickhouse_spark.operators.tokenizer import (
        bpe_encode,
        bpe_encode_arrow,
        bpe_top_merges,
    )

    # 26 run-words of length 24 → 5 merges each (24→12→6→3→1 symbols),
    # 130 learnable merges total
    words = [c * 24 for c in string.ascii_lowercase]
    train = spark.createDataFrame([(" ".join(words),)] * 2, ["text"])
    rows = bpe_top_merges(train, k=110).collect()
    assert len(rows) >= 100
    docs = [(i, words[i % 26] + " " + words[(i * 7) % 26][: 3 + i % 19])
            for i in range(24)]
    docs_df = spark.createDataFrame(docs, "doc_id long, text string")

    def ref_row(doc_id, s, pairs):
        ws = [w for w in s.split(" ") if w]

        def enc_len(w):
            syms = list(w)
            for left, right in pairs:
                out, pend = [], None
                for c in syms:
                    if pend is None:
                        pend = c
                    elif pend == left and c == right:
                        out.append(left + right)
                        pend = None
                    else:
                        out.append(pend)
                        pend = c
                if pend is not None:
                    out.append(pend)
                syms = out
            return len(syms)

        subs = sum(enc_len(w) for w in ws)
        base = sum(len(w) for w in ws)
        comp = None if subs == 0 else float(
            Decimal(repr(base / subs)).quantize(
                Decimal("0.0001"), rounding=ROUND_HALF_UP))
        return (doc_id, len(ws), subs, base, comp)

    pairs = [(r.left_sym, r.right_sym) for r in rows]
    expected = sorted(ref_row(i, s, pairs) for i, s in docs)
    arrow = sorted(map(tuple, bpe_encode_arrow(docs_df, rows).collect()))
    assert arrow == expected
    # expression-vs-arrow bit-equality at K=40 (same learned table prefix)
    expr40 = sorted(map(tuple, bpe_encode(docs_df, rows[:40]).collect()))
    arrow40 = sorted(map(tuple, bpe_encode_arrow(docs_df, rows[:40]).collect()))
    assert arrow40 == expr40


def test_bpe_encode_arrow_takes_the_learned_frame(spark):
    """The merge frame from ``bpe_top_merges`` encodes exactly like its
    collected rows, without a job at build time."""
    from _jobs import spark_jobs

    from postgres_debezium_clickhouse_spark.operators.tokenizer import bpe_encode_arrow

    train = spark.createDataFrame([("hello hello hell yellow",)] * 3, ["text"])
    docs = spark.createDataFrame(
        [(1, "hello yell"), (2, "low hell o"), (3, "")], "doc_id long, text string")
    rows = bpe_top_merges(train, k=4).collect()
    with spark_jobs(spark) as jobs:
        lazy = bpe_encode_arrow(docs, bpe_top_merges(train, k=4))
    assert jobs == []
    assert sorted(map(tuple, lazy.collect())) == sorted(
        map(tuple, bpe_encode_arrow(docs, rows).collect()))


def test_bpe_encode_arrow_preserves_id_dtype(spark):
    """String doc ids flow through the Arrow boundary unchanged."""
    from postgres_debezium_clickhouse_spark.operators.tokenizer import bpe_encode_arrow

    docs = spark.createDataFrame([("d-1", "ab ab")], "doc_id string, text string")
    out = bpe_encode_arrow(docs, [("a", "b")]).collect()
    assert out[0].doc_id == "d-1" and out[0].n_subwords == 2


def _unigram_docs(spark):
    return spark.createDataFrame(
        [(1, "the cat sat on the mat the cat"),
         (2, "the mat the cat the hat thecat")],
        "doc_id long, text string",
    )


def test_unigram_viterbi_picks_whole_pieces_and_splits_unknowns(spark):
    """r11: frequent words segment as single pieces; a word ABSENT from
    the multi-char seeds ('thecat', length 6 > max_piece_len) must split
    into the maximum-likelihood pieces — here the frequent 'the'+'cat'
    (two likely pieces beat any char-path)."""
    from postgres_debezium_clickhouse_spark.operators.tokenizer import (
        _logp, _seed_vocab, unigram_viterbi_tokens, unigram_words,
    )

    words = unigram_words(_unigram_docs(spark))
    seed = _logp(_seed_vocab([(r.w, r.cnt) for r in words.collect()], 4, 48))
    vocab = spark.createDataFrame(list(seed.items()), "piece string, logp double")
    seg = {r.w: list(r.ts) for r in
           unigram_viterbi_tokens(words, vocab).collect()}
    assert seg["the"] == ["the"] and seg["cat"] == ["cat"]
    assert seg["thecat"] == ["the", "cat"]
    # every segmentation concatenates back to its word (losslessness)
    assert all("".join(ts) == w for w, ts in seg.items())


def test_unigram_train_counts_floor_and_determinism(spark):
    from postgres_debezium_clickhouse_spark.operators.tokenizer import (
        unigram_train,
    )

    out1 = {r.piece: (r.cnt, r.logp) for r in
            unigram_train(_unigram_docs(spark), n_iters=1).collect()}
    out2 = {r.piece: (r.cnt, r.logp) for r in
            unigram_train(_unigram_docs(spark), n_iters=1).collect()}
    assert out1 == out2                      # deterministic rebuild
    assert out1["the"][0] == 7               # 6 standalone + 1 in 'thecat'
    assert out1["cat"][0] == 4               # 3 standalone + 1 in 'thecat'
    # unused single chars survive with the 0.5-probability floor, cnt 0
    assert out1["e"][0] == 0 and out1["e"][1] < out1["the"][1]
    # pieces that won no Viterbi mass are pruned (e.g. 'at' loses to
    # whole-word pieces everywhere)
    assert "at" not in out1


def test_unigram_train_rejects_zero_iterations(spark):
    """At least one EM round is needed to produce Viterbi counts."""
    from postgres_debezium_clickhouse_spark.operators.tokenizer import (
        unigram_train,
    )

    with pytest.raises(ValueError, match="n_iters"):
        unigram_train(_unigram_docs(spark), n_iters=0)


def test_unigram_and_wordpiece_build_lazily(spark, sf_dir):
    """Once a fixture's schema is cached, building the unigram trainer,
    the pruner or any of the unigram/WordPiece tokenizer queries runs no
    Spark job and leaves the session's cached and checkpointed storage
    at its starting level: the EM rounds, the prune loop and the vocab
    all live inside the lazy plan."""
    from _jobs import spark_jobs

    import __spark_entry__ as m
    from postgres_debezium_clickhouse_spark.operators.tokenizer import (
        unigram_prune, unigram_train,
    )
    from postgres_debezium_clickhouse_spark.sources.files import load_table

    def stored():
        infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(r.memSize() + r.diskSize() for r in infos)

    def docs():
        return load_table(spark, sf_dir, "documents").select("doc_id", "text")

    builds = {
        "unigram_train": lambda: unigram_train(docs(), n_iters=2),
        "unigram_prune": lambda: unigram_prune(docs(), target_multi=8, shrink=0.25),
    }
    for name in ("corpus_unigram_vocab", "corpus_unigram_encode", "corpus_unigram_prune",
                 "corpus_tokenizer_fertility", "corpus_wordpiece_encode"):
        builds[name] = lambda q=m.queries()[name]: q(spark, sf_dir)
    start = stored()
    for name, build in builds.items():
        build()  # the first build may read the fixture footer
        with spark_jobs(spark) as jobs:
            build()
        # storage may only shrink (the context cleaner frees earlier tests' blocks)
        assert (len(jobs), max(stored() - start, 0)) == (0, 0), name


@pytest.mark.slow
def test_unigram_hard_em_objective_monotone(spark, sf_dir):
    """Viterbi-EM (classification EM): the corpus Viterbi cost under
    each iteration's OWN vocab is non-increasing — M maximizes the fixed
    segmentation's likelihood, E can only improve the segmentation.
    Asserted with an epsilon for the round-6 logp discipline."""
    import pyspark.sql.functions as F
    from postgres_debezium_clickhouse_spark.operators.tokenizer import (
        unigram_train, unigram_viterbi_tokens, unigram_words,
    )
    from postgres_debezium_clickhouse_spark.sources.files import load_table

    docs = load_table(spark, sf_dir, "documents").limit(80)
    words = unigram_words(docs).localCheckpoint(eager=True)

    def corpus_cost(vocab):
        seg = unigram_viterbi_tokens(words, vocab.select("piece", "logp"))
        tok = seg.select("cnt", F.explode("ts").alias("piece"))
        return (
            tok.join(vocab.select("piece", "logp"), "piece")
            .agg(F.sum(-F.col("logp") * F.col("cnt"))).first()[0]
        )

    v1 = unigram_train(docs, n_iters=1)
    v2 = unigram_train(docs, n_iters=2)
    c1, c2 = corpus_cost(v1), corpus_cost(v2)
    assert c2 <= c1 + 1e-3, (c1, c2)


def test_unigram_word_len_cap(spark):
    from postgres_debezium_clickhouse_spark.operators.tokenizer import (
        unigram_words,
    )

    docs = spark.createDataFrame(
        [(1, "short " + "x" * 40)], "doc_id long, text string")
    ws = {r.w for r in unigram_words(docs, max_word_len=16).collect()}
    assert ws == {"short"}


def test_unigram_prune_planted_closed_form(spark):
    """r12 (verdict item 3): Kudo's prune-to-target loop on a corpus
    whose surviving vocab is hand-derivable.  Corpus words: 'abcd' and
    'efgh', equal counts.  After one EM round exactly two multi pieces
    survive (each word as a whole piece, equal mass).  Pruning to
    target_multi=1: both pieces have IDENTICAL loss deltas (alt path =
    4 floored chars, same logp, same vcnt), so the (delta desc, vcnt
    desc, piece asc) tie-break keeps 'abcd'.  The final re-estimated
    vocab is then fully closed-form: 'abcd' whole (mass N), e/f/g/h as
    chars (mass N each), a/b/c/d floored (cnt 0)."""
    from postgres_debezium_clickhouse_spark.operators.tokenizer import (
        unigram_prune,
    )

    docs = spark.createDataFrame(
        [(i, "abcd efgh abcd efgh abcd efgh") for i in range(4)],
        "doc_id long, text string",
    )
    out = {r.piece: (r.cnt, r.logp) for r in
           unigram_prune(docs, target_multi=1, shrink=0.5).collect()}
    n = 12  # 3 occurrences x 4 docs per word
    multi = {p for p in out if len(p) > 1}
    assert multi == {"abcd"}
    assert out["abcd"][0] == n
    for c in "efgh":
        assert out[c][0] == n
    for c in "abcd":
        assert out[c][0] == 0                   # floored, zero Viterbi mass
    import math
    t = 5 * n + 4 * 0.5                         # abcd + e,f,g,h + 4 floors
    assert abs(out["abcd"][1] - round(math.log(n / t), 6)) < 1e-9
    assert abs(out["e"][1] - round(math.log(n / t), 6)) < 1e-9
    assert abs(out["a"][1] - round(math.log(0.5 / t), 6)) < 1e-9


@pytest.mark.slow
def test_unigram_prune_loss_delta_beats_adversarial_prune(spark, sf_dir):
    """The monotone-objective invariant extended to the prune path: the
    corpus Viterbi cost under the loss-delta-ranked prune must not
    exceed the cost under an ADVERSARIAL prune that keeps the same
    NUMBER of pieces but ranked the opposite way — the ranking has to
    actually earn its keep, not just shrink the vocab."""
    import pyspark.sql.functions as F
    from postgres_debezium_clickhouse_spark.operators.tokenizer import (
        unigram_prune, unigram_train, unigram_viterbi_tokens, unigram_words,
    )
    from postgres_debezium_clickhouse_spark.sources.files import load_table

    docs = load_table(spark, sf_dir, "documents").limit(60)
    words = unigram_words(docs).localCheckpoint(eager=True)

    def corpus_cost(vocab):
        seg = unigram_viterbi_tokens(words, vocab.select("piece", "logp"))
        tok = seg.select("cnt", F.explode("ts").alias("piece"))
        return (
            tok.join(vocab.select("piece", "logp"), "piece")
            .agg(F.sum(-F.col("logp") * F.col("cnt"))).first()[0]
        )

    pruned = unigram_prune(docs, target_multi=8, shrink=0.5)
    n_multi = pruned.filter(F.length("piece") > 1).count()
    assert n_multi <= 8

    # adversarial: same budget, keep the LOWEST-mass multi pieces instead
    trained = unigram_train(docs, n_iters=1)
    worst = (
        trained.filter(F.length("piece") > 1)
        .orderBy(F.col("cnt").asc(), F.col("piece").asc())
        .limit(n_multi)
        .unionByName(trained.filter(F.length("piece") == 1))
    )
    c_pruned = corpus_cost(pruned)
    c_adversarial = corpus_cost(worst)
    assert c_pruned <= c_adversarial + 1e-3, (c_pruned, c_adversarial)

    # pruning below the EM fixed point can only cost likelihood, and the
    # returned vocab honors the target
    c_full = corpus_cost(trained)
    assert c_full <= c_pruned + 1e-3


@pytest.mark.slow
def test_wordpiece_likelihood_beats_count_and_continuation(spark):
    """r12 — WordPiece (Schuster & Nakajima 2012): the trainer must rank
    by n/(cnt(l)·cnt(r)), NOT raw pair count — on this corpus BPE's
    count criterion would pick (d,##e) first (count 4N) but WordPiece
    picks (x,##y) (score 1/(3N) > 1/(4N); exact-IEEE tie with (x,##z)
    broken by pair count).  Continuation merges must strip the ##."""
    from postgres_debezium_clickhouse_spark.operators.tokenizer import (
        bpe_top_merges, wordpiece_top_merges,
    )

    docs = spark.createDataFrame(
        [(i, "xy xy xz de de de de") for i in range(3)],
        "doc_id long, text string",
    )
    wp = sorted(wordpiece_top_merges(docs, k=3).collect(),
                key=lambda r: r.merge_rank)
    assert [(r.left_sym, r.right_sym, r.merged, r.pair_count) for r in wp] == [
        ("x", "##y", "xy", 6), ("x", "##z", "xz", 3), ("d", "##e", "de", 12),
    ]
    bpe = bpe_top_merges(docs, k=1).collect()
    assert (bpe[0].left_sym, bpe[0].right_sym) == ("d", "e")  # the contrast


@pytest.mark.slow
def test_wordpiece_encode_greedy_longest_and_unk(spark):
    """Greedy longest-match-first with ## continuation; a dead end makes
    the WHOLE word one [UNK] (BERT semantics) — even when a prefix
    matched."""
    from postgres_debezium_clickhouse_spark.operators.tokenizer import (
        wordpiece_encode, wordpiece_vocab,
    )

    train = spark.createDataFrame(
        [(i, "xy xy xz de de de de") for i in range(3)],
        "doc_id long, text string",
    )
    vocab = wordpiece_vocab(train, k=3)
    assert sorted(r.piece for r in vocab.collect()) == [
        "##e", "##y", "##z", "d", "de", "x", "xy", "xz"]
    ev = spark.createDataFrame(
        [(1, "xy xyz xz xq de dee"), (2, "qqq"), (3, "x dede")],
        "doc_id long, text string",
    )
    out = {r.doc_id: (r.n_words, r.n_pieces, r.n_unk)
           for r in wordpiece_encode(ev, vocab).collect()}
    # doc 1: [xy][xy,##z][xz][UNK][de][de,##e] = 8 pieces, 1 unk
    assert out[1] == (6, 8, 1)
    # doc 2: q unseen at position 0 → whole word UNK
    assert out[2] == (1, 1, 1)
    # doc 3: greedy longest — 'dede' takes de then dead-ends (##d and
    # ##de unseen as continuations) → UNK despite the matched prefix
    assert out[3] == (2, 2, 1)


@pytest.mark.slow
def test_unigram_prune_regime_guard_fires_on_drift(spark):
    """r12 verdict item 5: the corpus_unigram_prune oracle replays
    exactly ONE prune round keeping target_multi pieces; the
    expect_rounds guard must raise on a corpus where that regime does
    not hold, instead of letting the oracle hash-mismatch."""
    from pyspark.errors import PythonException

    from postgres_debezium_clickhouse_spark.operators.tokenizer import (
        unigram_prune,
    )

    # tiny corpus: post-EM multi count lands at/below target → ZERO
    # prune rounds fire, violating expect_rounds=1
    docs = spark.createDataFrame(
        [(1, "ab ab ab"), (2, "ab cd")], "doc_id long, text string"
    )
    # the guard runs inside the training kernel, so it fires on execute
    guarded = unigram_prune(docs, target_multi=8, shrink=0.25, expect_rounds=1)
    with pytest.raises(PythonException, match="regime drift"):
        guarded.collect()
    # without the guard the same corpus trains fine
    assert unigram_prune(docs, target_multi=8, shrink=0.25).count() > 0


@pytest.mark.slow
@pytest.mark.parametrize("scale", ["sf0.001", "sf0.01", "sf0.1"])
def test_corpus_unigram_prune_matches_golden_rows(spark, sf_dir, scale):
    """``corpus_unigram_prune``'s (piece, cnt, logp) rows equal the ones
    recorded in tests/unigram_prune_golden.json — the value check for this
    query on hosts where its DuckDB oracle (two word-level recursive DPs)
    runs out of memory."""
    import json
    import os

    import __spark_entry__ as m

    path = os.path.join(os.path.dirname(sf_dir), scale)
    if not os.path.isdir(path):
        pytest.skip(f"no {scale} fixtures")
    golden = os.path.join(os.path.dirname(__file__), "unigram_prune_golden.json")
    with open(golden) as fh:
        want = json.load(fh)[scale]
    got = sorted([r.piece, r.cnt, r.logp]
                 for r in m.queries()["corpus_unigram_prune"](spark, path).collect())
    assert got == want


@pytest.mark.slow
def test_bytebpe_multibyte_distinguishes_from_char_level(spark):
    """r13 — byte-level BPE (GPT-2): é enters as its UTF-8 byte pair
    (Ã, ©) and the first learned merge fuses it back; base-symbol
    counts are BYTES (+1 boundary byte per word), not characters."""
    from postgres_debezium_clickhouse_spark.operators.tokenizer import (
        bpe_top_merges,
        bytebpe_encode,
        bytebpe_top_merges,
    )

    train = spark.createDataFrame(
        [(1, "café café née")], "doc_id long, text string"
    )
    table = sorted(bytebpe_top_merges(train, k=3).collect(),
                   key=lambda r: r.merge_rank)
    assert [(r.left_sym, r.right_sym, r.merged) for r in table] == [
        ("Ã", "©", "Ã©"), ("a", "f", "af"), ("af", "Ã©", "afÃ©")]
    assert table[0].pair_count == 3
    # char-level BPE on the same corpus treats é as atomic — the byte
    # pair never exists there
    char_table = bpe_top_merges(train, k=3).collect()
    assert ("Ã", "©") not in {(r.left_sym, r.right_sym) for r in char_table}

    ev = spark.createDataFrame([(7, "café fée ce")], "doc_id long, text string")
    merges = [(r.left_sym, r.right_sym) for r in table]
    row = bytebpe_encode(ev, merges).first()
    # Ġ|c|afÃ© + Ġ|f|Ã©|e + Ġ|c|e = 10 subwords; 14 bytes (é = 2 each,
    # +1 boundary byte per word) — a char count would say 11+3
    assert (row.n_words, row.n_subwords, row.n_base_symbols) == (3, 10, 14)
    assert row.compression == 1.4


def test_bytebpe_zero_oov_on_arbitrary_bytes(spark):
    """The byte alphabet is total: any input (control chars, emoji,
    mixed scripts) encodes without OOV — every symbol is a remapped
    byte, and with no merges n_subwords == n_base_symbols."""
    from postgres_debezium_clickhouse_spark.operators.tokenizer import (
        bytebpe_encode,
    )

    docs = spark.createDataFrame(
        [(1, "héllo\tworld 日本 🚀")], "doc_id long, text string"
    )
    row = bytebpe_encode(docs, []).first()
    # words split on ' ': "héllo\tworld" (12 bytes), "日本" (6), "🚀" (4)
    # + 1 boundary byte each = 25
    assert row.n_base_symbols == 25
    assert row.n_subwords == row.n_base_symbols
