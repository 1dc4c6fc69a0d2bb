"""Dedup suite tests (exact / MinHash-LSH / SimHash / blocked Jaccard)."""

from __future__ import annotations

import contextlib

import pytest
from _jobs import spark_jobs
from pyspark.sql import functions as F

from postgres_debezium_clickhouse_spark.operators.dedup import (
    exact_dedup,
    lsh_candidate_pairs,
    minhash_lsh_near_dups,
    ngram_jaccard_blocked,
    simhash,
    with_shingles,
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog", "a"),
    (2, "The quick brown fox jumps over the lazy dog", "a"),   # case variant of 1
    (3, "the quick brown fox jumps over the lazy cat", "a"),   # near-dup of 1
    (4, "completely different text about spark engines here", "b"),
    (5, "the quick brown fox jumps over the lazy dog", "b"),   # exact dup of 1
]


def _docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text", "label"])


def test_exact_dedup_normalizes_and_keeps_min_id(spark):
    out = exact_dedup(_docs(spark)).collect()
    ids = sorted(r.doc_id for r in out)
    # 1,2,5 collapse (case-insensitive) → keep 1; 3 and 4 survive
    assert ids == [1, 3, 4]


def test_shingles(spark):
    sh = with_shingles(spark.createDataFrame([(1, "a b c d")], ["doc_id", "text"]), k=3)
    assert sh.first().shingles == ["a b c", "b c d"]


def test_lsh_finds_identical_and_near_dups(spark):
    pairs = {(r.doc_a, r.doc_b) for r in lsh_candidate_pairs(_docs(spark)).collect()}
    assert (1, 5) in pairs  # identical docs always share every band
    near = minhash_lsh_near_dups(_docs(spark), threshold=0.7).collect()
    got = {(r.doc_a, r.doc_b): r.jaccard for r in near}
    assert got[(1, 5)] == 1.0
    assert all(a < b for a, b in got)  # canonical pair order, no self-pairs


def test_lsh_no_cross_cluster_false_positives(spark):
    near = minhash_lsh_near_dups(_docs(spark), threshold=0.7).collect()
    assert all(4 not in (r.doc_a, r.doc_b) for r in near)


def test_lsh_hot_bucket_fanout_is_capped(spark):
    """Scale bound: 1k mass-identical docs share every band key (the
    degenerate-bucket worst case).  With max_bucket_size=50 the salt must
    keep candidate pairs ~linear in k (≈ n_sub · C(cap,2) per band), never
    the quadratic C(1000,2); without a cap the same corpus must produce
    the full quadratic set — proving the cap is what bounds the blow-up."""
    k, cap = 1000, 50
    docs = spark.createDataFrame(
        [(i, "spam boilerplate page repeated nav text here") for i in range(k)],
        ["doc_id", "text"],
    )
    capped = lsh_candidate_pairs(docs, max_bucket_size=cap).count()
    quadratic = k * (k - 1) // 2
    # ⌈k/cap⌉ sub-buckets of ≤~cap docs, ≤4 bands: comfortably linear-ish
    assert capped <= 4 * (k // cap + 1) * (cap * (cap - 1) // 2)
    assert capped < quadratic / 5
    # sanity: pairs inside a sub-bucket are still emitted
    assert capped > 0
    # and the uncapped path really is quadratic on this corpus
    assert lsh_candidate_pairs(docs, max_bucket_size=k).count() == quadratic


def test_simhash_equal_for_identical_token_sets(spark):
    out = {r.doc_id: r.simhash for r in simhash(_docs(spark)).collect()}
    assert out[1] == out[5]
    assert out[1] != out[4]
    # 60-bit: fits a signed long
    assert all(0 <= v < (1 << 60) for v in out.values())


def test_ngram_jaccard_blocked_respects_blocks(spark):
    out = ngram_jaccard_blocked(_docs(spark), F.col("label"), threshold=0.0)
    pairs = {(r.doc_a, r.doc_b): r.jaccard for r in out.collect()}
    assert (1, 2) in pairs and (1, 5) not in pairs  # 5 is in block 'b'
    assert pairs[(4, 5)] == 0.0  # same block, disjoint shingles


def _pairs(spark, edges):
    """A pair frame built from pandas: a LocalRelation, whose size estimate
    lets ``connected_components`` take its one-task kernel (a frame from
    a Python list has no estimate and takes the distributed path)."""
    import pandas as pd

    return spark.createDataFrame(pd.DataFrame(edges, columns=["doc_a", "doc_b"]))


@contextlib.contextmanager
def _conf(spark, key, value):
    prev = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def _union_find(edges):
    """Sequential union-find reference: node → min id of its component."""
    parent = {n: n for e in edges for n in e}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    members = {}
    for n in parent:
        members.setdefault(find(n), set()).add(n)
    return {n: min(m) for m in members.values() for n in m}


def test_connected_components_transitive_chain(spark):
    from postgres_debezium_clickhouse_spark.operators.dedup import connected_components

    # chain 1-2-3 (1~3 only transitively), separate pair 10-11, edge given
    # in both orientations
    pairs = _pairs(spark, [(1, 2), (3, 2), (10, 11)])
    out = {r.node: r.component for r in connected_components(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_connected_components_long_chain_converges(spark):
    from postgres_debezium_clickhouse_spark.operators.dedup import connected_components

    # a 12-node path graph, edges listed from the far end (diameter 11)
    pairs = _pairs(spark, [(i + 1, i) for i in reversed(range(12))])
    out = {r.node: r.component for r in connected_components(pairs).collect()}
    assert set(out.values()) == {0} and len(out) == 13


def test_connected_components_kernel_labels_long_path(spark):
    """A 10 000-link path is one pass of the one-task union-find kernel:
    every node labelled 0, ids keep their input dtype."""
    from pyspark.sql import types as T

    from postgres_debezium_clickhouse_spark.operators._pipe import _fits_one_task
    from postgres_debezium_clickhouse_spark.operators.dedup import connected_components

    n = 10_000
    pairs = spark.range(n).select(
        F.col("id").cast("int").alias("doc_a"), (F.col("id") + 1).cast("int").alias("doc_b")
    )
    assert _fits_one_task(pairs)
    comp = connected_components(pairs)
    assert "MapInPandas" in comp._jdf.queryExecution().executedPlan().toString()
    assert comp.schema["node"].dataType == T.IntegerType()
    out = comp.groupBy("component").agg(F.count(F.lit(1)).alias("n")).collect()
    assert [(r.component, r.n) for r in out] == [(0, n + 1)]


def test_cc_guard_sizes_on_leaves_not_join_estimate(spark, sf01_dir):
    """The LSH pair list's own size-only estimate is a self-join product
    (~10¹⁷+ bytes for a few dozen rows); the guard sums the leaf scans
    instead and picks the kernel."""
    from postgres_debezium_clickhouse_spark.operators._pipe import _fits_one_task
    from postgres_debezium_clickhouse_spark.sources.files import load_table

    docs = load_table(spark, sf01_dir, "documents")
    pairs = minhash_lsh_near_dups(docs, threshold=0.8).select("doc_a", "doc_b")
    estimate = int(pairs._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    limit = int(spark.conf.get("spark.sql.autoBroadcastJoinThreshold"))
    assert estimate > 10**9 * limit
    assert _fits_one_task(pairs)
    with _conf(spark, "spark.sql.autoBroadcastJoinThreshold", "-1"):
        assert not _fits_one_task(pairs)


def test_star_path_reads_the_lsh_pairs_once(spark):
    """On the distributed path the lazy LSH pair plan runs ONCE: star
    contraction checkpoints the pairs and builds its nodes and edges from
    that checkpoint, so the documents are read exactly as often as by one
    execution of the pairs."""
    from pyspark.sql.types import StringType

    from postgres_debezium_clickhouse_spark.operators.dedup import connected_components

    reads = spark.sparkContext.accumulator(0)

    def seen(text):
        reads.add(1)
        return text

    docs = _docs(spark).withColumn("text", F.udf(seen, StringType())("text"))
    with _conf(spark, "spark.sql.autoBroadcastJoinThreshold", "-1"):
        pairs = minhash_lsh_near_dups(docs, threshold=0.7).select("doc_a", "doc_b")
        pairs.write.format("noop").mode("overwrite").save()
        once, reads.value = reads.value, 0
        with spark_jobs(spark) as jobs:
            comp = connected_components(pairs)
        labels = {r.node: r.component for r in comp.collect()}
    assert jobs, "the star path runs its rounds eagerly"
    assert once > 0 and reads.value == once
    assert labels == {1: 1, 2: 1, 3: 1, 5: 1}


def test_connected_components_refuses_unconverged_labels(spark):
    """On the distributed path, a path longer than the round budget must
    raise, not return labels that still split one component into
    several."""
    from postgres_debezium_clickhouse_spark.operators.dedup import connected_components

    pairs = _pairs(spark, [(i, i + 1) for i in range(6)])
    with _conf(spark, "spark.sql.autoBroadcastJoinThreshold", "-1"):
        with pytest.raises(RuntimeError, match="did not converge in 2 rounds"):
            connected_components(pairs, max_iter=2)


def test_star_cc_refuses_unconverged_labels(spark):
    from postgres_debezium_clickhouse_spark.operators.dedup import (
        connected_components_star,
    )

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(16)], ["doc_a", "doc_b"]
    )
    with pytest.raises(RuntimeError, match="did not converge in 1 rounds"):
        connected_components_star(pairs, max_iter=1)


def test_connected_components_matches_union_find(spark):
    """Property check on a pseudo-random graph: the union-find kernel must
    agree with an in-test sequential union-find."""
    import random as _random

    from postgres_debezium_clickhouse_spark.operators.dedup import connected_components

    rng = _random.Random(1234)
    nodes = list(range(200))
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(150)]
    edges = [(a, b) for a, b in edges if a != b]
    got = {r.node: r.component for r in connected_components(_pairs(spark, edges)).collect()}
    assert got == _union_find(edges)


def test_lsh_pairs_build_lazily_and_reuse_the_census_exchange(spark):
    """Building the candidate pairs runs no job; executing them shuffles the
    band-key census once — the second self-join side is a ReusedExchange."""
    with spark_jobs(spark) as jobs:
        pairs = lsh_candidate_pairs(_docs(spark))
    assert jobs == []
    assert {(r.doc_a, r.doc_b) for r in pairs.collect()} >= {(1, 2), (1, 5), (2, 5)}
    assert "ReusedExchange" in pairs._jdf.queryExecution().executedPlan().toString()


def test_cluster_and_bpe_queries_build_lazily(spark, sf_dir):
    """Once a fixture's schema is cached, building ``dedup_clusters`` or
    ``corpus_bpe_encode`` runs no Spark job, and executing them leaves the
    session's cached and checkpointed storage at its starting level."""
    from postgres_debezium_clickhouse_spark.plans.llm_corpus_queries import (
        q_corpus_bpe_encode,
    )
    from postgres_debezium_clickhouse_spark.plans.llm_dedup_queries import q_dedup_clusters

    def stored():
        infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(r.memSize() + r.diskSize() for r in infos)

    start = stored()
    for query in (q_dedup_clusters, q_corpus_bpe_encode):
        query(spark, sf_dir)  # the first build may read the fixture footer
        with spark_jobs(spark) as jobs:
            df = query(spark, sf_dir)
        assert jobs == [], query.__name__
        df.write.format("noop").mode("overwrite").save()
        assert stored() <= start, query.__name__


def test_incremental_dedup_batch_vs_corpus(spark):
    from postgres_debezium_clickhouse_spark.operators.dedup import incremental_dedup

    corpus = spark.createDataFrame(
        [(1, "existing doc one"), (2, "existing doc two")], ["doc_id", "text"]
    )
    new = spark.createDataFrame(
        [
            (10, "existing doc one"),    # dup of corpus -> dropped
            (11, "brand new content"),   # survives
            (12, "brand new content"),   # within-batch dup -> min id kept
            (13, "Existing Doc Two  "),  # normalized dup of corpus -> dropped
            (14, "another fresh one"),   # survives
        ],
        ["doc_id", "text"],
    )
    out = incremental_dedup(new, corpus)
    assert sorted(r.doc_id for r in out.collect()) == [11, 14]
    # scale contract: both joins broadcast the batch-derived side — the
    # corpus is never shuffled for a join
    plan = out._jdf.queryExecution().executedPlan().toString()
    final_plan = plan.split("== Initial Plan ==")[0]  # AQE prints both
    assert final_plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in final_plan


def test_incremental_dedup_shuffle_fallback_same_result(spark):
    """Backfill-sized batches must not broadcast: threshold 0 forces the
    shuffle path; results identical to the broadcast path."""
    from postgres_debezium_clickhouse_spark.operators.dedup import incremental_dedup

    corpus = spark.createDataFrame([(i, f"doc {i}") for i in range(20)], ["doc_id", "text"])
    new = spark.createDataFrame(
        [(100 + i, f"doc {i}") for i in range(10)]       # dups of corpus
        + [(200 + i, f"fresh {i}") for i in range(5)],   # survivors
        ["doc_id", "text"],
    )
    fast = incremental_dedup(new, corpus)
    slow = incremental_dedup(new, corpus, max_broadcast_hashes=0)
    plan = slow._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" not in plan
    assert {tuple(r) for r in slow.collect()} == {tuple(r) for r in fast.collect()}
    assert sorted(r.doc_id for r in slow.collect()) == [200, 201, 202, 203, 204]


@pytest.mark.slow
def test_star_cc_matches_kernel_and_union_find(spark):
    """The star-contraction implementation must produce EXACTLY the same
    (node, component) map as the union-find kernel and a sequential
    union-find on a pseudo-random graph."""
    import random as _random

    from postgres_debezium_clickhouse_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    rng = _random.Random(99)
    nodes = list(range(150))
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(120)]
    edges = [(a, b) for a, b in edges if a != b]
    pairs = _pairs(spark, edges)
    want = {r.node: r.component for r in connected_components(pairs).collect()}
    got = {r.node: r.component for r in connected_components_star(pairs).collect()}
    assert got == want == _union_find(edges)


@pytest.mark.slow
def test_star_cc_long_chain_logarithmic_rounds(spark):
    """A 200-link path graph (diameter 200): label propagation would need
    ~200 rounds, star contraction must finish well inside its default
    iteration budget — why it is the distributed path."""
    from postgres_debezium_clickhouse_spark.operators.dedup import (
        connected_components_star,
    )

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], ["doc_a", "doc_b"]
    )
    out = {r.node: r.component for r in connected_components_star(pairs, max_iter=15).collect()}
    assert set(out.values()) == {0} and len(out) == 201


def test_star_cc_symmetric_input_and_singletons(spark):
    from postgres_debezium_clickhouse_spark.operators.dedup import (
        connected_components_star,
    )

    # duplicate + reversed edges must not break the invariant; nodes only
    # ever seen as src or dst still get labeled
    pairs = spark.createDataFrame(
        [(2, 1), (1, 2), (3, 2), (10, 11)], ["doc_a", "doc_b"]
    )
    out = {r.node: r.component for r in connected_components_star(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_cluster_representatives_policy(spark):
    """One representative per cluster: highest quality wins, doc_id breaks
    ties; singleton docs are their own representative."""
    from postgres_debezium_clickhouse_spark.operators.dedup import cluster_representatives

    assignment = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (9, 9)], ["doc_id", "canonical_id"]
    )
    docs = spark.createDataFrame(
        [(1, 10), (2, 50), (3, 50), (9, 7)], ["doc_id", "n_chars"]
    )
    out = {r.doc_id: r for r in cluster_representatives(assignment, docs).collect()}
    # 2 and 3 tie on n_chars=50 -> lower doc_id (2) wins
    assert out[2].is_rep and not out[3].is_rep and not out[1].is_rep
    assert out[9].is_rep and out[9].n_members == 1
    assert out[1].n_members == 3
    assert sum(1 for r in out.values() if r.is_rep) == 2


def test_minhash_affine_family_is_not_degenerate():
    """r6 review regression: with a modulus much larger than the hash
    domain the affine map never wraps, every 'permutation' is
    order-preserving, and all 8 signatures pick the same minimal-hash
    shingle — LSH collapses to ONE MinHash trial.  The family must
    actually permute: different permutations must select different argmin
    shingles on a realistic shingle set."""
    import hashlib

    from postgres_debezium_clickhouse_spark.operators.dedup import (
        MINHASH_PERMS,
        MINHASH_PRIME,
    )

    shingles = [f"tok{i} tok{i+1}" for i in range(200)]
    hs = [int(hashlib.md5(s.encode()).hexdigest()[:8], 16) % MINHASH_PRIME
          for s in shingles]
    argmins = []
    for a, b in MINHASH_PERMS:
        assert 1 <= a < MINHASH_PRIME and 0 <= b < MINHASH_PRIME
        vals = [(a * h + b) % MINHASH_PRIME for h in hs]
        assert max(a * h + b for h in hs) > MINHASH_PRIME  # the map DOES wrap
        argmins.append(vals.index(min(vals)))
    # 8 independent permutations on 200 shingles: selecting one shared
    # argmin across all of them is the degenerate signature
    assert len(set(argmins)) > 1, f"all permutations picked shingle {argmins[0]}"


def test_minhash_lsh_detects_planted_near_dups(spark):
    """Behavioral recall guard, deliberately NOT oracle-mirrored: plant
    high-Jaccard pairs by editing one token of each base doc and assert
    the banded LSH actually detects (nearly) all of them.  The r6 family
    regression (degenerate permutations → single MinHash trial → detect
    probability j instead of 1-(1-j²)⁴) would fail this test while every
    mirrored oracle stayed green."""
    import random

    from postgres_debezium_clickhouse_spark.operators.dedup import (
        minhash_lsh_near_dups,
    )

    rng = random.Random(3)
    vocab = [f"w{i}" for i in range(400)]
    rows = []
    n_planted = 30
    for d in range(n_planted):
        toks = [rng.choice(vocab) for _ in range(40)]
        rows.append((d, " ".join(toks)))
        edited = list(toks)
        edited[20] = "EDITED"  # one substitution → shingle Jaccard ≈ 0.90
        rows.append((1000 + d, " ".join(edited)))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = {(r.doc_a, r.doc_b)
             for r in minhash_lsh_near_dups(docs, threshold=0.8).collect()}
    detected = sum((d, 1000 + d) in pairs for d in range(n_planted))
    # detect probability per planted pair at j≈0.9: 1-(1-j²)⁴ ≈ 0.9987 —
    # 30 trials should essentially never miss 3+
    assert detected >= n_planted - 2, f"only {detected}/{n_planted} planted pairs detected"


def test_simhash_planted_edits_stay_hamming_close(spark):
    """Oracle-independent quality guard for the SimHash family: one-token
    edits must stay Hamming-close while unrelated docs stay far — the
    separation that makes simhash usable for near-dup bucketing (a
    degenerate hash family collapses it)."""
    import random

    from postgres_debezium_clickhouse_spark.operators.dedup import simhash

    rng = random.Random(5)
    vocab = [f"w{i}" for i in range(400)]
    rows = []
    for d in range(20):
        toks = [rng.choice(vocab) for _ in range(40)]
        rows.append((d, " ".join(toks)))
        edited = list(toks)
        edited[10] = "EDITED"
        rows.append((1000 + d, " ".join(edited)))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    sh = {r.doc_id: r.simhash for r in simhash(docs).collect()}

    def ham(a, b):
        return bin(a ^ b).count("1")

    planted = [ham(sh[d], sh[1000 + d]) for d in range(20)]
    unrelated = [ham(sh[d], sh[(d + 7) % 20]) for d in range(20)]
    # edits flip a handful of majority bits; unrelated 60-bit hashes sit
    # around 30 — the distributions must be cleanly separated
    assert max(planted) < 15, planted
    assert sum(unrelated) / len(unrelated) > 20, unrelated


def test_substring_duplication_exact_intervals(spark):
    """r11: Lee-et-al ExactSubstr measurement — planted shared spans with
    OVERLAPPING duplicated grams must union to exact char coverage."""
    from postgres_debezium_clickhouse_spark.operators.dedup import (
        substring_duplication,
    )

    import string

    shared = "0123456789" * 6                      # 60 shared chars
    uniq = "".join(                                # non-self-repeating
        string.ascii_letters[(7 * i) % 52] + str(i % 10) for i in range(35)
    )
    docs = spark.createDataFrame(
        [
            (1, "AAA" + shared + "BBB" + "x" * 40),
            (2, "cc" + shared + "dd" + "y" * 40),
            (3, "unique-" + uniq),
            (4, "short"),                           # below min_len
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in
           substring_duplication(docs, min_len=40).collect()}
    # the repeated '0123456789'*6 block ALSO self-repeats internally:
    # grams at offsets 0..20 within the block recur at +10 — every
    # 40-gram inside the 60-char block is globally duplicated, so
    # coverage = the whole block = 60 chars in docs 1 and 2
    assert out[1].dup_chars == 60 and out[2].dup_chars == 60
    assert out[3].dup_chars == 0 and out[4].dup_chars == 0
    assert out[4].n_chars == 5
    assert abs(out[1].dup_fraction - 60 / out[1].n_chars) < 1e-12
    # every doc present exactly once
    assert sorted(out) == [1, 2, 3, 4]


def test_substring_duplication_same_doc_repeats_count(spark):
    from postgres_debezium_clickhouse_spark.operators.dedup import (
        substring_duplication,
    )

    body = "q" * 45 + "-MID-" + "q" * 45           # the q-run self-repeats
    docs = spark.createDataFrame([(1, body)], "doc_id long, text string")
    out = substring_duplication(docs, min_len=40).first()
    # all 40-grams inside each q-run are identical → duplicated; the
    # mixed grams crossing -MID- are unique.  Coverage = both q-runs.
    assert out.dup_chars == 90


def test_substring_removal_cuts_planted_spans(spark):
    """r12: Lee-et-al ExactSubstr span REMOVAL — the duplicated interval
    union is cut and the cleaned text re-emitted; kept prefix/infix/tail
    slices must survive character-for-character."""
    from postgres_debezium_clickhouse_spark.operators.dedup import (
        substring_duplication, substring_removal,
    )

    import string

    shared = "0123456789" * 6                      # 60 shared chars
    uniq = "".join(
        string.ascii_letters[(7 * i) % 52] + str(i % 10) for i in range(35)
    )
    docs = spark.createDataFrame(
        [
            (1, "AAA" + shared + "BBB" + "x" * 40),
            (2, "cc" + shared + "dd" + "y" * 40),
            (3, "unique-" + uniq),
            (4, "short"),                           # below min_len
            (5, shared + shared[:20]),              # fully duplicated
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in
           substring_removal(docs, min_len=40).collect()}
    # doc 1: the shared block is removed; the x-run's grams also recur
    # in doc 2's y-run? no — x vs y differ, but the x-run self-repeats:
    # "x"*40 has exactly ONE 40-gram (no repeat within the doc), and it
    # appears nowhere else → kept.  Same for doc 2's y-run.
    assert out[1].text_clean == "AAA" + "BBB" + "x" * 40
    assert out[1].removed_chars == 60
    assert out[2].text_clean == "cc" + "dd" + "y" * 40
    assert out[3].text_clean == "unique-" + uniq
    assert out[3].removed_chars == 0
    assert out[4].text_clean == "short"             # below min_len: untouched
    assert out[5].text_clean == ""                  # fully duplicated: all cut
    assert out[5].removed_chars == 80
    # parity invariant: removed_chars == the spans measurement's dup_chars
    spans = {r.doc_id: r.dup_chars for r in
             substring_duplication(docs, min_len=40).collect()}
    assert {d: r.removed_chars for d, r in out.items()} == spans
    # n_chars preserved from the source text
    assert all(out[d].n_chars == len(t) for d, t in
               [(1, "AAA" + shared + "BBB" + "x" * 40), (4, "short")])


def test_winnowing_guarantee_and_budget(spark):
    """Winnowing contract: docs sharing a substring of length ≥
    window+min_len−1 share a selected fingerprint; selection keeps
    roughly 1/window of positions."""
    from postgres_debezium_clickhouse_spark.operators.dedup import (
        winnowing_fingerprints,
    )
    import random

    rng = random.Random(11)
    alpha = "abcdefghijklmnopqrstuvwxyz"
    shared = "".join(rng.choice(alpha) for _ in range(40 + 16 - 1))
    mk = lambda n: "".join(rng.choice(alpha) for _ in range(n))
    docs = spark.createDataFrame(
        [(1, mk(300) + shared + mk(300)), (2, mk(250) + shared + mk(250)),
         (3, mk(600))],
        "doc_id long, text string",
    )
    fp = winnowing_fingerprints(docs, min_len=40, window=16)
    rows = fp.collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, set()).add(r.h)
    assert by_doc[1] & by_doc[2]                   # guaranteed shared print
    # budget: far fewer prints than positions (~1/16), never zero
    n_pos_1 = 300 + 55 + 300 - 39
    assert 0 < len(by_doc[1]) < n_pos_1 / 4


@pytest.mark.slow
def test_substring_removal_matches_reference_property(spark):
    """r12 — property check: substring_removal against an independent
    pure-Python reference of the ExactSubstr spec (duplicated L-gram
    positions → merged intervals → cut) over small-alphabet random
    corpora where duplications arise naturally.  Deterministic seeds (a
    fixed sweep, not hypothesis — the property runs one Spark job per
    corpus)."""
    import random

    from postgres_debezium_clickhouse_spark.operators.dedup import (
        substring_removal,
    )

    L = 4

    def reference(texts):
        from collections import Counter
        grams = Counter()
        for t in texts.values():
            for p in range(len(t) - L + 1):
                grams[t[p:p + L]] += 1
        out = {}
        for d, t in texts.items():
            ivs = []
            for p in range(len(t) - L + 1):
                if grams[t[p:p + L]] > 1:
                    if ivs and p <= ivs[-1][1]:
                        ivs[-1][1] = max(ivs[-1][1], p + L)
                    else:
                        ivs.append([p, p + L])
            kept, prev = [], 0
            for s, e in ivs:
                kept.append(t[prev:s])
                prev = e
            kept.append(t[prev:])
            out[d] = "".join(kept)
        return out

    for seed in range(6):
        rng = random.Random(seed)
        texts = {
            d: "".join(rng.choice("abc") for _ in range(rng.randint(0, 30)))
            for d in range(8)
        }
        docs = spark.createDataFrame(
            sorted(texts.items()), "doc_id long, text string")
        got = {r.doc_id: (r.text_clean, r.removed_chars) for r in
               substring_removal(docs, min_len=L).collect()}
        ref = reference(texts)
        for d in texts:
            assert got[d][0] == ref[d], (seed, d, texts[d], got[d][0], ref[d])
            assert got[d][1] == len(texts[d]) - len(ref[d])


def test_bloom_filter_no_false_negatives_and_bounded_state(spark):
    """r15 Bloom dedup: every exact duplicate bloom-hits (no false
    negatives — the Bloom guarantee), the word table is bounded by
    m/64 regardless of corpus size, and verdicts are deterministic."""
    from postgres_debezium_clickhouse_spark.operators.dedup import (
        BLOOM_M_BITS,
        bloom_build,
        bloom_filter_dedup,
    )

    seen = spark.createDataFrame(
        [(2 * i, f"text-{i}") for i in range(50)], "doc_id long, text string"
    )
    inc = spark.createDataFrame(
        [(1, "text-3"), (3, "text-7"), (5, "brand new"), (7, "text-49")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in
           bloom_filter_dedup(seen, inc, "text").collect()}
    assert all(out[d].bloom_hit for d in (1, 3, 7))  # exact dups must hit
    assert all(out[d].exact_hit for d in (1, 3, 7))
    assert not out[5].exact_hit
    # false_positive is exactly bloom_hit & ~exact_hit
    assert all((r.bloom_hit and not r.exact_hit) == r.false_positive
               for r in out.values())
    words = bloom_build(seen, "text")
    assert words.count() <= BLOOM_M_BITS // 64
    again = {r.doc_id: (r.bloom_hit, r.exact_hit) for r in
             bloom_filter_dedup(seen, inc, "text").collect()}
    assert again == {d: (r.bloom_hit, r.exact_hit) for d, r in out.items()}


def test_spread_for_compute_streaming_passthrough(spark):
    """r18 regression: spread_for_compute must pass streaming frames
    through untouched — the stats/.rdd probes it uses to size the
    repartition are illegal on an unstarted streaming plan (the
    stream_exif_pii_gate AnalysisException), and the stream gates are
    plan-pinned zero-shuffle, so no repartition may be added either."""
    from postgres_debezium_clickhouse_spark.operators._pipe import spread_for_compute

    stream = spark.readStream.format("rate").load()
    assert spread_for_compute(stream) is stream
