"""Similarity-search tests (brute-force cosine + sign-LSH ANN)."""

from __future__ import annotations

import pytest
from _jobs import spark_jobs

from postgres_debezium_clickhouse_spark.operators.similarity import (
    cosine_topk,
    embedding_near_dups,
    lsh_ann_buckets,
    lsh_ann_topk,
)

VECS = [
    (1, [1.0, 0.0, 0.0, 0.0], "a"),
    (2, [0.9, 0.1, 0.0, 0.0], "a"),   # close to 1
    (3, [0.0, 1.0, 0.0, 0.0], "a"),   # orthogonal to 1
    (4, [0.0, 0.0, 1.0, 0.0], "b"),
    (5, [1.0, 0.0, 0.0, 0.0], "b"),   # identical direction to 1
]


def _corpus(spark):
    return spark.createDataFrame(VECS, ["vec_id", "embedding", "label"])


def _queries(spark):
    return spark.createDataFrame([(100, [1.0, 0.0, 0.0, 0.0])], ["query_id", "embedding"])


def test_cosine_topk_exact(spark):
    out = cosine_topk(_corpus(spark), _queries(spark), k=3).collect()
    assert [r.neighbor_id for r in out] == [1, 5, 2]  # ties broken by id asc
    assert out[0].cosine == 1.0 and out[1].cosine == 1.0
    assert out[2].cosine < 1.0
    assert [r.rank for r in out] == [1, 2, 3]


def test_cosine_topk_k_bound(spark):
    assert len(cosine_topk(_corpus(spark), _queries(spark), k=2).collect()) == 2


def test_lsh_ann_scores_match_bruteforce_on_shared_pairs(spark):
    """ANN returns a SUBSET of candidates but identical cosine values."""
    exact = {r.neighbor_id: r.cosine for r in cosine_topk(_corpus(spark), _queries(spark), k=5).collect()}
    ann = lsh_ann_topk(_corpus(spark), _queries(spark), k=5, dim=4).collect()
    assert len(ann) > 0
    for r in ann:
        assert exact[r.neighbor_id] == r.cosine


def test_lsh_buckets_partition_corpus(spark):
    buckets = lsh_ann_buckets(_corpus(spark), dim=4).collect()
    assert sum(r.n_vectors for r in buckets) == len(VECS)  # every vector bucketed once
    # identical vectors land in the same bucket
    b = lsh_ann_buckets(_corpus(spark).filter("vec_id in (1, 5)"), dim=4).collect()
    assert len(b) == 1 and b[0].n_vectors == 2


def test_ivf_cells_partition_and_recall(spark):
    from postgres_debezium_clickhouse_spark.operators.similarity import (
        as_double_vec,
        ivf_ann_topk,
        ivf_centroids,
        with_ivf_cell,
    )

    corpus = _corpus(spark)
    cents = ivf_centroids(corpus, n_centroids=2)
    assert len(cents) == 2 and len(cents[0]) == 4  # deterministic: vec_id 1, 2
    cells = with_ivf_cell(as_double_vec(corpus), cents)
    assert cells.filter(cells.cell.isNull()).count() == 0  # total assignment
    # full probe (n_probe = n_centroids) must recover the exact top-1
    ann = ivf_ann_topk(corpus, _queries(spark), k=1, n_centroids=2, n_probe=2).collect()
    assert ann[0].neighbor_id == 1 and ann[0].cosine == 1.0
    # scores match brute force on shared pairs
    exact = {r.neighbor_id: r.cosine for r in cosine_topk(_corpus(spark), _queries(spark), k=5).collect()}
    part = ivf_ann_topk(corpus, _queries(spark), k=5, n_centroids=2, n_probe=1).collect()
    assert 0 < len(part) <= 5
    for r in part:
        assert exact[r.neighbor_id] == r.cosine


def test_ivf_kmeans_refinement_reduces_distortion(spark, sf_dir):
    """One Lloyd iteration must not increase total within-cell squared
    distance (k-means monotonicity), and refined centroids stay usable."""
    from postgres_debezium_clickhouse_spark.operators.similarity import (
        as_double_vec,
        ivf_centroids,
        with_ivf_cell,
    )
    from postgres_debezium_clickhouse_spark.sources.files import load_table
    from pyspark.sql import functions as F

    corpus = load_table(spark, sf_dir, "embeddings")

    def distortion(cents):
        assigned = with_ivf_cell(as_double_vec(corpus), cents)
        exprs = []
        for i, c in enumerate(cents):
            lit = "array(" + ",".join(f"cast({x!r} as double)" for x in c) + ")"
            exprs.append(
                f"WHEN cell = {i} THEN aggregate(zip_with(v, {lit}, (x, y) -> (x - y) * (x - y)),"
                " cast(0 as double), (a, b) -> a + b)"
            )
        d2 = F.expr("CASE " + " ".join(exprs) + " END")
        return assigned.select(F.sum(d2).alias("s")).first().s

    base = ivf_centroids(corpus, n_centroids=8)
    refined = ivf_centroids(corpus, n_centroids=8, refine_iters=1)
    assert distortion(refined) <= distortion(base) + 1e-9
    # deterministic: same call → same centroids
    assert refined == ivf_centroids(corpus, n_centroids=8, refine_iters=1)


def test_embedding_near_dups_blocked_by_label(spark):
    out = embedding_near_dups(_corpus(spark), threshold=0.9, id_col="vec_id").collect()
    pairs = {(r.vec_a, r.vec_b) for r in out}
    assert (1, 2) in pairs       # same label, cosine ~0.994
    assert (1, 5) not in pairs   # identical vectors but different label block


def test_lsh_recall_bounds_and_exact_self(spark, sf_dir):
    """Recall@k is in [0,1] per query; every hit the LSH returns that is
    also in the exact top-k counts once; n_exact == k."""
    import __spark_entry__ as m

    rows = m.queries()["similarity_lsh_recall"](spark, sf_dir).collect()
    assert len(rows) == 5
    for r in rows:
        assert r.n_exact == 5 and 0 <= r.n_hits <= 5
        assert r.recall == round(r.n_hits / r.n_exact, 6)


def test_semantic_dedup_drops_higher_id_near_dup(spark):
    """Colinear vectors (cosine 1.0) in one cell: the higher id is dropped;
    an orthogonal vector survives; output covers the full corpus."""
    from postgres_debezium_clickhouse_spark.operators.similarity import semantic_dedup

    vecs = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [2.0, 0.0]), (2, [0.0, 1.0])],
        ["vec_id", "embedding"],
    )
    out = {r.vec_id: r for r in semantic_dedup(vecs, threshold=0.99, n_centroids=1).collect()}
    assert set(out) == {0, 1, 2}
    assert out[0].keep is True
    assert out[1].keep is False  # colinear with vec 0, higher id
    assert out[2].keep is True


def test_ivf_table_variant_matches_literal_bit_for_bit(spark, sf_dir):
    """The centroid-table IVF must reproduce the plan-literal variant
    exactly (same init, same tie-breaks) — the scale path cannot change
    answers."""
    from postgres_debezium_clickhouse_spark.operators.similarity import (
        ivf_ann_topk,
        ivf_ann_topk_table,
    )
    from postgres_debezium_clickhouse_spark.sources.files import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).withColumnRenamed("vec_id", "query_id")
    corpus = emb.filter(F.col("vec_id") >= 5)
    lit = sorted(map(tuple, ivf_ann_topk(corpus, queries, k=5, n_centroids=16, n_probe=4).collect()))
    tab = sorted(map(tuple, ivf_ann_topk_table(corpus, queries, k=5, n_centroids=16, n_probe=4).collect()))
    assert lit == tab


def test_ivf_centroids_df_refines_without_collect(spark, sf_dir):
    """Lloyd refinement as pure DataFrame algebra: refine_iters=2 works,
    no .collect() anywhere in the loop (source-asserted), distortion is
    monotone non-increasing vs the unrefined index."""
    import inspect

    from postgres_debezium_clickhouse_spark.operators import similarity
    from postgres_debezium_clickhouse_spark.operators.similarity import (
        as_double_vec,
        assign_ivf_cells,
        ivf_centroids_df,
    )
    from postgres_debezium_clickhouse_spark.sources.files import load_table
    from pyspark.sql import functions as F

    src = inspect.getsource(similarity.ivf_centroids_df)
    assert ".collect()" not in src

    corpus = load_table(spark, sf_dir, "embeddings")

    def distortion(cents_df):
        d2 = similarity.D2.format(a="v", b="s.ctr")
        best = f"array_min(transform(__cents, s -> struct({d2} as d, s.i as i))).d"
        return (
            assign_ivf_cells(as_double_vec(corpus), cents_df)  # plan shape check
            .limit(1).count()
            and as_double_vec(corpus)
            .join(F.broadcast(similarity._centroid_array(cents_df)))
            .select(F.sum(F.expr(best)).alias("s"))
            .first().s
        )

    base = ivf_centroids_df(corpus, n_centroids=8, refine_iters=0)
    refined = ivf_centroids_df(corpus, n_centroids=8, refine_iters=2)
    assert refined.count() == 8
    assert distortion(refined) <= distortion(base) + 1e-9
    # parity with the collect-based quantizer at refine_iters=0
    from postgres_debezium_clickhouse_spark.operators.similarity import ivf_centroids

    legacy = ivf_centroids(corpus, n_centroids=8)
    table = {r.cell: list(r.cv) for r in base.collect()}
    assert [table[i] for i in range(8)] == legacy


def test_ivf_literal_guard_and_table_plan_at_1024_cells(spark):
    """Above 256 cells the literal variant must refuse (plan-compilation
    guard) and the table variant must plan exactly one broadcast exchange
    for the centroid attach — no shuffle of the corpus, no cartesian."""
    import pytest
    from postgres_debezium_clickhouse_spark.operators.similarity import (
        as_double_vec,
        assign_ivf_cells,
        with_ivf_cell,
    )
    from pyspark.sql import functions as F

    with pytest.raises(ValueError, match="centroid-table"):
        with_ivf_cell(None, [[0.0, 0.0]] * 257)

    cents = spark.range(1024).select(
        F.col("id").cast("int").alias("cell"),
        F.array(F.col("id").cast("double"), F.lit(0.0).cast("double")).alias("cv"),
    )
    corpus = spark.range(5000).select(
        F.col("id").alias("vec_id"),
        F.array((F.col("id") % 1024).cast("double"), F.lit(0.0)).alias("v"),
    )
    assigned = assign_ivf_cells(corpus, cents)
    plan = assigned._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastExchange") == 1
    assert "Exchange hashpartitioning" not in plan
    assert "CartesianProduct" not in plan
    # and it computes the right cells
    sample = {r.vec_id: r.cell for r in assigned.filter(F.col("vec_id") < 2050).collect()}
    assert sample[7] == 7 and sample[1024 + 7] == 7 and sample[2048 + 1] == 1


def test_quantize_embeddings_codes_and_error_bound(spark):
    """Codes span [0,255] with endpoints mapped correctly (x=mn → 0,
    x=mx → 255), constant dimensions quantize to 0 everywhere, and every
    reconstruction error is bounded by half a grid cell."""
    from postgres_debezium_clickhouse_spark.operators.similarity import (
        quantize_embeddings,
    )

    vecs = spark.createDataFrame(
        [(0, [0.0, 5.0, 1.0]), (1, [10.0, 5.0, 3.0]), (2, [5.0, 5.0, 2.0])],
        ["vec_id", "embedding"],
    )
    out = {r.vec_id: r for r in quantize_embeddings(vecs).collect()}
    # dim0 grid [0,10]: 0→0, 10→255, 5→floor(128)=128; dim1 constant→0;
    # dim2 grid [1,3]: 1→0, 3→255, 2→128
    assert (out[0].min_code, out[0].max_code) == (0, 0)
    assert out[1].max_code == 255 and out[1].min_code == 0
    assert out[0].sum_codes == 0 and out[1].sum_codes == 510
    assert out[2].sum_codes == 128 + 0 + 128
    # max error ≤ half a cell: dim0 cell = 10/256
    for r in out.values():
        assert r.max_abs_err <= 10.0 / 256 / 2 + 1e-9
        assert r.n_dims == 3


def test_ivf_persisted_index_prunes_partitions_and_matches(spark, tmp_path):
    from postgres_debezium_clickhouse_spark.operators.similarity import (
        ivf_ann_topk_table,
        ivf_search_index,
        ivf_write_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter("vec_id < 3").withColumnRenamed("vec_id", "query_id")
    corpus = emb.filter("vec_id >= 3")
    path = str(tmp_path / "ivf")
    ivf_write_index(corpus, path, n_centroids=16)

    out = ivf_search_index(spark, path, queries, k=5, n_probe=2)
    # bit-identical to the in-memory table variant at equal centroids
    mem = ivf_ann_topk_table(corpus, queries, k=5, n_centroids=16, n_probe=2)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, mem.collect()))

    # the probe plan must carry a partition filter on cell — unprobed
    # cells' directories are never opened (the inverted-list seek)
    import re as _re

    plan = out._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters")[1][:300]
    assert "cell" in pf
    # ≤ 3 queries × 2 probes = ≤ 6 distinct cells scanned, not all 16
    m = _re.search(r"IN \(([0-9, ]+)\)", pf)
    assert m, f"no IN-list partition filter: {pf}"
    cells = {int(x) for x in m.group(1).replace(" ", "").split(",")}
    assert 0 < len(cells) <= 6


def test_lsh_ann_planted_copies_always_retrieved(spark):
    """Behavioral guard for sign-LSH (oracle-independent): an exact copy
    of a query vector hashes to the SAME bucket by construction (identical
    hyperplane signs), so it must always come back as the top neighbor
    with cosine 1.0 — a degenerate plane family would break this."""
    import random

    from postgres_debezium_clickhouse_spark.operators.similarity import lsh_ann_topk

    rng = random.Random(9)
    vecs = [(i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(5)]
    corpus_rows = [(100 + i, v) for i, v in vecs]                       # planted copies
    corpus_rows += [(200 + j, [rng.uniform(-1, 1) for _ in range(64)]) for j in range(50)]
    corpus = spark.createDataFrame(corpus_rows, ["vec_id", "embedding"])
    queries = spark.createDataFrame(
        [(i, v) for i, v in vecs], ["query_id", "embedding"]
    )
    top = {}
    for r in lsh_ann_topk(corpus, queries, k=3, n_planes=4).collect():
        top.setdefault(r.query_id, []).append((r.cosine, r.neighbor_id))
    for i in range(5):
        best = max(top[i])
        assert best == (1.0, 100 + i), f"query {i}: planted copy not top-1 ({top[i]})"


# ---------------------------------------------------------------------------
# k-means‖ seeding (r7 verdict item 5)
# ---------------------------------------------------------------------------

def _planted_clusters(spark):
    """4 well-separated clusters in 8-dim; ids are assigned so the LOWEST
    ids all sit in cluster 0 — the adversarial case for id-order seeding
    (ids correlate with ingest order, ingest order with source)."""
    rows = []
    vid = 0
    for c in range(4):
        n = 40 if c == 0 else 20
        for j in range(n):
            v = [0.0] * 8
            v[c * 2] = 10.0
            v[c * 2 + 1] = 1.0 + 0.01 * (j % 7)   # small deterministic jitter
            v[(c * 2 + 3) % 8] += 0.02 * (j % 5)
            rows.append((vid, v))
            vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _recall_at5(spark, corpus, queries, cents):
    from postgres_debezium_clickhouse_spark.operators.similarity import (
        cosine_topk,
        ivf_ann_topk_table,
    )

    exact = {(r.query_id, r.neighbor_id)
             for r in cosine_topk(corpus, queries, k=5).collect()}
    approx = {(r.query_id, r.neighbor_id)
              for r in ivf_ann_topk_table(
                  corpus, queries, k=5, centroids_df=cents, n_probe=1
              ).collect()}
    return len(exact & approx) / len(exact)


@pytest.mark.slow
def test_kmeans_par_seeding_beats_idorder_on_planted_clusters(spark):
    """Planted fixture where id-order seeds (the 4 lowest ids, ALL in
    cluster 0) measurably under-recall at n_probe=1, while the
    distance-weighted k-means‖ seeds cover every cluster."""
    from pyspark.sql import functions as F

    from postgres_debezium_clickhouse_spark.operators.similarity import (
        assign_ivf_cells,
        ivf_centroids_df,
    )

    corpus = _planted_clusters(spark)
    # one query per cluster, aimed at its center
    qrows = []
    for c in range(4):
        v = [0.0] * 8
        v[c * 2] = 10.0
        v[c * 2 + 1] = 1.0
        qrows.append((100 + c, v))
    queries = spark.createDataFrame(qrows, "query_id long, embedding array<double>")

    id_cents = ivf_centroids_df(corpus, n_centroids=4, seeding="idorder")
    km_cents = ivf_centroids_df(corpus, n_centroids=4, seeding="kmeans_par")

    r_id = _recall_at5(spark, corpus, queries, id_cents)
    r_km = _recall_at5(spark, corpus, queries, km_cents)
    assert r_id < 1.0              # id-order seeding measurably under-recalls
    assert r_km >= r_id            # the gate: kmeans_par >= id-order baseline
    assert r_km == 1.0             # every planted cluster got its own cell

    # cell-occupancy balance: id-order seeds (all in cluster 0) leave one
    # cell holding at least half the corpus; k-means-par caps every cell
    # at its planted-cluster size
    from postgres_debezium_clickhouse_spark.operators.similarity import as_double_vec

    def occupancy(cents):
        rows = (
            assign_ivf_cells(as_double_vec(corpus), cents)
            .groupBy("cell").agg(F.count(F.lit(1)).alias("n")).collect()
        )
        return sorted(r.n for r in rows)

    occ_km = occupancy(km_cents)
    assert occ_km == [20, 20, 20, 40]  # exactly the planted cluster sizes
    occ_id = occupancy(id_cents)
    # id-order cells do NOT align with the planted structure: far clusters
    # get split across same-cluster seeds by jitter noise
    assert occ_id != [20, 20, 20, 40] and min(occ_id) < 20


def test_kmeans_par_seeding_is_deterministic(spark):
    from postgres_debezium_clickhouse_spark.operators.similarity import kmeans_par_seeds

    corpus = _planted_clusters(spark)
    a = sorted((r.cell, tuple(r.cv)) for r in kmeans_par_seeds(corpus, 4).collect())
    b = sorted((r.cell, tuple(r.cv)) for r in kmeans_par_seeds(corpus, 4).collect())
    assert a == b and len(a) == 4


def _pq_fixture(spark, n=60, dim=16, seed=5):
    import random

    rng = random.Random(seed)
    # 4 well-separated gaussian-ish clusters so ADC ranking is meaningful
    centers = [[(c * 10.0) + d * 0.01 for d in range(dim)] for c in range(4)]
    rows = []
    for i in range(n):
        c = centers[i % 4]
        rows.append((i, [x + rng.uniform(-0.5, 0.5) for x in c]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_pq_codebooks_shape_and_determinism(spark):
    from postgres_debezium_clickhouse_spark.operators.similarity import (
        pq_codebooks,
    )

    docs = _pq_fixture(spark)
    b1 = pq_codebooks(docs, m=4, ks=8, dim=16)
    b2 = pq_codebooks(docs, m=4, ks=8, dim=16)
    r1 = sorted([(r.j, r.cell, tuple(r.ctr)) for r in b1.collect()])
    r2 = sorted([(r.j, r.cell, tuple(r.ctr)) for r in b2.collect()])
    assert r1 == r2                               # deterministic
    assert len(r1) == 4 * 8
    assert all(len(c) == 4 for _j, _cell, c in r1)  # dim/m per centroid
    import pytest

    with pytest.raises(ValueError, match="not divisible"):
        pq_codebooks(docs, m=5, ks=8, dim=16)


def test_pq_encode_codes_match_argmin(spark):
    from postgres_debezium_clickhouse_spark.operators.similarity import (
        pq_codebooks, pq_encode,
    )

    docs = _pq_fixture(spark)
    books = pq_codebooks(docs, m=4, ks=8, dim=16)
    cb = {}
    for r in books.collect():
        cb.setdefault(r.j, {})[r.cell] = list(r.ctr)
    codes = {r.vec_id: list(r.codes)
             for r in pq_encode(docs, books, m=4, dim=16).collect()}
    vecs = {r.vec_id: list(r.embedding) for r in docs.collect()}
    for vid, v in vecs.items():
        for j in range(4):
            sv = v[j * 4:(j + 1) * 4]
            best = min(
                cb[j],
                key=lambda c: (sum((a - b) ** 2 for a, b in zip(sv, cb[j][c])), c),
            )
            assert codes[vid][j] == best, (vid, j)


def test_pq_adc_ranks_clusters_and_refinement_tightens(spark):
    """ADC must put same-cluster vectors first, and one Lloyd refinement
    must not increase total quantization error (the k-means objective is
    non-increasing under Lloyd steps)."""
    from postgres_debezium_clickhouse_spark.operators.similarity import (
        pq_adc_topk, pq_codebooks, pq_encode,
    )

    docs = _pq_fixture(spark)
    queries = docs.filter("vec_id < 4")            # one per cluster
    corpus = docs.filter("vec_id >= 4")

    books0 = pq_codebooks(corpus, m=4, ks=8, dim=16, refine_iters=0)
    books1 = pq_codebooks(corpus, m=4, ks=8, dim=16, refine_iters=1)
    enc0 = pq_encode(corpus, books0, m=4, dim=16)
    top = pq_adc_topk(queries, enc0, books0, k=5, m=4, ks=8, dim=16)
    rows = top.collect()
    assert {r.query_id for r in rows} == {0, 1, 2, 3}
    for r in rows:
        assert r.neighbor_id % 4 == r.query_id % 4, r   # same cluster
    # quantization error sum: d2(v, reconstruction) — compute via ADC of
    # each corpus vector against its own code (k=1 self-lookup)
    import pyspark.sql.functions as F

    def qerr(books, enc):
        self_hit = pq_adc_topk(
            corpus, enc, books, k=1, m=4, ks=8, dim=16
        ).filter(F.col("query_id") == F.col("neighbor_id"))
        return self_hit.agg(F.sum("adc_d2")).first()[0]

    enc1 = pq_encode(corpus, books1, m=4, dim=16)
    e0, e1 = qerr(books0, enc0), qerr(books1, enc1)
    assert e0 is not None and e1 is not None
    assert e1 <= e0 + 1e-6                          # Lloyd never worsens


def test_ivfpq_probe_bounds_candidates_and_ranks(spark):
    """IVF-PQ: with n_probe=1 every returned neighbor must come from the
    query's own coarse cell (candidate bounding), and on well-separated
    clusters that cell IS the query's cluster; build is deterministic."""
    from postgres_debezium_clickhouse_spark.operators.similarity import (
        ivf_centroids_df, ivfpq_adc_topk, ivfpq_encode,
    )

    docs = _pq_fixture(spark)
    queries = docs.filter("vec_id < 4")
    corpus = docs.filter("vec_id >= 4")
    coarse = ivf_centroids_df(corpus, n_centroids=4)   # ids 4..7: one/cluster
    enc, books = ivfpq_encode(corpus, coarse, m=4, ks=8, dim=16)
    assert enc.count() == corpus.count()
    top = ivfpq_adc_topk(
        queries, enc, coarse, books, k=5, m=4, ks=8, dim=16, n_probe=1,
    )
    rows = top.collect()
    assert {r.query_id for r in rows} == {0, 1, 2, 3}
    for r in rows:
        assert r.neighbor_id % 4 == r.query_id % 4, r
    # determinism across rebuilds
    enc2, books2 = ivfpq_encode(corpus, coarse, m=4, ks=8, dim=16)
    top2 = ivfpq_adc_topk(
        queries, enc2, coarse, books2, k=5, m=4, ks=8, dim=16, n_probe=1,
    )
    key = lambda df: sorted((r.query_id, r.neighbor_id, r.adc_d2)
                            for r in df.collect())
    assert key(top) == key(top2)


def test_ivfpq_residual_coding_reduces_reconstruction_error(spark):
    """The point of residual coding: with the SAME code budget, IVF-PQ's
    TRUE reconstruction error (sum over all vectors of d² to the decoded
    codeword) beats raw PQ's on this clustered fixture at matched init
    (deterministic fixture → pinned outcome; not a theorem in general,
    which is why it is asserted on the fixture, not claimed universally).
    Lloyd refinement in residual space is monotone — that part IS the
    k-means theorem."""
    from postgres_debezium_clickhouse_spark.operators.similarity import (
        ivf_centroids_df, ivfpq_encode, pq_codebooks, pq_encode,
    )

    docs = _pq_fixture(spark)
    corpus = docs.filter("vec_id >= 4")
    vecs = {r.vec_id: list(r.embedding) for r in corpus.collect()}

    def recon_err(books_df, enc_df, vec_map):
        cb = {}
        for r in books_df.collect():
            cb.setdefault(r.j, {})[r.cell] = list(r.ctr)
        codes = {r.vec_id: list(r.codes) for r in enc_df.collect()}
        tot = 0.0
        for vid, v in vec_map.items():
            for j in range(4):
                sv, ctr = v[j * 4:(j + 1) * 4], cb[j][codes[vid][j]]
                tot += sum((a - b) ** 2 for a, b in zip(sv, ctr))
        return tot

    coarse = ivf_centroids_df(corpus, n_centroids=4)
    cents = {r.cell: list(r.cv) for r in coarse.collect()}
    assign = {
        vid: min(cents, key=lambda c: (
            sum((a - b) ** 2 for a, b in zip(v, cents[c])), c))
        for vid, v in vecs.items()
    }
    rvecs = {vid: [a - b for a, b in zip(v, cents[assign[vid]])]
             for vid, v in vecs.items()}

    raw_books = pq_codebooks(corpus, m=4, ks=8, dim=16)
    raw = recon_err(raw_books, pq_encode(corpus, raw_books, m=4, dim=16),
                    vecs)
    enc0, books0 = ivfpq_encode(corpus, coarse, m=4, ks=8, dim=16)
    e0 = recon_err(books0, enc0.select("vec_id", "codes"), rvecs)
    assert e0 < raw                                # the residual win
    enc1, books1 = ivfpq_encode(corpus, coarse, m=4, ks=8, dim=16,
                                refine_iters=1)
    e1 = recon_err(books1, enc1.select("vec_id", "codes"), rvecs)
    assert e1 <= e0 + 1e-9                         # Lloyd monotone


def test_ivfpq_rerank_superset_optimality_and_recall(spark):
    """r12 — the refine stage (Jégou §V.C): rerank picks the exact-L2
    best k of the ADC shortlist.  Two checks:
    1. SUPSET OPTIMALITY (data-independent): the shortlist contains the
       raw ADC top-k, so rerank's selected set can never have a larger
       total exact distance than the ADC top-k's — asserted exactly.
    2. PLANTED RECALL: on tight clusters, quantization error flips the
       fine within-cluster order (ADC recall < 1) while the true top-k
       stays inside the shortlist (sized ≥ the probed cell here, the
       standard shortlist⋙k setting), so rerank recovers it exactly."""
    import pyspark.sql.functions as F

    from postgres_debezium_clickhouse_spark.operators.similarity import (
        ivf_centroids_df, ivfpq_adc_topk, ivfpq_encode, ivfpq_rerank_topk,
        l2_topk,
    )

    docs = _pq_fixture(spark, n=120)
    queries = docs.filter("vec_id < 4")
    corpus = docs.filter("vec_id >= 4")
    coarse = ivf_centroids_df(corpus, n_centroids=4)
    enc, books = ivfpq_encode(corpus, coarse, m=4, ks=8, dim=16)
    adc = ivfpq_adc_topk(queries, enc, coarse, books,
                         k=5, m=4, ks=8, dim=16, n_probe=1)
    rr = ivfpq_rerank_topk(queries, corpus, enc, coarse, books,
                           k=5, shortlist=40, m=4, ks=8, dim=16, n_probe=1)
    exact = l2_topk(corpus, queries, k=5)

    ex = {(r.query_id, r.neighbor_id): r.exact_d2 for r in
          l2_topk(corpus, queries, k=10_000).collect()}
    adc_sel = {}
    for r in adc.collect():
        adc_sel.setdefault(r.query_id, set()).add(r.neighbor_id)
    rr_sel = {}
    for r in rr.collect():
        rr_sel.setdefault(r.query_id, set()).add(r.neighbor_id)
    # 1. superset optimality, query by query
    for q in adc_sel:
        adc_total = sum(ex[(q, n)] for n in adc_sel[q])
        rr_total = sum(ex[(q, n)] for n in rr_sel[q])
        assert rr_total <= adc_total + 1e-9, (q, rr_total, adc_total)
    # 2. planted recall: rerank == exact top-5, and beats raw ADC somewhere
    truth = {}
    for r in exact.collect():
        truth.setdefault(r.query_id, set()).add(r.neighbor_id)
    rr_hits = sum(len(truth[q] & rr_sel[q]) for q in truth)
    adc_hits = sum(len(truth[q] & adc_sel[q]) for q in truth)
    assert rr_sel == truth                       # shortlist holds the truth
    assert rr_hits >= adc_hits
    assert adc_hits < rr_hits                    # the refine stage's value


def test_ivfpq_rerank_rejects_shortlist_without_adc_d2(spark):
    """A hand-built shortlist missing a required column fails at call
    time from the schema alone, naming the column, before any job."""
    from postgres_debezium_clickhouse_spark.operators.similarity import (
        ivfpq_rerank_topk,
    )

    docs = _pq_fixture(spark, n=8)
    bad = spark.createDataFrame([(0, 5)], "query_id long, neighbor_id long")
    with spark_jobs(spark) as jobs:
        with pytest.raises(ValueError, match="adc_d2"):
            ivfpq_rerank_topk(docs, docs, docs, docs, docs, shortlist_df=bad)
    assert jobs == []


def test_ivfpq_rerank_oversize_shortlist_raises_at_execute(spark):
    """A shortlist with more than ``shortlist`` rows for a query builds
    without a job and fails when executed, naming the query; one within
    the bound reranks normally."""
    from postgres_debezium_clickhouse_spark.operators.similarity import (
        ivfpq_rerank_topk,
    )

    docs = _pq_fixture(spark, n=12)
    queries = docs.filter("vec_id < 2")

    def short(n):
        return spark.createDataFrame(
            [(q, c, float(c)) for q in (0, 1) for c in range(2, 2 + n)],
            "query_id long, neighbor_id long, adc_d2 double")

    with spark_jobs(spark) as jobs:
        over = ivfpq_rerank_topk(queries, docs, docs, docs, docs, k=2, shortlist=3,
                                 dim=16, shortlist_df=short(4))
    assert jobs == []
    with pytest.raises(Exception, match="more than 3 rows for query_id"):
        over.collect()
    ok = ivfpq_rerank_topk(queries, docs, docs, docs, docs, k=2, shortlist=3,
                           dim=16, shortlist_df=short(3)).collect()
    assert sorted(r.query_id for r in ok) == [0, 0, 1, 1]


def test_ivfpq_encode_init_books_equal_full_residual_init(spark):
    """With refine_iters=0 ivfpq_encode trains its codebooks on the ks
    lowest-id residuals only (a TakeOrdered shortcut); they must equal
    pq_codebooks over ALL residuals, whose init takes the same ks rows."""
    from postgres_debezium_clickhouse_spark.operators.similarity import (
        ivf_centroids_df, ivfpq_encode, pq_codebooks,
    )

    corpus = _pq_fixture(spark).filter("vec_id >= 4")
    coarse = ivf_centroids_df(corpus, n_centroids=4)
    cents = {r.cell: list(r.cv) for r in coarse.collect()}
    rows = []
    for r in corpus.collect():
        v = list(r.embedding)
        cell = min(cents, key=lambda c: (
            sum((a - b) ** 2 for a, b in zip(v, cents[c])), c))
        rows.append((r.vec_id, [a - b for a, b in zip(v, cents[cell])]))
    residuals = spark.createDataFrame(rows, "vec_id long, rv array<double>")

    def books(df):
        return sorted((r.j, r.cell, list(r.ctr)) for r in df.collect())

    _, init = ivfpq_encode(corpus, coarse, m=4, ks=8, dim=16, refine_iters=0)
    full = pq_codebooks(residuals, m=4, ks=8, dim=16, refine_iters=0,
                        vec_col="rv")
    assert books(init) == books(full)


def test_l2_topk_matches_bruteforce(spark):
    from postgres_debezium_clickhouse_spark.operators.similarity import l2_topk

    docs = _pq_fixture(spark, n=40)
    queries = docs.filter("vec_id < 2")
    corpus = docs.filter("vec_id >= 2")
    vecs = {r.vec_id: list(r.embedding) for r in docs.collect()}
    out = {}
    for r in l2_topk(corpus, queries, k=3).collect():
        out.setdefault(r.query_id, []).append((r.neighbor_id, r.exact_d2))
    for q in (0, 1):
        d = sorted(
            (round(sum((a - b) ** 2 for a, b in zip(vecs[q], vecs[c])), 6), c)
            for c in vecs if c >= 2
        )[:3]
        assert [(c, v) for v, c in d] == sorted(out[q], key=lambda t: (t[1], t[0]))


def test_mmr_rerank_diversity_and_lambda1_reduction(spark):
    """r15 MMR: λ=1.0 reproduces the pure relevance order; at λ=0.7 a
    planted near-duplicate of the top pick is demoted below a less
    relevant but diverse candidate; bad λ refuses."""
    import pytest as _pytest

    from postgres_debezium_clickhouse_spark.operators.similarity import (
        cosine_topk,
        mmr_rerank,
    )

    # query along e1; c10 ≈ c11 (near-dups, most relevant), c12 diverse
    rows = [
        (10, [1.0, 0.02, 0.0]),   # rel ~1, dup of 11
        (11, [1.0, 0.021, 0.0]),  # rel ~1, dup of 10
        (12, [0.6, -0.8, 0.0]),   # rel 0.6, near-orthogonal to the dups
        (13, [0.1, 0.0, 1.0]),    # low rel
    ]
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0])] + rows, "vec_id long, embedding array<double>"
    )
    q = emb.filter("vec_id = 0").withColumnRenamed("vec_id", "query_id")
    c = emb.filter("vec_id > 0")
    short = cosine_topk(c, q, k=4)
    rel_order = [r.neighbor_id for r in
                 short.orderBy("rank").collect()]
    pure = [r.neighbor_id for r in
            mmr_rerank(short, c, k=4, lam=1.0)
            .orderBy("rank").collect()]
    assert pure == rel_order  # λ=1 ⇒ relevance order
    mmr = [r.neighbor_id for r in
           mmr_rerank(short, c, k=3, lam=0.5)
           .orderBy("rank").collect()]
    assert mmr[0] == rel_order[0]          # top pick is pure relevance
    assert mmr[1] == 12                    # diverse candidate jumps the dup
    with _pytest.raises(ValueError, match="multiple of 0.1"):
        mmr_rerank(short, c, lam=0.75)
