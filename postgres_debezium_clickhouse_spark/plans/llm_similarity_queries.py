"""Similarity family: brute-force cosine, sign-LSH and IVF ANN (literal/table/persisted index), quantization, recall and truncation evals.

Split out of plans/llm_queries.py (r7 verdict item 8); the
aggregator there merges every family's QUERIES/ORACLES so the driver
contract (__spark_entry__._MODULES) is unchanged.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.similarity import (
    cosine_topk,
    mips_topk,
    ivf_ann_topk,
    ivf_ann_topk_table,
    lsh_ann_buckets,
    lsh_ann_topk,
)
from ..sources.files import load_table


def q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r15 — MMR diversity re-ranking (operators/similarity.mmr_rerank,
    λ=0.7, k=10 over the cosine top-20 shortlist): the greedy
    relevance-vs-redundancy trade-off runs on the bounded shortlist in
    one Arrow group per query — never the corpus.  The oracle replays
    every pick with a recursive CTE carrying the selected-list state
    (the pack_best_fit idiom), so a single wrong greedy step
    hash-mismatches."""
    from ..operators.similarity import cosine_topk, mmr_rerank

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).withColumnRenamed(
        "vec_id", "query_id"
    )
    corpus = emb.filter(F.col("vec_id") >= 5)
    short = cosine_topk(corpus, queries, k=20)
    return mmr_rerank(short, corpus, k=10, lam=0.7)


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).withColumnRenamed("vec_id", "query_id")
    corpus = emb.filter(F.col("vec_id") >= 5)
    return cosine_topk(corpus, queries, k=5)


def q_mips_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r14 — exact top-k by maximum inner product
    (operators/similarity.mips_topk): the DPR-style retrieval
    objective where magnitude is signal; same broadcast-queries /
    one-corpus-scan / bounded-top-k shape as the cosine baseline."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).withColumnRenamed("vec_id", "query_id")
    corpus = emb.filter(F.col("vec_id") >= 5)
    return mips_topk(corpus, queries, k=5)


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH ANN — fully oracle-checked: the md5-portable hyperplanes
    (operators/similarity.random_hyperplanes) are reconstructed inside the
    DuckDB oracle, so bucketing, candidate retrieval, and scores all
    hash-match; recall vs exact top-k is additionally asserted in
    tests/test_similarity.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).withColumnRenamed("vec_id", "query_id")
    corpus = emb.filter(F.col("vec_id") >= 5)
    return lsh_ann_topk(corpus, queries, k=5, n_planes=4)


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN — fully oracle-checked (unlike sign-LSH, whose numpy
    hyperplanes aren't SQL-portable): centroids are the 16 lowest-id corpus
    vectors, so DuckDB reproduces the index, probes, and scores exactly."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).withColumnRenamed("vec_id", "query_id")
    corpus = emb.filter(F.col("vec_id") >= 5)
    return ivf_ann_topk(corpus, queries, k=5, n_centroids=16, n_probe=4)


def q_ann_ivf_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid-TABLE IVF (r5): identical semantics/parameters to
    ``similarity_ann_ivf_topk`` but the index is a DataFrame folded into a
    one-row broadcast array — the large-k scale path (plan literals stop
    at 256 cells; this holds to 10^4-10^5).  Shares the literal variant's
    oracle: results must match bit-for-bit."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).withColumnRenamed("vec_id", "query_id")
    corpus = emb.filter(F.col("vec_id") >= 5)
    return ivf_ann_topk_table(corpus, queries, k=5, n_centroids=16, n_probe=4)


def q_ann_ivf_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r6: PERSISTED IVF index probe — build the cell-partitioned index on
    disk (centroid sidecar + vectors under ``cell=<k>/``), then search it
    with static partition pruning (only the probed cells' files are
    opened).  Same semantics/tie-breaks as the in-memory variants, so the
    shared similarity_ann_ivf_topk oracle must match bit-for-bit."""
    from ..operators.similarity import ivf_search_index, ivf_write_index
    from ._scratch import scratch

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).withColumnRenamed("vec_id", "query_id")
    corpus = emb.filter(F.col("vec_id") >= 5)
    with scratch(spark, "ivf_idx") as s:
        ivf_write_index(corpus, s.dir("index"), n_centroids=16)
        return s.materialize(
            ivf_search_index(spark, s.dir("index"), queries, k=5, n_probe=4)
        )


def q_ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN index-build side (bucket occupancy) — oracle-checked via the
    same md5-portable hyperplanes."""
    return lsh_ann_buckets(load_table(spark, sf_dir, "embeddings"), n_planes=8)


def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization report (r5): per-dimension corpus min/max
    grid, floor-based codes (engine-unambiguous — round-half ties are
    not), per-vector code stats + max reconstruction error.  The oracle
    recomputes the grid and every code in SQL."""
    from ..operators.similarity import quantize_embeddings

    return quantize_embeddings(load_table(spark, sf_dir, "embeddings"))


def q_similarity_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r6: ANN quality evaluation for the IVF index — per-query recall@5
    of IVF retrieval (16 cells, n_probe=4) against the brute-force exact
    top-5, completing the eval symmetry with ``similarity_lsh_recall``.
    The metric that decides how many probes the 100 TB index needs."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).withColumnRenamed("vec_id", "query_id")
    corpus = emb.filter(F.col("vec_id") >= 5)
    exact = cosine_topk(corpus, queries, k=5).select("query_id", "neighbor_id")
    approx = ivf_ann_topk(corpus, queries, k=5, n_centroids=16, n_probe=4).select(
        "query_id", "neighbor_id"
    ).withColumn("__hit", F.lit(1))
    return (
        exact.join(approx, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.sum(F.coalesce("__hit", F.lit(0))).cast("long").alias("n_hits"),
            F.round(F.sum(F.coalesce("__hit", F.lit(0))) / F.count(F.lit(1)), 6).alias("recall"),
        )
    )


def q_similarity_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation: per-query recall@5 of sign-LSH retrieval
    against the brute-force exact top-5 — the metric that decides whether
    an ANN index is good enough to replace the exact scan at 100 TB.  Both
    sides reuse the oracle-checked operators; the exact side is the small
    query set, so the comparison joins k·|queries| rows."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).withColumnRenamed("vec_id", "query_id")
    corpus = emb.filter(F.col("vec_id") >= 5)
    exact = cosine_topk(corpus, queries, k=5).select("query_id", "neighbor_id")
    approx = lsh_ann_topk(corpus, queries, k=5, n_planes=4).select(
        "query_id", "neighbor_id"
    ).withColumn("__hit", F.lit(1))
    return (
        exact.join(approx, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.sum(F.coalesce("__hit", F.lit(0))).cast("long").alias("n_hits"),
            F.round(F.sum(F.coalesce("__hit", F.lit(0))) / F.count(F.lit(1)), 6).alias("recall"),
        )
    )


def q_similarity_truncated_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r7: dimension-truncation evaluation (the Matryoshka-representation
    question: how much of the embedding can be cut before retrieval
    degrades) — exact top-5 under the FIRST-16-dims prefix vs the full
    64-dim top-5, overlap@5 per query.  The metric that sizes a cheap
    first-stage index (prefix dims → 4× less compute/memory) against its
    recall cost.  Both sides reuse the brute-force cosine machinery; the
    oracle recomputes both rankings in SQL with the same tie-breaks."""
    from ..operators.similarity import cosine_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).withColumnRenamed("vec_id", "query_id")
    corpus = emb.filter(F.col("vec_id") >= 5)
    full = cosine_topk(corpus, queries, k=5).select("query_id", "neighbor_id")
    tq = queries.withColumn("embedding", F.slice("embedding", 1, 16))
    tc = corpus.withColumn("embedding", F.slice("embedding", 1, 16))
    trunc = cosine_topk(tc, tq, k=5).select("query_id", "neighbor_id")
    hits = (
        full.join(trunc, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    return (
        full.select("query_id").distinct()
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_overlap", F.lit(0)).alias("n_overlap"),
            F.round(F.coalesce("n_overlap", F.lit(0)) / 5.0, 2).alias("recall_at_5"),
        )
    )


def q_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r11 — Product Quantization + ADC (Jégou et al. 2011), fully
    oracle-checked like the IVF family: 8 subspaces × 16-entry codebooks
    initialized from the subvector slices of the 16 lowest-id corpus
    vectors (refine_iters=0 keeps the oracle closed-form; Lloyd
    refinement is pytest-covered), corpus encoded to 8 codes per vector,
    queries answered by asymmetric distance — one 8×16 distance table
    per query, 8 LOOKUPS per candidate instead of 64 multiplies.
    DuckDB reproduces codebooks, codes and the j-ordered ADC sums
    exactly."""
    from ..operators.similarity import pq_adc_topk, pq_codebooks, pq_encode

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    corpus = emb.filter(F.col("vec_id") >= 5)
    books = pq_codebooks(corpus, m=8, ks=16, dim=64)
    encoded = pq_encode(corpus, books, m=8, dim=64)
    return pq_adc_topk(queries, encoded, books, k=5, m=8, ks=16, dim=64)


def q_ivfpq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r11 — IVF-PQ (Jégou et al. 2011 §V, the billion-scale composition):
    16 coarse cells (id-rank init, shared with the IVF family), residuals
    v − centroid(cell) PQ-encoded into 8×16 codebooks, queries probe 4
    cells and rank each cell's candidates by residual-space ADC (one
    cell-specific distance table per (query, probe)).  Fully oracle-
    checked like its parents — coarse assignment, residuals, codebooks,
    codes and j-ordered ADC sums all reproduced in SQL."""
    from ..operators.similarity import (
        ivf_centroids_df, ivfpq_adc_topk, ivfpq_encode,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    corpus = emb.filter(F.col("vec_id") >= 5)
    # r19-opt (guide §5): coarse (16 rows of index metadata) is consumed
    # by 4 branches (encode assign+residual, probe, query-residual) —
    # materialize it once instead of re-running its corpus TakeOrdered
    # seeding per consumer
    coarse = ivf_centroids_df(corpus, n_centroids=16).localCheckpoint(eager=True)
    encoded, books = ivfpq_encode(corpus, coarse, m=8, ks=16, dim=64)
    return ivfpq_adc_topk(
        queries, encoded, coarse, books, k=5, m=8, ks=16, dim=64, n_probe=4,
    )


def q_ivfpq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r12 — IVF-PQ + exact re-rank (Jégou et al. 2011 §V.C, verdict
    item 4): the residual-ADC pass shortlists 20 candidates per query,
    then only those candidates' full vectors are fetched (broadcast
    semi-join — the corpus is never shuffled) and re-ranked by EXACT
    squared L2.  The oracle replays the whole chain: coarse assign,
    residual codebooks/codes, per-probe ADC tables, shortlist, exact
    interval re-rank — both the surviving ids AND both distances are
    value-checked."""
    from ..operators.similarity import (
        ivf_centroids_df, ivfpq_encode, ivfpq_rerank_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    corpus = emb.filter(F.col("vec_id") >= 5)
    # r19-opt (guide §5): same 16-row coarse-table materialization as
    # q_ivfpq_adc_topk
    coarse = ivf_centroids_df(corpus, n_centroids=16).localCheckpoint(eager=True)
    encoded, books = ivfpq_encode(corpus, coarse, m=8, ks=16, dim=64)
    return ivfpq_rerank_topk(
        queries, corpus, encoded, coarse, books,
        k=5, shortlist=20, m=8, ks=16, dim=64, n_probe=4,
    )


def q_ivfpq_rerank_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r12 — the refine stage's value, measured: per-query recall@5 of
    raw residual-ADC top-5 vs rerank(shortlist=20) top-5, both against
    the exact squared-L2 ground truth (the metric ADC approximates —
    judging it by cosine would blur quantization error with metric
    mismatch).  The eval row the verdict asked for: rerank recall must
    meet-or-beat raw ADC (asserted in tests/test_similarity.py; the
    oracle value-checks the per-query hit counts themselves)."""
    from ..operators.similarity import (
        ivf_centroids_df, ivfpq_adc_topk, ivfpq_encode, ivfpq_rerank_topk,
        l2_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    corpus = emb.filter(F.col("vec_id") >= 5)
    # r19-opt (guide §5 + §2.4): the adc and rerank branches both need
    # the ADC pass over the encoded corpus, but their per-query-topk
    # window limits differ (k=5 vs shortlist=20) and the limit sits
    # BELOW the exchange (the bounded_query_topk pre-cut), so AQE can
    # never share that shuffle — before this change the whole
    # encode+score chain executed twice (and `coarse`'s corpus TakeOrdered
    # once per consumer).  The k=20 shortlist is a SUPERSET of the k=5
    # result under the same (adc_d2, neighbor_id) total order, so: run
    # the shortlist pass ONCE, checkpoint its |Q|·20-row result, cut the
    # adc top-5 from it by the same order, and hand it to
    # ivfpq_rerank_topk as the precomputed shortlist.  One heavy pass,
    # two tiny derivations; coarse (16 rows) materialized once.
    from pyspark.sql import Window

    coarse = ivf_centroids_df(corpus, n_centroids=16).localCheckpoint(eager=True)
    encoded, books = ivfpq_encode(corpus, coarse, m=8, ks=16, dim=64)
    exact = l2_topk(corpus, queries, k=5).select("query_id", "neighbor_id")
    short = ivfpq_adc_topk(
        queries, encoded, coarse, books, k=20, m=8, ks=16, dim=64, n_probe=4,
    ).localCheckpoint(eager=True)
    w5 = Window.partitionBy("query_id").orderBy(
        F.col("adc_d2").asc(), F.col("neighbor_id").asc()
    )
    adc = (
        short.withColumn("__rn", F.row_number().over(w5))
        .filter(F.col("__rn") <= 5)
        .select("query_id", "neighbor_id").withColumn("__a", F.lit(1))
    )
    rr = ivfpq_rerank_topk(
        queries, corpus, encoded, coarse, books,
        k=5, shortlist=20, m=8, ks=16, dim=64, n_probe=4, shortlist_df=short,
    ).select("query_id", "neighbor_id").withColumn("__r", F.lit(1))
    return (
        exact.join(adc, ["query_id", "neighbor_id"], "left")
        .join(rr, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.sum(F.coalesce("__a", F.lit(0))).cast("long").alias("n_hits_adc"),
            F.sum(F.coalesce("__r", F.lit(0))).cast("long").alias("n_hits_rerank"),
            F.round(F.sum(F.coalesce("__a", F.lit(0))) / F.count(F.lit(1)), 6)
            .alias("recall_adc"),
            F.round(F.sum(F.coalesce("__r", F.lit(0))) / F.count(F.lit(1)), 6)
            .alias("recall_rerank"),
        )
    )


QUERIES = {
    "similarity_ann_ivfpq_topk": q_ivfpq_adc_topk,
    "similarity_ann_ivfpq_rerank": q_ivfpq_rerank,
    "similarity_ivfpq_rerank_recall": q_ivfpq_rerank_recall,
    "similarity_pq_adc_topk": q_pq_adc_topk,
    "similarity_mmr_rerank": q_mmr_rerank,
    "similarity_cosine_topk": q_cosine_topk,
    "similarity_mips_topk": q_mips_topk,
    "similarity_ann_lsh_topk": q_ann_lsh_topk,
    "similarity_ann_ivf_topk": q_ann_ivf_topk,
    "similarity_ann_ivf_table": q_ann_ivf_table,
    "similarity_ann_ivf_index": q_ann_ivf_index,
    "similarity_ann_lsh_buckets": q_ann_lsh_buckets,
    "embedding_quantize": q_embedding_quantize,
    "similarity_ivf_recall": q_similarity_ivf_recall,
    "similarity_lsh_recall": q_similarity_lsh_recall,
    "similarity_truncated_recall": q_similarity_truncated_recall,
}

# The IVF-PQ chain (coarse assign → residuals → residual codebooks/codes
# → per-probe ADC tables → summed ADC distances), shared by the topk,
# rerank and rerank-recall oracles.  Ends at ``dist(query_id, vec_id,
# adc_d2)``; composers add their own ranking tail.
_IVFPQ_CTES = """e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
        c AS (SELECT vec_id, v AS cv FROM e WHERE vec_id >= 5),
        cent AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS i, cv AS ctr
                 FROM (SELECT vec_id, cv FROM c ORDER BY vec_id LIMIT 16)),
        cd AS (SELECT c.vec_id, c.cv, cent.i,
                      list_sum(list_transform(list_zip(c.cv, cent.ctr),
                          p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d2
               FROM c CROSS JOIN cent),
        cassign AS (SELECT vec_id, cv, i AS ccell FROM
                    (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                         ORDER BY d2, i) AS rn FROM cd) WHERE rn = 1),
        res AS (SELECT ca.vec_id, ca.ccell,
                       list_transform(list_zip(ca.cv, cent.ctr),
                           p -> p[1] - p[2]) AS rv
                FROM cassign ca JOIN cent ON cent.i = ca.ccell),
        base AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell, rv
                 FROM (SELECT vec_id, rv FROM res ORDER BY vec_id LIMIT 16)),
        books AS (SELECT j.j, base.cell, base.rv[j.j * 8 + 1 : j.j * 8 + 8] AS ctr
                  FROM base CROSS JOIN range(8) j(j)),
        ed AS (SELECT res.vec_id, b.j, b.cell,
                      list_sum(list_transform(
                          list_zip(res.rv[b.j * 8 + 1 : b.j * 8 + 8], b.ctr),
                          p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d2
               FROM res CROSS JOIN books b),
        codes AS (SELECT vec_id, j, cell AS code FROM
                  (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, j
                       ORDER BY d2, cell) AS rn FROM ed) WHERE rn = 1),
        qcd AS (SELECT q.query_id, q.qv, cent.i,
                       list_sum(list_transform(list_zip(q.qv, cent.ctr),
                           p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d2
                FROM q CROSS JOIN cent),
        qprobe AS (SELECT query_id, qv, i AS ccell FROM
                   (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY d2, i) AS rn FROM qcd) WHERE rn <= 4),
        qres AS (SELECT qp.query_id, qp.ccell,
                        list_transform(list_zip(qp.qv, cent.ctr),
                            p -> p[1] - p[2]) AS qrv
                 FROM qprobe qp JOIN cent ON cent.i = qp.ccell),
        qd AS (SELECT qr.query_id, qr.ccell, b.j, b.cell,
                      list_sum(list_transform(
                          list_zip(qr.qrv[b.j * 8 + 1 : b.j * 8 + 8], b.ctr),
                          p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d2
               FROM qres qr CROSS JOIN books b),
        pairs AS (SELECT qd.query_id, ca.vec_id, qd.j, qd.d2
                  FROM cassign ca
                  JOIN codes ON codes.vec_id = ca.vec_id
                  JOIN qd ON qd.ccell = ca.ccell
                         AND qd.j = codes.j AND qd.cell = codes.code),
        dist AS (SELECT query_id, vec_id,
                        ROUND(list_sum(list(d2 ORDER BY j)), 6) AS adc_d2
                 FROM pairs GROUP BY query_id, vec_id)"""

# shortlist → exact-L2 re-rank tail shared by the rerank oracles
_IVFPQ_RERANK_CTES = """short AS (SELECT query_id, vec_id, adc_d2 FROM
                  (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY adc_d2 ASC, vec_id ASC) AS rn FROM dist)
                  WHERE rn <= 20),
        ex AS (SELECT s.query_id, s.vec_id AS neighbor_id, s.adc_d2,
                      ROUND(list_sum(list_transform(list_zip(q.qv, c.cv),
                          p -> (p[1] - p[2]) * (p[1] - p[2]))), 6) AS exact_d2
               FROM short s JOIN q USING (query_id)
               JOIN c ON c.vec_id = s.vec_id),
        rr AS (SELECT query_id, neighbor_id, exact_d2, adc_d2 FROM
               (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY exact_d2 ASC, neighbor_id ASC) AS rn FROM ex)
               WHERE rn <= 5)"""

ORACLES = {
    "similarity_ann_ivfpq_rerank": f"""
        WITH {_IVFPQ_CTES},
        {_IVFPQ_RERANK_CTES}
        SELECT query_id, neighbor_id, exact_d2, adc_d2 FROM rr
    """,
    "similarity_ivfpq_rerank_recall": f"""
        WITH {_IVFPQ_CTES},
        {_IVFPQ_RERANK_CTES},
        adc5 AS (SELECT query_id, vec_id AS neighbor_id FROM
                 (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                      ORDER BY adc_d2 ASC, vec_id ASC) AS rn FROM dist)
                 WHERE rn <= 5),
        truth AS (SELECT query_id, neighbor_id FROM
                  (SELECT q.query_id, c.vec_id AS neighbor_id,
                          ROW_NUMBER() OVER (PARTITION BY q.query_id
                              ORDER BY ROUND(list_sum(list_transform(
                                  list_zip(q.qv, c.cv),
                                  p -> (p[1] - p[2]) * (p[1] - p[2]))), 6) ASC,
                              c.vec_id ASC) AS rn
                   FROM q CROSS JOIN c)
                  WHERE rn <= 5)
        SELECT t.query_id,
               CAST(COUNT(*) AS BIGINT) AS n_exact,
               CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_hits_adc,
               CAST(SUM(CASE WHEN r.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_hits_rerank,
               ROUND(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                     * 1.0 / COUNT(*), 6) AS recall_adc,
               ROUND(SUM(CASE WHEN r.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                     * 1.0 / COUNT(*), 6) AS recall_rerank
        FROM truth t
        LEFT JOIN adc5 a USING (query_id, neighbor_id)
        LEFT JOIN rr r USING (query_id, neighbor_id)
        GROUP BY t.query_id
    """,
    "similarity_mips_topk": """
        WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
        c AS (SELECT vec_id, v AS cv FROM e WHERE vec_id >= 5),
        s AS (SELECT q.query_id, c.vec_id AS neighbor_id,
                     ROUND(list_dot_product(qv, cv), 6) AS inner_product
              FROM q CROSS JOIN c),
        r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY inner_product DESC, neighbor_id ASC) AS rnk
              FROM s)
        SELECT query_id, neighbor_id, inner_product,
               CAST(rnk AS BIGINT) AS rank FROM r WHERE rnk <= 5
    """,
    # MMR replayed pick-by-pick: cosine top-20 shortlist, pairwise sims
    # floor-round-6, recursive CTE carrying the selected list (the
    # pack_best_fit idiom), argmax per step via LATERAL order/limit
    "similarity_mmr_rerank": """
        WITH RECURSIVE
        e AS (SELECT vec_id, list_transform(embedding,
                         x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
        c AS (SELECT vec_id, v AS cv FROM e WHERE vec_id >= 5),
        s AS (SELECT q.query_id, c.vec_id AS neighbor_id, c.cv,
                     ROUND(list_dot_product(qv, cv)
                           / (sqrt(list_dot_product(qv, qv))
                              * sqrt(list_dot_product(cv, cv))), 6) AS rel
              FROM q CROSS JOIN c),
        short AS (
            SELECT query_id, neighbor_id, cv, rel,
                   CAST(FLOOR(rel * 1e6 + 0.5) AS BIGINT) AS rel_mu
            FROM (SELECT *, ROW_NUMBER() OVER (
                      PARTITION BY query_id
                      ORDER BY rel DESC, neighbor_id ASC) AS rn
                  FROM s)
            WHERE rn <= 20
        ),
        sim AS (
            SELECT a.query_id, a.neighbor_id AS i, b.neighbor_id AS j,
                   CAST(FLOOR(list_dot_product(a.cv, b.cv)
                         / (sqrt(list_dot_product(a.cv, a.cv))
                            * sqrt(list_dot_product(b.cv, b.cv)))
                         * 1e6 + 0.5) AS BIGINT) AS sv_mu
            FROM short a JOIN short b USING (query_id)
        ),
        state AS (
            SELECT query_id, 0 AS r, CAST([] AS BIGINT[]) AS sel,
                   CAST(NULL AS BIGINT) AS neighbor_id,
                   CAST(NULL AS BIGINT) AS score_i
            FROM (SELECT DISTINCT query_id FROM short)
            UNION ALL
            SELECT st.query_id, st.r + 1,
                   list_append(st.sel, best.nid), best.nid, best.score_i
            FROM state st
            CROSS JOIN LATERAL (
                SELECT cand.neighbor_id AS nid,
                       7 * cand.rel_mu - 3 * COALESCE(p.pen_mu, 0)
                           AS score_i
                FROM short cand
                LEFT JOIN LATERAL (
                    SELECT MAX(sim.sv_mu) AS pen_mu FROM sim
                    WHERE sim.query_id = cand.query_id
                      AND sim.i = cand.neighbor_id
                      AND list_contains(st.sel, sim.j)
                ) p ON TRUE
                WHERE cand.query_id = st.query_id
                  AND NOT list_contains(st.sel, cand.neighbor_id)
                ORDER BY score_i DESC, cand.neighbor_id ASC
                LIMIT 1
            ) best
            WHERE st.r < 10
        )
        SELECT query_id, CAST(r AS INT) AS rank, neighbor_id,
               CAST(score_i AS DOUBLE) / 1e7 AS mmr_score
        FROM state WHERE r > 0
    """,
    "similarity_cosine_topk": """
        WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
        c AS (SELECT vec_id, v AS cv FROM e WHERE vec_id >= 5),
        s AS (SELECT q.query_id, c.vec_id AS neighbor_id,
                     ROUND(list_dot_product(qv, cv)
                           / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6) AS cosine
              FROM q CROSS JOIN c),
        r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rnk
              FROM s)
        SELECT query_id, neighbor_id, cosine, CAST(rnk AS BIGINT) AS rank FROM r WHERE rnk <= 5
    """,
    "similarity_ann_lsh_topk": """
        WITH planes AS (
            SELECT i, list_transform(range(64), j ->
                (('0x' || substr(md5(i || ',' || j), 1, 8))::BIGINT / 4294967296.0) * 2 - 1) AS pv
            FROM range(4) t(i)),
        e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
              FROM embeddings),
        b AS (SELECT e.vec_id,
                     CAST(SUM(CASE WHEN list_dot_product(e.v, p.pv) >= 0
                              THEN (1 << p.i) ELSE 0 END) AS BIGINT) AS bucket
              FROM e CROSS JOIN planes p GROUP BY e.vec_id),
        q AS (SELECT e.vec_id AS query_id, e.v AS qv, b.bucket
              FROM e JOIN b USING (vec_id) WHERE vec_id < 5),
        c AS (SELECT e.vec_id, e.v AS cv, b.bucket
              FROM e JOIN b USING (vec_id) WHERE vec_id >= 5),
        s AS (SELECT q.query_id, c.vec_id AS neighbor_id,
                     ROUND(list_dot_product(qv, cv)
                           / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6) AS cosine
              FROM q JOIN c USING (bucket)),
        r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY cosine DESC, neighbor_id ASC) AS rnk FROM s)
        SELECT query_id, neighbor_id, cosine FROM r WHERE rnk <= 5
    """,
    "similarity_ann_ivfpq_topk": f"""
        WITH {_IVFPQ_CTES}
        SELECT query_id, vec_id AS neighbor_id, adc_d2 FROM
        (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
             ORDER BY adc_d2 ASC, vec_id ASC) AS rn FROM dist)
        WHERE rn <= 5
    """,
    "similarity_pq_adc_topk": """
        WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
        c AS (SELECT vec_id, v AS cv FROM e WHERE vec_id >= 5),
        base AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell, cv
                 FROM (SELECT vec_id, cv FROM c ORDER BY vec_id LIMIT 16)),
        books AS (SELECT j.j, base.cell, base.cv[j.j * 8 + 1 : j.j * 8 + 8] AS ctr
                  FROM base CROSS JOIN range(8) j(j)),
        cd AS (SELECT c.vec_id, b.j, b.cell,
                      list_sum(list_transform(
                          list_zip(c.cv[b.j * 8 + 1 : b.j * 8 + 8], b.ctr),
                          p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d2
               FROM c CROSS JOIN books b),
        codes AS (SELECT vec_id, j, cell AS code FROM
                  (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, j
                       ORDER BY d2, cell) AS rn FROM cd)
                  WHERE rn = 1),
        qd AS (SELECT q.query_id, b.j, b.cell,
                      list_sum(list_transform(
                          list_zip(q.qv[b.j * 8 + 1 : b.j * 8 + 8], b.ctr),
                          p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d2
               FROM q CROSS JOIN books b),
        pairs AS (SELECT qd.query_id, codes.vec_id, codes.j, qd.d2
                  FROM codes JOIN qd
                    ON qd.j = codes.j AND qd.cell = codes.code),
        dist AS (SELECT query_id, vec_id,
                        ROUND(list_sum(list(d2 ORDER BY j)), 6) AS adc_d2
                 FROM pairs GROUP BY query_id, vec_id)
        SELECT query_id, vec_id AS neighbor_id, adc_d2 FROM
        (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
             ORDER BY adc_d2 ASC, vec_id ASC) AS rn FROM dist)
        WHERE rn <= 5
    """,
    "similarity_ann_ivf_topk": """
        WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
        c AS (SELECT vec_id, v AS cv FROM e WHERE vec_id >= 5),
        cent AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS i, cv AS ctr
                 FROM (SELECT vec_id, cv FROM c ORDER BY vec_id LIMIT 16)),
        cd AS (SELECT c.vec_id, c.cv, cent.i,
                      list_sum(list_transform(list_zip(c.cv, cent.ctr), p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d2
               FROM c CROSS JOIN cent),
        cassign AS (SELECT vec_id, cv, i AS cell FROM
                    (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, i) AS rn FROM cd)
                    WHERE rn = 1),
        qd AS (SELECT q.query_id, q.qv, cent.i,
                      list_sum(list_transform(list_zip(q.qv, cent.ctr), p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d2
               FROM q CROSS JOIN cent),
        qprobe AS (SELECT query_id, qv, i AS cell FROM
                   (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d2, i) AS rn FROM qd)
                   WHERE rn <= 4),
        s AS (SELECT qp.query_id, ca.vec_id AS neighbor_id,
                     ROUND(list_dot_product(qp.qv, ca.cv)
                           / (sqrt(list_dot_product(qp.qv, qp.qv)) * sqrt(list_dot_product(ca.cv, ca.cv))), 6) AS cosine
              FROM qprobe qp JOIN cassign ca ON qp.cell = ca.cell)
        SELECT query_id, neighbor_id, cosine FROM
        (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rn FROM s)
        WHERE rn <= 5
    """,
    "similarity_ann_lsh_buckets": """
        WITH planes AS (
            SELECT i, list_transform(range(64), j ->
                (('0x' || substr(md5(i || ',' || j), 1, 8))::BIGINT / 4294967296.0) * 2 - 1) AS pv
            FROM range(8) t(i)),
        e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
              FROM embeddings),
        b AS (SELECT e.vec_id,
                     CAST(SUM(CASE WHEN list_dot_product(e.v, p.pv) >= 0
                              THEN (1 << p.i) ELSE 0 END) AS BIGINT) AS bucket
              FROM e CROSS JOIN planes p GROUP BY e.vec_id)
        SELECT bucket, COUNT(*) AS n_vectors, MIN(vec_id) AS min_vec_id
        FROM b GROUP BY bucket
    """,
    "embedding_quantize": """
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    x AS (SELECT e.vec_id, i.i AS pos, e.v[i.i + 1] AS x
          FROM e CROSS JOIN range(64) i(i) WHERE i.i < len(e.v)),
    g AS (SELECT pos, MIN(x) AS mn, MAX(x) AS mx FROM x GROUP BY pos),
    c AS (SELECT x.vec_id, x.x, g.mn, g.mx,
                 CASE WHEN g.mx > g.mn
                      THEN LEAST(255, CAST(FLOOR((x.x - g.mn) * 256.0 / (g.mx - g.mn)) AS INT))
                      ELSE 0 END AS code
          FROM x JOIN g USING (pos))
    SELECT vec_id,
           CAST(COUNT(*) AS BIGINT) AS n_dims,
           CAST(SUM(code) AS BIGINT) AS sum_codes,
           CAST(MIN(code) AS INT) AS min_code,
           CAST(MAX(code) AS INT) AS max_code,
           ROUND(MAX(ABS(x - (mn + (CAST(code AS DOUBLE) + 0.5) * (mx - mn) / 256.0))), 6)
               AS max_abs_err
    FROM c GROUP BY vec_id
""",
    "similarity_ivf_recall": """
        WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
        c AS (SELECT vec_id, v AS cv FROM e WHERE vec_id >= 5),
        cent AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS i, cv AS ctr
                 FROM (SELECT vec_id, cv FROM c ORDER BY vec_id LIMIT 16)),
        cd AS (SELECT c.vec_id, c.cv, cent.i,
                      list_sum(list_transform(list_zip(c.cv, cent.ctr), p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d2
               FROM c CROSS JOIN cent),
        cassign AS (SELECT vec_id, cv, i AS cell FROM
                    (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, i) AS rn FROM cd)
                    WHERE rn = 1),
        qd AS (SELECT q.query_id, q.qv, cent.i,
                      list_sum(list_transform(list_zip(q.qv, cent.ctr), p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d2
               FROM q CROSS JOIN cent),
        qprobe AS (SELECT query_id, qv, i AS cell FROM
                   (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d2, i) AS rn FROM qd)
                   WHERE rn <= 4),
        sa AS (SELECT qp.query_id, ca.vec_id AS neighbor_id,
                      ROUND(list_dot_product(qp.qv, ca.cv)
                            / (sqrt(list_dot_product(qp.qv, qp.qv)) * sqrt(list_dot_product(ca.cv, ca.cv))), 6) AS cosine
               FROM qprobe qp JOIN cassign ca ON qp.cell = ca.cell),
        ra AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY cosine DESC, neighbor_id ASC) AS rnk FROM sa),
        approx AS (SELECT query_id, neighbor_id FROM ra WHERE rnk <= 5),
        sx AS (SELECT q.query_id, c.vec_id AS neighbor_id,
                      ROUND(list_dot_product(q.qv, c.cv)
                            / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.cv, c.cv))), 6) AS cosine
               FROM q CROSS JOIN c),
        rx AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY cosine DESC, neighbor_id ASC) AS rnk FROM sx),
        exact AS (SELECT query_id, neighbor_id FROM rx WHERE rnk <= 5)
        SELECT x.query_id, COUNT(*) AS n_exact,
               CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
               ROUND(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6) AS recall
        FROM exact x LEFT JOIN approx a
             ON x.query_id = a.query_id AND x.neighbor_id = a.neighbor_id
        GROUP BY x.query_id
    """,
    "similarity_lsh_recall": """
        WITH planes AS (
            SELECT i, list_transform(range(64), j ->
                (('0x' || substr(md5(i || ',' || j), 1, 8))::BIGINT / 4294967296.0) * 2 - 1) AS pv
            FROM range(4) t(i)),
        e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
              FROM embeddings),
        b AS (SELECT e.vec_id,
                     CAST(SUM(CASE WHEN list_dot_product(e.v, p.pv) >= 0
                              THEN (1 << p.i) ELSE 0 END) AS BIGINT) AS bucket
              FROM e CROSS JOIN planes p GROUP BY e.vec_id),
        q AS (SELECT e.vec_id AS query_id, e.v AS qv, b.bucket
              FROM e JOIN b USING (vec_id) WHERE vec_id < 5),
        c AS (SELECT e.vec_id, e.v AS cv, b.bucket
              FROM e JOIN b USING (vec_id) WHERE vec_id >= 5),
        sa AS (SELECT q.query_id, c.vec_id AS neighbor_id,
                      ROUND(list_dot_product(qv, cv)
                            / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6) AS cosine
               FROM q JOIN c USING (bucket)),
        ra AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY cosine DESC, neighbor_id ASC) AS rnk FROM sa),
        approx AS (SELECT query_id, neighbor_id FROM ra WHERE rnk <= 5),
        qx AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
        cx AS (SELECT vec_id, v AS cv FROM e WHERE vec_id >= 5),
        sx AS (SELECT qx.query_id, cx.vec_id AS neighbor_id,
                      ROUND(list_dot_product(qv, cv)
                            / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6) AS cosine
               FROM qx CROSS JOIN cx),
        rx AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY cosine DESC, neighbor_id ASC) AS rnk FROM sx),
        exact AS (SELECT query_id, neighbor_id FROM rx WHERE rnk <= 5)
        SELECT x.query_id, COUNT(*) AS n_exact,
               CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
               ROUND(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6) AS recall
        FROM exact x LEFT JOIN approx a
             ON x.query_id = a.query_id AND x.neighbor_id = a.neighbor_id
        GROUP BY x.query_id
    """,
    "similarity_truncated_recall": """
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
    c AS (SELECT vec_id, v AS cv FROM e WHERE vec_id >= 5),
    full_r AS (
        SELECT query_id, vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
                   ROUND(list_dot_product(qv, cv)
                         / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6) DESC,
                   vec_id ASC) AS rnk
        FROM q CROSS JOIN c
    ),
    tq AS (SELECT query_id, qv[1:16] AS qv FROM q),
    tc AS (SELECT vec_id, cv[1:16] AS cv FROM c),
    trunc_r AS (
        SELECT query_id, vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
                   ROUND(list_dot_product(qv, cv)
                         / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6) DESC,
                   vec_id ASC) AS rnk
        FROM tq CROSS JOIN tc
    ),
    hits AS (
        SELECT f.query_id, COUNT(*) AS n_overlap
        FROM (SELECT * FROM full_r WHERE rnk <= 5) f
        JOIN (SELECT * FROM trunc_r WHERE rnk <= 5) t
          ON f.query_id = t.query_id AND f.neighbor_id = t.neighbor_id
        GROUP BY f.query_id
    )
    SELECT q2.query_id,
           COALESCE(h.n_overlap, 0) AS n_overlap,
           ROUND(COALESCE(h.n_overlap, 0) / 5.0, 2) AS recall_at_5
    FROM (SELECT DISTINCT query_id FROM q) q2
    LEFT JOIN hits h USING (query_id)
""",
}

# shares its contract (and therefore its oracle) verbatim:
ORACLES["similarity_ann_ivf_table"] = ORACLES["similarity_ann_ivf_topk"]

# shares its contract (and therefore its oracle) verbatim:
ORACLES["similarity_ann_ivf_index"] = ORACLES["similarity_ann_ivf_topk"]


def q_similarity_ivf_seeding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r8 (VERDICT r7 #5): seeding-quality guard for the IVF coarse
    quantizer — planted 4-cluster corpus (8-dim, well separated, the 40
    LOWEST ids all in cluster 0: the adversarial layout for id-order
    seeding, since ids correlate with ingest order and ingest order with
    source).  Emits recall@5 at n_probe=1 for id-order seeds vs the
    deterministic k-means‖ seeds (operators/similarity.kmeans_par_seeds)
    plus both occupancy profiles.  The oracle states the planted outcome
    as constants (same pattern as stream_late_events): k-means‖ must give
    one cell per planted cluster (occupancy exactly 20/20/20/40, recall
    1.0) while id-order seeds — all four in cluster 0 — cannot.  A
    silently-degenerated sampler (φ collapapse, hash-uniform broken,
    greedy reduction picking one region) flips the constants.

    The fixture is built from ``spark.range`` (not the embeddings table)
    so the planted constants are scale-factor-independent — the same
    trade the planted-contrast scoring guards make."""
    from ..operators.similarity import (
        as_double_vec,
        assign_ivf_cells,
        cosine_topk,
        ivf_ann_topk_table,
        ivf_centroids_df,
    )

    # 4 planted clusters: cluster c at 10·e_{2c} + jitter; ids 0-39 are ALL
    # cluster 0, then 20 ids per remaining cluster (mirrors the pytest
    # fixture in tests/test_similarity.py so both stay in lockstep)
    base = spark.range(0, 100, 1, 4).select(F.col("id").alias("vec_id"))
    c = F.when(F.col("vec_id") < 40, F.lit(0)).otherwise(
        ((F.col("vec_id") - 40) / 20 + 1).cast("int")
    )
    j = F.col("vec_id") % 7
    k5 = F.col("vec_id") % 5
    corpus = base.select(
        "vec_id",
        F.expr(
            "transform(sequence(0, 7), i -> cast(0.0 as double))"
        ).alias("__z"),
        c.alias("__c"), j.alias("__j"), k5.alias("__k"),
    ).select(
        "vec_id",
        F.expr(
            "transform(sequence(0, 7), i -> "
            " cast(if(i = __c * 2, 10.0, 0.0) as double)"
            " + cast(if(i = __c * 2 + 1, 1.0 + 0.01 * __j, 0.0) as double)"
            " + cast(if(i = (__c * 2 + 3) % 8, 0.02 * __k, 0.0) as double))"
        ).alias("embedding"),
    )
    # r19-opt note: this guard's 4.5 s wall is pure job machinery (zero
    # parquet scans; kmeans‖ rounds + 2 ANN probes + 2 occupancy profiles
    # = ~15 small jobs).  Checkpointing the fixture frames (corpus /
    # queries / id_c / km_c, alone and in combination) was measured
    # back-to-back and made WALL WORSE (3.90 → 4.45 s floor) at equal
    # CPU: each eager checkpoint is a serialized driver job, while the
    # lazy consumers otherwise overlap inside one job's DAG.  Left
    # deliberately un-checkpointed — the one real duplication (the exact
    # ground truth, centroid-independent, computed once per recall
    # branch) is hoisted below.
    queries = spark.range(0, 4, 1, 1).select(
        (F.col("id") + 100).alias("query_id"),
        F.expr(
            "transform(sequence(0, 7), i -> "
            " cast(if(i = id * 2, 10.0, 0.0) as double)"
            " + cast(if(i = id * 2 + 1, 1.0, 0.0) as double))"
        ).alias("embedding"),
    )

    # r19-opt: the exact ground truth is centroid-independent — compute
    # its 20 rows once instead of once per recall() branch
    exact = (
        cosine_topk(corpus, queries, k=5).select("query_id", "neighbor_id")
        .localCheckpoint(eager=True)
    )

    def recall(cents):
        approx = ivf_ann_topk_table(
            corpus, queries, k=5, centroids_df=cents, n_probe=1
        ).select("query_id", "neighbor_id").withColumn("__hit", F.lit(1))
        return (
            exact.join(approx, ["query_id", "neighbor_id"], "left")
            .agg((F.sum(F.coalesce("__hit", F.lit(0))) / F.count(F.lit(1))).alias("r"))
        )

    def occupancy(cents):
        return (
            assign_ivf_cells(as_double_vec(corpus), cents)
            .groupBy("cell").agg(F.count(F.lit(1)).alias("n"))
            .agg(
                F.count(F.lit(1)).alias("cells"),
                F.min("n").alias("mn"),
                F.max("n").alias("mx"),
            )
        )

    id_c = ivf_centroids_df(corpus, n_centroids=4, seeding="idorder")
    km_c = ivf_centroids_df(corpus, n_centroids=4, seeding="kmeans_par")
    r_id, r_km = recall(id_c), recall(km_c)
    o_id, o_km = occupancy(id_c), occupancy(km_c)
    return (
        r_km.join(F.broadcast(r_id.withColumnRenamed("r", "r_id")))
        .join(F.broadcast(o_km.select(
            F.col("cells").alias("km_cells"),
            F.col("mn").alias("km_min_cell"), F.col("mx").alias("km_max_cell"))))
        .join(F.broadcast(o_id.select(F.col("mn").alias("id_min_cell"))))
        .select(
            F.round("r", 2).alias("recall_kmeans_par"),
            # PROPERTY, not the raw number (advice r9): the id-order
            # path's exact recall (0.9 on this fixture) is a byproduct of
            # jitter/tie-breaks/probe details — pinning it would flip the
            # whole query red on any benign change even when the guarded
            # property (kmeans strictly recovers, id-order doesn't) holds
            (F.col("r_id") < 1.0).alias("idorder_below_perfect"),
            (F.col("r") >= F.col("r_id")).alias("kmeans_not_worse"),
            "km_cells", "km_min_cell", "km_max_cell",
            (F.col("id_min_cell") < 20).alias("idorder_splits_a_cluster"),
        )
    )


QUERIES["similarity_ivf_seeding"] = q_similarity_ivf_seeding
# Planted constants (see docstring): k-means‖ seeds must recover exactly
# the planted structure (recall 1.0 is the guarantee, kept pinned);
# id-order seeds (all in cluster 0) must not — asserted as the PROPERTY
# recall < 1.0, not its incidental fixture value (advice r9).
ORACLES["similarity_ivf_seeding"] = """
    SELECT CAST(1.0 AS DOUBLE) AS recall_kmeans_par,
           true AS idorder_below_perfect,
           true AS kmeans_not_worse,
           CAST(4 AS BIGINT) AS km_cells,
           CAST(20 AS BIGINT) AS km_min_cell,
           CAST(40 AS BIGINT) AS km_max_cell,
           true AS idorder_splits_a_cluster
"""


def q_similarity_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r13 — binary (1-bit sign) quantization retrieval: 64-dim
    embeddings packed to 64-bit codes (two 32-bit halves, the dHash
    layout), top-5 neighbors by Hamming distance with the exact cosine
    reported per retrieved pair (operators/similarity.hamming_topk).
    Completes the quantization ladder — float32 exact
    (similarity_cosine_topk) → int8 (embedding_quantize) → PQ ADC
    (similarity_pq_adc_topk) → 1-bit Hamming (this).  The oracle packs
    the same sign bits and uses DuckDB's own bit_count(xor())."""
    from ..operators.similarity import hamming_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).withColumnRenamed("vec_id", "query_id")
    corpus = emb.filter(F.col("vec_id") >= 5)
    return hamming_topk(corpus, queries, k=5)


QUERIES["similarity_hamming_topk"] = q_similarity_hamming_topk
ORACLES["similarity_hamming_topk"] = """
    WITH e AS (SELECT vec_id,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    b AS (SELECT vec_id, v,
                 CAST(list_sum(list_transform(range(32), i ->
                     CASE WHEN v[CAST(i + 1 AS INT)] > 0
                          THEN (CAST(1 AS BIGINT) << i) ELSE 0 END))
                      AS BIGINT) AS lo,
                 CAST(list_sum(list_transform(range(32), i ->
                     CASE WHEN v[CAST(i + 33 AS INT)] > 0
                          THEN (CAST(1 AS BIGINT) << i) ELSE 0 END))
                      AS BIGINT) AS hi
          FROM e),
    q AS (SELECT vec_id AS query_id, v AS qv, lo AS qlo, hi AS qhi
          FROM b WHERE vec_id < 5),
    c AS (SELECT vec_id, v AS cv, lo AS clo, hi AS chi
          FROM b WHERE vec_id >= 5),
    s AS (SELECT q.query_id, c.vec_id AS neighbor_id,
                 CAST(bit_count(xor(q.qlo, c.clo))
                      + bit_count(xor(q.qhi, c.chi)) AS INT) AS hamming,
                 ROUND(list_dot_product(qv, cv)
                       / (sqrt(list_dot_product(qv, qv))
                          * sqrt(list_dot_product(cv, cv))), 6) AS cosine
          FROM q CROSS JOIN c),
    r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY hamming ASC, neighbor_id ASC) AS rnk FROM s)
    SELECT query_id, neighbor_id, hamming, cosine FROM r WHERE rnk <= 5
"""


def q_embedding_center_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r13 — corpus mean-centering report (Mu & Viswanath 2018's
    all-but-the-top step 1; operators/similarity.center_normalize):
    per-vector norms before/after removing the corpus mean component
    and the rotation cosine — the anisotropy diagnostic run before
    committing a corpus to cosine retrieval.  Round-9 quadratic terms +
    DECIMAL sums make every sqrt input exact in both engines."""
    from ..operators.similarity import center_normalize

    return center_normalize(load_table(spark, sf_dir, "embeddings"))


QUERIES["embedding_center_normalize"] = q_embedding_center_normalize
ORACLES["embedding_center_normalize"] = """
    WITH e AS (SELECT vec_id,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    d AS (SELECT vec_id, CAST(i.i AS INT) AS pos, v[CAST(i.i AS INT)] AS x
          FROM e CROSS JOIN LATERAL (
              SELECT unnest(range(1, 65))) i(i)),
    m AS (SELECT pos,
                 FLOOR(CAST(SUM(CAST(FLOOR(x * 1e9 + 0.5) / 1e9
                                     AS DECIMAL(28,9))) AS DOUBLE)
                       / COUNT(*) * 1e9 + 0.5) / 1e9 AS mu
          FROM d GROUP BY pos),
    t AS (SELECT d.vec_id,
                 CAST(FLOOR(d.x * d.x * 1e9 + 0.5) AS BIGINT) AS kb,
                 CAST(FLOOR((d.x - m.mu) * (d.x - m.mu) * 1e9 + 0.5)
                      AS BIGINT) AS ka,
                 CAST(FLOOR(d.x * (d.x - m.mu) * 1e9 + 0.5) AS BIGINT) AS kc
          FROM d JOIN m USING (pos)),
    s AS (SELECT vec_id,
                 CAST(SUM(kb) AS BIGINT) AS sb,
                 CAST(SUM(ka) AS BIGINT) AS sa,
                 CAST(SUM(kc) AS BIGINT) AS sc
          FROM t GROUP BY vec_id)
    SELECT vec_id,
           FLOOR(sqrt(sb / 1e9) * 1e6 + 0.5) / 1e6 AS norm_before,
           FLOOR(sqrt(sa / 1e9) * 1e6 + 0.5) / 1e6 AS norm_after,
           FLOOR((sc / 1e9) / (sqrt(sb / 1e9) * sqrt(sa / 1e9)) * 1e6 + 0.5)
             / 1e6 AS rotation_cos
    FROM s
"""
