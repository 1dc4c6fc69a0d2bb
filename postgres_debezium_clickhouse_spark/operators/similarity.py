"""Similarity search over embedding columns (array<float>).

Two tiers, mirroring how a 100 TB vector corpus is actually served:
- ``cosine_topk``   — exact brute force against a SMALL broadcast query set
  (the correctness baseline; linear scan, one pass, no shuffle of the
  corpus, queries broadcast).
- ``lsh_ann_buckets`` / ``lsh_ann_topk`` — sign-random-projection LSH: each
  vector hashed to a bucket by the signs of dot products with fixed
  hyperplanes; candidate retrieval touches only matching buckets, the scale
  path (probes hit ~n/2^bits of the corpus).

All arithmetic is promoted to double BEFORE any sum (float32→double is
exact) and folds are sequential, so results are bit-reproducible against
the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DOT = "aggregate(zip_with({a}, {b}, (x, y) -> x * y), cast(0 as double), (acc, v) -> acc + v)"
NORM = "sqrt(aggregate(transform({a}, x -> x * x), cast(0 as double), (acc, v) -> acc + v))"


def as_double_vec(df: DataFrame, col: str = "embedding", out: str = "v") -> DataFrame:
    return df.withColumn(out, F.expr(f"transform({col}, x -> cast(x as double))"))


def bounded_query_topk(
    scored: DataFrame,
    k: int,
    query_id_col: str,
    order: "list[tuple[str, str]]",
    out_cols: "list[str]",
    rank_col: "str | None" = None,
) -> DataFrame:
    """The ONE definition of per-query top-k for the retrieval family —
    centralizing the r13-verdict-#1 concern that
    ``Window.partitionBy(query_id)`` over a corpus-scored relation is a
    one-reducer-per-query funnel (each query's partition receiving
    ~|corpus| rows at 100 TB).

    Measured resolution (r14): on Spark ≥ 3.5 the funnel DOES NOT REACH
    THE WIRE for this exact shape.  ``InsertWindowGroupLimit`` rewrites
    ``filter(row_number() over (partition by q order by s) <= k)`` into
    a map-side ``WindowGroupLimit … Partial`` BELOW the exchange: every
    task sorts only ITS OWN scored slice and ships k rows per (task,
    query), so the per-query exchange input is ≤ |Q|·k·n_partitions by
    construction and the reducer sorts that bounded cut — exactly the
    two-phase pre-cut the verdict prescribed, built into the engine.
    An explicit re-implementation (groupBy(query, spark_partition_id())
    + collect_list/array_sort/slice) was built and benchmarked first:
    it is strictly worse — its phase-1 partial ``collect_list`` buffers
    the FULL scored volume into list blobs and ships ALL of it through
    an extra exchange, where the native rewrite ships k rows per task
    with no extra shuffle.  So this helper emits the plain window and
    ``tests/test_bounded_windows.py`` pins the plan shape instead: the
    ``Partial`` group-limit must sit below the exchange (the guard
    fails loudly if a Spark upgrade, a threshold config, or a call-site
    rewrite ever drops the rewrite — ``k`` must stay under
    ``spark.sql.optimizer.windowGroupLimitThreshold``, default 1000).

    ``scored`` must already carry the FINAL output column names;
    ``order`` must end with a unique-id ascending tie-break (total
    order ⇒ the decomposed cut is bit-identical to a global sort);
    ``out_cols`` are the payload columns emitted after ``query_id``."""
    from pyspark.sql import Window

    w = Window.partitionBy(query_id_col).orderBy(
        *[
            F.col(c).asc() if direction == "asc" else F.col(c).desc()
            for c, direction in order
        ]
    )
    ranked = scored.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") <= k
    )
    cols = [F.col(query_id_col)] + [F.col(c) for c in out_cols]
    if rank_col:
        cols.append(F.col("__rn").cast("long").alias(rank_col))
    return ranked.select(*cols)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    ``queries`` must be small (it is broadcast — the right shape for "find
    neighbors of these N items in a 100 TB corpus": one scan of the corpus,
    no corpus shuffle, then a tiny per-query top-k)."""
    from ._pipe import spread_for_compute

    c = as_double_vec(spread_for_compute(corpus)).select(F.col(id_col), F.col("v").alias("cv"))
    q = as_double_vec(queries, col="embedding", out="v").select(
        F.col(query_id_col), F.col("v").alias("qv")
    )
    dot = F.expr(DOT.format(a="qv", b="cv"))
    qn = F.expr(NORM.format(a="qv"))
    cn = F.expr(NORM.format(a="cv"))
    scored = (
        c.join(F.broadcast(q))
        .select(query_id_col, F.col(id_col).alias("neighbor_id"),
                F.round(dot / (qn * cn), 6).alias("cosine"))
    )
    return bounded_query_topk(
        scored, k, query_id_col,
        order=[("cosine", "desc"), ("neighbor_id", "asc")],
        out_cols=["neighbor_id", "cosine"], rank_col="rank",
    )


def mips_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """r14 — exact top-k by MAXIMUM INNER PRODUCT (MIPS): the retrieval
    objective DPR-style dual encoders are actually trained against —
    unnormalized dot product, where vector MAGNITUDE is signal (a
    "hub" passage with a long embedding legitimately outranks a
    closer-by-angle one), unlike cosine which quotients it away.  Same
    scale shape as ``cosine_topk``: one corpus scan, broadcast
    queries, no corpus shuffle, bounded per-query top-k."""
    from ._pipe import spread_for_compute

    c = as_double_vec(spread_for_compute(corpus)).select(
        F.col(id_col), F.col("v").alias("cv")
    )
    q = as_double_vec(queries, col="embedding", out="v").select(
        F.col(query_id_col), F.col("v").alias("qv")
    )
    dot = F.expr(DOT.format(a="qv", b="cv"))
    scored = (
        c.join(F.broadcast(q))
        .select(query_id_col, F.col(id_col).alias("neighbor_id"),
                F.round(dot, 6).alias("inner_product"))
    )
    return bounded_query_topk(
        scored, k, query_id_col,
        order=[("inner_product", "desc"), ("neighbor_id", "asc")],
        out_cols=["neighbor_id", "inner_product"], rank_col="rank",
    )


def random_hyperplanes(dim: int, n_planes: int) -> list[list[float]]:
    """Deterministic, ENGINE-PORTABLE hyperplanes for sign-LSH: component
    (i, j) = uniform(−1, 1) derived from ``md5(f"{i},{j}")`` — the same
    value any SQL engine reconstructs as
    ``(('0x'||substr(md5(i||','||j),1,8))::BIGINT / 2^32) * 2 - 1``, so the
    bucket assignment is fully oracle-checkable (a seeded-numpy Gaussian
    was not).  Uniform components are a valid random-projection family for
    sign-LSH (any sign-symmetric distribution works); every arithmetic step
    is exact or identically-ordered in IEEE double, so Python and SQL agree
    bit-for-bit."""
    import hashlib

    return [
        [
            (int(hashlib.md5(f"{i},{j}".encode()).hexdigest()[:8], 16) / 2**32) * 2 - 1
            for j in range(dim)
        ]
        for i in range(n_planes)
    ]


def with_lsh_bucket(
    df: DataFrame, planes: list[list[float]], vec_col: str = "v", out: str = "bucket"
) -> DataFrame:
    """Sign-random-projection bucket id: bit_i = sign(v · plane_i).

    The hyperplanes are literal arrays baked into the plan (broadcast by
    value) — no shuffle; one narrow projection per row.
    """
    bits = []
    for i, p in enumerate(planes):
        lit = "array(" + ",".join(f"cast({x!r} as double)" for x in p) + ")"
        bits.append(f"(CASE WHEN {DOT.format(a=vec_col, b=lit)} >= 0 THEN {1 << i} ELSE 0 END)")
    return df.withColumn(out, F.expr(" + ".join(bits)).cast("long"))


def lsh_ann_buckets(corpus: DataFrame, n_planes: int = 8, id_col: str = "vec_id", dim: int = 64) -> DataFrame:
    """Bucket assignment + occupancy — the ANN index build."""
    from ._pipe import spread_for_compute

    planes = random_hyperplanes(dim, n_planes)
    bucketed = with_lsh_bucket(as_double_vec(spread_for_compute(corpus)), planes)
    return bucketed.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.min(id_col).alias("min_vec_id"),
    )


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k: score only corpus vectors in the query's bucket.

    At scale: corpus bucketed once (writable as a bucketed table), queries
    hashed and joined on bucket — candidate set is n/2^planes per query
    instead of n."""
    from ._pipe import spread_for_compute

    planes = random_hyperplanes(dim, n_planes)
    c = with_lsh_bucket(as_double_vec(spread_for_compute(corpus)), planes).select(
        F.col(id_col), F.col("v").alias("cv"), F.col("bucket")
    )
    q = with_lsh_bucket(as_double_vec(queries), planes).select(
        F.col(query_id_col), F.col("v").alias("qv"), F.col("bucket")
    )
    dot = F.expr(DOT.format(a="qv", b="cv"))
    qn = F.expr(NORM.format(a="qv"))
    cn = F.expr(NORM.format(a="cv"))
    scored = c.join(F.broadcast(q), "bucket").select(
        query_id_col, F.col(id_col).alias("neighbor_id"),
        F.round(dot / (qn * cn), 6).alias("cosine"),
    )
    return bounded_query_topk(
        scored, k, query_id_col,
        order=[("cosine", "desc"), ("neighbor_id", "asc")],
        out_cols=["neighbor_id", "cosine"],
    )


def ivf_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    refine_iters: int = 0,
) -> list[list[float]]:
    """IVF coarse quantizer, deterministic: init = the ``n_centroids``
    lowest-id vectors; each ``refine_iters`` runs one Lloyd step as two
    DataFrame passes (assign cells → per-cell/per-dimension mean) — still
    deterministic (float means over fixed membership sets), so refined
    indexes remain reproducible.  Empty cells keep their previous centroid.
    Collecting k small vectors to the driver is O(k·dim) — index metadata,
    not data."""
    vecs = as_double_vec(corpus).select(id_col, "v")
    rows = vecs.orderBy(F.col(id_col).asc()).limit(n_centroids).collect()
    cents = [list(r.v) for r in rows]
    for _ in range(refine_iters):
        assigned = with_ivf_cell(vecs, cents)
        means = (
            assigned.select("cell", F.posexplode("v").alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(F.avg("x").alias("m"))
            .collect()
        )
        by_cell: dict[int, dict[int, float]] = {}
        for r in means:
            by_cell.setdefault(r.cell, {})[r.pos] = r.m
        cents = [
            [by_cell[i][p] for p in range(len(cents[i]))] if i in by_cell else cents[i]
            for i in range(len(cents))
        ]
    return cents


def kmeans_par_seeds(
    corpus: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    oversample: int | None = None,
    rounds: int = 3,
) -> DataFrame:
    """k-means‖-style distance-weighted seeding (Bahmani et al. 2012,
    "Scalable K-Means++", public paper) → ``(cell int, cv array<double>)``
    — the seeding quality fix for id-order init (r7 verdict item 5): at
    100 TB, id-order seeds can all land in one dense region (ids correlate
    with ingest order, ingest order with source), collapsing probes into
    few giant cells.  Recall and probe balance suffer even though
    correctness never does.

    Deterministic throughout, so indexes stay reproducible: the paper's
    uniform draw is replaced by a per-(id, round) ``xxhash64`` uniform,
    and the final reduction of the O(k·rounds) candidate set to k uses
    GREEDY weighted k-means++ (argmax of weight·d² instead of sampling by
    it — the standard derandomization; ties break on lowest id).

    Scale shape: each round is one map over the corpus against the
    broadcast candidate array (min-d² + a 1-row φ attach — the repo's
    allow-listed scalar-attach pattern) with NO shuffle of the corpus;
    the only driver state is the final candidate set, O(k·rounds) rows of
    (id, weight, vector) — index metadata within the bounded-collect
    budget (≤256 seeds for the shipped k=16 defaults)."""
    l = oversample if oversample is not None else 2 * n_centroids
    vecs = as_double_vec(corpus).select(id_col, "v")
    first = (
        vecs.orderBy(F.col(id_col).asc()).limit(1)
        .select(F.col(id_col).alias("cid"), F.col("v").alias("cv"))
        .localCheckpoint(eager=True)
    )
    cands = first
    d2min = (
        "array_min(transform(__cents, s -> "
        + D2.format(a="v", b="s.ctr")
        + "))"
    )
    for t in range(rounds):
        carr = cands.agg(
            F.collect_list(F.struct(F.col("cv").alias("ctr"))).alias("__cents")
        )
        scored = (
            vecs.join(F.broadcast(carr))
            .withColumn("__d2", F.expr(d2min))
            .drop("__cents")
        )
        # φ and the acceptance filter both consume the distance map —
        # persist it so the round really is ONE pass over the corpus
        # (review r8: un-persisted, each round scanned + re-transformed
        # the corpus twice)
        scored = scored.persist()
        phi = scored.agg(F.sum("__d2").alias("__phi"))
        accepted = (
            scored.join(F.broadcast(phi))
            # uniform in [0,1) from xxhash64(id, round) — deterministic
            .withColumn(
                "__u",
                F.pmod(F.xxhash64(F.col(id_col), F.lit(t)), F.lit(1_000_000_007))
                / F.lit(1_000_000_007.0),
            )
            .filter(
                (F.col("__phi") > 0)
                & (F.col("__u") < F.lit(float(l)) * F.col("__d2") / F.col("__phi"))
            )
            .select(F.col(id_col).alias("cid"), F.col("v").alias("cv"))
        )
        # the candidate set is O(k·rounds) rows of index metadata — collapse
        # it to one partition so each round's downstream jobs stay
        # single-task regardless of the corpus's partitioning
        cands = (
            cands.unionByName(accepted).distinct().repartition(1)
            .localCheckpoint(eager=True)  # eager: materialized before unpersist
        )
        scored.unpersist()
    # weight candidates by the corpus mass nearest to each (argmin with
    # lowest-candidate-id tie-break), then reduce to k on the driver
    carr = cands.agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("cid").alias("i"), F.col("cv").alias("ctr")))
        ).alias("__cents")
    )
    d2arg = (
        "array_min(transform(__cents, s -> struct("
        + D2.format(a="v", b="s.ctr")
        + " as d, s.i as i))).i"
    )
    weights = {
        r.cid: r.w
        for r in (
            vecs.join(F.broadcast(carr))
            .select(F.expr(d2arg).alias("cid"))
            .groupBy("cid")
            .agg(F.count(F.lit(1)).alias("w"))
            .collect()
        )
    }
    cand_rows = cands.collect()  # O(k·rounds) — bounded index metadata
    by_id = {r.cid: list(r.cv) for r in cand_rows}
    ids = sorted(by_id)
    spark = corpus.sparkSession
    if not ids:  # empty corpus → empty centroid table, same schema
        return spark.createDataFrame([], "cell int, cv array<double>")
    # greedy weighted k-means++: start at the heaviest candidate, then
    # repeatedly take argmax over weight(c)·d²(c, chosen)
    chosen = [max(ids, key=lambda i: (weights.get(i, 0), -_id_rank(i, ids)))]
    while len(chosen) < min(n_centroids, len(ids)):
        def score(i):
            d2 = min(
                sum((a - b) * (a - b) for a, b in zip(by_id[i], by_id[c]))
                for c in chosen
            )
            return (weights.get(i, 0) * d2, -_id_rank(i, ids))
        nxt = max((i for i in ids if i not in chosen), key=score)
        chosen.append(nxt)
    return spark.createDataFrame(
        [(cell, by_id[i]) for cell, i in enumerate(chosen)],
        "cell int, cv array<double>",
    )


def _id_rank(i, ids) -> int:
    """Stable tie-break rank for ids of any orderable type."""
    return ids.index(i)


def ivf_centroids_df(
    corpus: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    refine_iters: int = 0,
    seeding: str = "idorder",
) -> DataFrame:
    """IVF coarse quantizer as a DataFrame ``(cell int, cv array<double>)``
    — the scale path for large k: nothing data-sized is ever collected to
    the driver.

    ``seeding="idorder"`` (default) = the ``n_centroids`` lowest-id
    vectors (same contract as ``ivf_centroids``, so both variants build
    identical indexes — and the oracle-checked queries stay exact);
    ``seeding="kmeans_par"`` = deterministic k-means‖ distance-weighted
    seeds (see :func:`kmeans_par_seeds`) — the 100 TB quality path, where
    id-order seeds can collapse into one dense region.  Each Lloyd step is
    pure DataFrame algebra: assign cells (broadcast centroid array, see
    ``assign_ivf_cells``) → per-cell/per-dimension mean → re-assemble
    vectors; empty cells keep their previous centroid via a left-join
    coalesce.  ``localCheckpoint`` bounds lineage per iteration (k rows of
    executor state — index metadata, not data)."""
    from pyspark.sql import Window

    vecs = as_double_vec(corpus).select(id_col, "v")
    if seeding == "kmeans_par":
        cents = kmeans_par_seeds(corpus, n_centroids, id_col)
    elif seeding == "idorder":
        cents = (
            vecs.orderBy(F.col(id_col).asc())
            .limit(n_centroids)
            .withColumn(
                "cell",
                (F.row_number().over(Window.orderBy(F.col(id_col).asc())) - 1).cast("int"),
            )
            .select("cell", F.col("v").alias("cv"))
        )
    else:
        raise ValueError(f"unknown seeding {seeding!r}: use 'idorder' or 'kmeans_par'")
    for _ in range(refine_iters):
        assigned = assign_ivf_cells(vecs, cents)
        means = (
            assigned.select("cell", F.posexplode("v").alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(F.avg("x").alias("m"))
        )
        new = means.groupBy("cell").agg(
            F.expr("transform(array_sort(collect_list(struct(pos, m))), s -> s.m)").alias("nv")
        )
        cents = (
            cents.join(new, "cell", "left")
            .select("cell", F.coalesce("nv", "cv").alias("cv"))
            .localCheckpoint()
        )
    return cents


def _centroid_array(centroids_df: DataFrame):
    """Fold the centroid table into ONE row holding a cell-sorted
    ``array<struct<i,ctr>>`` — broadcast as a 1-row scalar attach (the
    repo's allow-listed BroadcastNestedLoop pattern), so the per-row argmin
    is an ``array_min(transform(...))`` over a data value.  k lives in the
    DATA, not the plan: 10^4-10^5 centroids neither explode plan
    compilation (the literal variant's limit) nor force a shuffle (an
    explode-join argmin would need a re-reduce by row id)."""
    return centroids_df.agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("cell").cast("int").alias("i"), F.col("cv").alias("ctr")))
        ).alias("__cents")
    )


#: squared L2 between two double arrays (sequential fold — bit-reproducible)
D2 = "aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), cast(0 as double), (acc, v) -> acc + v)"


def l2_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k by squared L2 — the ground-truth metric for the PQ/ADC
    family (ADC approximates squared L2, so its recall must be judged
    against the SAME metric, not cosine).  Identical broadcast-scan shape
    and round-6/id tie-break discipline as ``cosine_topk``.
    Returns (query_id, neighbor_id, exact_d2)."""

    from ._pipe import spread_for_compute

    c = as_double_vec(spread_for_compute(corpus)).select(
        F.col(id_col), F.col("v").alias("cv")
    )
    q0 = queries.withColumnRenamed(id_col, query_id_col) \
        if query_id_col not in queries.columns else queries
    q = as_double_vec(q0, out="qv").select(query_id_col, "qv")
    scored = (
        c.join(F.broadcast(q))
        .select(query_id_col, F.col(id_col).alias("neighbor_id"),
                F.round(F.expr(D2.format(a="qv", b="cv")), 6).alias("exact_d2"))
    )
    return bounded_query_topk(
        scored, k, query_id_col,
        order=[("exact_d2", "asc"), ("neighbor_id", "asc")],
        out_cols=["neighbor_id", "exact_d2"],
    )


def assign_ivf_cells(
    df: DataFrame, centroids_df: DataFrame | None, vec_col: str = "v",
    out: str = "cell", carr: DataFrame | None = None,
) -> DataFrame:
    """Nearest-centroid assignment against a centroid TABLE: one broadcast
    exchange, zero shuffle of ``df``, ties broken toward the lowest cell
    index (same ordering as the literal variant's struct array_min).

    ``carr`` (r18-opt) — pass a prebuilt/materialized ``_centroid_array``
    frame to share ONE centroid fold between the assign and probe sides
    (the executed ivf_ann_topk_table plan carried the whole
    collect_list+Exchange subtree twice, once per side).

    r18-opt: the assignment is emitted through a one-element explode, not
    a plain projection — a downstream equi-join on ``out`` injects an
    isnotnull(out) filter that Catalyst pushes into the broadcast join's
    condition, duplicating the whole k·dim interpreted argmin (TWO
    evaluations per corpus row, seen in the executed ivf_ann_topk_table
    plan — the literal variant had the same bug, fixed in with_ivf_cell).
    Filters on a generated column cannot cross the Generate; rows and
    values are unchanged (1-element array explode is row-preserving)."""
    d2 = D2.format(a=vec_col, b="s.ctr")
    argmin = f"array_min(transform(__cents, s -> struct({d2} as d, s.i as i))).i"
    if carr is None:
        carr = _centroid_array(centroids_df)
    return (
        df.join(F.broadcast(carr))
        .withColumn(out, F.explode(F.array(F.expr(argmin).cast("int"))))
        .drop("__cents")
    )


def _probe_cells(queries: DataFrame, carr: DataFrame, n_probe: int,
                 query_id_col: str) -> DataFrame:
    """Explode each query to its ``n_probe`` nearest cells against the
    1-row broadcast centroid array: (query_id, qv, cell).  Shared by every
    centroid-TABLE probe path so the probe expression (and its lowest-cell
    tie-break) has exactly one definition."""
    d2 = D2.format(a="v", b="s.ctr")
    probes = (
        f"transform(slice(array_sort(transform(__cents, s -> struct({d2} as d, s.i as i)))"
        f", 1, {n_probe}), s -> s.i)"
    )
    return (
        as_double_vec(queries)
        .join(F.broadcast(carr))
        .withColumn("__cell_raw", F.explode(F.expr(probes)))
        .select(
            F.col(query_id_col),
            F.col("v").alias("qv"),
            F.col("__cell_raw").cast("int").alias("cell"),
        )
    )


def _score_topk(c: DataFrame, q: DataFrame, k: int, id_col: str,
                query_id_col: str) -> DataFrame:
    """Join probed queries to their cells' candidates, cosine-score, keep
    top-k per query (cosine desc, id asc tie-break).  The one definition
    of the scoring contract every IVF variant must match bit-for-bit."""
    dot = F.expr(DOT.format(a="qv", b="cv"))
    qn = F.expr(NORM.format(a="qv"))
    cn = F.expr(NORM.format(a="cv"))
    scored = c.join(F.broadcast(q), "cell").select(
        query_id_col, F.col(id_col).alias("neighbor_id"),
        F.round(dot / (qn * cn), 6).alias("cosine"),
    )
    return bounded_query_topk(
        scored, k, query_id_col,
        order=[("cosine", "desc"), ("neighbor_id", "asc")],
        out_cols=["neighbor_id", "cosine"],
    )


def ivf_ann_topk_table(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    centroids_df: DataFrame | None = None,
    n_centroids: int = 16,
    n_probe: int = 2,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF approximate top-k with the centroid index as a DataFrame — the
    large-k scale path (crossover note: plan-literal ``ivf_ann_topk`` wins
    at ≤256 cells where constant folding is free; above that, use this).
    Same semantics, same tie-breaks → bit-identical results at equal
    centroids (asserted in tests/test_similarity.py)."""
    from ._pipe import spread_for_compute

    # materialize the k-row index once (executor-side, bounded): the seed
    # subplan scans the corpus, and both the assign and probe branches
    # reference it — without this the scan would run twice.
    cents = (
        centroids_df
        if centroids_df is not None
        else ivf_centroids_df(corpus, n_centroids, id_col).localCheckpoint()
    )
    # r18-opt: fold the k-row centroid table into its 1-row broadcast array
    # ONCE and hand it to both sides — the executed plan previously carried
    # the collect_list + SinglePartition Exchange subtree twice (assign and
    # probe each rebuilt it).  1 row of index metadata: trivially safe to
    # materialize at any scale.
    carr = _centroid_array(cents).localCheckpoint(eager=True)
    c = assign_ivf_cells(
        as_double_vec(spread_for_compute(corpus)), None, carr=carr
    ).select(F.col(id_col), F.col("v").alias("cv"), "cell")
    q = _probe_cells(queries, carr, n_probe, query_id_col)
    return _score_topk(c, q, k, id_col, query_id_col)


def with_ivf_cell(df: DataFrame, centroids: list[list[float]], vec_col: str = "v", out: str = "cell") -> DataFrame:
    """Assign each vector to its nearest centroid (argmin L2) — centroids
    are literals baked into the plan (broadcast by value, no shuffle).

    Scale guard: a k-term literal projection is the right call at ≤256
    cells (constant-folded, zero exchanges); beyond that, plan compilation
    cost grows with k — use ``assign_ivf_cells`` / ``ivf_ann_topk_table``,
    which carry centroids as broadcast DATA instead."""
    if len(centroids) > 256:
        raise ValueError(
            f"{len(centroids)} centroids as plan literals would explode plan "
            "compilation; use the centroid-table variant (ivf_ann_topk_table)"
        )
    dists = []
    for i, c in enumerate(centroids):
        lit = "array(" + ",".join(f"cast({x!r} as double)" for x in c) + ")"
        d2 = f"aggregate(zip_with({vec_col}, {lit}, (x, y) -> (x - y) * (x - y)), cast(0 as double), (a, v) -> a + v)"
        dists.append(f"struct({d2} as d, {i} as i)")
    argmin = f"array_min(array({', '.join(dists)})).i"
    # r18-opt: emit the assignment through a one-element explode, not a
    # plain projection.  A downstream equi-join on ``out`` injects an
    # isnotnull(out) filter that Catalyst pushes below the projection,
    # duplicating this whole k·dim interpreted argmin into the scan-side
    # Filter (two evaluations per row — seen in the executed ivf_ann_topk
    # plan).  Filters on a generated column cannot cross the Generate, so
    # the argmin is evaluated exactly once; rows and values are unchanged
    # (a 1-element array explode is row-preserving, nulls included).
    return df.withColumn(out, F.explode(F.array(F.expr(argmin).cast("int"))))


def ivf_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 2,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF approximate top-k: score only corpus vectors in the query's
    ``n_probe`` nearest cells.

    Scale shape: the corpus is assigned to cells ONCE (persistable
    partitioned-by-cell = the IVF index); queries fan out to n_probe cells
    via a broadcast join; candidates per query ≈ n_probe·n/n_centroids."""
    from ._pipe import spread_for_compute

    cents = ivf_centroids(corpus, n_centroids, id_col)
    c = with_ivf_cell(as_double_vec(spread_for_compute(corpus)), cents).select(
        F.col(id_col), F.col("v").alias("cv"), F.col("cell")
    )
    # query side: n_probe nearest cells each
    dists = []
    for i, cent in enumerate(cents):
        lit = "array(" + ",".join(f"cast({x!r} as double)" for x in cent) + ")"
        d2 = f"aggregate(zip_with(v, {lit}, (x, y) -> (x - y) * (x - y)), cast(0 as double), (a, v) -> a + v)"
        dists.append(f"struct({d2} as d, {i} as i)")
    probes = f"transform(slice(array_sort(array({', '.join(dists)})), 1, {n_probe}), s -> s.i)"
    q = (
        as_double_vec(queries)
        .withColumn("__cell_raw", F.explode(F.expr(probes)))
        .select(
            F.col(query_id_col),
            F.col("v").alias("qv"),
            F.col("__cell_raw").cast("int").alias("cell"),
        )
    )
    dot = F.expr(DOT.format(a="qv", b="cv"))
    qn = F.expr(NORM.format(a="qv"))
    cn = F.expr(NORM.format(a="cv"))
    scored = c.join(F.broadcast(q), "cell").select(
        query_id_col, F.col(id_col).alias("neighbor_id"),
        F.round(dot / (qn * cn), 6).alias("cosine"),
    )
    return bounded_query_topk(
        scored, k, query_id_col,
        order=[("cosine", "desc"), ("neighbor_id", "asc")],
        out_cols=["neighbor_id", "cosine"],
    )


def semantic_dedup(
    corpus: DataFrame,
    threshold: float = 0.9,
    n_centroids: int = 16,
    id_col: str = "vec_id",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023, public
    paper): cluster embeddings with the deterministic IVF coarse quantizer,
    compare pairs only WITHIN a cluster, and drop the higher-id member of
    any pair with cosine ≥ ``threshold``.  Output is a full-corpus
    assignment: ``(vec_id, cell, keep)`` — semantically-redundant docs get
    ``keep = false``.

    Scale shape: the cluster id is the blocking key (the same trick as
    every dedup in this package — LSH bands, label blocks, IVF cells), so
    the pairwise stage is bounded by the largest cell (~n/n_centroids for a
    balanced quantizer; raise ``n_centroids`` with corpus size) and nothing
    is ever all-pairs.  Cell assignment is one narrow projection against
    plan-literal centroids; the within-cell join shuffles on the cell key
    once.  SemDeDup's per-pair rule (not transitive closure) is the
    published semantics — chain A~B~C with A≁C still drops B and C, keeping
    only the lowest id per dup neighborhood."""
    from ._pipe import spread_for_compute

    cents = ivf_centroids(corpus, n_centroids, id_col)
    c = with_ivf_cell(as_double_vec(spread_for_compute(corpus)), cents).select(
        F.col(id_col), F.col("v"), F.col("cell")
    )
    a = c.select(F.col(id_col).alias("vec_a"), F.col("cell"), F.col("v").alias("va"))
    b = c.select(F.col(id_col).alias("vec_b"), F.col("cell"), F.col("v").alias("vb"))
    dot = F.expr(DOT.format(a="va", b="vb"))
    na = F.expr(NORM.format(a="va"))
    nb = F.expr(NORM.format(a="vb"))
    drops = (
        a.join(b, "cell")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .withColumn("cosine", F.round(dot / (na * nb), 6))
        .filter(F.col("cosine") >= threshold)
        .select(F.col("vec_b").alias(id_col))
        .distinct()
    )
    return (
        c.select(F.col(id_col), F.col("cell").cast("long").alias("cell"))
        .join(drops.withColumn("__drop", F.lit(True)), id_col, "left")
        .select(
            F.col(id_col),
            F.col("cell"),
            F.col("__drop").isNull().alias("keep"),
        )
    )


def embedding_near_dups(corpus: DataFrame, threshold: float, id_col: str = "vec_id") -> DataFrame:
    """Embedding-cosine near-dup pairs within label blocks.

    Blocking on ``label`` bounds the pair fan-out (the generic trick: any
    cheap equality key — cluster id, LSH bucket, shard — prevents n²); the
    exact cosine then verifies within blocks."""
    from ._pipe import spread_for_compute

    e = as_double_vec(spread_for_compute(corpus)).select(F.col(id_col), F.col("label"), F.col("v"))
    a = e.select(F.col(id_col).alias("vec_a"), F.col("label"), F.col("v").alias("va"))
    b = e.select(F.col(id_col).alias("vec_b"), F.col("label"), F.col("v").alias("vb"))
    dot = F.expr(DOT.format(a="va", b="vb"))
    na = F.expr(NORM.format(a="va"))
    nb = F.expr(NORM.format(a="vb"))
    return (
        a.join(b, "label")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .withColumn("cosine", F.round(dot / (na * nb), 6))
        .filter(F.col("cosine") >= threshold)
        .select("vec_a", "vec_b", "label", "cosine")
    )


def quantize_embeddings(corpus: DataFrame, id_col: str = "vec_id") -> DataFrame:
    """Int8 scalar quantization of an embedding column — the storage-layer
    workhorse for a 100 TB vector corpus (4x smaller than float32, and the
    form ANN indexes ship in).  Per-dimension corpus min/max define the
    grid; ``code = least(255, floor((x - mn) * 256 / (mx - mn)))`` —
    ``floor``, not ``round``, because floor has ONE definition across
    engines (round-half ties differ), keeping the codes integer-exact
    against the DuckDB oracle.

    Emits a per-vector report (n_dims, code sum/min/max, max reconstruction
    error at grid-cell midpoints) rather than the code arrays themselves —
    scalar columns for the driver canonicalizer; writing the codes is the
    same ``transform`` without the final aggregates.

    Scale shape: one posexplode shuffle whose OUTPUT is dim-sized (the
    min/max table), folded to a one-row broadcast array (the allow-listed
    scalar-attach pattern); coding itself is map-only — the corpus is
    scanned twice and shuffled never."""
    e = as_double_vec(corpus).select(id_col, "v")
    stats = (
        e.select(F.posexplode("v").alias("pos", "x"))
        .groupBy("pos")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    )
    grid = stats.agg(
        F.array_sort(F.collect_list(F.struct("pos", "mn", "mx"))).alias("__q")
    )
    code = (
        "transform(v, (x, i) -> CASE WHEN element_at(__q, i + 1).mx > element_at(__q, i + 1).mn "
        "THEN least(255, cast(floor((x - element_at(__q, i + 1).mn) * 256.0D "
        "/ (element_at(__q, i + 1).mx - element_at(__q, i + 1).mn)) as int)) ELSE 0 END)"
    )
    err = (
        "transform(v, (x, i) -> abs(x - (element_at(__q, i + 1).mn "
        "+ (cast(element_at(__codes, i + 1) as double) + 0.5D) "
        "* (element_at(__q, i + 1).mx - element_at(__q, i + 1).mn) / 256.0D)))"
    )
    return (
        e.join(F.broadcast(grid))
        .withColumn("__codes", F.expr(code))
        .select(
            F.col(id_col),
            F.size("v").cast("long").alias("n_dims"),
            F.expr("aggregate(__codes, cast(0 as bigint), (a, c) -> a + c)").alias("sum_codes"),
            F.array_min("__codes").alias("min_code"),
            F.array_max("__codes").alias("max_code"),
            F.round(F.array_max(F.expr(err)), 6).alias("max_abs_err"),
        )
    )


# ---------------------------------------------------------------------------
# IVF index persistence — the deployed-index serving shape (r6)
# ---------------------------------------------------------------------------

def ivf_write_index(corpus: DataFrame, path: str,
                    centroids_df: DataFrame | None = None,
                    n_centroids: int = 16, id_col: str = "vec_id") -> None:
    """Materialize an IVF index on disk: vectors partitioned BY CELL
    (``path/cell=<k>/part-*.parquet``) plus the centroid table as a
    ``_centroids`` sidecar (underscore prefix → invisible to Spark's data
    reads of ``path``).  This is the index-BUILD batch job of a deployed
    ANN system; probes then touch only the probed cells' directories —
    Spark's partition pruning is the cell-level inverted-list seek.

    One shuffle keyed on the (bounded-cardinality) cell id; raise
    ``n_centroids`` so cells stay executor-sized at corpus scale."""
    cents = (
        centroids_df if centroids_df is not None
        else ivf_centroids_df(corpus, n_centroids, id_col).localCheckpoint()
    )
    assigned = assign_ivf_cells(as_double_vec(corpus), cents)
    (
        assigned.select(id_col, "v", "cell")
        .repartition("cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(path)
    )
    cents.write.mode("overwrite").parquet(f"{path}/_centroids")


def ivf_search_index(spark, path: str, queries: DataFrame, k: int = 5,
                     n_probe: int = 2, id_col: str = "vec_id",
                     query_id_col: str = "query_id") -> DataFrame:
    """Probe a persisted IVF index: pick each query's ``n_probe`` nearest
    cells from the ``_centroids`` sidecar, then scan ONLY those cells'
    partitions (a literal ``cell IN (...)`` filter → static partition
    pruning; the plan's PartitionFilters prove the unprobed cells' files
    are never opened — asserted in tests/test_similarity.py).  Same
    semantics and tie-breaks as ``ivf_ann_topk_table``, so results are
    bit-identical to the in-memory variants at equal centroids.

    The probed-cell collect is ≤ |queries|·n_probe ints — index metadata,
    same bounded-driver-state class as the ≤256-cell literal seed."""
    cents = spark.read.parquet(f"{path}/_centroids")
    q = _probe_cells(queries, _centroid_array(cents), n_probe, query_id_col)
    probed = sorted({r.cell for r in q.select("cell").distinct().collect()})
    c = (
        spark.read.parquet(path)
        .where(F.col("cell").isin(probed))
        .select(F.col(id_col), F.col("v").alias("cv"), F.col("cell").cast("int").alias("cell"))
    )
    return _score_topk(c, q, k, id_col, query_id_col)


# --------------------------------------------------------------------------
# Product Quantization (Jégou, Douze, Schmid 2011 — "Product Quantization
# for Nearest Neighbor Search", the public PQ/ADC construction; r11).
# Splits the D-dim space into m orthogonal subspaces, learns a small
# codebook per subspace, stores each vector as m byte-sized codes, and
# answers queries with ASYMMETRIC DISTANCE COMPUTATION: one m·ks distance
# table per query, then m table LOOKUPS per candidate instead of D
# multiplies — the memory/compute shape that makes billion-vector scans
# affordable.  Deterministic throughout (id-order init + optional Lloyd
# refinement over fixed membership), like the IVF family above.
# --------------------------------------------------------------------------


def pq_codebooks(
    corpus: DataFrame,
    m: int = 8,
    ks: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    refine_iters: int = 0,
    vec_col: str = "embedding",
) -> DataFrame:
    """→ ``(j int, cell int, ctr array<double>)`` — one ks-entry codebook
    per subspace j, trained on the corpus's subvectors.  Init: subspace
    slices of the ``ks`` lowest-id vectors (cell = id rank, the IVF
    convention); each ``refine_iters`` runs one Lloyd step for ALL m
    codebooks in one distributed pass (assign argmin cell per (vector,
    subspace), then per-(j, cell, pos) mean).  Empty cells keep their
    centroid.  Nothing corpus-sized is collected."""
    from pyspark.sql import Window

    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub = dim // m
    vecs = as_double_vec(corpus, col=vec_col).select(id_col, "v")
    w = Window.orderBy(F.col(id_col).asc())
    base = (
        vecs.orderBy(F.col(id_col).asc()).limit(ks)
        .withColumn("cell", F.row_number().over(w) - 1)
    )
    js = F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("j")
    books = base.select("cell", js, "v").select(
        "j", "cell",
        F.expr(f"slice(v, j * {sub} + 1, {sub})").alias("ctr"),
    )
    for _ in range(refine_iters):
        cb = books.agg(
            F.array_sort(
                F.collect_list(F.struct("j", "cell", "ctr"))
            ).alias("__cb")
        )
        subvecs = vecs.select(F.col(id_col), js, "v").select(
            id_col, "j", F.expr(f"slice(v, j * {sub} + 1, {sub})").alias("sv")
        )
        argmin = (
            "array_min(transform(filter(__cb, s -> s.j = j), s -> "
            "struct(" + D2.format(a="sv", b="s.ctr") + " as d, s.cell as c))).c"
        )
        assigned = (
            subvecs.join(F.broadcast(cb))
            .withColumn("cell", F.expr(argmin))
            .select(id_col, "j", "cell", F.posexplode("sv").alias("pos", "x"))
        )
        means = (
            assigned.groupBy("j", "cell", "pos")
            .agg(F.avg("x").alias("mx"))
            .groupBy("j", "cell")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "mx"))),
                    lambda s: s["mx"],
                ).alias("ctr")
            )
        )
        # empty cells keep their previous centroid
        books = (
            books.alias("old")
            .join(means.alias("new"), ["j", "cell"], "left")
            .select(
                "j", "cell",
                F.coalesce(F.col("new.ctr"), F.col("old.ctr")).alias("ctr"),
            )
            .localCheckpoint(eager=True)  # truncate the iterative lineage
        )
    return books


def _cb_row(codebooks: DataFrame):
    """1-row broadcastable nested codebook, sorted by (j, cell) so flat
    index arithmetic (j·ks + cell) is valid downstream."""
    return codebooks.agg(
        F.array_sort(F.collect_list(F.struct("j", "cell", "ctr"))).alias("__cb")
    )


def pq_encode(
    corpus: DataFrame,
    codebooks: DataFrame,
    m: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """→ ``(id, codes array<int>)``: per subspace, the argmin-d² cell
    (ties → lowest cell, the struct-min idiom).  One map over the corpus
    against the broadcast codebooks; m·ks·(dim/m) = ks·dim flops per
    row, all inside whole-stage codegen."""
    sub = dim // m
    code_j = (
        "transform(sequence(0, {m} - 1), j -> "
        "array_min(transform(filter(__cb, s -> s.j = j), s -> "
        "struct(" + D2.format(a=f"slice(v, j * {sub} + 1, {sub})", b="s.ctr")
        + " as d, s.cell as c))).c)"
    ).format(m=m, sub=sub)
    return (
        as_double_vec(corpus, col=vec_col).select(id_col, "v")
        .join(F.broadcast(_cb_row(codebooks)))
        .select(F.col(id_col), F.expr(code_j).alias("codes"))
    )


def pq_adc_topk(
    queries: DataFrame,
    encoded: DataFrame,
    codebooks: DataFrame,
    k: int = 5,
    m: int = 8,
    ks: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Asymmetric Distance Computation top-k: each query precomputes its
    m·ks distance TABLE once (one array column), then every candidate
    costs m array LOOKUPS (element_at by j·ks + code) — never dim
    multiplies.  Queries ride broadcast; the corpus side streams map-only
    until the final per-query top-k window.  Returns (query_id,
    neighbor_id, adc_d2) with adc_d2 rounded to 6 (the repo's
    float-ordering discipline); ties break on neighbor id."""

    sub = dim // m
    qtab = (
        "transform(__cb, s -> "
        + D2.format(a=f"slice(qv, s.j * {sub} + 1, {sub})", b="s.ctr")
        + ")"
    )
    q = (
        as_double_vec(queries, out="qv").select(
            F.col(id_col).alias(query_id_col), "qv"
        )
        .join(F.broadcast(_cb_row(codebooks)))
        .select(query_id_col, F.expr(qtab).alias("__qt"))
    )
    dist = (
        f"round(aggregate(sequence(0, {m} - 1), cast(0 as double), "
        f"(acc, j) -> acc + element_at(__qt, j * {ks} + element_at(codes, j + 1) + 1)), 6)"
    )
    scored = (
        encoded.join(F.broadcast(q))
        .select(query_id_col, F.col(id_col).alias("neighbor_id"),
                F.expr(dist).alias("adc_d2"))
    )
    return bounded_query_topk(
        scored, k, query_id_col,
        order=[("adc_d2", "asc"), ("neighbor_id", "asc")],
        out_cols=["neighbor_id", "adc_d2"],
    )


def ivfpq_rerank_topk(
    queries: DataFrame,
    corpus: DataFrame,
    encoded: DataFrame,
    coarse: DataFrame,
    books: DataFrame,
    k: int = 5,
    shortlist: int = 20,
    m: int = 8,
    ks: int = 16,
    dim: int = 64,
    n_probe: int = 4,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    shortlist_df: DataFrame | None = None,
) -> DataFrame:
    """Two-stage retrieval (Jégou et al. 2011 §V.C, the standard refine
    step every production PQ deployment adds): the cheap residual-ADC
    pass shortlists ``shortlist`` candidates per query, then ONLY those
    candidates' full vectors are fetched and re-ranked by EXACT squared
    L2 — quantization error decides nothing in the final top-k, only in
    shortlist membership.

    Scale shape: the shortlist (|queries|·shortlist ids) is broadcast
    into the corpus scan, so the fetch-back is one map-side semi-join —
    the corpus is never shuffled and the exact-distance work is
    O(|queries|·shortlist·dim), independent of corpus size.  The final
    per-query window here is NOT the r13-verdict funnel: its input is
    the fetched-back shortlist itself (≤ |queries|·shortlist rows by
    construction — the broadcast side bounds the join), so no
    ``bounded_query_topk`` pre-cut is needed.  Returns
    (query_id, neighbor_id, exact_d2, adc_d2) with the repo's round-6
    float-ordering discipline; ties break on neighbor id.

    ``shortlist_df`` (r19-opt): a composite that already ran the ADC
    shortlist pass can hand it in and skip the internal one — it must be
    exactly ``ivfpq_adc_topk(..., k=shortlist)`` over the same inputs
    (the rerank-recall query shares one materialized shortlist between
    its adc and rerank branches this way).  Its columns are checked from
    the schema at call time: a frame without ``query_id_col``,
    ``neighbor_id`` or ``adc_d2`` raises ``ValueError``.  Its per-query
    row count is checked at execute time, inside the rerank window (no
    extra job): a query with more than ``shortlist`` rows fails the
    query with a ``raise_error`` naming it."""
    from pyspark.sql import Window

    if shortlist_df is not None:
        missing = [c for c in (query_id_col, "neighbor_id", "adc_d2")
                   if c not in shortlist_df.columns]
        if missing:
            raise ValueError(
                f"shortlist_df lacks column(s) {missing}; pass the output of "
                f"ivfpq_adc_topk(..., k=shortlist)")
    short = shortlist_df if shortlist_df is not None else ivfpq_adc_topk(
        queries, encoded, coarse, books, k=shortlist, m=m, ks=ks, dim=dim,
        n_probe=n_probe, id_col=id_col, query_id_col=query_id_col,
    )
    vecs = as_double_vec(corpus).select(
        F.col(id_col).alias("neighbor_id"), F.col("v").alias("nv")
    )
    q0 = queries.withColumnRenamed(id_col, query_id_col) \
        if query_id_col not in queries.columns else queries
    qv = as_double_vec(q0, out="qv").select(query_id_col, "qv")
    exact = (
        vecs.join(F.broadcast(short), "neighbor_id")
        .join(F.broadcast(qv), query_id_col)
        .select(
            query_id_col, "neighbor_id",
            F.round(F.expr(D2.format(a="qv", b="nv")), 6).alias("exact_d2"),
            "adc_d2",
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("exact_d2").asc(), F.col("neighbor_id").asc()
    )
    rn = F.row_number().over(w)
    if shortlist_df is not None:
        # same partition and order as the rank: one Window operator
        n = F.count(F.lit(1)).over(
            w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        rn = F.when(n > shortlist, F.raise_error(F.concat(
            F.lit(f"shortlist_df holds more than {shortlist} rows for "
                  f"{query_id_col} "), F.col(query_id_col).cast("string"),
            F.lit(f"; pass the output of ivfpq_adc_topk(..., k={shortlist})"),
        ))).otherwise(rn)
    return (
        exact.withColumn("__rn", rn)
        .filter(F.col("__rn") <= k)
        .select(query_id_col, "neighbor_id", "exact_d2", "adc_d2")
    )


def ivfpq_encode(
    corpus: DataFrame,
    coarse: DataFrame,
    m: int = 8,
    ks: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    refine_iters: int = 0,
) -> tuple[DataFrame, DataFrame]:
    """IVF-PQ index build (the composition Jégou et al. 2011 §V ships and
    every billion-scale system copies): assign each vector to its coarse
    cell, then PQ-encode the RESIDUAL v − centroid(cell) — residuals
    concentrate near the origin, so the same code budget quantizes far
    finer than coding raw vectors.  Returns ``(encoded, books)`` with
    ``encoded = (id, cell, codes)`` and ``books`` the residual-space PQ
    codebooks.  One broadcast map pass over the corpus, no shuffle.

    r19-opt (guide §2.4 remove shuffles outright): the original shape was
    ``pq_encode(res, books).join(res.select(id, cell), id)`` — a
    corpus×corpus sort-merge join whose only purpose was re-attaching the
    ``cell`` column pq_encode drops, with the residual argmin pass
    re-planned under BOTH join sides.  The codes are now projected
    directly on ``res`` (same argmin expression, cell kept in place), and
    with ``refine_iters=0`` the codebook init — which needs only the
    ``ks`` lowest-id residuals — is derived from a TakeOrdered over the
    ids instead of a third full argmin pass.  Values are identical by
    construction: same rows, same expressions, no join to reorder them."""
    def residuals(frame: DataFrame) -> DataFrame:
        assigned = assign_ivf_cells(frame, coarse)
        return (
            assigned.join(
                F.broadcast(coarse.select("cell", F.col("cv").alias("__ctr"))),
                "cell",
            )
            .select(
                F.col(id_col), "cell",
                F.expr("zip_with(v, __ctr, (x, y) -> x - y)").alias("rv"),
            )
        )

    vecs = as_double_vec(corpus).select(id_col, "v")
    res = residuals(vecs)
    if refine_iters:
        # the Lloyd refinement iterates over every residual — hand
        # pq_codebooks the full frame
        books = pq_codebooks(
            res, m=m, ks=ks, dim=dim, id_col=id_col,
            refine_iters=refine_iters, vec_col="rv",
        )
    else:
        # init-only codebooks touch just the ks lowest-id residuals
        books = pq_codebooks(
            residuals(vecs.orderBy(F.col(id_col).asc()).limit(ks)),
            m=m, ks=ks, dim=dim, id_col=id_col,
            refine_iters=0, vec_col="rv",
        )
    sub = dim // m
    code_j = (
        "transform(sequence(0, {m} - 1), j -> "
        "array_min(transform(filter(__cb, s -> s.j = j), s -> "
        "struct(" + D2.format(a=f"slice(rv, j * {sub} + 1, {sub})", b="s.ctr")
        + " as d, s.cell as c))).c)"
    ).format(m=m, sub=sub)
    encoded = (
        res.join(F.broadcast(_cb_row(books)))
        .select(F.col(id_col), "cell", F.expr(code_j).alias("codes"))
    )
    return encoded, books


def ivfpq_adc_topk(
    queries: DataFrame,
    encoded: DataFrame,
    coarse: DataFrame,
    books: DataFrame,
    k: int = 5,
    m: int = 8,
    ks: int = 16,
    dim: int = 64,
    n_probe: int = 4,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF-PQ search: probe the ``n_probe`` nearest coarse cells, build
    one ADC table PER (query, probed cell) from the query's residual in
    that cell (the residual trick means the table is cell-specific), then
    rank that cell's candidates with m lookups each.  Candidate set is
    ~n·(n_probe/k_coarse) instead of n, each candidate costs m lookups
    instead of dim multiplies — the two multiplicative savings composed.
    Ties break (adc_d2 asc, neighbor id asc) after the repo's round-6
    float discipline."""

    sub = dim // m
    carr = _centroid_array(coarse)
    q0 = queries.withColumnRenamed(id_col, query_id_col) \
        if query_id_col not in queries.columns else queries
    probed = _probe_cells(q0, carr, n_probe, query_id_col)
    qres = (
        probed.join(
            F.broadcast(coarse.select("cell", F.col("cv").alias("__ctr"))),
            "cell",
        )
        .select(
            query_id_col, "cell",
            F.expr("zip_with(qv, __ctr, (x, y) -> x - y)").alias("qrv"),
        )
    )
    qtab = (
        "transform(__cb, s -> "
        + D2.format(a=f"slice(qrv, s.j * {sub} + 1, {sub})", b="s.ctr")
        + ")"
    )
    q = (
        qres.join(F.broadcast(_cb_row(books)))
        .select(query_id_col, "cell", F.expr(qtab).alias("__qt"))
    )
    dist = (
        f"round(aggregate(sequence(0, {m} - 1), cast(0 as double), "
        f"(acc, j) -> acc + element_at(__qt, j * {ks} + element_at(codes, j + 1) + 1)), 6)"
    )
    scored = (
        encoded.join(F.broadcast(q), "cell")
        .select(query_id_col, F.col(id_col).alias("neighbor_id"),
                F.expr(dist).alias("adc_d2"))
    )
    return bounded_query_topk(
        scored, k, query_id_col,
        order=[("adc_d2", "asc"), ("neighbor_id", "asc")],
        out_cols=["neighbor_id", "adc_d2"],
    )


def sign_binary_codes(
    df: DataFrame, dim: int = 64, id_col: str = "vec_id",
    vec_col: str = "v",
) -> DataFrame:
    """r13 — 1-bit (sign) scalar quantization: each dimension collapses
    to ``v[i] > 0``, packed into two 32-bit halves (``code_lo`` = dims
    0-31, ``code_hi`` = dims 32-63) so Hamming distance is two
    ``bit_count(xor)`` ops on non-negative BIGINTs — the same packed
    layout as the dHash image codes (operators/imaging.py), and the
    64× compression step of binary-quantized retrieval (32× smaller
    than the int8 codes of ``quantize_embeddings``).  Map-only, JVM
    ``aggregate`` fold — no UDF, no shuffle."""
    if dim != 64:
        raise ValueError("sign_binary_codes packs exactly 64 dims")
    half = (
        "aggregate(sequence(0, 31), cast(0 as bigint), (s, i) -> "
        "s + IF(element_at({v}, cast(i + {off} as int)) > cast(0 as double), "
        "shiftleft(cast(1 as bigint), cast(i as int)), cast(0 as bigint)))"
    )
    return df.select(
        F.col(id_col), F.col(vec_col),
        F.expr(half.format(v=vec_col, off=1)).alias("code_lo"),
        F.expr(half.format(v=vec_col, off=33)).alias("code_hi"),
    )


def hamming_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """r13 — binary-quantized two-stage retrieval: top-k by HAMMING
    distance between 64-bit sign codes (the shortlist stage a
    binary-quantized vector store runs over packed codes — 8 bytes/vec,
    XOR+popcount per candidate), with the EXACT cosine of each
    retrieved pair reported alongside (the refine read-back).

    Scale shape: identical to ``cosine_topk`` — one corpus scan, query
    codes broadcast, no corpus shuffle — but the scan compares 16
    packed bytes instead of 64 floats; at 100 TB the code table is the
    only thing the shortlist stage reads (512× less IO than raw
    vectors), and the exact-cosine refine touches only k rows/query."""

    from ._pipe import spread_for_compute

    c = sign_binary_codes(
        as_double_vec(spread_for_compute(corpus)), id_col=id_col
    ).select(F.col(id_col), F.col("v").alias("cv"),
             F.col("code_lo").alias("clo"), F.col("code_hi").alias("chi"))
    q = sign_binary_codes(
        as_double_vec(queries), id_col=query_id_col
    ).select(F.col(query_id_col), F.col("v").alias("qv"),
             F.col("code_lo").alias("qlo"), F.col("code_hi").alias("qhi"))
    dot = F.expr(DOT.format(a="qv", b="cv"))
    qn = F.expr(NORM.format(a="qv"))
    cn = F.expr(NORM.format(a="cv"))
    scored = (
        c.join(F.broadcast(q))
        .select(
            query_id_col, F.col(id_col).alias("neighbor_id"),
            F.expr("bit_count(clo ^ qlo) + bit_count(chi ^ qhi)")
            .cast("int").alias("hamming"),
            F.round(dot / (qn * cn), 6).alias("cosine"),
        )
    )
    return bounded_query_topk(
        scored, k, query_id_col,
        order=[("hamming", "asc"), ("neighbor_id", "asc")],
        out_cols=["neighbor_id", "hamming", "cosine"],
    )


def semdedup_centroid_keep(
    corpus: DataFrame,
    threshold: float = 0.9,
    n_centroids: int = 16,
    id_col: str = "vec_id",
) -> DataFrame:
    """r13 — SemDeDup with the PAPER'S keep rule (Abbas et al. 2023
    §2): within each cluster, for every near-duplicate pair (cosine ≥
    ``threshold``) the member with the LOWER cosine similarity to the
    cluster centroid is kept — the paper's published policy ("keep the
    examples with the lowest cosine similarity to cluster centroids"),
    which preserves a cluster's boundary examples instead of an
    arbitrary id (the ``semantic_dedup`` operator's simpler
    lowest-id-wins variant).  Centroid-similarity ties break id-ASC.

    Output: (vec_id, cell, centroid_cos, keep).  Same blocking scale
    shape as ``semantic_dedup`` — cell key bounds the pairwise stage,
    never all-pairs; the centroid cosine adds one map-only projection
    against the plan-literal centroid table.  Cosines are rounded to 6
    places BEFORE every comparison, so the keep frontier is
    engine-portable."""
    from ._pipe import spread_for_compute

    cents = ivf_centroids(corpus, n_centroids, id_col)
    ctab = "array(" + ",".join(
        "array(" + ",".join(f"cast({x!r} as double)" for x in c) + ")"
        for c in cents
    ) + ")"
    c = (
        with_ivf_cell(as_double_vec(spread_for_compute(corpus)), cents)
        .withColumn("__ctr", F.expr(f"element_at({ctab}, cell + 1)"))
        .withColumn(
            "centroid_cos",
            F.round(
                F.expr(DOT.format(a="v", b="__ctr"))
                / (F.expr(NORM.format(a="v")) * F.expr(NORM.format(a="__ctr"))),
                6,
            ),
        )
        .select(F.col(id_col), F.col("v"), F.col("cell"), F.col("centroid_cos"))
    )
    a = c.select(F.col(id_col).alias("vec_a"), F.col("cell"),
                 F.col("v").alias("va"), F.col("centroid_cos").alias("cca"))
    b = c.select(F.col(id_col).alias("vec_b"), F.col("cell"),
                 F.col("v").alias("vb"), F.col("centroid_cos").alias("ccb"))
    dot = F.expr(DOT.format(a="va", b="vb"))
    na = F.expr(NORM.format(a="va"))
    nb = F.expr(NORM.format(a="vb"))
    drops = (
        a.join(b, "cell")
        .filter(F.col("vec_a") != F.col("vec_b"))
        .withColumn("cosine", F.round(dot / (na * nb), 6))
        .filter(F.col("cosine") >= threshold)
        # b beats a: lower centroid-cos survives; ties keep the lower id
        .filter(
            (F.col("ccb") < F.col("cca"))
            | ((F.col("ccb") == F.col("cca")) & (F.col("vec_b") < F.col("vec_a")))
        )
        .select(F.col("vec_a").alias(id_col))
        .distinct()
    )
    return (
        c.select(F.col(id_col), F.col("cell").cast("long").alias("cell"),
                 F.col("centroid_cos"))
        .join(drops.withColumn("__drop", F.lit(True)), id_col, "left")
        .select(
            F.col(id_col),
            F.col("cell"),
            F.col("centroid_cos"),
            F.col("__drop").isNull().alias("keep"),
        )
    )


def center_normalize(
    corpus: DataFrame, dim: int = 64, id_col: str = "vec_id"
) -> DataFrame:
    """r13 — embedding mean-centering + re-normalization report (the
    "all-but-the-top" preprocessing of Mu & Viswanath 2018 §3, step 1:
    subtract the corpus mean vector — embedding spaces are anisotropic,
    with a large common component that inflates every cosine; centering
    removes it before cosine retrieval).  Emits per vector the norm
    before and after centering and the cosine between the original and
    centered vector (how much the common component was distorting it).

    Determinism discipline: per-dimension means come from round-9
    element values summed as DECIMAL(28,9) (exact, order-independent),
    the mean itself is floor-rounded to 9; every downstream quadratic
    term (squares, cross products) is kept as the exact INTEGER
    floor(t·1e9 + 0.5) and summed as BIGINT — order-independent and
    free of the double→decimal conversion whose rounding the engines
    disagree on (caught here: per-element k/1e9 DECIMAL casts drifted
    Spark vs DuckDB by ~1e-9/term) — with ONE double division at the
    end.  Plan: one posexplode → per-dim aggregate (dim-sized result)
    folded into a 1-row broadcast mean array; the per-vector pass is a
    map-only zip_with fold against it — one tiny shuffle, corpus
    scanned twice."""
    k9 = "cast(floor(({x}) * 1e9 + 0.5) as bigint)"
    v = as_double_vec(corpus).select(F.col(id_col), F.col("v"))
    means = (
        v.select(F.posexplode("v").alias("pos", "x"))
        .groupBy("pos")
        .agg(
            F.sum(F.expr(
                "cast(floor(x * 1e9 + 0.5) / 1e9 as decimal(28,9))"
            )).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "pos",
            (F.floor(F.col("s").cast("double") / F.col("n") * 1e9 + 0.5)
             / 1e9).alias("mu"),
        )
    )
    mu_row = means.groupBy().agg(
        F.expr("transform(array_sort(collect_list(struct(pos, mu))), "
               "s -> s.mu)").alias("__mu")
    )
    isum = (
        "aggregate(zip_with(v, __mu, (x, m) -> {term}), "
        "cast(0 as bigint), (a, s) -> a + s)"
    )
    sq_before = isum.format(term=k9.format(x="x * x"))
    sq_after = isum.format(term=k9.format(x="(x - m) * (x - m)"))
    cross = isum.format(term=k9.format(x="x * (x - m)"))
    r6 = "floor({x} * 1e6 + 0.5) / 1e6"
    return (
        v.crossJoin(F.broadcast(mu_row))
        .select(
            F.col(id_col),
            F.expr(r6.format(x=f"sqrt(({sq_before}) / 1e9)"))
            .alias("norm_before"),
            F.expr(r6.format(x=f"sqrt(({sq_after}) / 1e9)"))
            .alias("norm_after"),
            F.expr(r6.format(
                x=f"(({cross}) / 1e9) / (sqrt(({sq_before}) / 1e9) "
                  f"* sqrt(({sq_after}) / 1e9))"
            )).alias("rotation_cos"),
        )
    )


def mmr_rerank(
    shortlist: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    lam: float = 0.7,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    rel_col: str = "cosine",
) -> DataFrame:
    """r15 — Maximal Marginal Relevance re-ranking (Carbonell &
    Goldstein 1998, the classic retrieval-diversity objective RAG
    pipelines ship under the same name): greedily select k of the
    shortlisted candidates, each pick maximizing

        λ·rel(q, d) − (1−λ)·max_{s ∈ selected} sim(d, s)

    so near-duplicate passages stop crowding out coverage.  Pure
    relevance ranking (λ=1) provably returns the cosine top-k; λ=0.7
    is the paper's balanced setting.

    Scale shape — the reason MMR belongs AFTER the bounded top-k
    funnel: the greedy loop is inherently sequential in k, so it runs
    on the SHORTLIST ONLY (|shortlist| per query, never the corpus)
    inside one Arrow ``applyInPandas`` group per query.  Attaching the
    candidate vectors is one corpus scan joined against the BROADCAST
    shortlist — no corpus shuffle; the group state is s×d floats + an
    s×s similarity matrix, both bounded by the shortlist size.

    Determinism contract (what makes the recursive-CTE oracle replay
    every pick): relevance arrives round-6 from the top-k; pairwise
    sims round-6 into INTEGER MICRO-UNITS, and the greedy comparison
    runs on the exact integer 10λ·rel_µ − 10(1−λ)·pen_µ — a float
    score of the form 0.7k − 0.3j lands exactly on half micro-units
    ~10% of the time, where IEEE summation-order noise flips the 6th
    digit between engines; integers cannot tie-break wrong.  Ties
    break on neighbor_id ascending.  Output: one row per pick —
    (query_id, rank, neighbor_id, mmr_score = integer score / 1e7)."""
    import numpy as np
    import pandas as pd

    lam10 = int(round(lam * 10))
    if abs(lam10 / 10 - lam) > 1e-12:
        raise ValueError(
            "lam must be a multiple of 0.1 (exact integer scoring contract)"
        )
    c = as_double_vec(corpus).select(
        F.col(id_col).alias("neighbor_id"), F.col("v")
    )
    rows = c.join(
        F.broadcast(shortlist.select(query_id_col, "neighbor_id", rel_col)),
        "neighbor_id",
    )

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("neighbor_id").reset_index(drop=True)
        V = np.stack(pdf["v"].to_list()).astype(np.float64)
        n = np.sqrt((V * V).sum(axis=1))
        s_mu = np.floor(
            (V @ V.T) / np.outer(n, n) * 1e6 + 0.5
        ).astype(np.int64)
        rel_mu = np.floor(
            pdf[rel_col].to_numpy(dtype=np.float64) * 1e6 + 0.5
        ).astype(np.int64)
        ids = pdf["neighbor_id"].to_numpy()
        qid = pdf["query_id"].iloc[0]
        selected: list[int] = []
        remaining = np.ones(len(pdf), dtype=bool)
        out = []
        for r in range(1, min(k, len(pdf)) + 1):
            pen = (s_mu[:, selected].max(axis=1) if selected
                   else np.zeros(len(pdf), dtype=np.int64))
            score = lam10 * rel_mu - (10 - lam10) * pen  # exact integers
            masked = np.where(remaining, score, np.iinfo(np.int64).min)
            pick = int(np.argmax(masked))  # first max = smallest id (sorted)
            selected.append(pick)
            remaining[pick] = False
            out.append((qid, r, ids[pick], score[pick] / 1e7))
        return pd.DataFrame(
            out, columns=["query_id", "rank", "neighbor_id", "mmr_score"]
        )

    return rows.groupBy(query_id_col).applyInPandas(
        greedy,
        "query_id long, rank int, neighbor_id long, mmr_score double",
    )
