"""Heavy-hitter (frequent-items) sketch — the ClickHouse ``topK()``
analogue (reference engine surface; ClickHouse implements Filtered
Space-Saving).  Algorithm: Space-Saving (Metwally et al. 2005, "Efficient
Computation of Frequent and Top-k Elements in Data Streams", public
paper).

Scale design (100 TB): the naive exact top-k is a full groupBy over every
distinct item — at corpus scale that shuffles the entire token universe.
The sketch path instead:

1. **Per-partition Space-Saving** (Arrow-batched ``mapInPandas``, bounded
   memory): each batch is counted VECTORIZED (``value_counts``), then the
   batch counts merge into a ``capacity``-bounded counter table with the
   standard min-counter eviction.  No shuffle; memory is O(capacity) per
   partition regardless of the item universe.  Bound (amortized variant):
   eviction credits every later NEW item with the GLOBAL eviction floor
   rather than a per-evicted-item floor, so ``sum(counters)`` may exceed
   the processed mass N_p and the textbook "count > N_p/capacity
   survives" line loosens to "count > N_p/capacity + floor_overshoot"
   — in exchange for O(batch distinct) merges instead of O(misses ×
   capacity) min-scans.  In practice size ``capacity`` with headroom
   (the same rule ClickHouse documents for ``topK``: capacity ≳ 5-10×
   k); an adversarial capacity/partition setting can drop a MARGINAL
   candidate whose count sits inside the overshoot band.
2. **Exact candidate recount**: the union of per-partition candidates is
   small (≤ capacity × partitions — sketch metadata, not data); a
   semi-join (AQE picks broadcast vs shuffle from its measured size) +
   one groupBy recounts ONLY the candidates exactly.  The shuffle
   carries candidate items only.

Result: exact counts for the true top-k (provided ``capacity`` covers the
heavy-hitter threshold — the same sizing rule ClickHouse documents for
``topK``), at a fraction of the exact path's shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def space_saving_topk(
    items: DataFrame,
    col: str = "token",
    k: int = 10,
    capacity: int = 4096,
    weight_col: str | None = None,
) -> DataFrame:
    """Top-``k`` values of ``items[col]`` by count — or by total WEIGHT
    when ``weight_col`` is given (the ClickHouse ``topKWeighted``
    analogue; e.g. top domains by token mass rather than page count) —
    → (rank, item, n).

    ``n`` is the EXACT global count/weight (phase-2 recount), ties broken
    by item ascending — fully oracle-checkable against the exact SQL
    top-k whenever ``capacity`` covers the heavy-hitter threshold (see
    module docstring).  ``capacity`` bounds phase-1 memory per partition;
    the weighted form runs the identical counter algorithm with weight
    sums in place of counts (Space-Saving is weight-agnostic: the
    guarantee bounds total MASS per counter, not occurrences)."""
    import pandas as pd
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("item", items.schema[col].dataType),
            # DoubleType: the amortized counters accumulate floats (the
            # weighted path is fractional); cnt_upper only drives candidate
            # selection, the exact phase-2 recount re-derives n
            T.StructField("cnt_upper", T.DoubleType()),
        ]
    )

    def _partition_sketch(batches):
        # Batch-amortized Space-Saving: each Arrow batch is counted
        # EXACTLY (vectorized value_counts) and merged in full, then the
        # table is trimmed back to ``capacity`` in one pass — evicted mass
        # is remembered as ``floor`` and every later NEW item enters at
        # floor + cnt (the per-item min-counter inheritance, amortized:
        # any evicted item had count ≤ floor, so a re-entering item is
        # always credited conservatively and the overestimate guarantee
        # holds).  Cost per batch: O(batch distinct + capacity·log c)
        # instead of the textbook O(misses × capacity) min-scans.
        import heapq

        counters: dict = {}
        floor = 0.0

        for pdf in batches:
            if weight_col is None:
                vc = pdf[col].dropna().value_counts()  # vectorized count
            else:
                vc = pdf.dropna(subset=[col]).groupby(col)[weight_col].sum()
            for val, cnt in vc.items():
                # float accumulation: weighted counters may be fractional;
                # truncating here would mis-rank candidate selection
                if val in counters:
                    counters[val] += float(cnt)
                else:
                    counters[val] = floor + float(cnt)
            excess = len(counters) - capacity
            if excess > 0:
                evict = heapq.nsmallest(
                    excess, counters.items(), key=lambda kv: (kv[1], str(kv[0]))
                )
                for val, cnt in evict:
                    del counters[val]
                    if cnt > floor:
                        floor = cnt
        yield pd.DataFrame(
            {"item": list(counters), "cnt_upper": list(counters.values())}
        )

    cols = [F.col(col)] + ([F.col(weight_col)] if weight_col else [])
    src = items.select(*cols)
    candidates = (
        src.mapInPandas(_partition_sketch, out_schema)
        .select("item")
        .distinct()
    )
    # no broadcast FORCE (review r8): the candidate union is tiny for sane
    # capacity×partitions, but at extreme fan-out a forced broadcast would
    # bypass autoBroadcastJoinThreshold and OOM the driver — let AQE pick
    # broadcast vs shuffle from the measured size
    exact = (
        src.join(
            candidates.withColumnRenamed("item", col), col, "left_semi"
        )
        .groupBy(col)
        .agg(
            (F.sum(weight_col) if weight_col else F.count(F.lit(1))).alias("n")
        )
    )
    from pyspark.sql import Window

    # driver-free top-k cut FIRST (TakeOrderedAndProject — never a
    # one-partition window over the full candidate recount, which at
    # capacity × thousands-of-partitions could carry millions of rows);
    # the rank window then runs over ≤ k rows (same idiom as
    # text.vocab_coverage)
    top = exact.orderBy(F.col("n").desc(), F.col(col).asc()).limit(k)
    w = Window.orderBy(F.col("n").desc(), F.col(col).asc())
    return top.withColumn("rank", F.row_number().over(w).cast("long")).select(
        "rank", F.col(col).alias("item"), "n"
    )


#: the KMV hash domain: 15 hex digits of md5 = 60 bits, so hashes are
#: uniform on [0, 2^60) — every estimator and every DuckDB oracle
#: normalizes by this same constant
KMV_HASH_SPACE = 1 << 60


def kmv_hash_expr(item_col: str):
    """The md5-prefix hash every KMV component shares (sketch, sink
    state column, oracles): uniform 60-bit long from the item's string
    form — DuckDB reproduces it as
    ``('0x'||substr(md5(item),1,15))::BIGINT``."""
    return F.conv(
        F.substring(F.md5(F.col(item_col).cast("string")), 1, 15), 16, 10
    ).cast("long")


def kmv_estimate_expr(sketch_col, k: int):
    """Distinct-count estimate from a KMV sketch array (Beyer 2007): if
    the sketch holds fewer than ``k`` hashes the count is EXACT (=
    size); otherwise D̂ = (k-1) / U_k with U_k = k-th smallest hash
    normalized to (0,1).  Pure column expression — usable on the
    aggregating sink's stored state without any reshuffle."""
    c = F.col(sketch_col) if isinstance(sketch_col, str) else sketch_col
    full = F.size(c) >= k
    u_k = F.element_at(c, k).cast("double") / F.lit(float(KMV_HASH_SPACE))
    return F.when(full, (F.lit(float(k - 1)) / u_k)).otherwise(
        F.size(c).cast("double")
    )


def qsample_quantile_expr(sketch_col, q: float):
    """Quantile estimate from a bottom-k rank-sample state column (the
    aggregating sink's ``qsample:<id_col>`` op — the CH
    ``quantileTDigestMerge`` read-side analogue): the stored array is
    the k (id-hash, value) pairs with smallest hashes, i.e. a uniform
    row sample, so the q-quantile is the nearest-rank element of the
    sampled VALUES.  Rank error is O(√(q(1-q)/k)) (Cohen & Kaplan 2007
    bottom-k sketches); with the default k=512 that is ~2.2σ=5% around
    the median, and the md5-derived hash makes every estimate
    DETERMINISTIC for a given dataset.  Pure column expression — no
    reshuffle to read the stored state."""
    if not 0.0 < q <= 1.0:
        raise ValueError(f"q must be in (0, 1], got {q}")
    c = F.col(sketch_col) if isinstance(sketch_col, str) else sketch_col
    vals = F.array_sort(F.transform(c, lambda x: x["v"]))
    idx = F.greatest(
        F.ceil(F.lit(float(q)) * F.size(vals).cast("double")).cast("int"),
        F.lit(1),
    )
    return F.element_at(vals, idx)


def bottom_k(arrays, k: int | None, distinct: bool = True):
    """The ``k`` smallest elements of the union of ``arrays`` (an array of
    arrays, e.g. a ``collect_list`` of partial states), sorted — the level-2
    merge of every bottom-k state here (KMV hashes, rank samples,
    ``uniqUpTo`` values) and of the aggregating sink's array states.
    ``distinct=False`` keeps duplicates (a sorted multiset); ``k=None``
    keeps every element."""
    flat = F.flatten(arrays)
    out = F.array_sort(F.array_distinct(flat) if distinct else flat)
    return out if k is None else F.slice(out, 1, k)


def qsample_sketch(
    items: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
    k: int = 512,
    n_partials: int = 64,
) -> DataFrame:
    """Batch-side bottom-k rank-sample quantile sketch per group →
    ``(group, qsketch)`` — the batch twin of the aggregating sink's
    ``qsample:<id_col>`` state column, same array layout (sorted
    (id-hash, value) structs), so stored stream states and batch sketches
    MERGE with each other (Cohen & Kaplan 2007: bottom-k sketches
    compose under union).  The CH ``quantileTDigest(q)(col)`` batch
    slot; read with :func:`qsample_quantile_expr`.

    Scale shape mirrors ``kmv_sketch``: level 1 groups by (group,
    hash % n_partials) and keeps each bucket's k smallest pairs, so no
    level ever holds a group's full row universe; level 2 is one
    flatten+sort+slice over ≤ n_partials·k structs per group."""
    h = kmv_hash_expr(id_col)
    pair = F.struct(h.alias("h"), F.col(value_col).cast("double").alias("v"))
    lvl1 = (
        items.select(F.col(group_col).alias("grp"), pair.alias("p"))
        .groupBy("grp", (F.col("p.h") % n_partials).alias("__b"))
        .agg(F.slice(F.array_sort(F.collect_set("p")), 1, k).alias("part"))
    )
    return (
        lvl1.groupBy("grp")
        .agg(bottom_k(F.collect_list("part"), k).alias("qsketch"))
        .select(F.col("grp").alias(group_col), "qsketch")
    )


def kmv_sketch(
    items: DataFrame,
    group_col: str,
    item_col: str,
    k: int = 256,
    n_partials: int = 64,
) -> DataFrame:
    """K-Minimum-Values distinct sketch per group → ``(group, sketch)``
    where ``sketch`` is the sorted array of the K smallest md5-derived
    item hashes — the mergeable theta-sketch family (Beyer et al. 2007,
    "On Synopses for Distinct-Value Estimation Under Multiset
    Operations", public paper; the ClickHouse ``uniqCombined`` /
    DataSketches territory).  Unlike HLL, KMV sketches support SET
    ALGEBRA: union = K smallest of concatenated sketches, and Jaccard
    between two groups is estimated from sketch intersections alone
    (:func:`kmv_jaccard`).

    Scale shape — bounded state at every level: level 1 groups by
    ``(group, hash % n_partials)`` and keeps each bucket's K smallest
    (collect_set state is bucket-local and immediately sliced); level 2
    merges the ≤ n_partials×K values per group with one
    flatten+sort+slice.  No level ever holds a group's full distinct
    universe.  The hash is the md5-prefix idiom every oracle reproduces
    (``('0x'||substr(md5(item),1,15))::BIGINT``)."""
    h = kmv_hash_expr(item_col)
    lvl1 = (
        items.select(F.col(group_col).alias("grp"), h.alias("h"))
        .groupBy("grp", (F.col("h") % n_partials).alias("__b"))
        .agg(F.slice(F.array_sort(F.collect_set("h")), 1, k).alias("part"))
    )
    return (
        lvl1.groupBy("grp")
        .agg(bottom_k(F.collect_list("part"), k, distinct=False).alias("sketch"))
        .select(F.col("grp").alias(group_col), "sketch")
    )


def uniq_upto(
    items: DataFrame,
    group_col: str,
    item_col: str,
    n: int = 100,
    n_partials: int = 64,
) -> DataFrame:
    """The ClickHouse ``uniqUpTo(N)(col)`` aggregate: EXACT distinct count
    per group while it is ≤ N, else N+1 — the bounded-state way to ask
    "are there more than N distinct?" without paying full countDistinct
    at unbounded cardinality.

    Exactness with bounded state: the N+1 SMALLEST distinct values of a
    group are the sorted-slice of the union of each partial's N+1
    smallest (the same order-statistics algebra as the KMV sketch, but
    over the VALUES themselves, so the answer is exact — no hash
    collisions in play).  Level 1 buckets by value hash (bucket-local
    collect_set sliced immediately); level 2 is one flatten+sort+slice
    over ≤ n_partials·(N+1) values per group.  Result column ``u`` =
    min(true distinct, N+1)."""
    lvl1 = (
        items.select(F.col(group_col).alias("grp"), F.col(item_col).alias("it"))
        .groupBy("grp", (kmv_hash_expr("it") % n_partials).alias("__b"))
        .agg(F.slice(F.array_sort(F.collect_set("it")), 1, n + 1).alias("part"))
    )
    return (
        lvl1.groupBy("grp")
        .agg(F.size(bottom_k(F.collect_list("part"), n + 1)).cast("long").alias("u"))
        .select(F.col("grp").alias(group_col), "u")
    )


def kmv_jaccard(sketches: DataFrame, group_col: str, k: int = 256) -> DataFrame:
    """Pairwise Jaccard estimates between every two groups' KMV sketches
    → (group_a, group_b, est_jaccard).  Standard KMV estimator: take the
    K smallest of the UNION of both sketches, and count how many of those
    appear in BOTH — |A∩B∩U_K| / |U_K|.  Pure array expressions over the
    (tiny, group-count-sized) sketch table; the pair join is group×group,
    never data-sized."""
    a = sketches.select(
        F.col(group_col).alias("group_a"), F.col("sketch").alias("sa")
    )
    b = sketches.select(
        F.col(group_col).alias("group_b"), F.col("sketch").alias("sb")
    )
    pairs = a.join(b, F.col("group_a") < F.col("group_b"))
    uk = F.slice(F.array_sort(F.array_union("sa", "sb")), 1, k)
    inter = F.size(F.array_intersect(uk, F.array_intersect("sa", "sb")))
    return pairs.select(
        "group_a",
        "group_b",
        F.round(inter / F.size(uk), 6).alias("est_jaccard"),
    )


def kmv_set_ops(sketches: DataFrame, group_col: str, k: int = 256) -> DataFrame:
    """Pairwise SET-OPERATION estimates from KMV sketches — the full
    multiset algebra Beyer et al. 2007 §4 defines and the theta-sketch
    family (DataSketches) ships: for groups A < B,

    * ``est_a`` / ``est_b``   — per-group distinct estimates,
    * ``est_union``           — estimate of the K-smallest-of-union
      sketch (itself a valid KMV sketch of A∪B),
    * ``est_intersect``       — ĵ · est_union with ĵ the KMV Jaccard
      (|A∩B∩U_K| / |U_K|) — the standard composition,
    * ``est_diff_a``          — est_a − est_intersect (A\\B).

    Everything is derived from the deterministic md5-keyed sketches, so
    the estimates themselves are exact reproducible values (full-value
    oracle material), and sub-k sketches collapse to EXACT set algebra.
    Pure array expressions over the group-count-sized sketch table —
    the pair join is group×group, never data-sized."""
    a = sketches.select(
        F.col(group_col).alias("group_a"), F.col("sketch").alias("sa")
    )
    b = sketches.select(
        F.col(group_col).alias("group_b"), F.col("sketch").alias("sb")
    )
    pairs = a.join(b, F.col("group_a") < F.col("group_b"))
    uk = F.slice(F.array_sort(F.array_union("sa", "sb")), 1, k)
    est_a = kmv_estimate_expr("sa", k)
    est_b = kmv_estimate_expr("sb", k)
    est_u = kmv_estimate_expr(uk, k)
    jac = (
        F.size(F.array_intersect(uk, F.array_intersect("sa", "sb")))
        / F.size(uk)
    )
    est_i = jac * est_u
    return pairs.select(
        "group_a", "group_b",
        F.round(est_a, 4).alias("est_a"),
        F.round(est_b, 4).alias("est_b"),
        F.round(est_u, 4).alias("est_union"),
        F.round(est_i, 4).alias("est_intersect"),
        F.round(est_a - est_i, 4).alias("est_diff_a"),
    )


# --------------------------------------------------------------------------
# HyperLogLog (r10) — the ClickHouse ``uniqHLL12`` / dense-``uniqCombined``
# slot (reference surface: the same uniq-family aggregate positions as
# clickhouse.sql's rollups).  Algorithm: Flajolet, Fusy, Gandouet, Meunier
# 2007, "HyperLogLog: the analysis of a near-optimal cardinality estimation
# algorithm" (public paper), with the standard small-range linear-counting
# correction.  The hash is the shared md5-prefix idiom (kmv_hash_expr), so
# every register — and therefore every estimate — is DETERMINISTIC and
# exactly reproducible by the DuckDB oracles:
#
#     h      = ('0x'||substr(md5(item),1,15))::BIGINT        -- 60 bits
#     j      = h % m                                          -- register
#     suffix = h >> p                                         -- 60-p bits
#     rho    = (60-p)+1 - length(printf('%b', suffix))        -- suffix>0
#
# (Spark: F.bin; DuckDB: printf('%b',…) — both render 0 as '0', length 1,
# and the suffix==0 branch pins rho = W+1 explicitly in both engines.)
#
# Complement to KMV: KMV supports set algebra (Jaccard) but costs k×8
# bytes for σ=1/√k; HLL's register array reaches σ=1.04/√m with m bytes —
# the memory/accuracy trade CH resolves by shipping BOTH (uniqCombined
# switches representations).  Merge = element-wise max, associative +
# commutative + IDEMPOTENT, so the aggregating sink's state column is
# batch-boundary- and replay-order-insensitive.

#: default precision: 2^12 registers = CH ``uniqHLL12``'s dense mode
HLL_P = 12


def _hll_alpha(m: int) -> float:
    """Bias constant α_m from the HLL paper (§4, Theorem 1)."""
    if m >= 128:
        return 0.7213 / (1.0 + 1.079 / m)
    return {16: 0.673, 32: 0.697, 64: 0.709}.get(m, 0.7)


def hll_register_exprs(item_col: str, p: int = HLL_P):
    """Per-row ``(__j, __rho)`` column exprs: register index = low ``p``
    bits of the 60-bit md5-prefix hash, rho = leading-zero rank of the
    remaining ``W = 60-p`` bits (1..W+1)."""
    if not 4 <= p <= 18:
        raise ValueError(f"p must be in [4, 18], got {p}")
    m = 1 << p
    w = 60 - p
    h = kmv_hash_expr(item_col)
    suffix = F.shiftright(h, p)
    rho = (
        F.when(suffix == 0, F.lit(w + 1))
        .otherwise(F.lit(w + 1) - F.length(F.bin(suffix)))
        .cast("int")
    )
    return (h % m).cast("int").alias("__j"), rho.alias("__rho")


def hll_registers(
    items: DataFrame, group_col: str, item_col: str, p: int = HLL_P
) -> DataFrame:
    """Sparse register table per group → ``(group, __j, __rho)`` with one
    row per NONZERO register (max rho wins).  NULL items are ignored (CH
    ``uniq`` semantics).  Scale shape: one map-side-combined groupBy on
    (group, j) — state per reducer is bounded by m, never by the item
    universe; rows out ≤ groups × m."""
    j, rho = hll_register_exprs(item_col, p)
    return (
        items.filter(F.col(item_col).isNotNull())
        .select(F.col(group_col).alias("grp"), j, rho)
        .groupBy("grp", "__j")
        .agg(F.max("__rho").alias("__rho"))
    )


def hll_sketch(
    items: DataFrame, group_col: str, item_col: str, p: int = HLL_P
) -> DataFrame:
    """Dense HLL sketch per group → ``(group, hll)`` where ``hll`` is the
    m-slot register array (int, 0 = untouched) — the batch twin of the
    aggregating sink's ``hll:<col>`` state column: identical layout, so
    batch sketches and stored stream states MERGE with each other via
    :func:`hll_merge_expr`.  Two shuffles: (group, j) max-combine, then
    one densify per group over ≤ m collected entries."""
    return (
        hll_registers(items, group_col, item_col, p)
        .groupBy("grp")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("__j", "__rho"))
            ).alias("__hm")
        )
        .select(F.col("grp").alias(group_col), hll_dense_expr(F.col("__hm"), p).alias("hll"))
    )


def hll_dense_expr(registers, p: int = HLL_P):
    """The m-slot register array (0 = untouched) of a ``register → rho``
    map column: the one densify of :func:`hll_sketch` and the aggregating
    sink's ``hll`` state."""
    return F.transform(
        F.sequence(F.lit(0), F.lit((1 << p) - 1)),
        lambda i: F.coalesce(F.element_at(registers, i), F.lit(0)),
    )


def hll_merge_expr(a, b):
    """Union of two dense HLL register arrays = element-wise max (the
    idempotent lattice join that makes replay/batch-splits harmless)."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    return F.zip_with(ca, cb, lambda x, y: F.greatest(x, y))


def hll_estimate_expr(sketch_col, p: int = HLL_P):
    """Cardinality estimate from a dense register array — pure column
    expression (usable directly on the sink's stored state, no reshuffle).
    Raw estimator E = α_m·m²/Σ2^(−rho) (untouched registers contribute
    2^0); small-range correction: if E ≤ 2.5m and any register is zero,
    E = m·ln(m/V) (linear counting).  Relative σ ≈ 1.04/√m.  The 60-bit
    hash space makes the large-range correction irrelevant at any
    realistic cardinality."""
    m = 1 << p
    alpha = _hll_alpha(m)
    c = F.col(sketch_col) if isinstance(sketch_col, str) else sketch_col
    zeros = F.size(F.filter(c, lambda x: x == 0))
    s = zeros.cast("double") + F.aggregate(
        F.filter(c, lambda x: x > 0),
        F.lit(0.0),
        lambda acc, x: acc + F.pow(F.lit(2.0), -x.cast("double")),
    )
    raw = F.lit(alpha * m * m) / s
    lin = F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double"))
    return F.when((raw <= 2.5 * m) & (zeros > 0), lin).otherwise(raw)


# ---------------------------------------------------------------------------
# Count-Min sketch (r15) — Cormode & Muthukrishnan 2005: the frequency
# sketch completing the family next to KMV (distinct), HLL (distinct at
# scale), q-sample (quantiles), Space-Saving (top-k) and bitmaps (set
# algebra).  d rows × w counters; est(x) = min_j cell[j][h_j(x)] —
# never an underestimate, over by ≤ εN (ε = e/w) with prob 1-δ
# (δ = e^-d).  The cell table is a MERGEABLE algebra (cells add), so it
# serves the same streaming-state role as the other sketches.
# ---------------------------------------------------------------------------

CMS_W = 256  #: counters per row — fixed so oracles replay the layout
CMS_D = 3    #: hash rows (double hashing, the Bloom operator's recipe)


def _cms_positions(item_col, w: int = CMS_W, d: int = CMS_D):
    """The d (row, pos) cells of an item — md5-portable double hashing
    (two disjoint 60-bit md5 prefixes; DuckDB replays as
    ``('0x'||substr(md5(x),1,15))::BIGINT``)."""
    c = F.col(item_col) if isinstance(item_col, str) else item_col
    md5 = F.md5(c.cast("string"))
    h1 = F.conv(F.substring(md5, 1, 15), 16, 10).cast("long")
    h2 = F.conv(F.substring(md5, 16, 15), 16, 10).cast("long")
    return F.array(*[
        F.struct(F.lit(j).alias("row"),
                 ((h1 + F.lit(j) * h2) % w).alias("pos"))
        for j in range(d)
    ])


def countmin_cells(df: DataFrame, item_col: str,
                   w: int = CMS_W, d: int = CMS_D) -> DataFrame:
    """Build the CMS cell table (row, pos, c) from an item stream: one
    explode (map-only, d structs per row) + ONE hash aggregate on the
    (row, pos) key — what shuffles is bounded by d·w per task
    (map-side combine), never by the stream.  ≤ d·w rows out,
    broadcastable at any corpus size: that bound IS the sketch."""
    pos = df.select(F.explode(_cms_positions(item_col, w, d)).alias("p"))
    return (
        pos.groupBy(F.col("p.row").alias("row"), F.col("p.pos").alias("pos"))
        .agg(F.count(F.lit(1)).alias("c"))
    )


def countmin_estimate(cells: DataFrame, items: DataFrame, item_col: str,
                      w: int = CMS_W, d: int = CMS_D) -> DataFrame:
    """Point-frequency estimates for ``items``: explode each item's d
    cells, join the BROADCAST cell table, take the row-wise min —
    the textbook query, distributed as a map-only probe (an absent
    cell reads as 0, which can only happen for an item the build never
    saw)."""
    probe = items.select(
        item_col, F.explode(_cms_positions(item_col, w, d)).alias("p")
    ).select(item_col, F.col("p.row").alias("row"), F.col("p.pos").alias("pos"))
    return (
        probe.join(F.broadcast(cells), ["row", "pos"], "left")
        .groupBy(item_col)
        .agg(F.min(F.coalesce(F.col("c"), F.lit(0))).alias("cms_est"))
    )
