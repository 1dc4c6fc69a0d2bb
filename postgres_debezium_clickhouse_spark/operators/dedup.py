"""Deduplication suite for large-scale training-data pipelines.

Not present in the reference (it has no document corpus), but a first-class
engine component for the 100 TB target: exact dedup, MinHash+LSH banded
near-dup, SimHash, n-gram Jaccard, dup clusters.  The corpus-sized
operators are pure DataFrame expressions (JVM-side, whole-stage codegen) —
no Python UDFs — and every hash is md5-based so the DuckDB correctness
oracles can reproduce results bit-for-bit.  The one Python kernel is
``connected_components`` over a pair list that fits one task.

Scale design:
- NO all-pairs crossJoin anywhere.  Candidate generation is banded LSH:
  explode (band_index, band_key) → self-join on the band key → distinct
  pairs.  Shuffle cost is O(docs × bands), join fan-out is bounded by
  bucket size (near-dup clusters), never O(n²).
- Exact-verification (Jaccard) runs only on the candidate pairs.
- SimHash is linear: explode tokens×bits, two grouped aggregations.
- Builders run no Spark job: candidate pairs, clusters and keep-lists are
  lazy plans, so constructing a query pins no storage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: LSH parameters: 4 bands × 2 rows = 8 MinHash functions.  For the target
#: near-dup threshold j≈0.8 the detect probability is 1-(1-j²)⁴ ≈ 0.996.
N_BANDS = 4
ROWS_PER_BAND = 2

#: 60-bit portable hash: md5 hex prefix → bigint (reproducible in any SQL
#: engine; Spark's xxhash64/hash are not portable to DuckDB).
SIMHASH_BITS = 60


def spread_for_compute(df: DataFrame, size_threshold: int = 4 << 30,
                       rows_per_task: int | None = None) -> DataFrame:
    """Fan a small scan out to the cluster's parallelism before a
    CPU-bound stage.

    A small parquet file scans as 1-2 tasks, and AQE's byte-based
    coalescing keeps it that narrow — correct for I/O, wrong for the
    md5-per-shingle compute that follows (measured 1 task doing 100% of
    the hashing on local[32]).

    The partition COUNT alone is not a safe guard: Spark splits a parquet
    file into byte ranges, but a row group belongs to the split holding
    its midpoint — a file with one huge row group scans as N splits of
    which N−1 are EMPTY, so the count looks parallel while one task does
    all the work (caught by the r12 sf1 scaling decade: the 40-gram build
    collapsed to 1.6 effective cores, 27× wall on 10× data).  So inputs
    whose optimizer-estimated size is under ``size_threshold`` are
    repartitioned unconditionally: shuffling ≤4 GB costs seconds, while a
    hollow-split parallelism collapse on a per-char CPU stage costs the
    core count.  Above the threshold the scan's partitioning is trusted —
    at 100 TB real writers cap row groups (~128 MB), so splits are
    genuinely parallel and a full-corpus shuffle must not be added.

    ``rows_per_task`` (r19-opt, VERDICT r18 item 6) — the rows-aware
    target for LIGHT per-row work: tiny-blob walks (exif/subtitles/gzip
    class, measured ≲0.05 ms of Python per blob) pay more in per-task
    dispatch than they win in parallelism when every task holds only a
    handful of rows (measured: a 32-task mapInPandas stage floors at
    ~0.25 s on local[32] where an 8-task one floors at ~0.06 s).
    Callers that know their per-row cost pass the row count that
    amortizes one task's dispatch; the target becomes
    ``clamp(est_rows / rows_per_task, 1, defaultParallelism)`` — still
    scale-adaptive (10× the rows ⇒ 10× the tasks until the core cap),
    still hollow-split-safe (the repartition fires whenever target > 1;
    at target == 1 the work is one task's either way).  Row count is
    estimated from the optimizer's size estimate at ~24 bytes/row — the
    single-key seed projections this is used for all estimate 22-25 B/row
    (measured across the parquet fixtures); the estimate only steers task
    COUNT, so a miss costs overhead, never correctness.

    Streaming frames pass through untouched: micro-batch partitioning is
    the source's (maxFilesPerTrigger-bounded, already parallel), the
    stream gates are plan-pinned zero-shuffle, and the stats/.rdd probes
    below are illegal on an unstarted streaming plan (AnalysisException:
    "must be executed with writeStream.start()")."""
    if df.isStreaming:
        return df
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    size = _plan_bytes(df._jdf.queryExecution().optimizedPlan())
    if size is not None and size < size_threshold:
        if rows_per_task is not None:
            est_rows = max(1, size // 24)
            target = min(target, -(-est_rows // rows_per_task))
            if target <= 1:
                return df
        return df.repartition(target)
    if df.rdd.getNumPartitions() < max(2, target // 2):
        return df.repartition(target)
    return df


def _plan_bytes(plan) -> int | None:
    """The optimizer's size estimate of a logical plan node, in bytes (no
    Spark job); None when the node has no estimate."""
    try:
        return int(plan.stats().sizeInBytes())
    except Exception:
        return None


def _fits_one_task(df: DataFrame) -> bool:
    """True when ``df``'s inputs are small enough for one task: the summed
    size estimates of the optimized plan's LEAF relations are at most the
    session's ``spark.sql.autoBroadcastJoinThreshold`` (≤ 0: never).  The
    leaves, not ``df`` itself: a self-join's size-only estimate multiplies
    its sides (the LSH pair list of 25 rows estimates at ~10¹⁷ bytes),
    while the data a single task would read is bounded by the scans.
    Leaves without an estimate (an RDD from a Python list) do not fit."""
    limit = df.sparkSession._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    if limit <= 0:
        return False
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    total = 0
    for i in range(leaves.size()):
        size = _plan_bytes(leaves.apply(i))
        if size is None:
            return False
        total += size
    return total <= limit


def normalize_text(col: str = "text") -> F.Column:
    """Canonical form used by exact dedup: lowercase + trim."""
    return F.lower(F.trim(F.col(col)))


def exact_dedup(documents: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup by content hash: keep the smallest id per normalized
    sha2-256 group.  One hash-shuffle on the digest — the canonical
    map-side-combinable groupBy; at 100 TB the digest groupBy is the only
    wide stage and AQE balances it."""
    h = F.sha2(normalize_text(text_col), 256)
    return (
        documents.select(F.col(id_col), h.alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col, "text_hash")
    )


def with_shingles(documents: DataFrame, text_col: str = "text", k: int = 3) -> DataFrame:
    """Word k-gram shingle sets (distinct), the unit of near-dup similarity."""
    # guard the short-doc case explicitly: sequence(1, 0) steps BACKWARD
    # ([1, 0]) and slice(_, 0, k) throws — a doc with fewer than k tokens
    # simply has no k-shingles (surfaced by the k=13 decontam path, r9)
    return documents.withColumn("__tk", F.split(F.col(text_col), " ")).withColumn(
        "shingles",
        F.expr(
            f"if(size(__tk) < {k}, array(),"
            f" array_distinct(transform(sequence(1, size(__tk) - {k - 1}),"
            f" i -> concat_ws(' ', slice(__tk, i, {k})))))"
        ),
    ).drop("__tk")


#: Affine MinHash family over ONE md5 base hash per shingle (r6 — was
#: md5 per permutation, an 8× hashing overcharge): h(s) = first 32 md5
#: bits reduced mod p; sig_i = min over shingles of (a_i·h + b_i) mod p
#: with p = 2³¹-1 (Mersenne).  The modulus must be COMPARABLE to the hash
#: domain so the map actually wraps — with a too-large p the affine map
#: is order-preserving, every "permutation" picks the same minimal-hash
#: shingle, and 4-band LSH silently collapses to a single MinHash trial
#: (r6 review finding; regression-tested below).  a_i ∈ [1, p-1],
#: h < p ⇒ products < 2⁶² — no signed-64 overflow in Spark OR DuckDB, so
#: the family stays oracle-portable.  Constants derive from md5(i) so
#: both engines regenerate together.
MINHASH_PRIME = (1 << 31) - 1
import hashlib as _hashlib  # noqa: E402

MINHASH_PERMS = [
    (
        int(_hashlib.md5(f"a{i}".encode()).hexdigest()[:12], 16) % (MINHASH_PRIME - 1) + 1,
        int(_hashlib.md5(f"b{i}".encode()).hexdigest()[:12], 16) % MINHASH_PRIME,
    )
    for i in range(N_BANDS * ROWS_PER_BAND)
]


def minhash_signature(shingled: DataFrame) -> DataFrame:
    """MinHash signatures: ONE portable base hash per shingle
    (``int(md5(s)[:8], 16)``), then each of the 8 permutations is pure
    arithmetic ``(a_i·h + b_i) mod p`` — a universal-hash family, valid
    for MinHash, and 8× cheaper than hashing per permutation.  All ops
    reproduce bit-for-bit in the DuckDB oracle (unlike Spark's native
    hash/xxhash64)."""
    base = (
        "transform(shingles, s -> cast(conv(substring(md5(s), 1, 8), 16, 10) as bigint)"
        f" % {MINHASH_PRIME}L)"
    )
    sigs = [
        F.expr(
            f"array_min(transform(__hs, h -> ({a}L * h + {b}L) % {MINHASH_PRIME}L))"
        ).alias(f"sig_{i}")
        for i, (a, b) in enumerate(MINHASH_PERMS)
    ]
    return shingled.withColumn("__hs", F.expr(base)).select("*", *sigs).drop("__hs")


def lsh_band_keys(signed: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, b, bkey) band-key rows from a MinHash-signed frame — the
    joinable LSH index unit, shared by the batch self-join
    (``lsh_candidate_pairs``) and the streaming stream-static near-dup
    gate (``stream_neardup_gate``: corpus band keys precomputed once, new
    docs probe them per trigger)."""
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("b"),
                # '|'-separated so integer sigs can't collide by digit
                # regrouping (concat(12,345) vs concat(123,45))
                F.concat_ws(
                    "|",
                    *[F.col(f"sig_{b * ROWS_PER_BAND + r}").cast("string")
                      for r in range(ROWS_PER_BAND)],
                ).alias("bkey"),
            )
            for b in range(N_BANDS)
        ]
    )
    return (
        signed.select(F.col(id_col), F.explode(bands).alias("band"))
        .select(id_col, F.col("band.b").alias("b"), F.col("band.bkey").alias("bkey"))
    )


def lsh_candidate_pairs(
    documents: DataFrame,
    id_col: str = "doc_id",
    shingled: DataFrame | None = None,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Banded-LSH candidate pairs: docs sharing at least one band key.

    Plan: explode to (doc, band_index, band_key) → shuffle on band_key →
    self-equi-join → distinct pairs.  Never an all-pairs product.
    Pass a pre-computed (possibly persisted) ``shingled`` DF to avoid
    recomputing the shingle arrays.

    Worst-case bound: a degenerate band bucket (k mass-identical docs —
    boilerplate, scraped nav pages — all sharing one band key) would fan
    out k²/2 pairs inside the self-join.  Buckets larger than
    ``max_bucket_size`` are therefore salted into ⌈k/cap⌉ md5 sub-buckets
    before the join, bounding the fan-out at ~k·cap/2 (linear in k).
    Within-sub-bucket pairs are still emitted, so recall loss applies only
    across sub-buckets of degenerate buckets — whose members are near- or
    exact-identical and already collapsed by ``exact_dedup``.  The bucket
    census is a count-only window over the band-key shuffle (no ordering,
    no second signature computation; Spark spills oversized window
    partitions).  The salt is md5-derived, so oracles reproduce it, though
    fixture-scale buckets never exceed the default cap."""
    signed = minhash_signature(shingled if shingled is not None else with_shingles(documents))
    exploded = lsh_band_keys(signed, id_col)
    bucket_n = F.count(F.lit(1)).over(Window.partitionBy("b", "bkey"))
    n_sub = F.ceil(bucket_n / max_bucket_size)
    h16 = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 4), 16, 10)
    capped = exploded.withColumn(
        "__salt",
        F.when(bucket_n <= max_bucket_size, F.lit(0)).otherwise(h16.cast("long") % n_sub),
    )
    # both self-join sides reference this frame lazily: the census window's
    # exchange runs once and the second side reads it as a ReusedExchange
    # (pinned in tests/test_dedup.py), so no build-time checkpoint job
    left = capped.alias("l")
    right = capped.alias("r")
    return (
        left.join(
            right,
            (F.col("l.b") == F.col("r.b"))
            & (F.col("l.bkey") == F.col("r.bkey"))
            & (F.col("l.__salt") == F.col("r.__salt"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(F.col(f"l.{id_col}").alias("doc_a"), F.col(f"r.{id_col}").alias("doc_b"))
        .distinct()
    )


def jaccard_on_pairs(pairs: DataFrame, shingled: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Exact shingle-set Jaccard for given (doc_a, doc_b) pairs."""
    sh = shingled.select(F.col(id_col), F.col("shingles"))
    a = sh.withColumnRenamed(id_col, "doc_a").withColumnRenamed("shingles", "sh_a")
    b = sh.withColumnRenamed(id_col, "doc_b").withColumnRenamed("shingles", "sh_b")
    jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(F.array_union("sh_a", "sh_b"))
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


def minhash_lsh_near_dups(
    documents: DataFrame, threshold: float = 0.8, id_col: str = "doc_id", persist: bool = False
) -> DataFrame:
    """Full near-dup pipeline: LSH candidates → exact Jaccard ≥ threshold.

    The shingle arrays feed THREE plan branches (signatures + both join
    sides of the verification); ``persist=True`` materializes them once
    (MEMORY_AND_DISK) instead of recomputing the split/transform per branch
    — worth it only when the pairs are read more than once; a single
    read (``connected_components`` on either path) recomputes the cheap
    split instead of pinning storage.  Callers own the unpersist (or
    let it age out)."""
    shingled = with_shingles(spread_for_compute(documents))
    if persist:
        shingled = shingled.persist()
    cands = lsh_candidate_pairs(documents, id_col, shingled=shingled)
    return jaccard_on_pairs(cands, shingled, id_col).filter(F.col("jaccard") >= threshold)


def connected_components(
    pairs: DataFrame, src: str = "doc_a", dst: str = "doc_b", max_iter: int = 25
) -> DataFrame:
    """Connected components over an undirected pair set → (node, component),
    component = the MIN node id reachable from the node (deterministic,
    independent of edge order).

    The step after near-dup pair generation in a training-data pipeline:
    transitively-linked documents form ONE dup cluster, and the keep-list is
    one canonical doc per component — pairwise drop-either-end would both
    over- and under-delete.

    When the pair frame's inputs fit one task (``_fits_one_task``: the
    optimizer's leaf-scan estimates, no job), the pairs are repartitioned
    into ONE task and labelled by a union-find ``mapInPandas`` whose root
    is always the smaller id — one lazy single-task stage, any diameter (a
    10 000-link chain is one pass), nothing run or pinned at build time.  The labels
    are no bigger than that task's state, so they come back with a
    broadcast hint for the join that attaches them.  Otherwise the
    distributed ``connected_components_star`` runs with ``max_iter``
    (O(log² n) rounds, raising ``RuntimeError`` when it does not
    converge).  Either way ids keep their input dtype; rows with a null
    endpoint carry no edge."""
    if not _fits_one_task(pairs):
        return connected_components_star(pairs, src, dst, max_iter)
    dtype = pairs.select(F.coalesce(src, dst)).schema[0].dataType  # the wider id type
    e = pairs.select(F.col(src).cast(dtype).alias("a"), F.col(dst).cast(dtype).alias("b"))
    schema = T.StructType(
        [T.StructField("node", dtype), T.StructField("component", dtype)]
    )

    def label(batches):
        import pandas as pd

        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:
                parent[x], x = root, parent[x]
            return root

        for pdf in batches:
            for a, b in zip(pdf["a"].tolist(), pdf["b"].tolist()):
                ra, rb = find(parent.setdefault(a, a)), find(parent.setdefault(b, b))
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
        nodes = list(parent)
        yield pd.DataFrame({"node": nodes, "component": [find(n) for n in nodes]})

    return F.broadcast(e.dropna().repartition(1).mapInPandas(label, schema))


def connected_components_star(
    pairs: DataFrame, src: str = "doc_a", dst: str = "doc_b", max_iter: int = 50
) -> DataFrame:
    """Connected components by alternating large-star / small-star rounds
    (Kiveris et al. 2014, "Connected Components in MapReduce and Beyond",
    public paper) → (node, component), component = min reachable node id —
    the SAME contract as ``connected_components``.

    The distributed path of ``connected_components``, for pair lists too
    big for one task.  Star contraction converges in O(log² n) rounds
    REGARDLESS of diameter (label propagation needs diameter rounds: a
    10 000-link chain = 10 000 shuffle rounds) by repeatedly rewiring
    every node to the minimum of its neighborhood:

    - large-star: every node's strictly-LARGER neighbors re-attach to the
      minimum of its closed neighborhood (keeps big ids falling toward
      component minima without ever detaching them);
    - small-star: every node and its smaller-or-equal neighbors re-attach
      to that minimum (contracts the local star).

    Each phase is one groupBy + one join on the node key; edges are kept
    directed ``(hi, lo)`` so both phases stay single-shuffle.  The pairs
    are checkpointed once up front (nodes and edges both read them), and
    lineage is truncated per round (eager localCheckpoint); convergence =
    the edge set reaches a fixpoint (scalar ``exceptAll().count()``, never a
    collect).  At the fixpoint the graph is a forest of stars centered at
    component minima, so the label map is one final groupBy-min.  No
    fixpoint within ``max_iter`` rounds raises ``RuntimeError``."""
    # the pairs are read ONCE: nodes and edges both come from this
    # checkpoint, so a lazy pair plan (LSH + verification) runs one time
    e = pairs.select(F.col(src).alias("a"), F.col(dst).alias("b")).localCheckpoint(
        eager=True
    )
    nodes = e.select(F.col("a").alias("node")).union(e.select("b")).distinct()
    # directed invariant: hi > lo
    edges = (
        e.filter(F.col("a") != F.col("b"))
        .select(F.greatest("a", "b").alias("hi"), F.least("a", "b").alias("lo"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        # ---- large-star over the symmetric view: neighbors v > u attach
        # to m(u) = min(closed neighborhood of u)
        sym = edges.select(F.col("hi").alias("u"), F.col("lo").alias("v")).union(
            edges.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
        )
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mv"))
            .select("u", F.least("u", "mv").alias("m"))
        )
        large = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            # v > u ≥ m ⇒ the (hi, lo) invariant holds by construction
            .select(F.col("v").alias("hi"), F.col("m").alias("lo"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        # ---- small-star over directed edges: each hi and its lo-neighbors
        # attach to m(hi) = min of those neighbors
        smins = large.groupBy("hi").agg(F.min("lo").alias("m"))
        att = large.join(smins, "hi").select(F.col("lo").alias("x"), F.col("m"))
        self_att = smins.select(F.col("hi").alias("x"), F.col("m"))
        new_edges = (
            att.union(self_att)
            .filter(F.col("x") != F.col("m"))
            .select(F.col("x").alias("hi"), F.col("m").alias("lo"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        changed = new_edges.exceptAll(edges).count()
        edges = new_edges
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iter} "
            "rounds — refusing to return partial labels"
        )
    labels = edges.groupBy("hi").agg(F.min("lo").alias("component"))
    return nodes.join(
        labels.withColumnRenamed("hi", "node"), "node", "left"
    ).select("node", F.coalesce("component", "node").alias("component"))


def cluster_representatives(
    assignment: DataFrame,
    documents: DataFrame,
    id_col: str = "doc_id",
    quality_col: str = "n_chars",
) -> DataFrame:
    """Keep-list selection over a dup-cluster assignment: for every
    ``canonical_id`` cluster, mark ONE representative — the member with the
    highest ``quality_col`` (ties → lowest id).  This is the curation
    policy min-id canonical labeling deliberately does not encode: the doc
    you KEEP should be the best one (longest, highest quality score), not
    whichever happened to get the smallest id.  Emits the full corpus
    (singletons are their own representative) with cluster size and the
    ``is_rep`` keep flag.

    Scale: one broadcast-or-shuffle join to attach the quality column, then
    one window per cluster (clusters are near-dup groups — tiny partitions)
    — no state beyond the assignment itself."""
    joined = assignment.join(documents.select(F.col(id_col), F.col(quality_col)), id_col)
    by_cluster = Window.partitionBy("canonical_id")
    rank = Window.partitionBy("canonical_id").orderBy(
        F.col(quality_col).desc(), F.col(id_col).asc()
    )
    return joined.select(
        F.col(id_col),
        F.col("canonical_id"),
        F.count(F.lit(1)).over(by_cluster).alias("n_members"),
        (F.row_number().over(rank) == 1).alias("is_rep"),
    )


def simhash(documents: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """60-bit SimHash over distinct tokens.

    bit_i(simhash) = majority over tokens of bit_i(md5₆₀(token)).
    Linear plan: explode tokens → explode bit positions → two grouped sums.
    Integer-only math ⇒ exact parity with the SQL oracle.
    """
    # r6: fully map-only — the old plan exploded 60 bit-rows per token
    # through a (doc, bit) shuffle; the bit majorities are computable
    # inside one row from the token-hash array (strict majority via
    # 2·#set > n, identical to the old contrib-sum > 0 rule), so the
    # whole operator is now a projection: zero shuffles, zero explodes.
    hvs = (
        f"transform(array_distinct(split({text_col}, ' ')), "
        "t -> cast(conv(substring(md5(t), 1, 15), 16, 10) as bigint))"
    )
    sim = (
        f"aggregate(sequence(0, {SIMHASH_BITS - 1}), cast(0 as bigint), (acc, i) -> "
        "acc + IF(2 * size(filter(__hvs, h -> ((h >> i) & 1) = 1)) > size(__hvs), "
        "shiftleft(cast(1 as bigint), i), cast(0 as bigint)))"
    )
    return (
        spread_for_compute(documents)
        # NULL text must stay absent from the output (the old explode plan
        # dropped it implicitly; without this filter the map-only plan
        # would emit simhash = 0 and cluster all NULL docs as near-dups)
        .filter(F.col(text_col).isNotNull())
        .withColumn("__hvs", F.expr(hvs))
        .select(F.col(id_col), F.expr(sim).alias("simhash"))
    )


def ngram_jaccard_blocked(
    documents: DataFrame, block_expr: F.Column, threshold: float = 0.0, id_col: str = "doc_id"
) -> DataFrame:
    """Blocked n-gram Jaccard similarity join: all pairs WITHIN a block
    (never across), the classic bounded-blocking strategy when a natural
    partition key exists.  Shuffles on the block key; fan-out is bounded by
    block size.

    The join payload is the xxhash64 of each shingle, not the string
    (r13 verdict #4, same idiom as ``_gram_positions``): the block
    self-join shuffles 8-byte longs per shingle instead of ~3-word
    strings — intersection/union CARDINALITIES (all the math uses) are
    preserved under the hash modulo n²/2⁶⁴ collisions, the same class
    of assumption as the md5-keyed sketches."""
    sh = with_shingles(documents).select(
        F.col(id_col), block_expr.alias("blk"),
        F.expr("transform(shingles, s -> xxhash64(s))").alias("shingles"),
    )
    a = sh.select(F.col(id_col).alias("doc_a"), F.col("blk"), F.col("shingles").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("doc_b"), F.col("blk"), F.col("shingles").alias("sh_b"))
    jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(F.array_union("sh_a", "sh_b"))
    return (
        a.join(b, "blk")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def incremental_dedup(
    new_docs: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_broadcast_hashes: int = 1_000_000,
) -> DataFrame:
    """Delta dedup — the shape a continuously-ingesting pipeline actually
    runs: dedup a NEW batch against itself and against the existing corpus
    WITHOUT re-hashing or shuffling the corpus-sized side into a join.

    Plan: (1) hash the batch; (2) scan the corpus ONCE, map-side
    semi-filtered by the broadcast batch hash set — only colliding corpus
    hashes (a batch-bounded set) survive; (3) anti-join the batch against
    that small set (broadcast again) and keep the min-id row per remaining
    hash.  Corpus cost is one map-side-filtered scan; both joins broadcast
    batch-sized sets — nothing corpus-sized ever shuffles.  (Persisting
    corpus hashes once and bucketing them by digest makes step 2 a pruned
    scan at 100 TB.)

    A backfill-sized "new batch" (more than ``max_broadcast_hashes``
    distinct hashes) falls back to plain shuffle joins instead of
    broadcasting — the same size-aware guard as ``apply_cdc``.

    Returns the surviving new rows as (id, text_hash), min id per hash."""
    h = F.sha2(normalize_text(text_col), 256)
    batch = new_docs.select(F.col(id_col), h.alias("text_hash"))
    batch_hashes = batch.select("text_hash").distinct()
    small = bool(max_broadcast_hashes) and batch_hashes.count() <= max_broadcast_hashes
    hits = (
        corpus.select(h.alias("text_hash"))
        .join(F.broadcast(batch_hashes) if small else batch_hashes, "text_hash", "left_semi")
        .distinct()
    )
    return (
        batch.join(F.broadcast(hits) if small else hits, "text_hash", "left_anti")
        .groupBy("text_hash")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col, "text_hash")
    )


def _gram_positions(
    documents: DataFrame, id_col: str, text_col: str, min_len: int
) -> DataFrame:
    """(id, p, h): every 1-based position's ``min_len``-char gram as an
    xxhash64 LONG — hashed inside the gram-building transform, so neither
    the exploded rows nor the downstream shuffles ever carry the gram
    strings (8 bytes per position instead of min_len chars — a ~5× cut
    on the one corpus-sized shuffle, measured 6.9s → see BASELINE.md).
    Collision risk is n²/2⁶⁴ across total corpus positions (≈5×10⁻⁸ at
    10⁹ grams) — the same class of assumption as the md5-keyed sketches;
    a collision can only mark one extra position duplicated.

    Execution shape (r18): explode the position sequence FIRST, then hash
    in a plain projection.  The old form hashed inside a ``transform``
    lambda; higher-order functions are interpreted (no whole-stage
    codegen), so every position paid boxed per-element expression eval.
    ``Generate(explode) → Project(xxhash64(substring))`` fuses into one
    codegen loop — bit-identical hashes (same xxhash64, seed 42), same
    rows.  Honest magnitude (r18 same-session A/B, JIT-converged floors
    at sf0.1): spans 11.09 → 10.46 CPU-s, removal 10.89 → 9.98 — a ~6%
    query-level win, NOT a large one: the queries are dominated by the
    40-byte substring copies + hash itself (identical in both forms) and
    the downstream shuffle/window, not by the lambda-eval overhead this
    removes.  The text column rides the Generate only inside the codegen
    stage (consumed by the projection, never shuffled)."""
    positions = F.expr(
        f"CASE WHEN length({text_col}) >= {min_len} "
        f"THEN sequence(1, length({text_col}) - {min_len} + 1) "
        f"ELSE array() END"
    )
    # the gram build is CPU-bound at ~|text| hashes per row — spread the
    # (often few-file) document scan across the cluster first
    return (
        spread_for_compute(documents)
        .select(F.col(id_col), F.col(text_col), F.explode(positions).alias("__p"))
        .select(
            F.col(id_col),
            F.col("__p").cast("long").alias("p"),
            F.expr(f"xxhash64(substring({text_col}, __p, {min_len}))").alias("h"),
        )
    )


def substring_duplication(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 40,
) -> DataFrame:
    """EXACT-substring duplication measurement — the Lee et al. 2022
    ("Deduplicating Training Data Makes Language Models Better")
    suffix-array dedup, re-expressed distributed: a position is
    duplicated iff its ``min_len``-gram occurs more than once in the
    corpus (their ExactSubstr criterion; all occurrences count, same-doc
    repeats included).  Per document the duplicated positions' [p, p+L)
    intervals are UNION-ed exactly — equal-length intervals make the
    union a running-max window (prev_end = max(p+L) over preceding
    rows; contribution = clamp(p+L − max(prev_end, p))) — no UDF, one
    shuffle for the gram group-by, one for the per-doc window.

    Returns (id, n_chars, dup_chars, dup_fraction) for EVERY input doc.
    Scale: cost is O(total chars) shuffled grams — the honest price of
    exactness (the paper's suffix array is the same order); for
    fingerprint-budget scans use ``winnowing_fingerprints``."""
    from pyspark.sql import Window

    pos = _gram_positions(documents, id_col, text_col, min_len)
    # two passes over the grams (count, then semi-join) rather than one
    # collect_list-of-positions pass: a boilerplate gram with 10⁸
    # occurrences at corpus scale would OOM a single collected list,
    # while the semi-join shuffles it as rows (and the dup-gram side is
    # small enough to broadcast)
    dup_grams = (
        pos.groupBy("h").agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > 1).select("h")
    )
    dup_pos = pos.join(dup_grams, "h", "left_semi")
    w = (
        Window.partitionBy(id_col).orderBy("p")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_end = F.max(F.col("p") + min_len).over(w)
    contrib = F.greatest(
        F.lit(0).cast("long"),
        (F.col("p") + min_len)
        - F.greatest(F.coalesce(prev_end, F.col("p")), F.col("p")),
    )
    per_doc = (
        dup_pos.select(F.col(id_col), contrib.alias("__c"))
        .groupBy(id_col)
        .agg(F.sum("__c").alias("dup_chars"))
    )
    return (
        documents.join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.length(text_col).cast("long").alias("n_chars"),
            F.coalesce(F.col("dup_chars"), F.lit(0)).cast("long")
            .alias("dup_chars"),
            (
                F.coalesce(F.col("dup_chars"), F.lit(0)).cast("double")
                / F.length(text_col)
            ).alias("dup_fraction"),
        )
    )


def substring_removal(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 40,
) -> DataFrame:
    """EXACT-substring duplication REMOVAL — the second half of Lee et
    al. 2022's ExactSubstr dedup: they don't just measure duplicated
    spans, they CUT them and re-emit the cleaned text (their released
    tool rewrites the corpus).  Composition of ``substring_duplication``'s
    duplicated-position machinery with an in-plan rewrite:

    1. duplicated positions (same gram count + semi-join as the spans
       measurement — one corpus-sized shuffle);
    2. positions → MERGED disjoint intervals: interval starts where a
       position exceeds the running max end (two window passes), then a
       (doc, group) min/max aggregate;
    3. per doc, the sorted interval list folds over the original text
       with ``aggregate`` — concat the kept slice before each removed
       interval, then the tail — entirely JVM-side HOFs, no UDF.

    Returns (id, n_chars, text_clean, removed_chars) for EVERY doc
    (untouched docs pass through with removed_chars = 0).  Scale: the
    collected interval list is disjoint-and-≥min_len-long, so it is at
    most len(text)/min_len entries — strictly smaller than the document
    row it sits next to; everything corpus-sized stays in shuffles."""
    from pyspark.sql import Window

    pos = _gram_positions(documents, id_col, text_col, min_len)
    dup_grams = (
        pos.groupBy("h").agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > 1).select("h")
    )
    dup_pos = pos.join(dup_grams, "h", "left_semi").select(id_col, "p")
    w_prev = (
        Window.partitionBy(id_col).orderBy("p")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy(id_col).orderBy("p")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    prev_end = F.max(F.col("p") + min_len).over(w_prev)
    is_start = F.when(
        prev_end.isNull() | (F.col("p") > prev_end), F.lit(1)
    ).otherwise(F.lit(0))
    ivs = (
        dup_pos.withColumn("__s", is_start)
        .withColumn("__g", F.sum("__s").over(w_run))
        .groupBy(id_col, "__g")
        .agg(F.min("p").alias("s"), F.max(F.col("p") + min_len).alias("e"))
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_list(F.struct("s", "e"))).alias("__ivs"))
    )
    rebuild = F.expr(
        f"""CASE WHEN __ivs IS NULL THEN {text_col} ELSE
        aggregate(
          __ivs,
          named_struct('prev', CAST(1 AS BIGINT), 'acc', ''),
          (st, iv) -> named_struct(
            'prev', iv.e,
            'acc', concat(st.acc, substring({text_col}, CAST(st.prev AS INT),
                                            CAST(iv.s - st.prev AS INT)))),
          st -> concat(st.acc, substring({text_col}, CAST(st.prev AS INT),
                       length({text_col}) - CAST(st.prev AS INT) + 1)))
        END"""
    )
    return (
        documents.join(ivs, id_col, "left")
        .withColumn("text_clean", rebuild)
        .select(
            F.col(id_col),
            F.length(text_col).cast("long").alias("n_chars"),
            F.col("text_clean"),
            (F.length(text_col) - F.length("text_clean")).cast("long")
            .alias("removed_chars"),
        )
    )


def winnowing_fingerprints(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 40,
    window: int = 16,
) -> DataFrame:
    """Winnowing (Schleimer, Wilkerson, Aiken 2003 — the MOSS
    fingerprinting scheme): keep a gram's position iff its hash is the
    minimum over the ``window`` preceding grams — a content-defined
    selection, so two documents sharing any substring of length ≥
    window + min_len − 1 are GUARANTEED to share at least one selected
    fingerprint.  This is the bounded-budget scale path next to
    ``substring_duplication``'s exact scan: ~1/window of the positions
    survive, and candidate pairs come from a fingerprint self-join
    instead of an all-positions group-by.

    Returns (id, p, h) — selected fingerprint hashes with positions."""
    from pyspark.sql import Window

    pos = _gram_positions(documents, id_col, text_col, min_len)
    wmin = (
        Window.partitionBy(id_col).orderBy("p")
        .rowsBetween(-(window - 1), 0)
    )
    return (
        pos.withColumn("__m", F.min("h").over(wmin))
        .filter(F.col("h") == F.col("__m"))
        .select(id_col, "p", "h")
    )


def ngram_containment_blocked(
    documents: DataFrame,
    block_expr: F.Column,
    threshold: float = 0.5,
    id_col: str = "doc_id",
) -> DataFrame:
    """r13 — blocked n-gram CONTAINMENT join: C(A→B) = |A∩B| / |A| over
    shingle sets, both directions per pair.  Containment is the
    asymmetric near-dup signal Jaccard misses: a short document fully
    embedded in a long one (quote farms, syndicated excerpts, page
    wrappers around a shared article) has low Jaccard (the union is
    dominated by the long side) but containment ≈ 1 on the short side —
    the measure web-dedup pipelines use to catch supersets.  Pairs are
    kept when EITHER direction reaches ``threshold``.

    Same bounded-blocking shape as ``ngram_jaccard_blocked``: all pairs
    within a block only (one shuffle on the block key, fan-out bounded
    by block size); zero-shingle docs are excluded up front (no
    divide-by-zero, and an empty doc contains/embeds nothing).  Like
    ``ngram_jaccard_blocked``, the self-join payload is xxhash64 longs,
    not shingle strings (r13 verdict #4) — every output quantity is a
    set CARDINALITY, invariant under the hash modulo n²/2⁶⁴
    collisions."""
    sh = (
        with_shingles(documents)
        .filter(F.size("shingles") > 0)
        .select(F.col(id_col), block_expr.alias("blk"),
                F.expr("transform(shingles, s -> xxhash64(s))").alias("shingles"))
    )
    a = sh.select(F.col(id_col).alias("doc_a"), F.col("blk"),
                  F.col("shingles").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("doc_b"), F.col("blk"),
                  F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    cont_ab = F.round(inter / F.size("sh_a"), 6)
    cont_ba = F.round(inter / F.size("sh_b"), 6)
    jac = F.round(inter / F.size(F.array_union("sh_a", "sh_b")), 6)
    return (
        a.join(b, "blk")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a", "doc_b",
            inter.cast("long").alias("n_inter"),
            cont_ab.alias("cont_a_in_b"),
            cont_ba.alias("cont_b_in_a"),
            jac.alias("jaccard"),
        )
        .filter(F.greatest("cont_a_in_b", "cont_b_in_a") >= threshold)
    )


def minhash_estimate_on_pairs(
    documents: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """r13 — MinHash ESTIMATE accuracy eval: for every LSH candidate
    pair, the signature-agreement Jaccard estimate (matching components
    / n_perms — the unbiased estimator MinHash exists to provide)
    side-by-side with the exact shingle-set Jaccard and the absolute
    error.  The eval that decides whether the sketch's n_perms is
    enough to REPLACE exact verification at scale — the same
    estimator-vs-truth pattern as similarity_lsh_recall and the KMV
    set-op queries.

    Plan: one signature pass (shared with the candidate generation),
    band-key self-join for candidates, then two id-joins to attach each
    side's signature vector and shingle set — everything keyed, nothing
    all-pairs.  The estimate k/n_perms is an exact small rational in
    doubles; the error is floor-rounded to 6 places (the engine-portable
    idiom)."""
    n_perms = len(MINHASH_PERMS)
    sh = with_shingles(documents)
    signed = minhash_signature(sh)
    sig_arr = F.array(*[F.col(f"sig_{i}") for i in range(n_perms)])
    sv = signed.select(F.col(id_col), sig_arr.alias("sv"),
                       F.col("shingles"))
    pairs = lsh_candidate_pairs(documents, id_col=id_col, shingled=sh)
    a = sv.select(F.col(id_col).alias("doc_a"), F.col("sv").alias("sa"),
                  F.col("shingles").alias("sh_a"))
    b = sv.select(F.col(id_col).alias("doc_b"), F.col("sv").alias("sb"),
                  F.col("shingles").alias("sh_b"))
    matches = F.expr(
        "aggregate(zip_with(sa, sb, (x, y) -> IF(x = y, 1, 0)), 0, "
        "(acc, v) -> acc + v)"
    )
    jac = F.round(
        F.size(F.array_intersect("sh_a", "sh_b"))
        / F.size(F.array_union("sh_a", "sh_b")), 6,
    )
    return (
        pairs.join(a, "doc_a").join(b, "doc_b")
        .withColumn("n_sig_matches", matches.cast("long"))
        .withColumn("est_jaccard", F.col("n_sig_matches") / F.lit(n_perms))
        .withColumn("jaccard", jac)
        .withColumn(
            "abs_err",
            F.floor(F.abs(F.col("est_jaccard") - F.col("jaccard")) * 1e6
                    + 0.5) / 1e6,
        )
        .select("doc_a", "doc_b", "n_sig_matches", "est_jaccard",
                "jaccard", "abs_err")
    )


#: b-bit MinHash family (r15 — Li & König 2010, b=1): 64 EXTRA affine
#: permutations (salted apart from the 8-perm LSH family) whose minhash
#: values are kept only to their LOWEST BIT — 64 permutations in the
#: storage of one 64-bit word (vs 8 full 8-byte values), the paper's
#: point.  Same md5-derived, engine-portable construction.
BBIT_N_PERMS = 64
BBIT_PERMS = [
    (
        int(_hashlib.md5(f"ba{i}".encode()).hexdigest()[:12], 16)
        % (MINHASH_PRIME - 1) + 1,
        int(_hashlib.md5(f"bb{i}".encode()).hexdigest()[:12], 16)
        % MINHASH_PRIME,
    )
    for i in range(BBIT_N_PERMS)
]

#: the b=1 debiased estimator (paper eq. for b=1, dense regime):
#: E[agree/n] = J + (1−J)/2  ⇒  Ĵ = 2·(agree/n) − 1, clamped at 0.
BBIT_EST_EXPR = (
    "greatest(0.0, ((2.0 * agree_bits) / 64.0) - 1.0)"
)


def _bbit_word(lo_half: bool) -> str:
    """One 32-bit packed word of lowest-bit minhashes (hi: perms 0-31,
    lo: perms 32-63) — two halves so no shift ever touches bit 63."""
    rng = range(0, 32) if not lo_half else range(32, 64)
    terms = [
        f"(((array_min(transform(__hs, h -> ({a}L * h + {b}L) % "
        f"{MINHASH_PRIME}L)) & 1L)) << {i - (32 if lo_half else 0)})"
        for i, (a, b) in ((j, BBIT_PERMS[j]) for j in rng)
    ]
    return "(" + " + ".join(terms) + ")"


def bbit_minhash_estimate_on_pairs(
    documents: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """r15 — b-bit MinHash estimator eval (Li & König 2010, b=1): per
    LSH candidate pair, the 1-bit-agreement Jaccard estimate from 64
    single-bit permutations (one 64-bit word per doc — 8× less sketch
    than the 8-perm full-value family at 8× the permutation count)
    against the exact shingle Jaccard.  The estimator is the paper's
    b=1 debiasing Ĵ = 2·(agree/64) − 1 (random bits agree half the
    time), clamped at 0.

    Plan: ONE base md5 per shingle (shared discipline with
    minhash_signature), 64 cheap affine mins folded into two 32-bit
    packed words (no bit-63 shift) — map-only; candidates come from the
    SAME 8-perm LSH band join, so this adds no new shuffle class;
    agreement is two XOR+popcounts per pair.  At 100 TB the sketch
    store is 8 bytes/doc — the smallest near-dup state in the suite."""
    sh = with_shingles(documents)
    base = (
        "transform(shingles, s -> cast(conv(substring(md5(s), 1, 8), 16, 10)"
        f" as bigint) % {MINHASH_PRIME}L)"
    )
    words = (
        sh.filter(F.size("shingles") > 0)
        .withColumn("__hs", F.expr(base))
        .select(
            F.col(id_col),
            F.expr(_bbit_word(False)).cast("long").alias("whi"),
            F.expr(_bbit_word(True)).cast("long").alias("wlo"),
            F.col("shingles"),
        )
    )
    pairs = lsh_candidate_pairs(documents, id_col=id_col, shingled=sh)
    a = words.select(F.col(id_col).alias("doc_a"),
                     F.col("whi").alias("ha"), F.col("wlo").alias("la"),
                     F.col("shingles").alias("sh_a"))
    b = words.select(F.col(id_col).alias("doc_b"),
                     F.col("whi").alias("hb"), F.col("wlo").alias("lb"),
                     F.col("shingles").alias("sh_b"))
    agree = (
        F.lit(64)
        - F.bit_count(F.expr("ha ^ hb"))
        - F.bit_count(F.expr("la ^ lb"))
    )
    jac = F.round(
        F.size(F.array_intersect("sh_a", "sh_b"))
        / F.size(F.array_union("sh_a", "sh_b")), 6,
    )
    est = F.expr(f"floor({BBIT_EST_EXPR} * 1e6 + 0.5) / 1e6")
    return (
        pairs.join(a, "doc_a").join(b, "doc_b")
        .withColumn("agree_bits", agree.cast("long"))
        .withColumn("est_bbit", est)
        .withColumn("jaccard", jac)
        .withColumn(
            "abs_err",
            F.expr(f"floor(abs({BBIT_EST_EXPR} - jaccard) * 1e6 + 0.5) / 1e6"),
        )
        .select("doc_a", "doc_b", "agree_bits", "est_bbit", "jaccard",
                "abs_err")
    )


# ---------------------------------------------------------------------------
# Bloom-filter dedup (r15) — the Dolma/BFF recipe (Soldaini et al. 2024,
# "Dolma"; Groeneveld's Bloom Filter Filtering tool): membership of each
# incoming document's content key in a bit-array built from the already-
# ingested corpus.  At 100 TB the filter is the ONLY corpus-sized dedup
# state that fits in memory per executor (m bits, not m keys) — the price
# is a quantified false-positive rate, which the operator surfaces rather
# than hides.
# ---------------------------------------------------------------------------

BLOOM_M_BITS = 1 << 16  #: filter width (bits) — fixed so oracles replay it
BLOOM_K = 3             #: hashes per key (double hashing, Kirsch-Mitzenmacher)


def _bloom_positions(col, m_bits: int = BLOOM_M_BITS, k: int = BLOOM_K):
    """The k bit positions of a key: double hashing h1 + i·h2 (Kirsch &
    Mitzenmacher 2006 — two base hashes simulate k independent ones with
    no loss in the FP bound).  Base hashes are the repo's md5-portable
    idiom (two disjoint 60-bit md5 prefixes), so any SQL oracle replays
    the positions bit-for-bit: DuckDB
    ``('0x'||substr(md5(x),1,15))::BIGINT`` / ``substr(...,16,15)``."""
    md5 = F.md5(col.cast("string"))
    h1 = F.conv(F.substring(md5, 1, 15), 16, 10).cast("long")
    h2 = F.conv(F.substring(md5, 16, 15), 16, 10).cast("long")
    return F.array(*[((h1 + F.lit(i) * h2) % m_bits) for i in range(k)])


def bloom_build(seen: DataFrame, key_col: str,
                m_bits: int = BLOOM_M_BITS, k: int = BLOOM_K) -> DataFrame:
    """Build the Bloom bit-array from the seen corpus, as a WORD TABLE:
    (word_idx, bits) with word_idx = position div 64 and bits the OR of
    the set bit masks — ≤ m/64 rows regardless of corpus size.

    Distributed shape: explode keys to positions (map-only), then ONE
    hash aggregate on the word index (map-side ``bit_or`` combine — what
    shuffles is bounded by m/64 per task, never by the corpus).  The
    word table IS the filter; broadcasting it to probes is the in-memory
    bit-array every single-node Bloom implementation holds."""
    pos = seen.select(
        F.explode(_bloom_positions(F.col(key_col), m_bits, k)).alias("pos")
    )
    return (
        pos.select(
            F.shiftright("pos", 6).alias("word_idx"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))")
            .alias("mask"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("mask").alias("bits"))
    )


def bloom_filter_dedup(
    seen: DataFrame,
    incoming: DataFrame,
    key_col: str,
    id_col: str = "doc_id",
    m_bits: int = BLOOM_M_BITS,
    k: int = BLOOM_K,
) -> DataFrame:
    """Dolma-style Bloom dedup of ``incoming`` against ``seen``, with
    exact-membership ground truth alongside so the false-positive cost
    is measurable: per incoming row — ``bloom_hit`` (all k bits set),
    ``exact_hit`` (key truly present in seen), ``false_positive``
    (bloom said yes, truth says no; Bloom filters never false-negative,
    and the oracle would catch one as a bloom/exact disagreement in the
    other direction).

    Probe shape: explode the incoming key's k positions, join the
    broadcast word table (m/64 rows — in-memory bit-array semantics),
    AND the masks, then one ``bool_and`` per row id.  The exact side is
    a semi-join on the key — included here for the eval contract; a
    production pipeline runs the filter alone, that being the point."""
    filt = bloom_build(seen, key_col, m_bits, k)
    probe = incoming.select(
        F.col(id_col),
        F.col(key_col).alias("__key"),
        F.explode(_bloom_positions(F.col(key_col), m_bits, k)).alias("pos"),
    ).select(
        id_col, "__key",
        F.shiftright("pos", 6).alias("word_idx"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))")
        .alias("mask"),
    )
    hits = (
        probe.join(F.broadcast(filt), "word_idx", "left")
        .withColumn(
            "__bit_set",
            F.coalesce(
                F.col("bits").bitwiseAND(F.col("mask")) != 0, F.lit(False)
            ),
        )
        .groupBy(id_col, "__key")
        .agg(F.bool_and("__bit_set").alias("bloom_hit"))
    )
    seen_keys = seen.select(F.col(key_col).alias("__key")).distinct()
    exact = seen_keys.withColumn("exact_hit", F.lit(True))
    return (
        hits.join(exact, "__key", "left")
        .select(
            id_col,
            "bloom_hit",
            F.coalesce("exact_hit", F.lit(False)).alias("exact_hit"),
            (F.col("bloom_hit")
             & ~F.coalesce("exact_hit", F.lit(False))).alias("false_positive"),
        )
    )
