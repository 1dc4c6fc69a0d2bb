"""Space-saving heavy-hitters sketch (operators/sketch.py): the bounded
counter table must keep every true heavy hitter through eviction, the
recount phase must return exact counts, and ties must break on item asc."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from postgres_debezium_clickhouse_spark.operators.sketch import space_saving_topk


def test_topk_exact_counts_and_tiebreak(spark):
    rows = [("a",)] * 10 + [("b",)] * 7 + [("c",)] * 7 + [("d",)] * 2 + [("e",)] * 1
    items = spark.createDataFrame(rows, ["token"])
    out = space_saving_topk(items, k=3, capacity=16).collect()
    assert [(r.rank, r.item, r.n) for r in out] == [(1, "a", 10), (2, "b", 7), (3, "c", 7)]


def test_topk_survives_tight_capacity(spark):
    """capacity=4 with 40 distinct light items + 2 planted heavy hitters
    spread across partitions: eviction churns the counter table, but the
    heavy hitters (count >> N/capacity) must survive into the candidate
    set and come back with EXACT counts."""
    rows = [("hot1",)] * 50 + [("hot2",)] * 30 + [(f"cold{i}",) for i in range(40)]
    items = spark.createDataFrame(rows, ["token"]).repartition(4)
    out = space_saving_topk(items, k=2, capacity=4).collect()
    assert [(r.item, r.n) for r in out] == [("hot1", 50), ("hot2", 30)]


def test_topk_null_and_empty_input(spark):
    items = spark.createDataFrame([(None,), ("x",)], "token string")
    out = space_saving_topk(items, k=5).collect()
    assert [(r.item, r.n) for r in out] == [("x", 1)]
    empty = spark.createDataFrame([], "token string")
    assert space_saving_topk(empty, k=5).collect() == []


def test_topk_batch_amortized_floor_keeps_guarantee(spark):
    """Distinct-heavy stream (capacity far below distinct count, many
    Arrow batches): the floor-credited eviction must still surface the
    true heavy hitters with exact final counts."""
    rows = ([("hh",)] * 200
            + [(f"mid{i % 5}",) for i in range(100)]     # 5 items × 20
            + [(f"one{i}",) for i in range(500)])        # 500 singletons
    items = spark.createDataFrame(rows, ["token"]).repartition(2)
    out = space_saving_topk(items, k=6, capacity=8).collect()
    assert (out[0].item, out[0].n) == ("hh", 200)
    assert {(r.item, r.n) for r in out[1:6]} == {(f"mid{i}", 20) for i in range(5)}


def test_kmv_sketch_exact_when_k_covers_universe(spark):
    """k ≥ distinct count → the sketch IS the full sorted hash set, so the
    Jaccard estimate is exact."""
    from postgres_debezium_clickhouse_spark.operators.sketch import (
        kmv_jaccard,
        kmv_sketch,
    )

    rows = [("A", t) for t in "abcdef"] + [("B", t) for t in "defghi"]
    items = spark.createDataFrame(rows, ["grp", "token"])
    sk = kmv_sketch(items, "grp", "token", k=64)
    out = kmv_jaccard(sk, "grp", k=64).collect()
    assert len(out) == 1
    # |{d,e,f}| / |{a..i}| = 3/9
    assert out[0].est_jaccard == 0.333333


def test_kmv_estimate_tracks_true_jaccard_under_small_k(spark):
    """k far below the universe: the estimate must still land near the
    planted truth (0.5 here: 200 shared tokens of 400 total)."""
    from postgres_debezium_clickhouse_spark.operators.sketch import (
        kmv_jaccard,
        kmv_sketch,
    )

    rows = ([("A", f"shared{i}") for i in range(200)]
            + [("B", f"shared{i}") for i in range(200)]
            + [("A", f"onlya{i}") for i in range(100)]
            + [("B", f"onlyb{i}") for i in range(100)])
    items = spark.createDataFrame(rows, ["grp", "token"]).repartition(4)
    sk = kmv_sketch(items, "grp", "token", k=64)
    est = kmv_jaccard(sk, "grp", k=64).collect()[0].est_jaccard
    assert abs(est - 0.5) <= 0.15
    # determinism: same inputs, same sketch, same estimate
    est2 = kmv_jaccard(kmv_sketch(items, "grp", "token", k=64), "grp", k=64).collect()[0].est_jaccard
    assert est2 == est


def test_topk_weighted_mode(spark):
    """topKWeighted analogue: ranking by summed weight, exact recount."""
    rows = [("a", 1), ("a", 1), ("b", 50), ("c", 3), ("c", 4)]
    items = spark.createDataFrame(rows, ["token", "w"])
    out = space_saving_topk(items, k=3, capacity=8, weight_col="w").collect()
    assert [(r.rank, r.item, r.n) for r in out] == [(1, "b", 50), (2, "c", 7), (3, "a", 2)]


def test_content_drift_js_properties(spark):
    """JS divergence sanity on planted distributions: identical source →
    0; disjoint-vocabulary source → ln 2 against itself-vs-corpus bounds;
    symmetry of construction bounds every value to [0, ln 2]."""
    import math

    from postgres_debezium_clickhouse_spark.plans.llm_corpus_queries import (
        q_corpus_content_drift,
    )

    # build via a temp view shim: the query reads the documents table, so
    # test through a tiny parquet fixture dir
    import tempfile, shutil, os, uuid

    d = os.path.join(tempfile.gettempdir(), f"drift_{uuid.uuid4().hex[:8]}")
    os.makedirs(d)
    try:
        rows = ([(i, "the quick brown fox", "en", "same", 19) for i in range(20)]
                + [(100 + i, "the quick brown fox", "en", "same2", 19) for i in range(20)]
                + [(200 + i, "zzz qqq xxx yyy", "xx", "alien", 15) for i in range(20)])
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        ).write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
        out = {r.source: r.js_divergence
               for r in q_corpus_content_drift(spark, d).collect()}
        assert out["same"] == out["same2"]            # identical dists
        assert out["alien"] > out["same"]             # disjoint vocab drifts most
        for v in out.values():
            assert 0.0 <= v <= math.log(2.0) + 1e-9   # JS bound
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_uniq_upto_exact_below_saturated_above(spark):
    """r9 — uniqUpTo(N): exact while distinct ≤ N, pinned at N+1 beyond;
    the order-statistics merge must be partition-layout-insensitive."""
    from pyspark.sql import functions as F

    from postgres_debezium_clickhouse_spark.operators.sketch import uniq_upto

    # group 'a': 5 distinct; group 'b': 30 distinct — run with n=10
    rows = [("a", f"v{i % 5}") for i in range(50)] + [
        ("b", f"w{i}") for i in range(30)
    ]
    for parts in (1, 7):
        df = spark.createDataFrame(rows, ["g", "item"]).repartition(parts)
        out = {r.g: r.u for r in uniq_upto(df, "g", "item", n=10).collect()}
        assert out == {"a": 5, "b": 11}
    # boundary: exactly n distinct stays exact; n+1 distinct saturates
    df = spark.createDataFrame(
        [("x", f"t{i}") for i in range(10)] + [("y", f"t{i}") for i in range(11)],
        ["g", "item"],
    )
    out = {r.g: r.u for r in uniq_upto(df, "g", "item", n=10).collect()}
    assert out == {"x": 10, "y": 11}


# --- HyperLogLog (r10) ----------------------------------------------------


def test_hll_sketch_merge_equals_whole(spark):
    """Partition the data arbitrarily, build per-part dense sketches,
    merge with element-wise max → bit-identical to the whole-data sketch
    (the lattice-join property the aggregating sink's state relies on)."""
    from postgres_debezium_clickhouse_spark.operators.sketch import (
        hll_merge_expr,
        hll_sketch,
    )

    rows = [("g", f"item{i}") for i in range(500)]
    df = spark.createDataFrame(rows, ["grp", "it"])
    whole = hll_sketch(df, "grp", "it", p=6).collect()[0]["hll"]
    a = hll_sketch(df.filter(F.length("it") <= 5), "grp", "it", p=6)
    b = hll_sketch(df.filter(F.length("it") > 5), "grp", "it", p=6)
    merged = (
        a.select("grp", F.col("hll").alias("ha"))
        .join(b.select("grp", F.col("hll").alias("hb")), "grp")
        .select(hll_merge_expr("ha", "hb").alias("hll"))
        .collect()[0]["hll"]
    )
    assert merged == whole


def test_hll_merge_idempotent_and_commutative(spark):
    from postgres_debezium_clickhouse_spark.operators.sketch import (
        hll_merge_expr,
        hll_sketch,
    )

    df = spark.createDataFrame([("g", str(i)) for i in range(100)], ["grp", "it"])
    sk = hll_sketch(df, "grp", "it", p=5)
    both = sk.select(
        hll_merge_expr("hll", "hll").alias("self_merge"), "hll"
    ).collect()[0]
    assert both["self_merge"] == both["hll"]  # idempotent


def test_hll_estimate_regimes(spark):
    """Linear-counting regime (cardinality ≪ m) is near-exact; raw
    regime (cardinality ≫ m) lands within 3σ = 3·1.04/√m; empty/all-null
    input estimates 0."""
    from postgres_debezium_clickhouse_spark.operators.sketch import (
        hll_estimate_expr,
        hll_sketch,
    )

    small = spark.createDataFrame(
        [("g", str(i)) for i in range(30)], ["grp", "it"]
    )
    est = (
        hll_sketch(small, "grp", "it", p=10)
        .select(hll_estimate_expr("hll", 10).alias("e"))
        .collect()[0]["e"]
    )
    assert abs(est - 30) <= 2

    big = spark.createDataFrame(
        [("g", str(i)) for i in range(20000)], ["grp", "it"]
    )
    est = (
        hll_sketch(big, "grp", "it", p=8)
        .select(hll_estimate_expr("hll", 8).alias("e"))
        .collect()[0]["e"]
    )
    assert abs(est / 20000 - 1.0) <= 3 * 1.04 / (256 ** 0.5)

    nulls = spark.createDataFrame([("g", None)], "grp string, it string")
    assert hll_sketch(nulls, "grp", "it", p=6).collect() == []


def test_hll_register_layout_matches_duckdb(spark):
    """The (j, rho) register table must be reproducible from SQL — the
    contract every HLL oracle depends on.  Recompute in DuckDB and
    compare the full register map."""
    import duckdb

    from postgres_debezium_clickhouse_spark.operators.sketch import hll_registers

    items = [(f"v{i}",) for i in range(200)]
    df = spark.createDataFrame(items, ["it"]).withColumn("grp", F.lit("g"))
    got = {
        (r["__j"], r["__rho"])
        for r in hll_registers(df, "grp", "it", p=7).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t(it VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?)", items)
    want = set(
        con.execute(
            """
            WITH h AS (SELECT ('0x'||substr(md5(it),1,15))::BIGINT AS h FROM t)
            SELECT h % 128 AS j,
                   MAX(CASE WHEN (h >> 7) = 0 THEN 54
                            ELSE 54 - length(printf('%b', h >> 7)) END) AS rho
            FROM h GROUP BY h % 128
            """
        ).fetchall()
    )
    assert got == want


@pytest.mark.slow
def test_hll_state_column_batch_boundary_insensitive(spark, tmp_path):
    """The sink's hll state must be identical whether the stream arrives
    in 1 file or 4 — register arrays compare bit-equal, and a key whose
    rows are all NULL items still gets the all-zeros array (estimate 0)."""
    from postgres_debezium_clickhouse_spark.operators.sketch import (
        hll_estimate_expr,
    )
    from postgres_debezium_clickhouse_spark.streaming.pipeline import (
        read_silver,
        silver_summing_stream,
    )

    rows = [("k1", f"u{i % 40}") for i in range(200)] + [("knull", None)] * 5
    src = str(tmp_path / "src")
    df = spark.createDataFrame(rows, "k string, u string")
    states = {}
    for label, nfiles in (("one", 1), ("four", 4)):
        df.repartition(nfiles).write.mode("overwrite").parquet(src)
        dst = str(tmp_path / f"dst_{label}")
        ckpt = str(tmp_path / f"ckpt_{label}")
        stream = (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = silver_summing_stream(
            stream, dst, ckpt, keys=["k"],
            agg_spec={"h": ("u", "hll")}, hll_p=6, available_now=True,
        )
        assert q.awaitTermination(120)
        states[label] = {
            r["k"]: (tuple(r["h"]), r["est"])
            for r in read_silver(spark, dst)
            .select("k", "h", F.round(hll_estimate_expr("h", 6), 4).alias("est"))
            .collect()
        }
    assert states["one"] == states["four"]
    assert states["one"]["k1"][1] != 0.0
    assert states["one"]["knull"] == (tuple([0] * 64), 0.0)


def test_kmv_sketch_regime_guard_raises_when_unsaturated(spark):
    """r12 verdict item 5: stream_agg_kmv_state/qsample queries pin
    `true AS sketch_full` in their oracles; the engine column is now an
    assert_true guard.  Pin the guard idiom itself: saturated passes
    through as True, unsaturated raises instead of returning False."""
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [([1, 2, 3],), ([4],)], "s array<int>"
    )
    guard = lambda k: F.coalesce(
        F.assert_true(F.size("s") >= k, F.lit("regime drift")),
        F.lit(True),
    ).alias("full")
    assert [r.full for r in df.select(guard(1)).collect()] == [True, True]
    with pytest.raises(Exception) as ei:
        df.select(guard(2)).collect()
    assert "regime drift" in str(ei.value)


def test_countmin_one_sided_and_mergeable(spark):
    """r15 CMS: estimates never underestimate (the one-sided
    guarantee), a forced-collision pair overestimates by exactly the
    colliding mass, cells stay bounded by d·w, and two builds merge by
    cell addition into the same table as one build over the union."""
    from postgres_debezium_clickhouse_spark.operators.sketch import (
        CMS_D,
        CMS_W,
        countmin_cells,
        countmin_estimate,
    )

    a = spark.createDataFrame([(i % 40,) for i in range(400)], "x long")
    b = spark.createDataFrame([(i % 25,) for i in range(100)], "x long")
    u = a.union(b)
    cells = countmin_cells(u, "x")
    assert cells.count() <= CMS_D * CMS_W
    items = u.distinct()
    exact = {r.x: r.n for r in
             u.groupBy("x").agg(F.count(F.lit(1)).alias("n")).collect()}
    est = {r.x: r.cms_est for r in
           countmin_estimate(cells, items, "x").collect()}
    assert all(est[x] >= exact[x] for x in exact)  # one-sided
    # mergeability: cells(a) + cells(b) == cells(a ∪ b)
    merged = (
        countmin_cells(a, "x").union(countmin_cells(b, "x"))
        .groupBy("row", "pos").agg(F.sum("c").alias("c"))
    )
    assert sorted(map(tuple, merged.collect())) == \
        sorted(map(tuple, cells.collect()))
    # an item the build never saw can still collide, but min over d
    # rows of a sparse table reads 0 when all its cells are empty
    ghost = spark.createDataFrame([(99999,)], "x long")
    g = countmin_estimate(cells, ghost, "x").collect()[0]
    assert g.cms_est >= 0
