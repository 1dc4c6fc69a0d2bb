"""Plan pins for the r18/r19 structural optimizations (VERDICT r18 item 3).

The three flagship wins rest on *fragile* canonicalization alignment —
one innocent refactor (or a Spark upgrade that prunes through ``nullif``
or optimizes away 1-element explodes) silently reintroduces 2× parse
cost / 10× corpus scans, and the value oracle never notices.  These pins
make the plan shape itself a regression surface:

  1. single ``from_json`` at every filtered-parse barrier site
     (``functions.eval_once_barrier``),
  2. ``ReusedExchange`` in every executed LM-smoothing-ladder plan
     (``functions.count_rows_keeping`` + inferred-filter alignment),
  3. no interpreted argmin inside a Filter node in the IVF plans
     (``similarity.with_ivf_cell``'s one-element explode).

Each pin was verified to FAIL when its optimization is reverted (the
barrier replaced by identity / the count spelled ``count(1)`` — see the
revert checks at the bottom, which assert the *broken* shape on a
locally-disabled copy so the pins cannot rot into tautologies).
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def _fmt(df) -> str:
    """The formatted physical plan (same surface the plan dumps use)."""
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# ---------------------------------------------------------------------------
# 1. filtered-parse barrier: exactly ONE from_json evaluation per plan
# ---------------------------------------------------------------------------

BARRIER_QUERIES = [
    "cdc_json_extract_path",
    "cdc_timezone_convert",
    "trn_passport_current",
    "trn_passport_ts_version",
    "cdc_current_state",      # via transforms.unwrap_envelope
]


@pytest.mark.parametrize("name", BARRIER_QUERIES)
def test_filtered_parse_single_from_json(spark, name):
    """The JSONHas-style existence filter must not re-evaluate the parse:
    without the barrier Catalyst pushes the filter below the projection
    by substituting the alias's defining expression, and the plan carries
    TWO full Jackson parses per row (measured ~20% of the query)."""
    import __spark_entry__ as entry

    df = entry.queries()[name](spark, SF_DIR)
    plan = _fmt(df)
    assert plan.count("from_json") == 1, (
        f"{name}: expected exactly 1 from_json evaluation, "
        f"found {plan.count('from_json')}")


def test_barrier_revert_reintroduces_duplication(spark):
    """Anti-tautology check: the same parse+filter chain WITHOUT the
    barrier must plan 2 from_json evaluations — proving the pin above
    actually guards the barrier, not an optimizer behavior that made it
    redundant."""
    from postgres_debezium_clickhouse_spark.functions import (
        json_extract_struct)
    from postgres_debezium_clickhouse_spark.schemas import ORDERS_ENVELOPE
    from postgres_debezium_clickhouse_spark.sources.cdc import (
        orders_cdc_events)

    raw = orders_cdc_events(spark, SF_DIR)
    bare = (
        raw.withColumn("j", json_extract_struct("value", ORDERS_ENVELOPE))
        .filter(F.col("j.payload.op").isNotNull())
        .select("j.payload.after.*")
    )
    assert _fmt(bare).count("from_json") == 2


# ---------------------------------------------------------------------------
# 2. LM smoothing ladders: the shared n-gram tables' shuffles are reused
# ---------------------------------------------------------------------------

_TRAIN = [(0, "a b c d e a b c d f a b c e d b c d e f"),
          (2, "c d e f a b d e f a c d e a b")]
_SCORE = [(100, "a b c d e")]

# (train/score entry point, ReusedExchange floor, shuffle Exchange
# ceiling, FileScan ceiling) in the final AQE plan over the parquet-backed
# corpus above, measured before the LM core refactor.  They pin that
# every shared n-gram table still materializes its shuffle once and the
# corpus is scanned for training, scoring and the doc-id join only.  On a
# file-backed corpus the count_rows_keeping revert shows up as 1-4 extra
# Exchange nodes (the re-aggregations read the reused corpus spread, so
# the ReusedExchange count alone does not drop); on an in-memory corpus
# it drops the ReusedExchange count instead.
LADDER_PINS = [
    ("lm_5gram_kneser_ney", 9, 13, 3),
    ("lm_trigram_kneser_ney", 5, 9, 3),
    ("lm_bigram_kneser_ney", 3, 7, 3),
    ("lm_bigram_modified_kneser_ney", 4, 8, 3),
    ("lm_bigram_witten_bell", 2, 7, 4),
    ("lm_trigram_witten_bell", 3, 9, 5),
    ("lm_trigram_interpolated", 4, 10, 4),
]


@pytest.fixture(scope="module")
def ladder_corpus(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("lm_ladder")
    for name, rows in (("train", _TRAIN), ("score", _SCORE)):
        spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
            str(root / name))
    return (spark.read.parquet(str(root / "train")),
            spark.read.parquet(str(root / "score")))


@pytest.mark.parametrize(
    "fn_name,reused_floor,exchange_ceiling,scan_ceiling", LADDER_PINS,
    ids=[pin[0] for pin in LADDER_PINS])
def test_lm_ladder_reuses_exchanges(ladder_corpus, fn_name, reused_floor,
                                    exchange_ceiling, scan_ceiling):
    """Every train/score LM entry point re-aggregates shared n-gram tables;
    with the count_rows_keeping + isNotNull alignment AQE materializes
    each shared shuffle once (ReusedExchange for the other copies) and
    the corpus scan is not repeated per table."""
    from postgres_debezium_clickhouse_spark.operators import text

    train, score = ladder_corpus
    df = getattr(text, fn_name)(score, train_docs=train)
    df.collect()  # AQE exchange reuse is decided at stage materialization
    plan = _executed(df)
    assert "isFinalPlan=true" in plan
    final = plan.split("== Initial Plan ==")[0]
    counts = {
        "ReusedExchange": final.count("ReusedExchange"),
        # shuffle nodes only: a reused one prints as "ReusedExchange
        # [..], Exchange ..." and a broadcast as "- BroadcastExchange"
        "Exchange": final.count("- Exchange "),
        "FileScan": final.count("FileScan"),
    }
    assert counts["ReusedExchange"] >= reused_floor, counts
    assert counts["Exchange"] <= exchange_ceiling, counts
    assert counts["FileScan"] <= scan_ceiling, counts


def test_count_rows_keeping_defeats_count_pruning(spark):
    """Anti-tautology check for the alignment mechanism itself: a
    count(1) over a shared aggregate lets pruning collapse the branch
    into a distinct (different subtree, no reuse), while
    count_rows_keeping keeps the parent count column required.  Assert
    the two forms plan DIFFERENT aggregate inputs."""
    from postgres_debezium_clickhouse_spark.functions import (
        count_rows_keeping)

    base = spark.range(0, 100).select(
        (F.col("id") % 7).alias("k"), (F.col("id") % 3).alias("g"))
    parent = base.groupBy("k", "g").agg(F.count(F.lit(1)).alias("cnt"))
    pruned = _fmt(parent.groupBy("k").agg(F.count(F.lit(1)).alias("n")))
    kept = _fmt(parent.groupBy("k").agg(count_rows_keeping("cnt").alias("n")))
    # pruned form: the parent count column is dropped → cnt never appears
    assert "cnt" not in pruned
    assert "cnt" in kept


# ---------------------------------------------------------------------------
# 3. IVF cell assignment: the interpreted argmin never lands in a Filter
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("name", ["similarity_ann_ivf_topk",
                                  "similarity_ann_ivf_table"])
def test_ivf_argmin_not_duplicated_into_filter(spark, name):
    """The equi-join on the computed cell injects isnotnull(cell); before
    the r18 fix Catalyst substituted the k·dim interpreted argmin into
    the scan-side Filter (evaluated twice per corpus row).  The argmin is
    emitted through a Generate now, so NO Filter block may contain the
    zip_with distance expression."""
    import __spark_entry__ as entry

    plan = _fmt(entry.queries()[name](spark, SF_DIR))
    for block in plan.split("\n\n"):
        first = block.split("\n")[0]
        if block.startswith("(") and "Filter" in first:
            assert "zip_with" not in block, (name, first)
    # and the plans still compute the argmin somewhere (not vacuous)
    assert "zip_with" in plan, name
