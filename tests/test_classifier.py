"""Hashing-trick quality classifier: scoring semantics, plan shape, and the
pyspark.ml training round-trip (train → export milli-int weights → score
with the same map-only operator)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from postgres_debezium_clickhouse_spark.operators.classifier import (
    classifier_score,
    hashed_count_features,
    pseudo_weights,
    train_quality_classifier,
)
from postgres_debezium_clickhouse_spark.operators.text import gopher_rules


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_classifier_score_exact_margin(spark):
    """Margin = bias + Σ w[bucket(token)] over ALL occurrences (a repeated
    token counts twice), in exact integer milli-units."""
    w = pseudo_weights(8)
    docs = _docs(spark, [(1, "alpha alpha beta")])
    row = classifier_score(docs, w, bias_milli=5, id_col="doc_id").collect()[0]

    import hashlib

    def bucket(t):
        return int(hashlib.md5(t.encode()).hexdigest()[:8], 16) % 8

    expected = 5 + 2 * w[bucket("alpha")] + w[bucket("beta")]
    assert row.margin_milli == expected
    assert row.n_tokens == 3
    assert row.pred_keep == (expected > 0)
    assert abs(row.margin - expected / 1000.0) < 1e-9


def test_classifier_score_is_map_only(spark):
    """The 100 TB contract: scoring is one narrow projection — no Exchange,
    no Python UDF (BatchEvalPython) anywhere in the physical plan."""
    docs = _docs(spark, [(1, "a b c")])
    plan = classifier_score(docs, pseudo_weights(16))._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan


def test_hashed_count_features_shape(spark):
    docs = _docs(spark, [(1, "x x y")])
    feats = hashed_count_features(docs, dim=4).collect()[0].features
    assert len(feats) == 4
    assert sum(feats) == 3.0  # every token lands in exactly one bucket


@pytest.mark.slow
def test_train_then_score_roundtrip(spark):
    """LogisticRegression on gopher weak labels, exported to milli-int
    weights, applied by the map-only scorer: the learned filter must beat
    the majority-class baseline on its own training distribution (fixed
    data + L-BFGS ⇒ deterministic)."""
    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .limit(200)
    )
    labels = gopher_rules(docs).select(
        "doc_id", F.col("passes").cast("int").alias("label")
    )
    weights, bias = train_quality_classifier(docs, labels, dim=32)
    assert len(weights) == 32

    scored = classifier_score(docs, weights, bias_milli=bias)
    joined = scored.join(labels, "doc_id")
    n = joined.count()
    correct = joined.filter(
        F.col("pred_keep").cast("int") == F.col("label")
    ).count()
    majority = max(
        r.n for r in labels.groupBy("label").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    assert correct / n >= majority / n
    assert correct / n > 0.5


def test_passthrough_chains_map_only(spark):
    """The streaming-gate composition (gopher ∧ classifier) must chain as
    pure projections — one scan, zero Exchange — via the operators'
    passthrough columns."""
    from pyspark.sql import functions as F

    from postgres_debezium_clickhouse_spark.operators.classifier import (
        classifier_score,
        pseudo_weights,
    )
    from postgres_debezium_clickhouse_spark.operators.text import gopher_rules

    docs = spark.createDataFrame(
        [(1, "the quick brown fox and a dog of note " * 10)], ["doc_id", "text"]
    )
    g = gopher_rules(docs, passthrough=("text",)).select(
        "doc_id", "text", F.col("passes").alias("gopher_ok")
    )
    out = classifier_score(g, pseudo_weights(64), passthrough=("gopher_ok",)).select(
        "doc_id", "gopher_ok", F.col("pred_keep").alias("clf_ok"),
        (F.col("gopher_ok") & F.col("pred_keep")).alias("keep"),
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    row = out.collect()[0]
    assert row.keep == (row.gopher_ok and row.clf_ok)


@pytest.mark.slow
def test_langid_trained_recovers_planted_and_follows_label_flip(spark):
    # Guard that the model LEARNS from labels rather than echoing
    # fixture structure: (1) every planted label is recovered; (2) with
    # the training labels rotated one position, detections follow the
    # rotation — an oracle-independence flip test.
    from pyspark.sql import functions as F

    from postgres_debezium_clickhouse_spark.operators.classifier import (
        langid_score,
        train_langid_classifier,
    )

    langs = ["en", "es", "de", "fr"]
    lang_c = F.element_at(F.array(*[F.lit(lang) for lang in langs]),
                          (F.col("doc_id") % 4 + 1).cast("int"))
    shared = [F.concat(F.lit("sh"), ((F.col("doc_id") + j) % 4).cast("string"))
              for j in range(6)]
    langw = [F.concat(lang_c, F.lit("t"),
                      ((F.col("doc_id") + i) % 6).cast("string"))
             for i in range(10)]
    docs = (
        spark.range(200).withColumnRenamed("id", "doc_id")
        .withColumn("lang", lang_c)
        .withColumn("text", F.concat_ws(" ", *shared, *langw))
    )
    models = train_langid_classifier(docs, langs)
    scored = langid_score(docs, models)
    wrong = scored.join(docs.select("doc_id", "lang"), "doc_id").where(
        F.col("detected_lang") != F.col("lang")).count()
    assert wrong == 0
    # margins are strict: the true language's margin beats every other
    m = scored.limit(5).collect()
    for r in m:
        true_m = r[f"margin_{r['detected_lang']}"]
        others = [r[f"margin_{lang}"] for lang in langs
                  if lang != r["detected_lang"]]
        assert all(true_m > o for o in others)
    # flip: rotate the training labels; detections must rotate too
    rot = {"en": "es", "es": "de", "de": "fr", "fr": "en"}
    docs_rot = docs.withColumn("lang", F.element_at(
        F.create_map(*[F.lit(x) for kv in rot.items() for x in kv]),
        F.col("lang")))
    models_rot = train_langid_classifier(docs_rot, langs)
    scored_rot = langid_score(docs, models_rot)
    follows = scored_rot.join(docs.select("doc_id", "lang"), "doc_id")
    mismatch = follows.withColumn("expect", F.element_at(
        F.create_map(*[F.lit(x) for kv in rot.items() for x in kv]),
        F.col("lang"))).where(
        F.col("detected_lang") != F.col("expect")).count()
    assert mismatch == 0


def test_langid_score_single_language(spark):
    # r17 review fix: one-language models (binary detect) must not
    # crash F.greatest
    from pyspark.sql import functions as F

    from postgres_debezium_clickhouse_spark.operators.classifier import (
        langid_score,
    )

    df = spark.range(5).withColumnRenamed("id", "doc_id").withColumn(
        "text", F.lit("hello world"))
    out = langid_score(df, {"en": ([10] * 16, 0)}).collect()
    assert all(r.detected_lang == "en" for r in out)
