"""Text analysis operators for training-data pipelines: language ID,
quality scoring, token counting, document fingerprinting.

All pure DataFrame expressions (whole-stage codegen; no Python UDFs) with
md5-portable hashing so the DuckDB oracles reproduce results exactly.
"""

from __future__ import annotations

import operator
from functools import partial, reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: language marker tokens for the n-gram/stopword heuristic language ID.
#: Deliberately tiny — the operator contract is deterministic scoring +
#: argmax with fixed precedence, not linguistic accuracy.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a"],
    "es": ["el", "la"],
    "de": ["der", "und"],
    "fr": ["le", "et"],
}

#: BPE-ish pre-tokenizer: word / number / single non-space symbol — the
#: standard GPT-2-style pre-split shape, portable between Java and RE2
#: regex engines.
TOKEN_RE = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"

STOPWORDS = ["the", "a", "and", "of"]


def _tokens(text_col: str) -> F.Column:
    return F.split(F.col(text_col), " ")


def text_stats(documents: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-document surface statistics (length/token counts/diversity)."""
    df = documents.withColumn("__tk", _tokens(text_col))
    n_tokens = F.size("__tk").cast("long")
    n_distinct = F.size(F.array_distinct("__tk")).cast("long")
    sum_len = F.expr("aggregate(transform(__tk, x -> length(x)), 0, (a, x) -> a + x)")
    return df.select(
        F.col(id_col),
        F.length(text_col).cast("long").alias("n_chars"),
        n_tokens.alias("n_tokens"),
        n_distinct.alias("n_distinct_tokens"),
        F.round(sum_len * 1.0 / n_tokens, 4).alias("avg_token_len"),
        F.round(n_distinct * 1.0 / n_tokens, 4).alias("token_diversity"),
    )


def readability_scores(documents: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """r14 — Flesch Reading Ease + Flesch-Kincaid grade level (Flesch
    1948; Kincaid et al. 1975), the readability pair edu-quality
    pipelines score with (the FineWeb-Edu class of filters ranks
    pages by exactly this kind of signal before the model-based pass):

        FRE      = 206.835 − 1.015·(W/S) − 84.6·(Syl/W)
        FK grade = 0.39·(W/S) + 11.8·(Syl/W) − 15.59

    Deterministic engine-portable restatement: W = non-empty
    whitespace tokens; S = max(1, count of ``[.!?]+`` runs) (a
    document is at least one sentence); syllables(word) = max(1,
    count of ``[aeiouy]+`` runs in the lowercased word) — the
    standard vowel-group heuristic, stated as the contract (no
    silent-e special case: both engines must count the SAME integer,
    and the filter's use is ordinal).  All three inputs are exact
    integers; each score is one double dag under the
    floor(x·1e6+0.5)/1e6 discipline, mirrored in the oracle.

    Plan: pure map pass — regexp_count + a lambda aggregate over the
    token array, whole-stage codegen, no UDF, no shuffle; at 100 TB
    this costs exactly a projection."""
    words = F.filter(F.split(F.lower(F.col(text_col)), " "),
                     lambda x: x != "")
    df = documents.withColumn("__w", words).select(
        F.col(id_col),
        F.size("__w").cast("long").alias("n_words"),
        F.greatest(
            F.lit(1), F.regexp_count(F.col(text_col), F.lit("[.!?]+"))
        ).cast("long").alias("n_sentences"),
        F.expr(
            "aggregate(transform(__w,"
            " x -> greatest(1, regexp_count(x, '[aeiouy]+'))),"
            " cast(0 as bigint), (a, x) -> a + x)"
        ).alias("n_syllables"),
    )
    wps = "(cast(n_words as double) / cast(n_sentences as double))"
    spw = "(cast(n_syllables as double) / cast(n_words as double))"
    fre = (
        f"((cast(206.835 as double) - (cast(1.015 as double) * {wps}))"
        f" - (cast(84.6 as double) * {spw}))"
    )
    fk = (
        f"(((cast(0.39 as double) * {wps})"
        f" + (cast(11.8 as double) * {spw})) - cast(15.59 as double))"
    )
    six = "floor({} * 1e6 + 0.5) / 1e6"
    return df.select(
        id_col,
        "n_words",
        "n_sentences",
        "n_syllables",
        F.when(F.col("n_words") > 0,
               F.expr(six.format(fre))).alias("flesch_reading_ease"),
        F.when(F.col("n_words") > 0,
               F.expr(six.format(fk))).alias("fk_grade"),
    )


#: entity decode table, applied AFTER tag removal; ``&amp;`` must be last
#: so double-escaped input decodes one level per pass (the standard order).
_ENTITIES = [("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
             ("&#39;", "'"), ("&nbsp;", " "), ("&amp;", "&")]


def strip_markup(documents: DataFrame, id_col: str = "doc_id",
                 text_col: str = "html", out_col: str = "clean") -> DataFrame:
    """HTML/markup → text extraction, the first stage of every web-scrape
    training pipeline (upstream of the C4-style boilerplate removal in
    ``remove_common_spans``): drop ``<script>``/``<style>`` blocks WITH
    their contents, strip remaining tags, decode the common entities,
    collapse whitespace.  Pure ``regexp_replace`` chain — JVM-side,
    whole-stage codegen, no UDF, no shuffle; at 100 TB this is a map pass
    over the scrape, exactly as cheap as a projection.

    Deliberately regex-level (not an HTML5 tree parser): malformed markup
    degrades to extra whitespace, never to a crash — the right trade for
    dirty web data.  Emits ``n_removed`` (chars dropped) so a
    markup-density quality signal falls out for free."""
    c = F.col(text_col)
    # (?is): case-insensitive + dotall so blocks spanning lines die too.
    # Two patterns, no backreference — keeps the regexes inside RE2's
    # subset so the DuckDB oracle runs the IDENTICAL expressions.
    c2 = F.regexp_replace(c, r"(?is)<script\b[^>]*>.*?</script\s*>", " ")
    c2 = F.regexp_replace(c2, r"(?is)<style\b[^>]*>.*?</style\s*>", " ")
    c2 = F.regexp_replace(c2, r"(?s)<[^>]*>", " ")
    for ent, ch in _ENTITIES:
        c2 = F.regexp_replace(c2, ent, ch)
    c2 = F.trim(F.regexp_replace(c2, r"\s+", " "))
    return documents.select(
        F.col(id_col),
        c2.alias(out_col),
        (F.length(c) - F.length(c2)).cast("long").alias("n_removed"),
    )


def language_id(documents: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Marker-token language ID: score = number of marker-token occurrences
    per language; argmax with fixed precedence (en>es>de>fr), 'und' when all
    scores are zero."""
    df = documents.withColumn("__tk", _tokens(text_col))
    scores = {
        lang: F.size(F.expr(f"filter(__tk, x -> x IN ({', '.join(repr(m) for m in markers)}))"))
        for lang, markers in LANG_MARKERS.items()
    }
    langs = list(LANG_MARKERS)
    mx = F.greatest(*[scores[lang] for lang in langs])
    detected = F.lit("und")
    # first language (in declaration order) holding the max score wins
    chain = F.when(mx <= 0, "und")
    for lang in langs:
        chain = chain.when(scores[lang] == mx, lang)
    detected = chain.otherwise("und")
    return df.select(
        F.col(id_col),
        *[scores[lang].cast("long").alias(f"score_{lang}") for lang in langs],
        detected.alias("detected_lang"),
    )


def _quality_cols(text_col: str = "text") -> dict[str, F.Column]:
    """The quality-gate signal columns — the ONE definition, shared by
    :func:`quality_score` and the single-pass funnel restructure in
    llm_curation_queries (r19-opt).  ``filter(split(...))`` spells the
    tokenization inline because CollapseProject inlines the ``__tk``
    alias into every use anyway; whole-stage codegen's common
    subexpression elimination dedupes the split either way."""
    tk = _tokens(text_col)
    n_tokens = F.size(tk).cast("long")
    n_distinct = F.size(F.array_distinct(tk)).cast("long")
    stop = F.size(
        F.expr(
            f"filter(split({text_col}, ' '), "
            f"x -> x IN ({', '.join(repr(s) for s in STOPWORDS)}))"
        )
    ).cast("long")
    diversity = F.round(n_distinct * 1.0 / n_tokens, 4)
    stop_ratio = F.round(stop * 1.0 / n_tokens, 4)
    len_ok = (F.length(text_col) >= 100) & (F.length(text_col) <= 1000)
    keep = len_ok & (diversity >= F.lit(0.15)) & (stop_ratio <= F.lit(0.5))
    return {
        "token_diversity": diversity,
        "stopword_ratio": stop_ratio,
        "len_ok": len_ok,
        "keep": keep,
        "n_tokens": n_tokens,
    }


def quality_score(documents: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Composite quality gate: length bounds, token diversity, stopword
    ratio — the standard cheap pre-filter before expensive dedup/training."""
    qc = _quality_cols(text_col)
    return documents.select(
        F.col(id_col),
        qc["token_diversity"].alias("token_diversity"),
        qc["stopword_ratio"].alias("stopword_ratio"),
        qc["len_ok"].alias("len_ok"),
        qc["keep"].alias("keep"),
    )


def token_count_regex(documents: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """BPE-ish pre-tokenization count via regexp (portable pattern)."""
    return documents.select(
        F.col(id_col),
        F.size(F.expr(f"regexp_extract_all({text_col}, '{TOKEN_RE}', 0)")).cast("long").alias("n_re_tokens"),
        F.size(_tokens(text_col)).cast("long").alias("n_ws_tokens"),
    )


def repetition_score(documents: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3) -> DataFrame:
    """Gopher-style repetition signal: the fraction of a document's word
    ``k``-grams that are duplicates of an earlier one.  Boilerplate, scraped
    nav-bars, and degenerate generations score high; clean prose scores
    near 0.  Linear per-document array math, no shuffle."""
    df = documents.withColumn("__tk", _tokens(text_col)).withColumn(
        "__sh",
        F.expr(
            f"transform(sequence(1, greatest(size(__tk) - {k - 1}, 0)),"
            f" i -> concat_ws(' ', slice(__tk, i, {k})))"
        ),
    )
    n_sh = F.size("__sh").cast("long")
    n_distinct = F.size(F.array_distinct("__sh")).cast("long")
    return df.select(
        F.col(id_col),
        n_sh.alias("n_ngrams"),
        n_distinct.alias("n_distinct_ngrams"),
        F.round((n_sh - n_distinct) * 1.0 / F.greatest(n_sh, F.lit(1)), 6).alias("dup_ratio"),
    )


def vocab_topk(documents: DataFrame, k: int = 100, text_col: str = "text") -> DataFrame:
    """Corpus vocabulary: the ``k`` most frequent whitespace tokens with a
    deterministic tie-break (count desc, then token asc) so the cut line is
    reproducible.  One explode + one map-side-combinable groupBy; the final
    top-k is a driver-free global sort-limit (Spark's TakeOrderedAndProject)."""
    counts = (
        documents.select(F.explode(_tokens(text_col)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return counts.orderBy(F.col("n").desc(), F.col("token").asc()).limit(k)


def vocab_coverage(documents: DataFrame, ks: list[int] | None = None,
                   text_col: str = "text") -> DataFrame:
    """Tokenizer-design report: for each candidate vocabulary size ``k``,
    what fraction of all token OCCURRENCES the top-``k`` vocabulary covers
    (count-desc, token-asc cut — same deterministic line as
    ``vocab_topk``).  The curve that picks a vocab size before training a
    tokenizer on the corpus.

    One explode + one map-side-combinable token groupBy; the top-max(k)
    cut is a driver-free global sort-limit (TakeOrderedAndProject — never
    a one-partition window over the full vocab), the rank window then runs
    over ≤max(k) rows, and the occurrence total folds off the count table
    — no second corpus scan."""
    from pyspark.sql import Window

    ks = ks or [10, 30, 100]
    counts = (
        documents.select(F.explode(_tokens(text_col)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    top = counts.orderBy(F.col("n").desc(), F.col("token").asc()).limit(max(ks))
    ranked = top.withColumn(
        "rnk", F.row_number().over(Window.orderBy(F.col("n").desc(), F.col("token").asc()))
    )
    # denominator = ALL occurrences (the full counts table) — summing the
    # top-max(ks) cut instead would inflate coverage on any corpus with
    # more than max(ks) distinct tokens
    total = counts.agg(F.sum("n").alias("__total"))
    rows = [
        ranked.filter(F.col("rnk") <= k)
        .agg(F.sum("n").alias("covered"))
        .select(F.lit(k).alias("k"), "covered")
        for k in sorted(ks)
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.join(F.broadcast(total)).select(
        "k",
        F.col("covered").cast("long").alias("covered"),
        F.round(F.col("covered") / F.col("__total"), 6).alias("coverage"),
    )


def extract_urls(documents: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """URL extraction — one row per ``https?://`` match with its domain
    (the link-analysis primitive behind link-density quality signals,
    domain-level dedup, and source attribution in web-scrape pipelines).
    Whitespace-delimited match, RE2-subset regex → the DuckDB oracle runs
    the identical pattern.  Map + explode, no shuffle."""
    # Spark SQL string literals process backslash escapes, so the regex
    # needs a DOUBLED backslash at the SQL level to deliver \s to the
    # engine ('[^\s]' would silently become '[^s]' — match-until-letter-s)
    urls = F.expr(f"regexp_extract_all({text_col}, 'https?://[^\\\\s]+', 0)")
    return (
        documents.select(F.col(id_col), F.explode(urls).alias("url"))
        .withColumn("domain", F.regexp_extract("url", "^https?://([^/]+)", 1))
    )


def tfidf_top_terms(
    documents: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document top-``k`` terms by TF-IDF (ln(N/df) idf, raw tf),
    deterministic tie-break (score desc, token asc) — the classic keyword
    extraction / relevance-weighting pass.

    Plan: one explode → per-(doc,token) counts (map-side combinable) →
    token document frequencies (second small agg) joined back → per-doc
    window top-k.  The df table is vocabulary-sized — broadcastable at any
    corpus scale."""
    from pyspark.sql import Window

    from .dedup import spread_for_compute

    # r19-opt (guide §2.5): spread the sub-4GB corpus scan before the
    # CPU-bound explode+partial-agg map stage (see lm_5gram_kneser_ney)
    toks = spread_for_compute(documents.select(id_col, text_col)).select(
        F.col(id_col), F.explode(_tokens(text_col)).alias("token")
    )
    tf = toks.groupBy(id_col, "token").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    # N as an IN-PLAN count-star branch, not a driver-side
    # documents.count(): the count(*) scan reads NO columns (empty
    # ReadSchema — parquet row-group metadata only), so the corpus text is
    # decoded and tokenized exactly once per run even at 100 TB, and the
    # whole query stays one lazy plan (no extra blocking job).
    n_df = documents.groupBy().agg(F.count(F.lit(1)).alias("__n_docs"))
    scored = (
        tf.join(F.broadcast(df_), "token")
        .crossJoin(F.broadcast(n_df))
        .withColumn(
            "tfidf", F.round(F.col("tf") * F.log(F.col("__n_docs") / F.col("df")), 6)
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.col("tfidf").desc(), F.col("token").asc())
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select(id_col, "token", "tf", "df", "tfidf", F.col("__rn").cast("long").alias("rank"))
    )


def fingerprint(documents: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 4) -> DataFrame:
    """Winnowing-style fingerprint: the n lexicographically-smallest md5
    digests of the document's 3-gram shingles, concatenated.  Two documents
    sharing a fingerprint prefix are near-dup candidates — a cheap
    sortable/groupable sketch."""
    df = documents.withColumn("__tk", _tokens(text_col)).withColumn(
        "__sh",
        F.expr(
            "array_distinct(transform(sequence(1, greatest(size(__tk) - 2, 0)),"
            " i -> concat_ws(' ', slice(__tk, i, 3))))"
        ),
    )
    fp = F.expr(f"array_join(slice(array_sort(transform(__sh, s -> md5(s))), 1, {n}), '')")
    return df.select(F.col(id_col), fp.alias("fingerprint"))


def commonness_score(
    documents: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document token-commonness: the mean corpus document-frequency
    ratio over the document's DISTINCT tokens — a perplexity proxy built
    from exact integer counts (no ``log``, so the oracle is bit-exact).
    Low score = tokens few other documents use (gibberish, code dumps,
    boilerplate IDs); high = everyday vocabulary.

    Plan: explode distinct tokens → vocabulary-sized df table (map-side
    combinable, broadcastable at any corpus scale) → join back → one
    grouped AVG.  Same shape as TF-IDF minus the window.  N docs is an
    in-plan count-star branch (empty-ReadSchema scan: parquet row-group
    metadata only) broadcast as one row — NOT a driver-side ``count()``,
    which would decode and tokenize the corpus a second time."""
    pairs = documents.select(
        F.col(id_col), F.explode(F.array_distinct(_tokens(text_col))).alias("token")
    )
    df_ = pairs.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n_df = documents.groupBy().agg(F.count(F.lit(1)).alias("__n_docs"))
    per_doc = (
        pairs.join(F.broadcast(df_), "token")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_distinct_tokens"),
            F.sum("df").alias("__sum_df"),
        )
    )
    return per_doc.crossJoin(F.broadcast(n_df)).select(
        F.col(id_col),
        F.col("n_distinct_tokens"),
        # = AVG(df/n_docs), but as ONE division over exact integer
        # sums — no float-summation-order sensitivity in the oracle
        F.round(
            F.col("__sum_df") / (F.col("n_distinct_tokens") * F.col("__n_docs")), 6
        ).alias("commonness"),
    )


def lm_unigram_logprob(
    documents: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """CCNet-style language-model perplexity filter (Wenzek et al. 2020,
    public paper), with the corpus's own unigram LM standing in for the
    external KenLM 5-gram: score every document by its mean token
    log-probability ``avg_logprob = (Σ_t ln cnt_t)/n − ln(total)`` and the
    corresponding perplexity ``exp(−avg_logprob)``.  High perplexity =
    improbable token stream (gibberish, code dumps, OCR noise) — the
    standard cut is dropping the worst-perplexity tail per language.

    Unlike ``commonness_score`` (document-frequency ratio over DISTINCT
    tokens) this is occurrence-weighted and log-space — the actual LM
    quantity, directly comparable to a KenLM-scored pipeline.

    Plan: one explode → vocabulary-sized unigram count table (map-side
    combinable, broadcast back) → per-doc grouped sum of ``ln cnt``.  The
    corpus-total token count folds FROM the unigram table (vocabulary-sized
    input, one row out) — no second corpus scan, and ``ln(total)`` is
    applied once per doc, not per token."""
    # r19-opt (guide §2.5): spread the sub-4GB corpus scan before the
    # CPU-bound explode+partial-agg map stages (see lm_5gram_kneser_ney)
    from .dedup import spread_for_compute

    toks = spread_for_compute(documents.select(id_col, text_col)).select(
        F.col(id_col), F.explode(_tokens(text_col)).alias("token")
    )
    uni = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    tot = uni.groupBy().agg(F.sum("cnt").alias("__total"))
    per = (
        toks.join(F.broadcast(uni), "token")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.log("cnt")).alias("__sum_ln"),
        )
    )
    avg = F.col("__sum_ln") / F.col("n_tokens") - F.log("__total")
    return per.crossJoin(F.broadcast(tot)).select(
        F.col(id_col),
        F.col("n_tokens"),
        F.round(avg, 6).alias("avg_logprob"),
        F.round(F.exp(-avg), 4).alias("ppl"),
    )


def ccnet_perplexity_buckets(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """CCNet head/middle/tail perplexity bucketing (Wenzek et al. 2020
    §4.4) — the piece that completes the repo's CCNet pipeline next to
    ``paragraph_dedup`` and the LM perplexity score: within each
    language, documents are split into terciles by LM score; ``head``
    (lowest perplexity = most fluent) is what CCNet keeps for
    pretraining, ``tail`` is the drop candidate.

    Buckets are DISCRETE order-statistic cuts by rank (ceil(n/3),
    ceil(2n/3) in exact integer arithmetic; ties on the round-6
    avg_logprob break by doc id) — the same engine-portable idiom as
    ``adaptive_length_threshold``; an interpolating percentile would
    not replay across engines.  Ranking on the round-6 score (not the
    raw double) keeps the two engines' orderings identical even when
    their ``exp``/``ln`` libraries disagree past the 6th decimal.

    Plan: the LM score is ``lm_unigram_logprob``'s (one explode,
    vocabulary table broadcast back); bucketing adds one shuffle by
    language + a per-language rank window.  At 100 TB a handful of
    language partitions each sort their full corpus slice — shard the
    stratum finer (lang × source) exactly as adaptive_length_threshold
    documents, or pre-aggregate cut VALUES from a stratified sample."""
    from pyspark.sql import Window

    per = lm_unigram_logprob(documents, id_col, text_col)
    scored = documents.select(F.col(id_col), F.col(lang_col)).join(per, id_col)
    w = Window.partitionBy(lang_col).orderBy(
        F.col("avg_logprob").desc(), F.col(id_col).asc()
    )
    ranked = scored.withColumn("__rn", F.row_number().over(w)).withColumn(
        "__cnt", F.count(F.lit(1)).over(Window.partitionBy(lang_col))
    )
    c1 = F.floor((F.col("__cnt") + 2) / 3)        # ceil(n/3)
    c2 = F.floor((F.col("__cnt") * 2 + 2) / 3)    # ceil(2n/3)
    bucket = (
        F.when(F.col("__rn") <= c1, F.lit("head"))
        .when(F.col("__rn") <= c2, F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return ranked.select(
        F.col(id_col), F.col(lang_col), "n_tokens", "avg_logprob", "ppl",
        bucket.alias("bucket"),
    )


def boilerplate_ngrams(
    documents: DataFrame,
    k: int = 5,
    min_docs: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-document boilerplate signal (C4-style): the fraction of a
    document's DISTINCT word ``k``-grams that also appear in at least
    ``min_docs`` documents corpus-wide.  Nav bars, license headers, and
    template scaffolding score high; original prose scores near 0 — the
    standard companion to per-doc ``repetition_score`` (which only sees
    repeats WITHIN one document).

    Plan: explode distinct k-grams → corpus document-frequency per k-gram
    (map-side combinable groupBy) → join back on the k-gram key → one
    grouped sum per doc.  Unlike the token-vocabulary joins (tfidf/
    commonness) the k-gram table grows with the corpus, so the join-back is
    a plain shuffle join on the k-gram key, NOT a broadcast — both sides
    shuffle once on the same key and nothing is ever all-pairs.  Documents
    with fewer than ``k`` tokens have no k-grams and are absent from the
    output (mirrored by the oracle)."""
    grams = documents.withColumn("__tk", _tokens(text_col)).select(
        F.col(id_col),
        F.explode(
            F.expr(
                f"CASE WHEN size(__tk) >= {k} THEN "
                f"array_distinct(transform(sequence(1, size(__tk) - {k - 1}),"
                f" i -> concat_ws(' ', slice(__tk, i, {k}))))"
                f" ELSE array() END"
            )
        ).alias("ngram"),
    )
    df_ = grams.groupBy("ngram").agg(F.count(F.lit(1)).alias("df"))
    return (
        grams.join(df_, "ngram")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_distinct_ngrams"),
            F.sum((F.col("df") >= min_docs).cast("long")).alias("n_common_ngrams"),
        )
        .select(
            F.col(id_col),
            F.col("n_distinct_ngrams"),
            F.col("n_common_ngrams"),
            # ONE division over exact integer counts — oracle-bit-exact
            F.round(F.col("n_common_ngrams") / F.col("n_distinct_ngrams"), 6).alias(
                "boilerplate_ratio"
            ),
        )
    )


def gopher_rules(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """Gopher-style rule-based quality flags (Rae et al. 2021 §A1.1, public
    paper): word-count bounds, mean-word-length bounds, symbol-to-word
    ratio, and a stopword-presence check, plus the conjunction.

    Every flag is computed in EXACT INTEGER arithmetic (e.g. the
    mean-word-length band 3..10 is tested as ``3·n_words ≤ Σlen ≤
    10·n_words``) so the pass/fail line is engine-portable — no float
    threshold can flip between Spark and the oracle.  The reported ratio
    columns are informational roundings of the same integers.  Map-only,
    no shuffle; fuses into the scan at any scale."""
    df = documents.withColumn("__tk", _tokens(text_col))
    n_words = F.size("__tk").cast("long")
    sum_len = F.expr(
        "aggregate(transform(__tk, x -> length(x)), cast(0 as bigint), (a, x) -> a + x)"
    )
    # stripping [A-Za-z0-9 ] leaves exactly the symbol characters
    n_sym = F.length(F.regexp_replace(F.col(text_col), "[A-Za-z0-9 ]", "")).cast("long")
    stop_lits = ", ".join(repr(s) for s in STOPWORDS)
    n_stop_distinct = F.size(
        F.expr(f"array_intersect(array_distinct(__tk), array({stop_lits}))")
    ).cast("long")
    words_ok = (n_words >= 50) & (n_words <= 100000)
    mean_len_ok = (sum_len >= 3 * n_words) & (sum_len <= 10 * n_words)
    symbol_ok = n_sym * 10 < n_words
    stop_ok = n_stop_distinct >= 2
    return df.select(
        F.col(id_col),
        *[F.col(c) for c in passthrough],
        n_words.alias("n_words"),
        F.round(sum_len / n_words, 6).alias("mean_word_len"),
        F.round(n_sym / n_words, 6).alias("symbol_word_ratio"),
        n_stop_distinct.alias("n_stop_distinct"),
        words_ok.alias("words_ok"),
        mean_len_ok.alias("mean_len_ok"),
        symbol_ok.alias("symbol_ok"),
        stop_ok.alias("stop_ok"),
        (words_ok & mean_len_ok & symbol_ok & stop_ok).alias("passes"),
    )


def _threshold_from_counts(
    d: DataFrame,
    pct_num: int = 1,
    pct_den: int = 10,
    stratum_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """→ ``(stratum, threshold_tokens)`` from a precomputed
    ``(id, stratum, n_tokens)`` frame — the order-statistic core of
    :func:`adaptive_length_threshold`, factored out (r19-opt) so the
    single-pass funnel can derive thresholds from its one metadata pass
    instead of re-tokenizing the corpus.  Contract: ``n_tokens`` must be
    the same ``size(split(text, ' '))`` count the public operator
    computes; one row per stratum is guaranteed (``ceil(cnt·p) ≤ cnt``)."""
    from pyspark.sql import Window

    w = Window.partitionBy(stratum_col).orderBy(F.col("n_tokens").asc(), F.col(id_col).asc())
    ranked = d.withColumn("__rn", F.row_number().over(w)).withColumn(
        "__cnt", F.count(F.lit(1)).over(Window.partitionBy(stratum_col))
    )
    # ceil(cnt·num/den) in exact integer arithmetic
    idx = F.floor((F.col("__cnt") * pct_num + (pct_den - 1)) / pct_den)
    return (
        ranked.filter(F.col("__rn") == F.greatest(idx, F.lit(1)))
        .select(F.col(stratum_col), F.col("n_tokens").alias("threshold_tokens"))
    )


def adaptive_length_threshold(
    documents: DataFrame,
    pct_num: int = 1,
    pct_den: int = 10,
    stratum_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-stratum adaptive quality cutoff: the token-count value at the
    ``pct_num/pct_den`` order statistic (default P10), plus how many
    documents fall below it — fixed global thresholds misfire when corpora
    mix languages/domains with different natural lengths.

    The order statistic is DISCRETE (the value at integer index
    ``ceil(n·p)``, computed with integer arithmetic) — deliberately not an
    interpolating percentile, whose float interpolation is not
    engine-portable.  One window per stratum (rank by token count) + one
    grouped agg; at 100 TB shard the stratum finer (lang×source) if one
    stratum exceeds a single executor's window capacity."""
    n = F.size(_tokens(text_col)).cast("long")
    d = documents.select(F.col(id_col), F.col(stratum_col), n.alias("n_tokens"))
    thresholds = _threshold_from_counts(d, pct_num, pct_den, stratum_col, id_col)
    return (
        d.join(thresholds, stratum_col)
        .groupBy(stratum_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.first("threshold_tokens").alias("threshold_tokens"),
            F.sum((F.col("n_tokens") < F.col("threshold_tokens")).cast("long")).alias("n_below"),
        )
    )


def normalize_unicode(
    documents: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Unicode repair pass — the standard first normalization step of a
    crawl-curation pipeline (C4/CCNet both NFC-normalize before anything
    hashes text): strip C0 control characters (keeping \\t \\n \\r), then
    NFC-compose combining sequences so visually-identical strings hash
    identically downstream (exact dedup, MinHash shingles, URL digests all
    key on bytes).  Also surfaces the U+FFFD replacement-char count — the
    standing mojibake signal of a mis-decoded source.

    Spark has no NFC builtin, so this is an Arrow-batched ``mapInPandas``
    (stdlib ``unicodedata``, vectorized per batch — the documented slow
    path, used only because the JVM surface genuinely lacks the op).  At
    100 TB the pass is map-only: no shuffle, fuses with the scan, and the
    output feeds every digest-keyed operator.

    Emits (id, normalized, changed, n_controls, n_mojibake); ``changed``
    compares against the ORIGINAL text, so callers can cheaply count how
    much of the corpus needed repair."""
    import re as _re

    import pandas as pd
    from pyspark.sql import types as T

    ctrl = _re.compile(r"[\x00-\x08\x0b\x0c\x0e-\x1f]")
    schema = T.StructType(
        [
            # id passes through untouched, so its output type is whatever
            # the input column already is (ADVICE r7: hardcoding LongType
            # broke string/int32 doc-id corpora at the Arrow boundary)
            T.StructField(id_col, documents.schema[id_col].dataType),
            T.StructField("normalized", T.StringType()),
            T.StructField("changed", T.BooleanType()),
            T.StructField("n_controls", T.IntegerType()),
            T.StructField("n_mojibake", T.IntegerType()),
        ]
    )

    def _norm(batches):
        import unicodedata

        for pdf in batches:
            ids, out, chg, nc, nm = [], [], [], [], []
            for doc_id, s in zip(pdf[id_col], pdf[text_col]):
                ids.append(doc_id)
                if s is None or (isinstance(s, float) and pd.isna(s)):
                    out.append(None), chg.append(None), nc.append(None), nm.append(None)
                    continue
                stripped = ctrl.sub("", s)
                n = unicodedata.normalize("NFC", stripped)
                out.append(n)
                chg.append(n != s)
                nc.append(len(s) - len(stripped))
                nm.append(s.count("�"))
            yield pd.DataFrame(
                {id_col: ids, "normalized": out, "changed": chg,
                 "n_controls": nc, "n_mojibake": nm}
            )

    return documents.select(id_col, text_col).mapInPandas(_norm, schema)


def bm25_topk(
    documents: DataFrame,
    queries: list[tuple[int, str]],
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Okapi BM25 top-``k`` retrieval (Robertson/Spärck Jones; the
    Lucene/Elasticsearch default ranking) — the lexical-retrieval
    workhorse of decontamination sweeps and RAG-ish corpus queries,
    next to the embedding ANN family.

    Formula (Lucene variant): per query term t and doc d,
    idf(t)·tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)) with
    idf = ln(1 + (N−df+0.5)/(df+0.5)); repeated query terms are
    deduplicated (qtf=1).

    Cross-engine determinism: the idf log AND each per-term
    contribution are rounded to 6 places, and the per-(query, doc)
    score is summed as DECIMAL(20,6) — exact and ORDER-INDEPENDENT, so
    Spark's partial-agg order vs DuckDB's scan order cannot flip a
    ranking (float sums are neither).  Ties break on doc id.

    Plan: one corpus tokenize → (doc, token) tf + per-doc length
    (map-side combinable), 1-row N/avgdl scalar attach, query terms
    broadcast-joined — the corpus shuffles once on (doc, token) and
    never on queries.  The df table is computed ONLY for query terms
    (tf semi-filtered by the broadcast qterms BEFORE the df
    aggregation), so the broadcast back is query-term-sized — never
    the full vocabulary, which at 100 TB is 10⁸-10⁹ distinct tokens
    and would OOM the broadcast build (r12 verdict finding)."""
    from pyspark.sql import Window

    spark = documents.sparkSession
    from .dedup import spread_for_compute

    # r19-opt (guide §2.5): spread the sub-4GB corpus scan before the
    # CPU-bound explode+partial-agg map stage (see lm_5gram_kneser_ney)
    toks = spread_for_compute(documents.select(id_col, text_col)).select(
        F.col(id_col), F.explode(_tokens(text_col)).alias("token")
    )
    tf = toks.groupBy(id_col, "token").agg(F.count(F.lit(1)).alias("tf"))
    dl = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("dl"))
    totals = documents.groupBy().agg(
        F.count(F.lit(1)).alias("__n_docs")
    ).crossJoin(
        toks.groupBy().agg(F.count(F.lit(1)).alias("__n_toks"))
    )
    qterms = spark.createDataFrame(
        sorted({(qid, t) for qid, text in queries
                for t in text.split(" ") if t}),
        "query_id long, token string",
    )
    # document frequency ONLY for query terms: the broadcast qtok
    # filter runs map-side over tf, so the df aggregation shuffles a
    # query-term-sized table — the full-vocabulary df never
    # materializes, and the broadcast back is O(|query terms|)
    qtok = qterms.select("token").distinct()
    df_ = (
        tf.join(F.broadcast(qtok), "token")
        .groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    )
    idf = F.round(
        F.log(
            1 + (F.col("__n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
        ), 6,
    )
    avgdl = F.col("__n_toks") / F.col("__n_docs")
    contrib = F.round(
        F.col("__idf") * F.col("tf") * (k1 + 1)
        / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / avgdl)),
        6,
    ).cast("decimal(20,6)")
    scored = (
        tf.join(F.broadcast(qterms), "token")
        .join(F.broadcast(df_), "token")
        .join(dl, id_col)
        .crossJoin(F.broadcast(totals))
        .withColumn("__idf", idf)
        .groupBy("query_id", id_col)
        .agg(F.sum(contrib).alias("__s"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("__s").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", id_col,
            F.col("__s").cast("double").alias("score"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


# ---------------------------------------------------------------------------
# n-gram LM core.  Every smoothing function below (stupid backoff,
# Jelinek-Mercer, Witten-Bell, Kneser-Ney, modified Kneser-Ney) is one
# gram stream over the scored corpus, a list of count tables left-joined
# onto it in order, a probability expression, and the shared per-doc
# rollup.  Only the tables and the expression differ per smoothing.
# ---------------------------------------------------------------------------


def _ngram_stream(df: DataFrame, n: int, top: int | None = None,
                  id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """One row per word ``n``-gram of every document: ``id_col`` plus the
    words, named suffix-aligned for an order-``top`` model
    (``w{top-n+1}..w{top}``; the bigram stream of a trigram model is
    ``w2, w3``).  Words split on single spaces with empties dropped.  The
    gram array is one generated ``zip_with`` over ``n`` offset slices;
    ``greatest(.., 0)`` keeps docs shorter than ``n`` from throwing in
    ``slice`` (they yield no grams).

    The scan goes through ``spread_for_compute`` first: a small parquet
    scans as 1-2 splits and AQE keeps it that narrow, so the explode +
    hash + partial-agg map stage, the ladder's heavy pass, would run
    serial (sf1: 4.7 effective cores on local[32]).  Above 4 GB the
    scan's own splits are trusted and no corpus shuffle is added."""
    from .dedup import spread_for_compute

    top = n if top is None else top
    names = [f"w{i}" for i in range(top - n + 1, top + 1)]
    spread = spread_for_compute(df.select(id_col, text_col))
    words = F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
    if n == 1:
        # explode the expression, not a ``__w`` column: over an attribute
        # InferFiltersFromGenerate adds a size(..) > 0 filter that pushes
        # below the spread and costs the shared corpus exchange its reuse
        return spread.select(F.col(id_col), F.explode(words).alias(names[0]))
    words = spread.withColumn("__w", words)
    span = f"greatest(size(__w) - {n - 1}, 0)"
    sl = [f"slice(__w, {i}, {span})" for i in range(1, n + 1)]
    arr = (f"zip_with({sl[-2]}, {sl[-1]},"
           f" (a, b) -> struct(a as {names[-2]}, b as {names[-1]}))")
    for i in range(n - 3, -1, -1):
        rest = ", ".join(f"r.{c} as {c}" for c in names[i + 1:])
        arr = f"zip_with({sl[i]}, {arr}, (a, r) -> struct(a as {names[i]}, {rest}))"
    return words.select(F.col(id_col), F.explode(F.expr(arr)).alias("g")).select(
        id_col, *(f"g.{c}" for c in names)
    )


def _gram_keys(df: DataFrame) -> list[str]:
    return [c for c in df.columns if c[0] == "w" and c[1:].isdigit()]


def _gram_counts(df: DataFrame, n: int, top: int, cnt: str,
                 id_col: str, text_col: str) -> DataFrame:
    """Raw ``n``-gram count table (column ``cnt``), keyed like
    ``_ngram_stream``.  The all-keys isNotNull filter keeps nothing out
    (split tokens are never null).  It absorbs the join-key isnotnull
    sets that InferFiltersFromConstraints would push into each fan-out
    copy of the table, so every copy canonicalizes identically and AQE
    materializes one shuffle per table (the rest are ReusedExchange)."""
    s = _ngram_stream(df, n, top, id_col, text_col)
    keys = _gram_keys(s)
    keep = reduce(operator.and_, [F.col(k).isNotNull() for k in keys])
    return s.filter(keep).groupBy(*keys).agg(F.count(F.lit(1)).alias(cnt))


def _lm_tables(train: DataFrame, n: int, continuation: bool,
               id_col: str, text_col: str) -> tuple[list[DataFrame], DataFrame]:
    """Count tables of an interpolated order-``n`` model, in join order:
    for each level k = n..2 the count table (``tcnt`` at the top, ``c{k}``
    below) and its per-context totals (``n{k}`` = Σ counts, ``t{k}`` =
    distinct continuations); then the base table ``c1`` keyed by
    ``w{n}``.  Also returns the 1-row normalizer ``__total``.

    ``continuation=False`` (Witten-Bell, Jelinek-Mercer): raw counts at
    every order; ``c1`` is the unigram count, ``__total`` its sum
    (``__vocab`` its row count).  ``continuation=True`` (Kneser-Ney): each
    lower level is the continuation count N₁₊(·u) of the level above
    (KenLM's adjusted counts, so every table derives from the single
    top-order table); ``c1`` = N₁₊(·w) and ``__total`` = N_types over the
    order-2 continuation table.  ``count_rows_keeping`` pins the parent
    count column so pruning cannot turn a derived table into a separate
    re-aggregation of the corpus."""
    from ..functions import count_rows_keeping

    ws = [f"w{i}" for i in range(1, n + 1)]
    t, cnt = _gram_counts(train, n, n, "tcnt", id_col, text_col), "tcnt"
    tables = []
    for k in range(n, 1, -1):
        if k < n:
            if continuation:
                t = t.groupBy(*ws[n - k:]).agg(count_rows_keeping(cnt).alias(f"c{k}"))
            else:
                t = _gram_counts(train, k, n, f"c{k}", id_col, text_col)
            cnt = f"c{k}"
        tables += [t, t.groupBy(*ws[n - k:n - 1]).agg(
            F.sum(cnt).alias(f"n{k}"), F.count(F.lit(1)).alias(f"t{k}"))]
    if continuation:
        base = t.groupBy(ws[-1]).agg(count_rows_keeping(cnt).alias("c1"))
        total = t.groupBy().agg(count_rows_keeping(cnt).alias("__total"))
    else:
        base = _gram_counts(train, 1, n, "c1", id_col, text_col)
        total = base.groupBy().agg(
            F.sum("c1").alias("__total"), F.count(F.lit(1)).alias("__vocab"))
    return tables + [base], total


def _backoff_tables(documents: DataFrame, n: int, id_col: str,
                    text_col: str) -> tuple[list[DataFrame], DataFrame]:
    """Raw k-gram counts of the scored corpus itself, k = n..1, in join
    order.  Each lower order k is joined twice: as the context of order
    k+1 (keys ``w{n-k}..w{n-1}``), then at the transition's suffix
    (``w{n-k+1}..w{n}``).  Count columns are named after their keys
    (``c_w1w2``); the 1-row ``__total`` sums the unigram table."""
    ws = [f"w{i}" for i in range(1, n + 1)]
    tables = []
    for k in range(n, 0, -1):
        # counted under keys past w{n}, so every placement below is a
        # real rename: the copies canonicalize alike and AQE reuses one
        # broadcast (a same-name alias would be dropped as redundant)
        t = _gram_counts(documents, k, n + k, "__c", id_col, text_col)
        for lo in range(max(n - k - 1, 0), n - k + 1):
            keys = ws[lo:lo + k]
            tables.append(t.select(
                *(F.col(a).alias(b) for a, b in zip(_gram_keys(t), keys)),
                F.col("__c").alias("c_" + "".join(keys))))
    return tables, t.groupBy().agg(F.sum("__c").alias("__total"))


# One interpolation level as a fully-parenthesized IEEE-double SQL dag,
# mirrored verbatim in the DuckDB oracles (multiplication/division order
# is bit-significant).  ``inner`` is the next-lower level's probability.
def _kn_level(d: str, cnt: str, nctx: str, n1p: str, inner: str) -> str:
    return (
        f"((greatest(cast(coalesce({cnt}, 0) as double)"
        f" - cast({d} as double), cast(0 as double))"
        f" / cast({nctx} as double))"
        f" + (((cast({d} as double) * cast({n1p} as double))"
        f" / cast({nctx} as double)) * {inner}))"
    )


def _wb_level(cnt: str, nctx: str, n1p: str, inner: str) -> str:
    return (
        f"((cast(coalesce({cnt}, 0) as double)"
        f" + (cast({n1p} as double) * {inner}))"
        f" / (cast({nctx} as double) + cast({n1p} as double)))"
    )


_BASE_PROB = "(cast(c1 as double) / cast(__total as double))"


def _interpolated(documents: DataFrame, train_docs: "DataFrame | None", n: int,
                  level, continuation: bool, id_col: str,
                  text_col: str) -> DataFrame:
    """Order-``n`` interpolated model (Kneser-Ney, Witten-Bell): the
    probability is ``level`` applied from the base ``c1/__total`` up to
    the top, and a transition is OOV when its top context or its last
    word is missing from the train tables."""
    train = documents if train_docs is None else train_docs
    tables, total = _lm_tables(train, n, continuation, id_col, text_col)
    p = _BASE_PROB
    for k in range(2, n + 1):
        p = level("tcnt" if k == n else f"c{k}", f"n{k}", f"t{k}", p)
    return _lm_score(documents, n, tables, [total], F.expr(p), id_col,
                     text_col, unseen=True, oov=True)


def _stupid_backoff(documents: DataFrame, n: int, alpha: float, id_col: str,
                    text_col: str) -> DataFrame:
    """Order-``n`` stupid backoff: the first seen suffix order j (from the
    top) scores α^j·c(suffix)/c(its context), the unigram floor divides
    by the corpus total."""
    ws = [f"w{i}" for i in range(1, n + 1)]
    tables, total = _backoff_tables(documents, n, id_col, text_col)
    steps, wt = [], 1.0
    for j in range(n):
        num = F.col("c_" + "".join(ws[j:]))
        den = F.col("c_" + "".join(ws[j:-1])) if j < n - 1 else F.col("__total")
        steps.append((num.isNotNull(), (F.lit(wt) * num if j else num) / den))
        wt *= alpha
    p = F.when(*steps[0])
    for seen, score in steps[1:-1]:
        p = p.when(seen, score)
    return _lm_score(documents, n, tables, [total], p.otherwise(steps[-1][1]),
                     id_col, text_col)


def _lm_score(documents: DataFrame, n: int, tables: list[DataFrame],
              totals: list[DataFrame], prob, id_col: str, text_col: str,
              unseen: bool = False, oov: bool = False,
              flag: str | None = None) -> DataFrame:
    """Score every order-``n`` transition of ``documents`` with ``prob``
    and roll up per doc.  The gram stream left-joins each table on its
    word keys in order: a table keyed by one word is vocabulary-bounded
    and broadcast; tuple-keyed tables stay shuffle joins.  The 1-row
    ``totals`` are broadcast cross joins.  With ``oov``, a transition
    whose top context (``n{n}``) or last word (``c1``) is missing from
    the train tables is OOV: unscored and counted instead."""
    scored = _ngram_stream(documents, n, id_col=id_col, text_col=text_col)
    for t in tables:
        keys = _gram_keys(t)
        scored = scored.join(F.broadcast(t) if len(keys) == 1 else t, keys, "left")
    for t in totals:
        scored = scored.crossJoin(F.broadcast(t))
    s = F.round(F.log(prob), 6).cast("decimal(20,6)")
    if oov:
        scored = scored.withColumn(
            "__oov", F.col(f"n{n}").isNull() | F.col("c1").isNull())
        s = F.when(~F.col("__oov"), s)
    return _lm_rollup(documents, scored.withColumn("__s", s), id_col,
                      unseen, oov, flag)


def _lm_rollup(documents: DataFrame, scored: DataFrame, id_col: str,
               unseen: bool, oov: bool, flag: str | None) -> DataFrame:
    """Per-doc rollup of the transition scores ``__s``, shared by the
    whole family.  Each ``__s`` is a round-6 ln as DECIMAL(20,6), so the
    per-doc sum is exact and order-independent: Spark's partial-agg order
    and DuckDB's scan order give identical means.  The mean rounds by
    floor(x·1e6 + 0.5)/1e6, not round(): engines disagree on the
    half-way rule (caught at sf0.1, one doc's quotient landed exactly on
    a 6th-decimal boundary), while floor is the same three IEEE ops
    everywhere; ``ppl`` = exp(−mean) rounds the same way at 4 places.
    Docs without transitions emit zero counts and NULL scores.

    Columns: ``id_col, n_transitions, [n_oov], [n_unseen], avg_logscore,
    ppl, [flag]``.  ``n_unseen`` counts scored transitions whose
    top-order gram (``tcnt``) is novel; with ``oov`` the ``__oov`` rows
    are counted in ``n_oov`` and left out of the mean.  ``flag`` carries
    a boolean column per doc by min, true for docs with no transitions."""
    counts = {"n_transitions": F.count(F.lit(1))}
    novel = F.col("tcnt").isNull()
    if oov:
        counts["n_oov"] = F.sum(F.col("__oov").cast("long"))
        novel = novel & ~F.col("__oov")
    if unseen:
        counts["n_unseen"] = F.sum(novel.cast("long"))
    aggs = [c.alias(name) for name, c in counts.items()]
    aggs += [F.sum("__s").alias("__sum"), F.count("__s").alias("__n_scored")]
    if flag:
        aggs.append(F.min(flag).alias(flag))
    per = scored.groupBy(id_col).agg(*aggs)
    n = F.col("__n_scored" if oov else "n_transitions")
    avg = F.floor(F.col("__sum").cast("double") / n * 1e6 + 0.5) / 1e6
    ppl = F.floor(F.exp(-avg) * 1e4 + 0.5) / 1e4
    return documents.select(id_col).join(per, id_col, "left").select(
        F.col(id_col),
        *(F.coalesce(c, F.lit(0)).cast("long").alias(c) for c in counts),
        avg.alias("avg_logscore"),
        ppl.alias("ppl"),
        *([F.coalesce(flag, F.lit(True)).alias(flag)] if flag else []),
    )


def lm_bigram_stupid_backoff(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.4,
) -> DataFrame:
    """Bigram LM scoring with STUPID BACKOFF (Brants et al. 2007, "Large
    Language Models in Machine Translation" — the score web-scale
    distributed LMs actually use, because unlike Katz/Kneser-Ney it
    needs no discounting statistics): each transition w₁→w₂ scores
    cnt(w₁w₂)/cnt(w₁) when the bigram was seen, else α·cnt(w₂)/total
    (α = 0.4, the paper's constant).  One step up the n-gram ladder
    from ``lm_unigram_logprob`` — repeated-context gibberish that fools
    a unigram model (frequent words in impossible orders) scores badly
    here.

    Per document: n_transitions, mean transition log-score, perplexity.
    Docs with fewer than 2 tokens emit n_transitions = 0 with NULL
    scores (nothing to score — stated rather than faked).

    Determinism: each log is rounded to 6 places and the per-doc sum
    runs as DECIMAL(20,6) — exact and order-independent, so Spark's
    partial-agg order and DuckDB's scan order produce identical means
    (the float-sum ranking trap the BM25 operator documents).

    Plan: one corpus tokenize; bigram counts shuffle on the pair key
    (the bigram table is vocabulary²-bounded — too big to broadcast at
    real scale, so the transition scoring JOINS on the pair key);
    unigram table broadcast; total folds from the unigram table."""
    return _stupid_backoff(documents, 2, alpha, id_col, text_col)


def c4_line_filter(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 5,
    min_kept_lines: int = 3,
) -> DataFrame:
    """r13 — C4's line-level cleaning rules (Raffel et al. 2020 §2.2,
    public paper): a line is RETAINED only if it ends in a terminal
    punctuation mark (. ! ? ") and contains at least ``min_words``
    words; a page is DROPPED outright if it contains the phrase
    "lorem ipsum", a curly brace '{', or fewer than ``min_kept_lines``
    retained lines (the paper counts sentences; retained lines are the
    engine-portable proxy, documented here).  Emits per page the line
    counts, the keep/drop verdict with its FIRST matching reason in the
    paper's order (lorem_ipsum → brace → too_few_lines), and the
    REWRITTEN page (retained lines re-joined) — empty when dropped.

    All line logic is JVM array ops over ``split(text, '\\n')`` —
    map-only, no UDF, no shuffle; fuses into the scan at 100 TB."""
    kept = (
        f"filter(split({text_col}, '\\n'), line -> "
        f"line rlike '[.!?\"]$' AND "
        f"size(split(trim(line), ' +')) >= {min_words})"
    )
    df = documents.withColumn("__kept", F.expr(kept))
    has_lorem = F.expr(f"instr(lower({text_col}), 'lorem ipsum') > 0")
    has_brace = F.expr(f"instr({text_col}, '{{') > 0")
    too_few = F.size("__kept") < min_kept_lines
    reason = (
        F.when(has_lorem, F.lit("lorem_ipsum"))
        .when(has_brace, F.lit("brace"))
        .when(too_few, F.lit("too_few_lines"))
        .otherwise(F.lit(""))
    )
    page_kept = ~(has_lorem | has_brace | too_few)
    return df.select(
        F.col(id_col),
        F.size(F.split(F.col(text_col), "\n")).cast("long").alias("n_lines"),
        F.size("__kept").cast("long").alias("n_kept_lines"),
        page_kept.alias("page_kept"),
        reason.alias("drop_reason"),
        F.when(page_kept, F.array_join("__kept", "\n"))
        .otherwise(F.lit("")).alias("cleaned_text"),
    )


def zipf_fit(
    documents: DataFrame,
    top_n: int = 100,
    text_col: str = "text",
) -> DataFrame:
    """r13 — Zipf's-law fit over the corpus vocabulary: OLS of
    ln(frequency) on ln(rank) for the ``top_n`` most frequent tokens
    (rank ties broken token-ASC), emitting slope (the Zipf exponent,
    ≈ −1 for natural text — the standard corpus-health diagnostic),
    intercept, and R².

    Engine-portability: ln values are rounded via the three-IEEE-op
    floor(x·1e6 + 0.5)/1e6 idiom BEFORE summation, per-term products
    are rounded the same way, and all sums run as DECIMAL(20,6) — so
    the OLS closed form consumes identical exact inputs in Spark and
    the DuckDB oracle, and the final one-division arithmetic is
    bit-deterministic.  Scale shape: one (token) shuffle for the
    frequency table, then TakeOrdered top-n (never a full vocabulary
    sort) — the window rank runs on the bounded ``top_n``-row set."""
    from pyspark.sql import Window

    from .dedup import spread_for_compute

    # r19-opt (guide §2.5): spread the sub-4GB corpus scan before the
    # CPU-bound explode+partial-agg map stage (see lm_5gram_kneser_ney)
    toks = spread_for_compute(documents.select(text_col)).select(
        F.explode(_tokens(text_col)).alias("token")
    )
    freqs = toks.groupBy("token").agg(F.count("*").alias("freq"))
    top = freqs.orderBy(F.col("freq").desc(), F.col("token").asc()).limit(top_n)
    w = Window.orderBy(F.col("freq").desc(), F.col("token").asc())
    r6 = "floor({x} * 1e6 + 0.5) / 1e6"
    xy = top.withColumn("rank", F.row_number().over(w).cast("long")).select(
        F.expr(r6.format(x="ln(rank)")).alias("x"),
        F.expr(r6.format(x="ln(freq)")).alias("y"),
    )
    sums = xy.select(
        F.count("*").cast("double").alias("n"),
        F.sum(F.col("x").cast("decimal(20,6)")).cast("double").alias("sx"),
        F.sum(F.col("y").cast("decimal(20,6)")).cast("double").alias("sy"),
        F.sum(F.expr(r6.format(x="x * y")).cast("decimal(20,6)"))
        .cast("double").alias("sxy"),
        F.sum(F.expr(r6.format(x="x * x")).cast("decimal(20,6)"))
        .cast("double").alias("sxx"),
        F.sum(F.expr(r6.format(x="y * y")).cast("decimal(20,6)"))
        .cast("double").alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    dx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    dy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    slope = F.floor(num / dx * 1e6 + 0.5) / 1e6
    return sums.select(
        F.col("n").cast("long").alias("n_points"),
        slope.alias("slope"),
        (F.floor((F.col("sy") - slope * F.col("sx")) / F.col("n") * 1e6 + 0.5)
         / 1e6).alias("intercept"),
        F.when(dy > 0, F.floor(num * num / (dx * dy) * 1e6 + 0.5) / 1e6)
        .alias("r2"),
    )


def lm_trigram_stupid_backoff(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.4,
) -> DataFrame:
    """r13 — TRIGRAM stupid backoff (Brants et al. 2007 §4): the full
    backoff ladder the paper defines, one rung above
    ``lm_bigram_stupid_backoff``.  Each transition (w₁,w₂)→w₃ scores
    cnt(w₁w₂w₃)/cnt(w₁w₂) when the trigram was seen, else
    α·cnt(w₂w₃)/cnt(w₂), else α²·cnt(w₃)/total (α = 0.4, the paper's
    constant, applied once per backoff step).  Per document:
    n_transitions (= n_tokens − 2), mean transition log-score,
    perplexity; docs with < 3 tokens emit n_transitions = 0 with NULL
    scores.

    Determinism: round-6 logs, DECIMAL(20,6) sums, floor-mean — the
    bigram operator's exact discipline.

    Plan: trigram and bigram count tables SHUFFLE on their n-gram keys
    (vocab³/vocab² — never broadcast; the same call the bigram operator
    documents), so scoring is three key-joins: left-join trigram counts
    on (w1,w2,w3), join bigram counts on (w1,w2) [denominator — always
    present for a seen trigram] and left-join on (w2,w3) [backoff
    numerator]; the unigram table and total are broadcast."""
    return _stupid_backoff(documents, 3, alpha, id_col, text_col)


def fineweb_rules(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """r13 — the FineWeb custom quality filters (Penedo et al. 2024
    §3.1, the three line-level heuristics the paper adds BEYOND its
    Gopher/C4 base — this completes the public filter trio next to
    ``gopher_rules`` and ``c4_line_filter``):

    * punctuation rule: fraction of lines ending in terminal
      punctuation must be ≥ 0.12;
    * short-line rule: fraction of lines shorter than 30 chars must be
      ≤ 0.67;
    * duplicated-line rule: fraction of CHARACTERS sitting in repeat
      occurrences of a duplicated line (occurrences after each line's
      first) must be ≤ 0.10.

    Every threshold is tested in EXACT INTEGER cross-multiplication
    (the gopher_rules idiom — no float boundary can flip between
    engines); the reported ratios are informational roundings.  Plan:
    one split + explode, one (doc, line) count shuffle, one per-doc
    regroup — O(total lines), no UDF."""
    lines = documents.select(
        F.col(id_col), F.posexplode(F.split(F.col(text_col), "\n"))
        .alias("__i", "__line"),
    )
    per_line = lines.select(
        id_col,
        F.col("__line"),
        F.length("__line").cast("long").alias("__len"),
        F.col("__line").rlike("[.!?\"]$").cast("int").alias("__punct"),
        (F.length("__line") < 30).cast("int").alias("__short"),
    )
    dup = (
        per_line.groupBy(id_col, "__line")
        .agg(F.count(F.lit(1)).alias("c"), F.first("__len").alias("l"))
        .groupBy(id_col)
        .agg(F.sum((F.col("c") - 1) * F.col("l")).alias("dup_line_chars"))
    )
    per_doc = per_line.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum("__punct").cast("long").alias("punct_lines"),
        F.sum("__short").cast("long").alias("short_lines"),
        F.sum("__len").cast("long").alias("total_line_chars"),
    )
    punct_ok = F.col("punct_lines") * 100 >= F.col("n_lines") * 12
    short_ok = F.col("short_lines") * 100 <= F.col("n_lines") * 67
    dup_ok = F.col("dup_line_chars") * 10 <= F.col("total_line_chars")
    return (
        per_doc.join(dup, id_col)
        .select(
            F.col(id_col),
            "n_lines", "punct_lines", "short_lines",
            "total_line_chars",
            F.col("dup_line_chars").cast("long").alias("dup_line_chars"),
            punct_ok.alias("punct_ok"),
            short_ok.alias("short_ok"),
            dup_ok.alias("dup_ok"),
            (punct_ok & short_ok & dup_ok).alias("passes"),
        )
    )


def lm_bigram_interpolated(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lam: float = 0.7,
) -> DataFrame:
    """r13 — Jelinek-Mercer INTERPOLATED bigram smoothing (Jelinek &
    Mercer 1980; Chen & Goodman 1999 §2.4's baseline): every transition
    scores ln(λ·cnt(w₁w₂)/cnt(w₁) + (1−λ)·cnt(w₂)/total) — unlike
    stupid backoff, a PROPER probability (the mixture sums to 1 over
    w₂), and the unseen-bigram case is the same formula with a zero
    first term, not a separate branch.  λ = 0.7.  The third smoothing
    family next to stupid backoff (bigram + trigram) — the comparison
    that shows why web-scale LMs dropped interpolation: this needs the
    same count tables but held-out λ tuning, where backoff needs
    nothing.

    Same plan and determinism discipline as ``lm_bigram_stupid_backoff``:
    bigram counts shuffle on the pair key, unigrams + total broadcast,
    round-6 logs → DECIMAL(20,6) sums → floor-mean."""
    tables, total = _backoff_tables(documents, 2, id_col, text_col)
    mix = (
        F.lit(lam) * F.coalesce(F.col("c_w1w2"), F.lit(0)) / F.col("c_w1")
        + F.lit(1.0 - lam) * F.col("c_w2") / F.col("__total")
    )
    return _lm_score(documents, 2, tables, [total], mix, id_col, text_col)


def lm_bigram_witten_bell(
    documents: DataFrame,
    train_docs: "DataFrame | None" = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """r14 — Witten-Bell smoothed bigram (Witten & Bell 1991, method C;
    Chen & Goodman 1999 §2.5) — the last classic member of the
    smoothing family next to Jelinek-Mercer, stupid backoff, and
    (modified) Kneser-Ney: interpolation whose mixture weight is the
    context's own TYPE/TOKEN ratio — contexts that keep producing new
    continuations trust the lower order more:

        P(w₂|w₁) = (c(w₁w₂) + N₁₊(w₁·)·P_uni(w₂))
                   / (N(w₁·) + N₁₊(w₁·))

    with N₁₊(w₁·) the distinct continuations of w₁, N(w₁·) its token
    count, and P_uni the train unigram MLE c(w₂)/total.  No tunable
    parameter and no count-of-counts regime — WB is total on any
    corpus (the contrast with modified KN's estimability guard).

    Train/score split, OOV accounting (a transition whose w₁ is an
    unseen context or whose w₂ is an unseen unigram is OOV — counted
    per doc, excluded from the mean), n_unseen, and the round-6-ln →
    DECIMAL(20,6) sum → floor-mean discipline are all inherited from
    the KN siblings; the per-transition dag is one fully-parenthesized
    IEEE-double expression mirrored verbatim in the oracle.

    Plan: the sibling shape exactly — one pair-key shuffle for the
    train bigram table; the context table (token count + distinct
    continuations), the unigram table, and the total are vocab-bounded
    (or 1-row) broadcasts."""
    return _interpolated(documents, train_docs, 2, _wb_level, False,
                         id_col, text_col)


def lm_bigram_modified_kneser_ney(
    documents: DataFrame,
    train_docs: "DataFrame | None" = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """r14 — MODIFIED Kneser-Ney bigram smoothing (Chen & Goodman 1999
    §3, eq. 26) — the variant their study found uniformly best and the
    one every toolkit (SRILM/KenLM) ships as "the" Kneser-Ney: instead
    of one fixed discount D, THREE count-class discounts D₁, D₂, D₃₊
    estimated from the train table's count-of-counts n₁..n₄ by the
    leave-one-out closed form:

        Y   = n₁ / (n₁ + 2·n₂)
        D₁  = 1 − 2·Y·n₂/n₁     (applied to bigrams seen once)
        D₂  = 2 − 3·Y·n₃/n₂     (seen twice)
        D₃₊ = 3 − 4·Y·n₄/n₃     (seen three or more times)

        P(w₂|w₁) = max(c(w₁w₂) − D(c), 0)/N(w₁·) + λ(w₁)·P_cont(w₂)
        λ(w₁) = (D₁·N₁(w₁·) + D₂·N₂(w₁·) + D₃₊·N₃₊(w₁·)) / N(w₁·)

    where Nₖ(w₁·) counts the distinct w₂ with c(w₁w₂) = k (3+ for the
    last), so the per-context freed mass is exactly what the class
    discounts removed and the mixture still sums to 1 over w₂.
    P_cont, the train/score split, OOV accounting (``n_oov`` excluded
    from the mean, ``n_unseen`` = scored-but-unseen transitions) and
    the round-6-ln → DECIMAL(20,6) sum → floor-mean discipline are all
    inherited from ``lm_bigram_kneser_ney``.

    Unestimable classes fall back, SRILM-style: Dₖ's closed form needs
    nₖ > 0 (its denominator); when a class has NO types at exactly
    that count the class discount falls back to Y itself — the Ney et
    al. (1994) single-discount estimate the toolkits substitute when
    the modified form is unestimable.  (A fallback Dₖ is only ever
    APPLIED if some bigram sits in that class — e.g. n₃ = 0 with
    counts ≥ 4 present — otherwise its per-context multiplier
    Nₖ(w₁·) is zero everywhere and the value is inert; it exists so
    the IEEE dag stays NaN-free, since NaN·0 = NaN would poison λ.)

    The regime the modified dag cannot survive — Y undefined
    (n₁ + 2·n₂ = 0, a fully saturated corpus) or a non-positive
    applied discount (C&G's closed form can go negative on
    adversarial count distributions; a zero-or-negative applied
    discount could drive some context's λ(w₁) ≤ 0 and an unseen
    transition into ln(≤0)) — DEGRADES gracefully (r15): all three
    class discounts fall back to the fixed D = 0.75 single-discount
    estimate and ``mkn_regime_ok`` reports ``false``, mirrored
    verbatim in the oracle.  (r14 raised in-plan here; ADVICE r14
    asked for degradation so scale sweeps over saturated fixtures
    never hard-fail.)

    Determinism: D₁/D₂/D₃₊ and every per-transition probability are
    single fully-parenthesized IEEE-double dags over exact integer
    counts, mirrored verbatim in the DuckDB oracle.

    Plan: identical shape to the single-discount KN — the train bigram
    table shuffles once on the pair key; the per-context table (now
    carrying N₁/N₂/N₃₊ alongside the total) and the continuation table
    are vocab-bounded broadcasts; the count-of-counts row is a 1-row
    broadcast."""
    train = documents if train_docs is None else train_docs
    tables, types = _lm_tables(train, 2, True, id_col, text_col)
    bi = tables[0]
    # per-context totals plus N₁/N₂/N₃₊(w₁·), the per-class type counts
    tables[1] = bi.groupBy("w1").agg(
        F.sum("tcnt").alias("n2"),
        F.sum((F.col("tcnt") == 1).cast("long")).alias("nd1"),
        F.sum((F.col("tcnt") == 2).cast("long")).alias("nd2"),
        F.sum((F.col("tcnt") >= 3).cast("long")).alias("nd3p"),
    )
    cc = bi.groupBy().agg(
        F.sum((F.col("tcnt") == 1).cast("long")).alias("n1"),
        F.sum((F.col("tcnt") == 2).cast("long")).alias("n2"),
        F.sum((F.col("tcnt") == 3).cast("long")).alias("n3"),
        F.sum((F.col("tcnt") == 4).cast("long")).alias("n4"),
        F.sum((F.col("tcnt") >= 3).cast("long")).alias("n3p"),
    )
    # Discount dags mirrored verbatim in the oracle (op order is
    # bit-significant in IEEE double).  CASE = the SRILM-style
    # fallback: closed form when the class's count-of-count is
    # positive, else Y itself.
    y_expr = (
        "(cast(n1 as double)"
        " / (cast(n1 as double) + (cast(2 as double) * cast(n2 as double))))"
    )
    disc = cc.withColumn("__y", F.expr(y_expr)).select(
        F.expr(
            "(case when n1 > 0 then"
            " (cast(1 as double) - ((cast(2 as double) * __y)"
            " * (cast(n2 as double) / cast(n1 as double))))"
            " else __y end)"
        ).alias("__d1"),
        F.expr(
            "(case when n2 > 0 then"
            " (cast(2 as double) - ((cast(3 as double) * __y)"
            " * (cast(n3 as double) / cast(n2 as double))))"
            " else __y end)"
        ).alias("__d2"),
        F.expr(
            "(case when n3 > 0 then"
            " (cast(3 as double) - ((cast(4 as double) * __y)"
            " * (cast(n4 as double) / cast(n3 as double))))"
            " else __y end)"
        ).alias("__d3"),
        F.col("n1"),
        F.col("n2"),
        F.col("n3p"),
    )
    # Regime flag (r15, was an in-plan assert in r14): the modified
    # form is estimable only when Y is defined (n₁ + 2·n₂ > 0) AND
    # every discount with a nonempty count class came out POSITIVE
    # (C&G's closed form can go negative on adversarial count
    # distributions).  Outside that regime the estimator DEGRADES
    # instead of raising (ADVICE r14): all three class discounts fall
    # back to the Ney et al. (1994) fixed absolute discount D = 0.75
    # (the single-discount-KN baseline, lm_bigram_kneser_ney's
    # default) and ``mkn_regime_ok`` reports false — a saturated
    # corpus (every bigram count ≥ 5, the sf1 fixture) now scores
    # under plain absolute discounting rather than hard-failing the
    # sweep.  The CASE never lets the fallback regime's NULL/NaN Y
    # reach a multiplication, so λ stays finite.
    ok_sql = (
        "coalesce(((n1 + (2 * n2)) > 0)"
        " and ((n1 = 0) or (__d1 > cast(0 as double)))"
        " and ((n2 = 0) or (__d2 > cast(0 as double)))"
        " and ((n3p = 0) or (__d3 > cast(0 as double))), false)"
    )
    disc = disc.select(
        *(F.expr(f"(case when {ok_sql} then {d}"
                 " else cast(0.75 as double) end)").alias(d)
          for d in ("__d1", "__d2", "__d3")),
        F.expr(ok_sql).alias("mkn_regime_ok"),
    )
    dd = (
        "(case when coalesce(tcnt, 0) >= 3 then __d3"
        " when coalesce(tcnt, 0) = 2 then __d2"
        " when coalesce(tcnt, 0) = 1 then __d1"
        " else cast(0 as double) end)"
    )
    lam = (
        "((((__d1 * cast(nd1 as double)) + (__d2 * cast(nd2 as double)))"
        " + (__d3 * cast(nd3p as double))) / cast(n2 as double))"
    )
    prob = (
        f"((greatest(cast(coalesce(tcnt, 0) as double) - {dd},"
        f" cast(0 as double)) / cast(n2 as double))"
        f" + ({lam} * {_BASE_PROB}))"
    )
    # the regime flag rides through the per-doc aggregation (min) so
    # column pruning cannot drop it
    return _lm_score(documents, 2, tables, [types, disc], F.expr(prob), id_col,
                     text_col, unseen=True, oov=True, flag="mkn_regime_ok")


def lm_bigram_kneser_ney(
    documents: DataFrame,
    train_docs: "DataFrame | None" = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    discount: float = 0.75,
) -> DataFrame:
    """r14 — INTERPOLATED KNESER-NEY bigram smoothing (Kneser & Ney
    1995; Chen & Goodman 1999 §2.7) — the published standard the
    smoothing ladder tops out at: unigram MLE → stupid backoff →
    Jelinek-Mercer → KN.  Two ideas beyond JM: (1) ABSOLUTE
    DISCOUNTING — subtract a fixed D from every seen bigram count and
    hand exactly the freed mass λ(w₁) = D·N₁₊(w₁·)/N(w₁·) to the lower
    order; (2) the lower order is the CONTINUATION probability
    P_cont(w₂) = N₁₊(·w₂)/N_types (how many distinct contexts w₂
    follows), not raw frequency — the "San Francisco" argument:
    "Francisco" is frequent but follows only "San", so it should NOT
    be a likely novel continuation.

        P(w₂|w₁) = max(c(w₁w₂) − D, 0)/N(w₁·) + λ(w₁)·P_cont(w₂)

    with D = 0.75 (Chen & Goodman's fixed-discount baseline), N(w₁·) =
    Σ_w c(w₁w) (the left-context total from the bigram table itself,
    so the seen mass plus the discount mass sums to exactly 1),
    N₁₊(w₁·) / N₁₊(·w₂) the distinct right/left continuation counts,
    N_types the total distinct bigram count.

    ``train_docs`` (default: the scored corpus itself) provides the
    count tables — pass a held-out split to make unseen bigrams real:
    an unseen (w₁,w₂) scores λ(w₁)·P_cont(w₂) — finite, where raw MLE
    is ln 0.  Transitions whose w₁ never appears as a train left
    context or whose w₂ never appears as a train right context are OOV
    under a bigram-table-only model: counted per doc (``n_oov``) and
    excluded from the mean — stated, not faked.  ``n_unseen`` counts
    the scored-but-unseen transitions (the mass the λ·P_cont term
    carries).

    Determinism: every per-transition probability is a fixed dag of
    IEEE-double ops over exact integers, written as the SAME fully
    parenthesized expression in Spark and the DuckDB oracle — bit-
    identical inputs to round-6 ln → DECIMAL(20,6) sums → floor-mean
    (the lm_bigram_stupid_backoff discipline).

    Plan: train bigram counts shuffle once on the pair key (vocab²-
    bounded); the three KN statistics (left-context totals, right-
    continuation counts, N_types scalar) derive from that table;
    scoring joins corpus transitions to the bigram table on the pair
    key and broadcasts the two vocab-bounded side tables — the same
    shape as the JM/backoff siblings, one extra broadcast each way."""
    return _interpolated(documents, train_docs, 2,
                         partial(_kn_level, repr(float(discount))), True,
                         id_col, text_col)


def lm_trigram_kneser_ney(
    documents: DataFrame,
    train_docs: "DataFrame | None" = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    discount: float = 0.75,
) -> DataFrame:
    """r15 — INTERPOLATED TRIGRAM KNESER-NEY (Kneser & Ney 1995; Chen &
    Goodman 1999 §2.7 generalized to order 3) — completes the trigram
    ladder whose last rung was stupid backoff
    (``lm_trigram_stupid_backoff``): the full three-level interpolated
    recursion with fixed discount D at both upper levels and
    CONTINUATION counts below the top, exactly the published recursion:

        P(w₃|w₁w₂) = max(c(w₁w₂w₃) − D, 0)/c(w₁w₂·)
                      + λ(w₁w₂)·P_KN(w₃|w₂)
        λ(w₁w₂)    = D·N₁₊(w₁w₂·)/c(w₁w₂·)

        P_KN(w₃|w₂) = max(c'(w₂w₃) − D, 0)/N₁₊(·w₂·)
                      + λ'(w₂)·P_cont(w₃)
        λ'(w₂)      = D·N₁₊(w₂·)/N₁₊(·w₂·)

    where the MIDDLE level runs on continuation counts, not raw
    bigram counts — c'(w₂w₃) = N₁₊(·w₂w₃) (distinct w₁ preceding the
    bigram), N₁₊(·w₂·) = Σ_w c'(w₂w) (total trigram TYPES with middle
    w₂), N₁₊(w₂·) = distinct w₃ in the continuation table — and the
    base P_cont(w₃) = N₁₊(·w₃)/N_types₂ counts distinct (w₂,w₃)
    continuation types.  Each level hands down exactly the mass its
    discounts freed, so Σ_w₃ P(w₃|w₁w₂) = 1 — a PROPER distribution,
    unlike stupid backoff's unnormalized scores.

    ``train_docs`` (held-out split) makes unseen trigrams real: an
    unseen (w₁,w₂,w₃) whose context is known scores
    λ(w₁w₂)·P_KN(w₃|w₂) — finite where trigram MLE is ln 0.  A
    transition is OOV (excluded from the mean, counted in ``n_oov``)
    when its CONTEXT (w₁,w₂) never occurs in train or its w₃ never
    occurs as a continuation — the trigram-table-only analogue of the
    bigram operator's OOV rule; ``n_unseen`` counts scored
    transitions whose exact trigram is novel.

    Determinism: the per-transition probability is ONE fully
    parenthesized IEEE-double dag over exact integer counts, mirrored
    verbatim in the DuckDB oracle; round-6 ln → DECIMAL(20,6) sum →
    floor-mean, the family discipline.

    Plan (one rung above lm_bigram_kneser_ney's): the train trigram
    table shuffles once on the triple key (vocab³-bounded); the
    context table c(w₁w₂·)/N₁₊(w₁w₂·) and the continuation pair table
    c'(w₂w₃) derive from it by one reshuffle each and stay SHUFFLE
    joins (pair-cardinality — never broadcast, the same call the
    stupid-backoff sibling documents); the two w-keyed tables
    (N₁₊(·w₂·)+N₁₊(w₂·), N₁₊(·w₃)) are vocab-bounded broadcasts and
    N_types₂ is a 1-row broadcast."""
    return _interpolated(documents, train_docs, 3,
                         partial(_kn_level, repr(float(discount))), True,
                         id_col, text_col)


def lm_5gram_kneser_ney(
    documents: DataFrame,
    train_docs: "DataFrame | None" = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    discount: float = 0.75,
) -> DataFrame:
    """r16 (verdict item 5) — INTERPOLATED 5-GRAM KNESER-NEY, the KenLM
    production order (Heafield 2011 trains order-5 KN for the
    CCNet-style perplexity filter; Chen & Goodman 1999 §2.7 recursion
    two orders above ``lm_trigram_kneser_ney``): five levels with fixed
    discount D at every level above the base and CONTINUATION counts
    below the top —

        P(w₅|w₁..w₄) = max(c(w₁..w₅)−D,0)/c(w₁..w₄·)
                        + λ(w₁..w₄)·P₄(w₅|w₂w₃w₄)

    where λ(u) = D·N₁₊(u·)/c(u·), each lower level runs on the
    continuation counts derived from the level above's TYPE table
    (c'ₙ(u) = N₁₊(·u), the KenLM "adjusted counts" construction —
    every table derives from the single 5-gram count table), and the
    base P_cont(w₅) = N₁₊(·w₅)/N_types₂ over (w₄,w₅) continuation
    types.  Σ_w₅ P = 1 per context — a proper distribution at every
    level.

    At order 5 the sparsity regime is REAL: with the even-doc_ids
    train split, most eval 5-grams are unseen (``n_unseen``), so the
    score mass flows through the λ-chain — exactly the regime the
    order-5 filter runs in at crawl scale.  OOV rule one ladder up
    from the trigram sibling: a transition is OOV when its full
    4-word context never occurs in train or its w₅ never occurs as a
    continuation; a seen top context implies every lower context is
    defined (its suffixes appear in the derived tables).

    Determinism: ONE fully-parenthesized IEEE-double dag over exact
    integer counts, mirrored verbatim in the DuckDB oracle; round-6
    ln → DECIMAL(20,6) sum → floor-mean, the family discipline.

    Plan (two rungs above the trigram): the train 5-gram table
    shuffles once on the 5-key (corpus-bounded, sub-5-gram-token
    cardinality); the 4-context table and the order-4/order-3
    continuation tables stay SHUFFLE joins (tuple cardinality); the
    (w₄)-keyed and (w₅)-keyed tables are vocab-bounded broadcasts and
    N_types₂ is a 1-row broadcast — scoring is five key-joins over the
    eval 5-grams, nothing all-pairs, no window.  The derived tables all
    re-aggregate from the declarative t5 expression (the family keeps
    plans pure — no persist, so the driver gate never holds executor
    memory between queries), but each shared ladder table materializes
    its shuffle ONCE: every fan-out copy of t5/c4/c3/c2 is kept
    canonically identical (``count_rows_keeping`` pins the parent count
    column against pruning; the explicit all-five ``isNotNull`` filter
    on the train gram stream absorbs the per-branch join-key isnotnull
    sets that InferFiltersFromConstraints would otherwise push into
    each copy), so AQE exchange reuse collapses the r18-before shape of
    23 shuffle stages / 24 parquet scans into 11 stages / 3 scans —
    the corpus is scanned and exploded once for training, once for
    scoring (r18-opt, guide §2.4)."""
    return _interpolated(documents, train_docs, 5,
                         partial(_kn_level, repr(float(discount))), True,
                         id_col, text_col)


def lm_trigram_witten_bell(
    documents: DataFrame,
    train_docs: "DataFrame | None" = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """r15 — Witten-Bell smoothed TRIGRAM (Witten & Bell 1991 method C;
    Chen & Goodman 1999 §2.5, order 3): completes the trigram ladder
    next to stupid backoff and interpolated KN with the parameter-free
    member — the mixture weight at each level is the context's own
    TYPE count, so contexts that keep producing new continuations
    trust the lower order more:

        P(w₃|w₁w₂) = (c(w₁w₂w₃) + T(w₁w₂)·P_wb(w₃|w₂))
                      / (N(w₁w₂·) + T(w₁w₂))
        P_wb(w₃|w₂) = (c(w₂w₃) + T(w₂)·P_uni(w₃))
                      / (N(w₂·) + T(w₂))

    with T(·) the distinct-continuation counts, N(·) the raw token
    totals at each level (WB interpolates RAW counts all the way down
    — the structural contrast with KN's continuation counts), and
    P_uni the train unigram MLE.  No tunable parameter, no
    count-of-counts regime: total on any corpus, saturated or not.

    OOV rule inherited from the bigram sibling, one order up: a
    transition is OOV when its (w₁,w₂) context never opens a train
    trigram or its w₃ is an unseen unigram (a seen trigram context
    implies its w₂ opens a train bigram, so the middle level is always
    defined for scored rows).  ``n_unseen`` counts scored transitions
    whose exact trigram is novel.  Round-6-ln → DECIMAL(20,6) sum →
    floor-mean, the family discipline; the per-transition dag is ONE
    fully-parenthesized IEEE-double expression mirrored verbatim in
    the oracle.

    Plan: train trigram table shuffles once on the triple key; the
    trigram-context and bigram tables stay SHUFFLE joins
    (pair-cardinality); the w₂-context, unigram, and total tables are
    vocab-bounded (or 1-row) broadcasts — the lm_trigram_kneser_ney
    shape with raw-count inputs."""
    return _interpolated(documents, train_docs, 3, _wb_level, False,
                         id_col, text_col)


def lm_trigram_interpolated(
    documents: DataFrame,
    train_docs: "DataFrame | None" = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    lambdas: tuple = (0.5, 0.3, 0.15, 0.05),
) -> DataFrame:
    """r15 — Jelinek-Mercer INTERPOLATED trigram smoothing (Jelinek &
    Mercer 1980; Chen & Goodman 1999 §2.4), completing the trigram
    ladder's fourth family next to stupid backoff, Kneser-Ney and
    Witten-Bell: every transition scores

        ln( λ₃·c(w₁w₂w₃)/c(w₁w₂) + λ₂·c(w₂w₃)/c(w₂)
          + λ₁·c(w₃)/total + λ₀/V )

    — a PROPER mixture distribution (each component sums to 1 over w₃;
    the λs sum to 1), with the uniform 1/V backstop Chen & Goodman use
    so even an OOV word scores finite mass.  A term whose context was
    never seen contributes exactly zero (its component is the empty
    distribution), not a special branch.  λ = (0.5, 0.3, 0.15, 0.05) —
    fixed, not held-out-tuned: the operator's contract is the mixture
    algebra, the weights are a documented config like alpha in backoff.

    ``train_docs`` splits train from eval (the family's even/odd
    discipline — odd docs then carry genuinely unseen trigrams AND
    genuinely OOV words exercising every mixture component).  Context
    counts follow the family convention: c(w₁w₂) is the trigram-prefix
    total (sum of trigram counts), c(w₂) the pair-prefix total.

    Determinism: round-6 logs, DECIMAL(20,6) sums, floor-mean — the
    ladder's exact discipline.  Plan: trigram/pair count tables shuffle
    on their n-gram keys (never broadcast); unigrams, the vocab size
    and the total broadcast — same shape as the other three rungs."""
    l3, l2, l1, l0 = lambdas
    train = train_docs if train_docs is not None else documents
    tables, total = _lm_tables(train, 3, False, id_col, text_col)

    def term(lam: float, cnt: str, nctx: str):
        # a never-seen context contributes exactly zero
        return F.when(
            F.col(nctx).isNotNull(),
            F.lit(lam) * F.coalesce(F.col(cnt), F.lit(0)) / F.col(nctx),
        ).otherwise(F.lit(0.0))

    mix = (
        term(l3, "tcnt", "n3") + term(l2, "c2", "n2")
        + F.lit(l1) * F.coalesce(F.col("c1"), F.lit(0)) / F.col("__total")
        + F.lit(l0) / F.col("__vocab")
    )
    return _lm_score(documents, 3, tables, [total], mix, id_col, text_col,
                     unseen=True)


def watermark_zscore(
    documents: DataFrame,
    gamma_pct: int = 25,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """r15 — statistical watermark detection (Kirchenbauer et al. 2023,
    "A Watermark for Large Language Models", public paper): a
    watermarking LLM seeds a per-position "green list" (fraction
    γ = gamma_pct/100 of the vocabulary) from the PREVIOUS token's
    hash and biases sampling toward it; a detector needs no model —
    only the hash — and computes the one-proportion z-score of the
    observed green fraction: z = (g − γT) / sqrt(T·γ·(1−γ)).  The
    crawl-pipeline use is the reverse: flagging LLM-GENERATED text
    leaking into training corpora (synthetic-contamination triage,
    the modern sibling of benchmark decontamination).

    Deterministic, engine-portable re-expression: token w at position
    i is "green" iff the first 4 md5 hex digits of
    ``prev_token || '|' || w`` (mod 100) < γ·100 — the same
    hash-seeded partition the scheme's detector uses, reproducible in
    any engine.  T = scored positions (all but the first token);
    green count, γ·T in exact micro-unit integers, and ONE mirrored
    double z dag under the floor-6 discipline.  Natural text scores
    |z| ≈ small; a planted generator that respects the green rule
    scores high — the separation the pytest pins.

    Scale: map-only — tokenize, one zip_with over adjacent token
    pairs, two aggregates per doc inside the row; no shuffle, no
    state.  At 100 TB this rides the scan like every text score."""
    tk = F.split(F.col(text_col), " ")
    pairs = F.expr(
        "zip_with(slice(__tk, 1, size(__tk) - 1),"
        " slice(__tk, 2, size(__tk) - 1), (p, w) -> concat(p, '|', w))"
    )
    greens = F.expr(
        f"size(filter(__pairs, s ->"
        f" conv(substring(md5(s), 1, 4), 16, 10) % 100 < {gamma_pct}))"
    )
    out = (
        documents.select(F.col(id_col), tk.alias("__tk"))
        .filter(F.size("__tk") >= 2)
        .withColumn("__pairs", pairs)
        .select(
            F.col(id_col),
            F.size("__pairs").cast("long").alias("n_scored"),
            greens.cast("long").alias("n_green"),
        )
    )
    g = gamma_pct / 100.0
    z = (
        f"(n_green - {gamma_pct} * n_scored / 100.0)"
        f" / sqrt(n_scored * {g} * (1.0 - {g}))"
    )
    return out.select(
        id_col,
        "n_scored",
        "n_green",
        F.expr(f"floor(({z}) * 1e6 + 0.5) / 1e6").alias("z_score"),
        (F.col("n_green") * 100 > F.lit(gamma_pct) * F.col("n_scored"))
        .alias("above_expected"),
    )


# --------------------------------------------------------------------------
# Main-content extraction (boilerpipe-class, r17)
# --------------------------------------------------------------------------

#: Block-level tag boundary — the segmentation step of Kohlschütter et
#: al., "Boilerplate Detection using Shallow Text Features" (WSDM 2010):
#: inline tags (<a>, <b>, <span>…) stay inside a block, block tags split.
_BLOCK_TAG = (
    r"(?i)</?(?:p|div|h[1-6]|li|ul|ol|dl|dt|dd|table|thead|tbody|tr|td|th"
    r"|section|article|header|footer|nav|aside|blockquote|pre|form"
    r"|figure|figcaption|main|hr|br)\b[^>]*>"
)


def main_content(documents: DataFrame, id_col: str = "doc_id",
                 text_col: str = "html") -> DataFrame:
    """Main-content extraction — the boilerpipe step real crawl curation
    runs BEFORE quality scoring (``strip_markup`` keeps nav/footer
    chrome; this separates article text from it).

    Method: the published NumWordsRulesClassifier decision rules from
    Kohlschütter et al. (WSDM 2010) — segment on block-level tags, then
    per block compute word count and LINK DENSITY (words inside <a>
    tags / words), and classify with the paper's thresholds over the
    (prev, curr, next) block context:

        curr_ld > 1/3                         → boilerplate
        prev_ld > 5/9:  content iff curr_nw > 40 or next_nw > 17
        else:           content iff curr_nw > 16
                                  or next_nw > 15
                                  or prev_nw > 4

    Everything is JVM expressions: split/regexp for segmentation,
    lag/lead windows partitioned BY DOCUMENT for context, conditional
    aggregation back to one row per doc.  At 100 TB this is a map +
    per-doc window + per-doc groupBy — no cross-doc shuffle beyond the
    doc_id hash partitioning, and block lists are bounded by document
    size."""
    from pyspark.sql import Window

    raw = F.col("__raw")
    strip = F.trim(F.regexp_replace(
        F.regexp_replace(raw, r"(?s)<[^>]*>", " "), r"\s+", " "))
    link_txt = F.concat_ws(" ", F.expr(
        r"regexp_extract_all(__raw, '(?is)<a\\b[^>]*>(.*?)</a\\s*>', 1)"))
    link_clean = F.trim(F.regexp_replace(
        F.regexp_replace(link_txt, r"(?s)<[^>]*>", " "), r"\s+", " "))

    blocks = (
        documents
        .select(F.col(id_col), F.posexplode(
            F.split(F.col(text_col), _BLOCK_TAG)).alias("__bidx", "__raw"))
        .withColumn("__clean", strip)
        .withColumn("__lclean", link_clean)
        .where(F.col("__clean") != "")
        .withColumn("__nw", F.size(F.split(F.col("__clean"), r"\s+")))
        .withColumn("__lnw", F.when(F.col("__lclean") == "", 0)
                    .otherwise(F.size(F.split(F.col("__lclean"), r"\s+"))))
        .withColumn("__ld", F.col("__lnw") / F.col("__nw"))
    )
    w = Window.partitionBy(id_col).orderBy("__bidx")
    blocks = (
        blocks
        .withColumn("__prev_nw", F.lag("__nw", 1, 0).over(w))
        .withColumn("__next_nw", F.lead("__nw", 1, 0).over(w))
        .withColumn("__prev_ld", F.lag("__ld", 1, 0.0).over(w))
    )
    is_content = (
        F.when(F.col("__ld") > 1.0 / 3.0, F.lit(False))
        .when(F.col("__prev_ld") > 5.0 / 9.0,
              (F.col("__nw") > 40) | (F.col("__next_nw") > 17))
        .otherwise((F.col("__nw") > 16) | (F.col("__next_nw") > 15)
                   | (F.col("__prev_nw") > 4))
    )
    blocks = blocks.withColumn("__keep", is_content)
    kept = F.when(F.col("__keep"),
                  F.struct(F.col("__bidx"), F.col("__clean")))
    agg = blocks.groupBy(id_col).agg(
        F.concat_ws(" ", F.transform(
            F.array_sort(F.collect_list(kept)), lambda s: s["__clean"]
        )).alias("main_text"),
        F.count("*").cast("int").alias("n_blocks"),
        F.sum(F.col("__keep").cast("int")).cast("int")
            .alias("n_content_blocks"),
        F.sum(F.when(F.col("__keep"), F.col("__nw")).otherwise(0))
            .cast("long").alias("n_words_main"),
        F.sum(F.when(~F.col("__keep"), F.col("__nw")).otherwise(0))
            .cast("long").alias("n_words_boiler"),
    )
    # a document with zero non-empty blocks (empty/NULL/pure-markup
    # html) must still come out — as an empty row, not silently dropped
    # from the corpus
    return documents.select(F.col(id_col)).join(agg, id_col, "left").select(
        F.col(id_col),
        F.coalesce("main_text", F.lit("")).alias("main_text"),
        F.coalesce("n_blocks", F.lit(0)).alias("n_blocks"),
        F.coalesce("n_content_blocks", F.lit(0)).alias("n_content_blocks"),
        F.coalesce("n_words_main", F.lit(0).cast("long"))
            .alias("n_words_main"),
        F.coalesce("n_words_boiler", F.lit(0).cast("long"))
            .alias("n_words_boiler"),
    )
