"""Dedup family: exact/MinHash-LSH/SimHash/n-gram/fingerprint/semantic dedup, connected-component clustering, incremental dedup, cross-doc chunk dup, contamination, dup report.

Split out of plans/llm_queries.py (r7 verdict item 8); the
aggregator there merges every family's QUERIES/ORACLES so the driver
contract (__spark_entry__._MODULES) is unchanged.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.curation import contamination_check
from ..operators.dedup import (
    cluster_representatives,
    connected_components,
    connected_components_star,
    exact_dedup,
    incremental_dedup,
    minhash_lsh_near_dups,
    ngram_jaccard_blocked,
    simhash,
)
from ..operators.similarity import embedding_near_dups, semantic_dedup
from ..operators.text import fingerprint
from ..sources.files import load_table
from .llm_common import CDC_CHUNK_CTES as _CDC_CHUNK_CTES
from .llm_common import MINHASH_PAIR_CTES as _MINHASH_PAIR_CTES
from .llm_common import SHINGLES as _SHINGLES


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(load_table(spark, sf_dir, "documents"))


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_lsh_near_dups(load_table(spark, sf_dir, "documents"), threshold=0.8, persist=True)


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash(load_table(spark, sf_dir, "documents"))


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: MinHash-LSH pairs → connected components → one
    canonical doc per transitive dup group, emitted as a full-corpus
    (doc_id, canonical_id) keep/drop assignment (singletons map to
    themselves).  The step pairwise dedup cannot express: if A~B and B~C
    but A≁C, dropping per-pair either loses C's cluster membership or keeps
    a dup — the component label is the correct grouping."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_near_dups(docs, threshold=0.8)
    comp = connected_components(pairs.select("doc_a", "doc_b"))
    return (
        docs.select("doc_id")
        .join(comp.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .select("doc_id", F.coalesce("component", "doc_id").alias("canonical_id"))
    )


def q_dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same contract and oracle as ``dedup_clusters``, computed by the
    O(log²n)-round star-contraction algorithm — the distributed path
    ``connected_components`` takes when the pairs do not fit one task —
    driver-checked against the identical recursive-CTE closure."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_near_dups(docs, threshold=0.8)
    comp = connected_components_star(pairs.select("doc_a", "doc_b"))
    return (
        docs.select("doc_id")
        .join(comp.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .select("doc_id", F.coalesce("component", "doc_id").alias("canonical_id"))
    )


def q_corpus_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r13 — LEAKAGE-SAFE train/val/test split: the hash split keys on
    the near-dup cluster's CANONICAL id, not the doc id, so every
    member of a transitive dup cluster lands in the SAME split — the
    guard that keeps a train doc's near-duplicate out of the eval set
    (hash-splitting by doc_id leaks: a cluster's members hash
    independently and straddle splits).  Composition of the
    dedup_clusters machinery (MinHash-LSH pairs → connected components)
    with operators/curation.hash_split on canonical_id; n_members rides
    along so cluster rows are visible.  Oracle: the dedup_clusters
    recursive-CTE closure + the same md5-prefix split rule on the
    canonical id."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_near_dups(docs, threshold=0.8)
    comp = connected_components(pairs.select("doc_a", "doc_b"))
    asg = (
        docs.select("doc_id")
        .join(comp.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .select("doc_id", F.coalesce("component", "doc_id").alias("canonical_id"))
    )
    from pyspark.sql import Window

    from ..operators.curation import hash_split

    out = hash_split(asg, id_col="canonical_id", passthrough=("doc_id",))
    w = Window.partitionBy("canonical_id")
    return out.select(
        "doc_id", "canonical_id",
        F.count(F.lit(1)).over(w).cast("long").alias("n_members"),
        "split",
    )


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_blocked(
        docs, block_expr=F.concat_ws("|", "lang", "source"), threshold=0.2
    )


def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r13 — n-gram CONTAINMENT near-dup pairs
    (operators/dedup.ngram_containment_blocked): the asymmetric
    |A∩B|/|A| measure that catches a short doc embedded in a long one —
    low-Jaccard pairs symmetric dedup misses.  Every doc_id %97 == 0
    spawns a planted EXCERPT (its first ⌈n/2⌉ words, id +1e6): a true
    superset pair whose excerpt-side containment is exactly 1.0 while
    Jaccard sits near 0.5 — the case the measure exists for.  Same
    (lang, source) blocking as dedup_ngram_jaccard; a pair survives
    when either direction's containment ≥ 0.5."""
    from ..operators.dedup import ngram_containment_blocked

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    half = (
        "array_join(slice(__w, 1, greatest(cast(ceil(size(__w) / 2) "
        "as int), 1)), ' ')"
    )
    planted = (
        docs.filter(F.col("doc_id") % 97 == 0)
        .withColumn("__w", F.filter(F.split(F.col("text"), " "),
                                    lambda x: x != ""))
        .select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            F.expr(half).alias("text"),
            "lang", "source",
        )
    )
    return ngram_containment_blocked(
        docs.unionByName(planted),
        block_expr=F.concat_ws("|", "lang", "source"), threshold=0.5,
    )


def q_dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r14 — URL-canonicalization dedup (operators/curation.
    url_canonicalize): the stage web pipelines run BEFORE content dedup
    (RefinedWeb §3.2 — re-crawls and tracking-decorated share links are
    duplicates no text comparison is needed for).  Every 6 consecutive
    doc_ids plant the SAME page behind the six variant classes the rule
    set exists for — scheme/host case, www., explicit default port,
    fragment, trailing slash, utm param — so each canonical group
    collapses to its min doc_id.  The window is keyed by canonical URL
    (≤6-row partitions — bounded by the variant count, never
    corpus-sized).  The oracle derives the canonical closed-form from
    doc_id and replays the min/count — two independent routes to the
    same grouping."""
    from pyspark.sql import Window

    from ..operators.curation import url_canonicalize

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    g = F.expr("cast(doc_id div 6 as string)")
    page = F.concat(F.lit("/p/"), g, F.lit("?id="), g)
    v = F.col("doc_id") % 6
    url = (
        F.when(v == 0, F.concat(F.lit("https://Example.COM"), page))
        .when(v == 1, F.concat(F.lit("https://www.example.com"), page))
        .when(v == 2, F.concat(F.lit("https://example.com:443"), page))
        .when(v == 3, F.concat(F.lit("https://example.com"), page,
                               F.lit("#s="), F.col("doc_id").cast("string")))
        .when(v == 4, F.concat(F.lit("https://example.com/p/"), g,
                               F.lit("/?id="), g))
        .otherwise(F.concat(F.lit("https://example.com/p/"), g,
                            F.lit("?utm_source=t"),
                            F.col("doc_id").cast("string"),
                            F.lit("&id="), g))
    )
    c = url_canonicalize(docs.withColumn("url", url))
    w = Window.partitionBy("canonical_url")
    return c.select(
        "doc_id",
        "canonical_url",
        (F.col("doc_id") == F.min("doc_id").over(w)).alias("keep"),
        F.count(F.lit(1)).over(w).cast("long").alias("n_dups"),
    )


def q_dedup_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r13 — MinHash estimator accuracy
    (operators/dedup.minhash_estimate_on_pairs): per LSH candidate
    pair, the signature-agreement Jaccard estimate (k/8 over the
    md5-portable affine family) vs the exact shingle Jaccard, with the
    absolute error — the eval that sizes n_perms.  DuckDB rebuilds the
    signatures hash-for-hash, so the ESTIMATES compare as exact
    values."""
    from ..operators.dedup import minhash_estimate_on_pairs

    return minhash_estimate_on_pairs(load_table(spark, sf_dir, "documents"))


def q_dedup_bbit_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r15 — b-bit MinHash (operators/dedup.bbit_minhash_estimate_on_pairs;
    Li & König 2010, b=1): 64 one-bit permutations in a single 64-bit
    word per doc, debiased estimate Ĵ = 2·(agree/64) − 1 vs the exact
    Jaccard on the SAME LSH candidate pairs as dedup_minhash_estimate —
    the storage/accuracy trade the paper quantifies, evaluated on real
    pairs.  DuckDB rebuilds every packed bit hash-for-hash."""
    from ..operators.dedup import bbit_minhash_estimate_on_pairs

    return bbit_minhash_estimate_on_pairs(load_table(spark, sf_dir, "documents"))


def q_dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fingerprint-blocked dedup: docs sharing a winnowing fingerprint are
    near-dup candidates; keep the min doc_id per fingerprint group."""
    fp = fingerprint(load_table(spark, sf_dir, "documents"))
    return (
        fp.groupBy("fingerprint")
        .agg(F.min("doc_id").alias("keeper"), F.count(F.lit(1)).alias("group_size"))
        .select("fingerprint", "keeper", "group_size")
    )


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return semantic_dedup(load_table(spark, sf_dir, "embeddings"), threshold=0.4)


def q_semdedup_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r13 — SemDeDup with the paper's own keep rule (Abbas et al. 2023
    §2, operators/similarity.semdedup_centroid_keep): within a cluster,
    the near-dup member with the LOWER centroid cosine survives
    (boundary examples kept, redundant core dropped) — vs
    dedup_semantic's lowest-id-wins.  The oracle replays the cell
    assignment, centroid cosines, and the priority rule in DuckDB."""
    from ..operators.similarity import semdedup_centroid_keep

    return semdedup_centroid_keep(
        load_table(spark, sf_dir, "embeddings"), threshold=0.4
    )


def q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return embedding_near_dups(load_table(spark, sf_dir, "embeddings"), threshold=0.4)


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta dedup: every 5th doc is the \'new batch\', the rest the
    existing corpus — survivors are batch docs whose content exists in
    neither the corpus nor earlier in the batch."""
    docs = load_table(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 5 == 0)
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    return incremental_dedup(new, corpus)


def q_dedup_cluster_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters → keep-list: the best member (longest, then lowest
    id) of every transitive dup cluster is the representative; everything
    else is the drop set.  The end-to-end answer a curation pipeline
    actually needs from the dedup stage."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_near_dups(docs, threshold=0.8)
    comp = connected_components(pairs.select("doc_a", "doc_b"))
    assignment = (
        docs.select("doc_id")
        .join(comp.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .select("doc_id", F.coalesce("component", "doc_id").alias("canonical_id"))
    )
    return cluster_representatives(assignment, docs)


def q_dedup_chunks_crossdoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r6: sub-document duplication report — content-defined chunk
    fingerprints shared by ≥2 documents, with occurrence and document
    counts (the crawl-data signal exact whole-doc dedup misses: pages
    sharing boilerplate paragraphs or syndicated spans).  One digest-keyed
    map-side-combinable groupBy over the shuffle-free chunker."""
    from ..operators.curation import chunk_content_defined

    chunks = chunk_content_defined(load_table(spark, sf_dir, "documents"))
    return (
        chunks.groupBy("chunk_md5")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("first_doc_id"),
            F.max("n_tokens").alias("n_tokens"),
        )
        .filter(F.col("n_docs") >= 2)
    )


def q_corpus_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r7: per-language duplication report — doc counts, distinct
    normalized-content counts, and the dup rate (the per-slice summary a
    curation run publishes before/after dedup; skewed slices tell you
    which source needs crawling fixes).  One map-side-combinable
    two-level aggregation, no joins."""
    docs = load_table(spark, sf_dir, "documents")
    digest = F.sha2(F.lower(F.trim(F.col("text"))), 256)
    per = docs.groupBy("lang", digest.alias("__d")).agg(F.count(F.lit(1)).alias("n"))
    return (
        per.groupBy("lang")
        .agg(
            F.sum("n").alias("n_docs"),
            F.count(F.lit(1)).alias("n_unique"),
            F.sum(F.when(F.col("n") > 1, F.col("n"))).alias("__dup_mass"),
        )
        .select(
            "lang",
            "n_docs",
            "n_unique",
            F.round(
                (F.col("n_docs") - F.col("n_unique")) / F.col("n_docs"), 6
            ).alias("dup_rate"),
            F.coalesce("__dup_mass", F.lit(0)).alias("docs_in_dup_groups"),
        )
    )


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark contamination: every doc_id %50==0 plays the held-out
    benchmark; the rest are the training corpus."""
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    train = docs.filter(F.col("doc_id") % 50 != 0)
    return contamination_check(train, bench)


def q_contamination_13g(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r9 (verdict item 5) — industry-standard LONG-n-gram benchmark
    decontamination (k=13, symmetric case/punct normalization), with the
    planted contrast that justifies it: a doc that merely REUSES common
    3-word phrases from the benchmark is a k=3 FALSE POSITIVE (at corpus
    scale k=3 flags nearly everything and would gut the corpus) but k=13
    correctly clears it, while a doc carrying a verbatim 13-word
    benchmark span is flagged by both.  The normalization leg: the
    contaminated doc's span differs from the benchmark in case and
    punctuation only — without ``decontam_normalize`` on both sides the
    13-gram would never align.

    The fixture is planted (spark.range-built, scale-independent), so
    the oracle states all verdicts as constants — any regression in
    shingling, normalization, or the broadcast-join path flips a
    constant.  Plan shape is the production one: benchmark shingles
    broadcast, corpus never shuffled."""
    from ..operators.curation import contamination_check

    span = (
        "alpha bravo charlie delta echo foxtrot golf hotel india "
        "juliett kilo lima mike november oscar papa"
    )  # 16 tokens
    bench_text = "Alpha bravo, charlie DELTA echo; " + span.split(" ", 5)[5] + "!"
    # ^ same 16 tokens as `span` after normalization, but cased/punctuated
    docs = spark.createDataFrame(
        [
            # verbatim (post-normalization) 16-token benchmark span inside
            ("copied", "intro words here " + span + " and an outro"),
            # shares four scattered 3-grams with the benchmark but no long
            # run: classic k=3 false positive
            (
                "phrasal",
                "alpha bravo charlie nine delta echo foxtrot nine "
                "golf hotel india nine juliett kilo lima",
            ),
            # no overlap at all (guards against everything-flags degeneracy)
            ("clean", "zulu yankee xray whiskey victor uniform tango sierra"),
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame([("bench", bench_text)], ["doc_id", "text"])

    def verdict(k):
        return contamination_check(docs, bench, k=k, normalize=True).select(
            "doc_id", F.col("contaminated").alias(f"flagged_{k}g")
        )

    return (
        verdict(3)
        .join(verdict(13), "doc_id")
        .select("doc_id", "flagged_3g", "flagged_13g")
    )


def q_dedup_image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r9 (verdict item 7) — perceptual image near-dup via dHash, the
    image analogue of MinHash for text: REAL PNG decode → integer
    grayscale → 9×8 nearest-neighbor downscale → 64 horizontal-gradient
    bits (two 32-bit halves) → 4×16-bit banded LSH join → exact Hamming
    verify.  Joins the real-decode path (operators/imaging.py) to the
    dedup family.

    Planted fixture (spark.range-built, scale-independent): 60 quadratic-
    formula PNGs + a one-pixel-perturbed copy of every d≡1 (mod 3) image
    at id 1000+d.  Measured on this fixture: planted-dup Hamming ≤ 1,
    cross-pair Hamming ≥ 18, so the ≤8 threshold separates perfectly;
    the 3 accidental single-band collisions among originals surface as
    candidates with near_dup=false — the oracle RECOMPUTES hashes, bands,
    candidates, and Hamming from the pixel formula, so decode, grayscale,
    resize, bit packing, and banding are all value-checked end-to-end."""
    from ..operators.imaging import dhash_images, dhash_near_dups, synth_dhash_images

    base = spark.range(0, 60).select(F.col("id").alias("doc_id"))
    dup_src = base.filter(F.col("doc_id") % 3 == 1)
    media = synth_dhash_images(base).unionByName(
        synth_dhash_images(dup_src, perturb=128).withColumn(
            "doc_id", F.col("doc_id") + 1000
        )
    )
    return dhash_near_dups(dhash_images(media), max_hamming=8)


def q_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r11 — Lee et al. 2022 ExactSubstr duplication measurement: a
    position is duplicated iff its 40-char gram occurs >1 time in the
    corpus; per-doc duplicated coverage is the EXACT interval union
    (running-max window over sorted positions).  One group-by shuffle on
    the grams + one per-doc window; see operators/dedup.py
    substring_duplication for the scale notes (winnowing_fingerprints is
    the bounded-budget sibling)."""
    from ..operators.dedup import substring_duplication

    return substring_duplication(
        load_table(spark, sf_dir, "documents"), min_len=40
    )


def q_substring_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r12 — Lee et al. 2022 ExactSubstr span REMOVAL (verdict item 2):
    the duplicated [p, p+40) interval union is cut out of each document
    and the cleaned text re-emitted — operators/dedup.py
    substring_removal (merged-interval fold, JVM HOFs only).  The DuckDB
    oracle rebuilds the same cleaned text by string_agg-ing the
    complement (interval-difference) segments, so the cut positions are
    compared character-for-character."""
    from ..operators.dedup import substring_removal

    return substring_removal(
        load_table(spark, sf_dir, "documents"), min_len=40
    )


def q_dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r12 — CCNet paragraph dedup (Wenzek et al. 2019): corpus-wide
    keep-first paragraph-hash dedup, the level between line-boilerplate
    removal and document near-dup.  The fixture has no newlines, so
    each document is first chunked into 8-word paragraphs — which makes
    the planted 5% near-dup docs (another doc's text + ' dup') share
    every FULL chunk with their source and diverge only in the tail:
    real cross-document paragraph duplication, not a synthetic plant.
    The oracle rebuilds the same chunks, the same (doc_id, position)
    keep-first rule, and the same re-joined cleaned text."""
    from ..operators.curation import paragraph_dedup

    docs = (
        load_table(spark, sf_dir, "documents")
        .withColumn("__wd", F.filter(F.split("text", " "), lambda x: x != ""))
        .select(
            "doc_id",
            F.expr(
                "array_join(transform("
                " sequence(0, greatest(CAST(ceil(size(__wd) / 8.0) AS INT) - 1, 0)),"
                " i -> array_join(slice(__wd, i * 8 + 1, 8), ' ')), '\\n')"
            ).alias("text"),
        )
    )
    return paragraph_dedup(docs)


def q_dedup_bloom_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r15 — Dolma/BFF-style Bloom-filter dedup (operators/dedup.py
    ``bloom_filter_dedup``): even-id docs play the already-ingested
    corpus, odd-id docs the incoming stream; per incoming doc the
    filter's verdict, the exact truth, and the false-positive flag.
    The oracle replays the md5 double-hash positions and the bit-set
    membership in pure SQL — including any false positives, which are
    a DETERMINISTIC function of the hash recipe, not noise."""
    from ..operators.dedup import bloom_filter_dedup

    docs = load_table(spark, sf_dir, "documents")
    seen = docs.filter(F.col("doc_id") % 2 == 0)
    incoming = docs.filter(F.col("doc_id") % 2 == 1)
    return bloom_filter_dedup(seen, incoming, "text")


def q_dedup_bloom_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r15 — the Dolma deduper's actual unit of work: PARAGRAPH-level
    Bloom membership (Soldaini et al. 2024 run their Bloom filter over
    paragraphs, falling back to whole docs only for short text).  Same
    8-word-chunk resegmentation as ``dedup_paragraphs`` (the fixture
    has no newlines; the planted near-dup docs then share every full
    chunk with their source — real cross-doc paragraph duplication);
    even-id docs' paragraphs build the filter (m=2^22 — ~20% load at
    sf1, the realistic operating point), odd-id docs probe it.  Output
    is the per-incoming-doc verdict histogram: paragraphs, Bloom hits,
    exact hits, false positives — all deterministic, all replayed by
    the oracle."""
    from ..operators.dedup import bloom_filter_dedup

    m_bits = 1 << 22
    docs = (
        load_table(spark, sf_dir, "documents")
        .withColumn("__wd", F.filter(F.split("text", " "), lambda x: x != ""))
    )
    paras = docs.select(
        "doc_id",
        F.posexplode(
            F.expr(
                "transform("
                " sequence(0, greatest(CAST(ceil(size(__wd) / 8.0) AS INT) - 1, 0)),"
                " i -> array_join(slice(__wd, i * 8 + 1, 8), ' '))"
            )
        ).alias("idx", "para"),
    )
    seen = paras.filter(F.col("doc_id") % 2 == 0)
    inc = paras.filter(F.col("doc_id") % 2 == 1).select(
        (F.col("doc_id") * 100000 + F.col("idx")).alias("pkey"), "para"
    )
    verdicts = bloom_filter_dedup(seen, inc, "para", id_col="pkey",
                                  m_bits=m_bits)
    return (
        verdicts.groupBy(F.expr("pkey div 100000").alias("doc_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_paras"),
            F.sum(F.col("bloom_hit").cast("long")).alias("n_bloom_hit"),
            F.sum(F.col("exact_hit").cast("long")).alias("n_exact_hit"),
            F.sum(F.col("false_positive").cast("long")).alias("n_false_pos"),
        )
    )


QUERIES = {
    "dedup_bloom_paragraphs": q_dedup_bloom_paragraphs,
    "dedup_bloom_filter": q_dedup_bloom_filter,
    "dedup_substring_spans": q_substring_spans,
    "dedup_paragraphs": q_dedup_paragraphs,
    "dedup_substring_removal": q_substring_removal,
    "dedup_exact": q_dedup_exact,
    "contamination_check_13g": q_contamination_13g,
    "dedup_image_dhash": q_dedup_image_dhash,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_simhash": q_dedup_simhash,
    "dedup_clusters": q_dedup_clusters,
    "dedup_clusters_star": q_dedup_clusters_star,
    "corpus_leakage_safe_split": q_corpus_leakage_safe_split,
    "dedup_ngram_jaccard": q_ngram_jaccard,
    "dedup_containment": q_dedup_containment,
    "dedup_url_canonical": q_dedup_url_canonical,
    "dedup_minhash_estimate": q_dedup_minhash_estimate,
    "dedup_bbit_minhash": q_dedup_bbit_minhash,
    "dedup_fingerprint": q_dedup_fingerprint,
    "dedup_semantic": q_semantic_dedup,
    "dedup_semdedup_centroid": q_semdedup_centroid,
    "dedup_embedding_cosine": q_embedding_near_dups,
    "dedup_incremental": q_dedup_incremental,
    "dedup_cluster_keep": q_dedup_cluster_keep,
    "dedup_chunks_crossdoc": q_dedup_chunks_crossdoc,
    "corpus_dedup_report": q_corpus_dedup_report,
    "contamination_check": q_contamination,
}

ORACLES = {
    # paragraph-level Bloom: the dedup_paragraphs 8-word chunks, even
    # docs build (m=2^22), odd docs probe; per-doc verdict histogram
    "dedup_bloom_paragraphs": """
        WITH d AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), x -> x <> '') AS wd
            FROM documents
        ),
        p0 AS (
            SELECT d.doc_id, CAST(i.i AS BIGINT) AS idx,
                   array_to_string(d.wd[CAST(i.i * 8 + 1 AS INT)
                                        : CAST(i.i * 8 + 8 AS INT)], ' ') AS para
            FROM d CROSS JOIN LATERAL (
                SELECT unnest(range(0, GREATEST(
                    CAST(ceil(len(d.wd) / 8.0) AS INT), 1)))) i(i)
        ),
        k AS (SELECT 0 AS i UNION ALL SELECT 1 UNION ALL SELECT 2),
        spos AS (
            SELECT DISTINCT
                   (CAST(concat('0x', substr(md5(para), 1, 15)) AS BIGINT)
                    + i * CAST(concat('0x', substr(md5(para), 16, 15))
                               AS BIGINT)) % 4194304 AS pos
            FROM p0, k WHERE doc_id % 2 = 0
        ),
        stext AS (SELECT DISTINCT para FROM p0 WHERE doc_id % 2 = 0),
        ipos AS (
            SELECT doc_id, idx, para,
                   (CAST(concat('0x', substr(md5(para), 1, 15)) AS BIGINT)
                    + i * CAST(concat('0x', substr(md5(para), 16, 15))
                               AS BIGINT)) % 4194304 AS pos
            FROM p0, k WHERE doc_id % 2 = 1
        ),
        hit AS (
            SELECT doc_id, idx, para,
                   BOOL_AND(pos IN (SELECT pos FROM spos)) AS bloom_hit
            FROM ipos GROUP BY doc_id, idx, para
        ),
        v AS (
            SELECT doc_id, bloom_hit,
                   (para IN (SELECT para FROM stext)) AS exact_hit
            FROM hit
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_paras,
               CAST(SUM(CASE WHEN bloom_hit THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_bloom_hit,
               CAST(SUM(CASE WHEN exact_hit THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_exact_hit,
               CAST(SUM(CASE WHEN bloom_hit AND NOT exact_hit
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos
        FROM v GROUP BY doc_id
    """,
    # Bloom membership replayed exactly: k=3 double-hash positions from
    # the two 60-bit md5 halves, m=65536 bits; bloom_hit = every
    # position set by the seen half; false positives are deterministic
    "dedup_bloom_filter": """
        WITH k AS (SELECT 0 AS i UNION ALL SELECT 1 UNION ALL SELECT 2),
        spos AS (
            SELECT DISTINCT
                   (CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT)
                    + i * CAST(concat('0x', substr(md5(text), 16, 15))
                               AS BIGINT)) % 65536 AS pos
            FROM documents, k WHERE doc_id % 2 = 0
        ),
        ipos AS (
            SELECT doc_id, text,
                   (CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT)
                    + i * CAST(concat('0x', substr(md5(text), 16, 15))
                               AS BIGINT)) % 65536 AS pos
            FROM documents, k WHERE doc_id % 2 = 1
        ),
        hit AS (
            SELECT doc_id, text,
                   BOOL_AND(pos IN (SELECT pos FROM spos)) AS bloom_hit
            FROM ipos GROUP BY doc_id, text
        )
        SELECT doc_id, bloom_hit,
               (text IN (SELECT text FROM documents WHERE doc_id % 2 = 0))
                   AS exact_hit,
               (bloom_hit AND text NOT IN
                   (SELECT text FROM documents WHERE doc_id % 2 = 0))
                   AS false_positive
        FROM hit
    """,
    "dedup_paragraphs": """
        WITH d AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), x -> x <> '') AS wd
            FROM documents
        ),
        p0 AS (
            SELECT d.doc_id, CAST(i.i AS BIGINT) AS idx,
                   array_to_string(d.wd[CAST(i.i * 8 + 1 AS INT)
                                        : CAST(i.i * 8 + 8 AS INT)], ' ') AS para
            FROM d CROSS JOIN LATERAL (
                SELECT unnest(range(0, GREATEST(
                    CAST(ceil(len(d.wd) / 8.0) AS INT), 1)))) i(i)
        ),
        k AS (
            SELECT doc_id, idx, para,
                   ROW_NUMBER() OVER (PARTITION BY lower(trim(para))
                                      ORDER BY doc_id, idx) AS rn
            FROM p0
        ),
        rb AS (
            SELECT doc_id, COUNT(*) AS n_kept,
                   string_agg(para, chr(10) ORDER BY idx) AS text_clean
            FROM k WHERE rn = 1 GROUP BY doc_id
        ),
        np AS (
            SELECT doc_id,
                   GREATEST(CAST(ceil(len(wd) / 8.0) AS BIGINT), 1) AS n_paras
            FROM d
        )
        SELECT np.doc_id, np.n_paras,
               CAST(COALESCE(rb.n_kept, 0) AS BIGINT) AS n_kept,
               COALESCE(rb.text_clean, '') AS text_clean
        FROM np LEFT JOIN rb USING (doc_id)
    """,
    "dedup_substring_removal": """
        WITH pos AS (
            SELECT doc_id, CAST(t.p AS BIGINT) AS p,
                   substr(text, CAST(t.p AS INT), 40) AS g
            FROM documents
            CROSS JOIN LATERAL (
                SELECT unnest(range(1, GREATEST(length(text) - 38, 1)))
            ) AS t(p)
        ),
        dup AS (SELECT g FROM pos GROUP BY g HAVING COUNT(*) > 1),
        dp AS (SELECT doc_id, p FROM pos WHERE g IN (SELECT g FROM dup)),
        iv AS (
            SELECT doc_id, p,
                   MAX(p + 40) OVER (
                       PARTITION BY doc_id ORDER BY p
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ) AS pe
            FROM dp
        ),
        fl AS (
            SELECT doc_id, p,
                   CASE WHEN pe IS NULL OR p > pe THEN 1 ELSE 0 END AS st
            FROM iv
        ),
        gr AS (
            SELECT doc_id, p,
                   SUM(st) OVER (PARTITION BY doc_id ORDER BY p) AS grp
            FROM fl
        ),
        mi AS (
            SELECT doc_id, grp, MIN(p) AS s, MAX(p + 40) AS e
            FROM gr GROUP BY doc_id, grp
        ),
        -- interval difference: the kept segment before each removed
        -- interval, plus the tail after the last one
        seg AS (
            SELECT doc_id,
                   COALESCE(LAG(e) OVER (PARTITION BY doc_id ORDER BY s),
                            CAST(1 AS BIGINT)) AS ks,
                   s AS ke
            FROM mi
            UNION ALL
            SELECT doc_id, MAX(e) AS ks, CAST(NULL AS BIGINT) AS ke
            FROM mi GROUP BY doc_id
        ),
        cl AS (
            SELECT s.doc_id,
                   string_agg(
                       substr(d.text, CAST(s.ks AS INT),
                              CAST(COALESCE(s.ke, length(d.text) + 1) - s.ks
                                   AS INT)),
                       '' ORDER BY s.ks) AS clean
            FROM seg s JOIN documents d USING (doc_id)
            GROUP BY s.doc_id
        )
        SELECT d.doc_id,
               CAST(length(d.text) AS BIGINT) AS n_chars,
               COALESCE(c.clean, d.text) AS text_clean,
               CAST(length(d.text) - length(COALESCE(c.clean, d.text))
                    AS BIGINT) AS removed_chars
        FROM documents d LEFT JOIN cl c USING (doc_id)
    """,
    "dedup_substring_spans": """
        WITH pos AS (
            SELECT doc_id, CAST(t.p AS BIGINT) AS p,
                   substr(text, CAST(t.p AS INT), 40) AS g
            FROM documents
            CROSS JOIN LATERAL (
                SELECT unnest(range(1, GREATEST(length(text) - 38, 1)))
            ) AS t(p)
        ),
        dup AS (SELECT g FROM pos GROUP BY g HAVING COUNT(*) > 1),
        dp AS (SELECT doc_id, p FROM pos WHERE g IN (SELECT g FROM dup)),
        iv AS (
            SELECT doc_id, p,
                   MAX(p + 40) OVER (
                       PARTITION BY doc_id ORDER BY p
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ) AS pe
            FROM dp
        ),
        agg AS (
            SELECT doc_id,
                   SUM(GREATEST(0, p + 40
                       - GREATEST(COALESCE(pe, p), p))) AS dup_chars
            FROM iv GROUP BY doc_id
        )
        SELECT d.doc_id,
               CAST(length(d.text) AS BIGINT) AS n_chars,
               CAST(COALESCE(a.dup_chars, 0) AS BIGINT) AS dup_chars,
               CAST(COALESCE(a.dup_chars, 0) AS DOUBLE) / length(d.text)
                   AS dup_fraction
        FROM documents d LEFT JOIN agg a USING (doc_id)
    """,
    "dedup_exact": """
        SELECT MIN(doc_id) AS doc_id, sha256(lower(trim(text))) AS text_hash
        FROM documents GROUP BY sha256(lower(trim(text)))
    """,
    "dedup_minhash_lsh": f"""
        WITH {_SHINGLES},
        {_MINHASH_PAIR_CTES}
        SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= 0.8
    """,
    "dedup_simhash": """
        WITH toks AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok FROM documents),
        h AS (SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS hv FROM toks),
        bits AS (SELECT doc_id, i, SUM(CASE WHEN ((hv >> i) & 1) = 1 THEN 1 ELSE -1 END) AS s
                 FROM h CROSS JOIN range(0, 60) t(i) GROUP BY doc_id, i)
        SELECT doc_id,
               CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT) AS simhash
        FROM bits GROUP BY doc_id
    """,
    "dedup_clusters": f"""
        WITH RECURSIVE {_SHINGLES},
        {_MINHASH_PAIR_CTES},
        pairs AS (SELECT doc_a, doc_b FROM j WHERE jaccard >= 0.8),
        edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
                  UNION SELECT doc_b, doc_a FROM pairs),
        reach(a, b) AS (
            SELECT a, b FROM edges
            UNION
            SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        lab AS (SELECT a AS doc_id, MIN(b) AS mn FROM reach GROUP BY a)
        SELECT d.doc_id,
               COALESCE(LEAST(l.doc_id, l.mn), d.doc_id) AS canonical_id
        FROM documents d LEFT JOIN lab l USING (doc_id)
    """,
    "corpus_leakage_safe_split": f"""
        WITH RECURSIVE {_SHINGLES},
        {_MINHASH_PAIR_CTES},
        pairs AS (SELECT doc_a, doc_b FROM j WHERE jaccard >= 0.8),
        edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
                  UNION SELECT doc_b, doc_a FROM pairs),
        reach(a, b) AS (
            SELECT a, b FROM edges
            UNION
            SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        lab AS (SELECT a AS doc_id, MIN(b) AS mn FROM reach GROUP BY a),
        asg AS (SELECT d.doc_id,
                       COALESCE(LEAST(l.doc_id, l.mn), d.doc_id)
                         AS canonical_id
                FROM documents d LEFT JOIN lab l USING (doc_id))
        SELECT doc_id, canonical_id,
               CAST(COUNT(*) OVER (PARTITION BY canonical_id) AS BIGINT)
                 AS n_members,
               CASE WHEN substr(md5(CAST(canonical_id AS VARCHAR)), 1, 2)
                         < 'cd' THEN 'train'
                    WHEN substr(md5(CAST(canonical_id AS VARCHAR)), 1, 2)
                         < 'e6' THEN 'val'
                    ELSE 'test' END AS split
        FROM asg
    """,
    "dedup_containment": """
        WITH w0 AS (
            SELECT doc_id, lang, source,
                   list_filter(string_split(text, ' '), x -> x <> '') AS wd
            FROM documents
        ),
        uni AS (
            SELECT doc_id, lang, source, text FROM documents
            UNION ALL
            SELECT doc_id + 1000000, lang, source,
                   array_to_string(
                       wd[1:CAST(GREATEST(ceil(len(wd) / 2), 1) AS INT)], ' ')
            FROM w0 WHERE doc_id % 97 = 0
        ),
        toks AS (SELECT doc_id, lang, source,
                        string_split(text, ' ') AS tk FROM uni),
        sh AS (SELECT doc_id, lang, source,
                      list_distinct([array_to_string(tk[i:i+2], ' ')
                                     for i in range(1, len(tk) - 1)]) AS ts
               FROM toks),
        nz AS (SELECT * FROM sh WHERE len(ts) > 0),
        p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     CAST(len(list_intersect(a.ts, b.ts)) AS BIGINT)
                       AS n_inter,
                     ROUND(len(list_intersect(a.ts, b.ts)) * 1.0
                           / len(a.ts), 6) AS cont_a_in_b,
                     ROUND(len(list_intersect(a.ts, b.ts)) * 1.0
                           / len(b.ts), 6) AS cont_b_in_a,
                     ROUND(len(list_intersect(a.ts, b.ts)) * 1.0
                           / len(list_distinct(list_concat(a.ts, b.ts))), 6)
                       AS jaccard
              FROM nz a JOIN nz b
                ON a.lang = b.lang AND a.source = b.source
               AND a.doc_id < b.doc_id)
        SELECT doc_a, doc_b, n_inter, cont_a_in_b, cont_b_in_a, jaccard
        FROM p WHERE GREATEST(cont_a_in_b, cont_b_in_a) >= 0.5
    """,
    # dedup_minhash_estimate is assigned below the dict (it needs the
    # imported permutation constants to build its signature list)
    "dedup_ngram_jaccard": f"""
        WITH {_SHINGLES},
        p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     ROUND(len(list_intersect(a.ts, b.ts)) * 1.0
                           / len(list_distinct(list_concat(a.ts, b.ts))), 6) AS jaccard
              FROM sh a JOIN sh b
                ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id)
        SELECT doc_a, doc_b, jaccard FROM p WHERE jaccard >= 0.2
    """,
    "dedup_fingerprint": f"""
        WITH {_SHINGLES},
        fp AS (SELECT doc_id,
                      array_to_string(list_sort(list_transform(ts, s -> md5(s)))[1:4], '') AS fingerprint
               FROM sh)
        SELECT fingerprint, MIN(doc_id) AS keeper, COUNT(*) AS group_size
        FROM fp GROUP BY fingerprint
    """,
    "dedup_semantic": """
        WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        cent AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS i, v AS ctr
                 FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 16)),
        cd AS (SELECT e.vec_id, e.v, cent.i,
                      list_sum(list_transform(list_zip(e.v, cent.ctr), p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d2
               FROM e CROSS JOIN cent),
        asg AS (SELECT vec_id, v, i AS cell FROM
                (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, i) AS rn FROM cd)
                WHERE rn = 1),
        drops AS (SELECT DISTINCT b.vec_id
                  FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id
                  WHERE ROUND(list_dot_product(a.v, b.v)
                              / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.4)
        SELECT asg.vec_id, CAST(asg.cell AS BIGINT) AS cell,
               (dr.vec_id IS NULL) AS keep
        FROM asg LEFT JOIN drops dr ON asg.vec_id = dr.vec_id
    """,
    "dedup_semdedup_centroid": """
        WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        cent AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS i, v AS ctr
                 FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 16)),
        cd AS (SELECT e.vec_id, e.v, cent.i, cent.ctr,
                      list_sum(list_transform(list_zip(e.v, cent.ctr), p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d2
               FROM e CROSS JOIN cent),
        asg AS (SELECT vec_id, v, i AS cell,
                       ROUND(list_dot_product(v, ctr)
                             / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(ctr, ctr))), 6) AS cc
                FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, i) AS rn FROM cd)
                WHERE rn = 1),
        drops AS (SELECT DISTINCT a.vec_id
                  FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id <> b.vec_id
                  WHERE ROUND(list_dot_product(a.v, b.v)
                              / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.4
                    AND (b.cc < a.cc OR (b.cc = a.cc AND b.vec_id < a.vec_id)))
        SELECT asg.vec_id, CAST(asg.cell AS BIGINT) AS cell,
               asg.cc AS centroid_cos,
               (dr.vec_id IS NULL) AS keep
        FROM asg LEFT JOIN drops dr ON asg.vec_id = dr.vec_id
    """,
    "dedup_embedding_cosine": """
        WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
                     ROUND(list_dot_product(a.v, b.v)
                           / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
              FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id)
        SELECT vec_a, vec_b, label, cosine FROM p WHERE cosine >= 0.4
    """,
    "dedup_incremental": """
        WITH h AS (SELECT doc_id, sha256(lower(trim(text))) AS text_hash,
                          (doc_id % 5 = 0) AS isnew
                   FROM documents),
        hits AS (SELECT DISTINCT text_hash FROM h
                 WHERE NOT isnew
                   AND text_hash IN (SELECT text_hash FROM h WHERE isnew))
        SELECT MIN(doc_id) AS doc_id, text_hash
        FROM h
        WHERE isnew AND text_hash NOT IN (SELECT text_hash FROM hits)
        GROUP BY text_hash
    """,
    "dedup_cluster_keep": f"""
    WITH RECURSIVE {_SHINGLES},
    {_MINHASH_PAIR_CTES},
    pairs AS (SELECT doc_a, doc_b FROM j WHERE jaccard >= 0.8),
    edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
              UNION SELECT doc_b, doc_a FROM pairs),
    reach(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
    lab AS (SELECT a AS doc_id, MIN(b) AS mn FROM reach GROUP BY a),
    asg AS (SELECT d.doc_id,
                   COALESCE(LEAST(l.doc_id, l.mn), d.doc_id) AS canonical_id,
                   d.n_chars
            FROM documents d LEFT JOIN lab l USING (doc_id))
    SELECT doc_id, canonical_id,
           count(*) OVER (PARTITION BY canonical_id) AS n_members,
           (row_number() OVER (PARTITION BY canonical_id
                               ORDER BY n_chars DESC, doc_id ASC)) = 1 AS is_rep
    FROM asg
""",
    "dedup_chunks_crossdoc": """
        {CDC_CHUNK_CTES},
        ch AS (SELECT doc_id, md5(string_agg(tok, ' ' ORDER BY i)) AS chunk_md5,
                      COUNT(*) AS n_tokens
               FROM c GROUP BY doc_id, ci)
        SELECT chunk_md5, COUNT(*) AS n_occurrences,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
               MIN(doc_id) AS first_doc_id,
               CAST(MAX(n_tokens) AS BIGINT) AS n_tokens
        FROM ch GROUP BY chunk_md5 HAVING COUNT(DISTINCT doc_id) >= 2
    """,
    "corpus_dedup_report": """
    WITH per AS (
        SELECT lang, sha256(lower(trim(text))) AS d, COUNT(*) AS n
        FROM documents GROUP BY lang, d
    )
    SELECT lang,
           CAST(SUM(n) AS BIGINT) AS n_docs,
           COUNT(*) AS n_unique,
           ROUND((SUM(n) - COUNT(*)) * 1.0 / SUM(n), 6) AS dup_rate,
           CAST(COALESCE(SUM(CASE WHEN n > 1 THEN n END), 0) AS BIGINT)
               AS docs_in_dup_groups
    FROM per GROUP BY lang
""",
    "contamination_check": f"""
        WITH {_SHINGLES},
        b AS (SELECT DISTINCT s
              FROM (SELECT unnest(ts) AS s FROM sh WHERE doc_id % 50 = 0)),
        t AS (SELECT doc_id, unnest(ts) AS s FROM sh WHERE doc_id % 50 <> 0),
        hits AS (SELECT t.doc_id, COUNT(*) AS n FROM t JOIN b USING (s)
                 GROUP BY t.doc_id)
        SELECT d.doc_id,
               CAST(COALESCE(h.n, 0) AS BIGINT) AS n_overlap,
               COALESCE(h.n, 0) > 0 AS contaminated
        FROM documents d LEFT JOIN hits h USING (doc_id)
        WHERE d.doc_id % 50 <> 0
    """,
}

# first-principles dHash oracle (see q_dedup_image_dhash): recompute
# grayscale pixels from the quadratic formula, nn-resize by index math,
# pack gradient bits into 32-bit halves, band, pair, and Hamming — the
# entire Spark pipeline re-derived from the closed form, zero constants
ORACLES["dedup_image_dhash"] = """
    WITH imgs AS (
        SELECT d AS doc_id, d, 0 AS pert FROM range(60) t(d)
        UNION ALL
        SELECT 1000 + d, d, 128 FROM range(60) t(d) WHERE d % 3 = 1
    ),
    dims AS (
        SELECT doc_id, d, pert, 8 + d % 5 AS w, 8 + d % 3 AS h FROM imgs
    ),
    g AS (  -- integer grayscale of the closed-form RGB pixels
        SELECT dm.doc_id, i.i AS idx,
               ((dm.d*dm.d*3 + i.i*i.i*7 + i.i*dm.d
                 + CASE WHEN i.i = 0 THEN dm.pert ELSE 0 END) % 256
              + (dm.d*dm.d*3 + i.i*i.i*7 + i.i*dm.d + 11
                 + CASE WHEN i.i = 0 THEN dm.pert ELSE 0 END) % 256
              + (dm.d*dm.d*3 + i.i*i.i*7 + i.i*dm.d + 22
                 + CASE WHEN i.i = 0 THEN dm.pert ELSE 0 END) % 256) // 3 AS v
        FROM dims dm CROSS JOIN range(120) i(i)
        WHERE i.i < dm.w * dm.h
    ),
    rg AS (  -- 9x8 nearest-neighbor downscale by pure index math
        SELECT dm.doc_id, yy.y AS gy, xx.x AS gx, g.v
        FROM dims dm
        CROSS JOIN range(8) yy(y)
        CROSS JOIN range(9) xx(x)
        JOIN g ON g.doc_id = dm.doc_id
              AND g.idx = (yy.y * dm.h // 8) * dm.w + (xx.x * dm.w // 9)
    ),
    bits AS (
        SELECT l.doc_id, l.gy, l.gx,
               CASE WHEN l.v > r.v THEN 1 ELSE 0 END AS b
        FROM rg l JOIN rg r
          ON r.doc_id = l.doc_id AND r.gy = l.gy AND r.gx = l.gx + 1
        WHERE l.gx < 8
    ),
    hashes AS (
        SELECT doc_id,
               CAST(SUM(CASE WHEN gy < 4
                    THEN b * (CAST(1 AS BIGINT) << ((gy % 4) * 8 + gx))
                    ELSE 0 END) AS BIGINT) AS hi,
               CAST(SUM(CASE WHEN gy >= 4
                    THEN b * (CAST(1 AS BIGINT) << ((gy % 4) * 8 + gx))
                    ELSE 0 END) AS BIGINT) AS lo
        FROM bits GROUP BY doc_id
    ),
    bands AS (
                  SELECT doc_id, hi, lo, 0 AS band, hi % 65536 AS val FROM hashes
        UNION ALL SELECT doc_id, hi, lo, 1, hi // 65536 FROM hashes
        UNION ALL SELECT doc_id, hi, lo, 2, lo % 65536 FROM hashes
        UNION ALL SELECT doc_id, hi, lo, 3, lo // 65536 FROM hashes
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.hi AS hi_a, a.lo AS lo_a, b.hi AS hi_b, b.lo AS lo_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.val = b.val AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(hi_a, hi_b)) + bit_count(xor(lo_a, lo_b)) AS INT)
               AS hamming,
           (bit_count(xor(hi_a, hi_b)) + bit_count(xor(lo_a, lo_b))) <= 8
               AS near_dup
    FROM cand
"""

# planted-contrast constants (see q_contamination_13g): verbatim-span doc
# flagged by both k; phrase-reuse doc is the k=3 false positive k=13
# clears; disjoint doc flagged by neither
ORACLES["contamination_check_13g"] = """
    SELECT * FROM (VALUES
        ('copied',  true,  true),
        ('phrasal', true,  false),
        ('clean',   false, false)
    ) AS t(doc_id, flagged_3g, flagged_13g)
"""

# shares its contract (and therefore its oracle) verbatim:
ORACLES["dedup_clusters_star"] = ORACLES["dedup_clusters"]

# splice the shared content-defined-chunk CTE chain (one definition
# in llm_common so the two chunk oracles can never desynchronize)
ORACLES["dedup_chunks_crossdoc"] = ORACLES["dedup_chunks_crossdoc"].replace("{CDC_CHUNK_CTES}", _CDC_CHUNK_CTES)

# minhash-estimate oracle: rebuild the 8 signature values per doc from
# the SAME affine family (constants imported, never copied) and compare
# component agreement against the exact Jaccard the pair chain computes
from ..operators.dedup import MINHASH_PERMS as _MH_PERMS_E  # noqa: E402
from ..operators.dedup import MINHASH_PRIME as _MH_P_E  # noqa: E402

_SIG_LIST = "[" + ", ".join(
    f"CAST(list_min(list_transform(hs, h -> ({a} * h + {b}) % {_MH_P_E})) AS BIGINT)"
    for a, b in _MH_PERMS_E
) + "]"
_N_PERMS_E = len(_MH_PERMS_E)

ORACLES["dedup_minhash_estimate"] = f"""
    WITH {_SHINGLES},
    {_MINHASH_PAIR_CTES},
    sigl AS (SELECT doc_id, {_SIG_LIST} AS sl FROM hsx),
    m AS (SELECT j.doc_a, j.doc_b, j.jaccard,
                 CAST(len(list_filter(range(1, {_N_PERMS_E + 1}),
                     i -> a.sl[CAST(i AS INT)] = b.sl[CAST(i AS INT)]))
                     AS BIGINT) AS n_sig_matches
          FROM j JOIN sigl a ON j.doc_a = a.doc_id
                 JOIN sigl b ON j.doc_b = b.doc_id)
    SELECT doc_a, doc_b, n_sig_matches,
           n_sig_matches * 1.0 / {_N_PERMS_E} AS est_jaccard,
           jaccard,
           FLOOR(abs(n_sig_matches * 1.0 / {_N_PERMS_E} - jaccard) * 1e6
                 + 0.5) / 1e6 AS abs_err
    FROM m
"""


# b-bit minhash oracle: rebuild the two 32-bit packed words from the
# same salted 64-perm family (constants imported) and debias per the
# paper's b=1 estimator — shared expression string, bit-exact
from ..operators.dedup import BBIT_EST_EXPR as _BBIT_EST  # noqa: E402
from ..operators.dedup import BBIT_PERMS as _BBIT_PERMS  # noqa: E402

_BBIT_HI = "(" + " + ".join(
    f"((list_min(list_transform(hs, h -> ({a} * h + {b}) % {_MH_P_E})) & 1)"
    f" << {i})"
    for i, (a, b) in enumerate(_BBIT_PERMS[:32])
) + ")"
_BBIT_LO = "(" + " + ".join(
    f"((list_min(list_transform(hs, h -> ({a} * h + {b}) % {_MH_P_E})) & 1)"
    f" << {i})"
    for i, (a, b) in enumerate(_BBIT_PERMS[32:])
) + ")"

ORACLES["dedup_bbit_minhash"] = f"""
    WITH {_SHINGLES},
    {_MINHASH_PAIR_CTES},
    words AS (SELECT doc_id,
                     CAST({_BBIT_HI} AS BIGINT) AS whi,
                     CAST({_BBIT_LO} AS BIGINT) AS wlo
              FROM hsx),
    m AS (SELECT j.doc_a, j.doc_b, j.jaccard,
                 CAST(64 - bit_count(xor(a.whi, b.whi))
                         - bit_count(xor(a.wlo, b.wlo)) AS BIGINT)
                     AS agree_bits
          FROM j JOIN words a ON j.doc_a = a.doc_id
                 JOIN words b ON j.doc_b = b.doc_id)
    SELECT doc_a, doc_b, agree_bits,
           FLOOR({_BBIT_EST} * 1e6 + 0.5) / 1e6 AS est_bbit,
           jaccard,
           FLOOR(abs({_BBIT_EST} - jaccard) * 1e6 + 0.5) / 1e6 AS abs_err
    FROM m
"""


ORACLES["dedup_url_canonical"] = """
    WITH c AS (
        SELECT doc_id,
               'https://example.com/p/' || CAST(doc_id // 6 AS VARCHAR)
               || '?id=' || CAST(doc_id // 6 AS VARCHAR) AS canonical_url
        FROM documents
    )
    SELECT doc_id, canonical_url,
           doc_id = MIN(doc_id) OVER (PARTITION BY canonical_url) AS keep,
           COUNT(*) OVER (PARTITION BY canonical_url) AS n_dups
    FROM c
"""
