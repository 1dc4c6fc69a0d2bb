"""Corpus/domain family: domain blocklist/quality/PageRank, BPE tokenizer train+encode, and sketch accuracy guards.

Split out of plans/llm_queries.py (r7 verdict item 8); the
aggregator there merges every family's QUERIES/ORACLES so the driver
contract (__spark_entry__._MODULES) is unchanged.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.files import load_table


def q_corpus_domain_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r6: domain-blocklist gate — documents are dropped when ANY of their
    extracted URLs lands on a blocked domain (broadcast LEFT ANTI against
    the blocklist, the standard crawl-curation filter).  Fixture: the
    injected source domain is blocked for doc_id % 7 ∈ {2, 5}, so the
    keep-set is closed-form.  Scale: the blocklist is small by nature —
    always the broadcast side; one map+explode over the corpus."""
    from ..operators.text import extract_urls

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" via https://src"), (F.col("doc_id") % 7).cast("string"),
            F.lit(".example.com/doc/"), F.col("doc_id").cast("string"),
        ).alias("text"),
    )
    blocklist = spark.createDataFrame(
        [("src2.example.com",), ("src5.example.com",)], ["domain"]
    )
    hits = (
        extract_urls(docs)
        .join(F.broadcast(blocklist), "domain", "left_semi")
        .select("doc_id")
        .distinct()
    )
    return docs.join(F.broadcast(hits), "doc_id", "left_anti").select("doc_id")


def q_domain_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r7: domain-level quality aggregation (RefinedWeb-style domain
    filtering signal): each document's extracted source domain joined to
    its quality-gate verdict, aggregated per domain — doc counts, keep
    counts, keep rate, and a suggest-block flag for domains whose keep
    rate falls under 50%.  The step that turns per-doc quality into
    crawl-level policy.  One map+explode for the URLs, a broadcast-safe
    per-doc join (both sides keyed by doc_id), one grouped agg."""
    from ..operators.text import extract_urls, quality_score

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" via https://src"), (F.col("doc_id") % 7).cast("string"),
            F.lit(".example.com/doc/"), F.col("doc_id").cast("string"),
        ).alias("text"),
    )
    domains = extract_urls(docs).select("doc_id", "domain").distinct()
    verdicts = quality_score(docs).select("doc_id", "keep")
    return (
        domains.join(verdicts, "doc_id")
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("keep").cast("long")).alias("n_keep"),
        )
        .select(
            "domain",
            "n_docs",
            "n_keep",
            F.round(F.col("n_keep") / F.col("n_docs"), 6).alias("keep_rate"),
            (F.col("n_keep") * 2 < F.col("n_docs")).alias("suggest_block"),
        )
    )


def q_domain_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r7: domain PageRank over the corpus link graph (operators/graph.py
    — the Common-Crawl-style crawl-prioritization rank).  Each doc gets a
    source domain (src<id%7>.example.com) and an outlink target
    (dst<id%5>.example.org) injected; edges = distinct (source → target)
    pairs recovered through the REAL URL extractor; 3 power iterations at
    damping 0.85.  The oracle derives the identical closed-form edge set
    from doc_id arithmetic and unrolls the same three iterations in SQL —
    every rank value must agree to 6 decimals."""
    from ..operators.graph import pagerank
    from ..operators.text import extract_urls

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" from https://src"), (F.col("doc_id") % 7).cast("string"),
            F.lit(".example.com/p/"), F.col("doc_id").cast("string"),
            F.lit(" links https://dst"), (F.col("doc_id") % 5).cast("string"),
            F.lit(".example.org/q/"), F.col("doc_id").cast("string"),
        ).alias("text"),
    )
    urls = extract_urls(docs)
    per_doc = urls.groupBy("doc_id").agg(
        F.min(F.when(F.col("domain").endswith(".example.com"), F.col("domain"))).alias("src"),
        F.min(F.when(F.col("domain").endswith(".example.org"), F.col("domain"))).alias("dst"),
    )
    edges = (
        per_doc.filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .select("src", "dst")
        .distinct()
    )
    ranks = pagerank(edges, iterations=3, damping=0.85)
    return ranks.select("node", F.round("rank", 6).alias("rank"))


def q_corpus_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r7: BPE tokenizer training (operators/tokenizer.py bpe_top_merges)
    over a planted corpus whose merge sequence is closed-form: every doc's
    text is "abc abc ab de", so the weighted pair counts are (a,b)=3N,
    (b,c)=2N, (d,e)=N and the learned merge table must be exactly
    [(a+b, 3N), (ab+c, 2N), (d+e, N)] — including the second round's
    dependence on the FIRST round's merged symbol (ab+c only exists after
    a+b is applied), so a broken merge application cannot pass.  The
    oracle states the table with counts scaled by COUNT(documents)."""
    from ..operators.tokenizer import bpe_top_merges

    docs = load_table(spark, sf_dir, "documents").select(
        F.lit("abc abc ab de").alias("text")
    )
    return bpe_top_merges(docs, k=3)


def q_corpus_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r7: the tokenizer loop closed — learn merges on the planted train
    corpus (same closed-form table as corpus_bpe_merges), then ENCODE a
    different planted eval text with them.  "abcd ab ae" under merges
    [a+b, ab+c, d+e] folds to [abc·d, ab, a·e] = 5 subwords over 8 base
    symbols per doc, so every per-doc stat is a constant the oracle
    states; a broken rank order or application pass shifts the counts.
    The learned table feeds the Arrow encoder as a lazy frame, so building
    the query runs no Spark job."""
    from ..operators.tokenizer import bpe_encode_arrow, bpe_top_merges

    train = load_table(spark, sf_dir, "documents").select(
        F.lit("abc abc ab de").alias("text")
    )
    eval_docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.lit("abcd ab ae").alias("text")
    )
    return bpe_encode_arrow(eval_docs, bpe_top_merges(train, k=3))


def q_corpus_bytebpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r13 (verdict item 6) — byte-level BPE training (GPT-2/RoBERTa;
    Radford et al. 2019), the fourth mainstream tokenizer next to
    char-BPE / WordPiece / Unigram-LM.  Planted corpus "café café née"
    per doc: under the GPT-2 byte remap é is the TWO symbols ``Ã ©``,
    so the first merge the learner finds is that byte pair fusing back
    into é (count 3N — it appears in both words) — the observable that
    distinguishes byte-level from char-level, where é is atomic and
    (Ã,©) never exists.  Rounds 2-3 are the boundary-tie-break chain
    (a,f)→af then (af,Ã©)→afÃ©, both 2N, won on left-symbol ascending
    order against Ġ-prefixed competitors (Ġ = U+0120 > 'f')."""
    from ..operators.tokenizer import bytebpe_top_merges

    docs = load_table(spark, sf_dir, "documents").select(
        F.lit("café café née").alias("text")
    )
    return bytebpe_top_merges(docs, k=3)


def q_corpus_bytebpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r13 — the byte-level deployment half: encode planted eval text
    "café fée ce" with the merges learned on "café café née".  Per doc:
    Ġcafé folds Ġ|c|a|f|Ã|© → Ġ|c|afÃ© (3), Ġfée → Ġ|f|Ã©|e (4), Ġce
    stays Ġ|c|e (3) = 10 subwords over 14 BASE BYTES (é counts 2, every
    word +1 boundary byte) — n_base_symbols 14 vs the 11+3 chars a
    char-level count would claim, pinning byte-level semantics."""
    from ..operators.tokenizer import bytebpe_encode, bytebpe_top_merges

    train = load_table(spark, sf_dir, "documents").select(
        F.lit("café café née").alias("text")
    )
    table = sorted(bytebpe_top_merges(train, k=3).collect(),
                   key=lambda r: r.merge_rank)
    merges = [(r.left_sym, r.right_sym) for r in table]
    eval_docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.lit("café fée ce").alias("text")
    )
    return bytebpe_encode(eval_docs, merges)


def q_corpus_wordpiece_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r12 — WordPiece tokenizer training (Schuster & Nakajima 2012, the
    BERT tokenizer — completes the mainstream subword-trainer triple
    next to BPE and Unigram-LM).  Planted corpus "xy xy xz de de de de"
    per doc makes the merge table closed-form AND demonstrates the
    likelihood criterion: raw counts would pick (d,##e) first (4N), but
    WordPiece's score n/(cnt(l)·cnt(r)) ranks (x,##y) and (x,##z) at
    1/(3N) — an exact IEEE tie broken by pair count — above (d,##e) at
    1/(4N).  The ## continuation convention is exercised throughout."""
    from ..operators.tokenizer import wordpiece_top_merges

    docs = load_table(spark, sf_dir, "documents").select(
        F.lit("xy xy xz de de de de").alias("text")
    )
    return wordpiece_top_merges(docs, k=3)


def q_corpus_wordpiece_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r12 — the WordPiece deployment half: greedy longest-match-first
    encode (BERT's published algorithm) of a planted eval text against
    the vocab learned on the planted train corpus.  "xy xyz xz xq de
    dee" folds to [xy][xy,##z][xz][UNK][de][de,##e] = 8 pieces over 6
    words with exactly one [UNK] (q never appeared in training, and
    BERT semantics make the WHOLE dead-end word UNK) — every per-doc
    stat is a constant the oracle states."""
    from ..operators.tokenizer import wordpiece_encode, wordpiece_vocab

    train = load_table(spark, sf_dir, "documents").select(
        F.lit("xy xy xz de de de de").alias("text")
    )
    vocab = wordpiece_vocab(train, k=3)
    eval_docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.lit("xy xyz xz xq de dee").alias("text")
    )
    return wordpiece_encode(eval_docs, vocab)


def q_sketch_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r7: distinct-count SKETCH accuracy — per-language
    ``approx_count_distinct`` (HyperLogLog++, Spark's mergeable sketch: the
    100 TB path where exact COUNT(DISTINCT) would shuffle every digest)
    validated against the exact distinct count computed in the same plan.
    The sketch value itself is engine-specific, so the emitted columns are
    the EXACT count (oracle-checkable) plus the accuracy verdict — HLL++
    at default rsd=0.05 must land within 10% of truth on every language
    slice.  A broken sketch (register collapse, merge bug) flips the
    verdict; the oracle states it as a constant, oracle-independent of the
    sketch's internals — same pattern as the planted scoring guards."""
    docs = load_table(spark, sf_dir, "documents")
    digest = F.sha2(F.lower(F.trim(F.col("text"))), 256)
    per = docs.groupBy("lang").agg(
        F.countDistinct(digest).alias("n_exact"),
        F.approx_count_distinct(digest).alias("__n_approx"),
    )
    ok = (
        F.abs(F.col("__n_approx") - F.col("n_exact"))
        <= F.col("n_exact") * F.lit(0.10)
    )
    return per.select("lang", "n_exact", ok.alias("sketch_within_10pct"))


def q_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r7: quantile SKETCH accuracy — per-event-type
    ``approx_percentile`` (the mergeable KLL-style path for 100 TB, where
    exact percentiles would sort every group) validated in-plan against
    the exact p40/p60 band: the approximate median must land inside it.
    Like corpus_sketch_distinct, the sketch value itself is
    engine-specific, so the emitted columns are the group count plus the
    accuracy verdict the oracle states as a constant."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    per = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.expr("percentile(value, array(0.4, 0.6))").alias("__band"),
        F.expr("approx_percentile(value, 0.5, 10000)").alias("__ap50"),
    )
    ok = (F.col("__ap50") >= F.col("__band")[0]) & (
        F.col("__ap50") <= F.col("__band")[1]
    )
    return per.select("event_type", "n_events", ok.alias("median_in_p40_p60"))


def q_qsample_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r10 — the batch bottom-k rank-sample quantile sketch
    (``qsample_sketch``, same array algebra as the aggregating sink's
    qsample state column, so the two MERGE).  Unlike r7's
    ``events_quantile_sketch`` (approx_percentile — engine-specific
    state, accuracy-verdict oracle only), the md5-derived sample is
    DETERMINISTIC, so DuckDB reproduces the exact same k-smallest-hash
    sample and the exact same nearest-rank quantiles — a FULL VALUE
    oracle for a sketch, the strongest check this family admits."""
    from ..operators.sketch import qsample_quantile_expr, qsample_sketch

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    sk = qsample_sketch(ev, "event_type", "value", "event_id", k=512)
    return sk.select(
        "event_type",
        F.size("qsketch").alias("n_sample"),
        F.round(qsample_quantile_expr("qsketch", 0.5), 6).alias("p50"),
        F.round(qsample_quantile_expr("qsketch", 0.9), 6).alias("p90"),
    )


def q_corpus_unigram_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r11 — unigram-LM tokenizer training (Kudo 2018, the SentencePiece
    model — the OTHER mainstream subword trainer next to BPE), fully
    value-oracled: seed vocab = top-48 substrings by frequency + every
    char, then ONE Viterbi EM round, all inside one lazy single-task
    kernel over the distinct-word table (the EM loop proper is
    pytest-covered via the monotone-objective invariant).
    Output: the top-30 pieces by Viterbi mass.  The DuckDB oracle
    re-runs the SAME DP as a recursive CTE (the ADPCM state-machine
    precedent) with the round-6 logp discipline, so segmentation is
    compared decision-for-decision, not just statistically."""
    from ..operators.tokenizer import unigram_train
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    v = unigram_train(docs, n_iters=1)
    w = Window.orderBy(F.col("cnt").desc(), F.col("piece").asc())
    return (
        v.filter(F.col("cnt") > 0)
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 30)
        .select("rank", "piece", "cnt")
    )


def q_corpus_unigram_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r11 — unigram ENCODE over the trained model (the BPE family's
    train+encode parity): every document's words segment by the same
    Viterbi DP as the trainer (``tokenizer._viterbi``, an Arrow map
    against the broadcast one-EM-round vocab), then per-document
    subword accounting — n_words / n_subwords / n_chars / compression.
    Segmentation runs once per DISTINCT word and joins back to the
    per-document word counts (the vocabulary-sized work vs corpus-sized
    work split every tokenizer deployment uses).  Words beyond the
    16-char training cap are excluded in both engines (the documented
    trainer contract).

    The DuckDB oracle replays the FULL train-then-encode chain (r12,
    ADVICE r11): seed vocab -> E-step DP #1 -> M-step (Viterbi-mass
    re-estimation with the 0.5 char floor and zero-mass pruning) ->
    E-step DP #2 with the post-EM vocab.  Hard-EM re-estimation is not
    guaranteed to leave the argmin segmentation unchanged, so both
    engines must segment with the SAME re-estimated vocab at every data
    scale — not just at scales where the seed happens to be a fixed
    point."""
    from ..operators.tokenizer import (
        unigram_train, unigram_viterbi_tokens, unigram_words,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    vocab = unigram_train(docs, n_iters=1).select("piece", "logp")
    words = unigram_words(docs)
    pieces = unigram_viterbi_tokens(words, vocab).select(
        "w", F.size("ts").alias("n_pieces")
    )
    doc_words = (
        docs.select(
            "doc_id",
            F.explode(
                F.filter(F.split(F.col("text"), " "), lambda x: x != "")
            ).alias("w"),
        )
        .filter(F.length("w") <= 16)
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        doc_words.join(pieces, "w")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_words"),
            F.sum(F.col("cnt") * F.col("n_pieces")).alias("n_subwords"),
            F.sum(F.col("cnt") * F.length("w")).alias("n_chars"),
        )
        .select(
            "doc_id", "n_words", "n_subwords", "n_chars",
            F.round(F.col("n_chars") / F.col("n_subwords"), 4)
            .alias("compression"),
        )
    )


def q_corpus_unigram_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r12 (verdict item 3) — Kudo 2018 §3.2's prune-to-target-size loop,
    fully value-oracled: seed-48 vocab → hard-EM round → per-piece loss
    delta (vcnt · (alt_cost + logp), alt = full-span-disallowed Viterbi
    of the piece against the trained vocab) → keep the top-8 multi-char
    pieces → final re-estimation.  The DuckDB oracle replays the whole
    chain: TWO word-level recursive DPs (E1, E2) plus the piece-level
    alt-DP, the delta ranking with its (delta desc, vcnt desc, piece asc)
    tie-break, and the re-normalized round-6 logps.  The engine runs the
    whole chain in one lazy single-task kernel (``unigram_prune``), so
    building this frame runs no Spark job.

    Regime constant (same class as sample_full/sketch_full): with
    shrink=0.25 the keep count is max(8, ⌊n·0.25⌋) = 8 whenever the
    post-EM multi count n is in (8, 32] — measured 18/19/19 at
    sf0.001/0.01/0.1, so exactly ONE prune round fires at every fixture
    scale and the oracle's LIMIT 8 is the engine's keep_n verbatim.
    ``expect_rounds=1`` turns that measurement into a GUARD (r13): if
    fixture drift ever changes the round count or keep_n, the kernel
    raises when the frame executes instead of hash-mismatching against
    the oracle."""
    from ..operators.tokenizer import unigram_prune

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return unigram_prune(docs, target_multi=8, shrink=0.25, expect_rounds=1)


QUERIES = {
    "corpus_unigram_vocab": q_corpus_unigram_vocab,
    "corpus_unigram_prune": q_corpus_unigram_prune,
    "corpus_unigram_encode": q_corpus_unigram_encode,
    "events_qsample_quantiles": q_qsample_quantiles,
    "corpus_domain_blocklist": q_corpus_domain_blocklist,
    "corpus_domain_quality": q_domain_quality_report,
    "corpus_domain_pagerank": q_domain_pagerank,
    "corpus_bpe_merges": q_corpus_bpe_merges,
    "corpus_bytebpe_merges": q_corpus_bytebpe_merges,
    "corpus_bytebpe_encode": q_corpus_bytebpe_encode,
    "corpus_wordpiece_merges": q_corpus_wordpiece_merges,
    "corpus_wordpiece_encode": q_corpus_wordpiece_encode,
    "corpus_bpe_encode": q_corpus_bpe_encode,
    "corpus_sketch_distinct": q_sketch_distinct,
    "events_quantile_sketch": q_quantile_sketch,
}

# The unigram hard-EM train chain (seed vocab → E-step DP #1 → M-step
# with 0.5 char floor and zero-mass pruning → round-6 re-estimated
# ``vocab2``), shared by the encode and prune oracles.  Nested recursive
# CTE names are unique per block (r1/b1 here; composers use r2/b2/r3…):
# DuckDB flattens sibling WITH RECURSIVE scopes, so a reused name binds
# to the wrong recursion.
_UNIGRAM_EM_CTES = """words AS (
          SELECT w, COUNT(*) AS cnt FROM (
            SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
            FROM documents) t WHERE length(w) <= 16 GROUP BY w
        ),
        subs AS (
          SELECT piece, SUM(cnt) AS freq FROM (
            SELECT w.cnt, substr(w.w, CAST(i.i AS INT), CAST(l.l AS INT)) AS piece
            FROM words w
            CROSS JOIN LATERAL (SELECT unnest(range(1, length(w.w) + 1))) i(i)
            CROSS JOIN LATERAL (SELECT unnest(range(1, LEAST(4, length(w.w) - i.i + 1) + 1))) l(l)
          ) t GROUP BY piece
        ),
        multi AS (SELECT piece, freq FROM subs WHERE length(piece) > 1
                  ORDER BY freq DESC, piece ASC LIMIT 48),
        seed AS (SELECT * FROM multi
                 UNION ALL SELECT piece, freq FROM subs WHERE length(piece) = 1),
        tot AS (SELECT SUM(freq) AS t FROM seed),
        vocab AS (SELECT piece, ROUND(LN(freq / t), 6) AS logp FROM seed, tot),
        dpr AS (
          WITH RECURSIVE r1 AS (
            SELECT w, cnt, 0 AS pos, [CAST(0.0 AS DOUBLE)] AS negs,
                   CAST([] AS BIGINT[]) AS bps
            FROM words
            UNION ALL
            SELECT r1.w, r1.cnt, r1.pos + 1, r1.negs || [b.bn], r1.bps || [b.bj]
            FROM r1, LATERAL (
              SELECT cand.negs AS bn, cand.j AS bj FROM (
                SELECT r1.negs[CAST(j.j + 1 AS INT)]
                       - COALESCE((SELECT v.logp FROM vocab v
                                   WHERE v.piece = substr(r1.w, CAST(j.j + 1 AS INT),
                                                          CAST(r1.pos + 1 - j.j AS INT))),
                                  -1000000000.0) AS negs,
                       j.j AS j
                FROM (SELECT unnest(range(GREATEST(r1.pos + 1 - 4, 0), r1.pos + 1)) AS j) j
              ) cand ORDER BY cand.negs, cand.j LIMIT 1
            ) b
            WHERE r1.pos < length(r1.w)
          )
          SELECT w, cnt, bps FROM r1 WHERE pos = length(w)
        ),
        bt AS (
          WITH RECURSIVE b1 AS (
            SELECT w, cnt, CAST(length(w) AS BIGINT) AS pos, bps FROM dpr
            UNION ALL
            SELECT w, cnt, bps[CAST(pos AS INT)] AS pos, bps FROM b1 WHERE pos > 0
          )
          SELECT w, cnt,
                 substr(w, CAST(bps[CAST(pos AS INT)] + 1 AS INT),
                        CAST(pos - bps[CAST(pos AS INT)] AS INT)) AS piece
          FROM b1 WHERE pos > 0
        ),
        vmass AS (SELECT piece, SUM(cnt) AS vcnt FROM bt GROUP BY piece),
        chars AS (SELECT DISTINCT piece FROM subs WHERE length(piece) = 1),
        freqs AS (
          SELECT c.piece, COALESCE(CAST(k.vcnt AS DOUBLE), 0.5) AS freq
          FROM chars c LEFT JOIN vmass k ON k.piece = c.piece
          UNION ALL
          SELECT k.piece, CAST(k.vcnt AS DOUBLE) AS freq
          FROM vmass k WHERE length(k.piece) > 1
        ),
        tot2 AS (SELECT SUM(freq) AS t FROM freqs),
        vocab2 AS (SELECT piece, ROUND(LN(freq / t), 6) AS logp FROM freqs, tot2)"""

ORACLES = {
    "corpus_unigram_prune": f"""
        WITH {_UNIGRAM_EM_CTES},
        vstat AS (SELECT v.piece, v.logp, COALESCE(m.vcnt, 0) AS vcnt
                  FROM vocab2 v LEFT JOIN vmass m USING (piece)),
        -- loss-delta alt-DP: segment each multi piece WITHOUT itself
        -- (full span disallowed) against the trained vocab
        altdp AS (
          WITH RECURSIVE r3 AS (
            SELECT piece AS w, 0 AS pos, [CAST(0.0 AS DOUBLE)] AS negs
            FROM vstat WHERE length(piece) > 1
            UNION ALL
            SELECT r3.w, r3.pos + 1, r3.negs || [b.bn]
            FROM r3, LATERAL (
              SELECT cand.negs AS bn FROM (
                SELECT r3.negs[CAST(j.j + 1 AS INT)]
                       - COALESCE(CASE WHEN j.j = 0 AND r3.pos + 1 = length(r3.w)
                                       THEN NULL
                                       ELSE (SELECT v.logp FROM vocab2 v
                                             WHERE v.piece = substr(r3.w, CAST(j.j + 1 AS INT),
                                                                    CAST(r3.pos + 1 - j.j AS INT))) END,
                                  -1000000000.0) AS negs,
                       j.j AS j
                FROM (SELECT unnest(range(GREATEST(r3.pos + 1 - 4, 0), r3.pos + 1)) AS j) j
              ) cand ORDER BY cand.negs, cand.j LIMIT 1
            ) b
            WHERE r3.pos < length(r3.w)
          )
          SELECT w, negs[CAST(length(w) + 1 AS INT)] AS alt_negs
          FROM r3 WHERE pos = length(w)
        ),
        ranked AS (SELECT s.piece FROM vstat s JOIN altdp a ON a.w = s.piece
                   ORDER BY s.vcnt * (a.alt_negs + s.logp) DESC,
                            s.vcnt DESC, s.piece ASC
                   LIMIT 8),
        kept AS (SELECT piece, freq FROM freqs
                 WHERE length(piece) = 1
                    OR piece IN (SELECT piece FROM ranked)),
        tot3 AS (SELECT SUM(freq) AS t FROM kept),
        vocab3 AS (SELECT piece, ROUND(LN(freq / t), 6) AS logp FROM kept, tot3),
        -- E-step #2 against the pruned renormalized vocab, then M-step #2
        dprb AS (
          WITH RECURSIVE r4 AS (
            SELECT w, cnt, 0 AS pos, [CAST(0.0 AS DOUBLE)] AS negs,
                   CAST([] AS BIGINT[]) AS bps
            FROM words
            UNION ALL
            SELECT r4.w, r4.cnt, r4.pos + 1, r4.negs || [b.bn], r4.bps || [b.bj]
            FROM r4, LATERAL (
              SELECT cand.negs AS bn, cand.j AS bj FROM (
                SELECT r4.negs[CAST(j.j + 1 AS INT)]
                       - COALESCE((SELECT v.logp FROM vocab3 v
                                   WHERE v.piece = substr(r4.w, CAST(j.j + 1 AS INT),
                                                          CAST(r4.pos + 1 - j.j AS INT))),
                                  -1000000000.0) AS negs,
                       j.j AS j
                FROM (SELECT unnest(range(GREATEST(r4.pos + 1 - 4, 0), r4.pos + 1)) AS j) j
              ) cand ORDER BY cand.negs, cand.j LIMIT 1
            ) b
            WHERE r4.pos < length(r4.w)
          )
          SELECT w, cnt, bps FROM r4 WHERE pos = length(w)
        ),
        btb AS (
          WITH RECURSIVE b4 AS (
            SELECT w, cnt, CAST(length(w) AS BIGINT) AS pos, bps FROM dprb
            UNION ALL
            SELECT w, cnt, bps[CAST(pos AS INT)] AS pos, bps FROM b4 WHERE pos > 0
          )
          SELECT w, cnt,
                 substr(w, CAST(bps[CAST(pos AS INT)] + 1 AS INT),
                        CAST(pos - bps[CAST(pos AS INT)] AS INT)) AS piece
          FROM b4 WHERE pos > 0
        ),
        vmass2 AS (SELECT piece, SUM(cnt) AS vcnt FROM btb GROUP BY piece),
        freqs2 AS (
          SELECT c.piece, COALESCE(CAST(k.vcnt AS DOUBLE), 0.5) AS freq
          FROM chars c LEFT JOIN vmass2 k ON k.piece = c.piece
          UNION ALL
          SELECT k.piece, CAST(k.vcnt AS DOUBLE) AS freq
          FROM vmass2 k WHERE length(k.piece) > 1
        ),
        tot4 AS (SELECT SUM(freq) AS t FROM freqs2),
        vocab4 AS (SELECT piece, ROUND(LN(freq / t), 6) AS logp FROM freqs2, tot4)
        SELECT v.piece, CAST(COALESCE(m.vcnt, 0) AS BIGINT) AS cnt, v.logp
        FROM vocab4 v LEFT JOIN vmass2 m USING (piece)
    """,
    "corpus_unigram_encode": f"""
        WITH {_UNIGRAM_EM_CTES},
        -- E-step DP #2: the ENCODE pass, against the post-EM vocab
        dpr2 AS (
          WITH RECURSIVE r2 AS (
            SELECT w, 0 AS pos, [CAST(0.0 AS DOUBLE)] AS negs,
                   CAST([] AS BIGINT[]) AS bps
            FROM words
            UNION ALL
            SELECT r2.w, r2.pos + 1, r2.negs || [b.bn], r2.bps || [b.bj]
            FROM r2, LATERAL (
              SELECT cand.negs AS bn, cand.j AS bj FROM (
                SELECT r2.negs[CAST(j.j + 1 AS INT)]
                       - COALESCE((SELECT v.logp FROM vocab2 v
                                   WHERE v.piece = substr(r2.w, CAST(j.j + 1 AS INT),
                                                          CAST(r2.pos + 1 - j.j AS INT))),
                                  -1000000000.0) AS negs,
                       j.j AS j
                FROM (SELECT unnest(range(GREATEST(r2.pos + 1 - 4, 0), r2.pos + 1)) AS j) j
              ) cand ORDER BY cand.negs, cand.j LIMIT 1
            ) b
            WHERE r2.pos < length(r2.w)
          )
          SELECT w, bps FROM r2 WHERE pos = length(w)
        ),
        npieces AS (
          WITH RECURSIVE b2 AS (
            SELECT w, CAST(length(w) AS BIGINT) AS pos, bps FROM dpr2
            UNION ALL
            SELECT w, bps[CAST(pos AS INT)] AS pos, bps FROM b2 WHERE pos > 0
          )
          SELECT w, COUNT(*) AS n_pieces FROM b2 WHERE pos > 0 GROUP BY w
        ),
        doc_words AS (
          SELECT doc_id, w, COUNT(*) AS cnt FROM (
            SELECT doc_id,
                   unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
            FROM documents) t WHERE length(w) <= 16 GROUP BY doc_id, w
        )
        SELECT d.doc_id,
               CAST(SUM(d.cnt) AS BIGINT) AS n_words,
               CAST(SUM(d.cnt * p.n_pieces) AS BIGINT) AS n_subwords,
               CAST(SUM(d.cnt * length(d.w)) AS BIGINT) AS n_chars,
               ROUND(CAST(SUM(d.cnt * length(d.w)) AS DOUBLE)
                     / SUM(d.cnt * p.n_pieces), 4) AS compression
        FROM doc_words d JOIN npieces p ON p.w = d.w
        GROUP BY d.doc_id
    """,
    "corpus_unigram_vocab": """
        WITH words AS (
          SELECT w, COUNT(*) AS cnt FROM (
            SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
            FROM documents) t WHERE length(w) <= 16 GROUP BY w
        ),
        subs AS (
          SELECT piece, SUM(cnt) AS freq FROM (
            SELECT w.cnt, substr(w.w, CAST(i.i AS INT), CAST(l.l AS INT)) AS piece
            FROM words w
            CROSS JOIN LATERAL (SELECT unnest(range(1, length(w.w) + 1))) i(i)
            CROSS JOIN LATERAL (SELECT unnest(range(1, LEAST(4, length(w.w) - i.i + 1) + 1))) l(l)
          ) t GROUP BY piece
        ),
        multi AS (SELECT piece, freq FROM subs WHERE length(piece) > 1
                  ORDER BY freq DESC, piece ASC LIMIT 48),
        seed AS (SELECT * FROM multi
                 UNION ALL SELECT piece, freq FROM subs WHERE length(piece) = 1),
        tot AS (SELECT SUM(freq) AS t FROM seed),
        vocab AS (SELECT piece, ROUND(LN(freq / t), 6) AS logp FROM seed, tot),
        dpr AS (
          WITH RECURSIVE r AS (
            SELECT w, cnt, 0 AS pos, [CAST(0.0 AS DOUBLE)] AS negs,
                   CAST([] AS BIGINT[]) AS bps
            FROM words
            UNION ALL
            SELECT r.w, r.cnt, r.pos + 1, r.negs || [b.bn], r.bps || [b.bj]
            FROM r, LATERAL (
              SELECT cand.negs AS bn, cand.j AS bj FROM (
                SELECT r.negs[CAST(j.j + 1 AS INT)]
                       - COALESCE((SELECT v.logp FROM vocab v
                                   WHERE v.piece = substr(r.w, CAST(j.j + 1 AS INT),
                                                          CAST(r.pos + 1 - j.j AS INT))),
                                  -1000000000.0) AS negs,
                       j.j AS j
                FROM (SELECT unnest(range(GREATEST(r.pos + 1 - 4, 0), r.pos + 1)) AS j) j
              ) cand ORDER BY cand.negs, cand.j LIMIT 1
            ) b
            WHERE r.pos < length(r.w)
          )
          SELECT w, cnt, bps FROM r WHERE pos = length(w)
        ),
        bt AS (
          WITH RECURSIVE b AS (
            SELECT w, cnt, CAST(length(w) AS BIGINT) AS pos, bps FROM dpr
            UNION ALL
            SELECT w, cnt, bps[CAST(pos AS INT)] AS pos, bps FROM b WHERE pos > 0
          )
          SELECT w, cnt,
                 substr(w, CAST(bps[CAST(pos AS INT)] + 1 AS INT),
                        CAST(pos - bps[CAST(pos AS INT)] AS INT)) AS piece
          FROM b WHERE pos > 0
        ),
        counts AS (SELECT piece, SUM(cnt) AS cnt FROM bt GROUP BY piece),
        top AS (SELECT piece, CAST(cnt AS BIGINT) AS cnt,
                ROW_NUMBER() OVER (ORDER BY cnt DESC, piece ASC) AS rank FROM counts)
        SELECT CAST(rank AS INT) AS rank, piece, cnt FROM top WHERE rank <= 30
    """,
    "events_qsample_quantiles": """
        WITH h AS (
            SELECT event_type, value,
                   ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT AS hh
            FROM events
        ),
        r AS (
            SELECT event_type, value,
                   row_number() OVER (PARTITION BY event_type ORDER BY hh, value) AS rn
            FROM h
        ),
        s AS (SELECT event_type, value FROM r WHERE rn <= 512),
        o AS (
            SELECT event_type, value,
                   row_number() OVER (PARTITION BY event_type ORDER BY value) AS vr,
                   count(*) OVER (PARTITION BY event_type) AS n
            FROM s
        )
        SELECT event_type,
               CAST(MAX(n) AS INT) AS n_sample,
               ROUND(MAX(CASE WHEN vr = GREATEST(CAST(CEIL(0.5 * n) AS BIGINT), 1)
                              THEN value END), 6) AS p50,
               ROUND(MAX(CASE WHEN vr = GREATEST(CAST(CEIL(0.9 * n) AS BIGINT), 1)
                              THEN value END), 6) AS p90
        FROM o GROUP BY event_type
    """,
    "corpus_domain_blocklist": """
        SELECT doc_id FROM documents WHERE doc_id % 7 NOT IN (2, 5)
    """,
    "corpus_domain_quality": """
    WITH planted AS (
        SELECT doc_id,
               text || ' via https://src' || CAST(doc_id % 7 AS VARCHAR)
                    || '.example.com/doc/' || CAST(doc_id AS VARCHAR) AS text,
               'src' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' AS domain
        FROM documents
    ),
    q AS (
        SELECT doc_id, domain,
               (length(text) BETWEEN 100 AND 1000)
               AND (len(list_distinct(string_split(text, ' '))) * 1.0
                    / len(string_split(text, ' ')) >= 0.15)
               AND (len(list_filter(string_split(text, ' '),
                        t -> t IN ('the', 'a', 'and', 'of'))) * 1.0
                    / len(string_split(text, ' ')) <= 0.5) AS keep
        FROM planted
    )
    SELECT domain,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
           ROUND(SUM(CASE WHEN keep THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6)
               AS keep_rate,
           SUM(CASE WHEN keep THEN 1 ELSE 0 END) * 2 < COUNT(*) AS suggest_block
    FROM q GROUP BY domain
""",
    "corpus_domain_pagerank": """
    WITH e AS (
        SELECT DISTINCT
               'src' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' AS s,
               'dst' || CAST(doc_id % 5 AS VARCHAR) || '.example.org' AS d
        FROM documents
    ),
    nodes AS (SELECT s AS node FROM e UNION SELECT d FROM e),
    p AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
    od AS (SELECT s, COUNT(*) AS outdeg FROM e GROUP BY s),
    r0 AS (SELECT node, 1.0 / n AS rank FROM nodes, p),
    r1 AS (
        SELECT no.node, 0.15 / p.n + 0.85 * COALESCE(c.m, 0) AS rank
        FROM nodes no CROSS JOIN p
        LEFT JOIN (SELECT e.d AS node, SUM(r0.rank / od.outdeg) AS m
                   FROM e JOIN od USING (s) JOIN r0 ON r0.node = e.s
                   GROUP BY e.d) c ON c.node = no.node
    ),
    r2 AS (
        SELECT no.node, 0.15 / p.n + 0.85 * COALESCE(c.m, 0) AS rank
        FROM nodes no CROSS JOIN p
        LEFT JOIN (SELECT e.d AS node, SUM(r1.rank / od.outdeg) AS m
                   FROM e JOIN od USING (s) JOIN r1 ON r1.node = e.s
                   GROUP BY e.d) c ON c.node = no.node
    ),
    r3 AS (
        SELECT no.node, 0.15 / p.n + 0.85 * COALESCE(c.m, 0) AS rank
        FROM nodes no CROSS JOIN p
        LEFT JOIN (SELECT e.d AS node, SUM(r2.rank / od.outdeg) AS m
                   FROM e JOIN od USING (s) JOIN r2 ON r2.node = e.s
                   GROUP BY e.d) c ON c.node = no.node
    )
    SELECT node, ROUND(rank, 6) AS rank FROM r3
""",
    "corpus_wordpiece_merges": """
    WITH n AS (SELECT COUNT(*) AS c FROM documents)
    SELECT * FROM (
        SELECT 1 AS merge_rank, 'x' AS left_sym, '##y' AS right_sym,
               'xy' AS merged, CAST(2 * c AS BIGINT) AS pair_count FROM n
        UNION ALL
        SELECT 2, 'x', '##z', 'xz', CAST(c AS BIGINT) FROM n
        UNION ALL
        SELECT 3, 'd', '##e', 'de', CAST(4 * c AS BIGINT) FROM n
    )
""",
    "corpus_wordpiece_encode": """
    SELECT doc_id,
           CAST(6 AS BIGINT) AS n_words,
           CAST(8 AS BIGINT) AS n_pieces,
           CAST(1 AS BIGINT) AS n_unk
    FROM documents
""",
    "corpus_bpe_merges": """
    WITH n AS (SELECT COUNT(*) AS c FROM documents)
    SELECT * FROM (
        SELECT 1 AS merge_rank, 'a' AS left_sym, 'b' AS right_sym,
               'ab' AS merged, CAST(3 * c AS BIGINT) AS pair_count FROM n
        UNION ALL
        SELECT 2, 'ab', 'c', 'abc', CAST(2 * c AS BIGINT) FROM n
        UNION ALL
        SELECT 3, 'd', 'e', 'de', CAST(c AS BIGINT) FROM n
    )
""",
    "corpus_bpe_encode": """
    SELECT doc_id, CAST(3 AS BIGINT) AS n_words,
           CAST(5 AS BIGINT) AS n_subwords,
           CAST(8 AS BIGINT) AS n_base_symbols,
           CAST(1.6 AS DOUBLE) AS compression
    FROM documents
""",
    "corpus_bytebpe_merges": """
    WITH n AS (SELECT COUNT(*) AS c FROM documents)
    SELECT * FROM (
        SELECT 1 AS merge_rank, 'Ã' AS left_sym, '©' AS right_sym,
               'Ã©' AS merged, CAST(3 * c AS BIGINT) AS pair_count FROM n
        UNION ALL
        SELECT 2, 'a', 'f', 'af', CAST(2 * c AS BIGINT) FROM n
        UNION ALL
        SELECT 3, 'af', 'Ã©', 'afÃ©', CAST(2 * c AS BIGINT) FROM n
    )
""",
    "corpus_bytebpe_encode": """
    SELECT doc_id, CAST(3 AS BIGINT) AS n_words,
           CAST(10 AS BIGINT) AS n_subwords,
           CAST(14 AS BIGINT) AS n_base_symbols,
           CAST(1.4 AS DOUBLE) AS compression
    FROM documents
""",
    "corpus_sketch_distinct": """
    SELECT lang,
           COUNT(DISTINCT sha256(lower(trim(text)))) AS n_exact,
           true AS sketch_within_10pct
    FROM documents GROUP BY lang
""",
    "events_quantile_sketch": """
    SELECT event_type, COUNT(*) AS n_events, true AS median_in_p40_p60
    FROM events GROUP BY event_type
""",
}


def q_domain_pagerank_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r8 (VERDICT r7 #7): PageRank with DANGLING-MASS REDISTRIBUTION over
    the same injected link graph as ``corpus_domain_pagerank`` — whose
    five dst*.example.org nodes are true sinks (no outlinks), so the two
    modes measurably diverge: under redistribution total rank stays
    exactly 1 and the sinks' held mass flows back uniformly each round.
    The oracle unrolls the same three iterations in SQL including the
    per-round sink-mass scalar, so every rank value is checked to 6
    decimals — no graph code on the oracle side."""
    from ..operators.graph import pagerank
    from ..operators.text import extract_urls

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" from https://src"), (F.col("doc_id") % 7).cast("string"),
            F.lit(".example.com/p/"), F.col("doc_id").cast("string"),
            F.lit(" links https://dst"), (F.col("doc_id") % 5).cast("string"),
            F.lit(".example.org/q/"), F.col("doc_id").cast("string"),
        ).alias("text"),
    )
    urls = extract_urls(docs)
    per_doc = urls.groupBy("doc_id").agg(
        F.min(F.when(F.col("domain").endswith(".example.com"), F.col("domain"))).alias("src"),
        F.min(F.when(F.col("domain").endswith(".example.org"), F.col("domain"))).alias("dst"),
    )
    edges = (
        per_doc.filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .select("src", "dst")
        .distinct()
    )
    ranks = pagerank(edges, iterations=3, damping=0.85, dangling="redistribute")
    return ranks.select("node", F.round("rank", 6).alias("rank"))


QUERIES["corpus_pagerank_sink"] = q_domain_pagerank_sink
# Three redistribution iterations unrolled: per round the sink mass S
# (rank held by nodes with no outlinks) folds back uniformly —
# rank' = 0.15/n + 0.85*(contrib + S/n); total rank stays exactly 1.
ORACLES["corpus_pagerank_sink"] = """
    WITH e AS (
        SELECT DISTINCT
               'src' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' AS s,
               'dst' || CAST(doc_id % 5 AS VARCHAR) || '.example.org' AS d
        FROM documents
    ),
    nodes AS (SELECT s AS node FROM e UNION SELECT d FROM e),
    p AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
    od AS (SELECT s, COUNT(*) AS outdeg FROM e GROUP BY s),
    sinks AS (SELECT node FROM nodes WHERE node NOT IN (SELECT s FROM od)),
    r0 AS (SELECT node, 1.0 / n AS rank FROM nodes, p),
    s0 AS (SELECT COALESCE(SUM(r0.rank), 0) AS m FROM r0 JOIN sinks USING (node)),
    r1 AS (
        SELECT no.node,
               0.15 / p.n + 0.85 * (COALESCE(c.m, 0) + s0.m / p.n) AS rank
        FROM nodes no CROSS JOIN p CROSS JOIN s0
        LEFT JOIN (SELECT e.d AS node, SUM(r0.rank / od.outdeg) AS m
                   FROM e JOIN od USING (s) JOIN r0 ON r0.node = e.s
                   GROUP BY e.d) c ON c.node = no.node
    ),
    s1 AS (SELECT COALESCE(SUM(r1.rank), 0) AS m FROM r1 JOIN sinks USING (node)),
    r2 AS (
        SELECT no.node,
               0.15 / p.n + 0.85 * (COALESCE(c.m, 0) + s1.m / p.n) AS rank
        FROM nodes no CROSS JOIN p CROSS JOIN s1
        LEFT JOIN (SELECT e.d AS node, SUM(r1.rank / od.outdeg) AS m
                   FROM e JOIN od USING (s) JOIN r1 ON r1.node = e.s
                   GROUP BY e.d) c ON c.node = no.node
    ),
    s2 AS (SELECT COALESCE(SUM(r2.rank), 0) AS m FROM r2 JOIN sinks USING (node)),
    r3 AS (
        SELECT no.node,
               0.15 / p.n + 0.85 * (COALESCE(c.m, 0) + s2.m / p.n) AS rank
        FROM nodes no CROSS JOIN p CROSS JOIN s2
        LEFT JOIN (SELECT e.d AS node, SUM(r2.rank / od.outdeg) AS m
                   FROM e JOIN od USING (s) JOIN r2 ON r2.node = e.s
                   GROUP BY e.d) c ON c.node = no.node
    )
    SELECT node, ROUND(rank, 6) AS rank FROM r3
"""


def q_corpus_topk_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r8: frequent-items sketch — the ClickHouse ``topK()`` analogue
    (operators/sketch.py space_saving_topk: per-partition Space-Saving
    with bounded counters, then an exact recount of only the candidate
    union).  Top-50 corpus tokens with EXACT counts; the oracle is the
    straight exact top-50, so the sketch path's candidate guarantee is
    value-checked end-to-end — a candidate set that dropped a true heavy
    hitter hash-mismatches immediately."""
    from ..operators.sketch import space_saving_topk

    toks = load_table(spark, sf_dir, "documents").select(
        F.explode(F.split("text", " ")).alias("token")
    ).filter(F.col("token") != "")
    return space_saving_topk(toks, col="token", k=50)


QUERIES["corpus_topk_tokens"] = q_corpus_topk_tokens
ORACLES["corpus_topk_tokens"] = """
    WITH counts AS (
        SELECT token, COUNT(*) AS n
        FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        WHERE token <> ''
        GROUP BY token
    )
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY n DESC, token ASC) AS BIGINT) AS rank,
           token AS item, n
    FROM counts
    ORDER BY n DESC, token ASC
    LIMIT 50
"""


def q_corpus_topk_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r14 — WIMBD-style most-common n-grams (Elazar et al. 2024 run
    exactly this analysis over C4/Pile/Dolma, with EXACT counts): the
    top-25 word trigrams, count-desc / gram-asc deterministic cut.

    Exact on purpose — the Space-Saving sketch path
    (corpus_topk_tokens) was tried first and is the WRONG tool here:
    the synthetic corpus's trigram distribution is FLAT (thousands of
    grams tie at the cut count), so the sketch's heavy-hitter
    candidate guarantee — which assumes separation — legitimately
    drops tied members.  WIMBD itself counts exactly.  Plan: one
    explode + one map-side-combinable groupBy + a driver-free global
    sort-limit (``TakeOrderedAndProject`` — every partition
    contributes ≤ k rows; never a one-partition window)."""
    # sequence(1, 0) DESCENDS in Spark — docs with < 3 tokens must short-
    # circuit to an empty array, not rely on a greatest() lower bound
    grams_arr = F.expr(
        "case when size(__w) >= 3 then"
        " transform(sequence(1, size(__w) - 2),"
        " i -> concat_ws(' ', __w[i-1], __w[i], __w[i+1]))"
        " else array() end"
    )
    grams = (
        load_table(spark, sf_dir, "documents")
        .withColumn("__w", F.filter(F.split(F.col("text"), " "),
                                    lambda x: x != ""))
        .select(F.explode(grams_arr).alias("gram"))
    )
    return (
        grams.groupBy("gram").agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("gram").asc())
        .limit(25)
        .select(F.col("gram").alias("item"), "n")
    )


QUERIES["corpus_topk_ngrams"] = q_corpus_topk_ngrams
ORACLES["corpus_topk_ngrams"] = """
    WITH w AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS wd
        FROM documents
    ),
    grams AS (
        SELECT wd[CAST(i.i AS INT)] || ' ' || wd[CAST(i.i + 1 AS INT)]
               || ' ' || wd[CAST(i.i + 2 AS INT)] AS gram
        FROM w CROSS JOIN LATERAL (
            SELECT unnest(range(1, len(wd) - 1))) i(i)
    ),
    counts AS (SELECT gram, COUNT(*) AS n FROM grams GROUP BY gram)
    SELECT gram AS item, n
    FROM counts
    ORDER BY n DESC, gram ASC
    LIMIT 25
"""


def q_corpus_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r8: cross-slice vocabulary overlap via KMV sketches
    (operators/sketch.py kmv_sketch/kmv_jaccard — the mergeable
    theta-sketch family, CH uniqCombined/DataSketches territory): per
    source-pair, the EXACT distinct-token Jaccard (oracle-checked by
    value) next to the sketch ESTIMATE and an accuracy verdict the
    oracle states as a constant, oracle-independent of the sketch
    internals (same pattern as the HLL and quantile guards).  The
    measurement a data recipe needs before merging two crawl sources —
    near-identical vocabularies mean near-duplicate slices.

    At 100 TB the exact side is the expensive one (a distinct
    (source, token) shuffle); the sketch side touches each token once
    and then works on K-sized arrays — here both run so the estimate is
    graded against the truth."""
    from ..operators.sketch import kmv_jaccard, kmv_sketch

    toks = (
        load_table(spark, sf_dir, "documents")
        .select("source", F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
    )
    distinct = toks.distinct()
    # r19-opt (guide §2.4 share one exchange): KMV keeps the K smallest
    # DISTINCT hashes — its level-1 collect_set dedupes anyway, so the
    # sketch over the distinct (source, token) pairs is value-identical
    # to the sketch over raw tokens.  Feeding it `distinct` lets AQE
    # reuse the exact side's distinct exchange: the corpus is scanned
    # and exploded ONCE, and the hash runs over distinct tokens only.
    est = kmv_jaccard(kmv_sketch(distinct, "source", "token", k=256), "source", k=256)
    a = distinct.select(F.col("source").alias("group_a"), "token")
    b = distinct.select(F.col("source").alias("group_b"), "token")
    inter = (
        a.join(b, "token")
        .filter(F.col("group_a") < F.col("group_b"))
        .groupBy("group_a", "group_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sizes = distinct.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    exact = (
        inter.join(sizes.withColumnRenamed("source", "group_a")
                   .withColumnRenamed("n", "na"), "group_a")
        .join(sizes.withColumnRenamed("source", "group_b")
              .withColumnRenamed("n", "nb"), "group_b")
        .select(
            "group_a", "group_b",
            F.round(
                F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter")), 6
            ).alias("exact_jaccard"),
        )
    )
    return exact.join(est, ["group_a", "group_b"]).select(
        "group_a", "group_b", "exact_jaccard",
        (F.abs(F.col("est_jaccard") - F.col("exact_jaccard")) <= 0.15).alias(
            "sketch_within_015"
        ),
    )


QUERIES["corpus_source_overlap"] = q_corpus_source_overlap
# exact side recomputed in SQL; the sketch's accuracy verdict stated as a
# constant (oracle-independent of the sketch formula)
ORACLES["corpus_source_overlap"] = """
    WITH t AS (
        SELECT DISTINCT source, unnest(string_split(text, ' ')) AS token
        FROM documents
    ),
    tt AS (SELECT DISTINCT source, token FROM t WHERE token <> ''),
    sizes AS (SELECT source, COUNT(*) AS n FROM tt GROUP BY source),
    inter AS (
        SELECT a.source AS group_a, b.source AS group_b, COUNT(*) AS n_inter
        FROM tt a JOIN tt b ON a.token = b.token AND a.source < b.source
        GROUP BY a.source, b.source
    )
    SELECT i.group_a, i.group_b,
           ROUND(i.n_inter * 1.0 / (sa.n + sb.n - i.n_inter), 6) AS exact_jaccard,
           true AS sketch_within_015
    FROM inter i
    JOIN sizes sa ON sa.source = i.group_a
    JOIN sizes sb ON sb.source = i.group_b
"""


def q_corpus_topk_domains_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r8: weighted heavy hitters — the ClickHouse ``topKWeighted``
    analogue: top source domains by TOKEN MASS (each doc weighs its token
    count), not by page count — the ranking a crawl budget actually
    allocates against.  Same Space-Saving machinery with weight sums in
    place of counts; exact recount keeps the result oracle-checkable by
    value."""
    from ..operators.sketch import space_saving_topk
    from ..operators.text import extract_urls

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
        F.concat(
            F.col("text"),
            F.lit(" via https://src"), (F.col("doc_id") % 7).cast("string"),
            F.lit(".example.com/doc/"), F.col("doc_id").cast("string"),
        ).alias("text"),
    )
    domains = (
        extract_urls(docs).select("doc_id", "domain").distinct()
        .join(docs.select("doc_id", "n_tokens"), "doc_id")
    )
    return space_saving_topk(
        domains, col="domain", k=5, weight_col="n_tokens"
    )


QUERIES["corpus_topk_domains_weighted"] = q_corpus_topk_domains_weighted
ORACLES["corpus_topk_domains_weighted"] = """
    WITH d AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               'src' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' AS domain
        FROM documents
    ),
    agg AS (SELECT domain, CAST(SUM(n_tokens) AS BIGINT) AS n FROM d GROUP BY domain)
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY n DESC, domain ASC) AS BIGINT) AS rank,
           domain AS item, n
    FROM agg ORDER BY n DESC, domain ASC LIMIT 5
"""


def q_corpus_content_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r8: per-source CONTENT drift — Jensen-Shannon divergence between
    each source's token distribution and the corpus-wide distribution
    (the content counterpart of the schema-drift family: schema drift
    says a source changed SHAPE, JS divergence says it changed LANGUAGE).
    The standard retrain/rebalance trigger for a corpus mix, and the
    number that ranks which source to investigate first.

    JS(P,M) = 0.5·Σ p·ln(p/m) + 0.5·Σ q·ln(q/m) with M the even mixture —
    bounded [0, ln 2], symmetric, defined even for disjoint vocabularies.
    One (source, token) groupBy + a broadcast corpus-totals attach; every
    arithmetic step is identically-ordered IEEE double so DuckDB agrees
    to 6 decimals."""
    toks = (
        load_table(spark, sf_dir, "documents")
        .select("source", F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
    )
    per = toks.groupBy("source", "token").agg(F.count(F.lit(1)).alias("n"))
    src_tot = per.groupBy("source").agg(F.sum("n").alias("src_n"))
    corpus = per.groupBy("token").agg(F.sum("n").alias("cn"))
    corpus_tot = corpus.agg(F.sum("cn").alias("tot"))
    j = (
        per.join(src_tot, "source")
        .join(corpus, "token")
        .join(F.broadcast(corpus_tot))
    )
    p = F.col("n") / F.col("src_n")            # P(token | source)
    q = F.col("cn") / F.col("tot")             # Q(token | corpus)
    m = (p + q) / 2
    # per-token contributions; tokens absent from a source contribute only
    # through the Q side: 0.5·q·ln(q/m) with p=0 → m=q/2 → 0.5·q·ln(2)
    plog = F.when(p > 0, p * F.log(p / m)).otherwise(F.lit(0.0))
    qlog = q * F.log(q / m)
    present = j.groupBy("source").agg(
        F.sum(plog / 2 + qlog / 2).alias("__present"),
        F.sum(q).alias("__q_mass"),
    )
    import math

    return (
        present.select(
            "source",
            F.round(
                F.col("__present")
                + (F.lit(1.0) - F.col("__q_mass")) * F.lit(math.log(2.0) / 2),
                6,
            ).alias("js_divergence"),
        )
    )


QUERIES["corpus_content_drift"] = q_corpus_content_drift
ORACLES["corpus_content_drift"] = """
    WITH t AS (
        SELECT source, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    tt AS (SELECT source, token FROM t WHERE token <> ''),
    per AS (SELECT source, token, COUNT(*) AS n FROM tt GROUP BY source, token),
    st AS (SELECT source, SUM(n) AS src_n FROM per GROUP BY source),
    c AS (SELECT token, SUM(n) AS cn FROM per GROUP BY token),
    ct AS (SELECT SUM(cn) AS tot FROM c),
    j AS (
        SELECT per.source,
               per.n * 1.0 / st.src_n AS p,
               c.cn * 1.0 / ct.tot AS q
        FROM per JOIN st USING (source) JOIN c USING (token) CROSS JOIN ct
    ),
    agg AS (
        SELECT source,
               SUM(CASE WHEN p > 0 THEN p * ln(p / ((p + q) / 2)) ELSE 0 END) / 2
               + SUM(q * ln(q / ((p + q) / 2))) / 2 AS present,
               SUM(q) AS q_mass
        FROM j GROUP BY source
    )
    SELECT source,
           ROUND(present + (1.0 - q_mass) * ln(2) / 2, 6) AS js_divergence
    FROM agg
"""


def q_events_hll_uniques(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r10 — batch HyperLogLog distinct sketches (``hll_sketch``, CH
    ``uniqHLL12``'s dense-register algebra; Flajolet et al. 2007, public
    paper) with a FULL VALUE oracle: the md5-prefix hash makes every
    register deterministic, so DuckDB replicates the whole pipeline —
    register table, raw harmonic estimate, linear-counting branch — and
    the emitted register counts and rounded estimates match bit-for-bit,
    the strongest check an estimator admits (same bar as
    events_qsample_quantiles, one up from the verdict-only
    corpus_sketch_distinct).

    Two sketches exercise BOTH estimator regimes: ``user_id`` at p=8
    (m=256: linear-counting at sf0.01's 150 users, raw-harmonic at
    sf0.1's 1500 — measured |err| 0.6% / 13.7%, both deterministic
    fixture constants, band 0.20) and the high-cardinality ``event_id``
    at p=10 (m=1024: raw regime, measured |err| ≤ 4.5% at both SFs,
    band 0.12; σ theory = 1.04/√m = 6.5% / 3.25%)."""
    from ..operators.sketch import hll_estimate_expr, hll_sketch

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "user_id", "event_id"
    )
    nz = lambda c: F.size(F.filter(F.col(c), lambda x: x > 0))  # noqa: E731
    u = hll_sketch(ev, "event_type", "user_id", p=8).select(
        "event_type",
        nz("hll").alias("u_registers"),
        F.round(hll_estimate_expr("hll", 8), 0).cast("long").alias("u_est"),
    )
    e = hll_sketch(ev, "event_type", "event_id", p=10).select(
        "event_type",
        nz("hll").alias("e_registers"),
        F.round(hll_estimate_expr("hll", 10), 0).cast("long").alias("e_est"),
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.countDistinct("event_id").alias("exact_events"),
    )
    return (
        exact.join(u, "event_type")
        .join(e, "event_type")
        .select(
            "event_type",
            "exact_users",
            "u_registers",
            "u_est",
            (F.abs(F.col("u_est") / F.col("exact_users") - 1.0) <= 0.20)
            .alias("u_accurate"),
            "exact_events",
            "e_registers",
            "e_est",
            (F.abs(F.col("e_est") / F.col("exact_events") - 1.0) <= 0.12)
            .alias("e_accurate"),
        )
    )


QUERIES["events_hll_uniques"] = q_events_hll_uniques

# full HLL replication: register table -> harmonic sum -> linear-counting
# branch, per sketch.  The alpha*m^2 literals are the exact repr of the
# Python doubles the Spark side folds (0.7213/(1+1.079/m) * m^2), so both
# engines divide by the same IEEE double.
_HLL_CTE = """
        {n}h AS (SELECT event_type,
                      ('0x' || substr(md5(CAST({item} AS VARCHAR)), 1, 15))::BIGINT AS h
               FROM events WHERE {item} IS NOT NULL),
        {n}r AS (SELECT event_type, h % {m} AS j,
                      MAX(CASE WHEN (h >> {p}) = 0 THEN {w1}
                               ELSE {w1} - length(printf('%b', h >> {p})) END) AS rho
               FROM {n}h GROUP BY event_type, h % {m}),
        {n}a AS (SELECT event_type, {m} - COUNT(*) AS zeros,
                      ({m} - COUNT(*)) * 1.0 + SUM(power(2.0, -rho)) AS s
               FROM {n}r GROUP BY event_type),
        {n}e AS (SELECT event_type, CAST({m} - zeros AS INT) AS registers,
                      CASE WHEN ({am2} / s) <= {lim} AND zeros > 0
                           THEN {m}.0 * ln({m}.0 / zeros)
                           ELSE {am2} / s END AS est
               FROM {n}a)
"""

ORACLES["events_hll_uniques"] = (
    "    WITH\n"
    + _HLL_CTE.format(n="u", item="user_id", m=256, p=8, w1=53,
                      am2="47072.71267120224", lim="640.0")
    + ",\n"
    + _HLL_CTE.format(n="e", item="event_id", m=1024, p=10, w1=51,
                      am2="755541.746198293", lim="2560.0")
    + """,
        x AS (SELECT event_type,
                     COUNT(DISTINCT user_id) AS exact_users,
                     COUNT(DISTINCT event_id) AS exact_events
              FROM events GROUP BY event_type)
    SELECT x.event_type, x.exact_users,
           ue.registers AS u_registers,
           CAST(ROUND(ue.est, 0) AS BIGINT) AS u_est,
           ABS(ROUND(ue.est, 0) / x.exact_users - 1.0) <= 0.20 AS u_accurate,
           x.exact_events,
           ee.registers AS e_registers,
           CAST(ROUND(ee.est, 0) AS BIGINT) AS e_est,
           ABS(ROUND(ee.est, 0) / x.exact_events - 1.0) <= 0.12 AS e_accurate
    FROM x JOIN ue ON ue.event_type = x.event_type
           JOIN ee ON ee.event_type = x.event_type
"""
)


def q_corpus_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r15 — tokenizer FERTILITY by language (pieces per word — the
    standard cross-lingual tokenizer-equity metric; Rust et al. 2021
    "How Good is Your Tokenizer?" made it the headline number): the
    unigram-LM tokenizer's real train-then-encode chain
    (``corpus_unigram_encode``) aggregated per ``lang`` — n_docs,
    word/subword totals and the fertility ratio (floor-round-6).  A
    tokenizer trained on this mixed corpus SHOULD show per-language
    fertility spread; surfacing it per-lang is how pipelines catch a
    vocabulary starving a language.

    Plan: the encode chain's plan (vocab-sized Viterbi work joined
    back to per-doc word counts) + one extra lang-keyed aggregate —
    nothing new shuffles at corpus scale.  The oracle wraps the full
    replayed train+encode chain and re-aggregates."""
    enc = q_corpus_unigram_encode(spark, sf_dir)
    langs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    per = enc.join(langs, "doc_id").groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_words").cast("long").alias("n_words"),
        F.sum("n_subwords").cast("long").alias("n_subwords"),
    )
    fert = (
        F.floor(F.col("n_subwords") / F.col("n_words") * 1e6 + 0.5) / 1e6
    )
    return per.select("lang", "n_docs", "n_words", "n_subwords",
                      fert.alias("fertility"))


QUERIES["corpus_tokenizer_fertility"] = q_corpus_tokenizer_fertility
ORACLES["corpus_tokenizer_fertility"] = f"""
    WITH enc AS ({ORACLES["corpus_unigram_encode"]})
    SELECT d.lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(enc.n_words) AS BIGINT) AS n_words,
           CAST(SUM(enc.n_subwords) AS BIGINT) AS n_subwords,
           FLOOR(CAST(SUM(enc.n_subwords) AS DOUBLE)
                 / SUM(enc.n_words) * 1e6 + 0.5) / 1e6 AS fertility
    FROM enc JOIN documents d USING (doc_id)
    GROUP BY d.lang
"""
