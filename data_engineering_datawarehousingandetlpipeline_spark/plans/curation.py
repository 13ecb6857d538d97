"""Corpus-curation queries: the selection/audit layer of a pretraining
pipeline.

Round-6 additions on top of the dedup/similarity/text families in
plans/extensions.py — the decisions a data team makes AFTER detection has
run: which near-dup survives (quality-aware canonical selection), how
duplicated the corpus is (cluster-size histogram), which documents look
like the target domain (DSIR importance weights), which terms drift
between subcorpora (log-odds vocabulary drift), and how much sources
overlap each other (pairwise n-gram containment).

Every query follows the house contract: Spark plan + DuckDB oracle twin
computing the identical deterministic expression (shared md5/u32 hash
contract, ln + round at fixed scale, decimal-anchored float sums), every
computed column aliased identically on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_engineering_datawarehousingandetlpipeline_spark.functions.hashing import (
    sql_u32_hash,
    u32_hash,
)
from data_engineering_datawarehousingandetlpipeline_spark.functions.numeric import (
    dsum,
    sql_dsum,
)
from data_engineering_datawarehousingandetlpipeline_spark.operators import (
    dedup as dd,
)
from data_engineering_datawarehousingandetlpipeline_spark.operators import (
    text as tx,
)
from data_engineering_datawarehousingandetlpipeline_spark.plans.extensions import (
    _SQL_QUALITY_EXPR,
    CLUSTER_MAX_DOC_FREQ,
    MINHASH_JACCARD_THRESHOLD,
    cluster_pairs,
    SQL_CLUSTER_CTES,
    SQL_TOKS,
    _docs,
)
from data_engineering_datawarehousingandetlpipeline_spark.plans.registry import QuerySpec
from data_engineering_datawarehousingandetlpipeline_spark.scratch import (
    materialized_result,
)

#: DSIR hashed-feature space: small enough that the fitted model (one row
#: per bucket) always broadcasts, large enough that collisions stay rare
#: for realistic vocabularies. The classic paper uses 10^4 buckets for
#: hashed bigrams; the knob scales freely — model size is O(buckets),
#: never O(corpus).
DSIR_BUCKETS = 256
DSIR_TARGET_LANG = "en"
#: log-ratio per bucket is rounded before the per-doc sum so both engines
#: aggregate identical decimals (ln differs only in the last ulp across
#: libms; 7 fractional digits is far above that noise floor).
DSIR_LR_SCALE = 7

#: Monroe et al. "Fightin' Words" informative-Dirichlet log-odds: total
#: pseudo-count mass spread over terms proportional to corpus frequency.
DRIFT_PRIOR_MASS = 200.0
DRIFT_TOP_TERMS = 25
DRIFT_TARGET_LANG = "en"

#: Cross-source overlap runs on an n-gram *sketch*: keep the grams whose
#: salted hash ≡ 0 (mod SRC_OVERLAP_MOD) — a deterministic 1/MOD uniform
#: sample of gram space, identical on every engine. Jaccard/containment of
#: the sampled sets are unbiased estimates of the full-set values, and the
#: sketch bounds the join input at any corpus size (the same lever MinHash
#: uses, without the signature machinery).
SRC_OVERLAP_WIDTH = 8
SRC_OVERLAP_MOD = 4


# ------------------------------------------------------ DSIR importance

def q_doc_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights: hashed-unigram log-likelihood ratios.

    Data Selection via Importance Resampling (Xie et al., 2023): score
    every document by how much more likely its bag of hashed token
    features is under the *target* distribution (here: the corpus's
    ``lang = 'en'`` slice, standing in for a high-quality domain corpus)
    than under the raw corpus distribution. Downstream selection keeps the
    top-weight documents (or samples proportionally), which provably
    shifts the selected corpus toward the target domain.

    Shape: one postings explode → per-(doc, bucket) counts (the only
    corpus-sized shuffle, keyed on doc_id × 256 buckets); the fitted model
    is a 256-row aggregate of those counts (+ a 1-row total) that
    BROADCASTS back — so scoring is a map-side join, and at 100 TB the
    model fit is the standard two-pass estimate-then-score layout with
    nothing driver-side. Laplace +1 smoothing keeps every bucket's
    probability finite; per-bucket log-ratios are rounded at
    ``DSIR_LR_SCALE`` then decimal-anchored into the per-doc sum, so the
    result is bit-identical in any execution order and engine.
    """
    docs = _docs(spark, sf_dir)
    postings = docs.select(
        "doc_id",
        "lang",
        F.explode(tx.tokens(F.col("text"))).alias("token"),
    )
    # Pin the per-(doc, bucket) counts: they feed the model fit AND the
    # scoring join, which Spark plans as separate subtrees — unpinned, the
    # corpus would be tokenized once per use (three times with the totals
    # branch). Materializing doc_bucket IS the two-pass DSIR layout:
    # featurize once, fit on the features, score the same features. The
    # checkpoint holds ≤ DSIR_BUCKETS rows per doc — far smaller than the
    # text it summarizes. eager=False keeps construction lazy
    # (kmeans_centroids convention).
    doc_bucket = (
        postings.groupBy(
            "doc_id",
            "lang",
            (u32_hash(F.concat(F.lit("dsir:"), F.col("token"))) % DSIR_BUCKETS).alias(
                "bucket"
            ),
        )
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=False)
    )

    # Pin the 256-row fitted model inputs too, so the totals aggregate
    # reads 256 rows instead of re-reducing the pinned doc-bucket table.
    bucket_stats = (
        doc_bucket.groupBy("bucket")
        .agg(
            F.sum(
                F.when(F.col("lang") == DSIR_TARGET_LANG, F.col("c")).otherwise(0)
            ).alias("n_tgt"),
            F.sum("c").alias("n_raw"),
        )
        .localCheckpoint(eager=False)
    )
    totals = bucket_stats.agg(
        F.sum("n_tgt").alias("t_tot"), F.sum("n_raw").alias("r_tot")
    )
    model = bucket_stats.crossJoin(F.broadcast(totals)).select(
        "bucket",
        F.round(
            F.log(
                (F.col("n_tgt") + F.lit(1)).cast("double")
                / (F.col("t_tot") + F.lit(DSIR_BUCKETS)).cast("double")
            )
            - F.log(
                (F.col("n_raw") + F.lit(1)).cast("double")
                / (F.col("r_tot") + F.lit(DSIR_BUCKETS)).cast("double")
            ),
            DSIR_LR_SCALE,
        ).alias("lr"),
    )
    return (
        doc_bucket.join(F.broadcast(model), "bucket")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("c").alias("n_tokens"),
            # No further rounding: c·lr has exactly DSIR_LR_SCALE fractional
            # digits (c is integral), the wide decimal anchor holds 8, so
            # the sum is already exact and engine-identical. A final
            # round-to-6 would CREATE half-tie boundaries (…x5 decimals)
            # where the engines' double-rounding conventions differ.
            dsum(F.col("c") * F.col("lr"), wide=True).alias("dsir_logratio"),
        )
        .orderBy("doc_id")
    )


SQL_DOC_DSIR_WEIGHTS = f"""
WITH postings AS (
  SELECT doc_id, lang, unnest({SQL_TOKS}) AS token FROM documents
), doc_bucket AS (
  SELECT doc_id, lang,
         {sql_u32_hash("'dsir:' || token")} % {DSIR_BUCKETS} AS bucket,
         COUNT(*) AS c
  FROM postings GROUP BY doc_id, lang, bucket
), bucket_stats AS (
  SELECT bucket,
         SUM(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN c ELSE 0 END) AS n_tgt,
         SUM(c) AS n_raw
  FROM doc_bucket GROUP BY bucket
), totals AS (
  SELECT SUM(n_tgt) AS t_tot, SUM(n_raw) AS r_tot FROM bucket_stats
), model AS (
  SELECT bucket,
         round(ln(CAST(n_tgt + 1 AS DOUBLE) / CAST(t_tot + {DSIR_BUCKETS} AS DOUBLE))
             - ln(CAST(n_raw + 1 AS DOUBLE) / CAST(r_tot + {DSIR_BUCKETS} AS DOUBLE)),
               {DSIR_LR_SCALE}) AS lr
  FROM bucket_stats CROSS JOIN totals
)
SELECT d.doc_id, d.lang, CAST(SUM(d.c) AS BIGINT) AS n_tokens,
       {sql_dsum("d.c * m.lr", wide=True)} AS dsir_logratio
FROM doc_bucket d JOIN model m USING (bucket)
GROUP BY d.doc_id, d.lang
ORDER BY d.doc_id
"""


# ------------------------------------------- quality-aware canonical keep

def q_doc_cluster_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical selection per near-dup cluster.

    The dedup endgame done right: instead of keeping the lowest-id member
    of each connected component (``doc_dedup_clusters``'s convention),
    keep the HIGHEST-QUALITY member — the policy real pipelines use so
    dedup never discards the clean copy in favor of a boilerplate-ridden
    twin. Same pair graph and components as `doc_dedup_clusters` (one
    definition, shared oracle CTE, same df-capped Σ min(df, cap)²-bounded
    detector), composed with the `doc_quality` score; the winner is a
    per-cluster ``row_number`` over (quality desc, doc_id asc) —
    deterministic, and executed as a WindowGroupLimit-style per-group
    rank over cluster-partitioned data, never a global sort.
    """
    docs = _docs(spark, sf_dir)
    pairs = cluster_pairs(docs)
    labels = dd.near_dup_clusters(docs, pairs)
    scored = docs.select(
        "doc_id", F.round(tx.quality_score(F.col("text")), 6).alias("quality")
    ).join(labels, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("quality").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .select(
            "doc_id",
            "cluster_id",
            "quality",
            (F.col("rn") == 1).alias("keep"),
        )
        .orderBy("doc_id")
    )


SQL_DOC_CLUSTER_KEEP = f"""
{SQL_CLUSTER_CTES},
scored AS (
  SELECT d.doc_id, c.cluster_id, {_SQL_QUALITY_EXPR} AS quality
  FROM documents d JOIN clusters c USING (doc_id)
)
SELECT doc_id, cluster_id, quality,
       (ROW_NUMBER() OVER (PARTITION BY cluster_id
                           ORDER BY quality DESC, doc_id ASC) = 1) AS keep
FROM scored
ORDER BY doc_id
"""


# ----------------------------------------------- cluster-size histogram

def q_dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication-mass audit: histogram of near-dup cluster sizes.

    The one-screen answer to "how duplicated is this corpus?": for each
    component size, how many clusters exist, how many documents they hold,
    and how many of those are excess copies (size − 1 per cluster — what
    dedup would remove). Composes the same shared cluster graph; the
    histogram itself is two tiny aggregations past the component labels
    (cluster sizes: one shuffle keyed on cluster_id; histogram: one on
    size), so the audit adds nothing corpus-sized to the dedup pipeline it
    monitors.
    """
    docs = _docs(spark, sf_dir)
    pairs = cluster_pairs(docs)
    labels = dd.near_dup_clusters(docs, pairs)
    sizes = labels.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count("*").alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters")).alias("n_docs"),
            ((F.col("cluster_size") - 1) * F.col("n_clusters")).alias(
                "n_excess_copies"
            ),
        )
        .orderBy("cluster_size")
    )


SQL_DEDUP_CLUSTER_STATS = f"""
{SQL_CLUSTER_CTES},
csizes AS (
  SELECT cluster_id, COUNT(*) AS cluster_size FROM clusters GROUP BY cluster_id
)
SELECT cluster_size, COUNT(*) AS n_clusters,
       cluster_size * COUNT(*) AS n_docs,
       (cluster_size - 1) * COUNT(*) AS n_excess_copies
FROM csizes
GROUP BY cluster_size
ORDER BY cluster_size
"""


# ------------------------------------------------- vocabulary drift

def q_doc_vocab_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-odds vocabulary drift between two subcorpora (Monroe et al.).

    "Fightin' Words" informative-Dirichlet log-odds: which terms are
    statistically over-represented in the target slice (``lang = 'en'``)
    vs the rest — the drift monitor a corpus team runs between crawl
    snapshots or between a new source and the existing mix. The prior is
    proportional to overall corpus frequency with ``DRIFT_PRIOR_MASS``
    total pseudo-counts, so rare terms don't dominate on noise; the
    z-score divides the log-odds delta by its estimated standard error.

    Shape: one postings explode → one conditional aggregation per term
    (the only corpus-sized shuffle); subcorpus totals are a broadcast
    1-row aggregate of the term table (never a second corpus scan); the
    top-k by |z| is an orderBy + limit, which Spark executes as
    TakeOrderedAndProject — no full vocabulary sort materializes.
    """
    docs = _docs(spark, sf_dir)
    postings = docs.select(
        "lang", F.explode(tx.tokens(F.col("text"))).alias("term")
    )
    # Pin the term table: it feeds both the z-score projection and the
    # subcorpus-totals aggregate; unpinned, Spark tokenizes the corpus once
    # per subtree. The checkpoint is vocabulary-sized — the standard
    # term-statistics layout, never corpus-sized.
    counts = (
        postings.groupBy("term")
        .agg(
            F.sum(F.when(F.col("lang") == DRIFT_TARGET_LANG, 1).otherwise(0)).alias(
                "y_tgt"
            ),
            F.sum(F.when(F.col("lang") != DRIFT_TARGET_LANG, 1).otherwise(0)).alias(
                "y_rest"
            ),
        )
        .localCheckpoint(eager=False)
    )
    totals = counts.agg(
        F.sum("y_tgt").alias("n_tgt"), F.sum("y_rest").alias("n_rest")
    )
    a = (
        (F.col("y_tgt") + F.col("y_rest")).cast("double")
        / (F.col("n_tgt") + F.col("n_rest")).cast("double")
        * F.lit(DRIFT_PRIOR_MASS)
    )
    d_tgt = F.log(
        (F.col("y_tgt") + a)
        / (F.col("n_tgt") + F.lit(DRIFT_PRIOR_MASS) - F.col("y_tgt") - a)
    )
    d_rest = F.log(
        (F.col("y_rest") + a)
        / (F.col("n_rest") + F.lit(DRIFT_PRIOR_MASS) - F.col("y_rest") - a)
    )
    var = F.lit(1.0) / (F.col("y_tgt") + a) + F.lit(1.0) / (F.col("y_rest") + a)
    z = F.round((d_tgt - d_rest) / F.sqrt(var), 6)
    return (
        counts.crossJoin(F.broadcast(totals))
        .select("term", "y_tgt", "y_rest", z.alias("z_score"))
        .orderBy(F.abs(F.col("z_score")).desc(), F.col("term").asc())
        .limit(DRIFT_TOP_TERMS)
    )


SQL_DOC_VOCAB_DRIFT = f"""
WITH postings AS (
  SELECT lang, unnest({SQL_TOKS}) AS term FROM documents
), counts AS (
  SELECT term,
         SUM(CASE WHEN lang = '{DRIFT_TARGET_LANG}' THEN 1 ELSE 0 END) AS y_tgt,
         SUM(CASE WHEN lang <> '{DRIFT_TARGET_LANG}' THEN 1 ELSE 0 END) AS y_rest
  FROM postings GROUP BY term
), totals AS (
  SELECT SUM(y_tgt) AS n_tgt, SUM(y_rest) AS n_rest FROM counts
), scored AS (
  SELECT term, y_tgt, y_rest,
         round(
           (ln((y_tgt + a) / (n_tgt + {DRIFT_PRIOR_MASS} - y_tgt - a))
          - ln((y_rest + a) / (n_rest + {DRIFT_PRIOR_MASS} - y_rest - a)))
           / sqrt(1.0 / (y_tgt + a) + 1.0 / (y_rest + a)), 6) AS z_score
  FROM (
    SELECT term, y_tgt, y_rest, n_tgt, n_rest,
           CAST(y_tgt + y_rest AS DOUBLE) / CAST(n_tgt + n_rest AS DOUBLE)
             * {DRIFT_PRIOR_MASS} AS a
    FROM counts CROSS JOIN totals
  )
)
SELECT term, CAST(y_tgt AS BIGINT) AS y_tgt,
       CAST(y_rest AS BIGINT) AS y_rest, z_score
FROM scored
ORDER BY abs(z_score) DESC, term ASC
LIMIT {DRIFT_TOP_TERMS}
"""


# --------------------------------------------- cross-source overlap

def source_gram_sketch(docs: DataFrame) -> DataFrame:
    """Deterministic 1/MOD sample of each source's distinct 8-gram hashes.

    The mod filter sits directly on the hashed gram, so it applies before
    the distinct and before anything joins — the plan gate explains THIS
    builder (the query pins its output, which hides the subtree behind a
    checkpoint scan in the final plan).
    """
    return (
        docs.select(
            "source",
            F.explode(
                F.array_distinct(
                    tx.word_shingles(F.col("text"), SRC_OVERLAP_WIDTH)
                )
            ).alias("gram"),
        )
        .select("source", F.md5(F.col("gram")).alias("g"))
        .filter(
            u32_hash(F.concat(F.lit("sov:"), F.col("g"))) % SRC_OVERLAP_MOD == 0
        )
        .distinct()
    )


def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source overlap: sampled 8-gram Jaccard + containment.

    The corpus-composition audit (CommonCrawl-vs-C4-style): for every pair
    of sources, how much long-n-gram content they share — Jaccard for
    symmetric overlap, containment (common / smaller set) for "is one
    source a subset of another". Runs on a deterministic
    1/SRC_OVERLAP_MOD hash
    sketch of gram space (salted u32 ≡ 0), so the postings join is bounded
    by the sketch at any corpus size while the estimates stay unbiased;
    the verify-side math is exact over the sketch, so the oracle matches
    bit-for-bit. Per-source set sizes are a 20-row aggregate that
    broadcasts into the pair join; output is one row per overlapping
    source pair.
    """
    docs = _docs(spark, sf_dir)
    # Pin the sketched postings: they feed both sides of the pair join AND
    # the per-source size aggregate — unpinned, Spark rebuilds the 8-gram
    # shingle cascade once per subtree (four corpus scans). The checkpoint
    # holds the 1/MOD sketch (distinct grams only), which is exactly the
    # bounded structure the sketch exists to provide.
    grams = source_gram_sketch(docs).localCheckpoint(eager=False)
    sizes = (
        grams.groupBy("source")
        .agg(F.count("*").alias("n_grams"))
        .localCheckpoint(eager=False)
    )
    common = (
        grams.alias("a")
        .join(
            grams.alias("b"),
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count("*").alias("n_common"))
    )
    return (
        common.join(
            F.broadcast(sizes.select(F.col("source").alias("source_a"),
                                     F.col("n_grams").alias("n_a"))),
            "source_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("source").alias("source_b"),
                                     F.col("n_grams").alias("n_b"))),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            "n_a",
            "n_b",
            "n_common",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double"),
                6,
            ).alias("jaccard"),
            F.round(
                F.col("n_common").cast("double")
                / F.least("n_a", "n_b").cast("double"),
                6,
            ).alias("containment"),
        )
        .orderBy("source_a", "source_b")
    )


SQL_SOURCE_OVERLAP = f"""
WITH t AS (
  SELECT source, {SQL_TOKS} AS toks FROM documents
), sh AS (
  SELECT source,
         CASE WHEN len(toks) >= {SRC_OVERLAP_WIDTH}
              THEN [array_to_string(toks[i:i+{SRC_OVERLAP_WIDTH - 1}], ' ')
                    for i in range(1, len(toks) - {SRC_OVERLAP_WIDTH - 2})]
              ELSE [array_to_string(toks, ' ')] END AS grams
  FROM t
), g AS (
  SELECT DISTINCT source, md5(gram) AS g
  FROM (SELECT source, unnest(grams) AS gram FROM sh)
  WHERE {sql_u32_hash("'sov:' || md5(gram)")} % {SRC_OVERLAP_MOD} = 0
), sizes AS (
  SELECT source, COUNT(*) AS n_grams FROM g GROUP BY source
), common AS (
  SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_common
  FROM g a JOIN g b ON a.g = b.g AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT source_a, source_b, sa.n_grams AS n_a, sb.n_grams AS n_b, n_common,
       round(CAST(n_common AS DOUBLE)
             / CAST(sa.n_grams + sb.n_grams - n_common AS DOUBLE), 6) AS jaccard,
       round(CAST(n_common AS DOUBLE)
             / CAST(least(sa.n_grams, sb.n_grams) AS DOUBLE), 6) AS containment
FROM common
JOIN sizes sa ON sa.source = source_a
JOIN sizes sb ON sb.source = source_b
ORDER BY source_a, source_b
"""


# ------------------------------------------------ unigram LM perplexity

#: per-token log-probability rounding — same scale (and reasoning) as
#: DSIR_LR_SCALE: ln agrees across libms far above 7 fractional digits.
PPL_LP_SCALE = 7


def q_doc_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity scoring: per-doc average unigram surprisal.

    The quality filter CCNet/CCMatrix popularized: score every document
    by its (negated) average log-probability under a language model and
    drop the high-perplexity tail. The model here is the corpus's own
    Laplace-smoothed unigram distribution — the self-contained stand-in
    for CCNet's KenLM 5-gram (same plan shape: a broadcast-or-joined
    probability table scored against token counts; swapping in an
    externally-trained table changes nothing structural). ``avg_logprob``
    is a monotone proxy for perplexity (ppl = e^-avg), emitted instead of
    the exponentials so cross-engine hashes can't drift in exp()'s last
    ulp.

    Shape: the DSIR two-pass layout — per-(doc, token) counts are pinned
    (the only corpus-sized shuffle), the model is an aggregate of those
    counts (token-keyed, vocabulary-sized) with the totals riding as a
    broadcast 1-row aggregate, and scoring joins the pinned counts back
    to the model on the token key (an equi-join that stays a hash join at
    any scale; Spark may broadcast the model when the vocabulary is
    small, but nothing forces it). Per-token log-probs are rounded at
    ``PPL_LP_SCALE`` then decimal-anchored, so the per-doc sum is exact
    in any order; the final average divides two exact quantities and
    rounds once.
    """
    docs = _docs(spark, sf_dir)
    postings = docs.select(
        "doc_id", F.explode(tx.tokens(F.col("text"))).alias("token")
    )
    dtf = (
        postings.groupBy("doc_id", "token")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=False)
    )
    tf = (
        dtf.groupBy("token")
        .agg(F.sum("c").alias("ctf"))
        .localCheckpoint(eager=False)
    )
    totals = tf.agg(
        F.sum("ctf").alias("n_corpus"), F.count("*").alias("v_size")
    )
    model = tf.crossJoin(F.broadcast(totals)).select(
        "token",
        F.round(
            F.log(
                (F.col("ctf") + F.lit(1)).cast("double")
                / (F.col("n_corpus") + F.col("v_size")).cast("double")
            ),
            PPL_LP_SCALE,
        ).alias("lp"),
    )
    return (
        dtf.join(model, "token")
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            # c·lp carries exactly PPL_LP_SCALE fractional digits; the
            # wide anchor holds 8, so the sum is exact (DSIR convention).
            dsum(F.col("c") * F.col("lp"), wide=True).alias("__sum_lp"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.round(
                F.try_divide(F.col("__sum_lp"), F.col("n_tokens")), 6
            ).alias("avg_logprob"),
        )
        .orderBy("doc_id")
    )


SQL_DOC_PERPLEXITY = f"""
WITH postings AS (
  SELECT doc_id, unnest({SQL_TOKS}) AS token FROM documents
), dtf AS (
  SELECT doc_id, token, COUNT(*) AS c FROM postings GROUP BY doc_id, token
), tf AS (
  SELECT token, SUM(c) AS ctf FROM dtf GROUP BY token
), totals AS (
  SELECT SUM(ctf) AS n_corpus, COUNT(*) AS v_size FROM tf
), model AS (
  SELECT token,
         round(ln(CAST(ctf + 1 AS DOUBLE)
                  / CAST(n_corpus + v_size AS DOUBLE)), {PPL_LP_SCALE}) AS lp
  FROM tf CROSS JOIN totals
)
SELECT d.doc_id, CAST(SUM(d.c) AS BIGINT) AS n_tokens,
       round({sql_dsum("d.c * m.lp", wide=True)} / SUM(d.c), 6) AS avg_logprob
FROM dtf d JOIN model m USING (token)
GROUP BY d.doc_id
ORDER BY d.doc_id
"""


# ------------------------------------------------ corpus-order novelty

#: Novelty shingle width. Trigrams: wide enough that the synthetic corpus
#: (31-word vocabulary) still has ~16k distinct grams at sf0.01 — a real
#: novelty gradient — and the construction matches the other gram oracles.
NOVELTY_WIDTH = 3


def q_doc_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-order n-gram novelty per document (r13 debut).

    The dataset-curation "what does each document ADD?" audit: a
    document's novelty is the fraction of its distinct trigrams whose
    FIRST corpus occurrence (min doc_id) is this document. Early
    documents score high by construction; late near-duplicates score ~0 —
    the curve is the diminishing-returns signal used to decide when a
    source is mined out.

    Scale shape: one pruned scan → distinct-shingle explode →
    ``groupBy(shingle).min(doc_id)`` (partial-aggregated; a hot shingle
    never materializes a group) → ``groupBy(first_doc).count()`` — the
    novel-count per doc falls out of the first-occurrence table with NO
    join back to postings; the only per-doc join is against the tiny
    (doc_id, n_grams) projection. Two bounded shuffles total, both on
    scalable keys.
    """
    docs = _docs(spark, sf_dir)
    shingled = docs.select(
        "doc_id",
        F.array_distinct(
            tx.word_shingles(F.col("text"), NOVELTY_WIDTH)
        ).alias("gs"),
    ).localCheckpoint(eager=False)
    posted = shingled.select("doc_id", F.explode("gs").alias("gram"))
    novel = (
        posted.groupBy("gram")
        .agg(F.min("doc_id").alias("first_doc"))
        .groupBy("first_doc")
        .agg(F.count("*").alias("n_novel"))
        .select(F.col("first_doc").alias("doc_id"), "n_novel")
    )
    return (
        shingled.select("doc_id", F.size("gs").alias("n_grams"))
        .join(novel, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_grams").cast("bigint").alias("n_grams"),
            F.coalesce(F.col("n_novel"), F.lit(0)).cast("bigint").alias("n_novel"),
            F.round(
                F.coalesce(F.col("n_novel"), F.lit(0)).cast("double")
                / F.col("n_grams").cast("double"),
                6,
            ).alias("novelty"),
        )
        .orderBy("doc_id")
    )


def _sql_doc_ngram_novelty() -> str:
    w = NOVELTY_WIDTH
    return f"""
WITH t AS (
  SELECT doc_id, {SQL_TOKS} AS toks FROM documents
), g AS (
  SELECT doc_id, list_distinct(CASE WHEN len(toks) >= {w}
       THEN [array_to_string(toks[i:i+{w - 1}], ' ')
             for i in range(1, len(toks) - {w - 2})]
       ELSE [array_to_string(toks, ' ')] END) AS gs
  FROM t
), posted AS (
  SELECT doc_id, unnest(gs) AS gram FROM g
), novel AS (
  SELECT first_doc AS doc_id, COUNT(*) AS n_novel FROM (
    SELECT gram, MIN(doc_id) AS first_doc FROM posted GROUP BY gram
  ) GROUP BY first_doc
)
SELECT g.doc_id,
       CAST(len(gs) AS BIGINT) AS n_grams,
       CAST(COALESCE(n.n_novel, 0) AS BIGINT) AS n_novel,
       round(CAST(COALESCE(n.n_novel, 0) AS DOUBLE) / len(gs), 6) AS novelty
FROM g LEFT JOIN novel n USING (doc_id)
ORDER BY doc_id
"""


SQL_DOC_NGRAM_NOVELTY = _sql_doc_ngram_novelty()


# --------------------------------------------- cross-source dup matrix

def q_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source near-duplication matrix (r13 debut).

    The actionable companion to ``source_overlap`` (gram-level) and
    ``dedup_cluster_stats`` (corpus-level): for every unordered source
    pair, how many near-duplicate DOCUMENT pairs (exact unigram Jaccard
    ≥ the house threshold, same detector as the cluster family) cross
    it, and at what mean similarity. The diagonal (source_a = source_b)
    is within-source duplication — the rows that tell a data team which
    feeds to dedup against which before mixing.

    Scale shape: the pair detector is the shared df-capped inverted-index
    join (CLUSTER_MAX_DOC_FREQ — candidate volume Σ min(df, cap)², the
    cap mirrored in the oracle's postings CTE); attaching sources is two
    id-keyed joins bounded by |pairs| + |docs| (the sources ride the doc
    ids — no broadcast of the corpus); the final aggregate is ≤
    |sources|² rows. (r17 measured-and-rejected: carrying the source
    strings through the detector's postings instead — the minhash-carry
    pattern — widened the Σ min(df, cap)² candidate aggregation's keys
    and regressed 7.3 → 8.6-9.7 s; the unigram detector's candidate
    stream is too dense for per-candidate label bytes, unlike the
    LSH band join.) The mean jaccard is decimal-anchored
    (functions/numeric.py) so both engines sum identical decimals in any
    order.
    """
    docs = _docs(spark, sf_dir)
    pairs = cluster_pairs(docs)
    src = docs.select("doc_id", "source")
    a = src.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("sa"))
    b = src.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("sb"))
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
            "jaccard",
        )
        .groupBy("source_a", "source_b")
        .agg(
            F.count("*").alias("n_pairs"),
            F.round(
                F.try_divide(dsum(F.col("jaccard"), wide=True), F.count("*")), 6
            ).alias("avg_jaccard"),
        )
        .orderBy("source_a", "source_b")
    )


def _sql_source_dup_matrix() -> str:
    return f"""
WITH toks AS (
  SELECT doc_id AS doc, list_distinct({SQL_TOKS}) AS t FROM documents
), postings AS (
  -- identical doc-frequency cap as jaccard_pairs(max_doc_freq=...):
  -- tokens in more than {CLUSTER_MAX_DOC_FREQ} docs leave the index
  SELECT doc, token FROM (
    SELECT doc, token, COUNT(*) OVER (PARTITION BY token) AS df_count
    FROM (SELECT doc, unnest(t) AS token FROM toks)
  ) WHERE df_count <= {CLUSTER_MAX_DOC_FREQ}
), sizes AS (
  -- set sizes over the SURVIVING index (capped-vocabulary Jaccard)
  SELECT doc, COUNT(*) AS n FROM postings GROUP BY doc
), common AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS n_common
  FROM postings a JOIN postings b ON a.token = b.token AND a.doc < b.doc
  GROUP BY a.doc, b.doc
), pairs AS (
  SELECT doc_a, doc_b,
         CAST(n_common AS DOUBLE) / CAST(sa.n + sb.n - n_common AS DOUBLE)
           AS jaccard
  FROM common
  JOIN sizes sa ON sa.doc = doc_a
  JOIN sizes sb ON sb.doc = doc_b
  WHERE CAST(n_common AS DOUBLE) / CAST(sa.n + sb.n - n_common AS DOUBLE)
        >= {MINHASH_JACCARD_THRESHOLD}
), lab AS (
  SELECT LEAST(da.source, db.source) AS source_a,
         GREATEST(da.source, db.source) AS source_b,
         jaccard
  FROM pairs
  JOIN documents da ON da.doc_id = doc_a
  JOIN documents db ON db.doc_id = doc_b
)
SELECT source_a, source_b,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       round({sql_dsum('jaccard', wide=True)} / COUNT(*), 6) AS avg_jaccard
FROM lab
GROUP BY source_a, source_b
ORDER BY source_a, source_b
"""


SQL_SOURCE_DUP_MATRIX = _sql_source_dup_matrix()


# ------------------------------- streaming cross-source dup accumulation

STREAM_SRCPAIR_MOD = 3  # doc_id % 3 == 0 subset keeps the e2e drain small


def q_streaming_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source dup matrix built INCREMENTALLY as shards land.

    The streaming twin of ``source_dup_matrix`` on the MINHASH detector:
    a document subset is staged as three range-sharded JSON files (the
    Kafka stand-in, same pattern as q_streaming_exact_dedup), drained
    one file per micro-batch through
    ``streaming/pipeline.start_source_pair_matrix``, then aggregated to
    the per-source-pair matrix at read time. Every unordered near-dup
    pair is discovered exactly once (at its later member's arrival), so
    the accumulated pair set equals the BATCH LSH pair graph over the
    same subset; the oracle states exactly that batch semantics (the
    shared MinHash SQL chain restricted to the subset, aggregated like
    the batch matrix). This is the contract that lets a data team keep
    the "which feeds duplicate which" dashboard warm as crawls land,
    without re-pairing the corpus.

    After the drain the query COMPACTS the accumulated state + pair sink
    (``compact_pair_matrix_state`` — the per-epoch ``batch_id=*``
    partitions fold into one base each) and reads the matrix from the
    COMPACTED sink, so the driver's cross-engine hash proves end to end
    that compaction is content-preserving, the way
    ``warehouse_compaction`` proves the table OPTIMIZE rung. The
    physical contract (folds happened, re-run is a no-op) is asserted
    loudly in-query.
    """
    import os
    import tempfile

    from pyspark.sql import types as T

    from data_engineering_datawarehousingandetlpipeline_spark.streaming.pipeline import (
        compact_pair_matrix_state,
        start_source_pair_matrix,
    )

    docs = _docs(spark, sf_dir).filter(
        (F.col("doc_id") % STREAM_SRCPAIR_MOD) == 0
    )
    workdir = tempfile.mkdtemp(prefix="streaming_dup_matrix_q_")
    indir = os.path.join(workdir, "incoming")
    docs.select(
        F.col("doc_id").cast("string").alias("doc_id"), "text", "source"
    ).repartitionByRange(3, "doc_id").write.mode("overwrite").json(indir)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType(), True),
            T.StructField("text", T.StringType(), True),
            T.StructField("source", T.StringType(), True),
        ]
    )
    pairs_dir = os.path.join(workdir, "pairs")
    state_dir = os.path.join(workdir, "state")
    ckpt_dir = os.path.join(workdir, "ckpt")
    query = start_source_pair_matrix(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(indir),
        state_dir,
        pairs_dir,
        ckpt_dir,
        threshold=MINHASH_JACCARD_THRESHOLD,
        available_now=True,
    )
    query.awaitTermination()
    # --- maintenance contract (loud, not returned) ----------------------
    # three shards drained one per micro-batch → ≥3 per-epoch state
    # partitions each for bands/docs; the fold must collapse them, and a
    # re-run must be a pure no-op (the scheduler-fires-blindly property)
    folded = compact_pair_matrix_state(spark, state_dir, pairs_dir, ckpt_dir)
    if folded["bands"] < 3 or folded["docs"] < 3:
        raise AssertionError(f"state compaction folded too little: {folded}")
    refold = compact_pair_matrix_state(spark, state_dir, pairs_dir, ckpt_dir)
    if any(refold.values()):
        raise AssertionError(f"state compaction re-run not a no-op: {refold}")
    # the cross-engine hash below proves the fold content-preserving:
    # the matrix is aggregated from the COMPACTED pair sink
    return materialized_result(
        spark.read.option("basePath", pairs_dir)
        .parquet(pairs_dir)
        .groupBy("source_a", "source_b")
        .agg(
            F.count("*").alias("n_pairs"),
            F.round(
                F.try_divide(dsum(F.col("jaccard"), wide=True), F.count("*")), 6
            ).alias("avg_jaccard"),
        )
        .orderBy("source_a", "source_b"),
        workdir,
    )


def _sql_streaming_dup_matrix() -> str:
    from data_engineering_datawarehousingandetlpipeline_spark.plans.extensions import (
        _SQL_MINHASH_CTES,
        _SQL_MINHASH_PAIRS,
    )

    ctes = _SQL_MINHASH_CTES.replace(
        "FROM documents",
        f"FROM documents WHERE doc_id % {STREAM_SRCPAIR_MOD} = 0",
    )
    # the restriction must actually land: if the shared CTE text is ever
    # reworded so "FROM documents" no longer appears, the replace would
    # silently no-op and the oracle would cover the FULL corpus while the
    # Spark side covers the subset — fail at import instead of handing
    # the driver a confusing hash mismatch
    if ctes == _SQL_MINHASH_CTES:
        raise AssertionError(
            "streaming_dup_matrix oracle: subset restriction did not "
            "apply — _SQL_MINHASH_CTES no longer scans 'FROM documents'"
        )
    return f"""
WITH {ctes}, mpairs AS (
  {_SQL_MINHASH_PAIRS}
), lab AS (
  SELECT LEAST(da.source, db.source) AS source_a,
         GREATEST(da.source, db.source) AS source_b,
         jaccard
  FROM mpairs
  JOIN documents da ON da.doc_id = doc_a
  JOIN documents db ON db.doc_id = doc_b
)
SELECT source_a, source_b,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       round({sql_dsum('jaccard', wide=True)} / COUNT(*), 6) AS avg_jaccard
FROM lab
GROUP BY source_a, source_b
ORDER BY source_a, source_b
"""


SQL_STREAMING_DUP_MATRIX = _sql_streaming_dup_matrix()


QUERIES = [
    QuerySpec("doc_dsir_weights", q_doc_dsir_weights, SQL_DOC_DSIR_WEIGHTS,
              "DSIR importance weights: hashed-unigram target-vs-raw "
              "log-likelihood ratios per document",
              tags=("text", "sample", "quality")),
    QuerySpec("doc_cluster_keep", q_doc_cluster_keep, SQL_DOC_CLUSTER_KEEP,
              "quality-aware canonical selection per near-dup cluster",
              tags=("dedup", "quality")),
    QuerySpec("dedup_cluster_stats", q_dedup_cluster_stats,
              SQL_DEDUP_CLUSTER_STATS,
              "duplication-mass audit: near-dup cluster-size histogram",
              tags=("dedup",)),
    QuerySpec("doc_vocab_drift", q_doc_vocab_drift, SQL_DOC_VOCAB_DRIFT,
              "informative-Dirichlet log-odds vocabulary drift, top-k "
              "terms by |z|", tags=("text",)),
    QuerySpec("source_overlap", q_source_overlap, SQL_SOURCE_OVERLAP,
              "pairwise source overlap: sampled 8-gram Jaccard + "
              "containment", tags=("text", "dedup")),
    QuerySpec("doc_perplexity", q_doc_perplexity, SQL_DOC_PERPLEXITY,
              "CCNet-style quality scoring: per-doc average unigram "
              "surprisal under the smoothed corpus LM",
              tags=("text", "quality")),
    QuerySpec("doc_ngram_novelty", q_doc_ngram_novelty,
              SQL_DOC_NGRAM_NOVELTY,
              "corpus-order trigram novelty per document "
              "(diminishing-returns curve)", tags=("text", "sample")),
    QuerySpec("source_dup_matrix", q_source_dup_matrix,
              SQL_SOURCE_DUP_MATRIX,
              "cross-source near-duplicate document-pair matrix "
              "(counts + anchored mean jaccard)", tags=("dedup", "text")),
    QuerySpec("streaming_dup_matrix", q_streaming_dup_matrix,
              SQL_STREAMING_DUP_MATRIX,
              "cross-source dup matrix accumulated incrementally across "
              "micro-batches (MinHash detector, exactly-once pair sink)",
              tags=("dedup", "streaming")),
]
