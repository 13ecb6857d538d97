"""ANN quality gates: approximate indexes must stay close to exact top-k.

Hash-parity proves each ANN query matches ITS oracle (which mirrors the
approximation); these tests bound the approximation itself — an index
change that tanks recall would otherwise stay "correct".
"""

from __future__ import annotations

import pytest

from data_engineering_datawarehousingandetlpipeline_spark.plans import all_queries

SF_DIR = "/root/testdata/sf0.01"


def _neighbor_sets(rows):
    out: dict[int, set[int]] = {}
    for r in rows:
        out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    return out


def _recall(spark, approx_name: str) -> float:
    qs = all_queries()
    exact = _neighbor_sets(qs["emb_cosine_topk"].fn(spark, SF_DIR).collect())
    approx = _neighbor_sets(qs[approx_name].fn(spark, SF_DIR).collect())
    hits = sum(len(exact[q] & approx.get(q, set())) for q in exact)
    total = sum(len(v) for v in exact.values())
    return hits / total


def test_ivf_recall_at_5(spark):
    """k-means IVF with 4/16 probes must reach recall@5 ≥ 0.8 vs exact."""
    assert _recall(spark, "emb_ivf_topk") >= 0.8


def test_ivf_sampled_training_keeps_recall(spark):
    """At warehouse scale the quantizer trains on a deterministic hash
    sample, not full-corpus Lloyd passes. Sampled centroids are noisier,
    so the recall/cost dial moves to n_probe (8/16 instead of 4/16 here
    — on this tiny structureless corpus a half sample is only ~250
    vectors); the bar stays the same ≥ 0.8."""
    from pyspark.sql import functions as F

    from data_engineering_datawarehousingandetlpipeline_spark.operators.similarity import (
        cosine_top_k_ivf,
    )
    from data_engineering_datawarehousingandetlpipeline_spark.plans.extensions import (
        _embs,
    )

    qs = all_queries()
    exact = _neighbor_sets(qs["emb_cosine_topk"].fn(spark, SF_DIR).collect())
    embs = _embs(spark, SF_DIR)
    approx = _neighbor_sets(
        cosine_top_k_ivf(
            embs, embs.filter(F.col("vec_id") < 8), n_probe=8,
            train_fraction=0.5,
        ).collect()
    )
    hits = sum(len(exact[q] & approx.get(q, set())) for q in exact)
    total = sum(len(v) for v in exact.values())
    assert hits / total >= 0.8, (hits, total)


def test_near_dup_bucket_occupancy_bounded(spark):
    """No hyperplane-LSH bucket may hold a large share of the corpus — a
    hot bucket makes the within-bucket self-join quadratic. Checked per
    table across all OR-amplification tables."""
    from pyspark.sql import functions as F

    from data_engineering_datawarehousingandetlpipeline_spark.operators import (
        similarity as sim,
    )
    from data_engineering_datawarehousingandetlpipeline_spark.plans.extensions import (
        ANN_PLANES,
        EMBED_DIM,
        EMBED_TABLES,
        _embs,
    )

    embs = _embs(spark, SF_DIR)
    n = embs.count()
    for t in range(EMBED_TABLES):
        planes = [
            sim.hyperplane(t * ANN_PLANES + b, EMBED_DIM)
            for b in range(ANN_PLANES)
        ]
        top = (
            embs.select(sim.lsh_bucket(F.col("embedding"), planes).alias("b"))
            .groupBy("b")
            .count()
            .agg(F.max("count"))
            .collect()[0][0]
        )
        assert top / n <= 0.10, (t, top, n)


def test_planes_scale_with_corpus():
    """The plane count must grow with the corpus (fixed planes = quadratic
    buckets at scale): ~doubling the corpus adds a plane."""
    from data_engineering_datawarehousingandetlpipeline_spark.operators.similarity import (
        planes_for_corpus,
    )

    assert planes_for_corpus(2_000) == 5
    assert planes_for_corpus(2_000_000) == 15
    assert planes_for_corpus(2_000_000_000) == 25
    assert planes_for_corpus(100) == 4  # floor


def test_near_dup_planes_derive_from_corpus_size(spark):
    """Deployment path of the near-dup operator: without a pinned
    ``n_planes``, the plane count must be derived from the corpus size
    (explicit ``corpus_rows`` hint, else a one-time count), so a bigger
    corpus gets more planes end-to-end — the property that keeps bucket
    occupancy (and the within-bucket self-join) bounded at 100 TB."""
    from data_engineering_datawarehousingandetlpipeline_spark.operators import (
        similarity as sim,
    )
    from data_engineering_datawarehousingandetlpipeline_spark.plans.extensions import (
        _embs,
    )

    embs = _embs(spark, SF_DIR)

    # gate the derivation on the resolved plane count the pre-pin seam
    # reports (the public operator pins the tagged table, which hides the
    # bucket expression behind a Scan ExistingRDD)
    def planes(**kw):
        stats = {}
        sim._near_dup_tagged(
            embs,
            n_planes=None,
            n_tables=4,
            dim=64,
            id_col="vec_id",
            vec_col="embedding",
            target_bucket_size=64,
            auto_count_limit=1_000_000,
            stats=stats,
            **kw,
        )
        return stats["n_planes"]

    assert planes(corpus_rows=1_000_000) > planes(corpus_rows=1_000)

    # the public operator routes through the seam and pins its result:
    # the pinned table is what both self-join sides scan
    pinned = sim.embedding_near_dup_pairs(embs, corpus_rows=1_000)
    pinned_plan = pinned._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    assert "Scan ExistingRDD" in pinned_plan

    # no hint at all: a one-time sizing count (limit-probed, so an
    # over-limit refusal never pays a full scan) sizes the index the same
    # way the equivalent explicit hint would — and warns about the scan
    with pytest.warns(UserWarning, match="eager sizing count"):
        counted = planes(corpus_rows=None)
    assert counted == planes(corpus_rows=embs.count())

    # past the auto-count limit the bare form fails LOUDLY instead of
    # silently re-scanning a warehouse-sized corpus on every invocation
    with pytest.warns(UserWarning, match="eager sizing count"):
        with pytest.raises(ValueError, match="auto_count_limit"):
            sim.embedding_near_dup_pairs(embs, auto_count_limit=10)


def test_ivfpq_recall_at_5(spark):
    """The compressed index (IVF + int8 codes, exact re-rank of the top-3k
    survivors) must hold the same recall@5 ≥ 0.8 bar as uncompressed IVF —
    the go/no-go behind serving quantized vectors."""
    assert _recall(spark, "emb_ivfpq_topk") >= 0.8


def test_ivfpq_rerank_recovers_exact_scores(spark):
    """Every emitted cos_sim must equal the exact cosine the brute-force
    baseline computes for that (query, neighbor) pair — re-ranking restores
    full precision, so compression can only affect WHICH candidates
    surface, never their reported scores."""
    qs = all_queries()
    exact = {
        (r["query_id"], r["neighbor_id"]): r["cos_sim"]
        for r in qs["emb_cosine_topk"].fn(spark, SF_DIR).collect()
    }
    for r in qs["emb_ivfpq_topk"].fn(spark, SF_DIR).collect():
        key = (r["query_id"], r["neighbor_id"])
        if key in exact:  # pair also present in the exact top-k
            assert r["cos_sim"] == exact[key], key


def test_pq_recall_at_5(spark):
    """True PQ at 64× compression on a uniform-random corpus — the
    provable worst case for codebook compression (no cluster structure) —
    must still clear ≥ 0.8 recall@5 at its registered re-rank budget
    (PQ_RERANK; see plans/extensions.py for the measured dial)."""
    assert _recall(spark, "emb_pq_topk") >= 0.8


def test_rrf_ann_recall_at_5_vs_exact_fusion(spark):
    """The ANN-served hybrid ranking must stay close to the exact fusion:
    recall@5 of retrieval_rrf_ann's fused top-5 vs retrieval_rrf's ≥ 0.8
    (hash-parity proves each matches ITS oracle; this bounds the IVF
    approximation inside the fusion)."""
    qs = all_queries()

    def fused_sets(name):
        out: dict[int, set[int]] = {}
        for r in qs[name].fn(spark, SF_DIR).collect():
            out.setdefault(r["query_id"], set()).add(r["doc_id"])
        return out

    exact = fused_sets("retrieval_rrf")
    approx = fused_sets("retrieval_rrf_ann")
    hits = sum(len(exact[q] & approx.get(q, set())) for q in exact)
    total = sum(len(v) for v in exact.values())
    assert total > 0 and hits / total >= 0.8, (hits, total)


def test_ivf_assign_matches_training_assignment(spark):
    """ivf_assign (the r16 index-maintenance rung) must reproduce the
    exact assignment geometry the quantizer itself uses: for corpus
    vectors, (vid → cid) equals a 0-iteration re-train's first
    assignment, and ccos equals the rounded cosine against the winning
    centroid — the drift signal is the real assignment quality, not an
    approximation."""
    from pyspark.sql import functions as F

    from data_engineering_datawarehousingandetlpipeline_spark.operators import (
        similarity as sim,
    )
    from data_engineering_datawarehousingandetlpipeline_spark.sources.readers import (
        load_table,
    )

    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    cents = sim.kmeans_centroids(embs, n_centroids=4, iterations=1)
    assigned = sim.ivf_assign(embs, cents)

    # every vector assigned exactly once
    n = embs.count()
    assert assigned.count() == n
    assert assigned.select("vid").distinct().count() == n

    # ccos is the true rounded cosine vs the winning centroid, and no
    # other centroid beats it (argmax property, cid tie-break respected)
    joined = (
        assigned.join(
            embs.select(F.col("vec_id").alias("vid"), "embedding"), "vid"
        )
        .crossJoin(F.broadcast(cents.withColumnRenamed("cid", "ocid")))
        .select(
            "vid", "cid", "ccos", "ocid",
            sim.cosine(F.col("embedding"), F.col("cvec")).alias("ocos"),
        )
    )
    own = joined.filter(F.col("cid") == F.col("ocid"))
    assert own.filter(F.col("ccos") != F.col("ocos")).count() == 0
    beaten = joined.filter(
        (F.col("ocos") > F.col("ccos"))
        | ((F.col("ocos") == F.col("ccos")) & (F.col("ocid") < F.col("cid")))
    )
    assert beaten.count() == 0

    # scale shape: the centroid table broadcasts (no shuffle of the shard
    # against centroids), and the argmax is a partial aggregation
    plan = assigned._jdf.queryExecution().executedPlan().toString()
    assert "Broadcast" in plan, plan


def test_emb_ivf_append_profile_is_consistent(spark):
    """The registered maintenance query's profile must reconcile: index +
    new counts sum to the corpus, every centroid row is present, and the
    fold is incremental — the new shard's assignments equal what a full
    re-assignment of the union gives for those ids (no re-clustering
    drift by construction)."""
    from pyspark.sql import functions as F

    from data_engineering_datawarehousingandetlpipeline_spark.operators import (
        similarity as sim,
    )
    from data_engineering_datawarehousingandetlpipeline_spark.plans.extensions import (
        EMB_APPEND_MOD,
        IVF_CENTROIDS,
        IVF_ITERATIONS,
        q_emb_ivf_append,
    )
    from data_engineering_datawarehousingandetlpipeline_spark.sources.readers import (
        load_table,
    )

    sf = "/root/testdata/sf0.001"
    profile = q_emb_ivf_append(spark, sf).collect()
    embs = load_table(spark, sf, "embeddings")
    assert len(profile) == IVF_CENTROIDS
    assert sum(r.n_total for r in profile) == embs.count()
    for r in profile:
        assert r.n_total == r.n_index + r.n_new
        assert r.avg_new_ccos is None or -2.0 <= r.avg_new_ccos <= 1.0

    # incrementality: assigning the new shard against the trained
    # centroids is the SAME operation the union's assignment performs
    # for those ids — folding a shard in cannot move anything else
    index = embs.filter((F.col("vec_id") % EMB_APPEND_MOD) != 0)
    cents = sim.kmeans_centroids(
        index, n_centroids=IVF_CENTROIDS, iterations=IVF_ITERATIONS
    )
    union_assign = sim.ivf_assign(embs, cents)
    new_assign = sim.ivf_assign(
        embs.filter((F.col("vec_id") % EMB_APPEND_MOD) == 0), cents
    )
    mismatch = new_assign.alias("n").join(
        union_assign.alias("u"), "vid"
    ).filter(
        (F.col("n.cid") != F.col("u.cid"))
        | (F.col("n.ccos") != F.col("u.ccos"))
    )
    assert mismatch.count() == 0
