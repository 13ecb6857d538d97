"""Physical-plan quality gates: the properties that make queries scale.

Correctness says the answer is right; these tests pin HOW it executes —
filters reach the parquet scan, dimensions broadcast, top-k pushes into
the shuffle, and no operator silently degenerates into a nested-loop or
cartesian plan. A regression here is a 100 TB incident that sf0.01 tests
would never catch.
"""

from __future__ import annotations

import re

import pytest

from data_engineering_datawarehousingandetlpipeline_spark.plans import all_queries

SF_DIR = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    df = all_queries()[name].fn(spark, SF_DIR)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )


def test_star_joins_broadcast_dimensions(spark):
    for name in ("region_revenue", "top_customers", "supplier_volume"):
        plan = _plan(spark, name)
        assert "BroadcastHashJoin" in plan, name
        assert "SortMergeJoin" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_pricing_summary_pushdown_and_pruning(spark):
    plan = _plan(spark, "pricing_summary")
    # the shipdate predicate must reach the parquet reader
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    # column pruning: the scan carries the needed measures but not the
    # join key, which this aggregate never touches
    read_schema = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "l_quantity:double" in read_schema
    assert "l_orderkey" not in read_schema, read_schema


def test_events_range_scan_pushes_timestamp_predicate(spark):
    """The day-window range must reach the parquet scan (row-group
    skipping). Current corpus vintage stores timestamp[us], so the
    predicate pushes natively; the legacy TIMESTAMP(NANOS) vintage pushes
    via the raw-nanos transposition in sources/readers.py — either way the
    scan must carry the pushed range, never a post-scan-only filter."""
    plan = _plan(spark, "day_window")
    assert "PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts," in plan


def test_top_k_uses_window_group_limit(spark):
    assert "WindowGroupLimit" in _plan(spark, "top_orders_per_customer")


@pytest.mark.parametrize(
    "name",
    ["doc_ngram_jaccard", "doc_minhash_neardup", "doc_simhash_pairs",
     "emb_near_dup", "nearby_clicks", "asof_last_error",
     "split_leakage_audit"],
)
def test_pair_operators_never_go_quadratic(spark, name):
    """Near-dup / ANN / range-join plans must stay equi-join shaped."""
    plan = _plan(spark, name)
    assert "CartesianProduct" not in plan, name
    assert "BroadcastNestedLoopJoin" not in plan, name


def test_minhash_verification_bounded_by_candidates(spark):
    """The exact-Jaccard verify must be an array_intersect over the LSH
    candidate pairs — NOT a postings self-join + pair aggregation, which is
    O(co-occurring pairs) and defeats LSH at scale. The only token-keyed
    join allowed in this plan is none at all: joins are on (band,
    band_hash) and on the candidate doc ids."""
    plan = _plan(spark, "doc_minhash_neardup")
    assert "array_intersect" in plan
    # the all-pairs shape joined exploded postings on the token/shingle
    # column; neither may appear as a join key (or at all — signatures are
    # computed per-row without exploding tokens)
    assert "shingle" not in plan
    assert "token#" not in plan
    # explode only for the 16 band rows per doc, never for tokens
    assert plan.count("Generate explode") <= 2


def test_ivf_joins_are_centroid_bounded(spark):
    """IVF's only nested-loop joins may be corpus × broadcast(centroids) —
    linear in the corpus with a bounded build side (the k-means training
    and assignment scans). A CartesianProduct or a corpus × corpus
    nested loop would be quadratic and is never acceptable."""
    plan = _plan(spark, "emb_ivf_topk")
    assert "CartesianProduct" not in plan
    for frag in plan.split("BroadcastNestedLoopJoin")[1:]:
        assert frag.startswith(" BuildRight, Cross"), frag[:60]


def test_ivf_assignment_is_exchange_free(spark):
    """The argmax assignment (r16) is a per-row array_min over the
    broadcast one-row centroid ARRAY: the corpus side must stream with
    NO hash exchange and no corpus-keyed aggregate — the previous
    groupBy(vid) argmax shuffled one row per vector for groups that were
    already co-located. The only aggregate allowed is the centroid-count
    collect_list fold on the broadcast side."""
    from data_engineering_datawarehousingandetlpipeline_spark.operators import (
        similarity as sim,
    )
    from data_engineering_datawarehousingandetlpipeline_spark.plans.extensions import (
        _embs,
    )

    embs = _embs(spark, SF_DIR)
    cents = sim.kmeans_centroids(embs, 4, 1)
    plan = (
        sim.ivf_assign(embs, cents)
        ._jdf.queryExecution()
        .explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "simple"
            )
        )
    )
    assert "array_min" in plan
    assert "hashpartitioning" not in plan  # no corpus-keyed exchange
    assert "partial_min" not in plan       # no argmax aggregate
    assert "CartesianProduct" not in plan


def test_simhash_pairs_verify_rides_the_band_join(spark):
    """The fingerprint rides the band rows (r16): Hamming verification is
    computed ON the band join's output, so the plan's ONLY join is the
    (band, band_value) self-join — the two id-keyed verify joins that
    re-attached fingerprints to candidate pairs are gone, and the pair
    dedup aggregates post-filter survivors only."""
    plan = _plan(spark, "doc_simhash_pairs")
    joins = (
        plan.count("SortMergeJoin")
        + plan.count("BroadcastHashJoin")
        + plan.count("ShuffledHashJoin")
    )
    assert joins == 1, plan
    assert "bit_count" in plan  # hamming inline, not in a post-join project


def test_cluster_profile_argmax_is_exchange_free(spark):
    """The per-vector assignment argmax (r16) is the per-row array_min
    over the broadcast centroid array — the only aggregate allowed is the
    ~n_centroids-group profile rollup, never a corpus-keyed groupBy(vid)."""
    plan = _plan(spark, "emb_cluster_profile")
    assert "array_min" in plan
    assert "partial_min(struct" not in plan  # no argmax aggregate


def test_pq_encode_is_exchange_free(spark):
    """pq_reconstruct (r16) must stream: per-row array_min over the
    broadcast one-row codebook array, no subvector explode, no
    corpus-keyed exchange, no argmin aggregate — encode+decode is one
    codegen stage over the scan."""
    from data_engineering_datawarehousingandetlpipeline_spark.operators import (
        similarity as sim,
    )
    from data_engineering_datawarehousingandetlpipeline_spark.plans.extensions import (
        EMBED_DIM, PQ_CODEWORDS, PQ_M, _embs,
    )

    embs = _embs(spark, SF_DIR)
    books = sim.pq_codebooks(embs, EMBED_DIM, PQ_M, PQ_CODEWORDS, 1)
    plan = (
        sim.pq_reconstruct(embs, books, EMBED_DIM, PQ_M)
        ._jdf.queryExecution()
        .explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "simple"
            )
        )
    )
    assert "array_min" in plan
    assert "hashpartitioning" not in plan  # no corpus-keyed exchange
    assert "partial_min" not in plan       # no argmin aggregate
    assert "Generate posexplode" not in plan


def test_simhash_fingerprints_are_shuffle_free(spark):
    """The per-row fold formulation must not aggregate or hash-shuffle —
    fingerprinting is a pure scan (the exploded groupBy shape costs two
    shuffles for identical integer arithmetic)."""
    plan = _plan(spark, "doc_simhash")
    assert "HashAggregate" not in plan
    assert "hashpartitioning" not in plan


def test_brute_force_topk_broadcasts_query_side(spark):
    # the ONE sanctioned cross join: corpus × broadcast(8 query vectors)
    plan = _plan(spark, "emb_cosine_topk")
    assert "BroadcastNestedLoopJoin BuildRight, Cross" in plan
    assert "CartesianProduct" not in plan


def test_ngram_topk_takes_ordered_no_full_sort(spark):
    """The global top-k must be a TakeOrdered over the aggregated bigram
    table — a full Sort + Limit materializes and orders the entire n-gram
    vocabulary (billions of rows at corpus scale) for 50 outputs."""
    plan = _plan(spark, "doc_ngram_topk")
    assert "TakeOrderedAndProject" in plan
    assert "Sort [n_occurrences" not in plan


def test_group_sample_pushes_window_group_limit(spark):
    """The per-source rank filter must push a partial top-n into each task
    (WindowGroupLimit) — without it a skewed source materializes its whole
    partition in one window state."""
    plan = _plan(spark, "doc_group_sample")
    assert "WindowGroupLimit" in plan


def test_cluster_profile_joins_are_centroid_bounded(spark):
    """Same bound as IVF: the only nested loop allowed is corpus ×
    broadcast(centroids); the profile aggregation must be partial
    (map-side combine) so the shuffle carries one row per vector at most."""
    plan = _plan(spark, "emb_cluster_profile")
    assert "CartesianProduct" not in plan
    for frag in plan.split("BroadcastNestedLoopJoin")[1:]:
        assert frag.startswith(" BuildRight, Cross"), frag[:60]


def test_sketch_query_stays_single_agg_scan_plus_rank_join(spark):
    """The sketch path itself must stay one aggregation (mergeable
    sketches, no sort); the rank-verification join must broadcast the
    5-row sketch table, never shuffle-join the events scan against it."""
    plan = _plan(spark, "approx_sketches")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_tfidf_corpus_count_is_in_plan_not_on_driver(spark):
    """N (corpus size) must ride the plan as a broadcast 1-row aggregate.

    A driver-side ``docs.count()`` during query construction is an eager
    extra full-corpus scan per invocation — at warehouse scale, one wasted
    pass of the documents table before the real plan even starts. A plain
    ``spark.read.parquet`` costs one tiny schema-read job, so the gate is
    relative: building tfidf must launch no more jobs than building a
    count-free query over the same table."""
    sc = spark.sparkContext

    def jobs_to_build(name: str) -> int:
        group = f"build-probe-{name}"
        sc.setJobGroup(group, "lazy-construction gate")
        try:
            all_queries()[name].fn(spark, SF_DIR)
        finally:
            sc.setJobGroup(f"{group}-done", "")
        return len(list(sc.statusTracker().getJobIdsForGroup(group)))

    baseline = jobs_to_build("doc_token_stats")
    assert jobs_to_build("doc_tfidf_terms") <= baseline
    df = all_queries()["doc_tfidf_terms"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    # the count is a broadcast-joined aggregate inside the plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_decontaminate_broadcasts_benchmark_side(spark):
    """The eval set is tiny vs the training corpus: its n-gram postings
    must BROADCAST so the training side streams through one hash join —
    never a shuffle (SortMergeJoin) of the 100 TB side on n-gram."""
    plan = _plan(spark, "doc_decontaminate")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_repetition_is_single_scan_partial_agg(spark):
    """Repetition signals: one corpus scan, both aggregations map-side
    partial (the shuffle carries per-(doc,bigram) then per-doc partial
    states, never raw bigram rows)."""
    plan = _plan(spark, "doc_repetition")
    assert plan.count("FileScan parquet") == 1
    assert "partial_count" in plan and "partial_sum" in plan


def test_chunking_is_scan_local(spark):
    """Chunking must be a pure narrow scan: tokenize + explode + slice in
    one stage. No aggregate, no hash shuffle — the only exchange allowed
    is the rangepartitioning of the output sort."""
    plan = _plan(spark, "doc_chunks")
    assert plan.count("FileScan parquet") == 1
    assert "HashAggregate" not in plan
    assert "hashpartitioning" not in plan
    assert "CartesianProduct" not in plan


def test_semantic_dedup_joins_are_cluster_bounded(spark):
    """SemDeDup's pairwise stage must join on cid (equi-join, bounded by
    cluster population) — never a corpus-level cartesian. The only
    nested-loop joins allowed are the k-means corpus × broadcast(centroids)
    scans, same contract as IVF."""
    plan = _plan(spark, "emb_semantic_dedup")
    assert "CartesianProduct" not in plan
    for frag in plan.split("BroadcastNestedLoopJoin")[1:]:
        assert frag.startswith(" BuildRight, Cross"), frag[:60]


def test_source_stats_is_single_scan_partial_agg(spark):
    """The domain rollup must be one corpus scan with map-side partial
    aggregation — the shuffle carries per-source partial states, never raw
    document rows."""
    plan = _plan(spark, "doc_source_stats")
    assert plan.count("FileScan parquet") == 1
    assert "partial_count" in plan or "partial_sum" in plan


def test_span_dedup_is_postings_shaped(spark):
    """Span dedup must stay an equi-join over hashed-gram postings with
    partial aggregation — one corpus scan feeding the postings, no
    cartesian, no Python in the hot path."""
    plan = _plan(spark, "doc_span_dedup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "partial_count" in plan or "partial_sum" in plan


def test_pii_scan_is_single_scan_partial_agg(spark):
    """The PII audit is one codegen'd scan (regex counts + redaction delta
    as column expressions) with a map-side partial agg on source — no UDF,
    no second pass for the redacted length."""
    plan = _plan(spark, "doc_pii_scan")
    assert plan.count("FileScan parquet") == 1
    assert "partial_count" in plan or "partial_sum" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_quantize_stats_is_single_scan_partial_agg(spark):
    """Quantize → dequantize → error metrics are row-local array
    expressions; the only shuffle is the label partial-agg."""
    plan = _plan(spark, "emb_quantize_stats")
    assert plan.count("FileScan parquet") == 1
    assert "partial_count" in plan or "partial_sum" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_mixture_weights_totals_broadcast(spark):
    """The corpus totals must crossJoin in as a broadcast 1-row aggregate
    (the tfidf contract) — never a shuffle join, never a driver count."""
    plan = _plan(spark, "doc_mixture_weights")
    assert "BroadcastNestedLoopJoin BuildRight, Cross" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_behavioral_queries_avoid_cartesian(spark):
    """Retention and funnel are chains of per-user partial aggs and
    equi-joins on user_id — a cartesian anywhere means a stage lost its
    join key."""
    for name in ("retention_cohorts", "event_funnel"):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan, name


def test_ivfpq_joins_are_centroid_bounded(spark):
    """The compressed index inherits IVF's bound: nested loops only as
    corpus × broadcast(centroids); quantize/dequantize are row-local array
    expressions (no Python), and the exact re-rank joins survivors back by
    id — equi-join, never a second corpus-wide pass."""
    plan = _plan(spark, "emb_ivfpq_topk")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    for frag in plan.split("BroadcastNestedLoopJoin")[1:]:
        assert frag.startswith(" BuildRight, Cross"), frag[:60]


def test_mixture_sample_broadcasts_weights(spark):
    """Applying the mixture weights must broadcast the tiny weights
    aggregate onto the corpus scan (hash join on source) — never shuffle
    the corpus — and the copy fan-out must be the plan's only explode,
    bounded by the weight cap."""
    plan = _plan(spark, "doc_mixture_sample")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("Generate explode") == 1


def test_pq_training_stays_keyed_and_broadcast(spark):
    """All m subspace trainings ride ONE keyed plan: subvector table ⋈
    broadcast(codebooks) — no cartesian, no per-subspace nested loop over
    the corpus, no Python. The only sanctioned nested loop is the ADC
    scoring's corpus × broadcast(query set) cross join (the brute-force
    baseline's contract)."""
    plan = _plan(spark, "emb_pq_topk")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    for frag in plan.split("BroadcastNestedLoopJoin")[1:]:
        assert frag.startswith(" BuildRight, Cross"), frag[:60]


def test_bm25_is_pinned_postings_with_broadcast_query_model(spark):
    """BM25 must keep the DSIR-style pinned-postings shape: the corpus is
    tokenized exactly once into the pinned doc-term table (the final plan
    reads Scan ExistingRDD, zero parquet re-scans), everything query-shaped
    (terms, idf model, 1-row stats) broadcasts, the only cross joins are
    broadcast crosses of 1-row aggregates, and top-k per query runs as a
    WindowGroupLimit — never a global sort of all scores. No Python
    anywhere."""
    plan = _plan(spark, "doc_bm25_topk")
    assert "FileScan parquet" not in plan  # all subtrees ride the pinned postings
    assert "Scan ExistingRDD" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "WindowGroupLimit" in plan
    for frag in plan.split("BroadcastNestedLoopJoin")[1:]:
        assert frag.startswith(" BuildRight, Cross"), frag[:60]


def test_rrf_fusion_joins_only_pool_sized_sides(spark):
    """RRF composes two already-audited rankings; the fusion itself must
    stay trivial — both sides pre-limited per query (WindowGroupLimit)
    before the full-outer join, no cartesian beyond the broadcast crosses
    of 1-row stats / the broadcast query set, no Python."""
    for name in ("retrieval_rrf", "retrieval_rrf_ann"):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
        assert "WindowGroupLimit" in plan, name
        for frag in plan.split("BroadcastNestedLoopJoin")[1:]:
            assert frag.startswith(" BuildRight, Cross"), (name, frag[:60])


def test_silence_report_is_two_aggregate_scan(spark):
    """The batch silence report must be one pushed-predicate scan and one
    user-keyed partial aggregate with a post-aggregate filter — no joins,
    no windows, no Python (the 100 TB shape for 'who went quiet')."""
    plan = _plan(spark, "silence_report")
    assert plan.count("FileScan parquet") == 1
    assert "PushedFilters: [IsNotNull(ts), LessThanOrEqual(ts," in plan
    assert "partial_max" in plan or "partial_count" in plan
    for op in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct",
               "BroadcastNestedLoopJoin", "Window"):
        assert op not in plan, op
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_gapfill_is_user_keyed_with_pinned_daily(spark):
    """Gap-fill must ride the pinned per-(user, day) table — one events
    scan total (the final plan reads Scan ExistingRDD), the grid explode
    bounded by broadcast day bounds (broadcast cross of a 1-row
    aggregate), and both window passes user-keyed. No Python."""
    plan = _plan(spark, "event_gapfill")
    assert "FileScan parquet" not in plan  # everything rides the pinned daily
    assert "Scan ExistingRDD" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    for frag in plan.split("BroadcastNestedLoopJoin")[1:]:
        assert frag.startswith(" BuildRight, Cross"), frag[:60]


def test_scd2_enrich_is_joinless_merge_scan(spark):
    """Point-in-time enrichment must ride the union + user-keyed window
    merge-scan — NO join operator of any kind (the inequality-join
    formulation a naive AS-OF would plan is the scale-killer this shape
    exists to avoid), no Python, and only user-keyed exchanges."""
    plan = _plan(spark, "scd2_event_enrich")
    for op in ("CartesianProduct", "BroadcastNestedLoopJoin",
               "SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"):
        assert op not in plan, op
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("Exchange hashpartitioning") == 2  # dim build + merge scan


def test_lineitem_profile_is_expand_free_per_column_branches(spark):
    """The profile must plan as ONE single-column pruned scan per
    profiled column (plus the row-count branch), each a two-phase
    single-distinct aggregate — and NO Expand anywhere: the old
    one-scan multi-distinct shape multiplied every row |columns|+1
    times through Expand before the partial aggregation (measured 2.0×
    slower at sf0.1, r17). The shared row count attaches through a
    one-row broadcast nested-loop join — the only join allowed. No
    shuffle joins, no Python."""
    from data_engineering_datawarehousingandetlpipeline_spark.plans.analytics import (
        PROFILE_NUMERIC, PROFILE_OTHER,
    )

    plan = _plan(spark, "lineitem_profile")
    n_cols = len(PROFILE_NUMERIC) + len(PROFILE_OTHER)
    assert plan.count("FileScan parquet") == n_cols + 1
    assert "Expand" not in plan
    assert "partial_count" in plan
    # every branch scan prunes to its one column: no ReadSchema wider
    # than a single field (fields are name:type — decimal(p,s) commas
    # make comma-counting unusable, colons count fields exactly)
    for line in plan.splitlines():
        if "ReadSchema:" in line:
            assert line.split("struct<", 1)[1].count(":") <= 1, line
    for op in ("CartesianProduct", "SortMergeJoin", "ShuffledHashJoin"):
        assert op not in plan, op
    # exactly the one-row count attach rides a broadcast nested loop
    assert plan.count("BroadcastNestedLoopJoin") == 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_quality_deciles_have_no_corpus_sized_global_window(spark):
    """The decile cut must ride the distributed-NTILE shape: NO `ntile`
    window function anywhere (a bare NTILE plans as ONE task holding every
    scored row), and every corpus-sized window partitioned by the range
    bucket. The only permissible global-order window is the prefix sum
    over the per-partition counts — one row per shuffle partition, a
    config constant. (r7 verdict, marching order 2.)"""
    plan = _plan(spark, "doc_quality_deciles")
    assert "ntile" not in plan
    # the corpus-side row_number window must be partitioned by __pid
    for line in plan.splitlines():
        if "row_number()" in line:
            assert "__pid" in line, line
    # the tiny offsets/total sides broadcast back — never reshuffle the corpus
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_percentiles_have_no_per_group_corpus_window(spark):
    """Grouped order statistics must ride grouped_rank: the corpus-side
    row_number window is partitioned by (range bucket, group) — never by
    the group alone, which would put a whole event type in one task. Only
    the per-(bucket, group) counts table (config-sized) may carry plain
    group-keyed windows."""
    plan = _plan(spark, "event_value_percentiles")
    assert "ntile" not in plan
    for line in plan.splitlines():
        if "row_number()" in line:
            assert "__pid" in line, line
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_hard_negative_mining_is_single_scan_single_argmax_shuffle(spark):
    """Both argmaxes (positive and hard negative) must ride ONE
    partial-agg groupBy over one corpus × broadcast(queries) scan — a
    two-pass formulation doubles the dominant cost for no reason."""
    plan = _plan(spark, "emb_hard_negatives")
    assert plan.count("FileScan parquet") == 2  # corpus + query side
    assert "partial_min" in plan
    assert "CartesianProduct" not in plan
    for frag in plan.split("BroadcastNestedLoopJoin")[1:]:
        assert frag.startswith(" BuildRight, Cross"), frag[:60]


def test_dsir_model_broadcasts_onto_doc_counts(spark):
    """DSIR scoring must be doc-bucket counts ⋈ broadcast(256-row model)
    — the fitted model never shuffles the corpus side, and the totals ride
    in as a broadcast 1-row aggregate (the tfidf/mixture contract). No
    Python anywhere: hashing, smoothing, and the log-ratio are column
    expressions."""
    plan = _plan(spark, "doc_dsir_weights")
    assert "BroadcastHashJoin" in plan  # model join
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    for frag in plan.split("BroadcastNestedLoopJoin")[1:]:
        assert frag.startswith(" BuildRight, Cross"), frag[:60]


def test_vocab_drift_topk_never_sorts_vocabulary(spark):
    """The top-k by |z| must push into TakeOrderedAndProject — a full Sort
    of the term table is the scale bug this gate exists to catch."""
    plan = _plan(spark, "doc_vocab_drift")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_source_overlap_is_sketch_bounded_equi_join(spark):
    """The pair stage must be an equi-join on the gram hash (sketch-
    filtered postings), with the 20-row size table broadcast back — never
    a cartesian over sources, never an unsampled gram explosion without
    the mod filter. The postings are pinned (one shingle pass feeds the
    join's two sides and the size table), so the final plan is gated for
    join shape and the sketch builder is explained separately for the
    mod predicate."""
    plan = _plan(spark, "source_overlap")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastHashJoin" in plan  # size tables

    from data_engineering_datawarehousingandetlpipeline_spark.plans.curation import (
        source_gram_sketch,
    )
    from data_engineering_datawarehousingandetlpipeline_spark.sources.readers import (
        load_table,
    )

    grams = source_gram_sketch(load_table(spark, SF_DIR, "documents"))
    gram_plan = grams._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    assert "% 4) = 0" in gram_plan  # the 1/MOD sketch predicate
    assert gram_plan.count("FileScan") == 1  # one corpus pass builds it


def test_cluster_composition_queries_stay_edge_bounded(spark):
    """Cluster keep-best / stats compose the label-propagation output; the
    quality join and histogram must stay equi-join + partial-agg shaped
    (no cartesian, no Python), like the cluster query they extend."""
    for name in ("doc_cluster_keep", "dedup_cluster_stats"):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "BatchEvalPython" not in plan, name


def test_scd2_rides_one_user_exchange(spark):
    """The change-flag lag, the running-sum version, the run aggregation,
    and the valid_to lead must ALL reuse a single hashpartitioning(user_id)
    exchange — a second corpus-sized shuffle is the scale bug. (The only
    other exchange is the output sort's rangepartitioning.)"""
    plan = _plan(spark, "scd2_user_state")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_incremental_rollup_merges_states_not_rows(spark):
    """The day-state table is pinned (one events scan builds it; both the
    closed and delta branches read the checkpoint), the merge shuffles
    state rows only, and the full-recompute verification joins as a
    broadcast of a ~5-row aggregate — never a sort-merge."""
    plan = _plan(spark, "incremental_rollup")
    assert plan.count("Scan ExistingRDD") == 2  # pinned states, two branches
    assert plan.count("FileScan") == 1  # the full-recompute branch only
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_incremental_star_rollup_merges_states_not_rows(spark):
    """The star-join view's per-(region, day) state table is pinned —
    ONE join pass builds it; the closed and delta branches read the
    checkpoint — the merge shuffles state rows only, and the
    full-recompute verification lands as a broadcast join of a 5-row
    aggregate. The fixed-size dims broadcast inside the (re)join; no
    sort-merge, no cartesian, no Python. The pinned star join itself is
    one more pinned scan, so the gate asks for at least two."""
    plan = _plan(spark, "incremental_star_rollup")
    assert plan.count("Scan ExistingRDD") >= 2  # pinned states, two branches
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_contract_row_checks_share_one_scan(spark):
    """Every row-level expectation must fold into ONE conditional-agg
    lineitem scan (stack-unpivoted); only the referential anti-join may
    read lineitem again (plus the orders parent). No Python."""
    plan = _plan(spark, "lineitem_contract")
    assert plan.count("FileScan parquet") == 3  # agg scan + anti child + orders
    assert "partial_sum" in plan
    assert plan.count("LeftAnti") == 1
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_rolling_anomaly_is_one_keyed_window_no_python(spark):
    """The Hampel filter must be ONE user-keyed window pass with the
    median/MAD as row-local array expressions — no Python, no join, no
    second corpus exchange."""
    plan = _plan(spark, "event_rolling_anomaly")
    assert plan.count("Exchange hashpartitioning") == 1
    for op in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct",
               "BroadcastNestedLoopJoin"):
        assert op not in plan, op
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_scd2_snapshots_use_bounded_explode_not_inequality_join(spark):
    """The as-of grid read must be an interval-explode (Generate bounded
    by the snapshot grid) + one count shuffle — never a history ×
    snapshots nested-loop inequality join."""
    plan = _plan(spark, "scd2_snapshots")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Generate explode") == 1  # the covered-range sequence
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_incremental_distinct_union_carries_sketch_states(spark):
    """The merge path must re-aggregate hll_union over day sketch states
    (partial-aggregatable both levels), and the verification join must
    broadcast — never sort-merge — the ~5-row direct aggregate."""
    plan = _plan(spark, "incremental_distinct")
    assert "hll_union" in plan
    assert "hll_sketch_agg" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_unpivot_is_expand_over_wide_aggregate(spark):
    """The melt must be one Expand over the ~30-row wide table — never a
    per-metric re-scan union or a second shuffle beyond the day agg."""
    plan = _plan(spark, "event_unpivot")
    assert "Expand" in plan
    assert plan.count("FileScan") == 1
    # Spark compiles pivot as a two-phase aggregate: (day, type) partials
    # then the day-keyed pivot agg — two keyed exchanges, both carrying
    # aggregate states. The melt itself must add NO third shuffle.
    assert plan.count("Exchange hashpartitioning") == 2
    assert "BatchEvalPython" not in plan


def test_perplexity_scoring_is_token_keyed_hash_join_over_pinned_counts(spark):
    """The DSIR two-pass layout: pinned per-(doc, token) counts feed both
    the model fit and the scoring join; the totals ride as a broadcast
    1-row aggregate; no cartesian beyond vocab × broadcast(totals), no
    Python anywhere."""
    plan = _plan(spark, "doc_perplexity")
    assert "Scan ExistingRDD" in plan  # pinned counts
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    for frag in plan.split("BroadcastNestedLoopJoin")[1:]:
        assert frag.startswith(" BuildRight, Cross"), frag[:60]


def test_top_supplier_pins_revenue_and_broadcasts_max(spark):
    """Q15 decorrelation: the per-supplier revenue aggregate must be
    computed once (pinned — both consumers read Scan ExistingRDD) with
    the 1-row max arriving as a broadcast equality join, never a second
    lineitem scan or a nested-loop filter."""
    plan = _plan(spark, "top_supplier")
    assert plan.count("Scan ExistingRDD") == 2
    assert plan.count("FileScan parquet") == 1  # supplier only
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_small_qty_revenue_reuses_one_partkey_exchange(spark):
    """Q17 decorrelation (r16 window form): the per-part average is a
    decimal window aggregate over l_partkey riding the ONE partkey
    exchange the brand lineitems need anyway — no pin, no join-back, no
    sort-merge join, and exactly one hash exchange in the whole plan
    (the global sum's SinglePartition exchange is not hash-keyed). No
    correlated per-row work, no Python."""
    plan = _plan(spark, "small_qty_revenue")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "windowspecdefinition(l_partkey" in plan
    assert "SortMergeJoin" not in plan
    assert "Scan ExistingRDD" not in plan  # nothing pinned anymore
    assert "partial_sum" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_waiting_suppliers_single_fact_exchange(spark):
    """Q21 decorrelation (r16): ONE orderkey-keyed exchange
    (REPARTITION_BY_COL) feeds both the (orderkey, suppkey) aggregate
    and the per-order window — grouping straight on the pair key would
    add a second full fact exchange for the window. The only other hash
    exchange is the dimension-sized blamed-supplier aggregate, and the
    lateness flag is computed BEFORE the exchange so the shuffled row is
    (bigint, bigint, int), not two timestamps."""
    plan = _plan(spark, "waiting_suppliers")
    assert plan.count("Exchange hashpartitioning") == 2
    assert "REPARTITION_BY_COL" in plan
    assert "windowspecdefinition(l_orderkey" in plan
    # the window rides the repartition: no exchange re-keys the fact rows
    # between the aggregate and the window (the second exchange is the
    # post-filter suppkey aggregate, keyed on l_suppkey)
    assert plan.count("hashpartitioning(l_orderkey") == 1
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_large_volume_orders_single_fact_aggregate(spark):
    """Q18 decorrelation: ONE map-side-combined lineitem aggregate is
    both the HAVING gate and the output sum — the textbook IN-subquery's
    second lineitem scan must not exist."""
    plan = _plan(spark, "large_volume_orders")
    assert plan.count("FileScan parquet") == 3  # lineitem, orders, customer
    assert "partial_sum" in plan
    assert "SortMergeJoin" not in plan  # tiny gated side joins hashed
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_idle_rich_customers_anti_join_pushes_date_slice(spark):
    """Q22 decorrelation: NOT EXISTS must execute as LEFT ANTI against
    the date-filtered orders slice (predicate at the scan), the global
    average joins as a broadcast 1-row build, and nation stays
    broadcast."""
    plan = _plan(spark, "idle_rich_customers")
    assert "LeftAnti" in plan
    assert "PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate," in plan
    assert plan.count("BroadcastNestedLoopJoin") == 1  # the 1-row average
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_shipping_priority_is_take_ordered_not_global_sort(spark):
    """Q3: the top-10 must push into the shuffle as TakeOrdered (each
    partition ships its local 10), never materialize a full global sort;
    both date predicates reach their scans; customer joins as keys only."""
    plan = _plan(spark, "shipping_priority")
    assert "TakeOrderedAndProject(limit=10" in plan
    assert "Exchange rangepartitioning" not in plan
    assert plan.count("GreaterThan(l_shipdate") == 1
    assert plan.count("LessThan(o_orderdate") == 1
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_promo_share_is_one_conditional_aggregate_pass(spark):
    """Q14: numerator and denominator must ride ONE aggregate over ONE
    join — not the naive two-query / two-scan formulation."""
    plan = _plan(spark, "promo_revenue_share")
    assert plan.count("FileScan parquet") == 2  # lineitem + part, once each
    assert "partial_sum(CASE WHEN" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_disjunctive_band_stays_one_equi_join_with_pushed_supersets(spark):
    """Q19: the OR-of-ANDs must stay a single partkey equi-join with the
    disjunction as a residual — no union-of-scans, no nested loop — and
    the per-side superset constraints must reach BOTH scans (the
    quantity-band OR on lineitem, the brand/size OR on part)."""
    plan = _plan(spark, "disjunctive_band_revenue")
    assert plan.count("FileScan parquet") == 2
    assert plan.count("Join") == plan.count("BroadcastHashJoin") == 1
    # constraint extraction: disjunctive pushdown present on both scans
    assert plan.count("Or(And(") >= 2
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_nation_market_share_single_aggregate_no_self_join(spark):
    """Q8: share-of-total must be conditional sums in ONE per-year
    aggregate — no self-join, no window, each table scanned once."""
    plan = _plan(spark, "nation_market_share")
    assert plan.count("FileScan parquet") == 4
    assert "Window" not in plan
    assert "partial_sum(CASE WHEN" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_volume_shipping_broadcasts_both_nation_roles(spark):
    """Q7: the two nation ROLES (supplier's, customer's) must each arrive
    as a broadcast join — never a shuffle for a 25-row dim — and the
    (A→B) OR (B→A) pair filter must stay a residual on ONE plan, not
    split into a union of two join trees."""
    plan = _plan(spark, "volume_shipping")
    assert plan.count("BroadcastHashJoin") >= 2  # both nation lookups
    assert "Union" not in plan                   # disjunction not split
    assert plan.count("FileScan parquet") == 6   # each table exactly once
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_customer_order_distribution_keeps_outer_join(spark):
    """Q13: zero-order customers are the point — the outer join must
    survive into the physical plan (a post-join priority filter would
    let Catalyst rewrite it inner and silently drop the zero bucket),
    and the histogram is two aggregates, no window."""
    plan = _plan(spark, "customer_order_distribution")
    assert "LeftOuter" in plan
    assert plan.count("partial_count") >= 1
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_min_cost_supplier_is_one_fact_scan_argmin(spark):
    """Q2 decorrelation: the correlated MIN-per-part subquery must run as
    ONE argmin aggregate over ONE part-filtered fact scan — the part
    filter arriving as a broadcast semi-join BEFORE the aggregate, the
    min-and-witness via min(struct), never a per-part re-scan or a
    self-join of the costs."""
    plan = _plan(spark, "min_cost_supplier")
    assert plan.count("FileScan parquet [l_") == 1  # lineitem scanned once
    assert "LeftSemi" in plan                        # part prune pre-agg
    assert "partial_min" in plan                     # argmin aggregate
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_sliding_windows_expand_into_one_aggregate(spark):
    """Sliding windows must execute as ONE Expand (the fixed 4-way
    window-assignment fan-out) feeding one aggregate — never a union or
    self-join of shifted tumbling rollups, and one scan."""
    plan = _plan(spark, "sliding_window_stats")
    assert "Expand" in plan
    assert plan.count("FileScan parquet") == 1
    assert "Union" not in plan
    assert plan.count("partial_count") == 1
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_part_concentration_pins_aggregate_and_broadcasts_total(spark):
    """Q11 decorrelation: the per-part aggregate must be computed once
    (pinned — both the total and the threshold filter read Scan
    ExistingRDD) with the 1-row global total arriving as a broadcast,
    never a second lineitem scan."""
    plan = _plan(spark, "part_concentration")
    assert plan.count("Scan ExistingRDD") == 2  # pinned per-part aggregate
    assert plan.count("FileScan parquet") == 1  # part dim only
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_part_supplier_variety_anti_joins_before_aggregate(spark):
    """Q16 decorrelation: the NOT IN blacklist must arrive as a broadcast
    LEFT ANTI pruning rows before the distinct-count aggregate — never a
    per-row subquery or a nested loop."""
    plan = _plan(spark, "part_supplier_variety")
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan
    assert "partial_count(distinct" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_nation_product_profit_prunes_fact_via_semi_join(spark):
    """Q9 shape: the name-filtered part dimension must prune lineitem
    through a broadcast LEFT SEMI before the orderkey join, and the
    (nation × year) output comes from one aggregate pass."""
    plan = _plan(spark, "nation_product_profit")
    assert "LeftSemi" in plan
    assert "BroadcastHashJoin" in plan
    assert plan.count("partial_sum") >= 1
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_discounted_revenue_pushes_every_predicate(spark):
    """Q6: the pure-pushdown shape — all three predicates (date window,
    discount band, quantity cap) must reach the parquet reader, only the
    4 touched columns are read, and there is no join and no group key:
    one partial row per partition merges through a single exchange.
    (Formatted mode: the simple string truncates this 8-entry
    PushedFilters list.)"""
    df = all_queries()["discounted_revenue"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "GreaterThanOrEqual(l_discount,0.05)" in plan
    assert "LessThanOrEqual(l_discount,0.07)" in plan
    assert "LessThan(l_quantity,24.0)" in plan
    assert "GreaterThanOrEqual(l_shipdate," in plan
    assert "LessThan(l_shipdate," in plan
    read_schema = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "l_orderkey" not in read_schema and "l_tax" not in read_schema
    assert plan.count("Location: InMemoryFileIndex") == 1  # one file scan
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_late_shipment_priority_lateness_is_join_residual(spark):
    """Q12: the lateness predicate compares columns from BOTH sides, so
    it must execute as the join's residual condition — pushing it to
    either scan would be wrong — while the one-sided ship window DOES
    reach the lineitem scan; both priority counters ride ONE aggregate
    pass (never two filtered scans)."""
    plan = _plan(spark, "late_shipment_priority")
    assert "join condition" in plan.lower() or "INTERVAL" in plan
    assert "GreaterThanOrEqual(l_shipdate," in plan  # window pushed
    assert plan.count("FileScan parquet") == 2  # lineitem + orders, once
    assert "partial_sum(CASE WHEN" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_excess_volume_suppliers_reuses_pinned_aggregate(spark):
    """Q20 decorrelation: the per-(part, supplier) aggregate must be
    computed once and pinned — BOTH the per-part total and the threshold
    side read Scan ExistingRDD — with the part-dimension-sized total
    arriving as a broadcast; the only parquet scan left in the lazy plan
    is the 100-row supplier dim (lineitem was consumed by the pin), and
    there is no inequality join anywhere: the threshold rides the
    partkey equi-join as a residual."""
    plan = _plan(spark, "excess_volume_suppliers")
    assert plan.count("Scan ExistingRDD") == 2  # pinned per-(p,s) aggregate
    assert plan.count("FileScan parquet") == 1  # supplier dim only
    assert plan.count("BroadcastHashJoin") == 2  # total + supplier lookups
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


# --- wholesale registry audit -------------------------------------------
# Per-query gates above pin specific plan SHAPES; this audit pins the
# three absolute bans across EVERY lazily-constructible registered query,
# so a future query cannot ship a degenerate plan without a named
# exemption here. Streaming / staged-warehouse queries are excluded
# because their CONSTRUCTION runs an eager end-to-end drain (the parity
# suite runs them); their plans are pinned by their own tests.

#: Arrow-batched Python is sanctioned ONLY at the multimodal codec
#: boundary (operators/multimodal.py mapInPandas)
_ARROW_OK = (
    "media_features",
    "media_feature_vectors",
    "media_frame_sample",
    "media_pipeline",
)

#: excluded: construction is eager (tempdir staging / availableNow drains)
_AUDIT_NAMES = sorted(
    n
    for n in all_queries()
    if not n.startswith("streaming_") and n != "warehouse_skipping_scan"
)


@pytest.mark.parametrize("name", _AUDIT_NAMES)
def test_registry_query_never_degenerates(spark, name):
    plan = _plan(spark, name)
    assert "CartesianProduct" not in plan, name
    assert "BatchEvalPython" not in plan, name  # row-at-a-time Python
    if name not in _ARROW_OK:
        assert "ArrowEvalPython" not in plan, name


def test_jaccard_doc_freq_cap_prunes_postings_before_the_join(spark):
    """The max_doc_freq cap (r8 verdict, marching order 2) must prune
    UPSTREAM of the postings self-join, in the skew-immune shape: doc
    frequencies from a partial-aggregated groupBy (a hot shingle is one
    partial count per map task, never a buffered group), the over-cap set
    broadcast, postings pruned by a broadcast LEFT ANTI — so a hot
    shingle's posting list never rides a shingle-keyed exchange. Capping
    after the join (or via a window over the shingle) would re-create the
    hot-group straggler the cap exists to kill."""
    from data_engineering_datawarehousingandetlpipeline_spark.operators.dedup import (
        _capped_postings,
    )
    from data_engineering_datawarehousingandetlpipeline_spark.plans.extensions import (
        NGRAM_MAX_DOC_FREQ,
    )
    from data_engineering_datawarehousingandetlpipeline_spark.sources.readers import (
        load_table,
    )

    # Since r16 the pruned postings are pinned (localCheckpoint) and
    # shared by both self-join sides, so the pruning subtree no longer
    # appears in the query's own plan — gate the shape on the subtree the
    # operator actually builds (same code path, pre-pin).
    docs = load_table(spark, SF_DIR, "documents")
    sub = _capped_postings(docs, "text", "doc_id", NGRAM_MAX_DOC_FREQ, 3)
    subplan = sub._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    # the over-cap filter on the aggregated doc frequency
    assert "df_count" in subplan
    assert f"> {NGRAM_MAX_DOC_FREQ})" in subplan
    # pruning is a broadcast anti-join, never a shingle-keyed window
    assert "LeftAnti, BuildRight" in subplan
    assert "windowspecdefinition(shingle" not in subplan
    # set sizes recomputed over the SURVIVING index: a doc-keyed count
    # window (doc groups bounded by document length, not skew)
    assert subplan.count("windowspecdefinition(doc#") == 1

    plan = _plan(spark, "doc_ngram_jaccard")
    # the pinned postings feed BOTH self-join sides as ExistingRDD scans —
    # one shingling + pruning pass per query, and no anti-join or
    # doc-window may re-materialize downstream of the pin
    assert "Scan ExistingRDD" in plan
    assert "windowspecdefinition(doc#" not in plan
    assert "LeftAnti" not in plan
    # the join itself stays shingle-keyed equi (the never-degenerate audit
    # and the pair-operator gate cover the degenerate forms)
    assert "CartesianProduct" not in plan


def test_tokenizer_fidelity_is_one_pruned_scan_one_partial_agg(spark):
    """The tokenizer round-trip audit must ride a SINGLE column-pruned
    scan of documents (source + text only — at warehouse scale the audit
    is a free rider on any existing documents pass) into one
    partial-aggregated groupBy on the ~20-value source key: no join, no
    window, every expression JVM codegen (regexp_extract_all /
    regexp_replace / array ops are all whole-stage)."""
    plan = _plan(spark, "doc_tokenizer_fidelity")
    scans = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    assert len(scans) == 1, scans
    assert "Join" not in plan
    assert "windowspecdefinition" not in plan
    # partial + final aggregate pair around one source-keyed exchange
    assert plan.count("HashAggregate") == 2
    assert "hashpartitioning(source" in plan
    # pruned to exactly the two columns the audit consumes (JVM codegen
    # throughout is covered by the generic no-Python-eval gate)
    assert "ReadSchema: struct<text:string,source:string>" in plan


def test_media_pipeline_is_two_arrow_stages_payload_scanned_once(spark):
    """resize → featurize must chain as exactly two Arrow-batched
    MapInPandas stages, and the metadata carry-forward join inside
    resize_media must prune to the id column — the heavy payload bytes are
    scanned from parquet exactly once and never join twice."""
    plan = _plan(spark, "media_pipeline")
    assert plan.count("MapInPandas") == 2
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    scans = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    payload_scans = [ln for ln in scans if "text" in ln]
    assert len(payload_scans) == 1, scans


def test_tpch_tier_is_registered_and_cites_its_shape():
    """bench.py's second tier (TPCH_SHAPES) must name 22 distinct
    registered queries, in Q order, each citing its TPC-H shape number in
    its docstring — so the tier can't silently drift from the family it
    claims to time."""
    import inspect
    import re

    from data_engineering_datawarehousingandetlpipeline_spark.plans.registry import (
        TPCH_SHAPES,
    )

    qs = all_queries()
    assert len(TPCH_SHAPES) == 22 == len(set(TPCH_SHAPES))
    for i, name in enumerate(TPCH_SHAPES, start=1):
        assert name in qs, name
        doc = (inspect.getdoc(qs[name].fn) or "") + " " + qs[name].description
        assert re.search(rf"Q{i}\b", doc), (name, f"Q{i} not cited")


def test_ngram_novelty_is_two_bounded_shuffles_one_materialization(spark):
    """doc_ngram_novelty (r13 debut) must shingle the corpus ONCE (the
    pinned distinct-shingle table feeds both the postings explode and the
    per-doc size projection as ExistingRDD scans), aggregate
    first-occurrence on the gram key and novel counts on the doc key —
    partial-agged, so a hot gram never materializes a group — and attach
    the novel counts without any postings re-join. No window, no
    cartesian, nothing quadratic: at warehouse scale cost is one corpus
    pass + two bounded shuffles."""
    plan = _plan(spark, "doc_ngram_novelty")
    # the checkpoint pins one shingling; both consumers read ExistingRDD
    assert plan.count("Scan ExistingRDD") == 2, plan
    assert plan.count("Generate explode") == 1
    # gram-keyed first-occurrence + doc-keyed novel count, each with a
    # map-side partial pair (4 HashAggregates around 2 hash exchanges)
    assert plan.count("hashpartitioning(gram") == 1
    assert plan.count("hashpartitioning(first_doc") == 1
    assert "partial_min" in plan and "partial_count" in plan
    assert "windowspecdefinition" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_cluster_family_pair_detector_is_df_cap_bounded(spark):
    """r13 verdict, marching order 3: the registered cluster-family plans
    (doc_dedup_clusters / doc_cluster_keep / dedup_cluster_stats /
    source_dup_matrix) must run the df-CAPPED unigram pair detector —
    candidate volume Σ min(df, CLUSTER_MAX_DOC_FREQ)², never Σ df² — with
    the broadcast LEFT-ANTI prune shape (a hot token's posting list never
    crosses a token-keyed exchange as one group; a window-over-token
    would rebuild the straggler the cap kills).

    The three clustering queries materialize labels behind
    near_dup_clusters' checkpoint barrier, so the detector subtree never
    appears in their final plans; the gate therefore (a) checks the
    physical plan of the ONE shared detector (extensions.cluster_pairs)
    and (b) pins, at source level, that every family member builds its
    pairs through that single definition."""
    import inspect

    from data_engineering_datawarehousingandetlpipeline_spark.plans import (
        curation,
        extensions,
    )

    from data_engineering_datawarehousingandetlpipeline_spark.operators.dedup import (
        _capped_postings,
    )

    # Since r16 the pruned postings are pinned (localCheckpoint) and
    # shared by both self-join sides, so the pruning subtree no longer
    # appears in cluster_pairs' own plan — gate the shape on the subtree
    # the detector actually builds (same code path, pre-pin).
    subplan = _capped_postings(
        extensions._docs(spark, SF_DIR),
        "text",
        "doc_id",
        extensions.CLUSTER_MAX_DOC_FREQ,
        1,
    )._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "simple"
        )
    )
    # the over-cap filter on the aggregated doc frequency (loose match:
    # node presence + the cap literal, not Spark's exact expression-id
    # rendering — an upgrade's formatting change must not flip the gate)
    assert "df_count" in subplan
    assert re.search(rf">\s*{extensions.CLUSTER_MAX_DOC_FREQ}\b", subplan)
    # pruning is a broadcast anti-join, never a shingle-keyed window
    assert re.search(r"BroadcastHashJoin\b.*\bLeftAnti\b", subplan)
    # capped set sizes come from a doc-keyed count window (doc groups
    # bounded by document length, not corpus skew): every window in the
    # subtree partitions by the doc key — asserted by NAME
    window_keys = re.findall(r"windowspecdefinition\((\w+)#", subplan)
    assert len(window_keys) >= 1 and set(window_keys) == {"doc"}, window_keys

    plan = extensions.cluster_pairs(
        extensions._docs(spark, SF_DIR)
    )._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "simple"
        )
    )
    # the pinned postings feed BOTH self-join sides as ExistingRDD scans —
    # one shingling + pruning pass per query, nothing re-materializes
    # downstream of the pin
    assert "Scan ExistingRDD" in plan
    assert "windowspecdefinition(doc#" not in plan
    assert "LeftAnti" not in plan
    assert "CartesianProduct" not in plan

    # every family member routes through the one shared detector — no
    # drifting uncapped copies
    for fn in (
        extensions.q_doc_dedup_clusters,
        curation.q_doc_cluster_keep,
        curation.q_dedup_cluster_stats,
        curation.q_source_dup_matrix,
    ):
        src = inspect.getsource(fn)
        assert "cluster_pairs(docs)" in src, fn.__name__
        assert "jaccard_pairs(" not in src, fn.__name__
