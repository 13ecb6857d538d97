"""Contract tests for the round-7 queries: BM25 scoring math, RRF fusion
arithmetic, gap-fill LOCF semantics, point-in-time SCD2 containment, and
the table-profile counts — crafted/recomputed checks that would catch a
both-engines-wrong bug the oracle comparison cannot.

(Streaming MinHash dedup's restart + batch-equality contract lives in
tests/test_warehouse_streaming.py; the compaction contract next to it.)
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from data_engineering_datawarehousingandetlpipeline_spark.plans import all_queries
from data_engineering_datawarehousingandetlpipeline_spark.plans.analytics import (
    SCD2_ENRICH_FACT,
    _scd2_history,
)
from data_engineering_datawarehousingandetlpipeline_spark.plans.extensions import (
    BM25_B,
    BM25_IDF_SCALE,
    BM25_K1,
    BM25_SCALE,
    RRF_K,
    RRF_POOL,
    RRF_QUERY_DOCS,
    RRF_SCALE,
    bm25_ranking,
)
from data_engineering_datawarehousingandetlpipeline_spark.sources.readers import (
    load_table,
)

SF_DIR = "/root/testdata/sf0.001"


def test_bm25_matches_hand_computed_score(spark):
    """Three tiny documents, one two-term query, the whole BM25 chain
    recomputed by hand (idf → per-term contribution → sum, with the
    engine's exact rounding points)."""
    docs = spark.createDataFrame(
        [
            (0, "cat dog cat"),          # cat tf=2, dl=3
            (1, "dog fish"),             # dl=2
            (2, "bird bird bird bird"),  # dl=4
        ],
        "doc_id long, text string",
    )
    qterms = spark.createDataFrame([(0, "cat"), (0, "dog")], "query_id int, term string")
    got = {
        r.doc_id: r.bm25
        for r in bm25_ranking(docs, qterms, top_k=3).collect()
    }

    n_docs, avgdl = 3, (3 + 2 + 4) / 3

    def idf(df):
        return round(math.log((n_docs - df + 0.5) / (df + 0.5) + 1.0), BM25_IDF_SCALE)

    def contrib(tf, dl, df):
        return round(
            (idf(df) * (tf * (BM25_K1 + 1.0)))
            / (tf + BM25_K1 * ((1.0 - BM25_B) + (BM25_B * dl) / avgdl)),
            BM25_SCALE,
        )

    # doc 0 matches cat (tf=2, df=1) and dog (tf=1, df=2); doc 1 dog only.
    # Sum the contributions as decimals (the engine's anchor semantics):
    # a float add could differ by one ulp from the exact decimal sum.
    from decimal import Decimal

    exp0 = float(Decimal(repr(contrib(2, 3, 1))) + Decimal(repr(contrib(1, 3, 2))))
    exp1 = contrib(1, 2, 2)
    assert got[0] == exp0
    assert got[1] == exp1
    assert 2 not in got  # no query term → never a candidate


def test_bm25_rare_term_outranks_common_term(spark):
    """A document matching only a rare term must outrank one matching only
    a corpus-wide term at equal tf/dl — the idf ordering that makes BM25 a
    retrieval function rather than a term counter."""
    docs = spark.createDataFrame(
        [(0, "rare filler filler"), (1, "common filler filler"),
         (2, "common pad pad"), (3, "common mat mat")],
        "doc_id long, text string",
    )
    qterms = spark.createDataFrame(
        [(0, "rare"), (0, "common")], "query_id int, term string"
    )
    rows = bm25_ranking(docs, qterms, top_k=4).collect()
    ranks = {r.doc_id: r.rank for r in rows}
    assert ranks[0] == 1  # the rare-term match wins
    assert ranks[0] < min(ranks[1], ranks[2], ranks[3])


@pytest.mark.parametrize("name", ["retrieval_rrf", "retrieval_rrf_ann"])
def test_rrf_score_is_recomputable_from_member_ranks(spark, name):
    """Every fused row's rrf_score must equal the arithmetic over its own
    rank columns, each modality pool must respect RRF_POOL, and a row in
    both pools must score the two-term sum — for the exact and the
    ANN-served dense pool alike."""
    rows = all_queries()[name].fn(spark, SF_DIR).collect()
    assert rows, "empty fusion output"
    both = 0
    for r in rows:
        expected = round(
            (1.0 / (RRF_K + r.rank_dense) if r.rank_dense is not None else 0.0)
            + (1.0 / (RRF_K + r.rank_lex) if r.rank_lex is not None else 0.0),
            RRF_SCALE,
        )
        assert r.rrf_score == expected, r
        assert r.rank_dense is None or 1 <= r.rank_dense <= RRF_POOL
        assert r.rank_lex is None or 1 <= r.rank_lex <= RRF_POOL
        assert r.doc_id != r.query_id  # both modalities exclude self
        if r.rank_dense is not None and r.rank_lex is not None:
            both += 1
    assert both > 0  # fusion actually fuses on this corpus


def test_gapfill_grid_is_complete_and_carries_forward(spark):
    """Every user covers the full corpus day grid; observed days carry
    that day's last event value; silent days repeat the previous day's
    fill (NULL only before a user's first observation)."""
    out = all_queries()["event_gapfill"].fn(spark, SF_DIR).collect()
    days = sorted({r.day for r in out})
    span = (days[-1] - days[0]).days + 1
    assert len(days) == span  # no missing grid days overall

    per_user: dict[int, list] = {}
    for r in out:
        per_user.setdefault(r.user_id, []).append(r)

    ev = (
        load_table(spark, SF_DIR, "events")
        .select("user_id", F.to_date("ts").alias("day"), "ts", "event_id", "value")
        .collect()
    )
    last_of_day: dict[tuple, float] = {}
    for e in ev:
        key = (e.user_id, e.day)
        cur = last_of_day.get(key)
        if cur is None or (e.ts, e.event_id) > cur[0]:
            last_of_day[key] = ((e.ts, e.event_id), e.value)

    for user, rows in per_user.items():
        rows.sort(key=lambda r: r.day)
        assert len(rows) == span  # complete per-user grid
        prev = None
        for r in rows:
            if r.observed:
                assert r.value_filled == last_of_day[(user, r.day)][1]
            else:
                assert (user, r.day) not in last_of_day
                assert r.value_filled == prev  # LOCF (None before first)
            prev = r.value_filled


def test_scd2_enrich_picks_the_containing_version(spark):
    """Each enriched purchase must carry the dimension version whose
    [valid_from, valid_to) interval contains its ts; purchases before the
    user's first version carry NULLs."""
    out = all_queries()["scd2_event_enrich"].fn(spark, SF_DIR).collect()
    hist = _scd2_history(
        spark, SF_DIR, pred=F.col("event_type") != SCD2_ENRICH_FACT
    ).collect()
    by_user: dict[int, list] = {}
    for h in hist:
        by_user.setdefault(h.user_id, []).append(h)
    enriched = nulls = 0
    for r in out:
        versions = by_user.get(r.user_id, [])
        containing = [
            h
            for h in versions
            if h.valid_from <= r.ts and (h.valid_to is None or r.ts < h.valid_to)
        ]
        if containing:
            (h,) = containing  # intervals are disjoint
            assert (r.state_at, r.state_version, r.state_since) == (
                h.state,
                h.version,
                h.valid_from,
            ), r
            enriched += 1
        else:
            assert r.state_at is None and r.state_version is None
            nulls += 1
    assert enriched > 0  # the join matched something


def test_daily_active_cumulative_first_day_identity(spark):
    """new_users must sum to the distinct-user total, cum_users must be
    its running sum ending exactly there, and every day's DAU must be ≥
    its new-user count."""
    rows = all_queries()["daily_active_cumulative"].fn(spark, SF_DIR).collect()
    total_users = (
        load_table(spark, SF_DIR, "events").select("user_id").distinct().count()
    )
    assert sum(r.new_users for r in rows) == total_users
    run = 0
    for r in rows:  # already day-ordered
        run += r.new_users
        assert r.cum_users == run
        assert r.dau >= r.new_users
    assert rows[-1].cum_users == total_users


def test_quality_deciles_partition_the_corpus_in_order(spark):
    """Deciles must cover every document exactly once, with NTILE's
    balanced sizes and non-overlapping, ascending quality ranges."""
    rows = all_queries()["doc_quality_deciles"].fn(spark, SF_DIR).collect()
    n_docs = load_table(spark, SF_DIR, "documents").count()
    assert [r.decile for r in rows] == list(range(1, 11))
    assert sum(r.n_docs for r in rows) == n_docs
    base, extra = divmod(n_docs, 10)
    assert all(r.n_docs in (base, base + 1) for r in rows)
    for a, b in zip(rows, rows[1:]):
        assert a.min_quality <= a.max_quality
        assert a.max_quality <= b.min_quality  # ranges ascend without overlap


def test_lineitem_profile_counts_match_direct_computation(spark):
    """Null and distinct counts per column must equal a direct
    recomputation over the same table."""
    out = {r.column_name: r for r in all_queries()["lineitem_profile"].fn(spark, SF_DIR).collect()}
    li = load_table(spark, SF_DIR, "lineitem")
    n = li.count()
    for c in out:
        r = out[c]
        assert r.n_rows == n
        assert r.n_nulls == li.filter(F.col(c).isNull()).count()
        assert r.n_distinct == li.select(c).na.drop().distinct().count()
        if r.min_value is not None:
            mn, mx = li.agg(
                F.min(c).cast("double"), F.max(c).cast("double")
            ).first()
            assert (r.min_value, r.max_value) == (mn, mx)
