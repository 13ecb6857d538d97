"""Contract tests for the round-8 work: distributed NTILE equivalence and
edge semantics (the scale-safe decile machinery), plus this round's new
query surfaces as they land."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from data_engineering_datawarehousingandetlpipeline_spark.operators.ranking import (
    distributed_ntile,
)

SF_DIR = "/root/testdata/sf0.001"


def _ntile_reference(spark, rows, n_tiles):
    df = spark.createDataFrame(rows, "id long, v double")
    w = Window.orderBy(F.col("v").asc(), F.col("id").asc())
    return {
        r["id"]: r["t"]
        for r in df.withColumn("t", F.ntile(n_tiles).over(w)).collect()
    }


def test_distributed_ntile_matches_builtin_on_random_data(spark):
    """Bit-identical to NTILE over a value column with heavy ties — the
    tiebreaker (id) must split tied values exactly as a monolithic sort
    would, across every range bucket boundary."""
    import random

    rng = random.Random(8)
    # values from a tiny domain → many ties, including ties that straddle
    # range-partition boundaries
    rows = [(i, float(rng.randrange(7))) for i in range(500)]
    expected = _ntile_reference(spark, rows, 10)
    df = spark.createDataFrame(rows, "id long, v double")
    got = {
        r["id"]: r["tile"]
        for r in distributed_ntile(
            df, 10, ("v", "id"), num_partitions=8
        ).collect()
    }
    assert got == expected


def test_distributed_ntile_fewer_rows_than_tiles(spark):
    """n < tiles: NTILE hands out one row per tile, tiles 1..n."""
    rows = [(i, float(i)) for i in range(4)]
    df = spark.createDataFrame(rows, "id long, v double")
    got = {
        r["id"]: r["tile"]
        for r in distributed_ntile(df, 10, ("v", "id"), num_partitions=8).collect()
    }
    assert got == {0: 1, 1: 2, 2: 3, 3: 4}


def test_distributed_ntile_uneven_split_sizes(spark):
    """23 rows / 5 tiles → the first 3 tiles take 5 rows, the last 2 take
    4 (NTILE's big-tiles-first rule)."""
    rows = [(i, 0.0) for i in range(23)]  # all-tied: order is purely the id
    df = spark.createDataFrame(rows, "id long, v double")
    out = distributed_ntile(df, 5, ("v", "id"), num_partitions=4).collect()
    sizes: dict[int, int] = {}
    for r in out:
        sizes[r["tile"]] = sizes.get(r["tile"], 0) + 1
    assert sizes == {1: 5, 2: 5, 3: 5, 4: 4, 5: 4}
    # and assignment follows the id order exactly
    for r in out:
        expected = min(r["id"] // 5, 2) + 1 if r["id"] < 15 else 4 + (r["id"] >= 19)
        assert r["tile"] == expected, (r["id"], r["tile"])


def test_distributed_ntile_passes_through_columns(spark):
    df = spark.createDataFrame([(1, 2.0, "x")], "id long, v double, tag string")
    [row] = distributed_ntile(df, 3, ("v", "id"), out_col="q").collect()
    assert set(row.asDict()) == {"id", "v", "tag", "q"}
    assert row["q"] == 1


def test_grouped_rank_matches_builtin_window_on_random_data(spark):
    """grouped_rank must equal ROW_NUMBER OVER (PARTITION BY g ORDER BY
    v, id) and carry the exact group sizes — ties, multi-bucket groups,
    and single-row groups included."""
    import random

    rng = random.Random(88)
    rows = [(i, rng.randrange(4), float(rng.randrange(6))) for i in range(400)]
    rows.append((400, 9, 1.0))  # a singleton group
    df = spark.createDataFrame(rows, "id long, g int, v double")

    from data_engineering_datawarehousingandetlpipeline_spark.operators.ranking import (
        grouped_rank,
    )

    got = {
        r["id"]: (r["rank"], r["n"])
        for r in grouped_rank(
            df, ["g"], ["v", "id"], num_partitions=8
        ).collect()
    }
    w = Window.partitionBy("g").orderBy(F.col("v").asc(), F.col("id").asc())
    expected = {
        r["id"]: (r["rank"], r["n"])
        for r in df.withColumn("rank", F.row_number().over(w))
        .withColumn("n", F.count("*").over(Window.partitionBy("g")))
        .collect()
    }
    assert got == expected


def test_event_value_percentiles_match_direct_computation(spark):
    """Each reported percentile must equal the ceil(p*n/100)-th smallest
    value of its type, recomputed directly in Python."""
    import math

    from data_engineering_datawarehousingandetlpipeline_spark.plans import (
        all_queries,
    )
    from data_engineering_datawarehousingandetlpipeline_spark.plans.analytics import (
        PERCENTILES,
    )
    from data_engineering_datawarehousingandetlpipeline_spark.sources.readers import (
        load_table,
    )

    rows = {
        r["event_type"]: r
        for r in all_queries()["event_value_percentiles"].fn(spark, SF_DIR).collect()
    }
    by_type: dict[str, list[float]] = {}
    for r in load_table(spark, SF_DIR, "events").select("event_type", "value").collect():
        if r["value"] is not None:
            by_type.setdefault(r["event_type"], []).append(r["value"])
    assert set(rows) == set(by_type)
    for et, vals in by_type.items():
        vals.sort()
        got = rows[et]
        assert got["n_events"] == len(vals)
        for p in PERCENTILES:
            want = vals[math.ceil(p * len(vals) / 100) - 1]
            assert got[f"p{p}"] == want, (et, p)


def test_incremental_star_rollup_merge_verified_and_matches_direct_join(spark):
    """merge_consistent must be TRUE on every row (the in-plan IVM proof),
    and the merged totals must equal a directly-computed join aggregate."""
    from data_engineering_datawarehousingandetlpipeline_spark.plans import (
        all_queries,
    )
    from data_engineering_datawarehousingandetlpipeline_spark.sources.readers import (
        load_table,
    )

    rows = all_queries()["incremental_star_rollup"].fn(spark, SF_DIR).collect()
    assert rows and all(r["merge_consistent"] for r in rows)

    li = load_table(spark, SF_DIR, "lineitem")
    od = load_table(spark, SF_DIR, "orders")
    cu = load_table(spark, SF_DIR, "customer")
    na = load_table(spark, SF_DIR, "nation")
    re_ = load_table(spark, SF_DIR, "region")
    direct = {
        r["region_name"]: r["n_items"]
        for r in (
            li.join(od, F.col("l_orderkey") == F.col("o_orderkey"))
            .join(cu, F.col("o_custkey") == F.col("c_custkey"))
            .join(na, F.col("c_nationkey") == F.col("n_nationkey"))
            .join(re_, F.col("n_regionkey") == F.col("r_regionkey"))
            .groupBy(F.col("r_name").alias("region_name"))
            .agg(F.count("*").alias("n_items"))
            .collect()
        )
    }
    assert {r["region_name"]: r["n_items"] for r in rows} == direct


def test_rolling_anomaly_flags_match_python_hampel(spark):
    """Every flagged row must satisfy the Hampel test recomputed in
    Python over the user's trailing frame — and a spot-check confirms no
    unflagged row in a sampled user's history satisfies it."""
    from data_engineering_datawarehousingandetlpipeline_spark.plans import (
        all_queries,
    )
    from data_engineering_datawarehousingandetlpipeline_spark.plans.analytics import (
        ANOMALY_FRAME,
        ANOMALY_K,
    )
    from data_engineering_datawarehousingandetlpipeline_spark.sources.readers import (
        load_table,
    )

    def med(sorted_vals):
        n = len(sorted_vals)
        if n % 2 == 1:
            return round(sorted_vals[(n - 1) // 2], 6)
        return round((sorted_vals[n // 2 - 1] + sorted_vals[n // 2]) / 2, 6)

    history: dict[int, list] = {}
    for r in (
        load_table(spark, SF_DIR, "events")
        .select("user_id", "event_id", "ts", "value")
        .orderBy("user_id", "ts", "event_id")
        .collect()
    ):
        history.setdefault(r["user_id"], []).append(r)

    def hampel(user_rows):
        flags = {}
        for i, r in enumerate(user_rows):
            frame = [x["value"] for x in user_rows[max(0, i - ANOMALY_FRAME + 1) : i + 1]]
            m = med(sorted(frame))
            mad = med(sorted(abs(v - m) for v in frame))
            flags[r["event_id"]] = (
                mad > 0 and abs(r["value"] - m) > ANOMALY_K * mad,
                m,
                mad,
            )
        return flags

    out = all_queries()["event_rolling_anomaly"].fn(spark, SF_DIR).collect()
    assert len(out) > 0
    expected = {u: hampel(rows) for u, rows in history.items()}
    for r in out:
        flag, m, mad = expected[r["user_id"]][r["event_id"]]
        assert flag and r["med"] == m and r["mad"] == mad, r
    # completeness: every expected flag appears
    n_expected = sum(1 for u in expected for f, *_ in expected[u].values() if f)
    assert len(out) == n_expected


def test_table_diff_classifies_all_three_ops(spark):
    """Crafted snapshots: each op class present exactly once, unchanged
    keys absent, NULL transitions classified as updates (null-safe)."""
    from data_engineering_datawarehousingandetlpipeline_spark.operators.diff import (
        table_diff,
    )

    old = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0), (4, None)],
        "k long, v double",
    )
    new = spark.createDataFrame(
        [(1, 10.0), (2, 25.0), (4, 40.0), (5, 50.0)],  # 3 deleted
        "k long, v double",
    )
    out = {r["k"]: r for r in table_diff(old, new, ["k"], ["v"]).collect()}
    assert set(out) == {2, 3, 4, 5}  # key 1 unchanged → absent
    assert out[2]["op"] == "update" and (out[2]["old_v"], out[2]["new_v"]) == (20.0, 25.0)
    assert out[3]["op"] == "delete" and out[3]["new_v"] is None
    assert out[4]["op"] == "update"  # NULL → 40.0 must not be lost
    assert out[5]["op"] == "insert" and out[5]["old_v"] is None


def test_customer_snapshot_diff_stripes_are_exact(spark):
    """The CDC rows must be exactly the derivation stripes: every delete
    key ≡ 0 (mod 97), every insert key shifted, every update a +100
    revision on a ≡ 0 (mod 13) key not deleted."""
    from data_engineering_datawarehousingandetlpipeline_spark.plans import (
        all_queries,
    )
    from data_engineering_datawarehousingandetlpipeline_spark.plans.analytics import (
        DIFF_DELETE_MOD,
        DIFF_INSERT_SHIFT,
        DIFF_UPDATE_MOD,
    )

    rows = all_queries()["customer_snapshot_diff"].fn(spark, SF_DIR).collect()
    ops = {"insert": 0, "delete": 0, "update": 0}
    for r in rows:
        ops[r["op"]] += 1
        if r["op"] == "delete":
            assert r["c_custkey"] % DIFF_DELETE_MOD == 0
        elif r["op"] == "insert":
            assert r["c_custkey"] >= DIFF_INSERT_SHIFT
        else:
            assert r["c_custkey"] % DIFF_UPDATE_MOD == 0
            assert r["c_custkey"] % DIFF_DELETE_MOD != 0
            assert r["new_c_acctbal"] == r["old_c_acctbal"] + 100
    assert all(ops[o] > 0 for o in ops), ops


def test_zorder_interleave_matches_python_reference(spark):
    """The Spark Morton expression must equal the pure-Python interleave
    on crafted bucket values (both orders of magnitude and bit edges)."""
    from data_engineering_datawarehousingandetlpipeline_spark.operators.zorder import (
        with_zorder,
        zorder_interleave,
    )

    # x, y in [0, 255] so the min/max scaling makes bucket == value
    pts = [(0, 0), (255, 255), (255, 0), (0, 255), (1, 2), (128, 64), (37, 200)]
    rows = [(i, float(x), float(y)) for i, (x, y) in enumerate(pts)]
    rows += [(len(pts), 0.0, 0.0), (len(pts) + 1, 255.0, 255.0)]  # pin bounds
    df = spark.createDataFrame(rows, "id long, x double, y double")
    got = {
        r["id"]: r["__z"] for r in with_zorder(df, ["x", "y"]).collect()
    }
    for i, (x, y) in enumerate(pts):
        assert got[i] == zorder_interleave([x, y]), (i, x, y)


def test_zorder_files_are_local_in_both_columns(spark, tmp_path):
    """The skipping claim, measured: rewrite a 2-column table into 16
    files sorted by x alone vs Z-ordered on (x, y). Per-file y-spans
    must shrink dramatically under Z-order (x-sorted files each cover
    ~the whole y domain), while x-spans stay narrow enough to prune."""
    import random

    from data_engineering_datawarehousingandetlpipeline_spark.operators.zorder import (
        with_zorder,
    )

    rng = random.Random(42)
    rows = [(i, rng.random() * 1000, rng.random() * 1000) for i in range(20000)]
    df = spark.createDataFrame(rows, "id long, x double, y double").localCheckpoint()

    def mean_spans(path):
        import glob

        spans_x, spans_y = [], []
        for f in glob.glob(f"{path}/*.parquet"):
            mn_x, mx_x, mn_y, mx_y = (
                spark.read.parquet(f)
                .agg(F.min("x"), F.max("x"), F.min("y"), F.max("y"))
                .first()
            )
            spans_x.append(mx_x - mn_x)
            spans_y.append(mx_y - mn_y)
        n = len(spans_x)
        assert n == 16
        return sum(spans_x) / n, sum(spans_y) / n

    df.repartitionByRange(16, "x").sortWithinPartitions("x").write.parquet(
        str(tmp_path / "by_x")
    )
    with_zorder(df, ["x", "y"]).repartitionByRange(16, "__z").sortWithinPartitions(
        "__z"
    ).drop("__z").write.parquet(str(tmp_path / "by_z"))

    x_span_sorted, y_span_sorted = mean_spans(tmp_path / "by_x")
    x_span_z, y_span_z = mean_spans(tmp_path / "by_z")
    assert x_span_sorted < 120  # x-sort: sliver files in x ...
    assert y_span_sorted > 900  # ... but every file spans all of y
    # Z-order: BOTH columns local — each file covers a bounded tile
    assert y_span_z < 0.6 * y_span_sorted
    assert x_span_z < 0.6 * 1000


def test_compact_partitions_zorder_keeps_contents(spark, tmp_path):
    """Z-ordered compaction must preserve contents and file counts like
    the key-sorted path, and still log to the maintenance table."""
    import datetime

    from data_engineering_datawarehousingandetlpipeline_spark.streaming.pipeline import (
        clean_batch,
    )
    from data_engineering_datawarehousingandetlpipeline_spark.warehouse.store import (
        WarehouseTable,
    )

    warehouse = WarehouseTable(spark, str(tmp_path / "wh"))

    rows = [
        ("s1", "2024-03-01T00:10:00Z", "1.0"),
        ("s2", "2024-03-01T05:20:00Z", "2.0"),
        ("s3", "2024-03-01T09:30:00Z", "3.0"),
    ]
    for row in rows:
        warehouse.append(
            clean_batch(
                spark.createDataFrame(
                    [row],
                    schema="station_id string, timestamp string, temperature string",
                )
            ),
            verify=False,
        )
    before = sorted(map(tuple, warehouse.read().collect()))
    n = warehouse.compact_partitions(
        target_file_rows=3,
        before=datetime.date(2024, 3, 2),
        zorder=["temperature"],
    )
    assert n == 1
    assert sorted(map(tuple, warehouse.read().collect())) == before
    log = warehouse.maintenance_log().collect()
    assert len(log) == 1 and log[0].files_after == 1


def test_check_contract_counts_crafted_violations(spark):
    """Each expectation kind must count exactly its crafted violations,
    with NULLs exempt from range/domain checks (not_null owns those)."""
    from data_engineering_datawarehousingandetlpipeline_spark.operators import (
        expectations as X,
    )

    df = spark.createDataFrame(
        [
            (1, 1, 0.5, "A"),
            (1, 1, 1.5, "B"),   # dup key + range violation + bad value
            (2, 1, None, "A"),  # null v: exempt from range
            (None, 1, 0.2, None),  # null k; null flag exempt from values
        ],
        "k int, sub int, v double, flag string",
    )
    out = {
        r["check"]: (r["n_violations"], r["passed"])
        for r in X.check_contract(
            df,
            [
                X.not_null("k"),
                X.accepted_range("v", 0.0, 1.0),
                X.accepted_values("flag", ["A"]),
            ],
            unique_key=["k", "sub"],
        ).collect()
    }
    assert out["not_null_k"] == (1, False)
    assert out["range_v"] == (1, False)
    assert out["values_flag"] == (1, False)
    # count(*) - count_distinct(k, sub): 4 rows, distinct non-null pairs
    # {(1,1), (2,1)} -> 2 "excess" rows (the dup + the null-key row)
    assert out["unique_k_sub"] == (2, False)


def test_lineitem_contract_finds_the_real_duplicate_keys(spark):
    """The contract must agree with direct recomputation — including the
    GENUINE uniqueness violation in the synthetic corpus (duplicate
    (l_orderkey, l_linenumber) pairs), which is exactly what a data
    contract exists to catch. Referential integrity must pass."""
    from data_engineering_datawarehousingandetlpipeline_spark.plans import (
        all_queries,
    )
    from data_engineering_datawarehousingandetlpipeline_spark.sources.readers import (
        load_table,
    )

    out = {
        r["check"]: r
        for r in all_queries()["lineitem_contract"].fn(spark, SF_DIR).collect()
    }
    li = load_table(spark, SF_DIR, "lineitem")
    dup = li.count() - li.select("l_orderkey", "l_linenumber").distinct().count()
    assert out["unique_l_orderkey_l_linenumber"]["n_violations"] == dup
    assert out["ref_l_orderkey"]["passed"]
    assert out["not_null_l_orderkey"]["passed"]
    assert len(out) == 8


def test_file_skipping_prunes_files_and_stays_exact(spark, tmp_path):
    """The stats manifest must let a narrow range open strictly fewer
    files while returning exactly the full-scan answer; files appended
    AFTER the analyze must always be read (never skipped); an all-file
    miss returns empty with the table schema."""
    from data_engineering_datawarehousingandetlpipeline_spark.warehouse import (
        skipping as S,
    )
    from data_engineering_datawarehousingandetlpipeline_spark.warehouse.store import (
        WarehouseTable,
    )

    wh = WarehouseTable(spark, str(tmp_path / "wh"), keys=["k", "ts"], ts_col="ts")
    # 4 appends -> 4+ files, each spanning a DISJOINT band of x
    for i in range(4):
        df = spark.createDataFrame(
            [(i * 10 + j, f"2024-03-01T0{i}:00:00", float(i * 100 + j)) for j in range(5)],
            "k long, ts string, x double",
        ).withColumn("ts", F.to_timestamp("ts"))
        wh.append(df, verify=False)
    n_files = len(wh.data_files())
    assert n_files >= 4

    profiled = S.analyze_file_stats(wh, ["x"])
    assert profiled == n_files

    # band 2 only: [200, 204]
    read, skipped = S.select_files(wh, "x", 200.0, 204.0)
    assert len(skipped) >= 3 and len(read) < n_files
    pruned_df = S.read_skipping(wh, "x", 200.0, 204.0)
    # Spark-level evidence: the pruned plan's file index holds fewer
    # files than the full table read
    assert len(pruned_df.inputFiles()) < len(wh.read().inputFiles())
    got = sorted(r.k for r in pruned_df.collect())
    want = sorted(
        r.k for r in wh.read().filter(F.col("x").between(200.0, 204.0)).collect()
    )
    assert got == want == [20, 21, 22, 23, 24]

    # append after analyze: the new file is unknown -> must still be read
    late = spark.createDataFrame(
        [(99, "2024-03-01T09:00:00", 202.5)], "k long, ts string, x double"
    ).withColumn("ts", F.to_timestamp("ts"))
    wh.append(late, verify=False)
    got2 = sorted(r.k for r in S.read_skipping(wh, "x", 200.0, 204.0).collect())
    assert got2 == [20, 21, 22, 23, 24, 99]

    # a range nothing can satisfy: every manifest file is skipped, only
    # the unknown late file is opened (and filtered to zero rows)
    read3, skipped3 = S.select_files(wh, "x", 9000.0, 9001.0)
    assert len(read3) == 1 and len(skipped3) == n_files
    assert S.read_skipping(wh, "x", 9000.0, 9001.0).count() == 0

    # the analyze run is in the audit
    ops = [r.op for r in wh.maintenance_log().collect()]
    assert "analyze_stats" in ops


def test_incremental_analyze_profiles_only_new_files(spark, tmp_path):
    """Incremental stats maintenance: only never-seen files are scanned,
    their rows merge into the manifest, pruning then covers them, and a
    column-set mismatch fails loudly instead of corrupting the manifest."""
    from data_engineering_datawarehousingandetlpipeline_spark.warehouse import (
        skipping as S,
    )
    from data_engineering_datawarehousingandetlpipeline_spark.warehouse.store import (
        WarehouseTable,
    )

    wh = WarehouseTable(spark, str(tmp_path / "wh"), keys=["k", "ts"], ts_col="ts")

    def band(i):
        return spark.createDataFrame(
            [(i * 10 + j, f"2024-03-01T0{i}:00:00", float(i * 100 + j)) for j in range(3)],
            "k long, ts string, x double",
        ).withColumn("ts", F.to_timestamp("ts"))

    wh.append(band(0), verify=False)
    wh.append(band(1), verify=False)
    first = len(wh.data_files())
    assert S.analyze_file_stats(wh, ["x"]) == first

    # two new bands land; incremental profiles exactly those files
    wh.append(band(2), verify=False)
    wh.append(band(3), verify=False)
    n_new = len(wh.data_files()) - first
    assert n_new > 0
    assert S.analyze_file_stats(wh, ["x"], incremental=True) == n_new

    # the merged manifest prunes the new bands too
    read, skipped = S.select_files(wh, "x", 300.0, 302.0)
    assert read and skipped and len(read) + len(skipped) == len(wh.data_files())
    assert len(read) < len(wh.data_files()) / 2
    got = sorted(r.k for r in S.read_skipping(wh, "x", 300.0, 302.0).collect())
    assert got == [30, 31, 32]

    # nothing new: a no-op that still audits
    assert S.analyze_file_stats(wh, ["x"], incremental=True) == 0
    ops = [r.op for r in wh.maintenance_log().collect()]
    assert ops.count("analyze_stats_incr") == 2

    # changing the profiled column set incrementally is refused
    with pytest.raises(ValueError, match="column mismatch"):
        S.analyze_file_stats(wh, ["k"], incremental=True)


def test_referral_rollup_recursion_is_exact_and_column_pruned(spark):
    """The recursive CTE walks the derived referral forest completely.

    Semantics: every customer appears in exactly one tree (parent(c) =
    c div 10 always terminates at a root 0-9), so the member counts must
    sum to the table count; depth is the digit count minus one. Plan: the
    recursion must execute as Spark 4's native UnionLoop with column
    pruning reaching inside the loop body (only the two referenced
    customer columns may survive under the recursive member), proving the
    optimizer — not the query author — owns the loop.
    """
    from data_engineering_datawarehousingandetlpipeline_spark.plans.analytics import (
        q_referral_rollup,
    )

    df = q_referral_rollup(spark, "/root/testdata/sf0.001")
    rows = {r["root"]: r for r in df.collect()}
    total = spark.read.parquet("/root/testdata/sf0.001/customer.parquet").count()
    assert sorted(rows) == list(range(10))
    assert sum(r["n_members"] for r in rows.values()) == total
    # 150 customers: keys 0-9 depth 0, 10-99 depth 1, 100-149 depth 2
    assert rows[1]["max_depth"] == 2  # 1 -> 1x -> 1xx
    assert rows[2]["max_depth"] == 1  # 2 -> 2x (no 2xx at sf0.001)
    assert rows[0]["n_members"] == 1  # custkey 0 is a lone root

    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "UnionLoop" in plan
    import re

    # column pruning inside the loop: the recursive-side customer scan
    # projects exactly the join key and the balance, not all 5 columns
    proj = re.search(r"Arguments: \[c_custkey#\d+L, c_acctbal#\d+\]", plan)
    assert proj, "recursive-side scan is not pruned to (c_custkey, c_acctbal)"


def test_referral_pagerank_matches_python_fixed_point(spark):
    """Both engines agreeing (oracle parity) proves consistency, not
    correctness — this pins the recurrence itself against a pure-Python
    fixed point, replicating the per-iteration decimal(27,8) HALF_UP
    anchoring so the comparison is exact, no tolerance."""
    from decimal import ROUND_HALF_UP, Decimal

    from data_engineering_datawarehousingandetlpipeline_spark.plans.analytics import (
        PAGERANK_BASE,
        PAGERANK_DAMPING,
        PAGERANK_ITERATIONS,
        q_referral_pagerank,
    )
    from data_engineering_datawarehousingandetlpipeline_spark.sources.readers import (
        load_table,
    )

    got = {
        r["custkey"]: r["pagerank"]
        for r in q_referral_pagerank(spark, SF_DIR).collect()
    }
    ids = [
        r["c_custkey"]
        for r in load_table(spark, SF_DIR, "customer")
        .select("c_custkey")
        .collect()
    ]
    n = len(ids)
    children: dict[int, list[int]] = {}
    for c in ids:
        if c >= 10:
            children.setdefault(c // 10, []).append(c)
    q8 = Decimal("1e-8")
    ranks = {c: 1.0 / n for c in ids}
    for _ in range(PAGERANK_ITERATIONS):
        ranks = {
            c: PAGERANK_BASE / n
            + PAGERANK_DAMPING
            * float(
                sum(
                    (
                        Decimal(ranks[s]).quantize(q8, ROUND_HALF_UP)
                        for s in children.get(c, [])
                    ),
                    Decimal(0),
                )
            )
            for c in ids
        }
    assert set(got) == set(ranks)
    mismatches = {c: (got[c], ranks[c]) for c in ids if got[c] != ranks[c]}
    assert not mismatches, dict(list(mismatches.items())[:5])
    # roots accumulate their subtrees' mass: every root WITH children
    # outranks the uniform floor, every childless node sits exactly on it
    # (root 0 is childless — custkey DIV 10 = 0 only below the root band)
    floor = PAGERANK_BASE / n
    leaves = set(ids) - set(children)
    assert all(got[c] == floor for c in leaves)
    assert all(got[c] > floor for c in ids if 1 <= c <= 9)


def test_referral_pagerank_lineage_is_checkpoint_truncated(spark):
    """The iterative-Spark discipline: after K iterations the lazy plan
    must be the LAST checkpoint's scan, not a 2^K-node join tree — an
    unpinned loop doubles the plan per iteration and recomputes the whole
    chain on any stage retry."""
    from data_engineering_datawarehousingandetlpipeline_spark.plans.analytics import (
        q_referral_pagerank,
    )

    df = q_referral_pagerank(spark, SF_DIR)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "simple"
        )
    )
    assert "Scan ExistingRDD" in plan  # lineage ends at the pinned ranks
    assert "FileScan parquet" not in plan  # no re-derivation from source
    assert plan.count("Join") == 0  # the join tree is behind the pin


def test_check_contract_empty_feed_passes_with_zero_counts(spark):
    """SUM over zero rows is NULL in SQL — an empty feed (an empty
    streaming micro-batch is the production case) must report
    n_violations=0 / passed=True for every check, never NULLs."""
    from data_engineering_datawarehousingandetlpipeline_spark.operators.expectations import (
        accepted_range,
        check_contract,
        not_null,
    )

    empty = spark.createDataFrame([], "x long, y double")
    rows = check_contract(
        empty,
        [not_null("x"), accepted_range("y", 0.0, 1.0)],
        unique_key=["x"],
    ).collect()
    assert len(rows) == 3
    assert all(r.n_violations == 0 and r.passed for r in rows), rows
