"""Property-based tests (hypothesis) for the engine's pure contracts.

These cover the deterministic building blocks the cross-engine guarantees
rest on — no SparkSession in the loop, so hundreds of cases run in
milliseconds.
"""

from __future__ import annotations

import datetime as dt

from hypothesis import given, settings
from hypothesis import strategies as st

from data_engineering_datawarehousingandetlpipeline_spark.operators.similarity import (
    hyperplane,
)
from data_engineering_datawarehousingandetlpipeline_spark.plans.reference_queries import (
    day_bounds_utc,
)
from data_engineering_datawarehousingandetlpipeline_spark.sources.readers import (
    _to_epoch_us,
)
from data_engineering_datawarehousingandetlpipeline_spark.sources.rest import (
    FIELD_CANDIDATES,
    extract_fields,
)


@given(st.integers(0, 63), st.integers(1, 256))
def test_hyperplane_deterministic_and_signed(seed, dim):
    a = hyperplane(seed, dim)
    b = hyperplane(seed, dim)
    assert a == b  # stable across calls (index-stable ANN buckets)
    assert len(a) == dim
    assert set(a) <= {-1.0, 1.0}


@given(st.integers(0, 31))
def test_hyperplanes_differ_by_seed(seed):
    assert hyperplane(seed, 64) != hyperplane(seed + 1, 64)


@given(
    st.dates(dt.date(1990, 1, 1), dt.date(2100, 12, 31)),
    st.integers(-12, 14),
)
def test_day_bounds_cover_exactly_one_day(day, offset):
    start, end = day_bounds_utc(day, utc_offset_hours=offset)
    span = end - start
    assert span == dt.timedelta(hours=23, minutes=59, seconds=59, microseconds=999999)
    # the local-midnight instant shifted back by the offset
    assert start == dt.datetime.combine(day, dt.time.min) - dt.timedelta(hours=offset)


@settings(max_examples=200)
@given(
    st.datetimes(
        dt.datetime(1970, 1, 1), dt.datetime(2100, 1, 1)
    ).map(lambda d: d.replace(microsecond=d.microsecond))
)
def test_epoch_us_is_exact(value):
    us = _to_epoch_us(value)
    back = dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=us)
    assert back == value  # lossless round-trip (float .timestamp() is not)


@given(st.sampled_from(sorted(FIELD_CANDIDATES)), st.text(min_size=1, max_size=20))
def test_extract_fields_first_candidate_wins(column, value):
    candidates = FIELD_CANDIDATES[column]
    payload = {k: f"later_{k}" for k in candidates[1:]}
    payload[candidates[0]] = value
    assert extract_fields(payload)[column] == value


@given(st.dictionaries(st.text(max_size=8), st.text(max_size=8), max_size=5))
def test_extract_fields_total_on_arbitrary_payloads(payload):
    row = extract_fields(payload)
    assert set(row) == set(FIELD_CANDIDATES)  # always the full column set


def test_u32_hash_contract_matches_duckdb_oracle(spark):
    """u32_hash (Spark) and sql_u32_hash (DuckDB) implement ONE contract:
    first 32 md5 bits as a non-negative bigint. Every deterministic
    sampling / split / plane-seed decision in the engine rides this
    equivalence, so pin it directly over representative keys (plain ids,
    salted ids, empty string, unicode)."""
    import duckdb

    from pyspark.sql import functions as F

    from data_engineering_datawarehousingandetlpipeline_spark.functions.hashing import (
        sql_u32_hash,
        u32_hash,
    )

    keys = ["0", "1", "4294967295", "split:123", "", "käse-Ω", "a b  c"]
    df = spark.createDataFrame([(k,) for k in keys], "k string")
    got_spark = {
        r.k: r.h
        for r in df.select("k", u32_hash(F.col("k")).alias("h")).collect()
    }
    con = duckdb.connect()
    for k in keys:
        expr = sql_u32_hash("?")
        h = con.execute(f"SELECT {expr.replace('?', '$k$')}".replace(
            "$k$", "'" + k.replace("'", "''") + "'"), ).fetchone()[0]
        assert got_spark[k] == h, k
        assert 0 <= h < (1 << 32)


def test_binary_round_matches_duckdb_round_on_a_decimal_tie(spark):
    """4258.61 / 32 is 133.0815625 in decimal and just below it in binary:
    Spark's round() gives 133.081563, DuckDB's round() 133.081562.
    binary_round must give DuckDB's answer (min_cost_supplier rests on it)."""
    import duckdb

    from pyspark.sql import functions as F

    from data_engineering_datawarehousingandetlpipeline_spark.functions.numeric import (
        binary_round,
    )

    df = spark.createDataFrame([(4258.61, 32.0)], "p double, q double")
    got_spark = df.select(binary_round(F.col("p") / F.col("q"), 6)).first()[0]
    got_duckdb = duckdb.connect().execute(
        "SELECT round(CAST(4258.61 AS DOUBLE) / CAST(32 AS DOUBLE), 6)"
    ).fetchone()[0]
    assert got_spark == got_duckdb == 133.081562


@settings(max_examples=500)
@given(st.text(max_size=400))
def test_bpe_split_is_lossless_modulo_whitespace(s):
    """The tokenizer-fidelity contract (doc_tokenizer_fidelity), proven
    in a third regex engine: concatenating the BPE pre-split pieces of
    lower(text) reproduces lower(text) with the explicit whitespace
    class removed, for ARBITRARY strings. The split's alternation
    covers every non-whitespace character exactly once ([a-z]+ runs,
    [0-9]+ runs, single "other" marks) and drops exactly the six
    whitespace characters WS_RUN_PATTERN names — so lost_chars == 0 and
    roundtrip_exact == n_docs are invariants of the pattern pair, not
    of any particular corpus. Python re here, Java regex in the Spark
    plan, RE2 in the DuckDB oracle: three engines, one contract."""
    import re

    from data_engineering_datawarehousingandetlpipeline_spark.operators.text import (
        BPE_SPLIT_PATTERN,
        WS_RUN_PATTERN,
    )

    low = s.lower()
    pieces = re.findall(BPE_SPLIT_PATTERN, low)
    norm = re.sub(WS_RUN_PATTERN, "", low)
    assert "".join(pieces) == norm
    # piece-character mass accounting (the lost_chars column): nothing
    # lost, nothing invented
    assert sum(len(p) for p in pieces) == len(norm)
