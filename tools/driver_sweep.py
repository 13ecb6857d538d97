"""Driver-contract sweep: run every `__spark_entry__.queries()` entry and its
DuckDB oracle side-by-side (the round driver's t2 comparison), under a
hostile-timezone vanilla session. Exit output ends with `TOTAL <n> BAD <m>`.

Usage: python tools/driver_sweep.py [name ...]
(SPARK_GRAFT_SF_DIR overrides the default sf0.01 tables; ~10 min on
local[8] for the full registry; positional names restrict the sweep to
those queries).
"""
import os
import sys, duckdb, decimal, math
sys.path.insert(0, str(__import__("pathlib").Path(__file__).resolve().parent.parent))
from pyspark.sql import SparkSession


def norm(v):
    if isinstance(v, decimal.Decimal): v = float(v)
    if isinstance(v, float):
        if math.isnan(v): return "NaN"
        return round(v, 9)
    if hasattr(v, "isoformat"): return v.isoformat()
    return v


def main() -> int:
    # SPARK_GRAFT_SHUFFLE_PARTITIONS overrides the default 8 for the
    # shuffle-layout-invariance check (e.g. 3 partitions forces different
    # merge orders / AQE build sides)
    _shuffle = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "8")
    spark = (SparkSession.builder.master("local[8]")
             .config("spark.sql.session.timeZone", "America/New_York")
             .config("spark.sql.shuffle.partitions", _shuffle)
             .config("spark.ui.enabled", "false").getOrCreate())
    import __spark_entry__ as E
    rows = E.entry(spark).collect()
    print("smoke entry():", len(rows), "rows")
    assert len(rows) == 6
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    con = duckdb.connect()
    for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    qs, osql = E.queries(), E.oracle_sql()
    if len(sys.argv) > 1:
        unknown = [n for n in sys.argv[1:] if n not in qs]
        assert not unknown, f"unknown query names: {unknown}"
        qs = {n: qs[n] for n in sys.argv[1:]}
    bad = []
    for name in qs:
        try:
            sdf = qs[name](spark, sf)
            scols = [c.lower() for c in sdf.columns]
            srows = [tuple(norm(x) for x in r) for r in sdf.collect()]
            if name not in osql:
                print(f"{name}: rows={len(srows)} (no oracle)")
                continue
            res = con.execute(osql[name])
            ocols = [d[0].lower() for d in res.description]
            orows = [tuple(norm(x) for x in r) for r in res.fetchall()]
            sidx = sorted(range(len(scols)), key=lambda i: scols[i])
            oidx = sorted(range(len(ocols)), key=lambda i: ocols[i])
            k = lambda t: tuple((x is None, str(x)) for x in t)
            sr = sorted((tuple(r[i] for i in sidx) for r in srows), key=k)
            orr = sorted((tuple(r[i] for i in oidx) for r in orows), key=k)
            ok = sorted(scols) == sorted(ocols) and sr == orr
            if not ok:
                bad.append(name)
                print(f"FAIL {name}: cols {sorted(scols)==sorted(ocols)} rows {len(sr)}/{len(orr)}")
                for a, b in zip(sr, orr):
                    if a != b:
                        print("  spark :", a); print("  oracle:", b); break
        except Exception as ex:
            bad.append(name)
            print(f"ERR {name}: {type(ex).__name__}: {str(ex)[:200]}")
    print("TOTAL", len(qs), "BAD", len(bad), bad)
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
