"""Pre-snapshot gate: refuse an end-of-round commit on a tree that cannot
even import.

Round 10 was lost to a one-line AttributeError committed at the buzzer:
a module-level oracle f-string referenced a constant that didn't exist,
every import of the registry died, and the driver recorded an empty
CORRECTNESS file, a failed bench, and 7 collection-dead test modules —
all preventable by the 4-second checks below (r10 verdict, marching
order 6). Run before EVERY end-of-round snapshot commit:

    python tools/closing_check.py          # gate only (~60 s)
    python tools/closing_check.py --fast   # skip the Spark smoke (~10 s)

Checks, in order, fail-fast:

1. the registry imports and exposes the full driver contract
   (``__spark_entry__.queries()`` / ``oracle_sql()`` — the exact call
   the driver makes first);
2. ``bench.py`` and every ``tools/*.py`` module import, so a tool left
   pointing at a removed package symbol fails here (each keeps its work
   under ``__main__``, so importing one runs nothing);
3. ``pytest --collect-only -q`` collects every test module (collection
   errors are how the r10 break surfaced in CI);
4. (unless --fast) the driver's smoke: ``entry(spark)`` returns the
   6-row pricing summary on sf0.001.

Exit 0 = safe to snapshot. Any other exit = DO NOT COMMIT the snapshot.
"""

from __future__ import annotations

import importlib
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def fail(msg: str) -> None:
    print(f"CLOSING CHECK FAILED: {msg}", file=sys.stderr)
    raise SystemExit(1)


def main() -> int:
    fast = "--fast" in sys.argv

    # 1. the driver contract imports
    try:
        import __spark_entry__ as E

        qs = E.queries()
        osql = E.oracle_sql()
    except Exception as ex:  # noqa: BLE001 - the whole point is catching it
        fail(f"driver contract import/call died: {type(ex).__name__}: {ex}")
    missing_oracle = sorted(set(osql) - set(qs))
    if missing_oracle:
        fail(f"oracle_sql() names without a queries() entry: {missing_oracle}")
    print(f"1. contract OK: {len(qs)} queries, {len(osql)} oracles")

    # 2. the timing entry point and every tool import
    modules = ["bench"] + [
        f"tools.{name[:-3]}"
        for name in sorted(os.listdir(os.path.join(REPO, "tools")))
        if name.endswith(".py")
    ]
    for module in modules:
        try:
            importlib.import_module(module)
        except Exception as ex:  # noqa: BLE001 - report any import death
            fail(f"{module} does not import: {type(ex).__name__}: {ex}")
    print(f"2. tools OK: {len(modules)} modules import")

    # 3. every test module collects
    proc = subprocess.run(
        [sys.executable, "-m", "pytest", "--collect-only", "-q", "tests/"],
        cwd=REPO,
        capture_output=True,
        text=True,
    )
    if proc.returncode != 0:
        tail = "\n".join(proc.stdout.splitlines()[-15:])
        fail(f"pytest collection failed (rc={proc.returncode}):\n{tail}")
    print(f"3. collection OK: {proc.stdout.splitlines()[-1].strip()}")

    # 4. the driver smoke
    if fast:
        print("4. smoke SKIPPED (--fast)")
    else:
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[4]")
            .config("spark.sql.shuffle.partitions", "4")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
        try:
            rows = E.entry(spark).collect()
        finally:
            spark.stop()
        if len(rows) != 6:
            fail(f"entry() smoke returned {len(rows)} rows, expected 6")
        print("4. smoke OK: entry() -> 6 rows")

    print("CLOSING CHECK PASSED — safe to snapshot")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
