"""Driver-harness simulation: run every registered query under a
VANILLA SparkSession (none of session.get_spark's tuned configs — no
Arrow, no UTC pin, default shuffle partitions) and compare each oracle
against DuckDB, the way the external harness does.

This catches what the pytest oracle suite cannot: behavior that depends
on our session configuration (e.g. pandas conversion paths differing
with Arrow on/off — the bug class behind the ss_quantize_int8 array
stringification fix).

Usage: python scripts/verify_vanilla.py [sf_dir] [--window] [--only a,b]
``--window`` restricts the sweep to the first 50 registered queries —
exactly the driver's per-round check window — so the rotation batch
can be stress-run repeatedly before a round closes.
``--only name1,name2`` restricts to the named queries (fast local
check while authoring a new registration).
Exit code 0 iff every oracle matches.
"""

from __future__ import annotations

import os
import sys

os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    import duckdb
    from pyspark.sql import SparkSession

    from bdc_collection_builder_spark.compare import strict_mismatch
    from bdc_collection_builder_spark.sources.tables import TABLES

    import __spark_entry__ as mod

    argv = sys.argv[1:]
    only: set[str] | None = None
    if "--only" in argv:
        i = argv.index("--only")
        if i + 1 >= len(argv):
            print("usage: --only name1,name2")
            return 1
        only = set(argv[i + 1].split(","))
        argv = argv[:i] + argv[i + 2:]
    args = [a for a in argv if a != "--window"]
    window_only = "--window" in argv
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.driver.host", "127.0.0.1")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet')")

    queries, oracles = mod.queries(), mod.oracle_sql()
    if only is not None:
        # --only wins over --window: a registered name must never be
        # reported unknown just because it sits outside the first 50
        unknown = only - set(queries)
        if unknown:
            print(f"unknown query names: {sorted(unknown)}")
            return 1
        queries = {n: q for n, q in queries.items() if n in only}
    elif window_only:
        # dict order IS registration order — the driver checks the
        # first 50 entries, so this is its exact per-round window
        queries = {n: queries[n] for n in list(queries)[:50]}
    failures = []
    for name in sorted(queries):
        try:
            got = queries[name](spark, sf_dir).toPandas()
            if name not in oracles:
                continue  # rows-only contract
            want = con.execute(oracles[name]).fetchdf()
            why = strict_mismatch(got, want)
            if why is not None:
                failures.append((name, why))
        except Exception as exc:  # noqa: BLE001 — report, keep sweeping
            failures.append((name, str(exc).splitlines()[0][:120]))
    n_oracled = sum(1 for n in queries if n in oracles)
    print(f"queries: {len(queries)}  oracles: {n_oracled}  "
          f"mismatches: {len(failures)}")
    for name, why in failures:
        print(f"FAIL {name}: {why}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
