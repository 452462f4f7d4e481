"""Regenerate PLANMAP.md: a physical-plan fingerprint for every
registered query — the auditable record behind the repo's scale
claims (shuffle budget, broadcast vs sort-merge joins, Python
boundaries, top-k strategy).

Each row counts operators in the ``formatted`` explain of the query at
the test scale factor. Streaming/stateful queries that launch real
stream drains are fingerprinted from their registered BATCH plan where
possible; queries whose construction runs a stream to completion are
skipped (marked `stream`).

Usage: python scripts/gen_planmap.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# queries whose spark_fn drains a real stream or commits store state at
# construction time — fingerprinting would run them, not just plan them
_SKIP = {
    "st_stateful_sessionize", "st_incremental_dedup",
    "st_incremental_near_dedup", "st_stream_stream_join",
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    from bdc_collection_builder_spark.plans.registry import (
        QUERY_REGISTRY,
        all_queries,
    )
    from bdc_collection_builder_spark.session import get_spark

    all_queries()
    spark = get_spark("planmap", master="local[8]", shuffle_partitions=8)

    from bdc_collection_builder_spark.functions.iterate import reset, taken

    rows = []
    for name in sorted(QUERY_REGISTRY):
        if name in _SKIP:
            rows.append((name, None))
            continue
        reset()
        df = QUERY_REGISTRY[name].spark_fn(spark, sf_dir)
        plan = spark._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        rows.append((name, {
            "rounds": taken(),
            "shuffles": plan.count("Arguments: hashpartitioning"),
            "bhj": plan.count("BroadcastHashJoin"),
            "smj": plan.count("SortMergeJoin"),
            "takeordered": plan.count("TakeOrderedAndProject"),
            "python": (plan.count("MapInPandas")
                       + plan.count("ArrowEvalPython")
                       + plan.count("BatchEvalPython")
                       + plan.count("FlatMapGroupsInPandas")),
            "window": plan.count("(Window") + plan.count(") Window"),
        }))

    lines = [
        "# PLANMAP — physical-plan fingerprint per registered query", "",
        f"Generated at `{sf_dir}` with `scripts/gen_planmap.py`; counts are",
        "operator occurrences in the `formatted` physical plan. `shuffles` =",
        "hash-partitioned Exchanges (the scale currency), `bhj`/`smj` =",
        "broadcast vs sort-merge joins, `takeordered` = per-partition-heap",
        "top-k (never a global sort), `python` = Arrow-batched Python",
        "boundaries (0 for every JVM-only hot path), `window` = window",
        "operators. `stream` = the query drains a real Structured Streaming",
        "run at construction; see its module for the state-size story.",
        "`rounds` = construction-time iteration rounds counted by",
        "`functions/iterate.py` (relaxations, contraction and frontier",
        "passes, lifting and BPE merge rounds), executed",
        "eagerly BEFORE the fingerprinted plan — each round is typically",
        "1+ shuffles that the final plan does not show, so for iterative",
        "queries the true shuffle budget is ~shuffles + rounds x",
        "per-round shuffles.", "",
        "| query | shuffles | rounds | bhj | smj | takeordered | python"
        " | window |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for name, fp in rows:
        if fp is None:
            lines.append(f"| `{name}` | stream | | | | | | |")
        else:
            # explicit 0 for non-iterative queries (VERDICT-r6 task 5)
            # — a blank cell isn't machine-parseable
            rounds = fp["rounds"]
            lines.append(
                f"| `{name}` | {fp['shuffles']} | {rounds} | {fp['bhj']}"
                f" | {fp['smj']} | {fp['takeordered']} | {fp['python']}"
                f" | {fp['window']} |")
    tot = [fp for _, fp in rows if fp]
    lines += [
        "",
        f"Totals: {len(rows)} queries; {sum(f['shuffles'] for f in tot)}"
        f" shuffles across all plans; "
        f"{sum(1 for f in tot if f['python'] == 0)} queries fully JVM-side; "
        f"{sum(f['bhj'] for f in tot)} broadcast joins vs "
        f"{sum(f['smj'] for f in tot)} sort-merge joins.",
        "", "```bash", "python scripts/gen_planmap.py  # regenerates this file",
        "```",
    ]
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "PLANMAP.md"), "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print(f"PLANMAP.md: {len(rows)} queries fingerprinted")
    spark.stop()


if __name__ == "__main__":
    main()
