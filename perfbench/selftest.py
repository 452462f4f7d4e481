"""Self-test of the benchmark at tiny size (sf0.001, a 60-scene catalog).

    python3 perfbench/selftest.py

Checks that

* every workload, untraced and traced, prints a result line carrying
  exactly the metrics ``BENCHMARK.json`` names, each with its unit, and
  passes its own correctness gate;
* a corrupted oracle result trips the gate (the operation counts as
  failed and the run as incorrect);
* a run refuses to start while a plan-changing measurement knob is set.

Exits non-zero on the first failed check.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def bench(*args: str, env: dict | None = None) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--seed", "1",
         "--seconds", "1", "--scale", "tiny", *args],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
        env={**os.environ, **(env or {})})


def check_metrics(spec: dict) -> None:
    for workload in (w["name"] for w in spec["workloads"]):
        for trace, section in (("0", "end_to_end"), ("1", "per_layer")):
            proc = bench("--workload", workload, "--trace", trace)
            if proc.returncode != 0:
                sys.exit(f"{workload} trace={trace} exited "
                         f"{proc.returncode}:\n{proc.stderr[-2000:]}")
            result = json.loads(proc.stdout.strip().splitlines()[-1])
            want = {m["name"]: m["unit"] for m in spec[section]}
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            assert got == want, f"{workload} trace={trace}: {got} != {want}"
            assert result["correct"] and result["failed"] == 0, \
                f"{workload} trace={trace} failed its gate: " \
                f"{proc.stdout.splitlines()[-2][:2000]}"
            print(f"ok  {workload} trace={trace}: {len(got)} metrics")


def check_gate_trips() -> None:
    """Run one registry query against a corrupted oracle result."""
    import shutil

    sys.path.insert(0, HERE)
    import run
    from tracing import NullTracer
    from workloads import SCALES, RegistryQueries

    run_dir = os.path.join(ROOT, ".perfbench_run", f"selftest-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        conf = run.isolate(run_dir)
        sys.path.insert(0, ROOT)
        from bdc_collection_builder_spark.session import get_spark

        spark = get_spark("perfbench-selftest", master="local[2]",
                          shuffle_partitions=2, extra_conf=conf)
        try:
            workload = RegistryQueries(spark, run_dir, 1, SCALES["tiny"],
                                       NullTracer())
            clean = workload.oracle

            def corrupted(name):
                want = clean(name)
                col = next(c for c in want.columns
                           if want[c].dtype.kind in "if")
                want.loc[0, col] = want.loc[0, col] + 1
                return want

            workload.oracle = corrupted
            workload.ops = lambda _pass: [
                workload._op("q1_pricing_summary", "one_pass")]
            records, _ = run.measure(workload, NullTracer(), 0.0,
                                     spark.sparkContext._gateway.proc.pid)
            assert len(records) == 1 and records[0]["error"], records
            print(f"ok  corrupted oracle trips the gate: "
                  f"{records[0]['error'][:120]}")
            workload.close()
        finally:
            run.stop_spark(spark)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def check_refusal() -> None:
    proc = bench("--workload", "registry_queries", "--trace", "0",
                 env={"SPARK_GRAFT_SPREAD_TARGET": "4"})
    assert proc.returncode != 0 and not proc.stdout.strip(), proc.stdout
    print("ok  refuses to run with a plan-changing knob set")


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    check_refusal()
    check_gate_trips()
    check_metrics(spec)
    print("selftest passed")


if __name__ == "__main__":
    main()
