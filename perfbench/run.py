"""Benchmark of the collection engine: one workload per run.

    python3 perfbench/run.py --workload catalog_plane --seed 1 \\
        --seconds 30 --trace 0

Boots ``local[nproc]`` through the engine's own session factory, warms
it, builds the workload's inputs from ``--seed`` (that is ``setup_s``),
then runs whole passes of the workload's operations until ``--seconds``
of operation time have been measured. Every operation's output is
checked outside the timed region; a failed check or an exception counts
in ``failed``. The last stdout line is the result object; the line
before it is the full report (per-operation walls, the workload's named
figures, seed, nproc, pyspark version and sizes).

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the
same passes with the layer entry points wrapped (see ``tracing.py``) and
reports the per-layer metrics instead, plus the spans written to
``.perfbench_out/``. ``--scale tiny`` shrinks every input for the
self-test. All scratch (catalog roots, tables, checkpoints, Spark local
dirs) lives in a per-run directory under the checkout that is removed
at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import uuid
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "bdc_collection_builder_spark"

# measurement knobs that change production plans; a run under either
# would not measure the code as shipped
PLAN_KNOBS = ("SPARK_GRAFT_AB_NOPERSIST", "SPARK_GRAFT_SPREAD_TARGET")

END_TO_END = {
    "setup_s": "s",
    "one_pass_s": "s",
    "eager_pass_s": "s",
    "peak_rss_mb": "MB",
}

# a pass is never repeated more often than the ingest batches last
MAX_PASSES = 8


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full")
    return p.parse_args(argv)


def refuse(message: str) -> None:
    print(f"perfbench: {message}", file=sys.stderr)
    sys.exit(2)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def isolate(run_dir: str) -> dict[str, str]:
    """Point every scratch location at ``run_dir``; returns the Spark
    conf that does the same inside the JVM."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # every JVM the launcher starts: no /tmp/hsperfdata, temp files here
    os.environ["JAVA_TOOL_OPTIONS"] = \
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    return {
        "spark.driver.memory": "2g",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }


def warm(spark) -> None:
    """Fork the Python workers and run a first shuffle before timing
    (the warm-up of ``bench.py``)."""
    spark.range(256).repartition(nproc()).mapInPandas(
        lambda it: it, "id long").write.format("noop").mode(
        "overwrite").save()


def peak_rss_mb(spark) -> float:
    """Peak resident set of this process plus its JVM child."""
    pids = ["self", str(spark.sparkContext._gateway.proc.pid)]
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        try:
            for task in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{task}/children") as fh:
                    todo.extend(int(c) for c in fh.read().split())
        except OSError:
            continue
    return out


def cpu_seconds(jvm_pid: int) -> float:
    """User plus system CPU time of this process, the JVM and the JVM's
    Python workers."""
    ticks = 0
    for pid in [os.getpid(), *_descendants(jvm_pid)]:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += int(fields[11]) + int(fields[12])
    return ticks / os.sysconf("SC_CLK_TCK")


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM child to exit."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    try:
        proc.stdin.close()
        proc.wait(timeout=30)
    except Exception:  # noqa: BLE001 — the JVM must not outlive the run
        proc.kill()
        proc.wait(timeout=30)


def tail(values: list[float]) -> dict:
    """The highest percentile with at least ten samples beyond it."""
    ordered = sorted(values)
    n = len(ordered)
    if n < 11:
        return {"value": None, "percentile": None, "n": n}
    return {"value": ordered[n - 11], "percentile": 100.0 * (n - 10) / n,
            "n": n}


def measure(workload, tracer, seconds: float,
            jvm_pid: int) -> tuple[list[dict], int]:
    """Whole passes until ``seconds`` of operation time are measured."""
    records: list[dict] = []
    measured, passes = 0.0, 0
    while passes == 0 or (measured < seconds and passes < MAX_PASSES):
        for op in workload.ops(passes):
            op.prepare()
            tracer.begin_op(op.name, op.kind)
            cpu = cpu_seconds(jvm_pid)
            start_epoch, start = time.time(), time.perf_counter()
            error = None
            try:
                result = op.run()
            except Exception as exc:  # noqa: BLE001 — counted as failed
                error = f"{type(exc).__name__}: {exc}"[:300]
            wall = time.perf_counter() - start
            cpu = cpu_seconds(jvm_pid) - cpu
            tracer.end_op(start_epoch, start_epoch + wall)
            if error is None:
                try:
                    error = op.check(result)
                except Exception as exc:  # noqa: BLE001 — counted
                    error = f"check raised {type(exc).__name__}: {exc}"[:300]
            measured += wall
            records.append({"pass": passes, "name": op.name, "kind": op.kind,
                            "wall": wall, "cpu": cpu, "error": error})
        passes += 1
    return records, passes


def end_to_end(records: list[dict], setup_s: float, rss_mb: float) -> dict:
    medians: dict[tuple[str, str], float] = {}
    for key in {(r["kind"], r["name"]) for r in records}:
        medians[key] = statistics.median(
            r["wall"] for r in records if (r["kind"], r["name"]) == key)
    return {
        "setup_s": setup_s,
        "one_pass_s": sum(v for (k, _), v in medians.items()
                          if k == "one_pass"),
        "eager_pass_s": sum(v for (k, _), v in medians.items()
                            if k == "eager"),
        "peak_rss_mb": rss_mb,
    }


def run(args: argparse.Namespace, run_dir: str) -> tuple[dict, dict]:
    t0 = time.perf_counter()
    conf = isolate(run_dir)
    sys.path.insert(0, ROOT)
    import pyspark

    from bdc_collection_builder_spark.session import get_spark
    from tracing import LAYERS, NullTracer, Tracer
    from workloads import SCALES, WORKLOADS

    cores = nproc()
    spark = get_spark("perfbench", master=f"local[{cores}]",
                      shuffle_partitions=cores, extra_conf=conf)
    try:
        boot_s = time.perf_counter() - t0
        tracer = Tracer(spark) if args.trace else NullTracer()
        scale = SCALES[args.scale]
        # the warm-up jobs overlap the (latency-bound) input build
        with ThreadPoolExecutor(1) as pool:
            warming = pool.submit(warm, spark)
            workload = WORKLOADS[args.workload](spark, run_dir, args.seed,
                                                scale, tracer)
            warming.result()
        setup_s = time.perf_counter() - t0
        if args.trace:
            tracer.install()
        try:
            records, passes = measure(workload, tracer, args.seconds,
                                      spark.sparkContext._gateway.proc.pid)
        finally:
            if args.trace:
                tracer.uninstall()
        metrics = end_to_end(records, setup_s, peak_rss_mb(spark))
        failed = [r for r in records if r["error"]]
        named = workload.metrics(records)
        if args.trace:
            layers = {name: 0.0 for name in LAYERS}
            layers.update(tracer.layer_metrics(passes))
            layers.update(workload.layer_metrics(passes))
            out_dir = os.path.join(ROOT, ".perfbench_out")
            tracer.dump(os.path.join(
                out_dir, f"{args.workload}-seed{args.seed}-spans.json"))
            reported = {k: {"value": v, "unit": LAYERS[k][0]}
                        for k, v in layers.items()}
        else:
            reported = {k: {"value": v, "unit": END_TO_END[k]}
                        for k, v in metrics.items()}
        workload.close()
    finally:
        stop_spark(spark)
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": cores, "pyspark": pyspark.__version__,
        "scale": {"name": args.scale, **scale}, "passes": passes,
        "boot_s": boot_s,
        "end_to_end": metrics, "named": named,
        "failed_op_share": len(failed) / len(records),
        "op_latency_tail_s": tail([r["wall"] for r in records]),
        "ops": records,
    }
    if args.trace:
        report["layers"] = {k: {"value": v, "unit": LAYERS[k][0],
                                "moves": LAYERS[k][1],
                                "on": LAYERS[k][2]}
                            for k, v in layers.items()}
    result = {"correct": not failed, "attempted": len(records),
              "failed": len(failed), "metrics": reported}
    return report, result


def main(argv: list[str] | None = None) -> None:
    args = parse_args(argv)
    set_knobs = [k for k in PLAN_KNOBS if k in os.environ]
    if set_knobs:
        refuse(f"{', '.join(set_knobs)} set: these measurement knobs change "
               "the engine's plans; unset them to benchmark the shipped code")
    if not os.path.isdir(os.path.join(ROOT, ENGINE)):
        refuse(f"engine package {ENGINE!r} not found next to {HERE}")
    from workloads import WORKLOADS  # noqa: E402 — needs only numpy

    if args.workload not in WORKLOADS:
        refuse(f"unknown workload {args.workload!r}; "
               f"choose from {sorted(WORKLOADS)}")
    run_dir = os.path.join(ROOT, ".perfbench_run",
                           f"{args.workload}-{os.getpid()}-"
                           f"{uuid.uuid4().hex[:8]}")
    os.makedirs(run_dir)
    try:
        report, result = run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(report, default=str))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
