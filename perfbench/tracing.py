"""Per-layer tracing for the traced run (``--trace 1``).

Spans are recorded from the benchmark's own files: :class:`Tracer`
wraps the public entry points of each engine module (the WSGI app, the
engine facade, the catalog store, the pipeline stages) for the length
of one traced run and restores them afterwards; the registry-query
spans (construction and execution) come from the workload code, which
calls through :meth:`Tracer.span`. After every operation the tracer
reads the jobs and stages that operation launched from Spark's status
store (the store keeps only the last 1000 stages, so it is read per
operation) and keeps the streaming progress a ``StreamingQueryListener``
delivered. Everything stays in memory until :meth:`Tracer.dump`.

:data:`LAYERS` names every per-layer metric, its unit, and the
end-to-end metric and workload it is expected to move.
"""

from __future__ import annotations

import functools
import json
import os
import time
from collections import defaultdict
from dataclasses import asdict, dataclass

# name -> (unit, end-to-end metric it should move, workload)
LAYERS: dict[str, tuple[str, str, str]] = {
    "webapi.self_s": ("s", "one_pass_s", "catalog_plane"),
    "webapi.response_bytes": ("B", "one_pass_s", "catalog_plane"),
    "engine.construct_s": ("s", "one_pass_s", "catalog_plane"),
    "store.read_s": ("s", "one_pass_s", "catalog_plane"),
    "store.reads": ("count", "one_pass_s", "catalog_plane"),
    "store.commit_s": ("s", "eager_pass_s", "catalog_plane"),
    "store.commits": ("count", "eager_pass_s", "catalog_plane"),
    "store.bytes_written": ("B", "eager_pass_s", "catalog_plane"),
    "store.write_amplification": ("ratio", "eager_pass_s", "catalog_plane"),
    "store.space_amplification": ("ratio", "eager_pass_s", "catalog_plane"),
    "pipeline.download_correction_s": ("s", "eager_pass_s", "catalog_plane"),
    "pipeline.publish_s": ("s", "eager_pass_s", "catalog_plane"),
    "pipeline.post_s": ("s", "eager_pass_s", "catalog_plane"),
    "plans.eager.construct_s": ("s", "eager_pass_s", "registry_queries"),
    "plans.eager.execute_s": ("s", "eager_pass_s", "registry_queries"),
    "plans.eager.barrier_jobs": ("count", "eager_pass_s", "registry_queries"),
    "plans.one_pass.construct_s": ("s", "one_pass_s", "registry_queries"),
    "plans.one_pass.execute_s": ("s", "one_pass_s", "registry_queries"),
    "plans.one_pass.barrier_jobs": ("count", "one_pass_s", "registry_queries"),
    "spark.jobs": ("count", "eager_pass_s", "registry_queries"),
    "spark.tasks": ("count", "eager_pass_s", "registry_queries"),
    "spark.driver_gap_s": ("s", "one_pass_s", "catalog_plane"),
    "spark.executor_run_s": ("s", "one_pass_s", "registry_queries"),
    "spark.executor_cpu_s": ("s", "one_pass_s", "registry_queries"),
    "spark.shuffle_read_bytes": ("B", "one_pass_s", "registry_queries"),
    "spark.shuffle_write_bytes": ("B", "one_pass_s", "registry_queries"),
    "spark.input_bytes": ("B", "one_pass_s", "registry_queries"),
    "spark.spill_bytes": ("B", "one_pass_s", "registry_queries"),
    "spark.gc_s": ("s", "one_pass_s", "registry_queries"),
    "streaming.triggers": ("count", "eager_pass_s", "registry_queries"),
    "streaming.trigger_s": ("s", "eager_pass_s", "registry_queries"),
    "streaming.add_batch_s": ("s", "eager_pass_s", "registry_queries"),
    "streaming.query_planning_s": ("s", "eager_pass_s", "registry_queries"),
    "streaming.wal_commit_s": ("s", "eager_pass_s", "registry_queries"),
    "streaming.state_rows": ("count", "eager_pass_s", "registry_queries"),
    "streaming.state_bytes": ("B", "eager_pass_s", "registry_queries"),
    "trace.overhead_s": ("s", "none: the tracer's own cost", "both"),
}


@dataclass
class Span:
    layer: str
    name: str
    start: float     # epoch seconds, comparable with Spark's job times
    end: float
    op: int          # index of the operation that caused it


def _union(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted(intervals):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def _covered(span: tuple[float, float],
             intervals: list[tuple[float, float]]) -> float:
    """Length of ``span`` covered by the union of ``intervals``."""
    lo, hi = span
    return sum(max(0.0, min(b, hi) - max(a, lo))
               for a, b in _union(intervals))


class NullTracer:
    """The untraced run: spans cost one function call."""

    def span(self, layer, name, fn, *args, **kwargs):
        return fn(*args, **kwargs)

    def begin_op(self, name: str, kind: str) -> None:
        pass

    def end_op(self, wall_start: float, wall_end: float) -> None:
        pass


def _progress_listener(sink: list, done: set):
    """A ``StreamingQueryListener`` appending every progress to ``sink``
    and every terminated run id to ``done`` (built here so the module
    imports without pyspark)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            sink.append(event.progress)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            done.add(str(event.runId))

    return ProgressListener()


class Tracer:
    """Spans, Spark status-store reads and streaming progress of one run."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.ops: list[dict] = []
        self.overhead_s = 0.0
        self._depth: dict[str, int] = defaultdict(int)
        self._patched: list[tuple[object, str, object]] = []
        self._progress: list = []
        self._terminated: set[str] = set()
        self._listener = None
        self._seen_jobs: set[int] = set()
        self._seen_stages: set[tuple[int, int]] = set()
        self._op_kind = ""
        self._progress_mark = 0

    # -- wrapping -------------------------------------------------------

    def span(self, layer, name, fn, *args, **kwargs):
        group = layer.split(".")[0]
        outer = self._depth[group] == 0
        self._depth[group] += 1
        start = time.time()
        try:
            return fn(*args, **kwargs)
        finally:
            end = time.time()
            self._depth[group] -= 1
            if outer:
                self.spans.append(Span(layer, name, start, end, len(self.ops)))

    def wrap(self, owner, attr: str, layer: str) -> None:
        orig = owner.__dict__[attr] if isinstance(owner, type) \
            else getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            return tracer.span(layer, attr, orig, *args, **kwargs)

        setattr(owner, attr, traced)
        self._patched.append((owner, attr, orig))

    def install(self) -> None:
        """Wrap the layer entry points and register the listener."""
        from bdc_collection_builder_spark import engine, webapi
        from bdc_collection_builder_spark.catalog.store import CatalogStore

        self.wrap(webapi.WebApi, "__call__", "webapi")
        for name, attr in list(vars(engine.CollectionBuilderEngine).items()):
            if callable(attr) and not name.startswith("_"):
                self.wrap(engine.CollectionBuilderEngine, name, "engine")
        for name in ("read", "read_at"):
            self.wrap(CatalogStore, name, "store.read")
        for name in ("overwrite", "append", "merge_upsert", "delete_where",
                     "delete_keys", "update_where"):
            self.wrap(CatalogStore, name, "store.commit")
        # the engine module calls the stages through its own globals
        for name, layer in (
                ("download_correction_stage", "pipeline.download_correction"),
                ("publish_stage", "pipeline.publish"),
                ("post_stage", "pipeline.post")):
            self.wrap(engine, name, layer)
        self._listener = _progress_listener(self._progress, self._terminated)
        self.spark.streams.addListener(self._listener)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()
        if self._listener is not None:
            self.spark.streams.removeListener(self._listener)
            self._listener = None

    # -- status store ---------------------------------------------------

    def _store(self):
        return self.sc._jsc.sc().statusStore()

    @staticmethod
    def _iter(seq):
        it = seq.iterator()
        while it.hasNext():
            yield it.next()

    @staticmethod
    def _ms(opt) -> float | None:
        return opt.get().getTime() / 1000.0 if opt.isDefined() else None

    def _job_ids(self) -> set[int]:
        return {j.jobId() for j in self._iter(self._store().jobsList(None))}

    def _jobs(self) -> list[tuple[int, float | None, float | None]]:
        return [(j.jobId(), self._ms(j.submissionTime()),
                 self._ms(j.completionTime()))
                for j in self._iter(self._store().jobsList(None))]

    def _stages(self):
        gw = self.sc._gateway
        jvm = self.sc._jvm
        stages = self._store().stageList(
            jvm.java.util.ArrayList(), False, False,
            gw.new_array(gw.jvm.double, 0), jvm.java.util.ArrayList())
        for s in self._iter(stages):
            yield (s.stageId(), s.attemptId()), s

    # -- per operation --------------------------------------------------

    def begin_op(self, name: str, kind: str) -> None:
        """Mark everything launched so far (earlier operations and their
        untimed checks) as seen, and tag this operation's jobs."""
        t0 = time.perf_counter()
        self._seen_jobs = self._job_ids()
        self._seen_stages = {key for key, _ in self._stages()}
        self._op_kind = kind
        self._progress_mark = len(self._progress)
        self.sc.setJobGroup(f"perfbench-{len(self.ops)}-{name}", name)
        self.overhead_s += time.perf_counter() - t0

    def end_op(self, wall_start: float, wall_end: float) -> None:
        """Attribute the jobs, stages and streaming triggers launched
        since :meth:`begin_op` to the operation that just ended."""
        t0 = time.perf_counter()
        jobs = [j for j in self._jobs() if j[0] not in self._seen_jobs]
        stage_sums: dict[str, float] = defaultdict(float)
        for key, s in self._stages():
            if key in self._seen_stages \
                    or s.status().toString() not in ("COMPLETE", "FAILED"):
                continue
            stage_sums["stages"] += 1
            stage_sums["tasks"] += s.numCompleteTasks()
            stage_sums["executor_run_s"] += s.executorRunTime() / 1e3
            stage_sums["executor_cpu_s"] += s.executorCpuTime() / 1e9
            stage_sums["shuffle_read_bytes"] += s.shuffleReadBytes()
            stage_sums["shuffle_write_bytes"] += s.shuffleWriteBytes()
            stage_sums["input_bytes"] += s.inputBytes()
            stage_sums["spill_bytes"] += (s.memoryBytesSpilled()
                                          + s.diskBytesSpilled())
            stage_sums["gc_s"] += s.jvmGcTime() / 1e3
        # the listener bus is asynchronous: wait (bounded) for the
        # progress of queries that ran in this op to be delivered
        deadline = time.monotonic() + 5.0
        while time.monotonic() < deadline and any(
                str(p.runId) not in self._terminated
                for p in self._progress[self._progress_mark:]):
            time.sleep(0.05)
        progress = self._progress[self._progress_mark:]
        job_iv = [(a, b if b is not None else wall_end)
                  for _, a, b in jobs if a is not None]
        op_spans = [s for s in self.spans if s.op == len(self.ops)]
        self.ops.append({
            "kind": self._op_kind,
            "wall": (wall_start, wall_end),
            "jobs": job_iv,
            "stages": dict(stage_sums),
            "streaming": [{
                "durationMs": dict(p.durationMs),
                "state": [(o.numRowsTotal, o.memoryUsedBytes)
                          for o in p.stateOperators],
            } for p in progress],
            "spans": op_spans,
        })
        self.overhead_s += time.perf_counter() - t0

    # -- results --------------------------------------------------------

    def layer_metrics(self, passes: int) -> dict[str, float]:
        """Per-pass totals of every layer in :data:`LAYERS` that spans
        and status-store records can give (the store's byte counters
        are added by the workload)."""
        m: dict[str, float] = defaultdict(float)
        for op in self.ops:
            spans = op["spans"]
            jobs = op["jobs"]
            wall = op["wall"]
            m["spark.jobs"] += len(jobs)
            m["spark.driver_gap_s"] += (wall[1] - wall[0]) - _covered(wall,
                                                                    jobs)
            for key, v in op["stages"].items():
                if key != "stages":
                    m[f"spark.{key}"] += v
            for p in op["streaming"]:
                d = p["durationMs"]
                m["streaming.triggers"] += 1
                m["streaming.trigger_s"] += d.get("triggerExecution", 0) / 1e3
                m["streaming.add_batch_s"] += d.get("addBatch", 0) / 1e3
                m["streaming.query_planning_s"] += \
                    d.get("queryPlanning", 0) / 1e3
                m["streaming.wal_commit_s"] += d.get("walCommit", 0) / 1e3
                for rows, nbytes in p["state"]:
                    m["streaming.state_rows"] = max(
                        m["streaming.state_rows"], rows)
                    m["streaming.state_bytes"] = max(
                        m["streaming.state_bytes"], nbytes)
            for s in spans:
                dur = s.end - s.start
                if s.layer in ("webapi", "engine"):
                    inner = [(o.start, o.end) for o in spans
                             if o.layer != s.layer
                             and not (s.layer == "engine"
                                      and o.layer == "webapi")]
                    self_s = dur - _covered((s.start, s.end), inner + jobs)
                    key = "webapi.self_s" if s.layer == "webapi" \
                        else "engine.construct_s"
                    m[key] += self_s
                elif s.layer == "store.read":
                    m["store.read_s"] += dur
                    m["store.reads"] += 1
                elif s.layer == "store.commit":
                    m["store.commit_s"] += dur
                    m["store.commits"] += 1
                elif s.layer.startswith("pipeline."):
                    m[f"{s.layer}_s"] += dur
                elif s.layer == "plans.construct":
                    m[f"plans.{op['kind']}.construct_s"] += dur
                    m[f"plans.{op['kind']}.barrier_jobs"] += sum(
                        1 for a, _ in jobs if s.start <= a <= s.end)
                elif s.layer == "plans.execute":
                    m[f"plans.{op['kind']}.execute_s"] += dur
        # the state gauges are maxima, not per-pass sums
        gauges = {"streaming.state_rows", "streaming.state_bytes"}
        out = {k: (v if k in gauges else v / max(passes, 1))
               for k, v in m.items()}
        out["trace.overhead_s"] = self.overhead_s / max(passes, 1)
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"ops": self.ops}, fh, default=asdict)
