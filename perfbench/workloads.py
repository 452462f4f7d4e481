"""The benchmark's workloads: what each one sets up, the operations one
pass runs, and the correctness check of every operation.

``catalog_plane``
    One closed-loop client calling the ``WebApi`` WSGI callable
    in-process over a ``make_fixtures`` catalog (the monitoring and
    search plane: eleven read routes), then one ingest batch of new
    provider scenes through ``engine.run_pipeline`` (download/correction
    simulators, publish MERGE into ``items``, post quality mask).
``registry_queries``
    Oracle-backed registry queries over seeded tables, each collected
    to the caller as a pandas frame: one-pass queries (scan, join,
    window, Arrow boundary) and eager ones whose construction runs
    Spark jobs (a star-contraction fixpoint and an availableNow
    streaming drain).

Every operation has a ``kind``: ``one_pass`` (a lazy plan plus one
action) or ``eager`` (construction itself commits or runs barrier
jobs). The end-to-end metrics ``one_pass_s`` and ``eager_pass_s`` sum
the per-kind medians of one pass.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import io
import json
import os
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from typing import Any

import numpy as np

ONE_PASS_QUERIES = (
    "q1_pricing_summary",
    "j01_three_way_status_counts",
    "w01_latest_execution",
    "y05_session_window",
    "px_x9_band_expression_ndvi",
    "mm_audio_silence_trim",
)
EAGER_QUERIES = (
    "dd_cluster_components_star",
    "st_stream_outer_join",
)

CATALOG_TABLES = ("collections", "bands", "providers", "collection_providers",
                  "tiles", "items", "activities", "activity_history", "tasks",
                  "activity_src")

# size per scale: catalog scenes, catalog tiles, scenes per ingest batch,
# registry scale factor
SCALES = {
    "full": {"scenes": 500, "tiles": 24, "batch": 50, "sf": 0.01},
    "tiny": {"scenes": 60, "tiles": 6, "batch": 8, "sf": 0.001},
}


@dataclass
class Op:
    """One timed operation. ``run`` is timed; ``check`` is not, and
    returns None or the reason the output is wrong."""

    name: str
    kind: str
    run: Callable[[], Any]
    check: Callable[[Any], str | None]
    prepare: Callable[[], None] = lambda: None   # untimed, before ``run``


def _files(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def bytes_written(before: dict, after: dict) -> int:
    """Bytes of files created or rewritten between two snapshots."""
    return sum(size for p, (size, mtime) in after.items()
               if before.get(p, (None, None))[1] != mtime)


# -- catalog plane ------------------------------------------------------


class CatalogPlane:
    name = "catalog_plane"

    def __init__(self, spark, run_dir: str, seed: int, scale: dict,
                 tracer):
        import duckdb

        from bdc_collection_builder_spark.catalog.fixtures import (
            make_fixtures,
            scene_name,
        )
        from bdc_collection_builder_spark.catalog.store import CatalogStore
        from bdc_collection_builder_spark.engine import CollectionBuilderEngine
        from bdc_collection_builder_spark.webapi import create_app

        self.seed = seed
        self.root = os.path.join(run_dir, "catalog")
        fx = make_fixtures(spark, n_scenes=scale["scenes"],
                           n_tiles=scale["tiles"])
        self.store = CatalogStore(spark, self.root)
        # one writer thread per core: the ten commits are latency-bound
        with ThreadPoolExecutor(spark.sparkContext.defaultParallelism) as ex:
            for done in [ex.submit(self.store.overwrite, name, fx[name])
                         for name in CATALOG_TABLES]:
                done.result()
        # new provider scenes for the ingest batches, drawn from the seed;
        # the fixtures name no "S2C" scene, and a drawn name is never
        # reused, so every batch scene is new to the catalog
        tile_rows = {r["name"]: r for r in fx["tiles"].collect()}
        tiles = list(tile_rows)
        rng = np.random.default_rng([seed, 1])
        self.batches: list[list[str]] = []
        remote_rows, drawn = [], set()
        for b in range(8):
            batch = []
            while len(batch) < scale["batch"]:
                tile = tiles[int(rng.integers(len(tiles)))]
                day = int(rng.integers(0, 90))
                name = scene_name("S2C", int(rng.integers(0, 175)), tile, day)
                if name in drawn:
                    continue
                drawn.add(name)
                t = tile_rows[tile]
                remote_rows.append((
                    name, "S2MSI2A", "fixture",
                    dt.datetime(2024, 1, 1) + dt.timedelta(days=day, hours=10),
                    float(rng.integers(0, 101)), tile, t["xmin"], t["ymin"],
                    t["xmax"], t["ymax"], f"https://prov.example/{name}.zip",
                    813.67))
                batch.append(name)
            self.batches.append(batch)
        base_remote = fx["scenes_remote"]
        remote = base_remote.unionByName(
            spark.createDataFrame(remote_rows, base_remote.schema))
        self.engine = CollectionBuilderEngine(spark, self.store,
                                              remote=remote)
        self.app = create_app(self.engine)
        self.providers = [r["driver_name"] for r in fx["providers"]
                          .orderBy("id").collect()]
        self.duck = duckdb.connect()
        self.bytes_written = 0
        self.item_bytes = 0
        self.published = 0
        self.response_bytes = 0

    # WSGI client --------------------------------------------------------

    def call(self, method: str, path: str, query: str = "",
             body: dict | None = None) -> tuple[int, bytes]:
        raw = json.dumps(body).encode() if body is not None else b""
        environ = {
            "REQUEST_METHOD": method, "PATH_INFO": path,
            "QUERY_STRING": query, "CONTENT_LENGTH": str(len(raw)),
            "wsgi.input": io.BytesIO(raw),
        }
        status = {}

        def start_response(line, headers):
            status["code"] = int(line.split()[0])

        payload = b"".join(self.app(environ, start_response))
        self.response_bytes += len(payload)
        return status["code"], payload

    # DuckDB reference over the store's current generations -----------

    def sql(self, query: str):
        """Run ``query`` with ``{table}`` standing for the table's
        current generation."""
        for t in ("activities", "activity_history", "tasks", "items",
                  "tiles", "providers"):
            query = query.replace(
                "{" + t + "}",
                f"read_parquet('{self.store.data_path(t)}/*.parquet')")
        return self.duck.execute(query)

    def _acts_where(self, collection=None, type_contains=None) -> str:
        cond = ["TRUE"]
        if collection is not None:
            cond.append(f"a.collection_id = {int(collection)}")
        if type_contains:
            cond.append(f"contains(a.activity_type, '{type_contains}')")
        return " AND ".join(cond)

    # one pass -----------------------------------------------------------

    def ops(self, pass_no: int) -> list[Op]:
        # the seed draws every filter value; the collection and the
        # restart status are fixed, so the rows each route returns stay
        # within a small range across seeds
        rng = np.random.default_rng([self.seed, 2, pass_no])
        coll = 1 + pass_no % 2
        act_type = ["download", "publish", "post"][int(rng.integers(3))]
        page, per_page = int(rng.integers(1, 6)), 20
        start = f"2024-01-{int(rng.integers(1, 29)):02d}"
        end = "2024-03-15"
        west, south = float(rng.uniform(-62, -45)), float(rng.uniform(-22, -12))
        search = {"w": west, "s": south, "e": west + 15.0, "n": south + 8.0,
                  "satsen": "S2MSI2A", "start": start, "end": "2024-12-31",
                  "cloud": float(rng.integers(30, 101)), "collection_id": 1}
        status = "FAILURE"

        def get(name, path, query, check):
            return Op(name, "one_pass", lambda: self.call("GET", path, query),
                      lambda r: self._check(r, check))

        def post(name, path, body, check):
            return Op(name, "one_pass", lambda: self.call("POST", path,
                                                          body=body),
                      lambda r: self._check(r, check))

        act_query = (f"page={page}&per_page={per_page}"
                     f"&collection_id={coll}&activity_type={act_type}")
        reads = [
            get("activities", "/api/activities", act_query,
                lambda b: self._check_activities(b, page, per_page, coll,
                                                 act_type)),
            get("count_activities", "/api/utils/count-activities",
                f"type={act_type}&collection={coll}",
                lambda b: self._check_counts(b, coll, act_type)),
            get("count_activities_date", "/api/utils/count-activities-date",
                f"start_date={start}&last_date={end}",
                lambda b: self._check_by_date(b, start, end)),
            get("count_unsuccessfully",
                "/api/utils/count-unsuccessfully-activities", "",
                self._check_failed),
            get("stats_active", "/api/stats/active", "", self._check_active),
            get("stats_pending", "/api/stats/pending", "",
                self._check_pending),
            get("collection_tiles", f"/api/collections/{coll}/tiles", "",
                lambda b: self._check_tiles(b, coll)),
            get("grids", "/api/grids", "", self._check_grids),
            get("providers", "/api/providers", "", self._check_providers),
            post("radcor_preview", "/api/radcor", search,
                 self._check_radcor),
            get("restart_preview", "/api/radcor/restart",
                f"activity_type={act_type}&status={status}",
                lambda b: self._check_restart(b, act_type, status)),
        ]
        return reads + [self._ingest_op(
            self.batches[pass_no % len(self.batches)])]

    # ingest -------------------------------------------------------------

    def _ingest_op(self, batch: list[str]) -> Op:
        from pyspark.sql import functions as F

        from bdc_collection_builder_spark.pipeline.radcor import RadcorQuery

        state = {}

        def snapshot():
            state["before"] = _files(self.root)
            state["items_before"] = self.sql(
                "SELECT count(*) FROM {items}").fetchall()[0][0]

        def ingest():
            query = RadcorQuery(collection_id=1, dataset="S2MSI2A",
                                start_date="2024-01-01",
                                end_date="2024-12-31", scenes=batch)
            scenes = self.engine.radcor_preview(query).withColumn(
                "collection_id", F.lit(1))
            return self.engine.run_pipeline(scenes).collect()

        return Op("ingest_pipeline", "eager", ingest,
                  lambda r: self._check_ingested(r, batch, state), snapshot)

    def expected_published(self, batch: list[str]) -> set[str]:
        """Scenes the deterministic download/correction simulators let
        through: some provider online, some sen2cor version succeeds."""
        from bdc_collection_builder_spark.pipeline.stages import (
            PROCESSOR_VERSIONS,
        )

        def byte0(text: str) -> int:
            return int(hashlib.md5(text.encode()).hexdigest()[:2], 16)

        return {
            s for s in batch
            if any(byte0(f"{s}:{p}") % 5 for p in self.providers)
            and any(byte0(f"{s}:sen2cor:{v}") % 7
                    for v in PROCESSOR_VERSIONS["sen2cor"])
        }

    # checks -------------------------------------------------------------

    @staticmethod
    def _check(result, check) -> str | None:
        code, payload = result
        if code != 200:
            return f"status {code}: {payload[:200]!r}"
        return check(json.loads(payload))

    def _check_activities(self, b, page, per_page, coll, act_type):
        if set(b) != {"total", "page", "per_page", "pages", "items"}:
            return f"envelope {sorted(b)}"
        want = self.sql("SELECT count(*) FROM {activities} a WHERE "
                        + self._acts_where(coll, act_type)).fetchall()[0][0]
        n_items = max(0, min(per_page, want - (page - 1) * per_page))
        if (b["total"], b["pages"], len(b["items"])) != \
                (want, -(-want // per_page), n_items):
            return (f"total/pages/items {b['total']}/{b['pages']}/"
                    f"{len(b['items'])} != {want}/{-(-want // per_page)}/"
                    f"{n_items}")
        if any(i["collection_id"] != coll for i in b["items"]):
            return "item outside the collection filter"
        return None

    def _ledger(self, where: str) -> str:
        return ("FROM {activity_history} h JOIN {tasks} t ON h.task_id = t.id "
                "JOIN {activities} a ON h.activity_id = a.id WHERE " + where)

    def _check_counts(self, b, coll, act_type):
        want = dict(self.sql("SELECT t.status, count(*) " + self._ledger(
            self._acts_where(coll, act_type))
            + " GROUP BY t.status").fetchall())
        got = {r["status"]: r["n"] for r in b}
        return None if got == want else f"histogram {got} != {want}"

    def _check_by_date(self, b, start, end):
        want = dict(self.sql(
            "SELECT t.status, count(*) " + self._ledger(
                f"h.start >= TIMESTAMP '{start} 00:00:00' AND "
                f"h.start <= TIMESTAMP '{end} 23:59:00'")
            + " GROUP BY t.status").fetchall())
        got: dict[str, int] = {}
        for r in b:
            got[r["status"]] = got.get(r["status"], 0) + r["n"]
        return None if got == want else f"per-status {got} != {want}"

    def _latest(self, where: str) -> int:
        """Activities whose latest attempt satisfies ``where``."""
        return self.sql(
            "SELECT count(*) FROM (SELECT a.activity_type, t.status, "
            "row_number() OVER (PARTITION BY h.activity_id "
            "ORDER BY h.start DESC, t.status) rn " + self._ledger("TRUE")
            + f") WHERE rn = 1 AND {where}").fetchall()[0][0]

    def _check_failed(self, b):
        want = self._latest("status <> 'SUCCESS'")
        if len(b) != want or any(r["status"] == "SUCCESS" for r in b):
            return f"{len(b)} unsuccessful rows != {want}"
        return None

    def _check_pending(self, b):
        want = self._latest("status NOT IN ('SUCCESS', 'FAILURE')")
        return None if len(b) == want else f"{len(b)} pending != {want}"

    def _check_active(self, b):
        want = self.sql("SELECT count(*) FROM {tasks} WHERE status NOT IN "
                        "('SUCCESS', 'FAILURE')").fetchall()[0][0]
        return None if len(b) == want else f"{len(b)} active != {want}"

    def _check_tiles(self, b, coll):
        want = [r[0] for r in self.sql(
            "SELECT DISTINCT t.name FROM {tiles} t JOIN {items} i "
            f"ON t.id = i.tile_id WHERE i.collection_id = {coll} "
            "ORDER BY 1").fetchall()]
        got = [r["name"] for r in b]
        return None if got == want else f"tiles {got[:3]} != {want[:3]}"

    def _check_grids(self, b):
        want = self.sql("SELECT count(*) FROM {tiles}").fetchall()[0][0]
        got = sum(r["n_tiles"] for r in b)
        return None if got == want else f"{got} grid tiles != {want}"

    def _check_providers(self, b):
        want = [r[0] for r in self.sql("SELECT id FROM {providers} "
                                       "ORDER BY id").fetchall()]
        got = [r["id"] for r in b]
        return None if got == want else f"providers {got} != {want}"

    @staticmethod
    def _check_radcor(b):
        if set(b) != {"tiles", "Results"} or b["Results"] != len(b["tiles"]):
            return "radcor envelope"
        return None

    def _check_restart(self, b, act_type, status):
        if set(b) != {"action", "total", "activities"} \
                or b["total"] != len(b["activities"]):
            return "restart envelope"
        want = self._latest(f"activity_type = '{act_type}' "
                            f"AND status = '{status}'")
        return None if b["total"] == want else \
            f"{b['total']} restartable != {want}"

    def _check_ingested(self, quality, batch, state) -> str | None:
        written = bytes_written(state["before"], _files(self.root))
        expected = self.expected_published(batch)
        names = ", ".join(f"'{s}'" for s in batch)
        published = self.sql(
            "SELECT * FROM {items} WHERE collection_id = 1 "
            f"AND name IN ({names})").arrow()
        got = set(published.column("name").to_pylist())
        self.bytes_written += written
        self.item_bytes += published.nbytes
        self.published += len(got)
        total, distinct = self.sql(
            "SELECT count(*), count(DISTINCT (name, collection_id)) "
            "FROM {items}").fetchall()[0]
        if got != expected:
            return (f"published {len(got)} scenes, expected {len(expected)}"
                    f" (missing {sorted(expected - got)[:2]})")
        if total != state["items_before"] + len(expected):
            return (f"items grew by {total - state['items_before']}, "
                    f"expected {len(expected)}")
        if distinct != total:
            return f"{total - distinct} duplicate merge keys in items"
        if any(r["scene_id"] in expected and not r["n_pixels"]
               for r in quality):
            return "published scene without a quality mask"
        return None

    def metrics(self, records: list[dict]) -> dict[str, float]:
        """Workload-specific figures for the report line."""
        api = [r["wall"] for r in records if r["kind"] == "one_pass"]
        ingest = [r["wall"] for r in records if r["kind"] == "eager"]
        return {
            "api_latency_p50_s": float(np.median(api)),
            "api_requests_per_s": len(api) / sum(api),
            "ingest_scenes_per_s": self.published / sum(ingest),
            "ingest_batch_p50_s": float(np.median(ingest)),
            "ingest_write_amplification":
                self.bytes_written / max(1, self.item_bytes),
        }

    def layer_metrics(self, passes: int) -> dict[str, float]:
        live = sum(size for t in CATALOG_TABLES
                   for size, _ in _files(self.store.data_path(t)).values())
        on_disk = sum(size for size, _ in _files(self.root).values())
        return {
            "webapi.response_bytes": self.response_bytes / passes,
            "store.bytes_written": self.bytes_written / passes,
            "store.write_amplification":
                self.bytes_written / max(1, self.item_bytes),
            "store.space_amplification": on_disk / live,
        }

    def close(self) -> None:
        self.duck.close()


# -- registry queries -----------------------------------------------------


class RegistryQueries:
    name = "registry_queries"

    def __init__(self, spark, run_dir: str, seed: int, scale: dict,
                 tracer):
        import duckdb

        from bdc_collection_builder_spark.plans.registry import (
            QUERY_REGISTRY,
            all_queries,
        )
        from bdc_collection_builder_spark.sources.tables import TABLES

        from datagen import write

        self.spark, self.tracer = spark, tracer
        self.sf_dir = os.path.join(run_dir, "tables")
        write(self.sf_dir, scale["sf"], seed)
        all_queries()
        self.registry = QUERY_REGISTRY
        self.duck = duckdb.connect()
        for name in TABLES:
            self.duck.execute(
                f"CREATE VIEW {name} AS SELECT * FROM "
                f"read_parquet('{self.sf_dir}/{name}.parquet')")

    def _op(self, name: str, kind: str) -> Op:
        qd = self.registry[name]

        def run():
            df = self.tracer.span("plans.construct", name, qd.spark_fn,
                                  self.spark, self.sf_dir)
            return self.tracer.span("plans.execute", name, df.toPandas)

        def check(result):
            from bdc_collection_builder_spark.compare import strict_mismatch

            self.spark.catalog.clearCache()
            return strict_mismatch(result, self.oracle(name))

        return Op(name, kind, run, check)

    def oracle(self, name: str):
        return self.duck.execute(self.registry[name].oracle).fetchdf()

    def ops(self, pass_no: int) -> list[Op]:
        return ([self._op(q, "one_pass") for q in ONE_PASS_QUERIES]
                + [self._op(q, "eager") for q in EAGER_QUERIES])

    def metrics(self, records: list[dict]) -> dict[str, float]:
        def walls(names):
            return sum(float(np.median([r["wall"] for r in records
                                        if r["name"] == n])) for n in names)

        return {
            "batch_suite_s": walls(ONE_PASS_QUERIES),
            "fixpoint_wall_s": walls(EAGER_QUERIES[:1]),
            "stream_drain_wall_s": walls(EAGER_QUERIES[1:]),
        }

    def layer_metrics(self, passes: int) -> dict[str, float]:
        return {}

    def close(self) -> None:
        self.duck.close()


WORKLOADS = {w.name: w for w in (CatalogPlane, RegistryQueries)}
