"""CollectionBuilderEngine — the user-facing façade.

One class binding a SparkSession + CatalogStore with a method per
reference entry point (views.py routes / RadcorBusiness methods,
SURVEY §3), so a user of the reference can switch by calling the same
operations on DataFrames instead of HTTP:

| reference                                        | engine method |
|--------------------------------------------------|---------------|
| POST /api/radcor (action=preview)                | ``radcor_preview`` |
| POST /api/radcor (action=start)                  | ``radcor_start`` |
| GET  /api/activities (paginated)                 | ``list_activities`` |
| GET  /api/utils/count-activities                 | ``count_activities`` |
| GET  /api/utils/count-activities-date            | ``count_activities_with_date`` |
| GET  /api/utils/count-unsuccessfully-activities  | ``count_failed_activities`` |
| POST /api/check-scenes                           | ``check_scenes`` |
| GET  /api/collections                            | ``list_collections`` |
| GET  /api/collections/<id>/tiles                 | ``list_collection_tiles`` |
| GET  /api/providers                              | ``list_providers`` |
| GET/POST /api/radcor/restart                     | ``restart_activities`` |
| GET  /api/stats/active                           | ``stats_active`` |
| GET  /api/stats/pending                          | ``stats_pending`` |
| GET  /api/utils/collections-available            | ``collections_available`` |
| GET  /api/grids[/<id>]                           | ``list_grids`` |
| (worker chain download→…→post)                   | ``run_pipeline`` |

All methods return DataFrames (the caller decides when to collect);
nothing in the façade materializes data on the driver. ``run_pipeline``
is the one method that materializes its batch, on the executors.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bdc_collection_builder_spark.catalog.store import CatalogStore
from bdc_collection_builder_spark.operators.joins import provider_order
from bdc_collection_builder_spark.operators.windows import paginate
from bdc_collection_builder_spark.pipeline import radcor as _radcor
from bdc_collection_builder_spark.pipeline.ledger import (
    activities,
    attempts,
    due_retries,
    failed_latest,
    latest_attempts,
)
from bdc_collection_builder_spark.pipeline.radcor import RadcorQuery
from bdc_collection_builder_spark.pipeline.stages import (
    download_correction_stage,
    post_stage,
    publish_stage,
    split_fused,
)


class CollectionBuilderEngine:
    """The reference's REST + worker surface over a catalog store."""

    def __init__(self, spark: SparkSession, store: CatalogStore,
                 remote: DataFrame | None = None):
        self.spark = spark
        self.store = store
        #: provider catalog source (S1) — a DataFrame-backed simulator in
        #: tests, a pushdown API source in production.
        self.remote = remote

    # -- search & dispatch plane (§3.1) ---------------------------------

    def radcor_preview(self, query: RadcorQuery) -> DataFrame:
        return _radcor.radcor_preview(self.store, self.remote, query)

    def radcor_start(self, query: RadcorQuery,
                     stages: list[str] = ("download", "publish", "post"),
                     ) -> DataFrame:
        return _radcor.radcor_dispatch(self.store, self.remote, query, stages)

    # -- monitoring/analytics plane (§3.3) ------------------------------

    def activities_filtered(self, collection_id: int | None = None,
                            activity_type_contains: str | None = None,
                            ) -> DataFrame:
        """F5 filters + W1 latest-execution join, unpaginated — shared
        by ``list_activities`` and the web layer's ``total`` count so
        both always apply identical predicates."""
        acts = activities(self.store, collection_id, activity_type_contains)
        last = (self.store.read("activity_history").groupBy("activity_id")
                .agg(F.max("start").alias("last_execution")))
        return acts.join(last, acts["id"] == last["activity_id"],
                         "left").drop("activity_id")

    def list_activities(self, page: int = 1, per_page: int = 10,
                        collection_id: int | None = None,
                        activity_type_contains: str | None = None,
                        ) -> DataFrame:
        """F5 filters + W3 pagination + W1 latest-execution join."""
        enriched = self.activities_filtered(
            collection_id, activity_type_contains)
        return paginate(enriched, ["id"], page, per_page)

    def count_activities(self, start_date: str | None = None,
                         last_date: str | None = None,
                         collection: int | None = None,
                         type_contains: str | None = None) -> DataFrame:
        """A1 — per-status histogram of attempts (controller.py:426-446)."""
        return (
            attempts(self.store, start_date, last_date, collection,
                     type_contains)
            .groupBy("status").agg(F.count("*").alias("n"))
        )

    def count_activities_with_date(self, start_date: str | None = None,
                                   last_date: str | None = None,
                                   collection: int | None = None,
                                   type_contains: str | None = None
                                   ) -> DataFrame:
        """A2 — per-day per-status histogram, same optional filters as
        the reference (controller.py:448-470)."""
        return (
            attempts(self.store, start_date, last_date, collection,
                     type_contains)
            .groupBy(F.to_date("start").alias("date"), "status")
            .agg(F.count("*").alias("n"))
            .orderBy("date")
        )

    def count_failed_activities(self) -> DataFrame:
        """J5/W2 — latest attempt per scene with status != SUCCESS."""
        return failed_latest(self.store)

    def stats_active(self) -> DataFrame:
        """GET /stats/active (views.py:131-134, celery/utils.py:27-31):
        work in flight. The Celery worker-inspector poll becomes a
        ledger scan — a task is active while its status is
        non-terminal (not yet SUCCESS/FAILURE)."""
        return self.store.read("tasks").filter(
            ~F.col("status").isin("SUCCESS", "FAILURE"))

    def stats_pending(self) -> DataFrame:
        """GET /stats/pending (views.py:137-140, celery/utils.py:34-38):
        scenes queued for another attempt — the LATEST attempt per
        activity is non-terminal."""
        return latest_attempts(attempts(self.store)).filter(
            ~F.col("status").isin("SUCCESS", "FAILURE"))

    def collections_available(self) -> DataFrame:
        """GET /utils/collections-available (controller.py:471-474):
        distinct collection ids having any activity."""
        return (
            self.store.read("activities")
            .select("collection_id").distinct().orderBy("collection_id")
        )

    def list_grids(self, grid_id: int | None = None,
                   bbox: tuple[float, float, float, float] | None = None
                   ) -> DataFrame:
        """GET /grids[/<id>] (controller.py:633-668): grid definitions
        with tile count and envelope; ``bbox`` keeps grids whose
        envelope intersects it (the reference's PostGIS ST_Intersects
        on rectangular tiles reduces to interval overlap)."""
        tiles = self.store.read("tiles")
        if grid_id is not None:
            tiles = tiles.filter(F.col("grid_ref_sys_id") == grid_id)
        grids = (
            tiles.groupBy("grid_ref_sys_id")
            .agg(F.count("*").alias("n_tiles"),
                 F.min("xmin").alias("xmin"), F.min("ymin").alias("ymin"),
                 F.max("xmax").alias("xmax"), F.max("ymax").alias("ymax"))
        )
        if bbox is not None:
            xmin, ymin, xmax, ymax = bbox
            grids = grids.filter(
                (F.col("xmin") <= xmax) & (F.col("xmax") >= xmin)
                & (F.col("ymin") <= ymax) & (F.col("ymax") >= ymin))
        return grids.orderBy("grid_ref_sys_id")

    def check_scenes(self, query: RadcorQuery) -> DataFrame:
        return _radcor.check_scenes(self.store, self.remote, query)

    def list_collections(self) -> DataFrame:
        """T2 — ordered collection catalog (controller.py:625-628)."""
        return self.store.read("collections").orderBy("id")

    def list_collection_tiles(self, collection_id: int) -> DataFrame:
        """J2 — distinct tiles having items (controller.py:683-690)."""
        tiles = self.store.read("tiles")
        items = self.store.read("items").filter(
            F.col("collection_id") == collection_id)
        return (
            tiles.join(items, tiles["id"] == items["tile_id"])
            .select(tiles["name"]).distinct().orderBy("name")
        )

    def list_providers(self) -> DataFrame:
        return self.store.read("providers").orderBy("id")

    def provider_order(self, collection_id: int) -> DataFrame:
        """J3/S3 — active providers by priority (collect.py:86-137)."""
        return provider_order(
            self.store.read("providers"),
            self.store.read("collection_providers"), collection_id)

    # -- provider administration (reference cli.py:44-175) --------------

    def create_provider(self, name: str, driver_name: str | None = None,
                        description: str | None = None,
                        url: str | None = None,
                        credentials: dict | str | None = None,
                        update: bool = False) -> bool:
        """``create-provider`` / ``load-providers`` semantics
        (cli.py:44-66, 69-121): get-or-create on the provider NAME —
        returns True if created, False if it already existed (in which
        case the row is left untouched unless ``update``)."""
        import json as _json

        if isinstance(credentials, dict):
            credentials = _json.dumps(credentials)

        # The id is derived INSIDE the CAS build function, from the
        # pinned base snapshot (ADVICE-r3): a read-then-merge max(id)+1
        # outside the commit lets two concurrent creates compute the
        # same id and both land (merge key is `name`). Inside the CAS
        # loop, the loser's retry re-derives off the winner's base, so
        # ids are unique by construction.
        class _NoChange(Exception):
            pass

        outcome: dict[str, bool] = {}

        def build(base: DataFrame) -> DataFrame:
            rows = base.filter(F.col("name") == name).collect()
            outcome["created"] = not rows
            if rows and not update:
                raise _NoChange()
            row_id = (rows[0]["id"] if rows else
                      (base.agg(F.max("id")).collect()[0][0] or 0) + 1)
            incoming = self.spark.createDataFrame(
                [(row_id, name, driver_name, credentials, url, description)],
                base.schema)
            return self.store._merged("providers", base, incoming,
                                      keys=["name"])

        try:
            self.store._cas_commit("providers", build)
        except _NoChange:
            return False
        return outcome["created"]

    def set_provider(self, collection_id: int, provider_name: str,
                     priority: int = 1, disable: bool = False,
                     remove: bool = False) -> None:
        """``set-provider`` (cli.py:124-155): upsert or delete the
        (collection, provider) setting row. Delete is expressed as an
        anti-join overwrite — the MVCC store's DELETE form."""
        providers = self.store.read("providers").filter(
            F.col("name") == provider_name).collect()
        if not providers:
            raise KeyError(f"unknown provider: {provider_name!r}")
        pid = providers[0]["id"]
        cp = self.store.read("collection_providers")
        if remove:
            self.store.overwrite(
                "collection_providers",
                cp.filter(~((F.col("provider_id") == pid)
                            & (F.col("collection_id") == collection_id))))
            return
        incoming = self.spark.createDataFrame(
            [(pid, collection_id, not disable, priority)],
            cp.schema)
        self.store.merge_upsert(
            "collection_providers", incoming,
            keys=["provider_id", "collection_id"])

    def collection_overview(self, collection_id: int) -> dict:
        """``overview`` (cli.py:158-175): collection properties plus
        the full provider order (inactive included, like the
        reference's listing which prints active=False rows)."""
        rows = (self.store.read("collections")
                .filter(F.col("id") == collection_id).collect())
        if not rows:
            raise KeyError(f"unknown collection id: {collection_id}")
        coll = rows[0].asDict()
        order = provider_order(
            self.store.read("providers"),
            self.store.read("collection_providers"), collection_id,
            include_inactive=True).collect()
        coll["providers"] = [
            {"name": r["name"], "driver": r["driver_name"],
             "priority": r["priority"], "active": r["active"]}
            for r in order
        ]
        return coll

    def restart_activities(self, ids: list[int] | None = None,
                           status: str | None = None,
                           activity_type: str | None = None,
                           sceneid: str | list[str] | None = None,
                           collection_id: int | None = None) -> DataFrame:
        """F4 — restart filters (controller.py:86-108); returns the
        activities that would be re-dispatched. ``sceneid`` accepts a
        comma-separated string or list (controller.py:100-105);
        ``status`` matches each activity's latest attempt."""
        acts = activities(self.store, collection_id)
        if ids:
            acts = acts.filter(F.col("id").isin(*ids))
        if sceneid:
            scenes = (sceneid.split(",") if isinstance(sceneid, str)
                      else list(sceneid))
            acts = acts.filter(F.col("sceneid").isin(*scenes))
        if activity_type:
            acts = acts.filter(F.col("activity_type") == activity_type)
        if status:
            latest = latest_attempts(attempts(self.store)).filter(
                F.col("status") == status)
            acts = acts.join(latest, acts["id"] == latest["activity_id"],
                             "left_semi")
        return acts

    def due_retries(self, now: dt.datetime | None = None) -> DataFrame:
        """Y2 — ledger rows whose next attempt is due (the persisted
        form of the 72x900s Celery retry horizon)."""
        return due_retries(self.store, now or dt.datetime.now(dt.timezone.utc))

    def activity_lineage(self, root_ids: list[int],
                         max_depth: int = 3) -> DataFrame:
        """J9 — descendants of the given activities through the
        activity_src edge table (models.py:66-87: parent→child task
        lineage; controller.py:163-186 walks it on dispatch). Bounded-
        depth frontier joins — one equi-join per level, no driver
        recursion."""
        from bdc_collection_builder_spark.operators.joins import (
            lineage_descendants,
        )

        edges = self.store.read("activity_src")
        roots = self.spark.createDataFrame(
            [(int(i),) for i in root_ids], "id long")
        return lineage_descendants(
            edges, roots, max_depth,
            src="activity_src_id", dst="activity_id")

    def profile(self, table: str,
                cols: list[str] | None = None) -> DataFrame:
        """Single-scan column profile of a catalog table (rows /
        non-null / distinct / min / max per column) — the stats
        surface a catalog browser or CBO reads."""
        from bdc_collection_builder_spark.operators.quality import profile

        return profile(self.store.read(table), cols)

    def snapshots(self, table: str) -> list[str]:
        """Retained MVCC generations of a catalog table (time travel)."""
        return self.store.snapshots(table)

    def read_at(self, table: str, gen: str) -> DataFrame:
        """Read a catalog table pinned at a retained snapshot."""
        return self.store.read_at(table, gen)

    def changes_between(self, table: str, gen_from: str,
                        gen_to: str) -> DataFrame:
        """Change data feed between two retained snapshots."""
        return self.store.changes_between(table, gen_from, gen_to)

    def sql(self, statement: str) -> DataFrame:
        """Ad-hoc SQL over the catalog (the surface the reference
        delegates to PostgreSQL; here catalog tables are temp views and
        Catalyst plans the statement — §2.4 notes cube/rollup/
        approx-distinct come free this way).

        Views register lazily: only tables the statement references are
        (re-)read, so each call refreshes exactly the snapshots it
        needs. A same-named temp view the USER created is never
        clobbered — the engine only replaces views it registered
        itself (tracked in ``_owned_views``)."""
        import re

        from bdc_collection_builder_spark.catalog.schemas import SCHEMAS

        if not hasattr(self, "_owned_views"):
            self._owned_views: set[str] = set()
        for table in SCHEMAS:
            if not re.search(rf"\b{re.escape(table)}\b", statement):
                continue
            if (table not in self._owned_views
                    and self.spark.catalog.tableExists(table)):
                continue  # user-defined view shadows the catalog table
            self.store.read(table).createOrReplaceTempView(table)
            self._owned_views.add(table)
        return self.spark.sql(statement)

    # -- data plane (§3.2) ----------------------------------------------

    def run_pipeline(self, scenes: DataFrame,
                     provider_names: list[str] | None = None,
                     http_providers: list[tuple[str, str]] | None = None,
                     processor_versions: list[tuple[str, list[str]]]
                     | None = None,
                     work_dir: str | None = None,
                     docker: dict | None = None) -> DataFrame:
        """download → correction → publish → post over scene rows.

        By default download and correction run the one deterministic
        simulator (pipeline/stages.download_correction_stage). Pass
        ``http_providers`` (ordered (name, base_url)) +
        ``processor_versions`` ((version, argv-template)) + ``work_dir``
        to run the REAL-IO forms instead: genuine HTTP download with
        failover/checksums (http_download_stage), then the one
        child-process loop with timeout and exit-code version fallback
        (subprocess_correction_stage). Pass ``docker`` (dict with a
        ``versions`` list, optional ``image``/``bin``/``timeout``)
        instead of ``processor_versions`` to run that loop over the
        reference's ``docker run`` / ``docker stop`` argv
        (docker_versions). Either way the Spark plumbing, the publish
        MERGE, and the post-stage quality mask are identical; the post
        stage runs on a deterministic pixel grid per published scene
        (the raster read is the documented rasterio seam).

        publish_stage materializes the batch of item rows once, on the
        executors, before its MERGE; the MERGE and the returned post
        stage read that batch, so each side-effecting stage runs once
        per scene per ingest. Spark's ContextCleaner drops the batch's
        blocks once the DataFrames that read it are garbage collected."""
        if http_providers is not None:
            import os as _os

            from bdc_collection_builder_spark.pipeline.stages import (
                docker_versions,
                http_download_stage,
                subprocess_correction_stage,
            )

            if (processor_versions is None and docker is None) \
                    or work_dir is None:
                raise ValueError(
                    "real-IO pipeline needs processor_versions (or "
                    "docker=) and work_dir alongside http_providers")
            downloaded = http_download_stage(
                scenes.select("scene_id", "collection_id"),
                http_providers, _os.path.join(work_dir, "downloads"))
            if docker is not None:
                processor_versions = docker_versions(
                    docker["versions"], docker.get("image", "sen2cor"),
                    docker.get("bin", "docker"))
            corrected = subprocess_correction_stage(
                downloaded.filter(F.col("status") == "SUCCESS"),
                processor_versions, _os.path.join(work_dir, "corrected"),
                (docker or {}).get("timeout", 60.0))
        else:
            providers = provider_names or [
                r.driver_name for r in
                self.store.read("providers").orderBy("id")
                .select("driver_name").collect()
            ] or ["usgs", "scihub"]
            fused = download_correction_stage(
                scenes, providers, self.store.read("collections"))
            _, corrected = split_fused(fused)
        published = publish_stage(
            corrected, scenes, self.store.read("bands"),
            self.store.read("tiles"), self.store)
        pixels = self._pixels_for(published)
        return post_stage(published, pixels)

    def _pixels_for(self, published: DataFrame, side: int = 8) -> DataFrame:
        """Deterministic per-scene pixel grid for the post stage (the
        rasterio windowed read plugs in here on a real deployment).
        Seeded by xxhash64(scene name) — no dense ordinal, so no
        partition-less window sort and no extra count job; the grid is
        map-side from the published names at any scene count."""
        from bdc_collection_builder_spark.functions.pixel import (
            synthetic_pixels_for,
        )

        names = published.select(F.col("name").alias("scene_id")).distinct()
        return synthetic_pixels_for(names, "scene_id",
                                    height=side, width=side)
