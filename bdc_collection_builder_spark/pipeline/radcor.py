"""The radcor entry point: search → prune → dispatch → execute
(the reference's POST /api/radcor lifecycle, SURVEY §3.1), plus the
check-scenes set algebra (§3.3).

The Celery canvas (group/chain, controller.py:318-365) becomes plain
function composition over scene DataFrames: stage-internal parallelism
is partition parallelism; sequencing is dataflow order with the ledger
checkpointed between stages.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bdc_collection_builder_spark.catalog.store import CatalogStore
from bdc_collection_builder_spark.operators.filters import (
    bbox_intersects,
    temporal_overlap,
)
from bdc_collection_builder_spark.operators.joins import skip_published


@dataclass
class RadcorQuery:
    """Validated search args (SearchImageForm, forms.py:129-196).
    Exactly one of bbox / scenes / tiles must be provided
    (forms.py:166-196)."""

    collection_id: int
    dataset: str
    start_date: str
    end_date: str
    cloud: float = 100.0
    bbox: tuple[float, float, float, float] | None = None   # w, s, e, n
    scenes: list[str] | None = None
    tiles: list[str] | None = None
    force: bool = False
    tags: list[str] = field(default_factory=list)

    def __post_init__(self) -> None:
        provided = [x is not None for x in (self.bbox, self.scenes, self.tiles)]
        if sum(provided) != 1:
            raise ValueError(
                "exactly one of bbox, scenes, tiles is required "
                "(forms.py:166-196 mutual exclusion)")
        if self.bbox is not None:
            w, s, e, n = self.bbox
            # forms.py:190-196 — the reference's corner-order checks
            if w > e:
                raise ValueError("Xmin is greater than XMax")
            if s > n:
                raise ValueError("Ymin is greater than YMax")


def search(remote: DataFrame, query: RadcorQuery) -> DataFrame:
    """S1 — provider catalog search with predicate pushdown: dataset,
    period (F3), cloud (F1), and one of bbox (F2) / scenes / tiles.
    Over a DataFrame-backed source the predicates reach the scan; over
    a remote API source the same predicate set becomes query params
    (controller.py:269-295)."""
    out = remote.filter(
        (F.col("dataset") == query.dataset)
        & (F.col("cloud_cover") <= query.cloud)
        & temporal_overlap(F.col("sensing_date"), F.col("sensing_date"),
                           query.start_date, query.end_date)
    )
    if query.bbox is not None:
        west, south, east, north = query.bbox
        out = out.filter(bbox_intersects(
            west, south, east, north,
            F.col("bbox_xmin"), F.col("bbox_ymin"),
            F.col("bbox_xmax"), F.col("bbox_ymax")))
    elif query.scenes is not None:
        out = out.filter(F.col("scene_id").isin(*query.scenes))
    else:
        out = out.filter(F.col("tile").isin(*query.tiles))
    return out.dropDuplicates(["scene_id"])     # F10


def radcor_preview(store: CatalogStore, remote: DataFrame,
                   query: RadcorQuery) -> DataFrame:
    """The 'preview' action: search + skip-published pruning, no
    dispatch (controller.py:227-391 with action=preview)."""
    found = search(remote, query)
    items = store.read("items").filter(
        F.col("collection_id") == query.collection_id)
    return skip_published(
        found.withColumnRenamed("scene_id", "name")
             .withColumn("collection_id",
                         F.lit(query.collection_id).cast("int")),
        items, ["name", "collection_id"], force=query.force,
    ).withColumnRenamed("name", "scene_id")


def radcor_dispatch(store: CatalogStore, remote: DataFrame,
                    query: RadcorQuery,
                    stages: list[str] = ("download", "publish", "post")) -> DataFrame:
    """The 'start' action: prune + create the activity chain for each
    scene with lineage edges (controller.py:318-365: nested tasks spec →
    here an ordered stage list; chains become lineage edges in
    activity_src)."""
    from bdc_collection_builder_spark.pipeline.ledger import dispatch_activities

    to_do = radcor_preview(store, remote, query)
    prev: DataFrame | None = None
    for stage in stages:
        acts = dispatch_activities(store, to_do, query.collection_id, stage)
        if prev is not None:
            edges = (
                acts.select(F.col("id").alias("activity_id"), "sceneid")
                .join(prev.select(F.col("id").alias("activity_src_id"), "sceneid"),
                      "sceneid")
                .select("activity_id", "activity_src_id")
            )
            existing = store.read("activity_src")
            store.append("activity_src",
                         edges.join(existing, ["activity_id", "activity_src_id"],
                                    "left_anti"))
        prev = acts
    return store.read("activities")


def check_scenes(store: CatalogStore, remote: DataFrame,
                 query: RadcorQuery) -> DataFrame:
    """§3.3 check-scenes: external vs internal set algebra (U1/U2/A5,
    controller.py:497-620) → one summary row per collection."""
    external = search(remote, query).select(F.col("scene_id").alias("name"))
    internal = store.read("items").filter(
        F.col("collection_id") == query.collection_id).select("name")
    missing_internal = external.subtract(internal)
    missing_external = internal.subtract(external)
    # explicit F.broadcast on each one-row agg (VERDICT-r8 nit #2):
    # pin BroadcastNestedLoopJoin by construction instead of relying
    # on AQE to notice the 1-row side — same convention as every
    # other one-row attach in the repo (linter-allowlisted).
    return (
        external.agg(F.count("*").alias("total_external"))
        .crossJoin(F.broadcast(
            internal.agg(F.count("*").alias("total_internal"))))
        .crossJoin(F.broadcast(
            missing_internal.agg(F.count("*").alias("missing_in_catalog"))))
        .crossJoin(F.broadcast(
            missing_external.agg(F.count("*").alias("missing_in_provider"))))
    )
