"""Join operators (SURVEY §2.3).

Dimension sides (providers, bands, tiles, collections) are broadcast —
they are small by construction, and broadcasting removes the shuffle of
the 100 TB fact side entirely. Anti/semi joins implement the
skip-published reconciliation. Lineage traversal is a bounded iterative
edge join (Spark SQL has no recursive CTE).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def provider_order(providers: DataFrame, collection_providers: DataFrame,
                   collection_id: int, include_inactive: bool = False) -> DataFrame:
    """S3/J3 — ordered provider failover list (collect.py:86-137):
    providers ⋈ per-collection settings WHERE active ORDER BY priority."""
    settings = collection_providers.filter(F.col("collection_id") == collection_id)
    if not include_inactive:
        settings = settings.filter(F.col("active"))
    return (
        F.broadcast(providers)
        .join(settings, providers["id"] == settings["provider_id"])
        .orderBy("priority")
    )


def skip_published(candidates: DataFrame, items: DataFrame,
                   keys: list[str], force: bool = False) -> DataFrame:
    """F6/J4 — left-anti join of candidate scenes against published items
    (controller.py:298-337). With ``force`` everything is re-dispatched.
    At scale: the items side is filtered to the candidate date range
    first (partition pruning), then the anti-join shuffles on the
    composite key — or broadcasts when the pruned items side is small."""
    if force:
        return candidates
    return candidates.join(items.select(*keys).distinct(), keys, "left_anti")


def lineage_descendants(edges: DataFrame, roots: DataFrame, max_depth: int = 3,
                        src: str = "parent_id", dst: str = "child_id",
                        root_col: str = "id") -> DataFrame:
    """J9 — bounded-depth lineage traversal (models.py:66-87,
    controller.py:163-186). Iterative frontier-join: each level is one
    equi join; results union'd with a level tag. Depth is bounded (≤3 in
    the reference), so the loop unrolls into a fixed DAG Catalyst can
    optimize as a whole — no driver-side collects."""
    frontier = roots.select(F.col(root_col).alias("node_id"))
    levels = []
    for depth in range(1, max_depth + 1):
        frontier = (
            frontier.join(edges, frontier["node_id"] == edges[src])
            .select(F.col(dst).alias("node_id"))
            .distinct()
        )
        levels.append(frontier.select(
            F.lit(depth).alias("level"), F.col("node_id").alias("descendant_id")))
    out = levels[0]
    for lvl in levels[1:]:
        out = out.unionByName(lvl)
    return out
