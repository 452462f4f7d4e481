"""Activity ledger state machine.

The reference tracks every task hop in ``activities`` /
``activity_history`` rows keyed by (collection_id, activity_type,
sceneid) with a unique constraint (models.py:60-63), upserted by
``create_execution`` (tasks.py:45-93) which also shallow-merges the
``args`` JSON across hops (tasks.py:86-89). Retries for offline data
re-queue up to 72 times every 900s (tasks.py:129-134, Y2).

Spark re-expression: the ledger is a catalog table; dispatch is a
dedup + MERGE (Y5), execution history is an append, and the retry
horizon is a *due-rows* query over a persisted ledger — state lives in
the table, never in streaming memory, so an engine restart loses
nothing (SURVEY §7.3 hard part d). The monitoring plane reads the
ledger through :func:`attempts` and :func:`latest_attempts` only, so
the reference's filters and the choice of an activity's latest attempt
live here once.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bdc_collection_builder_spark.catalog.store import CatalogStore

RETRY_MAX_ATTEMPTS = 72          # TASK_RETRY_COUNT, tasks.py:131
RETRY_DELAY_SECONDS = 900        # TASK_RETRY_DELAY, config.py:102


def dispatch_activities(store: CatalogStore, scenes: DataFrame,
                        collection_id: int, activity_type: str,
                        args_json: DataFrame | None = None) -> DataFrame:
    """Create one activity per scene, idempotently (Y5): duplicates
    within the batch collapse via dropDuplicates; duplicates across
    batches collapse via the keyed MERGE."""
    current = store.read("activities")
    next_id = (current.agg(F.coalesce(F.max("id"), F.lit(0)).alias("m"))
               .collect()[0]["m"])  # tiny scalar read of a catalog table
    incoming = (
        scenes.select(F.col("scene_id").alias("sceneid"),
                      F.to_json(F.struct(
                          F.col("cloud_cover").alias("cloud"),
                          F.col("dataset"),
                          F.col("link"))).alias("args"))
        .dropDuplicates(["sceneid"])
        .withColumn("collection_id", F.lit(collection_id).cast("int"))
        .withColumn("activity_type", F.lit(activity_type))
        .withColumn("scene_type", F.lit("SCENE"))
        .withColumn("tags", F.array().cast("array<string>"))
        .withColumn("created", F.current_timestamp().cast("timestamp_ntz"))
        .withColumn("updated", F.current_timestamp().cast("timestamp_ntz"))
        .withColumn(
            "id",
            (F.lit(next_id) + F.row_number().over(Window.orderBy("sceneid")))
            .cast("long"),
        )
    )
    # Keep ids of already-existing activities (idempotent re-dispatch):
    existing = current.select("id", "collection_id", "activity_type", "sceneid")
    fresh = incoming.join(existing.drop("id"),
                          ["collection_id", "activity_type", "sceneid"],
                          "left_anti")
    store.merge_upsert("activities", fresh)
    return store.read("activities").filter(
        (F.col("collection_id") == collection_id)
        & (F.col("activity_type") == activity_type))


def record_attempts(store: CatalogStore, attempts: DataFrame) -> None:
    """Append execution attempts: one tasks row + one history link per
    attempt (create_execution semantics, tasks.py:45-93)."""
    next_task = (store.read("tasks")
                 .agg(F.coalesce(F.max("id"), F.lit(0)).alias("m"))
                 .collect()[0]["m"])
    numbered = attempts.withColumn(
        "id", (F.lit(next_task) + F.row_number().over(
            Window.orderBy("activity_id"))).cast("long"))
    store.append("tasks", numbered.select(
        "id",
        F.concat(F.lit("uuid-"), F.lpad(F.col("id").cast("string"), 8, "0"))
         .alias("task_id"),
        "status",
        F.col("ts").cast("timestamp_ntz").alias("date_done"),
        F.lit(None).cast("string").alias("traceback"),
    ))
    store.append("activity_history", numbered.select(
        "activity_id",
        F.col("id").alias("task_id"),
        F.col("ts").cast("timestamp_ntz").alias("start"),
        F.lit(None).cast("string").alias("env"),
    ))


def activities(store: CatalogStore, collection: int | None = None,
               type_contains: str | None = None) -> DataFrame:
    """The activities table under the reference's activity filters
    (controller.py:426-495): collection equality, activity_type
    contains."""
    acts = store.read("activities")
    if collection is not None:
        acts = acts.filter(F.col("collection_id") == collection)
    if type_contains:
        acts = acts.filter(F.col("activity_type").contains(type_contains))
    return acts


def attempts(store: CatalogStore, start_date: str | None = None,
             last_date: str | None = None, collection: int | None = None,
             type_contains: str | None = None) -> DataFrame:
    """J1 — one row per execution attempt, history ⋈ tasks ⋈ activities,
    the join every monitoring query of the reference reads. The date
    bounds are inclusive days on ``start``; the activity filters are
    those of :func:`activities`."""
    hist = store.read("activity_history")
    if start_date:
        hist = hist.filter(F.col("start") >= F.lit(f"{start_date} 00:00:00"))
    if last_date:
        hist = hist.filter(F.col("start") <= F.lit(f"{last_date} 23:59:00"))
    tasks = store.read("tasks").select(F.col("id").alias("task_id"), "status")
    acts = activities(store, collection, type_contains).select(
        F.col("id").alias("activity_id"), "sceneid", "activity_type")
    return (
        hist.select("activity_id", "task_id", "start")
        .join(tasks, "task_id")
        .join(acts, "activity_id")
        .select("activity_id", "sceneid", "activity_type", "status", "start")
    )


def latest_attempts(df: DataFrame) -> DataFrame:
    """W1/W2 — each activity's latest attempt among ``df``'s rows: one
    ranking window, ``start DESC, status ASC`` (a tie on ``start`` goes
    to the alphabetically first status, e.g. FAILURE over SUCCESS)."""
    w = Window.partitionBy("activity_id").orderBy(
        F.col("start").desc(), F.col("status"))
    return (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def failed_latest(store: CatalogStore) -> DataFrame:
    """J5/W2 — activities whose latest attempt is not SUCCESS."""
    return latest_attempts(attempts(store)).filter(
        F.col("status") != "SUCCESS")


def due_retries(store: CatalogStore, now: dt.datetime) -> DataFrame:
    """Y2 — late-data retry ledger: failed latest attempts whose next
    due time has passed and attempt count < 72. The ≤18h late-data
    horizon (72 × 900s) is a filter over the persisted ledger — the
    streaming-watermark analog without in-flight state."""
    attempts_per_activity = (
        store.read("activity_history").groupBy("activity_id")
        .agg(F.count("*").alias("n_attempts"),
             F.max("start").alias("last_attempt")))
    failed = failed_latest(store).select("activity_id", "sceneid", "activity_type")
    return (
        failed.join(attempts_per_activity, "activity_id")
        .filter(F.col("n_attempts") < RETRY_MAX_ATTEMPTS)
        .filter(F.col("last_attempt")
                <= F.lit(now - dt.timedelta(seconds=RETRY_DELAY_SECONDS))
                .cast("timestamp_ntz"))
    )
