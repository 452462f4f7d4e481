"""Incremental ingestion on Structured Streaming (SURVEY §2.9).

The reference's Celery topology is continuous arrival on per-stage
queues with at-least-once delivery and idempotent publish (Y1-Y6).
Spark mapping:

- arrival: a file/Delta streaming source per stage directory
- exactly-once-ish publish: ``foreachBatch`` + keyed MERGE into the
  items table (idempotent on (name, collection_id)) — re-delivered
  batches collapse (Y3/Y4)
- in-batch dedup: dropDuplicates on the merge key (Y5)
- bounded catch-up runs: ``Trigger.AvailableNow`` processes the
  backlog then stops — the batch-mode analog of the always-on workers
- windowed monitoring: watermarked event-time aggregation (Y6)

Every stream function here is a blocking drain through :func:`drain`
(or :func:`drain_to_memory`, whose functions return the drained rows);
no other code starts or awaits a stream.

Late-data retry state (Y2) deliberately does NOT live in streaming
state: it's the persisted ledger (pipeline/ledger.due_retries), so a
restart loses nothing.
"""

from __future__ import annotations

import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from bdc_collection_builder_spark.catalog.schemas import SCHEMAS
from bdc_collection_builder_spark.catalog.store import CatalogStore


# One schema literal for every events stream reader in the package
# (batch readers go through sources.tables.load_table, which also
# normalizes bigint/timestamp_ntz ts variants).
EVENTS_STREAM_SCHEMA = ("event_id long, ts timestamp, user_id long, "
                        "event_type string, value double, props string")
DOCS_STREAM_SCHEMA = "doc_id long, text string"

WINDOW = "10 minutes"            # tumbling window of the monitoring counts
WATERMARK = "30 minutes"         # lateness bound of every watermarked stream
FOLLOWUP_WINDOW = "10 minutes"   # how long after an error a follow-up counts
NEAR_DUP_THRESHOLD = 0.5         # exact Jaccard at/above which a doc is a dup

# Longest a drain may run before it is stopped and fails.
DRAIN_TIMEOUT_S = 300


def drain(writer: DataStreamWriter, checkpoint_dir: str) -> None:
    """Run ``writer``'s stream over its backlog and return when done.

    The one place a stream starts: it checkpoints to
    ``checkpoint_dir``, runs with ``Trigger.AvailableNow`` (process
    what has arrived, then stop) and waits at most
    ``DRAIN_TIMEOUT_S``. A drain still running then is stopped and
    raises ``TimeoutError``, so no caller reads a half-drained sink
    while the query keeps writing it; a failed micro-batch raises the
    query's exception. Per-trigger records belong here too."""
    query = (writer.option("checkpointLocation", checkpoint_dir)
             .trigger(availableNow=True).start())
    if not query.awaitTermination(DRAIN_TIMEOUT_S):
        query.stop()
        raise TimeoutError(
            f"stream drain still running after {DRAIN_TIMEOUT_S} s")


def drain_to_memory(spark: SparkSession, writer: DataStreamWriter,
                    checkpoint_dir: str) -> DataFrame:
    """Drain ``writer`` into a memory sink and return its rows.

    The sink gets a unique name, and its temp view is dropped once the
    returned DataFrame holds the sink, so the rows live as long as that
    DataFrame and no view outlives it in the session. Spark's memory
    sink cannot recover from a checkpoint: give each drain a fresh
    ``checkpoint_dir``. ``spark`` must be the session of the
    writer's DataFrame: the sink's view lives in that session."""
    name = f"drain_{uuid.uuid4().hex}"
    try:
        drain(writer.format("memory").queryName(name), checkpoint_dir)
        return spark.table(name)
    finally:
        spark.catalog.dropTempView(name)


@contextmanager
def drain_partitions(spark: SparkSession):
    """Run a drain with ``spark.sql.shuffle.partitions`` set to
    ``min(8, defaultParallelism)``, restoring the previous value on
    exit, including when the body raises.

    Each micro-batch of a drain runs its joins, distincts and state
    store over a batch-sized frame, and state-store cost scales with
    partitions x micro-batches: every state partition commits its
    files each batch, and the no-data eviction batch pays per
    partition too. At the registry's batch keyspaces 8 partitions
    suffice; capping them at the cores keeps each batch's commits in
    one wave of tasks. Production sizes this to key cardinality and
    batch volume, not the relational shuffle default. Run the whole
    drain inside the block: stateful operators fix their partition
    count into the checkpoint at the first batch, and ``foreachBatch``
    bodies read the setting as each batch runs.
    """
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions",
                   str(min(8, spark.sparkContext.defaultParallelism)))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def incremental_publish(spark: SparkSession, incoming_dir: str,
                        store: CatalogStore, checkpoint_dir: str) -> None:
    """Drain arriving item rows (parquet files dropped into
    ``incoming_dir``) into the catalog with a keyed MERGE. Safe under
    re-delivery: the MERGE key makes re-processing a no-op row
    replacement."""
    stream = (
        spark.readStream.schema(SCHEMAS["items"]).parquet(incoming_dir)
    )

    def publish_batch(batch: DataFrame, epoch_id: int) -> None:
        store.merge_upsert(
            "items", batch.dropDuplicates(["name", "collection_id"]))

    drain(stream.writeStream.foreachBatch(publish_batch), checkpoint_dir)


def incremental_publish_transactional(spark: SparkSession, incoming_dir: str,
                                      store: CatalogStore,
                                      checkpoint_dir: str) -> None:
    """Y3/Y4 with the reference's FULL commit scope: publish.py's task
    commits the STAC item AND its task status inside one SQLAlchemy
    session (publish.py:575-605) — either both land or neither. Here
    each micro-batch runs the items MERGE and the SUCCESS task-row
    MERGE inside one :meth:`CatalogStore.transaction`, so a crash
    between the two writes can never leave a published item without
    its ledger row (or vice versa); the intent log replays the commit
    on the next store open.

    Idempotent under re-delivery twice over: the items MERGE collapses
    on (name, collection_id), and the task row's id is a deterministic
    hash of the same key — re-processing a batch rewrites identical
    rows instead of appending duplicates."""
    stream = (
        spark.readStream.schema(SCHEMAS["items"]).parquet(incoming_dir)
    )

    def publish_batch(batch: DataFrame, epoch_id: int) -> None:
        items = batch.dropDuplicates(["name", "collection_id"])
        tasks = items.select(
            F.xxhash64(F.concat_ws(
                ":", F.lit("publish"), "name",
                F.col("collection_id").cast("string"))).alias("id"),
            F.concat_ws(":", F.lit("publish"), "name").alias("task_id"),
            F.lit("SUCCESS").alias("status"),
            F.current_timestamp().cast("timestamp_ntz").alias("date_done"),
            F.lit(None).cast("string").alias("traceback"),
        )
        with store.transaction() as txn:
            txn.merge_upsert("items", items)
            txn.merge_upsert("tasks", tasks, keys=["id"])

    drain(stream.writeStream.foreachBatch(publish_batch), checkpoint_dir)


def streaming_status_counts(spark: SparkSession, events_dir: str,
                            checkpoint_dir: str) -> DataFrame:
    """Y6 — per-window per-type counts: the streaming form of the
    monitoring plane's A2 histogram, drained and returned.

    Complete output mode so every window (including those newer than
    any watermark at end-of-input) is visible to the dashboard — the
    state here is one row per (10-min window, event_type), tiny even at
    100 TB of events. For an append-mode sink (e.g. files), add
    ``withWatermark("ts", WATERMARK)`` to bound state and accept that
    the trailing windows emit only on the next trigger — the
    bounded-state analog of the reference's 72x900s retry horizon."""
    stream = spark.readStream.schema(EVENTS_STREAM_SCHEMA).parquet(events_dir)
    agg = (
        stream
        .groupBy(F.window("ts", WINDOW), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("window.start").alias("window_start"), "event_type", "n")
    )
    return drain_to_memory(spark, agg.writeStream.outputMode("complete"),
                           checkpoint_dir)


def streaming_windowed_counts_append(spark: SparkSession, events_dir: str,
                                     checkpoint_dir: str,
                                     out_dir: str) -> None:
    """Y2/Y6 — the bounded-state form of :func:`streaming_status_counts`:
    event-time windows under a watermark, append output.

    A window emits exactly once, when the watermark (max event time −
    ``WATERMARK``) passes its end; events arriving later than the
    watermark are DROPPED, so state is O(open windows), never O(history)
    — the streaming analog of the reference's finite 72×900 s late-data
    horizon (tasks.py:129-134): lateness beyond the horizon stops being
    the engine's problem. Rows already emitted are never revised, so the
    sink is an append-only parquet directory (checkpoint-recoverable,
    unlike the memory sink) — each restart resumes the watermark from
    state and emits only newly-closed windows."""
    stream = spark.readStream.schema(EVENTS_STREAM_SCHEMA).parquet(events_dir)
    agg = (
        stream.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", WINDOW), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("window.start").alias("window_start"), "event_type", "n")
    )
    drain(agg.writeStream.outputMode("append")
          .format("parquet").option("path", out_dir), checkpoint_dir)


def incremental_dedup(spark: SparkSession, incoming_dir: str,
                      seen_dir: str, out_dir: str,
                      checkpoint_dir: str) -> None:
    """Streaming exact dedup with a persistent seen-set — the streaming
    face of dd_exact_duplicates for continuously-arriving corpora.

    Per micro-batch: hash content, keep the first row per hash within
    the batch (min id), anti-join the persisted seen-set, append the
    survivors to ``out_dir`` and their hashes to ``seen_dir``. Safe
    under at-least-once redelivery: a redelivered batch anti-joins away
    against the seen-set it already wrote (duplicate hash rows inside
    ``seen_dir`` from a mid-batch crash are harmless — the anti-join
    semantics don't change). At 100 TB the seen-set is the same parquet
    layout bucketed by hash so the anti-join co-locates; no driver
    state, no streaming state store — a restart loses nothing."""
    from pyspark.sql.utils import AnalysisException
    from pyspark.sql.window import Window

    stream = spark.readStream.schema(DOCS_STREAM_SCHEMA).parquet(incoming_dir)

    def dedup_batch(batch: DataFrame, epoch_id: int) -> None:
        hashed = batch.select(
            "doc_id", "text", F.md5("text").alias("content_hash"))
        w = Window.partitionBy("content_hash").orderBy("doc_id")
        first = (
            hashed.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1).drop("rn")
        )
        try:
            seen = batch.sparkSession.read.parquet(seen_dir)
        except AnalysisException:       # first batch: no seen-set yet
            seen = None
        fresh = (first.join(seen, "content_hash", "left_anti")
                 if seen is not None else first)
        fresh.write.mode("append").parquet(out_dir)
        fresh.select("content_hash").write.mode("append").parquet(seen_dir)

    drain(stream.writeStream.foreachBatch(dedup_batch), checkpoint_dir)


def streaming_hll_sketches(spark: SparkSession, events_dir: str,
                           checkpoint_dir: str, out_dir: str) -> None:
    """The streaming twin of a18_hll_rollup: every trigger builds
    per-(day, event_type) HLL sketches over JUST the newly arrived
    files and APPENDS them to a sketch table. Because register-max
    union is associative/commutative/idempotent over sketch rows, the
    rollup query (``hll_union_agg`` over ``out_dir``) returns the same
    estimate no matter how arrival chopped the data into triggers —
    distinct-counting becomes an O(sketch-table) incremental read, the
    event log is never rescanned. At-least-once file redelivery only
    duplicates sketch rows, which union absorbs (idempotent by the
    same property)."""
    stream = spark.readStream.schema(EVENTS_STREAM_SCHEMA).parquet(events_dir)

    def sketch_batch(batch: DataFrame, epoch_id: int) -> None:
        (batch.select(F.to_date("ts").alias("day"), "event_type", "user_id")
         .groupBy("day", "event_type")
         .agg(F.hll_sketch_agg("user_id", 12).alias("sk"))
         .write.mode("append").parquet(out_dir))

    drain(stream.writeStream.foreachBatch(sketch_batch), checkpoint_dir)


def hll_rollup_estimate(spark: SparkSession, sketch_dir: str) -> DataFrame:
    """Distinct-user estimate per event_type from the persisted sketch
    table alone (no event-log scan)."""
    return (
        spark.read.parquet(sketch_dir)
        .groupBy("event_type")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk"))
             .cast("bigint").alias("approx_users"))
    )


def incremental_near_dedup(spark: SparkSession, incoming_dir: str,
                           state_dir: str, out_dir: str,
                           checkpoint_dir: str) -> None:
    """Streaming NEAR-duplicate dedup — the incremental face of
    dd_minhash_lsh_pairs for continuously-arriving corpora.

    The accepted-corpus state is two parquet tables under
    ``state_dir``: the shingle-hash table and the banded MinHash
    signatures (exactly what the batch operator computes, persisted
    instead of recomputed — ONE shingle/signature pass per batch feeds
    both the within-batch pair check and the state probe). Per
    micro-batch:

    1. shingle + sign the whole batch once; docs shorter than the
       shingle width get a degenerate whole-text shingle so they still
       enter state (their near-dup detection honestly degrades to
       exact-text match),
    2. within-batch near-dups collapse (band-bucket candidates +
       exact-Jaccard verify; the lower doc_id survives — conservative
       on chains, documented),
    3. survivors probe the persisted band table with an EQUI-join on
       (band, band_key) — cost ∝ colliding candidates, never
       batch × corpus — and candidates verify with exact Jaccard
       against the persisted shingle table; docs at/above
       ``NEAR_DUP_THRESHOLD`` are dropped as dups,
    4. accepted docs append to ``out_dir`` and both state tables,
       each append anti-joined against what that sink ALREADY holds.

    At-least-once redelivery is safe at every crash point: the
    per-sink anti-joins make all three appends idempotent (a replayed
    epoch re-derives the same accepted set — self-matches in state are
    excluded from the dup test since doc ids are stable — and then
    appends nothing new), and the state tables are deduped at read so
    even a torn double-append cannot skew a Jaccard verdict. At
    100 TB the state tables are hash-bucketed on band_key / shingle so
    the probe joins co-locate; no streaming state store — restart
    replays only uncommitted files. The drain runs under
    :func:`drain_partitions`."""
    from pyspark.sql.utils import AnalysisException

    from bdc_collection_builder_spark.extensions.dedup import (
        banded_signatures,
        shingles,
    )

    bands_dir = f"{state_dir}/bands"
    shingles_dir = f"{state_dir}/shingles"

    stream = spark.readStream.schema(DOCS_STREAM_SCHEMA).parquet(incoming_dir)

    def read_or_none(ss, path):
        try:
            return ss.read.parquet(path)
        except AnalysisException:       # first batch: sink not created
            return None

    def verified_pairs(cand, sh_a, sh_b):
        """Exact-Jaccard >= threshold over candidate (doc_id, old_id)
        pairs, shingle tables keyed doc_id / old_id."""
        n_a = sh_a.groupBy("doc_id").agg(F.count("*").alias("n_a"))
        n_b = sh_b.groupBy("old_id").agg(F.count("*").alias("n_b"))
        common = (
            cand.join(sh_a, "doc_id")
            .join(sh_b, ["old_id", "shingle"])
            .groupBy("doc_id", "old_id")
            .agg(F.count("*").alias("n_common"))
        )
        jac = (F.col("n_common")
               / (F.col("n_a") + F.col("n_b") - F.col("n_common")))
        # round like the batch operator (minhash_lsh_pairs) so the
        # streaming verdicts match it doc-for-doc at the boundary
        return (common.join(n_a, "doc_id").join(n_b, "old_id")
                .filter(F.round(jac, 4) >= NEAR_DUP_THRESHOLD))

    def dedup_batch(batch: DataFrame, epoch_id: int) -> None:
        ss = batch.sparkSession
        batch = batch.dropDuplicates(["doc_id"])
        # 1. ONE shingle pass; whole-text fallback for sub-k-token docs
        sh = shingles(batch, hashed=True)
        fallback = (
            batch.join(sh.select("doc_id").distinct(), "doc_id", "left_anti")
            .select("doc_id", F.xxhash64("text").alias("shingle"))
        )
        sh_all, banded_all = banded_signatures(sh=sh.unionByName(fallback))
        sh_all = sh_all.persist()
        banded_all = banded_all.persist()
        # 2. within-batch near-dups: lower id wins
        a = banded_all.alias("a")
        b = banded_all.alias("b")
        cand_in = (
            a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.band_key") == F.col("b.band_key"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("b.doc_id").alias("doc_id"),
                    F.col("a.doc_id").alias("old_id")).distinct()
        )
        sh_as_old = sh_all.withColumnRenamed("doc_id", "old_id")
        losers = (verified_pairs(cand_in, sh_all, sh_as_old)
                  .select("doc_id").distinct())
        survivors = batch.join(losers, "doc_id", "left_anti")
        surv_ids = survivors.select("doc_id")
        sh_surv = sh_all.join(surv_ids, "doc_id")
        banded_surv = banded_all.join(surv_ids, "doc_id")
        # 3. probe the persisted state (deduped at read: a torn
        # double-append from a crashed epoch must not skew Jaccard)
        state_bands = read_or_none(ss, bands_dir)
        if state_bands is not None:
            state_bands = state_bands.dropDuplicates(
                ["doc_id", "band", "band_key"])
            state_sh = (read_or_none(ss, shingles_dir)
                        .withColumnRenamed("doc_id", "old_id")
                        .dropDuplicates(["old_id", "shingle"]))
            cand = (
                banded_surv.join(
                    state_bands.withColumnRenamed("doc_id", "old_id"),
                    ["band", "band_key"])
                .select("doc_id", "old_id").distinct()
                # ids are stable, so a redelivered doc meeting its own
                # state rows is NOT a duplicate — without this a crash
                # between the state and output appends would lose it
                .filter(F.col("doc_id") != F.col("old_id"))
            )
            dup_ids = (verified_pairs(cand, sh_surv, state_sh)
                       .select("doc_id").distinct())
            accepted = survivors.join(dup_ids, "doc_id", "left_anti")
        else:
            accepted = survivors
        # 4. idempotent appends: each sink only receives ids it does
        # not already hold, so replaying this epoch after ANY partial
        # failure converges instead of duplicating
        already_out = read_or_none(ss, out_dir)
        to_out = (accepted if already_out is None
                  else accepted.join(already_out.select("doc_id"),
                                     "doc_id", "left_anti"))
        to_out.write.mode("append").parquet(out_dir)
        in_state = (None if state_bands is None
                    else state_bands.select("doc_id").distinct())
        acc_ids = accepted.select("doc_id")
        new_state_ids = (acc_ids if in_state is None
                         else acc_ids.join(in_state, "doc_id", "left_anti"))
        banded_surv.join(new_state_ids, "doc_id").write.mode("append") \
            .parquet(bands_dir)
        sh_surv.join(new_state_ids, "doc_id").write.mode("append") \
            .parquet(shingles_dir)
        sh_all.unpersist()
        banded_all.unpersist()

    with drain_partitions(spark):
        drain(stream.writeStream.foreachBatch(dedup_batch), checkpoint_dir)


def streaming_interval_join(spark: SparkSession, errors_dir: str,
                            events_dir: str, checkpoint_dir: str,
                            outer: bool = False) -> DataFrame:
    """Y-series stream-stream INTERVAL join: a live stream of error
    events joined against the live event firehose, matching same-user
    follow-ups inside ``[error.ts, error.ts + FOLLOWUP_WINDOW]``;
    drained under :func:`drain_partitions` and returned as
    (error_id, followup_id) rows.

    This is the join family batch tj_range_error_followups expresses
    offline, kept runnable continuously: both sides carry watermarks
    and the join condition bounds event-time distance, so Spark can
    compute how long an unmatched row might still find a partner and
    EVICT state past that horizon — state is O(watermark window of both
    streams), never O(history). Inner join + availableNow drain emits
    exactly the batch join's pairs, which is what the oracle replays.

    ``outer=True`` makes it a left-OUTER join over non-error
    follow-ups: every error, paired with its follow-ups or emitted
    once with a NULL follow-up if none arrives before the join state
    is evicted. (The follow-up side drops errors because an error
    would otherwise match itself and never be null-padded.) Matched
    pairs emit immediately, but an unmatched error can only be
    declared unmatched once the follow-up watermark has passed
    ``error.ts + FOLLOWUP_WINDOW`` — i.e. when no qualifying row can
    still arrive. Errors whose eligibility horizon lies beyond the
    FINAL watermark of the drained stream stay pending and are never
    emitted; the batch oracle must (and does) replay exactly that
    horizon rule, which makes the outer join a value-exact check of
    Spark's outer-join state-eviction contract rather than rows-only.
    """
    err = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA).parquet(errors_dir)
        .filter(F.col("event_type") == "error")
        .select(F.col("user_id").alias("e_user"),
                F.col("event_id").alias("error_id"),
                F.col("ts").alias("e_ts"))
        .withWatermark("e_ts", WATERMARK)
    )
    fol = spark.readStream.schema(EVENTS_STREAM_SCHEMA).parquet(events_dir)
    if outer:
        fol = fol.filter(F.col("event_type") != "error")
    fol = (
        fol.select(F.col("user_id").alias("f_user"),
                   F.col("event_id").alias("followup_id"),
                   F.col("ts").alias("f_ts"))
        .withWatermark("f_ts", WATERMARK)
    )
    pairs = (
        err.join(
            fol,
            (F.col("e_user") == F.col("f_user"))
            & (F.col("f_ts") >= F.col("e_ts"))
            & (F.col("f_ts")
               <= F.col("e_ts") + F.expr(f"INTERVAL {FOLLOWUP_WINDOW}")),
            "leftOuter" if outer else "inner")
        .select("error_id", "followup_id")
    )
    with drain_partitions(spark):
        return drain_to_memory(spark,
                               pairs.writeStream.outputMode("append"),
                               checkpoint_dir)


def incremental_erasure(spark: SparkSession, requests_dir: str,
                        store: CatalogStore, checkpoint_dir: str,
                        max_inlist_keys: int = 256,
                        retain_generations: int | None = None) -> None:
    """Drain DELETE requests (erasure/compliance feed) into the items
    table: each micro-batch of (name, collection_id) keys becomes ONE
    delete rewrite through the store's CAS loop.

    Idempotent under at-least-once delivery: re-deleting an absent key
    is a no-op rewrite, so replayed batches converge (same contract as
    incremental_publish's MERGE). Two batch-size regimes:

    - up to ``max_inlist_keys`` keys: the predicate is an IN-list over
      the collected batch (``delete_where``) — one bounded driver
      collect, cheapest when the compliance queue drips.
    - larger batches: ``store.delete_keys`` — an anti-join MERGE whose
      key set stays a DataFrame end-to-end, so a million-key backfill
      costs one distributed left_anti join and NO data-sized driver
      collect. The regime probe collects at most max_inlist_keys+1
      rows, never the batch.

    MVCC caveat (same as Delta): the delete creates a new generation —
    prior snapshots still hold the rows until vacuum passes the
    retention horizon, which is the part that actually forgets. Pass
    ``retain_generations`` to close that loop IN the stream: after
    each batch's delete commits, ``store.vacuum("items", keep_last=N)``
    expires the history holding the erased bytes (N=1 = current
    snapshot only — full right-to-be-forgotten semantics, at the cost
    of time travel on this table)."""
    key_cols = ["name", "collection_id"]

    def quoted(name: str) -> str:
        return "'" + name.replace("'", "''") + "'"

    def erase_batch(batch: DataFrame, epoch_id: int) -> None:
        # NULL-valued key tuples are ignored in BOTH regimes:
        # delete_keys filters them by rule, and the IN-list path would
        # otherwise render a NULL literal as an unresolvable token and
        # crash the stream — share the rule.
        distinct = batch.dropDuplicates(key_cols).dropna(subset=key_cols)
        # bounded probe: fetch threshold+1 rows, NEVER the whole batch
        keys = distinct.limit(max_inlist_keys + 1).collect()
        if not keys:
            return
        if len(keys) > max_inlist_keys:
            store.delete_keys("items", distinct, key_cols)
        else:
            store.delete_where("items", " OR ".join(
                f"(name = {quoted(r.name)} "
                f"AND collection_id = {r.collection_id})" for r in keys))
        if retain_generations is not None:
            store.vacuum("items", keep_last=retain_generations)

    stream = (spark.readStream.schema("name string, collection_id int")
              .parquet(requests_dir))
    drain(stream.writeStream.foreachBatch(erase_batch), checkpoint_dir)


def streaming_static_enrich(spark: SparkSession, events_dir: str,
                            dim_df: DataFrame, checkpoint_dir: str,
                            out_dir: str | None = None) -> DataFrame | None:
    """Y-series stream-STATIC enrichment join: the live purchase
    stream joined against a broadcast dimension (the canonical
    "enrich the firehose with reference data" topology — the
    reference's collector tags every scene with its collection row
    the same way). The join is STATELESS: the static side is
    broadcast to every task and each micro-batch joins map-side, so
    there is no join state, no watermark requirement, and nothing to
    evict — the streaming plan is the batch broadcast join replayed
    per batch, which is why the drained output equals the batch join
    exactly (the oracle's check). Sinks: the default memory sink
    (``out_dir=None``) is the one-shot drain the registered query
    uses, and its rows are returned — Spark's memory sink does NOT
    support checkpoint RECOVERY, so it only drains a fresh checkpoint;
    pass ``out_dir`` for the parquet sink, whose checkpoint makes
    re-triggering exactly-once (redelivery emits nothing; a new input
    file emits only its own rows — pinned in tests/test_streaming.py).
    The drain runs under :func:`drain_partitions`."""
    stream = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA).parquet(events_dir)
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id",
                F.round(F.col("value") * 100).cast("bigint")
                .alias("cents"))
        .withColumn("nkey", F.pmod(F.col("user_id"), F.lit(25))
                    .cast("int"))
    )
    enriched = stream.join(F.broadcast(dim_df), "nkey").select(
        "event_id", "region_name", "cents")
    writer = enriched.writeStream.outputMode("append")
    with drain_partitions(spark):
        if out_dir is None:
            return drain_to_memory(spark, writer, checkpoint_dir)
        drain(writer.format("parquet").option("path", out_dir),
              checkpoint_dir)
    return None
