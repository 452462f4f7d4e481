"""Structured Streaming: incremental publish idempotence + windowed
monitoring with watermarks (SURVEY §2.9 Y1-Y6)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from bdc_collection_builder_spark.catalog.fixtures import make_fixtures
from bdc_collection_builder_spark.catalog.store import CatalogStore
from bdc_collection_builder_spark.streaming.incremental import (
    incremental_publish,
    streaming_status_counts,
)


def test_incremental_publish_merges_idempotently(spark, tmp_path):
    fx = make_fixtures(spark, n_scenes=30, n_tiles=4)
    store = CatalogStore(spark, str(tmp_path / "cat"))
    store.overwrite("items", fx["items"].limit(10))
    incoming = str(tmp_path / "incoming")
    checkpoint = str(tmp_path / "ckpt")

    # Drop the full item set (overlapping the 10 existing) as a backlog.
    fx["items"].write.mode("overwrite").parquet(incoming)
    incremental_publish(spark, incoming, store, checkpoint)
    n_after_first = store.read("items").count()
    assert n_after_first == fx["items"].count(), "all items merged once"

    # Re-deliver the same files under a fresh checkpoint (simulated
    # at-least-once re-delivery): MERGE keys keep the table stable.
    incremental_publish(spark, incoming, store, str(tmp_path / "ckpt2"))
    assert store.read("items").count() == n_after_first


def test_streaming_windowed_counts(spark, tmp_path, sf_dir):
    from bdc_collection_builder_spark.sources.tables import load_table

    events_dir = str(tmp_path / "events")
    (load_table(spark, sf_dir, "events")
     .withColumn("ts", F.col("ts").cast("timestamp"))
     .write.mode("overwrite").parquet(events_dir))
    out = streaming_status_counts(spark, events_dir, str(tmp_path / "ckpt3"))
    batch = (load_table(spark, sf_dir, "events")
             .groupBy(F.window("ts", "10 minutes"), "event_type")
             .agg(F.count("*").alias("n")))
    # The streaming aggregation over the same bounded input must agree
    # with the batch plan (watermark drops nothing on ordered replay).
    assert out.agg(F.sum("n")).collect()[0][0] == \
        batch.agg(F.sum("n")).collect()[0][0]


def test_stateful_sessionize_matches_batch(spark, tmp_path, sf_dir):
    from pyspark.sql import Window

    from bdc_collection_builder_spark.sources.tables import load_table
    from bdc_collection_builder_spark.streaming.stateful import (
        streaming_sessionize,
    )

    events_dir = str(tmp_path / "sess_events")
    (load_table(spark, sf_dir, "events")
     .write.mode("overwrite").parquet(events_dir))
    got = streaming_sessionize(
        spark, events_dir, str(tmp_path / "ckpt_sess")
    ).select("user_id", "session_start", "n_events")

    # Batch truth: gap-based sessions; the stream leaves each user's
    # LAST session open in state, so compare against all-but-last.
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    lagged = F.lag("ts").over(w)
    new_session = F.when(
        lagged.isNull()
        | (F.col("ts").cast("timestamp").cast("double")
           - lagged.cast("timestamp").cast("double") > 1800), 1
    ).otherwise(0)
    sessions = (
        events.withColumn("ns", new_session)
        .withColumn("sno", F.sum("ns").over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("user_id", "sno")
        .agg(F.min("ts").alias("session_start"),
             F.count("*").alias("n_events"))
    )
    closed = sessions.withColumn(
        "max_sno", F.max("sno").over(Window.partitionBy("user_id"))
    ).filter(F.col("sno") < F.col("max_sno"))

    got_set = {(r.user_id, r.session_start, r.n_events)
               for r in got.collect()}
    want_set = {(r.user_id, r.session_start, r.n_events)
                for r in closed.collect()}
    assert want_set, "fixture should produce closed sessions"
    assert got_set == want_set


def test_incremental_dedup_across_batches(spark, tmp_path, sf_dir):
    from bdc_collection_builder_spark.sources.tables import load_table
    from bdc_collection_builder_spark.streaming.incremental import (
        incremental_dedup,
    )

    incoming = str(tmp_path / "incoming")
    seen = str(tmp_path / "seen")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    # batch 1: docs 0-19; batch 2 arrives later with overlap 10-29 as
    # re-uploads under new ids (same text => same content hash)
    docs.filter(F.col("doc_id") < 20).write.mode("append").parquet(incoming)
    incremental_dedup(spark, incoming, seen, out, ck)
    n_first = spark.read.parquet(out).count()
    assert n_first == 20

    (docs.filter((F.col("doc_id") >= 10) & (F.col("doc_id") < 30))
     .select((F.col("doc_id") + 5000).alias("doc_id"), "text")
     .write.mode("append").parquet(incoming))
    incremental_dedup(spark, incoming, seen, out, ck)
    final = spark.read.parquet(out)
    # only the 10 genuinely-new texts (20-29) got through batch 2
    assert final.count() == 30
    assert final.select("content_hash").distinct().count() == 30


def test_watermark_append_drops_late_and_emits_once(spark, tmp_path):
    from bdc_collection_builder_spark.streaming.incremental import (
        streaming_windowed_counts_append,
    )

    events_dir = str(tmp_path / "wm_events")
    ck = str(tmp_path / "wm_ck")
    out = str(tmp_path / "wm_out")

    def write(rows):
        spark.createDataFrame(
            rows,
            "event_id long, ts string, user_id long, event_type string, "
            "value double, props string",
        ).withColumn("ts", F.col("ts").cast("timestamp")) \
         .write.mode("append").parquet(events_dir)

    # batch 1: three events in the 10:00 window; one at 11:00 pushes the
    # watermark to 10:30 at batch end, closing (and emitting) 10:00-10:10
    write([(1, "2026-01-01 10:01:00", 1, "click", 1.0, "{}"),
           (2, "2026-01-01 10:04:00", 1, "click", 1.0, "{}"),
           (3, "2026-01-01 10:09:00", 2, "click", 1.0, "{}"),
           (4, "2026-01-01 11:00:00", 2, "click", 1.0, "{}")])
    streaming_windowed_counts_append(spark, events_dir, ck, out)
    out1 = {(str(r.window_start), r.n)
            for r in spark.read.parquet(out).collect()}
    assert ("2026-01-01 10:00:00", 3) in out1
    assert not any(w.startswith("2026-01-01 11:") for w, _ in out1), \
        "open window must not emit in append mode"

    # batch 2: one LATE event (10:05, behind the 10:30 watermark — must
    # be dropped, not re-open the emitted window) and one at 12:00 that
    # closes the 11:00 window
    write([(5, "2026-01-01 10:05:00", 3, "click", 1.0, "{}"),
           (6, "2026-01-01 12:00:00", 3, "click", 1.0, "{}")])
    streaming_windowed_counts_append(spark, events_dir, ck, out)
    # the sink dir is cumulative: batch 2 must add ONLY the newly-closed
    # 11:00 window — one 10:00 row total (never revised, late row dropped)
    rows = [(str(r.window_start), r.n)
            for r in spark.read.parquet(out).collect()]
    assert ("2026-01-01 11:00:00", 1) in rows
    assert rows.count(("2026-01-01 10:00:00", 3)) == 1
    assert sum(1 for w, _ in rows if w.startswith("2026-01-01 10:0")) == 1, \
        "late event behind the watermark must be dropped, window not revised"


def test_checkpoint_restart_skips_committed_batches(spark, tmp_path):
    """Y4: restarting the publish stream against the SAME checkpoint
    must not re-read files whose batch already committed — the new
    run processes exactly the newly arrived files (checkpoint offset
    recovery), and the catalog converges to the full merge."""
    fx = make_fixtures(spark, n_scenes=30, n_tiles=4)
    store = CatalogStore(spark, str(tmp_path / "cat_r"))
    store.overwrite("items", fx["items"].limit(0))

    seen: list[int] = []

    class CountingStore(CatalogStore):
        def merge_upsert(self, table, incoming, keys=None):
            incoming = incoming.cache()
            seen.append(incoming.count())
            super().merge_upsert(table, incoming, keys)
            incoming.unpersist()

    counting = CountingStore(spark, str(tmp_path / "cat_r"))
    incoming = tmp_path / "incoming_r"
    ckpt = str(tmp_path / "ckpt_r")

    first = fx["items"].limit(10)
    first.coalesce(1).write.mode("overwrite").parquet(
        str(incoming / "wave1"))
    incremental_publish(spark, str(incoming / "wave1"), counting, ckpt)
    assert sum(seen) == 10
    n_first = counting.read("items").count()
    assert n_first == 10

    # second wave lands AFTER the first run stopped; same checkpoint
    fx["items"].coalesce(1).write.mode("append").parquet(
        str(incoming / "wave1"))
    seen.clear()
    incremental_publish(spark, str(incoming / "wave1"), counting, ckpt)
    # only the new file's rows flowed — wave 1's committed batch did not
    assert sum(seen) == fx["items"].count()
    assert counting.read("items").count() == fx["items"].count()


def test_streaming_hll_sketches_match_batch_rollup(spark, tmp_path, sf_dir):
    """Sketches built per-trigger over a chopped-up stream must union
    to the IDENTICAL estimate as one batch pass over all events —
    including after a redelivered (duplicate) wave, which register-max
    union absorbs."""
    from bdc_collection_builder_spark.sources.tables import load_table
    from bdc_collection_builder_spark.streaming.incremental import (
        hll_rollup_estimate,
        streaming_hll_sketches,
    )

    events = load_table(spark, sf_dir, "events") \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    events_dir = str(tmp_path / "ev_hll")
    # two waves = at least two files for the stream to chop on
    events.filter(F.col("event_id") % 2 == 0).coalesce(1) \
        .write.mode("overwrite").parquet(events_dir)
    events.filter(F.col("event_id") % 2 == 1).coalesce(1) \
        .write.mode("append").parquet(events_dir)

    out_dir = str(tmp_path / "sketches")
    streaming_hll_sketches(spark, events_dir,
                           str(tmp_path / "ckpt_hll"), out_dir)

    batch = {r.event_type: r.approx for r in
             events.groupBy("event_type")
             .agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id", 12))
                  .cast("bigint").alias("approx")).collect()}
    streamed = {r.event_type: r.approx_users
                for r in hll_rollup_estimate(spark, out_dir).collect()}
    assert streamed == batch

    # redelivery: append a duplicate sketch wave; estimates must not
    # move (idempotent union). Materialize before appending so the
    # read plan doesn't list its own in-flight output.
    dup = spark.createDataFrame(spark.read.parquet(out_dir).collect())
    dup.write.mode("append").parquet(out_dir)
    redelivered = {r.event_type: r.approx_users
                   for r in hll_rollup_estimate(spark, out_dir).collect()}
    assert redelivered == batch


@pytest.mark.slow  # >8s e2e pin: round-close gate (--runslow)
def test_incremental_near_dedup_across_batches(spark, tmp_path, sf_dir):
    """Near-copies arriving in a LATER wave must be dropped against the
    persisted LSH state (not just within-batch), fresh docs accepted,
    and a redelivered wave must add nothing (self-collision at
    Jaccard 1.0)."""
    from bdc_collection_builder_spark.sources.tables import load_table
    from bdc_collection_builder_spark.streaming.incremental import (
        incremental_near_dedup,
    )

    docs = (load_table(spark, sf_dir, "documents")
            .select("doc_id", "text").filter(F.col("doc_id") < 60))
    incoming = str(tmp_path / "nd_in")
    # wave 1: base corpus
    docs.coalesce(1).write.mode("overwrite").parquet(incoming)
    # wave 2: near-copies of every 10th doc + genuinely fresh docs
    near = (docs.filter(F.col("doc_id") % 10 == 0)
            .select((F.col("doc_id") + 1000000).alias("doc_id"),
                    F.concat("text", F.lit(" xy zz wq")).alias("text")))
    fresh = spark.createDataFrame(
        [(2000000, "completely novel content nothing shares these "
                   "tokens qqq www eee rrr ttt yyy uuu iii")],
        "doc_id long, text string")
    near.unionByName(fresh).coalesce(1).write.mode("append") \
        .parquet(incoming)

    state = str(tmp_path / "nd_state")
    out = str(tmp_path / "nd_out")
    incremental_near_dedup(spark, incoming, state, out,
                           str(tmp_path / "nd_ckpt"))

    accepted = {r.doc_id for r in spark.read.parquet(out).collect()}
    n_planted = docs.filter(F.col("doc_id") % 10 == 0).count()
    planted = {r.doc_id + 1000000
               for r in docs.filter(F.col("doc_id") % 10 == 0).collect()}
    assert n_planted > 0
    # every planted near-copy was dropped; the fresh doc survived
    assert not (accepted & planted), "near-copies crossed the state"
    assert 2000000 in accepted
    # base docs accepted EXCEPT those the batch operator itself calls
    # within-corpus near-dups (lower id wins) — streaming must agree
    # with the batch semantics on wave 1
    from bdc_collection_builder_spark.extensions.dedup import (
        minhash_lsh_pairs,
    )

    batch_losers = {r.doc_b for r in
                    minhash_lsh_pairs(docs, threshold=0.5).collect()}
    base_ids = {r.doc_id for r in docs.collect()}
    assert (base_ids - batch_losers) <= accepted
    assert not (accepted & batch_losers), \
        "within-batch near-dups must not be accepted"

    # redelivery: re-run the SAME files under a fresh checkpoint; the
    # accepted set must not grow (every doc self-collides in state)
    n_before = spark.read.parquet(out).count()
    incremental_near_dedup(spark, incoming, state, out,
                           str(tmp_path / "nd_ckpt2"))
    assert spark.read.parquet(out).count() == n_before


@pytest.mark.slow  # >8s e2e pin: round-close gate (--runslow)
def test_incremental_near_dedup_short_docs_idempotent(spark, tmp_path):
    """Docs shorter than the shingle width must still enter state (via
    the whole-text fallback shingle): exact re-uploads of a short doc
    are dropped and a full redelivery appends nothing."""
    from bdc_collection_builder_spark.streaming.incremental import (
        incremental_near_dedup,
    )

    incoming = str(tmp_path / "sd_in")
    spark.createDataFrame(
        [(1, "tiny doc"), (2, "another tiny"),
         (3, "a full length document with plenty of tokens to shingle "
             "normally and verify the long path still works")],
        "doc_id long, text string",
    ).coalesce(1).write.mode("overwrite").parquet(incoming)
    # wave 2: exact re-upload of the short doc under a new id
    spark.createDataFrame(
        [(100, "tiny doc")], "doc_id long, text string",
    ).coalesce(1).write.mode("append").parquet(incoming)

    state = str(tmp_path / "sd_state")
    out = str(tmp_path / "sd_out")
    incremental_near_dedup(spark, incoming, state, out,
                           str(tmp_path / "sd_ckpt"))
    accepted = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert accepted == {1, 2, 3}, accepted   # re-upload 100 dropped
    # short docs live in state: shingle table covers every accepted id
    state_ids = {r.doc_id for r in
                 spark.read.parquet(f"{state}/shingles").collect()}
    assert state_ids == {1, 2, 3}
    # full redelivery under a fresh checkpoint: nothing appended
    incremental_near_dedup(spark, incoming, state, out,
                           str(tmp_path / "sd_ckpt2"))
    assert spark.read.parquet(out).count() == 3
    assert spark.read.parquet(f"{state}/shingles").count() == \
        len({(r.doc_id, r.shingle) for r in
             spark.read.parquet(f"{state}/shingles").collect()}), \
        "redelivery must not duplicate state rows"


def test_stream_stream_interval_join_matches_batch(spark, tmp_path, sf_dir):
    """Stream-stream interval join over SPLIT sources (errors stream ≠
    firehose stream) drains to exactly the batch interval-join pairs."""
    from pyspark.sql import functions as F

    from bdc_collection_builder_spark.sources.tables import load_table
    from bdc_collection_builder_spark.streaming.incremental import (
        streaming_interval_join,
    )

    events = load_table(spark, sf_dir, "events")
    errors_dir = str(tmp_path / "errors")
    firehose_dir = str(tmp_path / "firehose")
    events.filter(F.col("event_type") == "error").write.parquet(errors_dir)
    events.write.parquet(firehose_dir)
    got = {(r.error_id, r.followup_id)
           for r in streaming_interval_join(
               spark, errors_dir, firehose_dir,
               str(tmp_path / "ckpt")).collect()}

    e = events.filter(F.col("event_type") == "error").select(
        F.col("user_id").alias("e_user"), F.col("event_id").alias("error_id"),
        F.col("ts").alias("e_ts"))
    a = events.select(F.col("user_id").alias("f_user"),
                      F.col("event_id").alias("followup_id"),
                      F.col("ts").alias("f_ts"))
    want = {(r.error_id, r.followup_id) for r in e.join(
        a, (F.col("e_user") == F.col("f_user"))
        & (F.col("f_ts") >= F.col("e_ts"))
        & (F.col("f_ts") <= F.col("e_ts") + F.expr("INTERVAL 10 MINUTES"))
    ).select("error_id", "followup_id").collect()}
    assert got == want and len(want) > 0


def test_transactional_publish_items_and_ledger_atomic(spark, tmp_path):
    """The streaming publish commits item + SUCCESS task row in one
    store transaction; re-delivery (fresh checkpoint) rewrites the
    same rows — no duplicate ledger entries, no item/ledger skew."""
    from bdc_collection_builder_spark.streaming.incremental import (
        incremental_publish_transactional,
    )

    fx = make_fixtures(spark, n_scenes=30, n_tiles=4)
    store = CatalogStore(spark, str(tmp_path / "txn_cat"))
    store.overwrite("items", fx["items"].limit(5))
    incoming = str(tmp_path / "txn_incoming")
    fx["items"].limit(20).write.parquet(incoming)

    incremental_publish_transactional(
        spark, incoming, store, str(tmp_path / "txn_ckpt"))
    n_items = store.read("items").count()
    n_tasks = store.read("tasks").count()
    assert n_items == 20
    published = store.read("items").join(
        store.read("tasks").filter(F.col("status") == "SUCCESS"),
        F.concat_ws(":", F.lit("publish"), "name") == F.col("task_id"),
        "left_semi").count()
    assert published == 20, "every published item has its ledger row"

    # redelivery: fresh checkpoint reprocesses everything — idempotent
    incremental_publish_transactional(
        spark, incoming, store, str(tmp_path / "txn_ckpt2"))
    assert store.read("items").count() == n_items
    assert store.read("tasks").count() == n_tasks


def test_near_dedup_query_corpus_graph_is_planted_matching(spark, sf_dir):
    """The st_incremental_near_dedup oracle's order-independence rests
    on the synthetic corpus's exact-Jaccard graph being EXACTLY the
    planted orig<->copy matching: no organic cross-doc edge at the 0.5
    threshold, every planted pair well above it. Verify both by exact
    all-pairs Jaccard over 5-token shingles."""
    from pyspark.sql import functions as F

    from bdc_collection_builder_spark.extensions.dedup import (
        md5_hash60,
        shingles,
    )
    from bdc_collection_builder_spark.sources.tables import load_table

    synth_text = F.concat_ws(" ", F.transform(
        F.sequence(F.lit(1), F.lit(40)),
        lambda j: F.concat(
            F.lit("w"),
            (md5_hash60(F.concat(F.col("doc_id").cast("string"),
                                 F.lit(":"), j.cast("string")))
             % 100000).cast("string"))))
    docs = (load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < 60)
            .select("doc_id", synth_text.alias("text")))
    copies = (docs.filter(F.col("doc_id") % 10 == 0)
              .select((F.col("doc_id") + 1000000).alias("doc_id"),
                      F.concat("text", F.lit(" xy zz wq")).alias("text")))
    sh = shingles(docs.unionByName(copies), "text", "doc_id", k=5)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    pairs = (
        sh.alias("a").join(sh.alias("b"),
                           (F.col("a.shingle") == F.col("b.shingle"))
                           & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("ida"),
                 F.col("b.doc_id").alias("idb"))
        .agg(F.count("*").alias("inter"))
        .join(sizes.select(F.col("doc_id").alias("ida"),
                           F.col("sz").alias("sza")), "ida")
        .join(sizes.select(F.col("doc_id").alias("idb"),
                           F.col("sz").alias("szb")), "idb")
        .withColumn("jac", F.col("inter")
                    / (F.col("sza") + F.col("szb") - F.col("inter")))
        .filter(F.col("jac") >= 0.5)
        .collect()
    )
    edges = {(r["ida"], r["idb"]) for r in pairs}
    planted = {(d, d + 1000000) for d in range(0, 60, 10)}
    assert edges == planted, f"graph != planted matching: {edges ^ planted}"
    assert all(r["jac"] > 0.8 for r in pairs)


def test_streaming_ivf_maintenance_converges(spark, tmp_path, sf_dir):
    """Streaming ANN index maintenance: embeddings arrive as a file
    stream and every micro-batch upserts into the persisted IVF index
    via foreachBatch — the Y3 pattern applied to the index. With
    redelivered vectors planted across batches, the drained index must
    equal a from-scratch batch build exactly (same ids, same
    partitions, no duplicates)."""
    from pyspark.sql import functions as F

    from bdc_collection_builder_spark.extensions.similarity import (
        build_ivf_index_seeded,
        upsert_ivf_index,
    )
    from bdc_collection_builder_spark.sources.tables import load_table
    from bdc_collection_builder_spark.streaming.incremental import drain

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding")
    path = str(tmp_path / "ivf_stream")
    # seed index: the quantizer's 16 seed vectors only
    build_ivf_index_seeded(emb.filter(F.col("vec_id") < 16), path)
    # incoming stream: two files; the second REDELIVERS part of the
    # first (and some seeds) — cross-batch idempotence on the index
    incoming = str(tmp_path / "incoming")
    emb.filter(F.col("vec_id") % 2 == 0).coalesce(1) \
        .write.mode("append").parquet(incoming)
    emb.filter((F.col("vec_id") % 2 == 1) | (F.col("vec_id") % 6 == 0)) \
        .coalesce(1).write.mode("append").parquet(incoming)

    stream = (spark.readStream.schema(emb.schema)
              .option("maxFilesPerTrigger", 1).parquet(incoming))
    drain(stream.writeStream.foreachBatch(
        lambda batch, _id: upsert_ivf_index(spark, path, batch)),
        str(tmp_path / "ckpt"))

    got = spark.read.parquet(f"{path}/vectors")
    assert got.count() == emb.count()
    assert got.select("vec_id").distinct().count() == emb.count()
    # partition assignment identical to a from-scratch build
    ref_path = str(tmp_path / "ivf_ref")
    build_ivf_index_seeded(emb, ref_path)
    ref = spark.read.parquet(f"{ref_path}/vectors")
    diff = (got.select("vec_id", "centroid_id")
            .exceptAll(ref.select("vec_id", "centroid_id")))
    assert diff.count() == 0


def test_incremental_erasure_deletes_and_is_idempotent(spark, tmp_path):
    """Erasure feed: requested keys vanish, unrelated rows survive
    byte-identical, replayed requests (fresh checkpoint) are no-ops,
    and time travel still sees the pre-erasure generation (the
    documented MVCC retention caveat)."""
    from bdc_collection_builder_spark.streaming.incremental import (
        incremental_erasure,
    )

    fx = make_fixtures(spark, n_scenes=30, n_tiles=4)
    store = CatalogStore(spark, str(tmp_path / "ecat"))
    store.overwrite("items", fx["items"])
    n0 = store.read("items").count()
    gen0 = store.snapshots("items")[-1]

    victims = fx["items"].limit(7).select("name", "collection_id")
    n_victims = victims.count()
    requests = str(tmp_path / "requests")
    victims.write.mode("overwrite").parquet(requests)

    incremental_erasure(spark, requests, store, str(tmp_path / "eckpt"))

    after = store.read("items")
    assert after.count() == n0 - n_victims
    assert after.join(victims, ["name", "collection_id"]).count() == 0
    # survivors untouched
    survivors_before = store.read_at("items", gen0).join(
        victims, ["name", "collection_id"], "left_anti")
    # exceptAll is positional; the key-list join moved keys first
    assert after.exceptAll(
        survivors_before.select(*after.columns)).count() == 0
    # re-delivery under a fresh checkpoint: converges, no further loss
    incremental_erasure(spark, requests, store, str(tmp_path / "eckpt2"))
    assert store.read("items").count() == n0 - n_victims
    # MVCC: pre-erasure snapshot intact until vacuumed past horizon
    assert store.read_at("items", gen0).count() == n0


def test_incremental_erasure_large_batch_antijoin_path(spark, tmp_path):
    """Batches above max_inlist_keys route through
    store.delete_keys (anti-join MERGE, no data-sized driver collect)
    and must produce exactly the same result as the IN-list path."""
    from bdc_collection_builder_spark.streaming.incremental import (
        incremental_erasure,
    )

    fx = make_fixtures(spark, n_scenes=30, n_tiles=4)
    store = CatalogStore(spark, str(tmp_path / "ecat-big"))
    store.overwrite("items", fx["items"])
    n0 = store.read("items").count()

    victims = fx["items"].limit(9).select("name", "collection_id")
    n_victims = victims.count()
    requests = str(tmp_path / "requests-big")
    victims.write.mode("overwrite").parquet(requests)

    # threshold of 3 forces the 9-key batch onto the anti-join path
    incremental_erasure(spark, requests, store,
                        str(tmp_path / "eckpt-big"), max_inlist_keys=3)

    after = store.read("items")
    assert after.count() == n0 - n_victims
    assert after.join(victims, ["name", "collection_id"]).count() == 0


def test_incremental_erasure_ignores_null_keys_small_batch(
        spark, tmp_path):
    """NULL key tuples must be ignored in BOTH regimes. The
    small-batch IN-list path used to render a NULL as the bare token
    `None`, producing an unresolvable predicate that crashed the
    streaming query; now both paths share delete_keys' documented
    NULL-ignoring rule."""
    from pyspark.sql import functions as F

    from bdc_collection_builder_spark.streaming.incremental import (
        incremental_erasure,
    )

    fx = make_fixtures(spark, n_scenes=30, n_tiles=4)
    store = CatalogStore(spark, str(tmp_path / "ecat-null"))
    store.overwrite("items", fx["items"])
    n0 = store.read("items").count()

    victims = fx["items"].limit(3).select("name", "collection_id")
    n_victims = victims.count()
    with_null = victims.unionByName(
        victims.limit(1).select(
            F.lit(None).cast("string").alias("name"),
            F.col("collection_id")))
    requests = str(tmp_path / "requests-null")
    with_null.write.mode("overwrite").parquet(requests)

    # 4 keys < the default threshold: IN-list regime
    incremental_erasure(spark, requests, store,
                        str(tmp_path / "eckpt-null"))

    after = store.read("items")
    assert after.count() == n0 - n_victims
    assert after.join(victims, ["name", "collection_id"]).count() == 0
    assert after.filter(F.col("name").isNull()).count() == 0


def test_delete_keys_matches_delete_where(spark, tmp_path):
    """store.delete_keys (anti-join) and delete_where (predicate) are
    interchangeable: same survivors, NULL key tuples ignored, cascade
    chains honored."""
    from bdc_collection_builder_spark.catalog.store import CatalogStore

    fx = make_fixtures(spark, n_scenes=30, n_tiles=4)
    a = CatalogStore(spark, str(tmp_path / "dk-a"))
    b = CatalogStore(spark, str(tmp_path / "dk-b"))
    for st in (a, b):
        st.overwrite("items", fx["items"])
    victims = fx["items"].limit(5).select("name", "collection_id")
    preds = " OR ".join(
        f"(name = '{r.name}' AND collection_id = {r.collection_id})"
        for r in victims.collect())
    a.delete_where("items", preds)
    # NULL-keyed request rows must be ignored, not match anything
    from pyspark.sql import functions as F
    noisy = victims.unionByName(
        victims.limit(1).select(
            F.lit(None).cast("string").alias("name"), "collection_id"))
    b.delete_keys("items", noisy, ["name", "collection_id"])
    left = sorted(map(tuple, a.read("items").collect()))
    right = sorted(map(tuple, b.read("items").collect()))
    assert left == right

    # cascade: delete_keys on providers cascades collection_providers
    b.overwrite("providers", fx["providers"])
    b.overwrite("collection_providers", fx["collection_providers"])
    b.set_constraints(
        "collection_providers",
        foreign_keys=({"columns": ["provider_id"],
                       "ref_table": "providers",
                       "ref_columns": ["id"],
                       "on_delete": "cascade"},))
    pid = b.read("collection_providers").select("provider_id").first()[0]
    b.delete_keys("providers",
                  spark.createDataFrame([(pid,)], "id int"), ["id"])
    assert b.read("providers").filter(F.col("id") == pid).count() == 0
    assert b.read("collection_providers").filter(
        F.col("provider_id") == pid).count() == 0


def test_partitioned_delete_keys_prunes_partitions(spark, tmp_path):
    """Partitioned delete_keys rewrites ONLY partitions named in the
    key set — untouched partitions keep their generation pointer."""
    from bdc_collection_builder_spark.catalog.store import (
        PartitionedCatalogStore,
    )

    fx = make_fixtures(spark, n_scenes=30, n_tiles=4)
    st = PartitionedCatalogStore(spark, str(tmp_path / "dk-p"))
    st.overwrite("items", fx["items"])
    vals = st._partition_values("items")
    assert len(vals) >= 2
    target = vals[0]
    from pyspark.sql import functions as F
    victims = (st.read("items")
               .filter(F.col("collection_id").cast("string") == target)
               .limit(3).select("name", "collection_id"))
    n_victims = victims.count()
    n0 = st.read("items").count()
    gens = {v: st._sub("items", v)._current_gen("items") for v in vals}
    st.delete_keys("items", victims, ["name", "collection_id"])
    assert st.read("items").count() == n0 - n_victims
    for v in vals[1:]:
        assert st._sub("items", v)._current_gen("items") == gens[v], \
            f"untouched partition {v} was rewritten"
    assert st._sub("items", target)._current_gen("items") != gens[target]


def test_incremental_erasure_with_retention_forgets(spark, tmp_path):
    """retain_generations=1 closes the MVCC loop in-stream: after the
    erasure batch commits, the history holding the erased bytes is
    vacuumed — only the current snapshot survives on disk."""
    from bdc_collection_builder_spark.streaming.incremental import (
        incremental_erasure,
    )

    fx = make_fixtures(spark, n_scenes=20, n_tiles=3)
    store = CatalogStore(spark, str(tmp_path / "ecat-ret"))
    store.overwrite("items", fx["items"])
    n0 = store.read("items").count()
    victims = fx["items"].limit(5).select("name", "collection_id")
    requests = str(tmp_path / "requests-ret")
    victims.write.mode("overwrite").parquet(requests)

    incremental_erasure(spark, requests, store,
                        str(tmp_path / "eckpt-ret"), retain_generations=1)

    assert store.read("items").count() == n0 - 5
    gens = store.snapshots("items")
    assert gens == [store._current_gen("items")]


def test_static_enrich_equals_batch_and_is_exactly_once(spark, tmp_path):
    """streaming_static_enrich (the engine of st_stream_static_enrich):
    (1) the one-shot memory drain emits exactly the batch
    broadcast-join's rows (the join is stateless, so streaming ==
    batch row-for-row); (2) on the PARQUET sink — the form whose
    checkpoint supports recovery; Spark's memory sink refuses it —
    re-triggering the same checkpoint with no new input emits
    NOTHING (redelivery is a no-op, the exactly-once contract);
    (3) a new input file drained through the same checkpoint appends
    only the new rows."""
    import datetime as dt

    from bdc_collection_builder_spark.streaming.incremental import (
        EVENTS_STREAM_SCHEMA,
        streaming_static_enrich,
    )

    events_dir = str(tmp_path / "sse_in")
    ts = dt.datetime(2024, 3, 1, 12, 0, 0)
    batch1 = [
        (i, ts, i * 7, "purchase" if i % 3 else "view",
         float(i) + 0.25, "{}")
        for i in range(1, 61)
    ]
    spark.createDataFrame(batch1, EVENTS_STREAM_SCHEMA) \
        .coalesce(1).write.mode("append").parquet(events_dir)
    dim = spark.createDataFrame(
        [(k, f"region-{k}") for k in range(25)],
        "nkey int, region_name string")
    want = {
        (i, f"region-{(i * 7) % 25}", round((i + 0.25) * 100))
        for i, _, _, et, _, _ in batch1 if et == "purchase"
    }

    # (1) memory one-shot drain == batch join
    got = {(r.event_id, r.region_name, r.cents) for r in
           streaming_static_enrich(spark, events_dir, dim,
                                   str(tmp_path / "ckpt_mem")).collect()}
    assert got == want and len(got) == 40

    # (2) parquet sink, fresh checkpoint: same rows; then redelivery
    # through the SAME checkpoint is a no-op
    ckpt = str(tmp_path / "ckpt_pq")
    out = str(tmp_path / "sse_out")
    streaming_static_enrich(spark, events_dir, dim, ckpt, out_dir=out)

    def sink_rows():
        return {(r.event_id, r.region_name, r.cents)
                for r in spark.read.parquet(out).collect()}

    assert sink_rows() == want
    streaming_static_enrich(spark, events_dir, dim, ckpt, out_dir=out)
    assert sink_rows() == want  # nothing duplicated

    # (3) one new file -> exactly its purchase rows append
    batch2 = [(1000 + i, ts, i, "purchase", 5.0, "{}")
              for i in range(5)]
    spark.createDataFrame(batch2, EVENTS_STREAM_SCHEMA) \
        .coalesce(1).write.mode("append").parquet(events_dir)
    streaming_static_enrich(spark, events_dir, dim, ckpt, out_dir=out)
    assert sink_rows() == want | {
        (1000 + i, f"region-{i % 25}", 500) for i in range(5)}


def test_drain_partitions_caps_at_cores_and_restores(spark):
    """The drain helper sets the shuffle partitions to
    min(8, defaultParallelism) inside the block and restores the
    previous value on exit, also when the body raises."""
    from bdc_collection_builder_spark.streaming.incremental import (
        drain_partitions,
    )

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    spark.conf.set(key, "37")
    try:
        with drain_partitions(spark):
            assert spark.conf.get(key) == str(
                min(8, spark.sparkContext.defaultParallelism))
        assert spark.conf.get(key) == "37"
        with pytest.raises(RuntimeError):
            with drain_partitions(spark):
                raise RuntimeError("drain failed")
        assert spark.conf.get(key) == "37"
    finally:
        spark.conf.set(key, before)


def test_drain_times_out_loudly(spark, tmp_path, monkeypatch):
    """A drain still running at DRAIN_TIMEOUT_S is stopped and raises,
    instead of returning while the query keeps writing its sink."""
    import time

    from bdc_collection_builder_spark.streaming import incremental

    monkeypatch.setattr(incremental, "DRAIN_TIMEOUT_S", 1)
    src = str(tmp_path / "slow_in")
    spark.range(3).write.parquet(src)
    stream = spark.readStream.schema("id long").parquet(src)
    with pytest.raises(TimeoutError):
        incremental.drain(
            stream.writeStream.foreachBatch(lambda batch, _id: time.sleep(3)),
            str(tmp_path / "slow_ckpt"))
    assert not spark.streams.active


def test_registry_drains_leave_no_view_or_stream(spark, sf_dir):
    """A registry memory drain leaves the session as it found it: no
    temp view holding its rows in the driver heap, no running query.
    Its rows still read after the view is gone."""
    from bdc_collection_builder_spark.plans.registry import (
        QUERY_REGISTRY,
        all_queries,
    )

    all_queries()
    run = QUERY_REGISTRY["st_stream_outer_join"].spark_fn
    tables = spark.catalog.listTables()
    got = []
    for _ in range(2):
        got.append(sorted(map(tuple, run(spark, sf_dir).collect()),
                          key=repr))
        assert spark.catalog.listTables() == tables
        assert not spark.streams.active
    assert got[0] == got[1] and got[0]
