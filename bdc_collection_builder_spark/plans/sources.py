"""Source/sink operator queries (SURVEY §2.1) plus the remaining
scalar/geometry/UDF-surface items (X8, X13-X15, Y3/Y4, Z2/Z3).

Side-effecting IO (network download, Docker processors, rasterio) has
no place in a correctness query, so each sink/stage is represented by
the **deterministic dataflow it plans**: the per-band output manifest a
COG sink would write, the member rows an archive extraction yields, the
failover outcome of the download loop. Where the dataflow is pure
relational algebra it carries a DuckDB oracle; genuinely UDF-bound
plumbing (mapInPandas stages, convex hulls) is rows-only — exactly the
split the driver's correctness harness expects.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from bdc_collection_builder_spark.functions.pixel import synthetic_pixels_oracle
from bdc_collection_builder_spark.plans._util import (
    _scene_files,
    duck_ts,
    scratch_dir,
    t,
)
from bdc_collection_builder_spark.plans.registry import query

_TS = duck_ts()

_PIXELS = synthetic_pixels_oracle(n_scenes=4, height=16, width=16)


def _scenes(spark, sf_dir):
    """Scene rows derived from orders: deterministic scene ids so UDF
    stages are oracle-regenerable."""
    return (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 50 == 0)
        .select(
            F.concat(F.lit("S2A_MSIL1C_"),
                     F.col("o_orderkey").cast("string")).alias("scene_id"),
            (F.col("o_orderkey") % 3 + 1).cast("int").alias("collection_id"),
            F.col("o_orderdate").alias("sensing_date"),
        )
    )


@query(
    "s01_remote_search_pushdown",
    survey=("S1",),
    oracle="""
        SELECT o_orderkey AS scene_key, o_orderdate AS sensing_date,
               o_totalprice * 0.0001 AS cloud_cover
        FROM orders
        WHERE o_orderstatus = 'O'
          AND o_orderdate BETWEEN DATE '1995-01-01' AND DATE '1996-12-31'
          AND o_totalprice * 0.0001 <= 30.0
    """,
)
def s01_remote_search_pushdown(spark, sf_dir):
    """S1 — remote catalog search with bbox/time/cloud predicates pushed
    into the source (controller.py:269-295; collect.py:80-83). On
    parquet the same predicates reach the scan as PushedFilters; a
    provider-API source applies them in its request — same contract as
    DSv2 SupportsPushDownFilters."""
    orders = t(spark, sf_dir, "orders")
    return (
        orders
        .filter(F.col("o_orderstatus") == "O")
        .filter(F.col("o_orderdate").between("1995-01-01", "1996-12-31"))
        .select(
            F.col("o_orderkey").alias("scene_key"),
            F.col("o_orderdate").alias("sensing_date"),
            (F.col("o_totalprice") * 0.0001).alias("cloud_cover"),
        )
        .filter(F.col("cloud_cover") <= 30.0)
    )


@query(
    "s02_download_failover",
    survey=("S2", "Z2"),
    oracle="""
        WITH scenes AS (
            SELECT 'S2A_MSIL1C_' || CAST(o_orderkey AS VARCHAR) AS scene_id,
                   CAST(o_orderkey % 3 + 1 AS INT) AS collection_id
            FROM orders WHERE o_orderkey % 50 = 0
        ),
        hashed AS (
            SELECT scene_id, collection_id,
                   md5(scene_id || ':usgs') AS h1,
                   md5(scene_id || ':scihub') AS h2,
                   md5(scene_id || ':creodias') AS h3,
                   md5(scene_id || ':sen2cor:2.11.0') AS w1,
                   md5(scene_id || ':sen2cor:2.10.0') AS w2,
                   md5(scene_id || ':sen2cor:2.5.5') AS w3
            FROM scenes
        ),
        decoded AS (
            SELECT scene_id, collection_id,
                   ((strpos('0123456789abcdef', substr(h1,1,1))-1)*16
                     + strpos('0123456789abcdef', substr(h1,2,1))-1) % 5 = 0 AS off1,
                   ((strpos('0123456789abcdef', substr(h2,1,1))-1)*16
                     + strpos('0123456789abcdef', substr(h2,2,1))-1) % 5 = 0 AS off2,
                   ((strpos('0123456789abcdef', substr(h3,1,1))-1)*16
                     + strpos('0123456789abcdef', substr(h3,2,1))-1) % 5 = 0 AS off3,
                   ((strpos('0123456789abcdef', substr(w1,1,1))-1)*16
                     + strpos('0123456789abcdef', substr(w1,2,1))-1) % 7 <> 0 AS ok1,
                   ((strpos('0123456789abcdef', substr(w2,1,1))-1)*16
                     + strpos('0123456789abcdef', substr(w2,2,1))-1) % 7 <> 0 AS ok2,
                   ((strpos('0123456789abcdef', substr(w3,1,1))-1)*16
                     + strpos('0123456789abcdef', substr(w3,2,1))-1) % 7 <> 0 AS ok3
            FROM hashed
        )
        SELECT scene_id, collection_id,
               'sen2cor' AS processor,
               CASE WHEN ok1 THEN '2.11.0' WHEN ok2 THEN '2.10.0'
                    WHEN ok3 THEN '2.5.5' END AS processor_version,
               CASE WHEN ok1 OR ok2 OR ok3
                    THEN '/archive/corrected/' || scene_id END AS output_file,
               CASE WHEN ok1 OR ok2 OR ok3 THEN 0 ELSE 1 END AS returncode
        FROM decoded
        WHERE NOT (off1 AND off2 AND off3)
    """,
)
def s02_download_failover(spark, sf_dir):
    """S2/Z2 — the download-with-failover and external-processor stages
    (tasks.py:129-240, processor.py:27-101) as the pipeline's one
    deterministic IO simulator, a single mapInPandas pass over scene
    partitions. The simulator's md5 decision chain is re-expressed in
    the oracle SQL, so this UDF stage is value-checked end-to-end, not
    rows-only. Partitioning = scene batches; the collections dimension
    is broadcast."""
    from bdc_collection_builder_spark.pipeline.stages import (
        download_correction_stage,
        split_fused,
    )

    collections = spark.createDataFrame(
        [(i, '{"processors":[{"name":"sen2cor"}]}') for i in (1, 2, 3)],
        "id int, metadata string")
    _, corrected = split_fused(download_correction_stage(
        _scenes(spark, sf_dir), ["usgs", "scihub", "creodias"],
        collections))
    return corrected.orderBy("scene_id")


@query(
    "s04_archive_validation",
    survey=("S4",),
    oracle="""
        SELECT doc_id,
               md5(text) AS checksum,
               substr(md5(text), 1, 1) <> 'f' AS is_valid
        FROM documents
        WHERE doc_id % 7 = 0
    """,
)
def s04_archive_validation(spark, sf_dir):
    """S4 — archive integrity validation (utils.py:404-436): a checksum
    column plus a validity predicate; corrupt rows are filterable
    before any expensive stage. md5 runs JVM-side on both engines."""
    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") % 7 == 0)
    return docs.select(
        "doc_id",
        F.md5("text").alias("checksum"),
        (F.substring(F.md5("text"), 1, 1) != "f").alias("is_valid"),
    )


@query(
    "s05_archive_extract",
    survey=("S5",),
    oracle="""
        SELECT o_orderkey AS scene_key,
               concat('S2A_MSIL1C_', o_orderkey, '.zip') AS archive,
               member
        FROM orders
        CROSS JOIN (VALUES ('MTD_MSIL2A.xml'), ('B04_10m.jp2'),
                           ('B08_10m.jp2'), ('SCL_20m.jp2')) AS m(member)
        WHERE o_orderkey % 100 = 0
    """,
)
def s05_archive_extract(spark, sf_dir):
    """S5 — archive extraction (utils.py:94-101, publish.py:248-251):
    one archive row explodes into member-file rows. The real extractall
    is a scratch-dir side effect inside the stage UDF; the dataflow —
    1 row in, N member rows out — is this explode."""
    orders = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 100 == 0)
    members = F.array(
        F.lit("MTD_MSIL2A.xml"), F.lit("B04_10m.jp2"),
        F.lit("B08_10m.jp2"), F.lit("SCL_20m.jp2"))
    return orders.select(
        F.col("o_orderkey").alias("scene_key"),
        F.concat(F.lit("S2A_MSIL1C_"), F.col("o_orderkey").cast("string"),
                 F.lit(".zip")).alias("archive"),
        F.explode(members).alias("member"),
    )


@query(
    "s06_windowed_raster_scan",
    survey=("S6",),
    oracle=f"""
        WITH px AS ({_PIXELS})
        SELECT scene_id,
               CAST(floor(y / 8) * 2 + floor(x / 8) AS BIGINT) AS window_id,
               count(*) AS n_px,
               round(avg(CASE WHEN B04 = -9999.0 THEN NULL ELSE B04 END), 4)
                   AS mean_b04
        FROM px
        GROUP BY 1, 2
    """,
)
def s06_windowed_raster_scan(spark, sf_dir):
    """S6 — block-windowed raster scan (index_generator.py:120-124,
    utils.py:350-365): pixels carry a window_id; every kernel groups by
    (scene, window) so work is bounded-memory and partition-parallel —
    the Spark analog of rasterio block windows."""
    from bdc_collection_builder_spark.functions.pixel import (
        mask_nodata,
        synthetic_pixels,
    )

    px = synthetic_pixels(spark, n_scenes=4, height=16, width=16)
    return (
        px.withColumn(
            "window_id",
            (F.floor(F.col("y") / 8) * 2 + F.floor(F.col("x") / 8)).cast("bigint"))
        .groupBy("scene_id", "window_id")
        .agg(
            F.count("*").alias("n_px"),
            F.round(F.avg(mask_nodata(F.col("B04"))), 4).alias("mean_b04"),
        )
    )


def _hdf_scene_dir(spark) -> str:
    """Write the synthetic pixel grid as REAL HDF4 files (pure-Python
    codec, sources/hdf4.py): per scene one container holding the
    sur_refl_b01/sur_refl_b02/QA subdatasets plus a metadata text blob
    carrying the cloud cover — the MOD09/MOD13-style layout hdf.py
    iterates with GDAL. Written by the one scene-file sink,
    :func:`plans._util._scene_files`."""
    from bdc_collection_builder_spark.sources.hdf4 import write_hdf4

    def encode(sid, grids):
        cloud = (sid * 37 % 101) / 2.0
        return write_hdf4({"sur_refl_b01": grids["B04"].astype("int16"),
                           "sur_refl_b02": grids["B08"].astype("int16"),
                           "QA": grids["SCL"].astype("uint16")},
                          metadata=f"cloudcover={cloud}")

    return _scene_files(spark, "hdf", "hdf", encode)


@query(
    "s07_hdf_subdataset_scan",
    survey=("S7",),
    oracle=f"""
        WITH px AS ({_PIXELS}),
        per_band AS (
            SELECT scene_id, 'sur_refl_b01' AS band,
                   round(avg(CASE WHEN B04 = -9999.0 THEN NULL ELSE B04 END),
                         4) AS mean_value,
                   CAST(count(CASE WHEN B04 = -9999.0 THEN NULL ELSE B04
                              END) AS BIGINT) AS n_valid
            FROM px GROUP BY scene_id
            UNION ALL
            SELECT scene_id, 'sur_refl_b02',
                   round(avg(CASE WHEN B08 = -9999.0 THEN NULL ELSE B08 END),
                         4),
                   CAST(count(CASE WHEN B08 = -9999.0 THEN NULL ELSE B08
                              END) AS BIGINT)
            FROM px GROUP BY scene_id
            UNION ALL
            SELECT scene_id, 'QA', round(avg(SCL), 4),
                   CAST(count(*) AS BIGINT)
            FROM px GROUP BY scene_id
        )
        SELECT scene_id, band,
               concat('/archive/scene_', scene_id, '/', band, '.tif')
                   AS dest,
               CAST(scene_id * 37 % 101 AS DOUBLE) / 2 AS cloud_cover,
               mean_value, n_valid
        FROM per_band
    """,
)
def s07_hdf_subdataset_scan(spark, sf_dir):
    """S7 — HDF subdataset scan → per-band outputs + cloud metadata
    (hdf.py:38-108) over REAL HDF4 container bytes: scenes are written
    as actual HDF4 scientific datasets (pure-Python codec,
    sources/hdf4.py — classic DD list, NT/SDD/SD/NDG tags, DIL labels,
    FD metadata; no GDAL), scanned back via ``binaryFile`` and decoded
    in one Arrow-batched ``mapInPandas`` that expands each container
    into per-subdataset band rows with the cloud cover parsed from the
    file-level metadata blob — the exact 1→N expansion hdf.py performs
    with gdal.Open(...).GetSubDatasets(). Only per-band aggregates
    cross the Python/JVM boundary; the oracle recomputes the band
    means analytically, so the encode→file→scan→decode round-trip must
    be value-exact to hash-match."""
    import re as _re

    import pandas as pd

    from bdc_collection_builder_spark.sources.hdf4 import read_hdf4

    path = _hdf_scene_dir(spark)
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.hdf").load(path)
        .select("path", "content")
    )

    def expand(batches):
        for pdf in batches:
            out: dict[str, list] = {
                "scene_id": [], "band": [], "dest": [],
                "cloud_cover": [], "sum_value": [], "n_valid": []}
            for p, content in zip(pdf["path"], pdf["content"]):
                hdf = read_hdf4(bytes(content))
                sid = int(_re.search(r"scene_(\d+)", p).group(1))
                cloud = float(hdf.metadata.split("=", 1)[1])
                for band, arr in hdf.datasets.items():
                    a = arr.astype("float64")
                    valid = a[a != -9999.0]
                    out["scene_id"].append(sid)
                    out["band"].append(band)
                    out["dest"].append(f"/archive/scene_{sid}/{band}.tif")
                    out["cloud_cover"].append(cloud)
                    out["sum_value"].append(float(valid.sum()))
                    out["n_valid"].append(int(valid.size))
            yield pd.DataFrame(out)

    partials = files.mapInPandas(
        expand,
        "scene_id long, band string, dest string, cloud_cover double, "
        "sum_value double, n_valid long")
    return partials.select(
        "scene_id", "band", "dest", "cloud_cover",
        F.round(F.col("sum_value") / F.col("n_valid"), 4)
        .alias("mean_value"),
        "n_valid")


@query(
    "s08_xml_metadata_scan",
    survey=("S8", "X16"),
    oracle="""
        WITH mtd AS (
            SELECT n_nationkey,
                   concat('<EXT_POS_LIST>', n_nationkey * 2, ' ',
                          n_nationkey * 3, '</EXT_POS_LIST>') AS xml
            FROM nation
        )
        SELECT n_nationkey,
               regexp_extract(xml, '<EXT_POS_LIST>([^<]*)</EXT_POS_LIST>', 1)
                   AS pos_list
        FROM mtd
    """,
)
def s08_xml_metadata_scan(spark, sf_dir):
    """S8 — XML metadata scan: the Sentinel footprint comes from the
    EXT_POS_LIST element of MTD_MSIL2A.xml (publish.py:159-174). Element
    extraction from an XML string column via regexp (xpath_string is
    also available JVM-side)."""
    nation = t(spark, sf_dir, "nation")
    mtd = nation.select(
        "n_nationkey",
        F.concat(
            F.lit("<EXT_POS_LIST>"), (F.col("n_nationkey") * 2).cast("string"),
            F.lit(" "), (F.col("n_nationkey") * 3).cast("string"),
            F.lit("</EXT_POS_LIST>")).alias("xml"),
    )
    return mtd.select(
        "n_nationkey",
        F.regexp_extract("xml", "<EXT_POS_LIST>([^<]*)</EXT_POS_LIST>", 1)
        .alias("pos_list"),
    )


_S09_FILES = [  # (name, size) — deterministic fixture; decoys excluded
    ("S2A_B02_10m.tif", 173), ("S2A_B03_10m.tif", 211),
    ("S2A_B04_10m.tif", 97), ("S2A_B08_10m.tif", 401),
    ("MTD_MSIL2A.xml", 59), ("manifest.safe.tif", 23),
]


@query(
    "s09_glob_discovery",
    survey=("S9",),
    oracle="SELECT * FROM (VALUES "
    + ", ".join(f"('{n}', CAST({s} AS BIGINT))" for n, s in _S09_FILES
                if n.endswith(".tif"))
    + ") AS t(file_name, size_bytes)",
)
def s09_glob_discovery(spark, sf_dir):
    """S9 — glob-pattern file discovery (publish.py:263-270, 374):
    the binaryFile source with pathGlobFilter lists matching files as
    a DataFrame — distributed listing, no driver-side rglob. The
    listing runs over a deterministic fixture directory (scene-shaped
    names, exact byte sizes, plus non-matching decoys the ``*.tif``
    glob must exclude), so the (file_name, size_bytes) result is fully
    value-checkable against a constant-table oracle — this was a
    rows-only entry through round 3 only because it listed the
    environment-specific sf_dir."""
    import os as _os
    import tempfile

    fixture = _os.path.join(tempfile.gettempdir(), "bdc_s09_glob_fixture")
    _os.makedirs(fixture, exist_ok=True)
    for name, size in _S09_FILES:
        p = _os.path.join(fixture, name)
        if not (_os.path.exists(p) and _os.path.getsize(p) == size):
            with open(p, "wb") as fh:
                fh.write(bytes((i * 31) % 256 for i in range(size)))
    for decoy in ("scratch.tmp", "quicklook.png"):
        with open(_os.path.join(fixture, decoy), "wb") as fh:
            fh.write(b"x")
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.tif")
        .load(fixture)
        .select(
            F.element_at(F.split("path", "/"), -1).alias("file_name"),
            F.col("length").alias("size_bytes"),
        )
        .orderBy("file_name")
    )


@query(
    "s10_search_memo_cache",
    survey=("S10",),
    oracle=f"""
        WITH requested AS (
            SELECT DISTINCT date_trunc('month', {_TS}) AS period FROM events
        ), cached AS (
            SELECT DISTINCT date_trunc('month', {_TS}) AS period FROM events
            WHERE event_type = 'click'
        )
        SELECT r.period,
               (c.period IS NOT NULL) AS cache_hit
        FROM requested r LEFT JOIN cached c USING (period)
    """,
)
def s10_search_memo_cache(spark, sf_dir):
    """S10 — search-result memo cache keyed by period
    (controller.py:584-602): requested periods split into cache hits
    (semi) and misses (anti) against the ingest log — the Delta-table
    replacement for the Redis memo."""
    events = t(spark, sf_dir, "events")
    requested = events.select(
        F.date_trunc("month", "ts").alias("period")).distinct()
    cached = events.filter(F.col("event_type") == "click").select(
        F.date_trunc("month", "ts").alias("period")).distinct()
    return requested.join(
        cached.withColumn("cache_hit", F.lit(True)), "period", "left"
    ).select("period", F.coalesce("cache_hit", F.lit(False)).alias("cache_hit"))


@query(
    "s11_cog_sink_manifest",
    survey=("S11", "S12", "S13", "F11"),
    oracle="""
        WITH bands AS (
            SELECT p_partkey % 8 AS band_idx,
                   CASE p_partkey % 8
                        WHEN 0 THEN 'B02' WHEN 1 THEN 'B03' WHEN 2 THEN 'B04'
                        WHEN 3 THEN 'B08' WHEN 4 THEN 'AOT' WHEN 5 THEN 'WVP'
                        WHEN 6 THEN 'SCL' ELSE 'TCI' END AS band
            FROM part WHERE p_partkey <= 8
        )
        SELECT DISTINCT band,
               band NOT IN ('AOT', 'WVP') AS generate_cog,
               'deflate' AS compression,
               '2,4,8,16,32,64' AS overview_levels,
               'IF_SAFER' AS bigtiff
        FROM bands
    """,
)
def s11_cog_sink_manifest(spark, sf_dir):
    """S11/S12/S13 — COG sink plan: per-band output profile (deflate
    recompression, overview pyramid 2..64 nearest, BIGTIFF IF_SAFER)
    with the AOT/WVP skip predicate F11 (utils.py:113-154, 381-401;
    publish.py:94-111, 419-431). The rio-cogeo write is a UDF side
    effect; the engine's contract is this manifest, which the write
    stage consumes partition-parallel."""
    part = t(spark, sf_dir, "part").filter(F.col("p_partkey") <= 8)
    band = (
        F.when(F.col("p_partkey") % 8 == 0, "B02")
        .when(F.col("p_partkey") % 8 == 1, "B03")
        .when(F.col("p_partkey") % 8 == 2, "B04")
        .when(F.col("p_partkey") % 8 == 3, "B08")
        .when(F.col("p_partkey") % 8 == 4, "AOT")
        .when(F.col("p_partkey") % 8 == 5, "WVP")
        .when(F.col("p_partkey") % 8 == 6, "SCL")
        .otherwise("TCI")
    )
    return (
        part.select(band.alias("band"))
        .distinct()
        .select(
            "band",
            (~F.col("band").isin("AOT", "WVP")).alias("generate_cog"),
            F.lit("deflate").alias("compression"),
            F.lit("2,4,8,16,32,64").alias("overview_levels"),
            F.lit("IF_SAFER").alias("bigtiff"),
        )
    )


@query(
    "s15_merge_upsert",
    survey=("S15", "Y3", "Y4", "Y5"),
    oracle="""
        WITH current_items AS (
            SELECT o_orderkey AS item_key, o_totalprice AS payload
            FROM orders WHERE o_orderkey % 10 = 0
        ), incoming_once AS (
            SELECT o_orderkey AS item_key, o_totalprice + 1.0 AS payload
            FROM orders WHERE o_orderkey % 20 = 0
        ), incoming AS (  -- redelivered batch (Y4): duplicates collapse
            SELECT DISTINCT item_key, payload FROM (
                SELECT * FROM incoming_once
                UNION ALL SELECT * FROM incoming_once)
        )
        SELECT item_key, payload FROM incoming
        UNION ALL
        SELECT item_key, payload FROM current_items
        WHERE item_key NOT IN (SELECT item_key FROM incoming)
    """,
)
def s15_merge_upsert(spark, sf_dir):
    """S15/Y3/Y4/Y5 — idempotent keyed MERGE as pure dataflow: incoming
    rows replace matched current rows, unmatched current rows survive,
    and a redelivered (at-least-once) batch collapses via key dedup —
    publish.py:575-605 / utils.py:64-91 semantics, the same plan
    CatalogStore.merge_upsert materializes (Delta MERGE INTO when
    available)."""
    orders = t(spark, sf_dir, "orders")
    current = orders.filter(F.col("o_orderkey") % 10 == 0).select(
        F.col("o_orderkey").alias("item_key"),
        F.col("o_totalprice").alias("payload"))
    once = orders.filter(F.col("o_orderkey") % 20 == 0).select(
        F.col("o_orderkey").alias("item_key"),
        (F.col("o_totalprice") + 1.0).alias("payload"))
    incoming = once.unionAll(once).dropDuplicates(["item_key"])
    kept = current.join(incoming.select("item_key"), "item_key", "left_anti")
    return incoming.unionByName(kept)


@query(
    "s16_sync_diff",
    survey=("S16",),
    oracle="""
        WITH local_m AS (
            SELECT concat('docs/', doc_id, '.txt') AS path, md5(text) AS checksum
            FROM documents WHERE doc_id % 2 = 0
        ), remote_m AS (
            SELECT concat('docs/', doc_id, '.txt') AS path, md5(text) AS checksum
            FROM documents WHERE doc_id % 3 = 0
        )
        SELECT coalesce(l.path, r.path) AS path,
               CASE WHEN r.path IS NULL THEN 'upload'
                    WHEN l.path IS NULL THEN 'delete'
                    ELSE 'in_sync' END AS action
        FROM local_m l FULL OUTER JOIN remote_m r ON l.path = r.path
    """,
)
def s16_sync_diff(spark, sf_dir):
    """S16 — object-store sync plan (sync.py:44-164 check_data/
    sync_data/remove_data): full-outer manifest diff on path+checksum
    classifying each object upload / delete / in-sync. On a shared
    object store this whole operator disappears — that is the point of
    the Spark design — but the reconciliation query remains useful for
    audits."""
    docs = t(spark, sf_dir, "documents")
    path = F.concat(F.lit("docs/"), F.col("doc_id"), F.lit(".txt")).alias("path")
    local = docs.filter(F.col("doc_id") % 2 == 0).select(
        path, F.md5("text").alias("checksum"))
    remote = docs.filter(F.col("doc_id") % 3 == 0).select(
        path, F.md5("text").alias("checksum"))
    joined = local.alias("l").join(
        remote.alias("r"), F.col("l.path") == F.col("r.path"), "full_outer")
    return joined.select(
        F.coalesce(F.col("l.path"), F.col("r.path")).alias("path"),
        F.when(F.col("r.path").isNull(), "upload")
        .when(F.col("l.path").isNull(), "delete")
        .otherwise("in_sync").alias("action"),
    )


@query(
    "s17_symlink_alias",
    survey=("S17", "X2"),
    oracle="""
        WITH files AS (
            SELECT concat('T23LLF_B0', n_nationkey % 9, '_',
                          CASE n_nationkey % 3 WHEN 0 THEN '10m'
                               WHEN 1 THEN '20m' ELSE '60m' END,
                          '.jp2') AS file_name
            FROM nation
        )
        SELECT file_name,
               regexp_replace(file_name, '_(10m|20m|60m)', '') AS alias_name
        FROM files
    """,
)
def s17_symlink_alias(spark, sf_dir):
    """S17 — resolution-suffix aliasing (publish.py:436-448): strip
    _10m/_20m/_60m from asset names; the symlink side effect becomes a
    canonical-name column in the asset map."""
    nation = t(spark, sf_dir, "nation")
    res = (
        F.when(F.col("n_nationkey") % 3 == 0, "10m")
        .when(F.col("n_nationkey") % 3 == 1, "20m").otherwise("60m"))
    files = nation.select(F.concat(
        F.lit("T23LLF_B0"), (F.col("n_nationkey") % 9).cast("string"),
        F.lit("_"), res, F.lit(".jp2")).alias("file_name"))
    return files.select(
        "file_name",
        F.regexp_replace("file_name", "_(10m|20m|60m)", "").alias("alias_name"),
    )


@query(
    "x08_now_stamps",
    survey=("X8",),
    oracle=f"""
        SELECT event_id,
               (timezone('UTC', current_timestamp) >= {_TS})
                 AS stamped_after_event
        FROM events WHERE event_id % 97 = 0
    """,
)
def x08_now_stamps(spark, sf_dir):
    """X8 — now() stamps (tasks.py:84; publish.py:585, 596): activity
    start / item updated timestamps come from the engine clock. The
    deterministic assertion (now >= every historical event time) keeps
    the query oracle-checkable while exercising current_timestamp."""
    events = t(spark, sf_dir, "events").filter(F.col("event_id") % 97 == 0)
    return events.select(
        "event_id",
        (F.current_timestamp() >= F.col("ts")).alias("stamped_after_event"),
    )


@query(
    "x13_extent_to_wgs84",
    survey=("X13", "X16", "X17"),
    oracle="""
        WITH extents AS (
            SELECT n_nationkey AS scene_key,
                   500000.0 + n_nationkey * 1000 AS x0,
                   8000000.0 - n_nationkey * 1000 AS y1,
                   10.0 AS res
            FROM nation
        ), bounds AS (
            SELECT scene_key, x0 AS xmin, y1 - 256 * res AS ymin,
                   x0 + 256 * res AS xmax, y1 AS ymax
            FROM extents
        )
        SELECT scene_key,
               round(xmin / 111320.0, 6) AS lon_min,
               round(ymin / 111320.0, 6) AS lat_min,
               round(xmax / 111320.0, 6) AS lon_max,
               round(ymax / 111320.0, 6) AS lat_max,
               concat('POLYGON((',
                      round(xmin / 111320.0, 6), ' ', round(ymin / 111320.0, 6), ',',
                      round(xmax / 111320.0, 6), ' ', round(ymin / 111320.0, 6), ',',
                      round(xmax / 111320.0, 6), ' ', round(ymax / 111320.0, 6), ',',
                      round(xmin / 111320.0, 6), ' ', round(ymax / 111320.0, 6), ',',
                      round(xmin / 111320.0, 6), ' ', round(ymin / 111320.0, 6),
                      '))') AS footprint_wkt
        FROM bounds
    """,
)
def x13_extent_to_wgs84(spark, sf_dir):
    """X13/X16/X17 — raster extent → WGS84 envelope polygon
    (utils.py:223-237): dataset bounds from the geotransform, reproject,
    emit bbox struct + WKT. The reprojection here is the equirectangular
    approximation (x/111320); an exact transform is a pyproj pandas UDF
    gated behind an import-try, and Sedona ST_Transform when adopted —
    the envelope algebra (X17's ST_Xmin..ST_Ymax) is this projection."""
    nation = t(spark, sf_dir, "nation")
    ext = nation.select(
        F.col("n_nationkey").alias("scene_key"),
        (500000.0 + F.col("n_nationkey") * 1000).alias("x0"),
        (8000000.0 - F.col("n_nationkey") * 1000).alias("y1"),
        F.lit(10.0).alias("res"),
    )
    b = ext.select(
        "scene_key",
        F.col("x0").alias("xmin"),
        (F.col("y1") - 256 * F.col("res")).alias("ymin"),
        (F.col("x0") + 256 * F.col("res")).alias("xmax"),
        F.col("y1").alias("ymax"),
    )
    lon_min = F.round(F.col("xmin") / 111320.0, 6)
    lat_min = F.round(F.col("ymin") / 111320.0, 6)
    lon_max = F.round(F.col("xmax") / 111320.0, 6)
    lat_max = F.round(F.col("ymax") / 111320.0, 6)
    return b.select(
        "scene_key",
        lon_min.alias("lon_min"), lat_min.alias("lat_min"),
        lon_max.alias("lon_max"), lat_max.alias("lat_max"),
        F.concat(
            F.lit("POLYGON(("),
            lon_min, F.lit(" "), lat_min, F.lit(","),
            lon_max, F.lit(" "), lat_min, F.lit(","),
            lon_max, F.lit(" "), lat_max, F.lit(","),
            lon_min, F.lit(" "), lat_max, F.lit(","),
            lon_min, F.lit(" "), lat_min,
            F.lit("))"),
        ).alias("footprint_wkt"),
    )


def _x13b_oracle() -> str:
    from bdc_collection_builder_spark.functions.crs import (
        utm_inverse_cte_chain,
    )

    return f"""
        WITH extents AS (
            SELECT n_nationkey AS scene_key,
                   500000.0 + n_nationkey * 1000 AS x0,
                   8000000.0 - n_nationkey * 1000 AS y1,
                   10.0 AS res
            FROM nation
        ), bounds AS (
            SELECT scene_key, x0 AS xmin, y1 - 256 * res AS ymin,
                   x0 + 256 * res AS xmax, y1 AS ymax
            FROM extents
        ), corners AS (
            SELECT scene_key, xmin AS x, ymin AS y FROM bounds
            UNION ALL SELECT scene_key, xmin, ymax FROM bounds
            UNION ALL SELECT scene_key, xmax, ymin FROM bounds
            UNION ALL SELECT scene_key, xmax, ymax FROM bounds
        ),
        {utm_inverse_cte_chain("corners", zone=23, south=True)}
        SELECT scene_key,
               round(min(lon_deg), 7) AS lon_min,
               round(min(lat_deg), 7) AS lat_min,
               round(max(lon_deg), 7) AS lon_max,
               round(max(lat_deg), 7) AS lat_max
        FROM crs_out GROUP BY scene_key
    """


@query(
    "x13b_extent_to_wgs84_exact",
    survey=("X13", "X16", "X17"),
    oracle=_x13b_oracle(),
)
def x13b_extent_to_wgs84_exact(spark, sf_dir):
    """X13 with EXACT transform math (VERDICT-r4 missing #2): the
    reference reprojects extents via pyproj transform_geom
    (utils.py:223-237); x13 ships the equirectangular approximation
    with pyproj gated. This twin reproduces the projection arithmetic
    itself — Karney's 6th-order Krüger inverse for UTM 23S → WGS84
    (functions/crs.py), the same series PROJ evaluates — as a chain of
    named float64 SQL steps both engines execute identically: zero
    Python per row, whole-stage-codegen-able, and byte-strict-oracled.
    The envelope is min/max over the four reprojected corners (the
    box spans 2.56 km, where the conformal rotation moves corners
    ~1e-9 deg, so corner transforms ARE the envelope at the 1e-7-deg
    output rounding; transform_geom's densified edges agree). At
    100 TB this is a pure map stage — one projection chain per scene
    row, no shuffle until the 4-corner-per-scene envelope agg, which
    is map-side combined on scene_key."""
    from bdc_collection_builder_spark.functions.crs import (
        utm_inverse_steps,
    )

    nation = t(spark, sf_dir, "nation")
    b = nation.select(
        F.col("n_nationkey").alias("scene_key"),
        (500000.0 + F.col("n_nationkey") * 1000).alias("x0"),
        (8000000.0 - F.col("n_nationkey") * 1000).alias("y1"),
        F.lit(10.0).alias("res"),
    ).select(
        "scene_key",
        F.col("x0").alias("xmin"),
        (F.col("y1") - 256 * F.col("res")).alias("ymin"),
        (F.col("x0") + 256 * F.col("res")).alias("xmax"),
        F.col("y1").alias("ymax"),
    )
    corners = b.select(
        "scene_key",
        F.explode(F.array(
            F.struct(F.col("xmin").alias("x"), F.col("ymin").alias("y")),
            F.struct(F.col("xmin").alias("x"), F.col("ymax").alias("y")),
            F.struct(F.col("xmax").alias("x"), F.col("ymin").alias("y")),
            F.struct(F.col("xmax").alias("x"), F.col("ymax").alias("y")),
        )).alias("c"),
    ).select("scene_key", F.col("c.x").alias("x"),
             F.col("c.y").alias("y"))
    df = corners
    for name, sql in utm_inverse_steps("x", "y", zone=23, south=True):
        df = df.withColumn(name, F.expr(sql))
    return df.groupBy("scene_key").agg(
        F.round(F.min("lon_deg"), 7).alias("lon_min"),
        F.round(F.min("lat_deg"), 7).alias("lat_min"),
        F.round(F.max("lon_deg"), 7).alias("lon_max"),
        F.round(F.max("lat_deg"), 7).alias("lat_max"),
    )


def _x13c_oracle() -> str:
    from bdc_collection_builder_spark.functions.crs import (
        steps_cte_chain,
        utm_forward_steps,
        utm_inverse_steps,
    )

    steps = (utm_inverse_steps("x", "y", zone=23, south=True)
             + utm_forward_steps("lon_deg", "lat_deg", zone=23,
                                 south=True))
    return f"""
        WITH extents AS (
            SELECT n_nationkey AS scene_key,
                   500000.0 + n_nationkey * 1000 AS x0,
                   8000000.0 - n_nationkey * 1000 AS y1,
                   10.0 AS res
            FROM nation
        ), bounds AS (
            SELECT scene_key, x0 AS xmin, y1 - 256 * res AS ymin,
                   x0 + 256 * res AS xmax, y1 AS ymax
            FROM extents
        ), corners AS (
            SELECT scene_key, xmin AS x, ymin AS y FROM bounds
            UNION ALL SELECT scene_key, xmin, ymax FROM bounds
            UNION ALL SELECT scene_key, xmax, ymin FROM bounds
            UNION ALL SELECT scene_key, xmax, ymax FROM bounds
        ),
        {steps_cte_chain("corners", steps, "rt_out")}
        SELECT scene_key,
               round(min(x_m), 4) AS xmin_m,
               round(min(y_m), 4) AS ymin_m,
               round(max(x_m), 4) AS xmax_m,
               round(max(y_m), 4) AS ymax_m,
               round(max(sqrt((x_m - x) * (x_m - x)
                              + (y_m - y) * (y_m - y))) * 1000e0, 6)
                 AS max_roundtrip_err_mm
        FROM rt_out GROUP BY scene_key
    """


@query(
    "x13c_wgs84_to_utm_roundtrip",
    survey=("X13", "X15"),
    oracle=_x13c_oracle(),
)
def x13c_wgs84_to_utm_roundtrip(spark, sf_dir):
    """The forward half of the exact CRS seam (X13/X15): WGS84 →
    UTM 23S via the Karney forward series (alpha coefficients,
    functions/crs.py), chained after the inverse so the query IS the
    roundtrip proof — each scene's corners go meters → degrees →
    meters and the envelope must land back on the source extent to
    0.1 mm (max_roundtrip_err_mm is reported per scene and byte-
    checked against DuckDB running the identical step DAG). The
    reference needs this direction when it derives tile grids and
    per-zone scene placement from geographic footprints (utils.py:
    223-237 runs the transforms through pyproj in both directions).
    Same scale posture as x13b: one pure map-stage projection chain,
    one map-side-combined envelope aggregation."""
    from bdc_collection_builder_spark.functions.crs import (
        utm_forward_steps,
        utm_inverse_steps,
    )

    nation = t(spark, sf_dir, "nation")
    b = nation.select(
        F.col("n_nationkey").alias("scene_key"),
        (500000.0 + F.col("n_nationkey") * 1000).alias("x0"),
        (8000000.0 - F.col("n_nationkey") * 1000).alias("y1"),
        F.lit(10.0).alias("res"),
    ).select(
        "scene_key",
        F.col("x0").alias("xmin"),
        (F.col("y1") - 256 * F.col("res")).alias("ymin"),
        (F.col("x0") + 256 * F.col("res")).alias("xmax"),
        F.col("y1").alias("ymax"),
    )
    corners = b.select(
        "scene_key",
        F.explode(F.array(
            F.struct(F.col("xmin").alias("x"), F.col("ymin").alias("y")),
            F.struct(F.col("xmin").alias("x"), F.col("ymax").alias("y")),
            F.struct(F.col("xmax").alias("x"), F.col("ymin").alias("y")),
            F.struct(F.col("xmax").alias("x"), F.col("ymax").alias("y")),
        )).alias("c"),
    ).select("scene_key", F.col("c.x").alias("x"),
             F.col("c.y").alias("y"))
    df = corners
    for name, sql in (utm_inverse_steps("x", "y", zone=23, south=True)
                      + utm_forward_steps("lon_deg", "lat_deg",
                                          zone=23, south=True)):
        df = df.withColumn(name, F.expr(sql))
    err = F.sqrt((F.col("x_m") - F.col("x")) * (F.col("x_m") - F.col("x"))
                 + (F.col("y_m") - F.col("y"))
                 * (F.col("y_m") - F.col("y")))
    return df.groupBy("scene_key").agg(
        F.round(F.min("x_m"), 4).alias("xmin_m"),
        F.round(F.min("y_m"), 4).alias("ymin_m"),
        F.round(F.max("x_m"), 4).alias("xmax_m"),
        F.round(F.max("y_m"), 4).alias("ymax_m"),
        F.round(F.max(err) * 1000.0, 6).alias("max_roundtrip_err_mm"),
    )


@query(
    "x14_footprint_hull",
    survey=("X14", "Z3"),
    oracle=f"""
        WITH RECURSIVE px AS ({_PIXELS}),
        pts AS (
            SELECT DISTINCT scene_id, CAST(x AS BIGINT) AS x,
                   CAST(y AS BIGINT) AS y
            FROM px WHERE B04 <> -9999.0
        ),
        anchor AS (
            SELECT scene_id, x, y FROM (
                SELECT scene_id, x, y,
                       row_number() OVER (PARTITION BY scene_id
                                          ORDER BY x, y) rn
                FROM pts) WHERE rn = 1
        ),
        -- Jarvis march: from the lexicographic anchor, each step picks
        -- the unique point with every other point on its left
        -- (cross >= 0), farthest-first so collinear edge points are
        -- skipped — the same minimal vertex set, start, and
        -- orientation as the monotone chain with strict pops.
        march(scene_id, step, cx, cy) AS (
            SELECT scene_id, 0, x, y FROM anchor
            UNION ALL
            SELECT m.scene_id, m.step + 1, n.x, n.y
            FROM march m
            JOIN anchor a ON a.scene_id = m.scene_id
            JOIN LATERAL (
                SELECT q.x, q.y FROM pts q
                WHERE q.scene_id = m.scene_id
                  AND (q.x <> m.cx OR q.y <> m.cy)
                  AND NOT EXISTS (
                      SELECT 1 FROM pts r
                      WHERE r.scene_id = m.scene_id
                        AND (r.x <> m.cx OR r.y <> m.cy)
                        AND (r.x <> q.x OR r.y <> q.y)
                        AND (q.x - m.cx) * (r.y - m.cy)
                            - (q.y - m.cy) * (r.x - m.cx) < 0
                  )
                ORDER BY (q.x-m.cx)*(q.x-m.cx) + (q.y-m.cy)*(q.y-m.cy)
                    DESC
                LIMIT 1
            ) n ON TRUE
            WHERE m.step < 512
              AND NOT (m.step > 0 AND m.cx = a.x AND m.cy = a.y)
        ),
        verts AS (
            SELECT m.scene_id, m.step, m.cx, m.cy
            FROM march m JOIN anchor a USING (scene_id)
            WHERE NOT (m.step > 0 AND m.cx = a.x AND m.cy = a.y)
        )
        SELECT v.scene_id,
               CAST(count(*) AS INT) AS hull_vertices,
               'POLYGON((' || string_agg(v.cx || ' ' || v.cy, ','
                                         ORDER BY v.step)
                || ',' || any_value(a.x) || ' ' || any_value(a.y) || '))'
                 AS footprint_wkt
        FROM verts v JOIN anchor a USING (scene_id)
        GROUP BY v.scene_id
    """,
)
def x14_footprint_hull(spark, sf_dir):
    """X14/Z3 — valid-pixel convex-hull footprint (utils.py:240-274) as
    a per-scene applyInPandas group kernel (the reference's per-scene
    publish loop, publish.py:184-617, is exactly this grouping). The
    hull is a monotone-chain over valid pixel coordinates — numpy-only,
    no shapely needed. Value-checked since round 4: the DuckDB oracle
    runs a recursive-CTE Jarvis march over the identical synthetic
    pixel grid; both constructions yield the same minimal vertex set,
    starting vertex (lexicographic min), and orientation, so the WKT
    strings match byte-for-byte (was rows-only)."""
    import numpy as np
    import pandas as pd

    from bdc_collection_builder_spark.functions.pixel import (
        NODATA_SENTINEL,
        synthetic_pixels,
    )

    px = synthetic_pixels(spark, n_scenes=4, height=16, width=16)
    valid = px.filter(F.col("B04") != NODATA_SENTINEL).select("scene_id", "y", "x")

    def hull(pdf: pd.DataFrame) -> pd.DataFrame:
        pts = np.unique(pdf[["x", "y"]].to_numpy(), axis=0)
        pts = pts[np.lexsort((pts[:, 1], pts[:, 0]))]

        def half(points):
            out: list[np.ndarray] = []
            for p in points:
                while len(out) >= 2:
                    a, b = out[-1] - out[-2], p - out[-2]
                    if a[0] * b[1] - a[1] * b[0] <= 0:
                        out.pop()
                    else:
                        break
                out.append(p)
            return out

        chain = half(pts)[:-1] + half(pts[::-1])[:-1]
        wkt = "POLYGON((" + ",".join(
            f"{int(p[0])} {int(p[1])}" for p in chain + chain[:1]) + "))"
        return pd.DataFrame({
            "scene_id": [int(pdf["scene_id"].iloc[0])],
            "hull_vertices": [len(chain)],
            "footprint_wkt": [wkt],
        })

    return (
        valid.groupBy("scene_id")
        .applyInPandas(hull, "scene_id long, hull_vertices int, footprint_wkt string")
        .orderBy("scene_id")
    )


@query(
    "x15_epsg_detect",
    survey=("X15",),
    oracle="""
        WITH rasters AS (
            SELECT n_nationkey AS scene_key,
                   CASE n_nationkey % 4
                        WHEN 0 THEN 'EPSG:32723' WHEN 1 THEN 'EPSG:4326'
                        WHEN 2 THEN 'PROJCS[SIRGAS 2000 / UTM 23S]'
                        ELSE NULL END AS crs
            FROM nation
        )
        SELECT scene_key,
               CASE WHEN crs LIKE 'EPSG:%'
                         THEN CAST(substr(crs, 6) AS INTEGER)
                    WHEN crs LIKE '%UTM 23S%' THEN 31983
                    ELSE 4326 END AS srid
        FROM rasters
    """,
)
def x15_epsg_detect(spark, sf_dir):
    """X15 — EPSG/SRID detection (utils.py:486-522): authority-code
    parse, WKT-lookup fallback, default-SRID fallback — the reference's
    rasterio→osr→DB chain as one CASE cascade."""
    nation = t(spark, sf_dir, "nation")
    crs = (
        F.when(F.col("n_nationkey") % 4 == 0, "EPSG:32723")
        .when(F.col("n_nationkey") % 4 == 1, "EPSG:4326")
        .when(F.col("n_nationkey") % 4 == 2, "PROJCS[SIRGAS 2000 / UTM 23S]")
        .otherwise(F.lit(None).cast("string")))
    rasters = nation.select(F.col("n_nationkey").alias("scene_key"),
                            crs.alias("crs"))
    return rasters.select(
        "scene_key",
        F.when(F.col("crs").startswith("EPSG:"),
               F.substring("crs", 6, 10).cast("int"))
        .when(F.col("crs").contains("UTM 23S"), 31983)
        .otherwise(4326).alias("srid"),
    )


@query(
    "st_stateful_sessionize",
    survey=("Y1", "Y5", "Y6"),
    oracle=f"""
        WITH e AS (
            SELECT user_id, {_TS} AS ts FROM events
        ),
        d AS (
            SELECT user_id, ts,
                   CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                            > 1800000000
                        THEN 1 ELSE 0 END AS new_sess
            FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ),
        s AS (
            SELECT user_id, ts,
                   sum(new_sess) OVER (
                       PARTITION BY user_id ORDER BY ts
                       ROWS UNBOUNDED PRECEDING) AS sid
            FROM d
        ),
        g AS (
            SELECT user_id, sid, min(ts) AS session_start,
                   max(ts) AS session_end,
                   CAST(count(*) AS INT) AS n_events
            FROM s GROUP BY user_id, sid
        ),
        tails AS (SELECT user_id, max(sid) AS last_sid FROM g GROUP BY user_id)
        SELECT g.user_id, g.session_start, g.session_end, g.n_events
        FROM g JOIN tails USING (user_id) WHERE g.sid < tails.last_sid
    """,
)
def st_stateful_sessionize(spark, sf_dir):
    """Custom stateful streaming operator (applyInPandasWithState):
    per-user gap sessionization with state carried across micro-batches
    — the engine feature the reference's Celery topology approximates
    (SURVEY §2.9). The run drains the bounded events table with
    Trigger.AvailableNow and returns every session closed by an
    observed gap — i.e. all sessions except each user's open tail,
    which stays in state. Under a complete single-source drain that
    output is deterministic, so the DuckDB oracle (lag/cumsum
    sessionization minus each user's last session) is a FULL value
    check; only the always-on multi-restart schedule is engine-order
    dependent (covered by the streaming tests instead)."""
    import uuid

    from bdc_collection_builder_spark.sources.tables import load_table
    from bdc_collection_builder_spark.streaming.stateful import (
        streaming_sessionize,
    )

    scratch = scratch_dir("bdc_sessionize_")
    events_dir = f"{scratch}/events"
    load_table(spark, sf_dir, "events").write.mode("overwrite").parquet(
        events_dir)
    qname = f"sessions_{uuid.uuid4().hex[:8]}"
    # NOT given the 8-partition state sizing of the stream-join
    # queries: measured in round 10 (same-session A/B at sf0.1), 8
    # partitions cost ~15% here — the drain's wall is the
    # applyInPandasWithState pandas compute over the event volume,
    # which WANTS the parallelism, not the per-partition state-commit
    # overhead that dominates the tiny-state stream-stream joins.
    q = streaming_sessionize(spark, events_dir, f"{scratch}/ckpt",
                             queryName=qname)
    q.awaitTermination(300)
    return spark.sql(
        f"SELECT user_id, session_start, session_end, n_events FROM {qname}"
    ).orderBy("user_id", "session_start")


@query(
    "st_incremental_dedup",
    survey=("Y3", "Y5", "DD-exact"),
    oracle="""
        SELECT DISTINCT md5(text) AS content_hash FROM documents
    """,
)
def st_incremental_dedup(spark, sf_dir):
    """Streaming exact dedup with a persistent seen-set
    (streaming/incremental.incremental_dedup): drain the documents
    table (plus planted re-uploads of every 10th doc) through an
    AvailableNow file stream; each micro-batch anti-joins the
    persisted hash set, so re-uploads never reach the sink. WHICH
    duplicate survives depends on micro-batch arrival order
    (engine-specific), but the emitted content_hash SET does not —
    exactly one survivor per distinct text, and the hash is
    engine-neutral md5 — so the drained hash column is fully
    value-checkable: the oracle is simply the distinct text digests
    (the planted re-uploads duplicate existing texts and must
    contribute nothing)."""

    from bdc_collection_builder_spark.sources.tables import load_table
    from bdc_collection_builder_spark.streaming.incremental import (
        incremental_dedup,
    )

    scratch = scratch_dir("bdc_stream_dedup_")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    docs.write.mode("append").parquet(f"{scratch}/in")
    (docs.filter(F.col("doc_id") % 10 == 0)
     .select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
     .write.mode("append").parquet(f"{scratch}/in"))
    q = incremental_dedup(spark, f"{scratch}/in", f"{scratch}/seen",
                          f"{scratch}/out", f"{scratch}/ckpt")
    q.awaitTermination(300)
    return (
        spark.read.parquet(f"{scratch}/out")
        .select("content_hash").orderBy("content_hash")
    )


@query(
    "st_incremental_near_dedup",
    survey=("Y3", "Y5", "DD-minhash"),
    oracle="""
        SELECT CAST(doc_id AS BIGINT) AS cluster_rep
        FROM documents WHERE doc_id < 60
    """,
)
def st_incremental_near_dedup(spark, sf_dir):
    """Streaming NEAR-dup dedup against a persisted LSH state
    (streaming/incremental.incremental_near_dedup): the documents table
    plus planted near-copies (every 10th doc + ' xy zz wq', re-keyed
    +1000000) drains through an AvailableNow stream; each micro-batch
    probes the accepted corpus's banded MinHash signatures with an
    equi-join and verifies candidates with exact Jaccard, so
    near-copies are dropped whether they arrive in the same batch or a
    later one.

    WHICH member of a near-dup cluster survives depends on micro-batch
    chop (engine-specific), but exactly ONE member per cluster survives
    — so the emitted ``doc_id % 1000000`` (the planted copies' offset
    folds each copy onto its original) is an order-independent cluster
    representative, making the query fully value-checkable: the oracle
    is simply every original id (VERDICT-r3 task 8; this was the last
    rows-only streaming entry).

    That invariant requires the near-dup graph to be EXACTLY the
    planted matching — the raw documents text has organic near-dup
    chains whose greedy survivor count is genuinely order-dependent —
    so the corpus is deterministic md5-derived token text per doc_id
    (engine-neutral, cross-doc Jaccard ~0, planted-pair Jaccard
    36/39 ≈ 0.92 >= the 0.5 threshold; asserted by the companion
    streaming test), which exercises the operator identically."""

    from bdc_collection_builder_spark.sources.tables import load_table
    from bdc_collection_builder_spark.streaming.incremental import (
        drain_partitions,
        incremental_near_dedup,
    )

    from bdc_collection_builder_spark.extensions.dedup import md5_hash60

    scratch = scratch_dir("bdc_stream_neardup_")
    # deterministic 40-token corpus keyed by doc_id (see docstring):
    # token j of doc d = 'w' + (md5_60(d:j) % 100000)
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
    docs.coalesce(1).write.mode("append").parquet(f"{scratch}/in")
    (docs.filter(F.col("doc_id") % 10 == 0)
     .select((F.col("doc_id") + 1000000).alias("doc_id"),
             F.concat("text", F.lit(" xy zz wq")).alias("text"))
     .coalesce(1).write.mode("append").parquet(f"{scratch}/in"))
    with drain_partitions(spark):
        q = incremental_near_dedup(spark, f"{scratch}/in",
                                   f"{scratch}/state",
                                   f"{scratch}/out", f"{scratch}/ckpt")
        q.awaitTermination(300)
    return (
        spark.read.parquet(f"{scratch}/out")
        .select((F.col("doc_id") % 1000000).alias("cluster_rep"))
        .orderBy("cluster_rep")
    )


@query(
    "st_stream_stream_join",
    survey=("Y2", "TJ-range"),
    oracle=f"""
        WITH e AS (
            SELECT user_id, event_id AS error_id, {_TS} AS ts FROM events
            WHERE event_type = 'error'
        ),
        a AS (
            SELECT user_id, event_id AS followup_id, {_TS} AS ts FROM events
        )
        SELECT e.error_id, a.followup_id
        FROM e JOIN a
          ON a.user_id = e.user_id
         AND a.ts >= e.ts
         AND a.ts <= e.ts + INTERVAL 10 MINUTE
    """,
)
def st_stream_stream_join(spark, sf_dir):
    """Stream-stream interval join (errors ⋈ same-user follow-ups
    within 10 minutes) drained with Trigger.AvailableNow — the
    continuously-runnable form of tj_range_error_followups. Dual
    watermarks + the bounded event-time condition let the engine evict
    join state past the lateness horizon, so state is O(watermark),
    not O(history). The inner join's emitted pairs equal the batch
    interval join exactly, which the DuckDB oracle replays — a FULL
    value check, not rows-only, unlike the stateful st_* queries."""
    import uuid

    from bdc_collection_builder_spark.sources.tables import load_table
    from bdc_collection_builder_spark.streaming.incremental import (
        drain_partitions,
        streaming_interval_join,
    )

    scratch = scratch_dir("bdc_ssj_")
    events_dir = f"{scratch}/events"
    load_table(spark, sf_dir, "events").coalesce(8).write.mode(
        "overwrite").parquet(events_dir)
    qname = f"ssj_{uuid.uuid4().hex[:8]}"
    with drain_partitions(spark):
        q = streaming_interval_join(spark, events_dir, events_dir,
                                    f"{scratch}/ckpt", qname)
        q.awaitTermination(300)
    return spark.sql(f"SELECT error_id, followup_id FROM {qname}")


_WM_BATCH = 25      # arrival-order micro-batch size
_WM_SHARDS = 8      # modeled source partitions
_WM_DELAY_MIN = 10  # watermark delay
_WM_SKEW_S = 14400  # max client-clock skew (seconds) behind arrival


@query(
    "st_late_data_audit",
    survey=("Y2", "Y6"),
    oracle=f"""
        WITH ev AS (
            SELECT event_id, user_id % {_WM_SHARDS} AS shard,
                   event_id // {_WM_BATCH} AS batch,
                   {_TS} - to_seconds(
                       CAST(concat('0x', substr(md5(
                           CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT)
                       % {_WM_SKEW_S}) AS ts
            FROM events
        ),
        pb AS (
            SELECT shard, batch, max(ts) AS mx FROM ev GROUP BY 1, 2
        ),
        grid AS (
            SELECT b.batch, s.shard
            FROM (SELECT DISTINCT batch FROM ev) b,
                 (SELECT unnest(generate_series(0, {_WM_SHARDS - 1}))
                      AS shard) s
        ),
        rung AS (
            SELECT g.shard, g.batch,
                   max(p.mx) OVER (PARTITION BY g.shard
                                   ORDER BY g.batch) AS runmax
            FROM grid g LEFT JOIN pb p
              ON p.shard = g.shard AND p.batch = g.batch
        ),
        wm AS (
            SELECT batch + 1 AS batch,
                   CASE WHEN count(runmax) = count(*)
                        THEN min(runmax) - INTERVAL {_WM_DELAY_MIN} MINUTE
                   END AS watermark_ts
            FROM rung GROUP BY 1
        )
        SELECT e.batch,
               any_value(w.watermark_ts) AS watermark_ts,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CASE WHEN e.ts < w.watermark_ts THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_late
        FROM ev e LEFT JOIN wm w ON w.batch = e.batch
        GROUP BY e.batch
    """,
)
def st_late_data_audit(spark, sf_dir):
    """Watermark late-data accounting, batch-verified — the exact
    global-watermark rule Structured Streaming applies (watermark =
    min over source partitions of each partition's running max event
    time, lagged one trigger, minus the allowed delay), replayed
    deterministically so the DuckDB oracle value-checks it: arrival
    order is the event_id sequence chopped into {_WM_BATCH}-row
    micro-batches, source partitions are user_id mod {_WM_SHARDS},
    and an event is LATE (would be dropped from watermarked
    aggregation state) iff its event time is below the watermark in
    force for its batch. Event times carry a deterministic
    client-clock skew (a hash-derived lag of up to {_WM_SKEW_S}s
    behind arrival order) — the real-world condition watermarks
    exist for; without it the synthetic feed is perfectly ordered
    and nothing is ever late. Early batches where some shard has produced
    nothing yet have NO watermark (NULL) — the min-across-partitions
    rule — so nothing is late there, matching Spark's conservative
    startup behavior.

    Scale shape: one (shard, batch) partial agg over the stream, a
    dense shard×batch grid built by a literal explode (NO cross join
    — shards are a constant domain), an 8-partition running-max
    window, a batch-keyed min-aggregate, and one broadcast join back
    to events. The audit's cost is one pass regardless of history
    length; state is the per-shard maxima — exactly the O(partitions)
    state a real watermark tracker keeps."""
    from pyspark.sql import Window

    from bdc_collection_builder_spark.extensions.dedup import md5_hash60

    skew = F.pmod(md5_hash60(F.col("event_id").cast("string")),
                  F.lit(_WM_SKEW_S))
    ev = (
        t(spark, sf_dir, "events")
        .withColumn("__skew", skew)
        .select(
            "event_id",
            F.pmod(F.col("user_id"), F.lit(_WM_SHARDS)).alias("shard"),
            F.floor(F.col("event_id") / _WM_BATCH).cast("bigint")
            .alias("batch"),
            F.expr("timestampadd(SECOND, -__skew, ts)").alias("ts"))
    )
    pb = ev.groupBy("shard", "batch").agg(F.max("ts").alias("mx"))
    grid = (
        ev.select("batch").distinct()
        .select("batch", F.explode(F.array(
            *[F.lit(s) for s in range(_WM_SHARDS)])).alias("shard"))
    )
    w_shard = (Window.partitionBy("shard").orderBy("batch")
               .rowsBetween(Window.unboundedPreceding, 0))
    rung = (
        grid.join(pb, ["shard", "batch"], "left")
        .select("shard", "batch", F.max("mx").over(w_shard).alias("runmax"))
    )
    wm = (
        rung.groupBy((F.col("batch") + 1).alias("batch"))
        .agg(F.when(
            F.count("runmax") == F.count("*"),
            F.min("runmax") - F.expr(
                f"INTERVAL {_WM_DELAY_MIN} MINUTES"))
            .alias("watermark_ts"))
    )
    return (
        ev.join(F.broadcast(wm), "batch", "left")
        .groupBy("batch")
        .agg(
            F.first("watermark_ts").alias("watermark_ts"),
            F.count("*").cast("bigint").alias("n_events"),
            F.sum(F.when(F.col("ts") < F.col("watermark_ts"), 1)
                  .otherwise(0)).cast("bigint").alias("n_late"))
    )


# -- S18/S19: text-format connectors (JSONL / CSV round-trip) -----------

# One write per (sf_dir, fmt) per process: queries are re-invoked by
# the plan lint and the bench harness, and re-writing identical files
# on every plan construction would waste jobs. The read side stays a
# lazy distributed scan over the written files.
_ROUNDTRIP_DIRS: dict[tuple[str, str], str] = {}


def _roundtrip_dir(spark, sf_dir: str, fmt: str) -> str:

    key = (sf_dir, fmt)
    if key not in _ROUNDTRIP_DIRS:
        out = scratch_dir(f"bdc_{fmt}_roundtrip_")
        docs = t(spark, sf_dir, "documents")
        if fmt == "json":
            docs.coalesce(4).write.mode("overwrite").json(out)
        elif fmt == "orc":
            docs.coalesce(4).write.mode("overwrite").orc(out)
        else:
            (docs.coalesce(4).write.mode("overwrite")
             .option("header", True)
             .option("quoteAll", True)      # RFC 4180 double-quote style
             .option("escape", '"')
             .option("nullValue", r"\N")    # round-trip NULL vs ''
             .csv(out))
        _ROUNDTRIP_DIRS[key] = out
    return _ROUNDTRIP_DIRS[key]


_DOCS_COLS = "doc_id, text, lang, source, n_chars"


@query(
    "s18_jsonl_roundtrip",
    survey=("S18",),
    oracle=f"SELECT {_DOCS_COLS} FROM documents",
)
def s18_jsonl_roundtrip(spark, sf_dir):
    """S18 — JSON-lines connector: write the documents table as JSONL,
    read it back with an explicit schema, prove losslessness against
    the parquet oracle. JSONL is the lingua franca of LLM training
    corpora (one doc per line, trivially splittable), and Spark's
    json source scans it distributed — each 128 MB split is parsed by
    its own task; schema enforcement avoids a sampling inference pass
    over 100 TB."""
    docs = t(spark, sf_dir, "documents")
    path = _roundtrip_dir(spark, sf_dir, "json")
    return spark.read.schema(docs.schema).json(path).select(
        *[c.strip() for c in _DOCS_COLS.split(",")])


@query(
    "s19_csv_roundtrip",
    survey=("S19",),
    oracle=f"SELECT {_DOCS_COLS} FROM documents",
)
def s19_csv_roundtrip(spark, sf_dir):
    """S19 — CSV connector with full RFC 4180 quoting (quote-all +
    double-quote escaping + a distinct NULL sentinel), read back with
    multiLine so embedded newlines survive. Note for 100 TB: multiLine
    CSV files are NOT splittable (a record can span split boundaries),
    so the production layout keeps individual CSV files ≤ the target
    partition size — the write side here does exactly that via many
    small files rather than one giant one."""
    docs = t(spark, sf_dir, "documents")
    path = _roundtrip_dir(spark, sf_dir, "csv")
    return (
        spark.read.schema(docs.schema)
        .option("header", True)
        .option("multiLine", True)
        .option("escape", '"')
        .option("nullValue", r"\N")
        .csv(path)
        .select(*[c.strip() for c in _DOCS_COLS.split(",")])
    )


@query(
    "s28_orc_roundtrip",
    survey=("S18", "S19"),
    oracle=f"SELECT {_DOCS_COLS} FROM documents",
)
def s28_orc_roundtrip(spark, sf_dir):
    """ORC connector round-trip, completing the columnar-format matrix
    (parquet native, JSONL s18, CSV s19): the documents table written
    as ORC and read back losslessly. ORC is the other splittable
    columnar standard a warehouse migration encounters (Hive/Trino
    lineages); Spark's native orc source gives the same predicate
    pushdown + column pruning + stripe-level splitting as parquet, so
    every scan argument in this repo carries over unchanged."""
    docs = t(spark, sf_dir, "documents")
    path = _roundtrip_dir(spark, sf_dir, "orc")
    return spark.read.schema(docs.schema).orc(path).select(
        *[c.strip() for c in _DOCS_COLS.split(",")])


# -- S20: real-TIFF raster scan (pure-Python codec, no GDAL) ------------

def _tiff_scene_dir(spark) -> str:
    """Write the synthetic 4-scene pixel grid as REAL single-band
    int16 GeoTIFF files, once per process, through the one scene-file
    sink (:func:`plans._util._scene_files`)."""
    from bdc_collection_builder_spark.sources.tiff import write_tiff

    def encode(sid, grids):
        return write_tiff(grids["B04"].astype("int16"),
                          pixel_scale=(10.0, 10.0, 0.0),
                          tiepoint=(0.0, 0.0, 0.0, -46.0, -13.0, 0.0))

    return _scene_files(spark, "tiff", "tif", encode)


@query(
    "s20_tiff_raster_scan",
    survey=("S6", "S11"),
    oracle=f"""
        WITH px AS ({_PIXELS})
        SELECT scene_id,
               CAST(floor(y / 8) * 2 + floor(x / 8) AS BIGINT) AS window_id,
               count(*) AS n_px,
               round(avg(CASE WHEN B04 = -9999.0 THEN NULL ELSE B04 END), 4)
                   AS mean_b04
        FROM px
        GROUP BY 1, 2
    """,
)
def s20_tiff_raster_scan(spark, sf_dir):
    """S6/S11 over REAL raster bytes: scenes are written as actual
    single-band int16 GeoTIFF files (pure-Python codec,
    sources/tiff.py — uncompressed TIFF 6.0 + GeoTIFF tags, no GDAL),
    scanned back with the ``binaryFile`` source, decoded in an
    Arrow-batched ``mapInPandas``, and reduced to 8×8-block window
    statistics. Unlike s06 (which models the dataflow on a synthetic
    grid), every byte here crosses a genuine encode→file→scan→decode
    boundary; swapping the codec for rasterio changes one call.

    Scale shape: the decoder emits PER-WINDOW partial aggregates
    (sum/count per 8×8 block), never pixel rows — at 100 TB only
    window summaries cross the Python/JVM boundary and the final
    groupBy merges partials from (potentially) multi-strip splits.
    The oracle is the same analytic pixel SQL as s06: the TIFF
    round-trip must be value-exact for the means to hash-match."""
    import re as _re

    import numpy as np
    import pandas as pd

    from bdc_collection_builder_spark.sources.tiff import read_tiff

    path = _tiff_scene_dir(spark)
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.tif").load(path)
        .select("path", "content")
    )

    def decode(batches):
        for pdf in batches:
            out: dict[str, list] = {
                "scene_id": [], "window_id": [], "n_px": [],
                "sum_b04": [], "n_valid": []}
            for p, content in zip(pdf["path"], pdf["content"]):
                img = read_tiff(bytes(content))
                sid = int(_re.search(r"scene_(\d+)", p).group(1))
                a = img.array.astype("float64")
                for wy in range(2):
                    for wx in range(2):
                        blk = a[wy * 8:(wy + 1) * 8, wx * 8:(wx + 1) * 8]
                        valid = blk[blk != -9999.0]
                        out["scene_id"].append(sid)
                        out["window_id"].append(wy * 2 + wx)
                        out["n_px"].append(blk.size)
                        out["sum_b04"].append(float(valid.sum()))
                        out["n_valid"].append(int(valid.size))
            yield pd.DataFrame(out)

    partials = files.mapInPandas(
        decode,
        "scene_id long, window_id long, n_px long, sum_b04 double, "
        "n_valid long")
    return (
        partials.groupBy("scene_id", "window_id")
        .agg(F.sum("n_px").alias("n_px"),
             F.sum("sum_b04").alias("s"),
             F.sum("n_valid").alias("v"))
        .select(
            "scene_id", "window_id", "n_px",
            F.when(F.col("v") > 0,
                   F.round(F.col("s") / F.col("v"), 4)).alias("mean_b04"))
    )


def _tiff_multiband_dir(spark) -> str:
    """Write the synthetic pixel grid as REAL 3-band (B04, B08, SCL)
    pixel-interleaved int16 GeoTIFFs — the band-stack shape the
    reference's SR outputs and RGB quicklooks use (publish.py:77-88).
    Written by the one scene-file sink, :func:`plans._util._scene_files`."""
    import numpy as np

    from bdc_collection_builder_spark.sources.tiff import write_tiff

    def encode(sid, grids):
        stack = np.stack([grids[b].astype("int16")
                          for b in ("B04", "B08", "SCL")], axis=-1)
        return write_tiff(stack, pixel_scale=(10.0, 10.0, 0.0),
                          tiepoint=(0.0, 0.0, 0.0, -46.0, -13.0, 0.0))

    return _scene_files(spark, "tiff_mb", "tif", encode)


@query(
    "s23_tiff_multiband_scan",
    survey=("S6", "S11", "S13"),
    oracle=f"""
        WITH px AS ({_PIXELS})
        SELECT scene_id,
               CAST(floor(y / 8) * 2 + floor(x / 8) AS BIGINT) AS window_id,
               round(avg(CASE WHEN B04 = -9999.0 THEN NULL ELSE B04 END), 4)
                   AS mean_b04,
               round(avg(CASE WHEN B08 = -9999.0 THEN NULL ELSE B08 END), 4)
                   AS mean_b08,
               round(avg(SCL), 4) AS mean_scl
        FROM px
        GROUP BY 1, 2
    """,
)
def s23_tiff_multiband_scan(spark, sf_dir):
    """s20's real-bytes raster scan over MULTI-BAND TIFFs: 3-band
    pixel-interleaved int16 stacks (B04/B08/SCL) encoded by the
    pure-Python codec, scanned back via ``binaryFile`` and decoded in
    one Arrow-batched ``mapInPandas`` that emits per-window partial
    aggregates for every band at once — ONE file read covers all
    bands, vs s20's one-file-per-band layout (the chunky-stack
    trade-off the reference's publish.py makes for quicklooks). Only
    window summaries cross the Python/JVM boundary; the final groupBy
    merges partials across file splits."""
    import re as _re

    import pandas as pd

    from bdc_collection_builder_spark.sources.tiff import read_tiff

    path = _tiff_multiband_dir(spark)
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.tif").load(path)
        .select("path", "content")
    )

    def decode(batches):
        for pdf in batches:
            out: dict[str, list] = {
                "scene_id": [], "window_id": [],
                "s04": [], "v04": [], "s08": [], "v08": [],
                "sscl": [], "vscl": []}
            for p, content in zip(pdf["path"], pdf["content"]):
                img = read_tiff(bytes(content))
                assert img.bands == 3
                sid = int(_re.search(r"scene_(\d+)", p).group(1))
                a = img.array.astype("float64")
                for wy in range(2):
                    for wx in range(2):
                        blk = a[wy * 8:(wy + 1) * 8, wx * 8:(wx + 1) * 8, :]
                        out["scene_id"].append(sid)
                        out["window_id"].append(wy * 2 + wx)
                        for band, (sk, vk) in zip(
                                range(3),
                                (("s04", "v04"), ("s08", "v08"),
                                 ("sscl", "vscl"))):
                            vals = blk[:, :, band]
                            valid = vals[vals != -9999.0]
                            out[sk].append(float(valid.sum()))
                            out[vk].append(int(valid.size))
            yield pd.DataFrame(out)

    partials = files.mapInPandas(
        decode,
        "scene_id long, window_id long, s04 double, v04 long, "
        "s08 double, v08 long, sscl double, vscl long")
    return (
        partials.groupBy("scene_id", "window_id")
        .agg(*[F.sum(c).alias(c)
               for c in ("s04", "v04", "s08", "v08", "sscl", "vscl")])
        .select(
            "scene_id", "window_id",
            F.round(F.col("s04") / F.col("v04"), 4).alias("mean_b04"),
            F.round(F.col("s08") / F.col("v08"), 4).alias("mean_b08"),
            F.round(F.col("sscl") / F.col("vscl"), 4).alias("mean_scl"))
    )


# loopback HTTP fixture providers, started once per process (daemon
# threads; live for the process like the _scene_files dirs)
_HTTP_SRV: dict[str, object] = {}


def _http_providers() -> list[tuple[str, str]]:
    if "providers" not in _HTTP_SRV:

        from bdc_collection_builder_spark.pipeline.stages import (
            start_fixture_provider,
        )

        flaky_url, flaky_srv = start_fixture_provider(flaky=True)
        stable_url, stable_srv = start_fixture_provider(flaky=False)
        _HTTP_SRV["providers"] = [("flaky", flaky_url),
                                  ("stable", stable_url)]
        _HTTP_SRV["servers"] = (flaky_srv, stable_srv)
        _HTTP_SRV["out_dir"] = scratch_dir("bdc_http_dl_")
    return _HTTP_SRV["providers"]  # type: ignore[return-value]


@query(
    "s24_http_download_failover",
    survey=("S2", "S3"),
    oracle="""
        WITH scenes AS (
            SELECT scene_id, collection_id FROM (
                SELECT 'S2A_MSIL1C_' || CAST(o_orderkey AS VARCHAR)
                           AS scene_id,
                       CAST(o_orderkey % 3 + 1 AS INT) AS collection_id
                FROM orders WHERE o_orderkey % 50 = 0
            ) ORDER BY scene_id LIMIT 200
        ),
        decoded AS (
            SELECT scene_id, collection_id,
                   ((strpos('0123456789abcdef',
                            substr(md5(scene_id || ':flaky'), 1, 1))-1)*16
                     + strpos('0123456789abcdef',
                              substr(md5(scene_id || ':flaky'), 2, 1))-1)
                   % 5 = 0 AS off1
            FROM scenes
        )
        SELECT scene_id, collection_id,
               CASE WHEN off1 THEN 'stable' ELSE 'flaky' END
                   AS provider_used,
               CAST(CASE WHEN off1 THEN 2 ELSE 1 END AS INT) AS attempts,
               md5(repeat(scene_id || '|', 16)) AS checksum,
               'SUCCESS' AS status
        FROM decoded
    """,
)
def s24_http_download_failover(spark, sf_dir):
    """S2/S3 over a REAL network path: scenes issue genuine HTTP GETs
    (urllib inside the executor-side stage) against two loopback
    fixture providers — the first answers 503 for "offline" scenes (the
    same md5 rule the s02 simulator and its oracle decode), the second
    always serves — so provider failover, checksum validation
    (X-Content-MD5 vs the downloaded bytes), and file landing all
    exercise actual sockets and HTTP framing, not a simulator. The
    DuckDB oracle predicts provider choice, attempt count, and the
    md5 of the deterministic payload, value-checking the whole wire
    round-trip. Production swaps the base URLs (plus auth) for real
    LTA endpoints; the stage is unchanged (pipeline/stages.py
    http_download_stage)."""
    from bdc_collection_builder_spark.pipeline.stages import (
        http_download_stage,
    )

    providers = _http_providers()
    scenes = _scenes(spark, sf_dir).orderBy("scene_id").limit(200)
    return http_download_stage(
        scenes.select("scene_id", "collection_id"), providers,
        str(_HTTP_SRV["out_dir"])
    ).select("scene_id", "collection_id", "provider_used", "attempts",
             "checksum", "status")


@query(
    "s25_subprocess_correction",
    survey=("Z2", "S2"),
    oracle="""
        WITH scenes AS (
            SELECT scene_id, collection_id FROM (
                SELECT 'S2A_MSIL1C_' || CAST(o_orderkey AS VARCHAR)
                           AS scene_id,
                       CAST(o_orderkey % 3 + 1 AS INT) AS collection_id
                FROM orders WHERE o_orderkey % 50 = 0
            ) ORDER BY scene_id LIMIT 60
        ),
        decoded AS (
            SELECT scene_id, collection_id,
                   ((strpos('0123456789abcdef',
                            substr(md5(scene_id || ':2.11.0'), 1, 1))-1)*16
                     + strpos('0123456789abcdef',
                              substr(md5(scene_id || ':2.11.0'), 2, 1))-1)
                   % 7 <> 0 AS works11
            FROM scenes
        )
        SELECT scene_id, collection_id,
               CASE WHEN works11 THEN '2.11.0' ELSE '2.5.5' END
                   AS processor_version,
               md5(reverse(repeat(scene_id || '|', 16)))
                   AS output_checksum,
               CAST(0 AS INT) AS returncode
        FROM decoded
    """,
)
def s25_subprocess_correction(spark, sf_dir):
    """Z2 with a REAL child process: scenes flow through the genuine
    HTTP download (s24's loopback providers) and then an ACTUAL
    subprocess per scene — the fixture processor install
    (pipeline/stages.write_fixture_processor) byte-reverses the
    downloaded archive, and its '2.11.0' install deterministically
    exits nonzero for scenes where the version-broken md5 rule fires,
    so the version-fallback loop (processor.py:27-101) is driven by
    real exit codes. The oracle predicts the version each scene lands
    on AND the md5 of the child process's actual output bytes —
    download wire, process spawn, and file round-trip are all
    value-checked. Docker/Singularity deployments swap the argv
    template only."""
    import os
    import sys

    from bdc_collection_builder_spark.pipeline.stages import (
        http_download_stage,
        subprocess_correction_stage,
        write_fixture_processor,
    )

    providers = _http_providers()
    if "proc_script" not in _HTTP_SRV:
        script = os.path.join(scratch_dir("bdc_proc_"),
                              "fixture_processor.py")
        write_fixture_processor(script)
        _HTTP_SRV["proc_script"] = script
        _HTTP_SRV["corr_dir"] = scratch_dir("bdc_corr_")
    script = str(_HTTP_SRV["proc_script"])
    argv = [sys.executable, script, "{version}", "{input}", "{output}"]
    scenes = _scenes(spark, sf_dir).orderBy("scene_id").limit(60)
    downloaded = http_download_stage(
        scenes.select("scene_id", "collection_id"), providers,
        str(_HTTP_SRV["out_dir"]))
    corrected = subprocess_correction_stage(
        downloaded, [("2.11.0", argv), ("2.5.5", argv)],
        str(_HTTP_SRV["corr_dir"]))
    return corrected.select(
        "scene_id", "collection_id", "processor_version",
        "output_checksum", "returncode")


@query(
    "s21_zip_archive_validate",
    survey=("S4", "S5"),
    oracle="""
        WITH scenes AS (
            SELECT concat('S2A_MSIL1C_', CAST(o_orderkey AS VARCHAR))
                       AS scene_id
            FROM orders WHERE o_orderkey % 50 = 0
        ),
        members(member) AS (
            VALUES ('MTD_MSIL2A.xml'), ('B04_10m.jp2'), ('B08_10m.jp2'),
                   ('SCL_20m.jp2')
        )
        SELECT s.scene_id, m.member,
               CAST(16 * (length(m.member) + 1 + length(s.scene_id))
                    AS BIGINT) AS size_bytes,
               TRUE AS crc_ok
        FROM scenes s, members m
    """,
)
def s21_zip_archive_validate(spark, sf_dir):
    """S4/S5 over REAL archive bytes: each scene's archive is built as
    an actual in-memory ZIP (stdlib ``zipfile``, deterministic member
    payloads), then validated the way the reference validates
    downloads (utils.py:94-101 ``is_valid_compressed``): the central
    directory is walked, every member's CRC32 is checked against a
    full decompress (``testzip``), and the member inventory (name,
    size) is emitted. A corrupted archive raises inside the stage —
    the row never reaches the output (pytest covers the bit-flip
    path). Payload bytes never leave the executor; only the bounded
    (scene × member) inventory crosses the Arrow boundary — the same
    posture as the multimodal decode stage."""
    import io
    import zipfile

    import pandas as pd

    members = ["MTD_MSIL2A.xml", "B04_10m.jp2", "B08_10m.jp2", "SCL_20m.jp2"]
    scenes = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 50 == 0)
        .select(F.concat(F.lit("S2A_MSIL1C_"),
                         F.col("o_orderkey").cast("string"))
                .alias("scene_id"))
    )

    def build_and_validate(batches):
        for pdf in batches:
            out = {"scene_id": [], "member": [], "size_bytes": [],
                   "crc_ok": []}
            for sid in pdf["scene_id"]:
                buf = io.BytesIO()
                with zipfile.ZipFile(buf, "w",
                                     zipfile.ZIP_DEFLATED) as zf:
                    for m in members:
                        zf.writestr(m, (f"{m}:{sid}" * 16).encode())
                buf.seek(0)
                with zipfile.ZipFile(buf) as zf:
                    bad = zf.testzip()  # full CRC pass over every member
                    if bad is not None:
                        raise ValueError(f"{sid}: corrupt member {bad}")
                    for info in zf.infolist():
                        out["scene_id"].append(sid)
                        out["member"].append(info.filename)
                        out["size_bytes"].append(info.file_size)
                        out["crc_ok"].append(True)
            yield pd.DataFrame(out)

    return scenes.mapInPandas(
        build_and_validate,
        "scene_id string, member string, size_bytes long, crc_ok boolean")


@query(
    "mm_decode_tiff_stats",
    survey=("MM-decode", "S6"),
    oracle=f"""
        WITH px AS ({_PIXELS})
        SELECT scene_id,
               CAST(16 AS BIGINT) AS width, CAST(16 AS BIGINT) AS height,
               round(avg(CASE WHEN B04 = -9999.0 THEN NULL ELSE B04 END), 4)
                   AS mean_valid,
               min(CASE WHEN B04 = -9999.0 THEN NULL ELSE B04 END)
                   AS min_valid,
               max(B04) AS max_valid,
               CAST(-46.0 AS DOUBLE) AS origin_x
        FROM px GROUP BY scene_id
    """,
)
def mm_decode_tiff_stats(spark, sf_dir):
    """Multimodal decode over REAL image bytes: the binary payload
    column holds actual GeoTIFF files (written by the same pure-Python
    codec the raster scan uses), decoded executor-side into per-image
    statistics + the georeferencing origin. This is the stub-free form
    of mm_decode_features — payload bytes stay executor-local, only
    fixed-width stats cross the Arrow boundary, and every value is
    pinned by the analytic pixel oracle (the decode must be bit-exact
    for the means to hash-match)."""
    import re as _re

    import pandas as pd

    from bdc_collection_builder_spark.sources.tiff import read_tiff

    path = _tiff_scene_dir(spark)
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.tif").load(path)
        .select("path", "content")
    )

    def stats(batches):
        for pdf in batches:
            out = {"scene_id": [], "width": [], "height": [],
                   "mean_valid": [], "min_valid": [], "max_valid": [],
                   "origin_x": []}
            for p, content in zip(pdf["path"], pdf["content"]):
                img = read_tiff(bytes(content))
                sid = int(_re.search(r"scene_(\d+)", p).group(1))
                a = img.array.astype("float64")
                valid = a[a != -9999.0]
                out["scene_id"].append(sid)
                out["width"].append(img.width)
                out["height"].append(img.height)
                out["mean_valid"].append(
                    round(float(valid.sum()) / valid.size, 4)
                    if valid.size else None)
                out["min_valid"].append(
                    float(valid.min()) if valid.size else None)
                out["max_valid"].append(float(a.max()))
                out["origin_x"].append(
                    img.tiepoint[3] if img.tiepoint else None)
            yield pd.DataFrame(out)

    return files.mapInPandas(
        stats,
        "scene_id long, width long, height long, mean_valid double, "
        "min_valid double, max_valid double, origin_x double")


@query(
    "s22_xml_mtd_parse",
    survey=("S8", "X16"),
    oracle="""
        SELECT n_nationkey AS scene_key,
               CAST(n_nationkey % 100 AS DOUBLE) AS cloud_pct,
               concat(CAST(n_nationkey * 2 AS VARCHAR), ' ',
                      CAST(n_nationkey * 3 AS VARCHAR), ' ',
                      CAST(n_nationkey * 2 + 1 AS VARCHAR), ' ',
                      CAST(n_nationkey * 3 + 1 AS VARCHAR)) AS pos_list,
               CAST(2 AS BIGINT) AS n_bands
        FROM nation
    """,
)
def s22_xml_mtd_parse(spark, sf_dir):
    """S8 with a REAL XML parser: full nested MTD_MSIL2A-shaped
    documents (cloud percentage, footprint EXT_POS_LIST, band file
    list — publish.py:159-174's actual read targets) are built and
    parsed with ``xml.etree`` inside an Arrow-batched stage, not
    regex-matched as flat strings (s08 keeps that cheap path). The
    document never leaves the executor; only the typed fields cross
    the boundary. This is the shape for real MTD files arriving via
    binaryFile — swap the synthesized string for the file content
    column."""
    import xml.etree.ElementTree as ET

    import pandas as pd

    nation = t(spark, sf_dir, "nation").select("n_nationkey")

    def parse(batches):
        for pdf in batches:
            out = {"scene_key": [], "cloud_pct": [], "pos_list": [],
                   "n_bands": []}
            for k in pdf["n_nationkey"]:
                k = int(k)
                xml = (
                    "<n1:Level-2A_User_Product>"
                    "<n1:Quality_Indicators_Info>"
                    f"<Cloud_Coverage_Assessment>{k % 100}"
                    "</Cloud_Coverage_Assessment>"
                    "</n1:Quality_Indicators_Info>"
                    "<n1:Geometric_Info><Product_Footprint>"
                    f"<EXT_POS_LIST>{k * 2} {k * 3} {k * 2 + 1} {k * 3 + 1}"
                    "</EXT_POS_LIST>"
                    "</Product_Footprint></n1:Geometric_Info>"
                    "<n1:Product_Organisation>"
                    f"<IMAGE_FILE>GRANULE/B04_10m</IMAGE_FILE>"
                    f"<IMAGE_FILE>GRANULE/B08_10m</IMAGE_FILE>"
                    "</n1:Product_Organisation>"
                    "</n1:Level-2A_User_Product>"
                ).replace("n1:", "")  # namespace-free for the test doc
                root = ET.fromstring(xml)
                cloud = float(root.findtext(
                    ".//Cloud_Coverage_Assessment"))
                pos = root.findtext(".//EXT_POS_LIST")
                bands = root.findall(".//IMAGE_FILE")
                out["scene_key"].append(k)
                out["cloud_pct"].append(cloud)
                out["pos_list"].append(pos)
                out["n_bands"].append(len(bands))
            yield pd.DataFrame(out)

    return nation.mapInPandas(
        parse,
        "scene_key long, cloud_pct double, pos_list string, n_bands long")


def _orders_as_items(df, cloud=None):
    """``orders`` rows projected into the catalog ``items`` schema (all
    17 columns): the order key is the item id and name, ``key % 7``
    the collection, ``cloud`` (default ``o_totalprice``) the cloud
    cover, every other column a typed NULL. The seed of the store
    queries."""
    return df.select(
        F.col("o_orderkey").cast("long").alias("id"),
        F.col("o_orderkey").cast("string").alias("name"),
        (F.col("o_orderkey") % 7).cast("int").alias("collection_id"),
        F.lit(None).cast("timestamp_ntz").alias("start_date"),
        F.lit(None).cast("timestamp_ntz").alias("end_date"),
        (F.col("o_totalprice") if cloud is None else cloud)
        .alias("cloud_cover"),
        *[F.lit(None).cast("double").alias(c) for c in
          ("bbox_xmin", "bbox_ymin", "bbox_xmax", "bbox_ymax")],
        F.lit(None).cast("string").alias("footprint_wkt"),
        F.lit(None).cast("int").alias("srid"),
        F.lit(None).cast("int").alias("tile_id"),
        F.lit(None).cast("int").alias("provider_id"),
        F.lit(None).cast("string").alias("assets"),
        F.lit(True).alias("is_available"),
        F.lit(None).cast("timestamp_ntz").alias("updated"),
    )


# scratch store for the CDF-maintenance query, one per (process, sf)
_CDF_STORES: dict[str, tuple[str, str, str]] = {}


def _cdf_store(spark, sf_dir) -> tuple[str, str, str]:
    """Build a real MVCC store, commit v1 (orders %10 subset as items),
    MERGE v2 (the %20 subset with bumped payloads), and return
    (root, gen_v1, gen_v2) for change-feed reads."""
    if sf_dir not in _CDF_STORES:

        from bdc_collection_builder_spark.catalog.store import CatalogStore

        root = scratch_dir("bdc_cdf_store_")
        store = CatalogStore(spark, root)
        orders = t(spark, sf_dir, "orders")

        store.overwrite("items", _orders_as_items(
            orders.filter(F.col("o_orderkey") % 10 == 0),
            F.col("o_totalprice") + 0.0))
        gen1 = store._current_gen("items")
        store.merge_upsert("items", _orders_as_items(
            orders.filter(F.col("o_orderkey") % 20 == 0),
            F.col("o_totalprice") + 1.0))
        gen2 = store._current_gen("items")
        _CDF_STORES[sf_dir] = (root, gen1, gen2)
    return _CDF_STORES[sf_dir]


@query(
    "s26_incremental_cdf_maintenance",
    survey=("S15", "S16", "Y3"),
    oracle="""
        WITH v1 AS (
            SELECT o_orderkey AS k, CAST(o_orderkey % 7 AS INT) AS bucket,
                   o_totalprice AS payload
            FROM orders WHERE o_orderkey % 10 = 0
        ), incoming AS (
            SELECT o_orderkey AS k, CAST(o_orderkey % 7 AS INT) AS bucket,
                   o_totalprice + 1.0 AS payload
            FROM orders WHERE o_orderkey % 20 = 0
        ), v2 AS (
            SELECT * FROM incoming
            UNION ALL
            SELECT * FROM v1 WHERE k NOT IN (SELECT k FROM incoming)
        )
        SELECT bucket, CAST(count(*) AS BIGINT) AS n,
               round(sum(payload), 2) AS total
        FROM v2 GROUP BY bucket
    """,
)
def s26_incremental_cdf_maintenance(spark, sf_dir):
    """Incremental view maintenance off the store's CHANGE DATA FEED:
    a per-bucket (count, sum) summary of the items table is advanced
    from snapshot v1 to v2 by applying ONLY the insert/delete deltas
    of ``changes_between(gen_v1, gen_v2)`` — the summary never rescans
    v2 (the v2 snapshot is read exclusively by the oracle, which
    recomputes the summary directly; the hash match proves
    delta-apply == recompute). This is the consumer side of the
    lakehouse CDF pattern: at 100 TB a merge touching 0.1% of rows
    costs the summary 0.1% of the work instead of a full pass. The
    store commits are REAL MVCC generations (CAS-committed); an
    update surfaces as delete+insert of the key, so sums move by the
    difference automatically."""
    from bdc_collection_builder_spark.catalog.store import CatalogStore

    root, gen1, gen2 = _cdf_store(spark, sf_dir)
    store = CatalogStore(spark, root)
    v1 = store.read_at("items", gen1)
    summary_v1 = (
        v1.groupBy(F.col("collection_id").alias("bucket"))
        .agg(F.count("*").cast("long").alias("n"),
             F.sum("cloud_cover").alias("total"))
    )
    feed = store.changes_between("items", gen1, gen2)
    sign = F.when(F.col("_change_type") == "insert", 1).otherwise(-1)
    deltas = (
        feed.groupBy(F.col("collection_id").alias("bucket"))
        .agg(F.sum(sign).cast("long").alias("dn"),
             F.sum(sign * F.col("cloud_cover")).alias("dtotal"))
    )
    return (
        summary_v1.join(deltas, "bucket", "full_outer")
        .select(
            "bucket",
            (F.coalesce("n", F.lit(0)) + F.coalesce("dn", F.lit(0)))
            .cast("bigint").alias("n"),
            F.round(F.coalesce("total", F.lit(0.0))
                    + F.coalesce("dtotal", F.lit(0.0)), 2).alias("total"))
        .filter(F.col("n") > 0)
    )


_DOCKER_FIX: dict[str, str] = {}


@query(
    "s27_docker_correction",
    survey=("Z2", "S2"),
    oracle="""
        WITH scenes AS (
            SELECT scene_id, collection_id FROM (
                SELECT 'S2A_MSIL1C_' || CAST(o_orderkey AS VARCHAR)
                           AS scene_id,
                       CAST(o_orderkey % 3 + 1 AS INT) AS collection_id
                FROM orders WHERE o_orderkey % 50 = 0
            ) ORDER BY scene_id LIMIT 40
        ),
        decoded AS (
            SELECT scene_id, collection_id,
                   ((strpos('0123456789abcdef',
                            substr(md5(scene_id || ':2.11.0'), 1, 1))-1)*16
                     + strpos('0123456789abcdef',
                              substr(md5(scene_id || ':2.11.0'), 2, 1))-1)
                   % 7 <> 0 AS works11
            FROM scenes
        )
        SELECT scene_id, collection_id,
               CASE WHEN works11 THEN '2.11.0' ELSE '2.10.0' END
                   AS processor_version,
               md5(reverse(scene_id || '|payload')) AS output_checksum,
               CAST(0 AS INT) AS returncode
        FROM decoded
    """,
)
def s27_docker_correction(spark, sf_dir):
    """Z2 through the CONTAINER boundary: each scene runs the full
    ``docker run`` control flow of the reference (processor.py:27-101
    — per-version fallback on exit codes, named containers, mounted
    input/output dirs) via docker_correction_stage against the argv-
    faithful PATH shim (pipeline/stages.write_fake_docker; a daemon
    deployment passes docker_bin='docker' and changes nothing else).
    The shim's '2.11.0' image deterministically exits 3 where the
    version-broken md5 rule fires — the same rule the s25 subprocess
    twin decodes — so the oracle predicts the landing version and the
    md5 of the container's actual mounted output bytes."""
    import os

    from bdc_collection_builder_spark.pipeline.stages import (
        docker_correction_stage,
        write_fake_docker,
    )

    if "bin" not in _DOCKER_FIX:
        root = scratch_dir("bdc_docker_")
        fake = os.path.join(root, "docker")
        write_fake_docker(fake)
        _DOCKER_FIX.update(bin=fake, in_dir=os.path.join(root, "in"),
                           out_dir=os.path.join(root, "out"))
        os.makedirs(_DOCKER_FIX["in_dir"], exist_ok=True)
    scenes = _scenes(spark, sf_dir).orderBy("scene_id").limit(40)
    rows = scenes.select("scene_id", "collection_id").collect()
    paths = []
    for r in rows:
        p = os.path.join(_DOCKER_FIX["in_dir"], f"{r.scene_id}.dat")
        if not os.path.exists(p):
            with open(p, "wb") as fh:
                fh.write(f"{r.scene_id}|payload".encode())
        paths.append((r.scene_id, r.collection_id, p))
    downloaded = spark.createDataFrame(
        paths, "scene_id string, collection_id int, compressed_file string")
    return docker_correction_stage(
        downloaded, versions=["2.11.0", "2.10.0"],
        out_dir=_DOCKER_FIX["out_dir"], timeout=30.0,
        docker_bin=_DOCKER_FIX["bin"],
    ).select("scene_id", "collection_id", "processor_version",
             "output_checksum", "returncode")


_SCHEMA_EVO_STORES: dict[str, tuple[str, str, str]] = {}
_CONSTRAINT_STORES: dict[str, tuple[int, bool, bool]] = {}


def _constraint_store_outcomes(spark, sf_dir) -> tuple[int, bool, bool]:
    """Build a real store with the reference's alembic constraints
    declared (activities.collection_id FK -> collections.id, NOT NULL
    sceneid), then capture three enforcement outcomes:
    (final_activities, rejected_commit_applied,
    restrict_delete_blocked). Cached per sf_dir so repeated query
    invocations (verify + driver) are idempotent."""
    if sf_dir not in _CONSTRAINT_STORES:

        from bdc_collection_builder_spark.catalog.store import (
            CatalogStore,
            ConstraintViolation,
        )

        root = scratch_dir("bdc_constraint_store_")
        store = CatalogStore(spark, root)
        nation = t(spark, sf_dir, "nation")
        orders = t(spark, sf_dir, "orders")
        store.overwrite("collections", nation.select(
            F.col("n_nationkey").cast("int").alias("id"),
            F.col("n_name").alias("name"),
            F.lit(1).alias("version"),
            *[F.lit(None).cast("string").alias(c) for c in
              ("identifier", "title", "collection_type")],
            F.lit(None).cast("int").alias("grid_ref_sys_id"),
            *[F.lit(None).cast("string").alias(c) for c in
              ("metadata", "temporal_composition_schema", "quicklook")],
            F.lit(True).alias("is_available"),
        ))

        def acts_of(df, cid_mod):
            return df.select(
                F.col("o_orderkey").cast("long").alias("id"),
                (F.col("o_orderkey") % cid_mod).cast("int")
                .alias("collection_id"),
                F.lit("download").alias("activity_type"),
                F.concat(F.lit("S-"), F.col("o_orderkey").cast("string"))
                .alias("sceneid"),
                F.lit(None).cast("string").alias("scene_type"),
                F.lit(None).cast("array<string>").alias("tags"),
                F.lit(None).cast("string").alias("args"),
                F.lit(None).cast("timestamp_ntz").alias("created"),
                F.lit(None).cast("timestamp_ntz").alias("updated"),
            )

        store.overwrite(
            "activities",
            acts_of(orders.filter(F.col("o_orderkey") % 10 == 0), 25))
        store.set_constraints(
            "activities",
            not_null=("sceneid",),
            foreign_keys=({"columns": ["collection_id"],
                           "ref_table": "collections",
                           "ref_columns": ["id"]},),
        )
        gen0 = store._current_gen("activities")
        # batch A: %40 collection ids — 25..39 are orphans -> rejected
        rejected_applied = True
        try:
            store.merge_upsert(
                "activities",
                acts_of(orders.filter(F.col("o_orderkey") % 15 == 0), 40))
        except ConstraintViolation:
            rejected_applied = store._current_gen("activities") != gen0
        # batch B: the same rows with valid ids -> accepted
        store.merge_upsert(
            "activities",
            acts_of(orders.filter(F.col("o_orderkey") % 15 == 0), 25))
        # RESTRICT: deleting a still-referenced collection must fail
        ref_cid = store.read("activities").agg(
            F.min("collection_id")).collect()[0][0]
        blocked = False
        try:
            store.delete_where("collections", f"id = {ref_cid}")
        except ConstraintViolation:
            blocked = True
        final = store.read("activities").count()
        _CONSTRAINT_STORES[sf_dir] = (final, rejected_applied, blocked)
    return _CONSTRAINT_STORES[sf_dir]


@query(
    "s33_constraint_enforced_merge",
    survey=("S15", "Y3", "Y4"),
    oracle="""
        WITH b10 AS (
            SELECT o_orderkey FROM orders WHERE o_orderkey % 10 = 0
        ), b15 AS (
            SELECT o_orderkey FROM orders WHERE o_orderkey % 15 = 0
        )
        SELECT
            CAST((SELECT count(*) FROM b15 WHERE o_orderkey % 40 >= 25)
                 AS BIGINT) AS rejected_batch_orphans,
            FALSE AS rejected_commit_applied,
            CAST((SELECT count(*) FROM b10) + (SELECT count(*) FROM b15)
                 - (SELECT count(*) FROM orders WHERE o_orderkey % 30 = 0)
                 AS BIGINT) AS final_activities,
            TRUE AS restrict_delete_blocked
    """,
)
def s33_constraint_enforced_merge(spark, sf_dir):
    """Write-time constraint enforcement on the catalog store — the
    reference's Postgres schema semantics (alembic
    06fab6583881_activities.py: activities.collection_id FK ->
    collections.id, NOT NULL columns) reproduced as
    stage-validate-flip: a merge batch carrying orphan collection ids
    is REJECTED with the pointer unmoved (rejected_commit_applied
    proves it from the actual generation ids), the corrected batch
    lands, and a DELETE of a still-referenced collection is blocked
    (RESTRICT, the FK default). The oracle recomputes what the final
    table must contain if and only if exactly the valid batch
    committed — matching hashes prove rejection was total (no partial
    batch) and acceptance was exact. Scale: validation is one fused
    aggregate pass over the staged generation plus one anti-join per
    FK against the (dimension-sized, broadcastable) referenced table;
    a violating batch costs one staged write that never flips —
    identical to Delta CHECK-constraint enforcement cost."""
    final, rejected_applied, blocked = _constraint_store_outcomes(
        spark, sf_dir)
    orders = t(spark, sf_dir, "orders")
    orphans = (
        orders.filter((F.col("o_orderkey") % 15 == 0)
                      & (F.col("o_orderkey") % 40 >= 25))
        .agg(F.count("*").cast("bigint").alias("rejected_batch_orphans"))
    )
    return orphans.select(
        "rejected_batch_orphans",
        F.lit(rejected_applied).alias("rejected_commit_applied"),
        F.lit(final).cast("bigint").alias("final_activities"),
        F.lit(blocked).alias("restrict_delete_blocked"),
    )


def _schema_evo_store(spark, sf_dir) -> tuple[str, str, str]:
    """Build a real MVCC store, commit v1 (orders %10 subset as items,
    base 17-column schema), then MERGE the %20 subset with
    ``evolve_schema=True`` carrying a NEW ``quality_score`` column —
    the Delta ``mergeSchema`` ADD-COLUMN path (store.merge_upsert).
    Returns (root, gen_v1, gen_v2)."""
    if sf_dir not in _SCHEMA_EVO_STORES:

        from bdc_collection_builder_spark.catalog.store import CatalogStore

        root = scratch_dir("bdc_schema_evo_store_")
        store = CatalogStore(spark, root)
        orders = t(spark, sf_dir, "orders")

        store.overwrite("items", _orders_as_items(
            orders.filter(F.col("o_orderkey") % 10 == 0)))
        gen1 = store._current_gen("items")
        evolved = _orders_as_items(
            orders.filter(F.col("o_orderkey") % 20 == 0)
        ).withColumn(
            "quality_score",
            ((F.col("id") % 1000).cast("double") / 10.0))
        store.merge_upsert("items", evolved, evolve_schema=True)
        gen2 = store._current_gen("items")
        _SCHEMA_EVO_STORES[sf_dir] = (root, gen1, gen2)
    return _SCHEMA_EVO_STORES[sf_dir]


@query(
    "s29_schema_evolution_timetravel",
    survey=("S15", "Y3"),
    oracle="""
        WITH v1 AS (
            SELECT o_orderkey FROM orders WHERE o_orderkey % 10 = 0
        ), evolved AS (
            SELECT o_orderkey,
                   CAST(o_orderkey % 1000 AS DOUBLE) / 10.0 AS quality_score
            FROM orders WHERE o_orderkey % 20 = 0
        )
        SELECT 'v1' AS snapshot,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(17 AS INT) AS n_cols,
               CAST(0 AS BIGINT) AS n_quality_nonnull,
               CAST(NULL AS DOUBLE) AS min_quality,
               CAST(NULL AS DOUBLE) AS max_quality
        FROM v1
        UNION ALL
        SELECT 'v2',
               (SELECT CAST(count(*) AS BIGINT) FROM v1),
               CAST(18 AS INT),
               CAST(count(*) AS BIGINT),
               min(quality_score), max(quality_score)
        FROM evolved
    """,
)
def s29_schema_evolution_timetravel(spark, sf_dir):
    """ADD-COLUMN schema evolution, versioned with the snapshot: a
    MERGE with ``evolve_schema=True`` appends ``quality_score`` to the
    items table; rows not in the incoming batch read NULL for it, and
    TIME TRAVEL to the pre-evolution generation still sees the
    original 17-column shape (the generation pins its own
    ``_SCHEMA.json`` — the Delta/Iceberg rule that schema is part of
    the snapshot, store.py _gen_schema). The query profiles both
    snapshots side by side: column count, row count, and the new
    column's non-null stats — proving old readers are unbroken while
    new data carries the new column.

    Scale: both profile rows are single fused aggregates over one
    snapshot scan each; the MERGE that produced v2 moved only the
    incoming batch + the anti-join survivors (one shuffle on the merge
    key). The oracle recomputes both profiles from the source table —
    matching hashes prove evolve-merge == recompute."""
    from bdc_collection_builder_spark.catalog.store import CatalogStore

    root, gen1, gen2 = _schema_evo_store(spark, sf_dir)
    store = CatalogStore(spark, root)
    v1 = store.read_at("items", gen1)
    v2 = store.read_at("items", gen2)

    def profile(df, label):
        n_cols = len(df.columns)
        has_q = "quality_score" in df.columns
        q = (F.col("quality_score") if has_q
             else F.lit(None).cast("double"))
        return df.agg(
            F.lit(label).alias("snapshot"),
            F.count("*").cast("bigint").alias("n_rows"),
            F.lit(n_cols).cast("int").alias("n_cols"),
            F.count(q).cast("bigint").alias("n_quality_nonnull"),
            F.min(q).alias("min_quality"),
            F.max(q).alias("max_quality"),
        ).select("snapshot", "n_rows", "n_cols", "n_quality_nonnull",
                 "min_quality", "max_quality")

    return profile(v1, "v1").unionByName(profile(v2, "v2"))


_HIVE_PART_DIRS: dict[str, str] = {}


@query(
    "s30_hive_partitioned_roundtrip",
    survey=("S9", "S16", "F5"),
    oracle=f"""
        SELECT event_type,
               strftime(CAST(date_trunc('day', {duck_ts()}) AS DATE),
                        '%Y-%m-%d') AS day,
               CAST(count(*) AS BIGINT) AS n
        FROM events
        WHERE event_type IN ('click', 'purchase')
        GROUP BY 1, 2
    """,
)
def s30_hive_partitioned_roundtrip(spark, sf_dir):
    """Hive-style partitioned layout round-trip: events written
    ``partitionBy(event_type)`` into key=value directories, then read
    back with a partition predicate — the layout the reference's
    shared-volume tree (data/Repository/Archive/<collection>/...)
    approximates by hand, and the one that makes collection-scoped
    scans at 100 TB O(selected-partitions) instead of O(archive).

    The partition filter is applied at FILE LISTING time — the plan
    carries it as ``PartitionFilters`` and never opens the other
    partitions' files (pinned in tests/test_plans.py). Values read
    back from partition directory names must round-trip exactly
    (string key here; the oracle recomputes from the source table, so
    the hash match proves write→list→prune→read loses nothing)."""
    import os

    if sf_dir not in _HIVE_PART_DIRS:
        out = scratch_dir("bdc_hive_part_")
        (t(spark, sf_dir, "events")
         .write.mode("overwrite").partitionBy("event_type").parquet(out))
        _HIVE_PART_DIRS[sf_dir] = out
    root = _HIVE_PART_DIRS[sf_dir]
    back = spark.read.parquet(root).filter(
        F.col("event_type").isin("click", "purchase"))
    return back.groupBy(
        "event_type",
        F.date_format(F.to_date(F.date_trunc("day", F.col("ts"))),
                      "yyyy-MM-dd").alias("day"),
    ).agg(F.count("*").cast("bigint").alias("n"))


@query(
    "st_stream_outer_join",
    survey=("Y2", "Y5", "TJ-range"),
    oracle=f"""
        WITH norm AS (
            SELECT user_id, event_id, event_type, {_TS} AS ts FROM events
        ),
        wm AS (
            SELECT least(
                max(ts) FILTER (event_type = 'error'),
                max(ts) FILTER (event_type <> 'error')
            ) - INTERVAL 30 MINUTE AS w
            FROM norm
        ),
        e AS (
            SELECT user_id, event_id AS error_id, ts FROM norm
            WHERE event_type = 'error'
        ),
        a AS (
            SELECT user_id, event_id AS followup_id, ts FROM norm
            WHERE event_type <> 'error'
        ),
        matched AS (
            SELECT e.error_id, a.followup_id
            FROM e JOIN a
              ON a.user_id = e.user_id
             AND a.ts >= e.ts
             AND a.ts <= e.ts + INTERVAL 10 MINUTE
        ),
        evicted_unmatched AS (
            SELECT e.error_id, CAST(NULL AS BIGINT) AS followup_id
            FROM e, wm
            WHERE NOT EXISTS (
                SELECT 1 FROM a
                WHERE a.user_id = e.user_id
                  AND a.ts >= e.ts
                  AND a.ts <= e.ts + INTERVAL 10 MINUTE)
              AND e.ts + INTERVAL 10 MINUTE < wm.w
        )
        SELECT error_id, followup_id FROM matched
        UNION ALL
        SELECT error_id, followup_id FROM evicted_unmatched
    """,
)
def st_stream_outer_join(spark, sf_dir):
    """Left-OUTER stream-stream interval join, drained with
    Trigger.AvailableNow: every error, joined to same-user non-error
    follow-ups within 10 minutes, or emitted once with a NULL
    follow-up when the join state is evicted unmatched. This is the
    semantics st_stream_stream_join (inner) cannot exercise: the
    null-padded row may only emit when the WATERMARK proves no
    partner can still arrive.

    The oracle replays Spark's exact eviction contract, empirically
    pinned at sf0.01: (1) the global watermark is the MIN over both
    per-stream watermarks — max(error ts) - 30min vs
    max(non-error ts) - 30min — because each side tracks its own
    event-time stats post-filter; (2) an unmatched error emits iff
    its match horizon (e.ts + 10min) lies strictly before that final
    watermark; errors still inside the horizon at end-of-drain stay
    pending in state and are NOT emitted (they would emit on the next
    incremental run — exactly how a checkpointed daily catch-up job
    behaves). Matched pairs emit immediately regardless of watermark,
    identical to the inner join.

    100 TB: state is O(watermark window x arrival rate) per side,
    never O(history); the memory sink here is test plumbing — a real
    deployment writes the same append stream to parquet/Delta."""
    import uuid

    from bdc_collection_builder_spark.sources.tables import load_table
    from bdc_collection_builder_spark.streaming.incremental import (
        drain_partitions,
        streaming_interval_join_left,
    )

    scratch = scratch_dir("bdc_ssjl_")
    events_dir = f"{scratch}/events"
    load_table(spark, sf_dir, "events").coalesce(8).write.mode(
        "overwrite").parquet(events_dir)
    qname = f"ssjl_{uuid.uuid4().hex[:8]}"
    with drain_partitions(spark):
        q = streaming_interval_join_left(spark, events_dir, events_dir,
                                         f"{scratch}/ckpt", qname)
        q.awaitTermination(300)
    return spark.sql(f"SELECT error_id, followup_id FROM {qname}")


@query(
    "s31_cdc_apply_ops",
    survey=("S15", "S16", "Y3"),
    oracle="""
        WITH base AS (
            SELECT o_orderkey AS k, o_orderstatus AS status,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
            FROM orders WHERE o_orderkey % 10 = 0
        ),
        changes AS (
            SELECT o_orderkey AS k, 'D' AS op,
                   CAST(NULL AS VARCHAR) AS status,
                   CAST(NULL AS BIGINT) AS price_cents
            FROM orders WHERE o_orderkey % 30 = 0
            UNION ALL
            SELECT o_orderkey AS k, 'U' AS op, o_orderstatus,
                   CAST(round(o_totalprice * 100) AS BIGINT) + 100
            FROM orders
            WHERE o_orderkey % 20 = 0 AND o_orderkey % 30 <> 0
            UNION ALL
            SELECT o_orderkey AS k, 'I' AS op, o_orderstatus,
                   CAST(round(o_totalprice * 100) AS BIGINT)
            FROM orders WHERE o_orderkey % 10 = 5
        ),
        applied AS (
            SELECT coalesce(c.k, b.k) AS k,
                   CASE WHEN c.op IS NULL THEN b.status
                        ELSE c.status END AS status,
                   CASE WHEN c.op IS NULL THEN b.price_cents
                        ELSE c.price_cents END AS price_cents
            FROM base b FULL OUTER JOIN changes c ON b.k = c.k
            WHERE c.op IS NULL OR c.op <> 'D'
        )
        SELECT status, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(price_cents) AS DOUBLE) / 100 AS total_price
        FROM applied GROUP BY status
    """,
)
def s31_cdc_apply_ops(spark, sf_dir):
    """CDC change-batch application with explicit op codes — the
    MERGE semantics Delta's `WHEN MATCHED DELETE / UPDATE / WHEN NOT
    MATCHED INSERT` expresses, applied as ONE full-outer join instead
    of three passes: a base snapshot (every 10th order) receives a
    change batch carrying op in {D, U, I} (delete every 30th, update
    every 20th with +$1, insert the %10==5 keys). Row disposition is a
    CASE on the join result: change row wins when present, 'D' rows
    drop, unmatched base rows carry forward — exactly
    last-writer-wins MERGE (the store's merge_upsert implements the
    U/I subset; this plan is the superset with deletes, validated
    against the declarative set-algebra oracle).

    Reported as a per-status (count, exact-cents total) summary so
    the check covers all three op paths (deletes shrink counts,
    updates shift totals by exactly $1/row, inserts add new keys).

    100 TB: ONE shuffle on the merge key for the outer join (both
    sides pre-projected to key + payload); Delta/Iceberg would
    push the same plan through file-level skipping — see
    catalog/store.py's conditional-PUT seam for the commit side."""
    orders = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.round(F.col("o_totalprice") * 100).cast("bigint")
        .alias("price_cents"))
    base = orders.filter(F.col("k") % 10 == 0)
    deletes = orders.filter(F.col("k") % 30 == 0).select(
        "k", F.lit("D").alias("op"),
        F.lit(None).cast("string").alias("status"),
        F.lit(None).cast("bigint").alias("price_cents"))
    updates = orders.filter((F.col("k") % 20 == 0)
                            & (F.col("k") % 30 != 0)).select(
        "k", F.lit("U").alias("op"), "status",
        (F.col("price_cents") + 100).alias("price_cents"))
    inserts = orders.filter(F.col("k") % 10 == 5).select(
        "k", F.lit("I").alias("op"), "status", "price_cents")
    changes = deletes.unionByName(updates).unionByName(inserts)
    b = base.alias("b")
    c = changes.alias("c")
    applied = (
        b.join(c, F.col("b.k") == F.col("c.k"), "full_outer")
        .filter(F.col("c.op").isNull() | (F.col("c.op") != "D"))
        .select(
            F.when(F.col("c.op").isNull(), F.col("b.status"))
             .otherwise(F.col("c.status")).alias("status"),
            F.when(F.col("c.op").isNull(), F.col("b.price_cents"))
             .otherwise(F.col("c.price_cents")).alias("price_cents"))
    )
    return applied.groupBy("status").agg(
        F.count("*").cast("bigint").alias("n"),
        (F.sum("price_cents").cast("double") / 100).alias("total_price"))


@query(
    "s32_csv_malformed_recovery",
    survey=("S19", "S4", "F9"),
    oracle="""
        WITH lines AS (
            SELECT o_orderkey AS k, o_orderstatus AS status,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                   CASE
                     WHEN o_orderkey % 7 = 3 THEN 'short'
                     WHEN o_orderkey % 11 = 5 THEN 'badtype'
                     WHEN o_orderkey % 13 = 7 THEN 'long'
                     ELSE 'good'
                   END AS kind
            FROM orders
        )
        SELECT status,
               CAST(max(k) AS BIGINT) AS max_k,
               CAST(sum(CASE WHEN kind = 'good' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_good,
               CAST(sum(CASE WHEN kind <> 'good' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_corrupt,
               CAST(sum(CASE WHEN kind = 'good' THEN cents ELSE 0 END)
                    AS DOUBLE) / 100 AS good_total
        FROM lines GROUP BY status
    """,
)
def s32_csv_malformed_recovery(spark, sf_dir):
    """Malformed-CSV recovery — the connector behavior a real ingest
    needs when upstream files are dirty: read under PERMISSIVE mode
    with `columnNameOfCorruptRecord`, so short rows, long rows, and
    type errors LAND AS DATA (corrupt-record column populated,
    salvageable fields parsed — Spark keeps the parsed status even on
    a bad-price row) instead of failing the job or silently dropping
    (DROPMALFORMED). The fixture file is generated from orders with
    three controlled corruption classes (every 7th key: missing price
    field; every 11th: non-numeric price; every 13th: extra trailing
    field), written distributed as text — no driver-side collect. The
    oracle never parses CSV at all: it re-derives each line's
    corruption class from the key arithmetic, which is exactly what
    makes the check END-TO-END (writer + corruptor + PERMISSIVE
    reader must all agree for the hash to match).

    Money math: good rows' prices re-quantize to int64 cents after
    the parse (string had exactly 2 decimals, parse error < half a
    cent), so the per-status totals are exact.

    100 TB: single-line CSV stays splittable; the corrupt-rate
    aggregate combines map-side; quarantining is `WHERE
    _corrupt_record IS NOT NULL` on the same scan."""

    orders = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"))
    price_str = F.concat(
        (F.col("cents") / 100).cast("bigint").cast("string"), F.lit("."),
        F.lpad((F.col("cents") % 100).cast("string"), 2, "0"))
    line = (
        F.when(F.col("k") % 7 == 3,
               F.concat_ws(",", F.col("k"), F.col("status")))
        .when(F.col("k") % 11 == 5,
              F.concat_ws(",", F.col("k"), F.col("status"), F.lit("abc")))
        .when(F.col("k") % 13 == 7,
              F.concat_ws(",", F.col("k"), F.col("status"), price_str,
                          F.lit("extra")))
        .otherwise(F.concat_ws(",", F.col("k"), F.col("status"),
                               price_str))
    )
    path = scratch_dir("bdc_csvmal_") + "/orders_csv"
    orders.select(line.alias("value")).write.mode("overwrite").text(path)
    parsed = (
        spark.read
        .schema("k bigint, status string, price double, "
                "_corrupt_record string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
    )
    good = F.col("_corrupt_record").isNull()
    # max(k) is an audit column AND the forcing function: with CSV
    # column pruning, an unreferenced leading column would let Spark
    # skip token-count validation entirely (short/long rows would
    # silently parse) — requiring every schema column restores the
    # validation the probe semantics above rely on.
    return parsed.groupBy("status").agg(
        F.max("k").cast("bigint").alias("max_k"),
        F.sum(F.when(good, 1).otherwise(0)).cast("bigint").alias("n_good"),
        F.sum(F.when(good, 0).otherwise(1)).cast("bigint")
        .alias("n_corrupt"),
        (F.sum(F.when(good, F.round(F.col("price") * 100).cast("bigint"))
               .otherwise(F.lit(0))).cast("double") / 100)
        .alias("good_total"))


_PART_EVO_STORES: dict[str, tuple] = {}


def _part_evo_outcomes(spark, sf_dir):
    """Build a real PARTITIONED MVCC store (partition column
    collection_id = o_orderkey % 7), commit the %10 orders subset as
    items, then evolve ONLY partitions 1 and 2 with a quality_score
    column via merge_upsert(evolve_schema=True). Returns the
    reconciled read() per-partition profile plus the untouched
    partitions' pointer stability — the cross-partition schema
    reconciliation contract (store.py PartitionedCatalogStore.read).

    NOTE (bench): outcomes are cached per sf_dir like the other store
    seams (s27/s33) — a second invocation in one session measures a
    dict lookup, not the store; exclude from bench or document if
    benched."""
    if sf_dir not in _PART_EVO_STORES:

        from bdc_collection_builder_spark.catalog.store import (
            PartitionedCatalogStore,
        )

        root = scratch_dir("bdc_part_evo_store_")
        store = PartitionedCatalogStore(spark, root)
        orders = t(spark, sf_dir, "orders")

        store.overwrite("items", _orders_as_items(
            orders.filter(F.col("o_orderkey") % 10 == 0)))
        pre_gens = {
            v: store._sub("items", v)._current_gen("items")
            for v in store._partition_values("items")
        }
        evolved = _orders_as_items(
            orders.filter((F.col("o_orderkey") % 20 == 0)
                          & ((F.col("o_orderkey") % 7).isin(1, 2)))
        ).withColumn(
            "quality_score",
            (F.col("id") % 1000).cast("double") / 10.0)
        store.merge_upsert("items", evolved, evolve_schema=True)
        untouched_stable = all(
            store._sub("items", v)._current_gen("items") == g
            for v, g in pre_gens.items() if v not in ("1", "2"))
        _PART_EVO_STORES[sf_dir] = (root, untouched_stable)
    return _PART_EVO_STORES[sf_dir]


@query(
    "s34_partitioned_evolution_read",
    survey=("S15", "Y3"),
    oracle="""
        WITH v1 AS (
            SELECT o_orderkey, o_orderkey % 7 AS cid
            FROM orders WHERE o_orderkey % 10 = 0
        ),
        evo AS (
            SELECT o_orderkey,
                   CAST(o_orderkey % 1000 AS DOUBLE) / 10.0 AS q
            FROM orders
            WHERE o_orderkey % 20 = 0 AND (o_orderkey % 7) IN (1, 2)
        )
        SELECT CAST(v1.cid AS INT) AS collection_id,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(e.q) AS BIGINT) AS n_quality_nonnull,
               min(e.q) AS min_quality,
               max(e.q) AS max_quality,
               TRUE AS untouched_partitions_stable
        FROM v1 LEFT JOIN evo e ON e.o_orderkey = v1.o_orderkey
        GROUP BY v1.cid
    """,
)
def s34_partitioned_evolution_read(spark, sf_dir):
    """ADD-COLUMN schema evolution on a PARTITIONED store, proven
    through the reconciled read: only partitions 1 and 2 receive an
    evolving merge (their new generations carry the evolved
    _SCHEMA.json), every other partition's generation pointer never
    moves (asserted from the actual generation ids and returned as a
    column), and read() reconciles the divergent partition schemas so
    un-evolved partitions surface NULL quality_score. The oracle
    recomputes the per-partition profile from the source table —
    matching hashes prove evolve-merge + schema reconciliation ==
    recompute.

    Scale: the evolving merge is ONE job over the touched partitions
    (dynamic-partition-overwrite shape, broadcast anti-join on the
    merge key); the reconciled read costs one scan per distinct
    partition schema (2 here) unioned by name — untouched partitions
    are never rewritten. Reference anchor: collection-scoped publish
    (publish.py:575-605) where one collection's reprocessing must not
    touch sibling collections' files."""
    root, untouched_stable = _part_evo_outcomes(spark, sf_dir)
    from bdc_collection_builder_spark.catalog.store import (
        PartitionedCatalogStore,
    )

    store = PartitionedCatalogStore(spark, root)
    items = store.read("items")
    return (
        items.groupBy("collection_id")
        .agg(F.count("*").cast("bigint").alias("n_rows"),
             F.count("quality_score").cast("bigint")
             .alias("n_quality_nonnull"),
             F.min("quality_score").alias("min_quality"),
             F.max("quality_score").alias("max_quality"))
        .withColumn("untouched_partitions_stable",
                    F.lit(bool(untouched_stable)))
    )


_ERASURE_STORES: dict[str, str] = {}


def _erasure_store_root(spark, sf_dir) -> str:
    """Flat MVCC store with the %10 orders subset as items, erased by
    store.delete_keys with the %30 subset's keys — the anti-join MERGE
    path (no IN-list, no data-sized collect), applied twice to prove
    idempotence (the second apply is a no-op rewrite of identical
    content)."""
    if sf_dir not in _ERASURE_STORES:

        from bdc_collection_builder_spark.catalog.store import CatalogStore

        root = scratch_dir("bdc_erasure_store_")
        store = CatalogStore(spark, root)
        orders = t(spark, sf_dir, "orders")
        store.overwrite("items", _orders_as_items(
            orders.filter(F.col("o_orderkey") % 10 == 0)))
        keys = orders.filter(F.col("o_orderkey") % 30 == 0).select(
            F.col("o_orderkey").cast("string").alias("name"),
            (F.col("o_orderkey") % 7).cast("int").alias("collection_id"))
        store.delete_keys("items", keys, ["name", "collection_id"])
        store.delete_keys("items", keys, ["name", "collection_id"])
        _ERASURE_STORES[sf_dir] = root
    return _ERASURE_STORES[sf_dir]


@query(
    "s35_erasure_delete_keys",
    survey=("S15", "Y3"),
    oracle="""
        SELECT CAST(o_orderkey % 7 AS INT) AS collection_id,
               CAST(count(*) AS BIGINT) AS n_items
        FROM orders
        WHERE o_orderkey % 10 = 0 AND o_orderkey % 30 <> 0
        GROUP BY 1
    """,
)
def s35_erasure_delete_keys(spark, sf_dir):
    """Compliance erasure through the store's anti-join MERGE path
    (store.delete_keys): the doomed key set stays a DataFrame
    end-to-end — one distributed left_anti join rewrites the snapshot,
    no key ever reaches the driver — and a second identical apply is a
    no-op (at-least-once delivery converges). The oracle recomputes
    the surviving per-collection counts from the source table;
    matching hashes prove the anti-join deleted exactly the requested
    keys and nothing else. Complements s33 (constraint-gated MERGE)
    and the streaming incremental_erasure's large-batch regime
    (streaming/incremental.py), which routes through this same store
    path above its IN-list threshold.

    Scale: one shuffle on the (name, collection_id) delete key; the
    MVCC caveat applies as documented — prior generations still hold
    the rows until vacuum passes the retention horizon."""
    root = _erasure_store_root(spark, sf_dir)
    from bdc_collection_builder_spark.catalog.store import CatalogStore

    store = CatalogStore(spark, root)
    return (
        store.read("items")
        .groupBy("collection_id")
        .agg(F.count("*").cast("bigint").alias("n_items"))
    )


_VACUUM_HORIZON_STORES: dict[str, tuple[str, bool, bool]] = {}


def _vacuum_horizon_store(spark, sf_dir) -> tuple[str, bool, bool]:
    """Erasure + snapshot-expiry seam (VERDICT-r6 task 4): build a
    flat MVCC store, delete the %30 keys through the anti-join MERGE
    path, then ``vacuum(keep_last=1)`` past the retention horizon and
    PROVE the pre-delete generation is gone — ``snapshots()`` shrank
    to the current generation only, and ``read_at`` of the pre-delete
    generation raises (time travel to the erased bytes is
    impossible). The two proofs come back as booleans so the driver's
    hash check pins them. Outcome memoized per sf_dir (store-seam
    cache — deterministic and test-correct; NOT benchmarkable, see
    bench.py preamble)."""
    if sf_dir not in _VACUUM_HORIZON_STORES:

        from bdc_collection_builder_spark.catalog.store import CatalogStore

        root = scratch_dir("bdc_vacuum_horizon_")
        store = CatalogStore(spark, root)
        orders = t(spark, sf_dir, "orders")
        store.overwrite("items", _orders_as_items(
            orders.filter(F.col("o_orderkey") % 10 == 0)))
        gen0 = store._current_gen("items")
        keys = orders.filter(F.col("o_orderkey") % 30 == 0).select(
            F.col("o_orderkey").cast("string").alias("name"),
            (F.col("o_orderkey") % 7).cast("int").alias("collection_id"))
        store.delete_keys("items", keys, ["name", "collection_id"])
        # before vacuum the MVCC caveat is REAL: the pre-delete
        # snapshot still holds the doomed rows
        assert gen0 in store.snapshots("items")
        store.vacuum("items", keep_last=1)
        snaps = store.snapshots("items")
        history_expired = len(snaps) == 1 and gen0 not in snaps
        try:
            store.read_at("items", gen0)
            pre_delete_gone = False
        except KeyError:
            pre_delete_gone = True
        _VACUUM_HORIZON_STORES[sf_dir] = (
            root, history_expired, pre_delete_gone)
    return _VACUUM_HORIZON_STORES[sf_dir]


@query(
    "s36_erasure_vacuum_horizon",
    survey=("S15", "Y3"),
    oracle="""
        SELECT CAST(o_orderkey % 7 AS INT) AS collection_id,
               CAST(count(*) AS BIGINT) AS n_items,
               TRUE AS history_expired,
               TRUE AS pre_delete_generation_gone
        FROM orders
        WHERE o_orderkey % 10 = 0 AND o_orderkey % 30 <> 0
        GROUP BY 1
    """,
)
def s36_erasure_vacuum_horizon(spark, sf_dir):
    """The GDPR loop CLOSED, driver-facing (VERDICT-r6 task 4): an
    erasure is only real once vacuum passes the retention horizon —
    delete_keys creates a new generation but the PRIOR snapshot still
    holds the erased rows (the MVCC caveat both delete docstrings
    carry). This query deletes the %30 keys, vacuums with
    keep_last=1, and returns (a) the surviving per-collection counts
    (hash-matched against the oracle's recomputation from the source
    table — the delete removed exactly the requested keys) and (b)
    two proof booleans: ``history_expired`` (snapshots() shrank to
    the current generation only) and ``pre_delete_generation_gone``
    (read_at of the pre-delete generation raises — the erased bytes
    are unreachable by time travel). Complements s35 (the anti-join
    delete itself) and the streaming incremental_erasure's
    retain_generations auto-vacuum.

    Scale: one shuffle on the delete key + one local directory
    listing; vacuum is O(#generations) filesystem ops, never a data
    scan. Reference anchor: the reference deletes catalog rows via
    Postgres cascade (alembic 11f3e5366689) where deletion IS
    forgetting — an MVCC store needs this extra expiry step for the
    same guarantee."""
    root, history_expired, pre_delete_gone = _vacuum_horizon_store(
        spark, sf_dir)
    from bdc_collection_builder_spark.catalog.store import CatalogStore

    store = CatalogStore(spark, root)
    return (
        store.read("items")
        .groupBy("collection_id")
        .agg(F.count("*").cast("bigint").alias("n_items"))
        .withColumn("history_expired", F.lit(bool(history_expired)))
        .withColumn("pre_delete_generation_gone",
                    F.lit(bool(pre_delete_gone)))
    )


@query(
    "st_stream_static_enrich",
    survey=("Y1", "J6", "Y3"),
    oracle=f"""
        SELECT n.n_name AS region_name,
               CAST(count(*) AS BIGINT) AS n_purchases,
               CAST(sum(CAST(round(e.value * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM events e
        JOIN nation n ON n.n_nationkey = e.user_id % 25
        WHERE e.event_type = 'purchase'
        GROUP BY n.n_name
    """,
)
def st_stream_static_enrich(spark, sf_dir):
    """Stream-STATIC broadcast enrichment — the one streaming join
    topology the st_* family did not yet cover (stream-stream inner
    and outer exist): the purchase firehose enriched per micro-batch
    with a broadcast reference dimension (nation, keyed by
    user_id % 25 — a total surjection at every SF; the Spark side
    uses pmod, value-identical to the oracle's % because user_id is
    non-negative by schema at every SF). Stateless by
    construction: no watermark, no join state, no eviction — each
    micro-batch runs the same map-side BroadcastHashJoin the batch
    engine would, so the checkpointed AvailableNow drain emits
    exactly the batch join's rows, and the final per-region rollup
    over the drained sink is value-checked by the oracle replaying
    it as plain SQL. (Aggregation happens AFTER the drain on
    purpose: the streaming surface under test is the enrichment
    join; a streaming aggregate would change output mode, not the
    join.)

    100 TB: the dim broadcasts once per batch (dimension-sized); the
    stream side never shuffles for the join; the post-drain rollup
    is one map-side-combined groupBy with |nations| groups."""
    import uuid

    from bdc_collection_builder_spark.sources.tables import load_table
    from bdc_collection_builder_spark.streaming.incremental import (
        drain_partitions,
        streaming_static_enrich,
    )

    # scratch_dir reclaims the events copy + checkpoint on
    # interpreter exit (ADVICE-r8)
    scratch = scratch_dir("bdc_sse_")
    events_dir = f"{scratch}/events"
    load_table(spark, sf_dir, "events").coalesce(8).write.mode(
        "overwrite").parquet(events_dir)
    dim = (load_table(spark, sf_dir, "nation")
           .select(F.col("n_nationkey").cast("int").alias("nkey"),
                   F.col("n_name").alias("region_name")))
    qname = f"sse_{uuid.uuid4().hex[:8]}"
    with drain_partitions(spark):
        q = streaming_static_enrich(spark, events_dir, dim,
                                    f"{scratch}/ckpt", qname)
        q.awaitTermination(300)
    return (
        spark.sql(f"SELECT region_name, cents FROM {qname}")
        .groupBy("region_name")
        .agg(F.count("*").cast("bigint").alias("n_purchases"),
             F.sum("cents").cast("bigint").alias("cents"))
    )
