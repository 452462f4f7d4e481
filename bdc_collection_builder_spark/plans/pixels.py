"""Pixel-kernel queries (SURVEY §2.2 F8/F9, §2.4 A6, §2.8 X9/X10/X12,
§2.10 Z1) over a deterministic synthetic pixel grid.

The grid is generated by identical integer formulas on both engines
(functions/pixel.py), standing in for the block-windowed raster reads
of the reference — so the expression engine's arithmetic is verified
value-for-value against an independent SQL evaluation.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from bdc_collection_builder_spark.functions.expression import compile_band_expression
from bdc_collection_builder_spark.functions.pixel import (
    NODATA_SENTINEL,
    mask_nodata,
    nodata_union,
    quicklook_radiometry,
    resample_nearest,
    synthetic_pixels,
    synthetic_pixels_oracle,
)
from bdc_collection_builder_spark.plans._util import _scene_files
from bdc_collection_builder_spark.plans.registry import query

_PIXELS = synthetic_pixels_oracle(n_scenes=4, height=16, width=16)


@query(
    "px_x9_band_expression_ndvi",
    survey=("X9", "Z1", "F8", "F9"),
    oracle=f"""
        WITH px AS ({_PIXELS}), masked AS (
            SELECT scene_id, y, x,
                   CASE WHEN B04 = -9999.0 THEN NULL ELSE B04 END AS B04,
                   CASE WHEN B08 = -9999.0 THEN NULL ELSE B08 END AS B08
            FROM px
        )
        SELECT scene_id, y, x,
               round(CASE WHEN B04 IS NULL OR B08 IS NULL THEN -9999.0
                     ELSE GREATEST(LEAST((B08 - B04) / (B08 + B04) * 10000.0,
                                         32767.0), -32768.0)
                     END, 4) AS ndvi
        FROM masked
        WHERE B04 IS NULL OR B08 IS NULL OR B08 + B04 <> 0
    """,
)
def px_x9_band_expression_ndvi(spark, sf_dir):
    """X9/Z1 — the band-expression engine: 'NDVI = (B08-B04)/(B08+B04)'
    validated against the band catalog, compiled via F.expr (Catalyst
    codegen — the reference exec's numpy per block window,
    index_generator.py:99-141), scaled to int16 range, clamped, and
    nodata-filled."""
    px = synthetic_pixels(spark, n_scenes=4, height=16, width=16)
    masked = px.select(
        "scene_id", "y", "x",
        mask_nodata(F.col("B04")).alias("B04"),
        mask_nodata(F.col("B08")).alias("B08"),
    ).filter(
        F.col("B04").isNull() | F.col("B08").isNull()
        | (F.col("B08") + F.col("B04") != 0)
    )
    ndvi = compile_band_expression(
        "NDVI = (B08 - B04) / (B08 + B04)",
        allowed_bands={"B04", "B08"},
        dtype="int16", nodata=-9999.0, scale=10000.0,
    )
    return masked.select("scene_id", "y", "x", F.round(ndvi, 4).alias("ndvi"))


@query(
    "px_x10_quicklook_radiometry",
    survey=("X10", "S14"),
    oracle=f"""
        WITH px AS ({_PIXELS})
        SELECT scene_id, y, x,
               CASE WHEN B04 = -9999.0 THEN 0
                    ELSE CAST(floor(LEAST(B04 / 10000.0 * 255.0, 255.0)) AS INT)
               END AS red
        FROM px
    """,
)
def px_x10_quicklook_radiometry(spark, sf_dir):
    """X10 — quicklook byte scaling (publish.py:84-88)."""
    px = synthetic_pixels(spark, n_scenes=4, height=16, width=16)
    return px.select(
        "scene_id", "y", "x", quicklook_radiometry(F.col("B04")).alias("red"))


@query(
    "px_a6_nodata_union",
    survey=("A6", "U3", "Z4"),
    oracle=f"""
        WITH px AS ({_PIXELS})
        SELECT scene_id, y, x,
               MAX(CASE WHEN B04 = -9999.0 OR B08 = -9999.0 THEN 1 ELSE 0 END)
                 AS any_nodata
        FROM px GROUP BY scene_id, y, x
    """,
)
def px_a6_nodata_union(spark, sf_dir):
    """A6 — nodata-position union across bands (utils.py:350-375):
    numpy.union1d becomes max-of-indicators keyed by pixel position."""
    px = synthetic_pixels(spark, n_scenes=4, height=16, width=16)
    return nodata_union(px, ["B04", "B08"])


@query(
    "px_x12_resample_nearest",
    survey=("X12",),
    oracle=f"""
        WITH px AS ({_PIXELS})
        SELECT scene_id, CAST(y / 2 AS INT) AS y, CAST(x / 2 AS INT) AS x,
               B04, B08
        FROM px WHERE y % 2 = 0 AND x % 2 = 0
    """,
)
def px_x12_resample_nearest(spark, sf_dir):
    """X12 — nearest-neighbour 2x downsample (utils.py:317-345):
    narrow filter + projection, zero shuffle."""
    px = synthetic_pixels(spark, n_scenes=4, height=16, width=16)
    return resample_nearest(px, 2, ["B04", "B08"])


# ---------------------------------------------------------------------------
# Focal map algebra — neighborhood stencils as scatter-gather aggregation.
#
# A 3x3 focal kernel is the core raster operation the reference's numpy
# block windows perform implicitly (sliding-window reads,
# index_generator.py:120-124); distributed, the idiomatic plan is NOT a
# 9-way self-join (9 shuffles) but a SCATTER: each source pixel emits its
# value to the 9 target positions it influences (map-side explode, x9 row
# growth, zero extra columns), then ONE groupBy(scene, y, x) aggregation
# gathers each target's weighted sum. At 100 TB rasters are stored tiled
# (scene_id, window_id), so the single shuffle is exactly the halo
# exchange between adjacent tiles — everything interior to a tile
# combines map-side before it.
# ---------------------------------------------------------------------------

_H, _W = 16, 16

# all 9 (dy, dx) offsets as a literal array of structs — explode is
# codegen'd, no Python, no join against an offsets relation
_OFFSETS = (
    "flatten(transform(sequence(-1, 1), dy -> "
    "transform(sequence(-1, 1), dx -> named_struct('dy', dy, 'dx', dx))))"
)


def _focal_contributions(px):
    """Valid (non-nodata) B04 pixels scattered to their 3x3 targets:
    one row per (source pixel, offset) with the target coordinate and
    the source offset seen FROM the target (sy, sx) for kernel-weight
    lookup. Integer values throughout (the synthetic grid is
    integer-valued), so downstream sums are exact BIGINT math on both
    engines."""
    valid = px.filter(F.col("B04") != F.lit(NODATA_SENTINEL)).select(
        "scene_id", "y", "x", F.col("B04").cast("bigint").alias("v"))
    scattered = valid.select(
        "scene_id", "y", "x", "v", F.explode(F.expr(_OFFSETS)).alias("o"))
    return scattered.select(
        "scene_id",
        (F.col("y") + F.col("o.dy")).alias("ty"),
        (F.col("x") + F.col("o.dx")).alias("tx"),
        (-F.col("o.dy")).alias("sy"),
        (-F.col("o.dx")).alias("sx"),
        "v",
    ).filter(
        F.col("ty").between(0, _H - 1) & F.col("tx").between(0, _W - 1))


@query(
    "px_focal_mean3x3",
    survey=("PX-focal", "X9"),
    oracle=f"""
        WITH px AS ({_PIXELS}),
        off AS (
            SELECT dys.dy AS dy, dxs.dx AS dx
            FROM (SELECT unnest([-1, 0, 1]) AS dy) dys,
                 (SELECT unnest([-1, 0, 1]) AS dx) dxs
        ),
        contrib AS (
            SELECT p.scene_id, p.y + o.dy AS ty, p.x + o.dx AS tx,
                   CAST(p.B04 AS BIGINT) AS v
            FROM px p, off o
            WHERE p.B04 <> -9999.0
              AND p.y + o.dy BETWEEN 0 AND {_H - 1}
              AND p.x + o.dx BETWEEN 0 AND {_W - 1}
        )
        SELECT scene_id, ty AS y, tx AS x,
               CAST(count(*) AS BIGINT) AS n_valid,
               round(CAST(sum(v) AS DOUBLE) / count(*), 4) AS focal_mean
        FROM contrib GROUP BY scene_id, ty, tx
    """,
)
def px_focal_mean3x3(spark, sf_dir):
    """Nodata-aware 3x3 focal mean (the raster smoothing / gap-filling
    primitive): mean of the valid neighbors in each pixel's 3x3 window,
    normalized by the VALID-neighbor count so nodata holes and grid
    edges shrink the support instead of biasing the mean — the standard
    masked-array focal semantics the reference gets from numpy masked
    ops (utils.py:350-375). Scatter-gather plan: x9 map-side explode,
    one shuffle, integer sums (exact on both engines), one rounded
    division at the end."""
    px = synthetic_pixels(spark, n_scenes=4, height=_H, width=_W)
    contrib = _focal_contributions(px)
    return (
        contrib.groupBy("scene_id", F.col("ty").alias("y"),
                        F.col("tx").alias("x"))
        .agg(F.count("*").alias("n_valid"), F.sum("v").alias("s"))
        .select(
            "scene_id", "y", "x", "n_valid",
            F.round(F.col("s").cast("double") / F.col("n_valid"), 4)
            .alias("focal_mean"))
    )


@query(
    "px_sobel_edges",
    survey=("PX-focal", "X9"),
    oracle=f"""
        WITH px AS ({_PIXELS}),
        off AS (
            SELECT dys.dy AS dy, dxs.dx AS dx
            FROM (SELECT unnest([-1, 0, 1]) AS dy) dys,
                 (SELECT unnest([-1, 0, 1]) AS dx) dxs
        ),
        contrib AS (
            SELECT p.scene_id, p.y + o.dy AS ty, p.x + o.dx AS tx,
                   -o.dx AS sx, -o.dy AS sy, CAST(p.B04 AS BIGINT) AS v
            FROM px p, off o
            WHERE p.B04 <> -9999.0
              AND p.y + o.dy BETWEEN 0 AND {_H - 1}
              AND p.x + o.dx BETWEEN 0 AND {_W - 1}
        ),
        gathered AS (
            SELECT scene_id, ty, tx,
                   CAST(count(*) AS BIGINT) AS n_valid,
                   sum(sx * (2 - abs(sy)) * v) AS gx,
                   sum(sy * (2 - abs(sx)) * v) AS gy
            FROM contrib GROUP BY scene_id, ty, tx
        )
        SELECT scene_id, ty AS y, tx AS x,
               CAST(gx AS BIGINT) AS gx, CAST(gy AS BIGINT) AS gy,
               CAST(abs(gx) + abs(gy) AS BIGINT) AS grad_l1
        FROM gathered WHERE n_valid = 9
    """,
)
def px_sobel_edges(spark, sf_dir):
    """Sobel gradient (edge detection over the raster): Gx/Gy 3x3
    kernels with the weight computed from the source's offset AS SEEN
    FROM the target (w_x = sx*(2-|sy|), w_y = sy*(2-|sx|) — exactly the
    [[-1,0,1],[-2,0,2],[-1,0,1]] kernel), emitted only for pixels with
    FULL valid 3x3 support (n_valid = 9) so edge rows and nodata-holed
    windows are excluded rather than silently zero-padded. All-integer
    arithmetic end to end — gradients and the L1 magnitude hash
    bit-identically across engines. Same single-shuffle scatter-gather
    plan as px_focal_mean3x3."""
    px = synthetic_pixels(spark, n_scenes=4, height=_H, width=_W)
    contrib = _focal_contributions(px)
    wx = F.col("sx") * (F.lit(2) - F.abs(F.col("sy")))
    wy = F.col("sy") * (F.lit(2) - F.abs(F.col("sx")))
    gathered = (
        contrib.groupBy("scene_id", F.col("ty").alias("y"),
                        F.col("tx").alias("x"))
        .agg(F.count("*").alias("n_valid"),
             F.sum(wx * F.col("v")).alias("gx"),
             F.sum(wy * F.col("v")).alias("gy"))
    )
    return gathered.filter(F.col("n_valid") == 9).select(
        "scene_id", "y", "x",
        F.col("gx").cast("bigint").alias("gx"),
        F.col("gy").cast("bigint").alias("gy"),
        (F.abs(F.col("gx")) + F.abs(F.col("gy"))).cast("bigint")
        .alias("grad_l1"))


def _png_quicklook_dir(spark) -> str:
    """Write each scene's quicklook as a REAL grayscale PNG file, once
    per process, through the one scene-file sink
    (:func:`plans._util._scene_files`)."""
    from bdc_collection_builder_spark.sources.png import write_png

    px = synthetic_pixels(spark, n_scenes=4, height=16, width=16)
    red = px.select("scene_id", "y", "x",
                    quicklook_radiometry(F.col("B04")).alias("red"))
    return _scene_files(
        spark, "png", "png",
        lambda sid, grids: write_png(grids["red"].astype("uint8")), px=red)


@query(
    "px_png_quicklook_roundtrip",
    survey=("S14", "X10"),
    oracle=f"""
        WITH px AS ({_PIXELS})
        SELECT scene_id, y, x,
               CASE WHEN B04 = -9999.0 THEN 0
                    ELSE CAST(floor(LEAST(B04 / 10000.0 * 255.0, 255.0)) AS INT)
               END AS red
        FROM px
    """,
)
def px_png_quicklook_roundtrip(spark, sf_dir):
    """S14 with REAL bytes: the quicklook radiometry is written as an
    actual grayscale PNG per scene (pure-Python codec, sources/png.py
    — stdlib zlib, no Pillow), scanned back via binaryFile, decoded,
    and compared pixel-for-pixel against the same analytic oracle as
    px_x10. Quicklooks are small by construction (the reference's are
    fixed-size thumbnails), so the per-pixel decode output is bounded
    per file regardless of corpus scale; payload bytes stay
    executor-local."""
    import re as _re

    import pandas as pd

    from bdc_collection_builder_spark.sources.png import read_png

    path = _png_quicklook_dir(spark)
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.png").load(path)
        .select("path", "content")
    )

    def decode(batches):
        for pdf in batches:
            out = {"scene_id": [], "y": [], "x": [], "red": []}
            for p, content in zip(pdf["path"], pdf["content"]):
                arr = read_png(bytes(content))
                sid = int(_re.search(r"scene_(\d+)", p).group(1))
                for y in range(arr.shape[0]):
                    for x in range(arr.shape[1]):
                        out["scene_id"].append(sid)
                        out["y"].append(y)
                        out["x"].append(x)
                        out["red"].append(int(arr[y, x]))
            yield pd.DataFrame(out)

    return files.mapInPandas(
        decode, "scene_id long, y int, x int, red int")


_PYR_LEVELS = 4


@query(
    "px_overview_pyramid",
    survey=("S11", "X12"),
    oracle=f"""
        WITH px AS ({_PIXELS}),
        lv AS (SELECT unnest(generate_series(0, {_PYR_LEVELS - 1})) AS level),
        sampled AS (
            SELECT l.level, p.scene_id, p.B04
            FROM px p JOIN lv l
              ON p.y % (1 << l.level) = 0 AND p.x % (1 << l.level) = 0
        )
        SELECT level, scene_id,
               CAST(count(*) AS BIGINT) AS n_pixels,
               CAST(sum(CASE WHEN B04 = -9999.0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_nodata,
               CAST(sum(CASE WHEN B04 = -9999.0 THEN 0
                        ELSE CAST(B04 AS BIGINT) END) AS BIGINT) AS sum_b04
        FROM sampled GROUP BY level, scene_id
    """,
)
def px_overview_pyramid(spark, sf_dir):
    """COG-style overview pyramid: nearest-neighbour decimation at
    every power-of-two level (the overview layers a Cloud-Optimized
    GeoTIFF embeds so a viewer reads ~constant pixels per request at
    any zoom — the reference's COG sink S11-S13 writes exactly these),
    summarized per (level, scene) as pixel/nodata counts and the
    integer band checksum that pins every sampled value.

    The pyramid is ONE narrow pass: each level is a modulus filter on
    the pixel coordinates (no resample shuffle — decimation reads the
    full-resolution grid and keeps every 2^L-th pixel), and all levels
    fuse into a single scan via the level explode. At 100 TB each
    tile builds its own pyramid tile-locally — embarrassingly
    parallel, the same property the focal/stencil ops exploit."""
    px = synthetic_pixels(spark, n_scenes=4, height=16, width=16)
    lv = F.explode(F.sequence(F.lit(0), F.lit(_PYR_LEVELS - 1))).alias(
        "level")
    sampled = (
        px.select("scene_id", "y", "x", "B04", lv)
        .filter(F.expr("y % shiftleft(1, level) = 0 AND "
                       "x % shiftleft(1, level) = 0"))
    )
    return sampled.groupBy("level", "scene_id").agg(
        F.count("*").cast("bigint").alias("n_pixels"),
        F.sum(F.when(F.col("B04") == F.lit(NODATA_SENTINEL), 1)
              .otherwise(0)).cast("bigint").alias("n_nodata"),
        F.sum(F.when(F.col("B04") == F.lit(NODATA_SENTINEL), 0)
              .otherwise(F.col("B04").cast("bigint")))
        .cast("bigint").alias("sum_b04"))


@query(
    "px_histogram_equalization",
    survey=("X10", "A8"),
    oracle=f"""
        WITH px AS ({_PIXELS}),
        bytes AS (
            SELECT scene_id,
                   CAST(floor(least(B04 / 10000.0 * 255.0, 255.0)) AS INT)
                       AS v
            FROM px WHERE B04 <> -9999.0
        ),
        hist AS (
            SELECT scene_id, v, CAST(count(*) AS BIGINT) AS cnt
            FROM bytes GROUP BY scene_id, v
        ),
        cdf AS (
            SELECT scene_id, v, cnt,
                   CAST(sum(cnt) OVER (
                       PARTITION BY scene_id ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS BIGINT) AS cum
            FROM hist
        ),
        stats AS (
            SELECT scene_id, CAST(sum(cnt) AS BIGINT) AS n_valid,
                   CAST(min(cum) AS BIGINT) AS cdf_min
            FROM cdf GROUP BY scene_id
        ),
        remapped AS (
            SELECT c.scene_id,
                   CASE WHEN s.n_valid > s.cdf_min
                        THEN CAST(floor((c.cum - s.cdf_min) * 255.0
                                        / (s.n_valid - s.cdf_min)) AS INT)
                        ELSE 0 END AS eq_value,
                   c.cnt
            FROM cdf c JOIN stats s ON s.scene_id = c.scene_id
        )
        SELECT scene_id, eq_value, CAST(sum(cnt) AS BIGINT) AS n_pixels
        FROM remapped GROUP BY scene_id, eq_value
    """,
)
def px_histogram_equalization(spark, sf_dir):
    """Per-scene histogram equalization — the contrast stretch a
    quicklook/visualization sink applies when fixed radiometry
    (px_x10's v/10000 scaling) washes out low-dynamic-range scenes:
    each byte value is remapped through the scene's own CDF,
    `eq = ⌊(cdf(v) − cdf_min)·255 / (n − cdf_min)⌋`.

    Scale shape: the equalization never touches pixels twice — one
    histogram aggregate (map-side combined, shuffle carries ≤256 rows
    per scene), a cumulative window over those ≤256 histogram rows,
    and the remap on the histogram itself (counts re-aggregated).
    A 10⁵-scene archive costs one pixel scan + per-scene
    constant-size window work; nodata pixels are excluded from the
    CDF exactly as utils.py:253-259 masks them. All counts are
    integers; the one division is a single double op — cross-engine
    exact."""
    px = synthetic_pixels(spark, n_scenes=4, height=16, width=16)
    from pyspark.sql import Window

    valid = px.filter(F.col("B04") != F.lit(NODATA_SENTINEL)).select(
        "scene_id",
        F.floor(F.least(F.col("B04") / 10000.0 * 255.0, F.lit(255.0)))
         .cast("int").alias("v"))
    hist = valid.groupBy("scene_id", "v").agg(
        F.count("*").cast("bigint").alias("cnt"))
    w = (Window.partitionBy("scene_id").orderBy("v")
         .rowsBetween(Window.unboundedPreceding, 0))
    cdf = hist.select("scene_id", "v", "cnt",
                      F.sum("cnt").over(w).cast("bigint").alias("cum"))
    stats = cdf.groupBy("scene_id").agg(
        F.sum("cnt").cast("bigint").alias("n_valid"),
        F.min("cum").cast("bigint").alias("cdf_min"))
    remapped = cdf.join(F.broadcast(stats), "scene_id").select(
        "scene_id",
        F.when(F.col("n_valid") > F.col("cdf_min"),
               F.floor((F.col("cum") - F.col("cdf_min")) * 255.0
                       / (F.col("n_valid") - F.col("cdf_min"))).cast("int"))
         .otherwise(F.lit(0)).alias("eq_value"),
        "cnt")
    return remapped.groupBy("scene_id", "eq_value").agg(
        F.sum("cnt").cast("bigint").alias("n_pixels"))


@query(
    "px_bilinear_upsample2x",
    survey=("X12", "PX-focal"),
    oracle=f"""
        WITH px AS ({_PIXELS}),
        off AS (
            SELECT dys.dy AS dy, dxs.dx AS dx
            FROM (SELECT unnest([-1, 0, 1]) AS dy) dys,
                 (SELECT unnest([-1, 0, 1]) AS dx) dxs
        ),
        contrib AS (
            SELECT p.scene_id,
                   2 * p.y + o.dy AS ty, 2 * p.x + o.dx AS tx,
                   CAST((2 - abs(o.dy)) * (2 - abs(o.dx)) AS BIGINT) AS w,
                   CASE WHEN p.B04 = -9999.0 THEN NULL
                        ELSE CAST(p.B04 AS BIGINT) END AS v
            FROM px p, off o
        )
        SELECT scene_id, ty, tx,
               CASE WHEN sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) > 0
                    THEN NULL
                    ELSE CAST(CAST(sum(w * v) AS BIGINT) AS DOUBLE) / 4
               END AS b04_up
        FROM contrib
        WHERE ty BETWEEN 0 AND 30 AND tx BETWEEN 0 AND 30
        GROUP BY scene_id, ty, tx
    """,
)
def px_bilinear_upsample2x(spark, sf_dir):
    """Bilinear 2x upsample (align-corners), the interpolating sequel
    to px_x12's nearest-neighbour kernel (reference utils.py resample
    path delegates to rasterio's bilinear; here the kernel is the
    engine's own plan). Distributed shape = the same SCATTER-gather as
    the focal stencil: each source pixel emits its value to the <=9
    target positions it influences with separable weight
    (2-|dy|)*(2-|dx|) in {1,2,4}; ONE groupBy(scene, ty, tx) gathers.
    Every interior target receives total weight exactly 4, so the
    result is sum(w*v)/4 — an exact int64 sum and one binary-exact
    division by 4, byte-identical cross-engine with no tolerance. A
    target touching any nodata source emits NULL (conservative mask
    propagation, utils.py:367 semantics).

    100 TB: map-side x9 row growth, one shuffle keyed (scene, ty, tx)
    = the tile halo exchange; interior contributions combine map-side.
    No joins, no Python."""
    px = synthetic_pixels(spark, n_scenes=4, height=16, width=16)
    scattered = px.select(
        "scene_id",
        F.explode(F.expr(_OFFSETS)).alias("o"),
        F.when(F.col("B04") == F.lit(NODATA_SENTINEL), F.lit(None))
         .otherwise(F.col("B04").cast("bigint")).alias("v"),
        "y", "x",
    ).select(
        "scene_id",
        (2 * F.col("y") + F.col("o.dy")).alias("ty"),
        (2 * F.col("x") + F.col("o.dx")).alias("tx"),
        ((2 - F.abs(F.col("o.dy"))) * (2 - F.abs(F.col("o.dx"))))
        .cast("bigint").alias("w"),
        "v",
    ).filter(F.col("ty").between(0, 30) & F.col("tx").between(0, 30))
    return (
        scattered.groupBy("scene_id", "ty", "tx")
        .agg(F.sum(F.when(F.col("v").isNull(), 1).otherwise(0)).alias("n_nd"),
             F.sum(F.col("w") * F.col("v")).cast("bigint").alias("wv"))
        .select("scene_id", "ty", "tx",
                F.when(F.col("n_nd") > 0, F.lit(None).cast("double"))
                 .otherwise(F.col("wv").cast("double") / 4).alias("b04_up"))
    )


# Threshold must sit INSIDE the synthetic band's value range:
# B04 = (scene*31 + y*17 + x*7) % 10000 maxes at 453 on the 4x16x16
# grid, so the original 5000 made the mask EMPTY at every SF and the
# whole query (and its pytest mask-sum check) vacuously green —
# round-8 non-vacuous sweep finding, same disease as j21. 250 yields
# a ~45% mask with multiple components per scene.
_BLOB_THRESH = 250


@query(
    "px_blob_labeling",
    survey=("F8", "J9", "DD-exact"),
    oracle=f"""
        WITH RECURSIVE px AS ({_PIXELS}),
        valid AS (
            SELECT scene_id, y, x,
                   scene_id * 1000 + y * 16 + x AS p
            FROM px
            WHERE B04 <> -9999.0 AND B04 >= {_BLOB_THRESH}
        ),
        edges AS (
            SELECT a.p AS src, b.p AS dst
            FROM valid a JOIN valid b
              ON b.scene_id = a.scene_id
             AND ((b.y = a.y AND b.x = a.x + 1)
               OR (b.y = a.y + 1 AND b.x = a.x))
        ),
        sym AS (
            SELECT src, dst FROM edges
            UNION SELECT dst, src FROM edges
        ),
        reach (p, l) AS (
            SELECT p, p FROM valid
            UNION
            SELECT s.dst, r.l FROM reach r JOIN sym s ON s.src = r.p
        ),
        lbl AS (
            SELECT p, CAST(min(l) AS BIGINT) AS component
            FROM reach GROUP BY p
        )
        SELECT v.scene_id, l.component,
               CAST(count(*) AS BIGINT) AS n_pixels,
               CAST(min(v.y) AS BIGINT) AS min_y,
               CAST(max(v.y) AS BIGINT) AS max_y,
               CAST(min(v.x) AS BIGINT) AS min_x,
               CAST(max(v.x) AS BIGINT) AS max_x
        FROM valid v JOIN lbl l ON l.p = v.p
        GROUP BY v.scene_id, l.component
    """,
)
def px_blob_labeling(spark, sf_dir):
    """Raster BLOB LABELING (connected-component labeling of a
    thresholded mask, 4-adjacency) — the remote-sensing primitive
    behind cloud-mask object extraction and min-mapping-unit filters
    (the reference thresholds masks in numpy, utils.py, but never
    labels objects; any real QA chain does). Valid bright pixels
    (B04 >= {_BLOB_THRESH}, nodata excluded) become graph nodes, the
    two forward 4-adjacency edges per pixel (right, down) become the
    edge set, and labeling runs on the STAR-CONTRACTION component
    operator (extensions/dedup.connected_components_star) — O(log n)
    rounds regardless of blob diameter, which matters precisely here
    because thresholded rasters produce snake-shaped blobs whose
    diameter min-label propagation would pay in full. Pixels with no
    bright neighbor close as singleton components via a left join.
    Per blob: pixel count and bounding box — all int64.

    The oracle computes the same labels by a reachability recursive
    CTE (min reachable id), an independent formulation.

    100 TB: tiled rasters make the adjacency join an equi-join keyed
    (scene, y, x) — the halo-exchange shape again; star contraction
    is the documented deep-chain escape hatch."""
    from bdc_collection_builder_spark.extensions.dedup import (
        connected_components_star,
    )

    px = synthetic_pixels(spark, n_scenes=4, height=16, width=16)
    valid = px.filter(
        (F.col("B04") != F.lit(NODATA_SENTINEL))
        & (F.col("B04") >= _BLOB_THRESH)
    ).select(
        "scene_id", "y", "x",
        (F.col("scene_id") * 1000 + F.col("y") * 16 + F.col("x"))
        .cast("bigint").alias("p"))
    a = valid.select(F.col("scene_id").alias("s"), F.col("y").alias("ay"),
                     F.col("x").alias("ax"), F.col("p").alias("pa"))
    b = valid.select(F.col("scene_id").alias("s"), F.col("y").alias("by"),
                     F.col("x").alias("bx"), F.col("p").alias("pb"))
    right = a.join(b, (a["s"] == b["s"]) & (b["by"] == a["ay"])
                   & (b["bx"] == a["ax"] + 1))
    down = a.join(b, (a["s"] == b["s"]) & (b["by"] == a["ay"] + 1)
                  & (b["bx"] == a["ax"]))
    edges = (right.select("pa", "pb")
             .unionByName(down.select("pa", "pb")))
    cc = connected_components_star(edges, "pa", "pb")
    labeled = (
        valid.join(cc, valid["p"] == cc["doc_id"], "left")
        .select("scene_id", "y", "x", "p",
                F.coalesce("component_id", F.col("p")).cast("bigint")
                .alias("component"))
    )
    return labeled.groupBy("scene_id", "component").agg(
        F.count("*").cast("bigint").alias("n_pixels"),
        F.min("y").cast("bigint").alias("min_y"),
        F.max("y").cast("bigint").alias("max_y"),
        F.min("x").cast("bigint").alias("min_x"),
        F.max("x").cast("bigint").alias("max_x"))


@query(
    "px_morph_erode_dilate3x3",
    survey=("PX-focal", "X9"),
    oracle=f"""
        WITH px AS ({_PIXELS}),
        off AS (
            SELECT dys.dy AS dy, dxs.dx AS dx
            FROM (SELECT unnest([-1, 0, 1]) AS dy) dys,
                 (SELECT unnest([-1, 0, 1]) AS dx) dxs
        ),
        contrib AS (
            SELECT p.scene_id, p.y + o.dy AS ty, p.x + o.dx AS tx,
                   CAST(p.B04 AS BIGINT) AS v
            FROM px p, off o
            WHERE p.B04 <> -9999.0
              AND p.y + o.dy BETWEEN 0 AND {_H - 1}
              AND p.x + o.dx BETWEEN 0 AND {_W - 1}
        ),
        gathered AS (
            SELECT scene_id, ty, tx,
                   CAST(count(*) AS BIGINT) AS n_valid,
                   CAST(min(v) AS BIGINT) AS eroded,
                   CAST(max(v) AS BIGINT) AS dilated
            FROM contrib GROUP BY scene_id, ty, tx
        )
        SELECT scene_id, ty AS y, tx AS x, eroded, dilated,
               CAST(dilated - eroded AS BIGINT) AS morph_gradient
        FROM gathered WHERE n_valid = 9
    """,
)
def px_morph_erode_dilate3x3(spark, sf_dir):
    """Grayscale morphological erosion + dilation over a 3x3
    structuring element (Serra 1982, public), plus their difference —
    the morphological gradient, the classic cloud-mask cleanup pass
    (erosion removes salt noise from a binary/graded mask, dilation
    grows it back — together an opening; the reference's masks come
    from external processors but get exactly this treatment in the
    raster toolchains it shells out to, X9/F8 anchors). Emitted only
    for pixels with FULL valid 3x3 support (n_valid = 9), matching
    px_sobel_edges' strict-window rule so nodata holes and grid edges
    never fabricate extrema.

    All-integer min/max arithmetic — hashes bit-identically across
    engines. Same single-shuffle scatter-gather plan as
    px_focal_mean3x3 (map-side explode, one shuffle on the target
    pixel, map-side-combinable min/max)."""
    px = synthetic_pixels(spark, n_scenes=4, height=_H, width=_W)
    contrib = _focal_contributions(px)
    gathered = (
        contrib.groupBy("scene_id", F.col("ty").alias("y"),
                        F.col("tx").alias("x"))
        .agg(F.count("*").alias("n_valid"),
             F.min("v").cast("bigint").alias("eroded"),
             F.max("v").cast("bigint").alias("dilated"))
    )
    return (
        gathered.filter(F.col("n_valid") == 9)
        .select("scene_id", "y", "x", "eroded", "dilated",
                (F.col("dilated") - F.col("eroded")).cast("bigint")
                .alias("morph_gradient"))
    )
