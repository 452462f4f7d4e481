"""Shared helpers for plan modules.

Each registry input that several queries read is built in one place:

- :func:`t` loads a benchmark table; :func:`duck_ts` is the oracle's
  matching ``events.ts`` normalization;
- :func:`_scene_files` writes the synthetic 4-scene pixel grid as real
  HDF4, GeoTIFF or PNG files, one directory per kind and process;
- ``plans/extensions._aug_corpus`` is the planted near-dup corpus,
  beside its oracle twin ``_AUG_SQL``;
- ``plans/sources._orders_as_items`` projects ``orders`` into the
  catalog ``items`` schema, the seed of the store queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from bdc_collection_builder_spark.sources.tables import load_table


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# DuckDB-side normalization of events.ts, mirroring what load_table does
# on the Spark side (sources/tables.py): the driver-regenerated
# events.parquet may surface `ts` to the oracle as BIGINT epoch-nanos,
# TIMESTAMP, TIMESTAMP_NS, TIMESTAMP_NTZ, or TIMESTAMPTZ depending on
# writer vintage. The VARCHAR round-trip is the one expression that
# binds for every one of those types:
#   - BIGINT nanos  -> digits -> HUGEINT -> truncate to micros (same
#     truncation as Spark's `ts div 1000`) -> make_timestamp
#   - any timestamp -> text   -> TRY_CAST back to plain TIMESTAMP
#     (TIMESTAMP_NS text truncates to micros; TIMESTAMPTZ text carries
#     its offset, which the cast folds into UTC wall time)
DUCK_TS = (
    "COALESCE("
    "make_timestamp(CAST(TRY_CAST(CAST({c} AS VARCHAR) AS HUGEINT) // 1000"
    " AS BIGINT)), "
    "TRY_CAST(CAST({c} AS VARCHAR) AS TIMESTAMP))"
)


def duck_ts(col: str = "ts") -> str:
    """Type-robust DuckDB expression yielding ``col`` as plain UTC
    TIMESTAMP regardless of how the parquet surfaced it."""
    return DUCK_TS.format(c=col)


def scratch_dir(prefix: str) -> str:
    """``tempfile.mkdtemp`` with interpreter-exit reclamation.

    Every query/stage scratch (store roots, streaming checkpoints,
    staged parquet copies) must come through here: harness processes
    are transient and run hundreds of queries per round, so a bare
    mkdtemp accumulates table-sized litter in /tmp across rounds
    (ADVICE-r7 lo_dpp, ADVICE-r8 st_stream_static_enrich — this
    helper fixes the whole class). Cleanup is best-effort
    (``ignore_errors``): a scratch that outlives a crashed process is
    the OS tmpfiles reaper's job, exactly like before.
    """
    import atexit
    import shutil
    import tempfile

    path = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


_SCENE_DIRS: dict[str, str] = {}


def _scene_files(spark: SparkSession, kind: str, ext: str, encode,
                 px: DataFrame | None = None) -> str:
    """Write the synthetic 4-scene 16×16 pixel grid as one REAL file
    per scene, ``scene_<id>.<ext>``, once per process and ``kind``, and
    return the directory. The writes happen executor-side inside
    ``applyInPandas``: each scene group encodes and writes its own
    file (the distributed sink shape). ``encode(sid, grids) -> bytes``
    gets the scene's columns as 16×16 arrays in (y, x) order, keyed by
    name. ``px`` is a frame derived from the grid to write instead of
    the grid itself. On a cluster the files land on shared storage;
    locally in a scratch dir."""
    if kind not in _SCENE_DIRS:
        import os

        import pandas as pd

        from bdc_collection_builder_spark.functions.pixel import (
            synthetic_pixels,
        )

        out = scratch_dir(f"bdc_{kind}_scenes_")
        if px is None:
            px = synthetic_pixels(spark, n_scenes=4, height=16, width=16)

        def write_group(key, pdf):
            sid = int(key[0])
            pdf = pdf.sort_values(["y", "x"])
            grids = {c: pdf[c].to_numpy().reshape(16, 16)
                     for c in pdf.columns if c not in ("scene_id", "y", "x")}
            path = os.path.join(out, f"scene_{sid}.{ext}")
            with open(path, "wb") as fh:
                fh.write(encode(sid, grids))
            return pd.DataFrame({"scene_id": [sid], "path": [path]})

        # count() is the action that runs the lazy sink: it must stay a
        # statement, never an assert that `python -O` strips
        written = px.groupBy("scene_id").applyInPandas(
            write_group, "scene_id long, path string").count()
        if written != 4:
            raise RuntimeError(
                f"{kind}: wrote {written} scene files, expected 4")
        _SCENE_DIRS[kind] = out
    return _SCENE_DIRS[kind]
