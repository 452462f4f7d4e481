"""Query registry.

Each registered query is one operator (or operator composition) from the
SURVEY.md §2 inventory, expressed twice:

- ``spark_fn(spark, sf_dir) -> DataFrame`` — the engine's plan, written
  DataFrame-first so Catalyst optimizes it (pushdown, broadcast, AQE);
- ``oracle`` — equivalent ANSI SQL for DuckDB over the same parquet
  tables (views pre-registered by the harness), or ``None`` for ops that
  aren't SQL-expressible (those get a rows-only check).

Column names are aliased identically on both sides: the correctness
harness sorts columns by name before hashing values.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass
class QueryDef:
    name: str
    spark_fn: SparkQuery
    oracle: str | None
    survey: tuple[str, ...] = field(default_factory=tuple)
    description: str = ""


QUERY_REGISTRY: dict[str, QueryDef] = {}


def query(name: str, survey: tuple[str, ...] = (), oracle: str | None = None,
          description: str = "") -> Callable[[SparkQuery], SparkQuery]:
    """Decorator registering a Spark query with its DuckDB oracle."""

    def deco(fn: SparkQuery) -> SparkQuery:
        import functools

        if name in QUERY_REGISTRY:
            raise ValueError(f"duplicate query name: {name}")

        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            # Bounded cache lifetime: drain the PREVIOUS query's
            # tracked persists at each top-level invocation (its
            # action has run by now), so a 210-query driver session
            # never accumulates cache blocks (ADVICE-r3). Nested
            # query composition is depth-guarded in query_scope.
            from bdc_collection_builder_spark.functions.persist import (
                query_scope,
            )

            with query_scope():
                return fn(spark, sf_dir)

        QUERY_REGISTRY[name] = QueryDef(
            name=name, spark_fn=wrapped, oracle=oracle, survey=tuple(survey),
            description=description or (fn.__doc__ or "").strip().splitlines()[0]
            if (description or fn.__doc__) else "",
        )
        return wrapped

    return deco


def _load_all() -> None:
    """Import every plan module so its decorators run."""
    from bdc_collection_builder_spark.plans import (  # noqa: F401
        aggregates,
        extensions,
        filters,
        graph,
        joins,
        layout,
        pixels,
        quality,
        scalars,
        setops,
        sketches,
        sorts,
        sources,
        temporal,
        tokenizer,
        training,
        windows,
    )


# The external harness oracle-checks the first 50 entries of queries(),
# and this tuple leads that window. The rotation history lives in git
# and CORRECTNESS_r*.json; the window is frozen by the
# tests/test_plans.py::test_driver_window_rotation_* tests.
_DRIVER_PRIORITY: tuple[str, ...] = (
    # (a) the 18 round-2 rows, risk-grouped: filter predicates
    "f07_asset_projection", "f09_value_clamp",
    "f11_cog_skip_predicate",
    # sorts / setops / window
    "t02_ordered_catalog", "t04_first_element", "t05_top_k",
    "u03_sorted_union_array", "u04_intersect_scene_sets",
    "w02_latest_failed",
    # scalar seams
    "x02_output_name_rewrite", "x03_dispatch_predicates",
    "x04_mime_guess", "x06_composite_end_date",
    "x20_asset_href_math", "x21_collection_identifier",
    # extension queries
    "tj_range_error_followups", "cu_pack_sequences",
    "dd_embedding_near_pairs",
    # (b) 32 round-3 rows: codec/stage s-block first (highest drift)
    "s02_download_failover", "s04_archive_validation",
    "s05_archive_extract", "s06_windowed_raster_scan",
    "s07_hdf_subdataset_scan", "s08_xml_metadata_scan",
    "s10_search_memo_cache", "s11_cog_sink_manifest",
    "s16_sync_diff", "s17_symlink_alias", "s18_jsonl_roundtrip",
    "s19_csv_roundtrip", "s20_tiff_raster_scan",
    "s21_zip_archive_validate", "s22_xml_mtd_parse",
    # session/streaming block
    "y05_session_window",
    # scalar/geo seams
    "x08_now_stamps", "x13_extent_to_wgs84", "x15_epsg_detect",
    "x23_url_normalize", "x24_fuzzy_id_match",
    # temporal
    "tj_interval_coalesce", "tj_resample_interpolate",
    # bag setops
    "u05_except_all_bag", "u06_symmetric_difference",
    "u07_intersect_all_bag",
    # windows (range frame / LOCF / cohort / funnel / latency / EWMA)
    "w05_time_range_rolling", "w07_locf_gap_fill",
    "w10_cohort_retention", "w11_funnel_stages",
    "w12_conversion_latency", "w13_ewma_smoothing",
)


def _ordered() -> list[str]:
    _load_all()
    missing = [n for n in _DRIVER_PRIORITY if n not in QUERY_REGISTRY]
    if missing:
        raise ValueError(f"_DRIVER_PRIORITY names not registered: {missing}")
    prio = set(_DRIVER_PRIORITY)
    return list(_DRIVER_PRIORITY) + [n for n in QUERY_REGISTRY if n not in prio]


def all_queries() -> dict[str, SparkQuery]:
    return {name: QUERY_REGISTRY[name].spark_fn for name in _ordered()}


def oracle_sqls() -> dict[str, str]:
    return {name: QUERY_REGISTRY[name].oracle for name in _ordered()
            if QUERY_REGISTRY[name].oracle}
