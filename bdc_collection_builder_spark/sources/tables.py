"""Parquet table loaders for the synthetic test tables.

At 100 TB these reads come from an object store; everything here keeps
the scan declarative (``spark.read.parquet``) so Catalyst applies column
pruning and predicate pushdown — never pre-materialize or collect.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table. Plain declarative parquet scan → pushdown-friendly.

    ``events.ts`` is stored as parquet TIMESTAMP(NANOS), which Spark's
    vectorized reader rejects; read it as int64 nanos and convert to a
    microsecond timestamp (integer division — never float, nano epochs
    exceed 2^53).
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        from pyspark.sql import functions as F

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # The nanos→timestamp conversion below yields an instant; pin the
        # session to UTC so its rendering (and pandas conversion) matches
        # the UTC-naive external oracles regardless of host timezone.
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        df = spark.read.parquet(path)
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # Newer readers surface parquet NANOS as TIMESTAMP_NTZ; with
            # the session pinned to UTC this cast maps the naive wall
            # clock onto the same UTC instant the bigint path produces.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(path)


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every test table as a temp view; return the DataFrames.

    Registering views lets operators be expressed in either the DataFrame
    API or ``spark.sql`` — both compile to the same Catalyst plan.
    """
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def write_bucketed(df: DataFrame, table_name: str, bucket_cols: list[str],
                   n_buckets: int = 8) -> None:
    """Persist a table bucketed (and sorted) on its join key.

    Both sides of a repeated big⋈big equi-join bucketed on the same key
    with the same bucket count join with NO Exchange — the shuffle is
    paid once at write time instead of per query. This is the parquet
    analog of the co-location the reference gets implicitly from
    per-scene file locality (sync.py:63-105); at 100 TB it is the main
    lever for iterative catalog⋈ledger work. Requires a warehouse
    (saveAsTable); plain path-based parquet cannot carry bucket specs.
    """
    import shutil
    from urllib.parse import urlparse

    spark = df.sparkSession
    # A managed-table location can survive from a previous session
    # whose catalog is gone (an interrupted run); overwrite mode can't
    # reclaim it and saveAsTable fails with LOCATION_ALREADY_EXISTS,
    # so drop both the catalog entry and any orphaned directory (the
    # same restart-safety pattern as lo_dynamic_partition_pruning).
    # The catalog knows a live table's location; an orphan sits where
    # the catalog would put it — under the LOWERCASED name.
    if spark.catalog.tableExists(table_name):
        location = next(
            r.data_type for r in
            spark.sql(f"DESCRIBE TABLE EXTENDED {table_name}").collect()
            if r.col_name == "Location")
    else:
        wh = spark.conf.get("spark.sql.warehouse.dir")
        location = f"{wh}/{table_name.lower()}"
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    shutil.rmtree(urlparse(location).path, ignore_errors=True)
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, *bucket_cols)
        .sortBy(*bucket_cols)
        .format("parquet")
        .saveAsTable(table_name)
    )
