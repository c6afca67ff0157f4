"""Sources — the catalog-enumeration layer re-expressed (SURVEY §2.1).

The reference enumerates a remote catalog and fetches one record at a time
over HTTP (Remote.getids/metadata, scripts/validate.py:281-342;
iterate_all/iterate_selective, metadata_updater.py:297-321).  Here the table
IS the catalog: a columnar scan with partition pruning replaces enumeration,
and ``where(key.isin(...))`` replaces selective iteration (S3) — Catalyst
pushes both into the scan.

Iceberg is the production target (north_rule) but its runtime jars are not in
this image, so the Iceberg path is gated behind a format probe with parquet
as the functional stand-in: identical DataFrame downstream either way.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TESTDATA_TABLES = (
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


def load_table(
    spark: SparkSession, sf_dir: str, name: str, spread: bool = False
) -> DataFrame:
    """One driver-provided test table (TESTDATA.md).

    ``spread=True``: round-robin repartition to the session's default
    parallelism. The driver tables are written as ONE parquet file with ONE
    row group, and a row group is the atomic scan split — so every scan,
    and everything Catalyst fuses into it (rule projection + explode,
    partial aggregation, shingling), runs on a single core no matter the
    cluster (optimization guide §2.5 "input skew: one huge unsplittable
    file — repartition immediately after the read"). Callers whose
    downstream work is per-row compute opt in; trivial aggregations and
    layout-sensitive consumers (MLlib k-means|| init) leave it off. A
    multi-file production table gets its parallelism from the scan itself
    and needs no spread — this mirrors the corpus builders'
    defaultParallelism repartition (plans/demo_ml.py)."""
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    return spread_rows(df) if spread else df


def spread_rows(df: DataFrame) -> DataFrame:
    """``df`` round-robined to its session's default parallelism (one
    shuffle of its rows), so the per-row work after it runs on every core
    whatever the input's file and row-group layout."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TESTDATA_TABLES}


def read_clips(
    spark: SparkSession,
    path: str,
    clip_ids: list[str] | None = None,
    fmt: str = "auto",
) -> DataFrame:
    """Read the clips table; Iceberg when available, else parquet.

    ``clip_ids`` is the selective-scan path (S3, metadata_updater.py:314-321):
    the IN-list predicate is pushed into the scan (partition pruning /
    row-group skipping), not filtered post-hoc.
    """
    if fmt == "auto":
        fmt = "iceberg" if _iceberg_available(spark) else "parquet"
    if fmt == "iceberg":
        df = spark.read.format("iceberg").load(path)
    else:
        df = spark.read.parquet(path)
    if clip_ids:
        df = df.where(df["clip_id"].isin(list(clip_ids)))
    return df


def _iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001 — classpath probe
            "org.apache.iceberg.spark.source.IcebergSource"
        )
        return True
    except Exception:
        return False
