"""spark-submit entry point — the batch sweep.

The Spark re-expression of the reference's CLI batch path
(scripts/validate.py:419-484 process/main: getopt flags → source select →
schema once → per-layer validate loop → per-layer verdict lines), with the
updater's resume/dry-run semantics (metadata_updater.py:364-465) supplied by
the checkpoint manifest.

Usage (local parquet stand-in for the Iceberg table):

    spark-submit --py-files anzlic_validator_spark.zip \
        -m anzlic_validator_spark.run            # or python -m ...
        --input /data/clips_parquet \
        --rules configs/rules_default.yaml \
        --ref transcript_index=/data/index_parquet \
        --output /out/run1 [--n-buckets 64] [--dry-run] [--key clip_id]

Outputs under --output:
    violations/   parquet (key, rule_id, observed, expected), partitioned by bucket
    verdicts/     parquet (key, passed, first_rule_id, n_violations), partitioned by bucket
    manifest.json checkpoint: per-bucket lineage (snapshot id, file list,
                  rule versions) + metrics (rows, violations, wall-clock)

A rerun with the same catalog + input skips completed buckets. A changed
catalog revalidates every bucket; a changed input revalidates the buckets
whose fingerprint moved (manifest.input_snapshots_per_bucket: one bucket
for a ``bucket=N``-partitioned input, every bucket otherwise).
"""

from __future__ import annotations

import argparse
import sys
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from anzlic_validator_spark.engine import is_record_key, table_global, validate
from anzlic_validator_spark.manifest import Manifest, input_snapshots_per_bucket, run_snapshot
from anzlic_validator_spark.rules import RuleCatalog, load_catalog
from anzlic_validator_spark.schema import VIOLATION_FIELDS
from anzlic_validator_spark.sources.tables import read_clips
from anzlic_validator_spark.state_log import StateLog

# reserved partition for table-/group-level violations ('__table__',
# '__group__|...'): excluded from resume accounting and always recomputed,
# so a partial resume can never overwrite a completed bucket's per-record
# rows with a lone table-level row (and vice versa)
RESERVED_BUCKET = -1

# output schemas (explicit, so an all-clean run — zero violation files — is
# still readable without parquet schema inference)
VIOLATIONS_OUT_SCHEMA = "key string, rule_id string, observed string, expected string, bucket int"
VERDICTS_OUT_SCHEMA = (
    "key string, passed boolean, first_rule_id string, n_violations bigint, bucket int"
)


def read_violations(spark: SparkSession, output: str) -> DataFrame:
    return spark.read.schema(VIOLATIONS_OUT_SCHEMA).parquet(f"{output}/violations")


def read_verdicts(spark: SparkSession, output: str) -> DataFrame:
    return spark.read.schema(VERDICTS_OUT_SCHEMA).parquet(f"{output}/verdicts")


def bucket_col(key_col: str, n_buckets: int):
    # cast to string BEFORE hashing: xxhash64(int) != xxhash64(string), and
    # output/manifest bucketing hashes the string-cast violation key — all
    # three bucket computations must agree for non-string key columns
    return F.pmod(F.xxhash64(F.col(key_col).cast("string")), F.lit(n_buckets)).cast("int")


def run_validation(
    spark: SparkSession,
    df: DataFrame,
    catalog_path: str,
    output: str,
    key_col: str = "clip_id",
    refs: dict[str, DataFrame] | None = None,
    n_buckets: int = 16,
    dry_run: bool = False,
    input_paths: list[str] | None = None,
) -> dict:
    """Programmatic core of the CLI — returns the run summary dict."""
    catalog = load_catalog(catalog_path)
    rule_versions = catalog.catalog_hash()
    # per-bucket fingerprints: a bucket-partitioned input (bucket=N dirs,
    # same key/bucket function) revalidates only the touched bucket; an
    # unpartitioned input degrades to the global-snapshot behavior because
    # every file lands in the shared residue folded into each bucket
    snapshots = input_snapshots_per_bucket(input_paths or [], n_buckets, spark=spark)
    manifest = Manifest.load(output, n_buckets=n_buckets)
    pending = manifest.pending_buckets(rule_versions, snapshots)
    summary = {
        "run_id": uuid.uuid4().hex[:12],
        "rule_versions": rule_versions,
        "snapshot_id": run_snapshot(snapshots),
        "n_buckets": n_buckets,
        "pending_buckets": pending,
        "skipped_buckets": sorted(set(range(n_buckets)) - set(pending)),
        "dry_run": dry_run,
    }
    if dry_run or not pending:
        return summary

    t0 = time.monotonic()
    # table-global rules (drift; grouped/scalar all_of) are split out: they
    # must see the UNPRUNED input even on a partial resume, and their
    # synthetic keys route to the reserved bucket, never a key-hash bucket
    dtypes = dict(df.dtypes)
    global_rules = [r for r in catalog.dataset_rules if table_global(r, dtypes)]
    local_catalog = RuleCatalog(
        rules=tuple(r for r in catalog.rules if r not in global_rules), version=catalog.version
    )
    df_full = df
    df = df.withColumn("bucket", bucket_col(key_col, n_buckets))
    if len(pending) < n_buckets:
        # resume: completed buckets pruned BEFORE any rule work — the
        # cache-hit short-circuit of the reference (cache.py:95-102)
        df = df.where(F.col("bucket").isin(pending))

    result = validate(df, local_catalog, key_col=key_col, refs=refs)
    # three consumers follow (violations write, verdicts write, metrics agg);
    # persist the violation set so the expensive pass — the Arrow decode UDF
    # in particular — runs exactly once. Violations are a tiny fraction of
    # input rows, so this fits memory/disk easily at any scale.
    result.violations_ranked = result.violations_ranked.persist()
    global_viol = None
    if global_rules:
        global_catalog = RuleCatalog(rules=tuple(global_rules), version=catalog.version)
        global_viol = validate(df_full, global_catalog, key_col=key_col).violations_ranked.persist()

    # only the touched buckets are overwritten; completed ones stay intact.
    # Partition dirs for pending buckets are DELETED first: dynamic overwrite
    # only replaces partitions present in the new data, so a bucket whose
    # revalidation yields zero violations would otherwise keep stale rows.
    # repartition on the bucket key first: without it every task writes a
    # sliver into every bucket dir (tasks × buckets tiny files + a serial
    # driver-side commit of thousands of files — an anti-pattern that gets
    # quadratically worse with cluster size). One writer per bucket → one
    # file per bucket per run.
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    b = bucket_col("key", n_buckets).alias("bucket")
    out_log = StateLog(output, spark)
    out_log.delete(*(f"{t}/bucket={p}" for t in ("violations", "verdicts") for p in pending))
    (
        result.violations.where(is_record_key("key"))
        .withColumn("bucket", b)
        .repartition(len(pending), "bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(f"{output}/violations")
    )
    # the reserved bucket is recomputed from scratch every run: clear it even
    # when THIS catalog has no global rules, else a rule removed from the
    # catalog would leave the previous run's table-level violations behind
    # and read_violations would union stale rows into fresh results
    out_log.delete(f"violations/bucket={RESERVED_BUCKET}")
    if global_viol is not None:
        (
            global_viol.select(*VIOLATION_FIELDS)
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(f"{output}/violations/bucket={RESERVED_BUCKET}")
        )
    (
        result.verdicts.withColumn("bucket", b)
        .repartition(len(pending), "bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(f"{output}/verdicts")
    )
    # per-bucket metrics from the verdicts JUST WRITTEN: one verdict row per
    # distinct record key with its bucket and violation count, so
    # rows/failed_rows/violations fold out of a tiny parquet scan instead of
    # re-scanning the input keys and re-aggregating the violations. A NULL
    # key is one record: xxhash64(NULL) is the seed 42, so it lands in
    # bucket pmod(42, n_buckets) and counts there. Restricted to pending
    # buckets: on a resume, completed buckets' verdicts survive on disk but
    # were not validated by THIS run.
    metrics_rows = (
        read_verdicts(spark, output)
        .where(F.col("bucket").isin(pending))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum((~F.col("passed")).cast("long")).alias("failed_rows"),
            F.sum("n_violations").alias("violations"),
        )
        .withColumn("passed", F.col("failed_rows") == 0)
        .collect()
    )
    table_violations = int(global_viol.count()) if global_viol is not None else 0
    result.violations_ranked.unpersist()
    if global_viol is not None:
        global_viol.unpersist()
    wall = time.monotonic() - t0
    bucket_metrics = {
        int(r.bucket): {
            "rows": int(r.rows),
            "failed_rows": int(r.failed_rows),
            "violations": int(r.violations),
            "passed": bool(r.passed),
        }
        for r in metrics_rows
    }
    # buckets with zero rows still count as validated
    for bkt in pending:
        bucket_metrics.setdefault(bkt, {"rows": 0, "failed_rows": 0, "violations": 0, "passed": True})
    manifest.record_run(
        summary["run_id"], rule_versions, snapshots, input_paths or [], bucket_metrics, wall
    )
    summary["wall_clock_s"] = round(wall, 3)
    summary["rows"] = sum(m["rows"] for m in bucket_metrics.values())
    summary["violations"] = sum(m["violations"] for m in bucket_metrics.values())
    summary["failed_rows"] = sum(m["failed_rows"] for m in bucket_metrics.values())
    summary["table_violations"] = table_violations
    return summary


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="Rule-catalog validation sweep over a clips table")
    ap.add_argument("--input", required=True, help="clips table path (parquet dir or Iceberg table)")
    ap.add_argument("--rules", required=True, help="rule catalog YAML/JSON")
    ap.add_argument("--output", required=True, help="output dir (violations/, verdicts/, manifest.json)")
    ap.add_argument("--key", default="clip_id")
    ap.add_argument("--ref", action="append", default=[], metavar="NAME=PATH",
                    help="authority table for referential rules (repeatable)")
    ap.add_argument("--n-buckets", type=int, default=16)
    ap.add_argument("--dry-run", action="store_true", help="print plan, write nothing")
    args = ap.parse_args(argv)

    # before JVM launch so Python UDF workers inherit it: heap, not mmap,
    # for clip-sized numpy buffers (see functions/audio.ref_signal notes)
    import os as _os

    _os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", str(128 * 1024 * 1024))

    spark = (
        SparkSession.builder.appName("anzlic_validator_spark.run")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    try:
        refs = {}
        for spec in args.ref:
            name, _, path = spec.partition("=")
            if not path:
                ap.error(f"--ref must be NAME=PATH, got {spec!r}")
            refs[name] = spark.read.parquet(path)
        df = read_clips(spark, args.input)
        summary = run_validation(
            spark,
            df,
            catalog_path=args.rules,
            output=args.output,
            key_col=args.key,
            refs=refs,
            n_buckets=args.n_buckets,
            dry_run=args.dry_run,
            input_paths=[args.input],
        )
        import json as _json

        print(_json.dumps(summary, indent=2, sort_keys=True))
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
