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
    manifest.json checkpoint: per-bucket lineage (snapshot id, rule
                  versions) + metrics (rows, violations), and per run its
                  input paths and wall-clock

A rerun with the same catalog + input skips completed buckets. A changed
catalog revalidates every bucket; a changed input revalidates the buckets
whose fingerprint moved (manifest.input_snapshots_per_bucket: one bucket
for a ``bucket=N``-partitioned input, every bucket otherwise); a changed
authority table revalidates every bucket, as does any pending bucket when
a ``unique`` rule spans columns other than the key.

Output phase: one bucket exchange feeds every sink. The record-key
violations and one marker row per record (``ValidationResult.tagged``)
are tagged with their bucket, shuffled once by it (one writer per bucket,
no more partitions than cores) and persisted (MEMORY_AND_DISK: the cost
is one cached marker row per record besides the violations). The
violations write and the verdict write both read that cache with no
further exchange: violations sorted by (key, rule_order, rule_id) within
each bucket, verdicts folded by (bucket, key) (``engine.fold_verdicts``,
which emits them in key order), so the same input writes the same bytes.
The per-bucket metrics fold from the verdict rows as they are written (an
``Observation``), not from a re-read of ``verdicts/``. The two writes and
the reserved-bucket write run side by side, one thread each, so their
fixed plan, schedule and commit latencies overlap.
"""

from __future__ import annotations

import argparse
import sys
import time
import uuid

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from anzlic_validator_spark.compile import _ident
from anzlic_validator_spark.engine import (
    crosses_buckets,
    fold_verdicts,
    side_by_side,
    table_global,
    validate,
)
from anzlic_validator_spark.manifest import Manifest, input_snapshots_per_bucket, run_snapshot
from anzlic_validator_spark.rules import RuleCatalog, load_catalog
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
    return F.expr(f"CAST(pmod(xxhash64(CAST({_ident(key_col)} AS STRING)), {int(n_buckets)}) AS INT)")


def _overwrite_buckets(df: DataFrame, path: str) -> None:
    """Write ``df`` partitioned by ``bucket``, replacing only the bucket
    dirs it holds rows for: dynamic partition overwrite, set on this write
    alone, so the caller's session keeps its own overwrite mode."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket")
        .parquet(path)
    )


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
    # every file lands in the shared residue folded into each bucket, as do
    # the authority tables the catalog reads
    refs = refs or {}
    ref_names = {str(r.get("ref_table")) for r in catalog.dataset_rules if r.get("ref_table")}
    snapshots = input_snapshots_per_bucket(
        input_paths or [],
        n_buckets,
        spark=spark,
        refs={n: ref for n, ref in refs.items() if n in ref_names},
    )
    manifest = Manifest.load(output, n_buckets=n_buckets)
    pending = manifest.pending_buckets(rule_versions, snapshots)
    if pending and any(crosses_buckets(r, key_col) for r in catalog.rules):
        pending = list(range(n_buckets))
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
    if len(pending) < n_buckets:
        # resume: completed buckets pruned BEFORE any rule work — the
        # cache-hit short-circuit of the reference (cache.py:95-102)
        df = df.where(bucket_col(key_col, n_buckets).isin(pending))

    result = validate(df, local_catalog, key_col=key_col, refs=refs)
    # THE exchange: record-key violations and one marker row per record,
    # tagged with their bucket and shuffled once by it, so each bucket has
    # one writer and one file per run. No more partitions than cores: a
    # write task costs tens of ms of set-up even when it holds no bucket.
    # Both writes read the cache with no further exchange, so the
    # validation plan — the Arrow decode UDF in particular — runs once.
    parts = min(len(pending), spark.sparkContext.defaultParallelism)
    tagged = (
        result.tagged("observed", "expected")
        .withColumn("bucket", bucket_col("key", n_buckets))
        .repartition(parts, "bucket")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    counts = Observation("bucket_metrics")

    def write_violations() -> None:
        # (key, rule_order, rule_id) order within each bucket, the rest of
        # the row as the tie-break: the written bytes repeat run to run
        violations = (
            tagged.where("__v IS NOT NULL")
            .sortWithinPartitions("bucket", "key", "__v", "observed", "expected")
            .selectExpr("key", "__v.rule_id AS rule_id", "observed", "expected", "bucket")
        )
        _overwrite_buckets(violations, f"{output}/violations")

    def write_verdicts() -> None:
        # per-bucket metrics fold from the verdict rows as they are
        # written: one aggregate per metric and pending bucket, in the
        # write's result stage, so a retried task is counted once. A NULL key is
        # one record: xxhash64(NULL) is the seed 42, so it lands in bucket
        # pmod(42, n_buckets) and counts there.
        verdicts = fold_verdicts(tagged, "bucket").observe(
            counts,
            *(
                F.expr(f"array({', '.join(agg.format(b=b) for b in pending)}) AS {name}")
                for name, agg in (
                    ("rows", "count_if(bucket = {b})"),
                    ("failed_rows", "count_if(bucket = {b} AND NOT passed)"),
                    ("violations", "coalesce(sum(IF(bucket = {b}, n_violations, 0)), 0)"),
                )
            ),
        )
        _overwrite_buckets(verdicts, f"{output}/verdicts")

    sinks = [write_violations, write_verdicts]
    table_count = None
    if global_rules:
        global_catalog = RuleCatalog(rules=tuple(global_rules), version=catalog.version)
        table_count = Observation("table_violations")
        # built here, not in its sink: a rule over an unknown column raises
        # before anything is deleted or written
        global_viol = validate(df_full, global_catalog, key_col=key_col).violations
        sinks.append(
            lambda: global_viol.observe(table_count, F.count(F.lit(1)).alias("n"))
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(f"{output}/violations/bucket={RESERVED_BUCKET}")
        )

    # only the touched buckets are overwritten (``_overwrite_buckets``);
    # completed ones stay intact. Partition dirs for pending buckets are
    # DELETED first: dynamic overwrite only replaces partitions present in
    # the new data, so a bucket whose revalidation yields zero violations
    # would otherwise keep stale rows.
    # The reserved bucket is recomputed from scratch every run: it is
    # cleared even when THIS catalog has no global rules, else a rule
    # removed from the catalog would leave the previous run's table-level
    # violations behind for read_violations to union into fresh results.
    StateLog(output, spark).delete(
        *(f"{t}/bucket={p}" for t in ("violations", "verdicts") for p in pending),
        f"violations/bucket={RESERVED_BUCKET}",
    )
    try:
        side_by_side(spark, sinks)
    finally:
        tagged.unpersist()
    wall = time.monotonic() - t0
    got = counts.get
    bucket_metrics = {
        b: {
            "rows": int(got["rows"][i]),
            "failed_rows": int(got["failed_rows"][i]),
            "violations": int(got["violations"][i]),
            "passed": got["failed_rows"][i] == 0,
        }
        for i, b in enumerate(pending)
    }
    manifest.record_run(
        summary["run_id"], rule_versions, snapshots, input_paths or [], bucket_metrics, wall
    )
    summary["wall_clock_s"] = round(wall, 3)
    summary["rows"] = sum(m["rows"] for m in bucket_metrics.values())
    summary["violations"] = sum(m["violations"] for m in bucket_metrics.values())
    summary["failed_rows"] = sum(m["failed_rows"] for m in bucket_metrics.values())
    summary["table_violations"] = int(table_count.get["n"]) if table_count else 0
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
