"""Iceberg table-metadata layer — snapshot-exact resume without the runtime.

The Iceberg table spec keeps its metadata as plain JSON
(``{table}/metadata/vN.metadata.json`` + ``version-hint.text`` in the
Hadoop-catalog layout), so the CURRENT SNAPSHOT ID is readable with no
Iceberg jars at all. That id is an exact, engine-independent change signal:
any commit bumps it, no commit leaves it unchanged — strictly stronger than
the file-stat (size, mtime) fingerprints the manifest falls back to for
plain parquet dirs (mtimes suffer clock skew and same-second rewrites).
The metadata is listed and read through Hadoop ``FileSystem``
(``state_log``), so a table may be a plain path or any Hadoop URI.

Granularity ladder (manifest.py integrates all three):
1. runtime present → per-partition fingerprints from the ``#files``
   metadata table: a single-partition append revalidates exactly one bucket;
2. metadata JSON only (this module, no jars) → table-level snapshot id:
   exact skip-if-no-change, all-bucket revalidation on any commit;
3. plain parquet dir → file-stat walk (``state_log.file_stats``).

Reference analog: the fetch-history pickle that makes resume exact
(scripts/resolve.py:150-187).
"""

from __future__ import annotations

import json
import logging
import re

from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession

from anzlic_validator_spark.state_log import _filesystem, _read_bytes, _session, read_json

log = logging.getLogger(__name__)

_META_FILE = re.compile(r"^(?:v(\d+))?.*\.metadata\.json$")


def latest_metadata_file(path: str, spark: SparkSession | None = None) -> str | None:
    """The current ``*.metadata.json`` of an Iceberg table dir, else None.

    Prefers ``version-hint.text`` (Hadoop catalog); falls back to the
    highest version prefix, then newest mtime (UUID-named metadata from
    other catalogs).
    """
    spark = _session(spark)
    d = f"{path.rstrip('/')}/metadata"
    fs, hpath = _filesystem(spark, d)
    if not fs.exists(hpath(d)):
        return None
    hint = _read_bytes(spark, fs, hpath(f"{d}/version-hint.text"))
    if hint is not None:
        try:
            cand = f"{d}/v{int(hint.decode('utf-8').strip())}.metadata.json"
            if fs.exists(hpath(cand)):
                return cand
        except ValueError:
            pass
    best: tuple[int, int, str] | None = None
    for st in fs.listStatus(hpath(d)):
        name = st.getPath().getName()
        m = _META_FILE.match(name)
        if not m:
            continue
        ver = int(m.group(1)) if m.group(1) else -1
        key = (ver, st.getModificationTime(), f"{d}/{name}")
        if best is None or key > best:
            best = key
    return best[2] if best else None


def iceberg_snapshot(path: str, spark: SparkSession | None = None) -> dict | None:
    """{"snapshot_id", "sequence_number", "schema_id", "spec_id",
    "metadata_file"} for an Iceberg table dir, None if ``path`` is not one
    (or metadata is unreadable — callers then fall back to file-stat
    fingerprints). schema_id/spec_id are part of the change signal so a
    METADATA-ONLY commit (column rename/type change, new partition spec)
    still invalidates — snapshot id alone would miss it — while plain data
    appends leave them untouched (preserving per-partition granularity)."""
    mf = latest_metadata_file(path, spark)
    if mf is None:
        return None
    try:
        doc = read_json(mf, spark)
    except (Py4JJavaError, json.JSONDecodeError):
        return None
    snap_id = (doc or {}).get("current-snapshot-id")
    if snap_id in (None, -1):
        return None
    return {
        "snapshot_id": int(snap_id),
        "sequence_number": int(doc.get("last-sequence-number", 0)),
        "schema_id": int(doc.get("current-schema-id", 0)),
        "spec_id": int(doc.get("default-spec-id", 0)),
        "metadata_file": mf.rsplit("/", 1)[-1],
    }


def _iceberg_runtime(spark) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001 — classpath probe
            "org.apache.iceberg.spark.source.IcebergSource"
        )
        return True
    except Exception:
        return False


def iceberg_partition_fingerprints(spark, path: str, n_buckets: int) -> dict[int, str] | None:
    """Per-bucket fingerprints from the Iceberg ``#files`` metadata table —
    requires the runtime (the manifest Avro layer is not JSON). Returns None
    when the runtime is absent or the table does not qualify; callers then
    degrade to the table-level snapshot id.

    QUALIFYING TABLES: identity-partitioned by an integer column literally
    named ``bucket`` whose values come from the SAME key/bucket function the
    manifest uses (the engine's own layout — see
    manifest.input_snapshots_per_bucket's contract). Iceberg's
    ``bucket(n, key)`` TRANSFORM does NOT qualify and is deliberately not
    matched: its murmur3 partition numbers have no relation to the
    manifest's xxhash64 buckets, so mapping them 1:1 would revalidate the
    WRONG bucket and silently skip the rows an append actually touched.

    With a qualifying table, appending data files to ONE partition changes
    exactly that bucket's fingerprint: the restarted run revalidates one
    bucket. Fingerprints aggregate EXECUTOR-side (order-insensitive
    xxhash64 sum + count per partition, ≤ one output row per partition) —
    nothing file-per-row is ever collected to the driver, so the path holds
    at millions of data files.
    """
    if spark is None or not _iceberg_runtime(spark):
        return None
    try:
        files = spark.read.format("iceberg").load(f"{path}#files")
        return _bucket_fingerprints_from_files(files, n_buckets)
    except Exception as exc:
        # degradation must be diagnosable, not silent: the run still works,
        # at all-bucket granularity
        log.warning(
            "iceberg #files read failed for %s (%s: %s) — falling back to "
            "table-level snapshot fingerprints", path, type(exc).__name__, exc
        )
        return None


def _bucket_fingerprints_from_files(files, n_buckets: int) -> dict[int, str] | None:
    """The ``#files``-branch aggregation, factored off the runtime read so
    it is testable against a synthetic metadata-shaped DataFrame in images
    without Iceberg jars: schema qualification (identity
    ``bucket`` partition field), executor-side order-insensitive per-bucket
    fingerprints, and the residue rule — files in out-of-range/NULL buckets
    poison EVERY bucket's fingerprint, because such files are outside the
    layout contract and any of them may hold any key."""
    from pyspark.sql import functions as F

    cols = {f.name for f in files.schema.fields}
    if "partition" not in cols:
        return None
    part_fields = {f.name for f in files.schema["partition"].dataType.fields}
    if "bucket" not in part_fields:
        return None
    rows = (
        files.selectExpr(
            "partition.bucket AS bucket",
            "xxhash64(file_path, file_size_in_bytes, record_count) AS h",
        )
        # sum as decimal(38,0): a LONG sum of 64-bit hashes overflows (and
        # under ANSI mode ABORTS) with as few as two files; decimal keeps
        # the order-insensitive sum exact to ~10^19 files
        .groupBy("bucket")
        .agg(
            F.sum(F.col("h").cast("decimal(38,0)")).alias("hsum"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    )
    per: dict[int, tuple] = {}
    residue: list = []
    for r in rows:
        b = r.bucket
        ent = (int(r.hsum), int(r.n))
        if b is not None and 0 <= int(b) < n_buckets:
            per[int(b)] = ent
        else:
            residue.append((None if b is None else int(b), *ent))
    residue.sort(key=str)
    return {
        b: json.dumps([per.get(b, (0, 0)), residue]) for b in range(n_buckets)
    }
