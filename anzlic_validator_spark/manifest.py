"""Checkpoint manifest: resumable validation runs.

A run records, per hash bucket, the rule-catalog hash and the input
fingerprint it validated under, plus the bucket's metrics, and appends a
run entry to the history. The next run validates only the pending buckets:
those never completed, or completed under another catalog or input. This
is the reference's cache skip (scripts/cache.py:95-102) and its
fetch-history merge (scripts/resolve.py:150-187) over buckets. A dry run
plans and writes nothing. The manifest is one JSON document, replaced
atomically through ``state_log``, so a crash leaves the previous version.

The unit of resume is the deterministic hash bucket of the key
(pmod(xxhash64(key), n_buckets)). It is stable across cluster sizes and
physical layouts, so a job restarted at 4N executors skips exactly the
buckets the N-executor run completed.

Scope: rules whose groups are functions of the key (uniqueness: duplicate
keys hash to the same bucket) resume safely. A rule grouping by a non-key
column (all_of with group_by) can have groups spanning buckets; for
catalogs containing such rules run with n_buckets=1 or accept per-bucket
group semantics.
"""

from __future__ import annotations

import hashlib
import json
import re
import time
from dataclasses import dataclass, field
from typing import Any

from anzlic_validator_spark.state_log import StateLog, file_stats

MANIFEST_NAME = "manifest.json"


def _fingerprint(entries: list) -> str:
    return hashlib.sha256(json.dumps(entries).encode()).hexdigest()[:16]


def input_snapshot(paths: list[str]) -> str:
    """Global input fingerprint. Iceberg table dirs contribute their exact
    current snapshot id (sources/iceberg_meta.py, readable without the
    runtime); other paths, plain or URI, contribute the (path, length,
    mtime) of their files, listed through the active Spark session's
    Hadoop FileSystem."""
    from anzlic_validator_spark.sources.iceberg_meta import iceberg_snapshot

    entries: list = []
    for p in sorted(paths):
        snap = iceberg_snapshot(p)
        if snap is not None:
            # schema_id/spec_id included so metadata-only commits (schema
            # evolution, partition-spec change) invalidate too
            entries.append((
                "iceberg", p, snap["snapshot_id"], snap["sequence_number"],
                snap["schema_id"], snap["spec_id"],
            ))
        else:
            entries.extend(file_stats(p))
    return _fingerprint(entries)


_BUCKET_DIR = re.compile(r"(?:^|/)bucket=(-?\d+)(?:/|$)")


def input_snapshots_per_bucket(
    paths: list[str], n_buckets: int, spark=None
) -> dict[int, str]:
    """Per-bucket snapshot fingerprints: when the input is
    bucket-partitioned (``bucket=N`` dirs, or an Iceberg table
    identity-partitioned by an integer ``bucket`` column — both meaning the
    engine's OWN bucket function; Iceberg's ``bucket(n, key)`` murmur3
    transform does NOT qualify, see iceberg_meta), a one-file touch
    revalidates exactly the affected bucket instead of everything.

    Iceberg inputs take the exact-metadata ladder of
    sources/iceberg_meta.py: with the runtime present (pass ``spark``),
    per-partition fingerprints from the ``#files`` metadata table — a
    single-partition append revalidates exactly one bucket; without it, the
    table-level snapshot id folds into every bucket's fingerprint (exact
    skip-if-no-change, global granularity). File-stat walking applies only
    to plain directories.

    CONTRACT: the input's bucket values must come from the SAME key/bucket
    function the run uses (pmod(xxhash64(cast(key as string)), n_buckets)) —
    file layout alone cannot prove that, so callers opt in by partitioning
    the input accordingly. Files outside any bucket dir (or bucket ids
    outside range(n_buckets)) contribute to a shared residue fingerprint
    folded into EVERY bucket, so any unpartitioned change still invalidates
    all buckets — the safe fallback equals the global snapshot behavior.
    """
    from anzlic_validator_spark.sources.iceberg_meta import (
        iceberg_partition_fingerprints,
        iceberg_snapshot,
    )

    per_bucket: dict[int, list] = {b: [] for b in range(n_buckets)}
    residue: list = []
    for p in sorted(paths):
        snap = iceberg_snapshot(p)
        if snap is not None:
            pf = iceberg_partition_fingerprints(spark, p, n_buckets)
            if pf is not None:
                # schema/spec ids fold into EVERY bucket (metadata-only
                # commits must invalidate) but, unlike the snapshot id,
                # stay fixed across plain data appends — preserving the
                # single-bucket revalidation a partition append earns
                for b in range(n_buckets):
                    per_bucket[b].append(
                        ("iceberg-part", p, pf[b], snap["schema_id"], snap["spec_id"])
                    )
            else:
                residue.append((
                    "iceberg", p, snap["snapshot_id"], snap["sequence_number"],
                    snap["schema_id"], snap["spec_id"],
                ))
            continue
        for fp, size, mtime in file_stats(p, spark):
            m = _BUCKET_DIR.search(fp)
            b = int(m.group(1)) if m else None
            if b is not None and 0 <= b < n_buckets:
                per_bucket[b].append((fp, size, mtime))
            else:
                residue.append((fp, size, mtime))
    return {b: _fingerprint([per_bucket[b], residue]) for b in range(n_buckets)}


@dataclass
class Manifest:
    log: StateLog
    n_buckets: int = 16
    doc: dict[str, Any] = field(default_factory=dict)

    @classmethod
    def load(cls, out_dir: str, n_buckets: int = 16) -> "Manifest":
        log = StateLog(out_dir)
        doc = log.read_json(MANIFEST_NAME) or {"version": 1, "buckets": {}, "runs": []}
        if doc.get("n_buckets") not in (None, n_buckets):
            raise ValueError(
                f"manifest at {log.path(MANIFEST_NAME)} was built with "
                f"n_buckets={doc.get('n_buckets')}, got {n_buckets} — bucket ids would not line up"
            )
        doc["n_buckets"] = n_buckets
        return cls(log=log, n_buckets=n_buckets, doc=doc)

    def pending_buckets(
        self, rule_versions: str, snapshot_id: str | dict[int, str]
    ) -> list[int]:
        """Buckets needing (re)validation: not complete, or completed under a
        different rule catalog / input snapshot (I3 skip-if-no-change).
        ``snapshot_id`` may be per-bucket (input_snapshots_per_bucket) —
        then each bucket compares against ITS OWN fingerprint."""
        def snap_for(b: int) -> str:
            return snapshot_id.get(b, "") if isinstance(snapshot_id, dict) else snapshot_id

        done = {
            int(b)
            for b, e in self.doc["buckets"].items()
            if e.get("status") == "complete"
            and e.get("rule_versions") == rule_versions
            and e.get("snapshot_id") == snap_for(int(b))
        }
        return [b for b in range(self.n_buckets) if b not in done]

    def record_run(
        self,
        run_id: str,
        rule_versions: str,
        snapshot_id: str | dict[int, str],
        files: list[str],
        bucket_metrics: dict[int, dict[str, Any]],
        wall_clock_s: float,
    ) -> None:
        for b, m in bucket_metrics.items():
            snap = snapshot_id.get(b, "") if isinstance(snapshot_id, dict) else snapshot_id
            self.doc["buckets"][str(b)] = {
                "status": "complete",
                "rule_versions": rule_versions,
                "snapshot_id": snap,
                "files": files,
                "rows": m.get("rows", 0),
                "failed_rows": m.get("failed_rows", 0),
                "violations": m.get("violations", 0),
                "passed": m.get("passed", True),
                "run_id": run_id,
                "completed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            }
        self.doc["runs"].append(
            {
                "run_id": run_id,
                "rule_versions": rule_versions,
                "snapshot_id": (
                    _fingerprint(sorted(snapshot_id.items()))
                    if isinstance(snapshot_id, dict)
                    else snapshot_id
                ),
                "buckets": sorted(bucket_metrics),
                "rows": int(sum(m.get("rows", 0) for m in bucket_metrics.values())),
                "violations": int(sum(m.get("violations", 0) for m in bucket_metrics.values())),
                "wall_clock_s": round(wall_clock_s, 3),
            }
        )
        self.log.write_json(MANIFEST_NAME, self.doc)
