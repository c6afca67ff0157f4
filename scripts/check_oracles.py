"""Local replica of the driver's DuckDB cross-check.

Runs every queries() entry at sf0.01 (or $SPARK_GRAFT_SF_DIR), runs the
matching oracle_sql() in DuckDB on the same parquet, and compares row count,
column names and an order-insensitive value multiset. Rows-only queries are
just executed and counted.

Usage: python scripts/check_oracles.py [name|group ...]

An unknown name or group runs nothing, lists the valid ones and exits 2.

A group name stands for its queries: ``capped`` for the queries behind a
hot-bucket cap, ``state`` for the state-dependent oracles, ``validate`` for
the queries that run through ``validate()``.
"""

from __future__ import annotations

import os
import sys

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
GROUPS = {
    "capped": (
        "dedup_minhash dedup_simhash dedup_winnow dedup_clusters dedup_keep "
        "dedup_embedding audio_neardup"
    ).split(),
    "state": (
        "stream_unique resume_buckets dedup_incremental audio_dedup_incremental "
        "stream_dedup audio_neardup_incremental embedding_dedup_incremental"
    ).split(),
    "validate": (
        "lineitem_rules lineitem_verdicts unique_custkey ref_missing ref_mapped "
        "all_of_status events_rules conditional_any_of audio_violations "
        "audio_verdict_summary stream_unique resume_buckets"
    ).split(),
}


def norm(v):
    if v is None:
        return ""
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        return f"{v:.9g}"
    return str(v)


def main(names: list[str]) -> int:
    from pyspark.sql import SparkSession

    import __spark_entry__ as e

    qs = e.queries()
    unknown = [n for n in names if n not in GROUPS and n not in qs]
    if unknown:
        print(f"unknown names {unknown}", file=sys.stderr)
        print(f"groups: {' '.join(sorted(GROUPS))}", file=sys.stderr)
        print(f"names: {' '.join(sorted(qs))}", file=sys.stderr)
        return 2
    names = [q for n in names for q in GROUPS.get(n, [n])]

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "16g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    oracles = e.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if names and name not in names:
            continue
        try:
            sdf = fn(spark, SF_DIR)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {exc}")
            failures += 1
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only, {len(srows)} rows, cols={scols}")
            continue
        try:
            orows = con.execute(oracles[name]).fetchall()
            ocols = [d[0] for d in con.description]
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {exc}")
            failures += 1
            continue
        # driver semantics: sort columns by name, then order-insensitive rows
        s_idx = sorted(range(len(scols)), key=lambda i: scols[i])
        o_idx = sorted(range(len(ocols)), key=lambda i: ocols[i])
        sset = sorted(tuple(norm(r[i]) for i in s_idx) for r in srows)
        oset = sorted(tuple(norm(r[i]) for i in o_idx) for r in orows)
        if sorted(scols) != sorted(ocols):
            print(f"FAIL {name}: columns {sorted(scols)} != {sorted(ocols)}")
            failures += 1
        elif len(sset) != len(oset):
            print(f"FAIL {name}: rowcount {len(sset)} != {len(oset)}")
            print(f"      spark sample: {sset[:2]}")
            print(f"      duck  sample: {oset[:2]}")
            failures += 1
        elif sset != oset:
            diff_s = [r for r in sset if r not in set(map(tuple, oset))][:3]
            diff_o = [r for r in oset if r not in set(map(tuple, sset))][:3]
            print(f"FAIL {name}: values differ ({len(sset)} rows)")
            print(f"      spark-only: {diff_s}")
            print(f"      duck-only : {diff_o}")
            failures += 1
        else:
            print(f"PASS {name}: {len(sset)} rows")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
