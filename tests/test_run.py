"""The output phase of ``run_validation``: one bucket exchange, its sinks
run side by side, the per-bucket metrics they record, and output bytes
that repeat run to run."""

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from anzlic_validator_spark.run import read_verdicts, run_validation

RULES = [
    {"id": "name.exists", "type": "exists", "column": "name"},
    {"id": "k.unique", "type": "unique", "columns": ["k"]},
    {"id": "kind.in_set", "type": "in_set", "column": "kind", "values": ["a", "b"]},
    # table-global: its one violation goes to the reserved bucket
    {"id": "kind.all_of", "type": "all_of", "column": "kind", "values": ["a", "b", "c"]},
]


@pytest.fixture(scope="module")
def inp(spark, tmp_path_factory):
    """60 records over 6 files: a NULL key, a key held by two records, and
    a failing record in most buckets."""
    rows = [(f"k{i}", None if i % 7 == 0 else f"n{i}", "ab"[i % 2] if i % 5 else "z")
            for i in range(57)]
    rows += [(None, None, "a"), ("k3", "n3b", "b"), ("k8", "n8", "z")]
    path = str(tmp_path_factory.mktemp("run") / "inp")
    spark.createDataFrame(rows, "k string, name string, kind string").repartition(6).write.parquet(
        path
    )
    return path


def _run(spark, inp, out, tmp_path, rules=RULES):
    catalog = tmp_path / "rules.json"
    catalog.write_text(json.dumps({"version": 1, "rules": rules}))
    return run_validation(
        spark, spark.read.parquet(inp), catalog_path=str(catalog), output=str(out),
        key_col="k", n_buckets=4, input_paths=[inp],
    )


def _manifest(out):
    with open(os.path.join(out, "manifest.json"), encoding="utf-8") as fh:
        return json.load(fh)


def _recount(spark, out):
    rows = (
        read_verdicts(spark, str(out))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum((~F.col("passed")).cast("long")).alias("failed_rows"),
            F.sum("n_violations").alias("violations"),
        )
        .collect()
    )
    return {str(r.bucket): (r.rows, r.failed_rows, r.violations) for r in rows}


def test_manifest_metrics_equal_a_recount_of_the_verdicts(spark, inp, tmp_path):
    """Per-bucket rows, failed_rows and violations, as folded while the
    verdicts are written, equal a recount of the verdict files: after a
    full run, and after a partial resume that rewrites two buckets."""
    out = tmp_path / "out"
    s = _run(spark, inp, out, tmp_path)
    buckets = _manifest(out)["buckets"]
    recount = _recount(spark, out)
    assert {b: (e["rows"], e["failed_rows"], e["violations"]) for b, e in buckets.items()} == recount
    # 58 distinct keys: the NULL key is one, two keys are held twice
    assert s["rows"] == 58 and s["table_violations"] == 1
    assert all(e["passed"] == (e["failed_rows"] == 0) for e in buckets.values())
    # the input paths are recorded once, on the run entry
    assert _manifest(out)["runs"][0]["files"] == [inp]
    assert not any("files" in e for e in buckets.values())

    doc = _manifest(out)
    for b in ("1", "2"):
        del doc["buckets"][b]
    (out / "manifest.json").write_text(json.dumps(doc))
    s2 = _run(spark, inp, out, tmp_path)
    assert s2["pending_buckets"] == [1, 2]
    buckets = _manifest(out)["buckets"]
    assert {b: (e["rows"], e["failed_rows"], e["violations"]) for b, e in buckets.items()} == recount
    assert s2["rows"] == sum(recount[b][0] for b in ("1", "2"))
    assert s2["violations"] == sum(recount[b][2] for b in ("1", "2"))


def test_every_job_of_a_run_carries_the_callers_job_group(spark, inp, tmp_path):
    """The sinks run on their own threads but inherit the caller's job
    group, so an event log or the UI attributes every job of the run."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def marker(group):
        sc.setJobGroup(group, group)
        spark.range(1).collect()
        return max(tracker.getJobIdsForGroup(group))

    first = marker("before-run")
    sc.setJobGroup("g", "run_validation")
    try:
        _run(spark, inp, tmp_path / "out", tmp_path)
    finally:
        last = marker("after-run")
        sc.setJobGroup("tests", "tests")
    run_jobs = set(range(first + 1, last))
    assert run_jobs and run_jobs == set(tracker.getJobIdsForGroup("g"))


def test_a_failing_sink_fails_the_run_and_records_nothing(spark, inp, tmp_path):
    out = tmp_path / "out"
    _run(spark, inp, out, tmp_path)
    runs = _manifest(out)["runs"]
    # a plain file where the verdicts dir should be: that sink cannot write
    shutil.rmtree(out / "verdicts")
    (out / "verdicts").write_text("not a directory")
    with pytest.raises(Exception):
        _run(spark, inp, out, tmp_path, rules=RULES[:1])
    assert _manifest(out)["runs"] == runs


def test_two_runs_write_byte_identical_files(spark, inp, tmp_path):
    """Rows are written in key order (then rule order) within each bucket,
    so the same input writes the same bytes whatever order the shuffle
    delivers rows in."""
    import pyarrow.parquet as pq

    def files(out):
        got = {}
        for base, _, names in os.walk(out):
            for name in names:
                if name.endswith(".parquet"):
                    path = os.path.join(base, name)
                    keys = pq.read_table(path, columns=["key"]).column("key").to_pylist()
                    if not base.endswith("bucket=-1"):
                        assert keys == sorted(keys, key=lambda k: (k is not None, k or ""))
                    with open(path, "rb") as fh:
                        got.setdefault(os.path.relpath(base, out), []).append(fh.read())
        return got

    _run(spark, inp, tmp_path / "a", tmp_path)
    _run(spark, inp, tmp_path / "b", tmp_path)
    a = files(tmp_path / "a")
    assert len(a) > 4 and a == files(tmp_path / "b")


def test_the_callers_session_keeps_its_partition_overwrite_mode(spark, inp, tmp_path):
    """Dynamic partition overwrite is set on each bucket or epoch write,
    not on the session: after a run and after a stream epoch, partitioned
    writes the caller makes still overwrite statically."""
    from anzlic_validator_spark.rules import parse_catalog
    from anzlic_validator_spark.streaming.incremental import validate_stream
    from anzlic_validator_spark.synth import clips

    key = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.set(key, "STATIC")
    try:
        _run(spark, inp, tmp_path / "out", tmp_path)
        assert spark.conf.get(key) == "STATIC"

        stream_in = str(tmp_path / "stream_in")
        clips(spark, 20, seed=3, with_audio=False, num_partitions=1).write.parquet(stream_in)
        q = validate_stream(
            spark, stream_in,
            parse_catalog({"rules": [{"id": "clip_id.unique", "type": "unique",
                                      "columns": ["clip_id"]}]}),
            str(tmp_path / "stream_out"), str(tmp_path / "ckpt"),
        )
        q.awaitTermination(300)
        assert q.exception() is None
        assert spark.conf.get(key) == "STATIC"
    finally:
        spark.conf.unset(key)
