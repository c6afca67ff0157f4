import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", str(128 * 1024 * 1024))
    s = (
        SparkSession.builder.master("local[4]")
        .appName("anzlic_validator_spark_tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def run_buckets(spark, tmp_path):
    """``run(df, catalog, key_col, n_buckets)``: one ``run_validation`` sweep
    of ``df`` under the catalog dict, returning the per-bucket metrics it
    records in its manifest ({bucket: {rows, failed_rows, violations,
    passed, ...}})."""
    import json
    import uuid

    from anzlic_validator_spark.run import run_validation

    def run(df, catalog, key_col, n_buckets):
        d = tmp_path / uuid.uuid4().hex
        d.mkdir()
        (d / "catalog.json").write_text(json.dumps(catalog))
        run_validation(
            spark, df, catalog_path=str(d / "catalog.json"), output=str(d / "out"),
            key_col=key_col, n_buckets=n_buckets,
        )
        doc = json.loads((d / "out" / "manifest.json").read_text())
        return {int(b): e for b, e in doc["buckets"].items()}

    return run
