"""Distribution-drift rule — KS distance against a stored baseline profile.

Reference analog: the expected-value configs + per-field unique-value
histograms the sweep scripts maintain (Metadata-LDS/Contact/
contactDetailsUniqueList.txt, License-Resource/Unique-All.txt) — the catalog
owner eyeballs drift between sweeps; here it's a rule (north_star: "KLL/
t-digest for quantile and distribution-drift checks via KS-distance against
a baseline profile").

Scale design: the baseline is a quantile grid (probs p_i, quantiles q_i)
produced by ``profile.quantile_profile``.  The current pass computes the
empirical CDF at the baseline grid points in ONE map-side-combined aggregate
(`avg(col <= q_i)` per grid point — no sort, no shuffle of raw data, one
reduce of a few doubles), then KS ≈ max_i |F_cur(q_i) - p_i|.  This is exact
at the grid points and needs O(grid) state regardless of table size —
equivalent information to merging KLL sketches but expressible with
built-ins.  The whole thing stays LAZY: the violation is a 1-row DataFrame
filtered on the KS expression, no driver collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from anzlic_validator_spark.errors import InvalidConfigException
from anzlic_validator_spark.rules import Rule
from anzlic_validator_spark.state_log import read_json


def ks_distance_df(df: DataFrame, col: str, probs: list[float], quantiles: list[float]) -> DataFrame:
    """1-row DataFrame[ks: double] — max CDF gap at the baseline grid."""
    if len(probs) != len(quantiles) or not probs:
        raise InvalidConfigException("baseline probs/quantiles must be equal-length, non-empty")
    c = F.col(col).cast("double")
    aggs = [
        F.avg((c <= F.lit(float(q))).cast("double")).alias(f"__f{i}")
        for i, q in enumerate(quantiles)
    ]
    one = df.agg(*aggs)
    gaps = [F.abs(F.col(f"__f{i}") - F.lit(float(p))) for i, p in enumerate(probs)]
    ks = gaps[0] if len(gaps) == 1 else F.greatest(*gaps)
    return one.select(ks.alias("ks"))


def _load_baseline(rule: Rule, spark: SparkSession) -> tuple[list[float], list[float]]:
    """The rule's {probs, quantiles}: inline, or read from a path or URI."""
    baseline = rule.get("baseline")
    if isinstance(baseline, str):
        path, baseline = baseline, read_json(baseline, spark)
        if baseline is None:
            raise FileNotFoundError(f"rule {rule.rule_id}: baseline {path} does not exist")
        col = str(rule.get("column"))
        if "columns" in baseline:  # full profile file → pick our column
            baseline = baseline["columns"].get(col)
            if baseline is None:
                raise InvalidConfigException(f"rule {rule.rule_id}: no baseline for column {col}")
    if not isinstance(baseline, dict) or "probs" not in baseline or "quantiles" not in baseline:
        raise InvalidConfigException(
            f"rule {rule.rule_id}: 'baseline' must be {{probs, quantiles}} or a profile path"
        )
    return [float(p) for p in baseline["probs"]], [float(q) for q in baseline["quantiles"]]


def drift_violations(df: DataFrame, rule: Rule, key_col: str) -> DataFrame:
    col = str(rule.get("column"))
    max_ks = float(rule.get("max_ks", 0.1))
    probs, quantiles = _load_baseline(rule, df.sparkSession)
    ks_df = ks_distance_df(df, col, probs, quantiles)
    return ks_df.where(F.col("ks") > max_ks).select(
        F.lit("__table__").alias("key"),
        F.lit(f"{rule.rule_id}.incorrect").alias("rule_id"),
        F.concat(F.lit("ks="), F.round(F.col("ks"), 6).cast("string")).alias("observed"),
        F.lit(f"ks<={max_ks} vs baseline({col})").alias("expected"),
        F.lit(rule.order).cast("int").alias("rule_order"),
    )
