"""Uniqueness / cardinality rule (R10/R19).

Reference: exactly-one-occurrence cardinality check raising
'Multiple pointOfContact fields' (scripts/errorChecker.py:379-380,400-401,
checkAddress :411-432) and the duplicate-field sweep
(testing-dublin-core.py:72-83).

Scale design: ONE map-side-combined hash aggregate. count() is algebraic, so
Spark's partial aggregation does the skew treatment for free — each map
partition collapses to ONE row per key BEFORE the exchange, so a hot key
holding a large share of a 10^12-row table ships O(#map partitions) partial
rows, never O(occurrences). An explicit salt phase (groupBy(key, salt) →
groupBy(key)) would buy the same guarantee at the cost of a second full
exchange; salting is for joins and non-combinable aggregates. AQE
(`spark.sql.adaptive.enabled`) still splits any residual skewed shuffle
partition at runtime. The dup-key set is then joined back (Catalyst/AQE
picks broadcast when the dup set is small — the common case) to emit one
violation row per offending record, matching the reference's per-record
exception granularity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from anzlic_validator_spark.compile import _ident, _lit
from anzlic_validator_spark.rules import Rule


def duplicate_keys(df: DataFrame, cols: list[str]) -> DataFrame:
    """Keys occurring more than once, with their total count.

    Returns DataFrame[cols..., n: long] — only keys with n > 1.
    """
    return df.select(*cols).groupBy(*cols).agg(F.expr("count(1) AS n")).where("n > 1")


def tuple_keys(df: DataFrame, rule: Rule, key_col: str) -> DataFrame:
    """(key, k): each row's key as a string and the tuple key of the rule's
    columns. A tuple holding a NULL drops, as the in-batch join never pairs
    it (concat_ws skips NULLs, so ('x', NULL) and (NULL, 'x') would collide)."""
    cast = [f"CAST({_ident(c)} AS STRING)" for c in rule.get("columns")]
    nulls = " OR ".join(f"{c} IS NULL" for c in cast)
    k = f"CASE WHEN {nulls} THEN NULL ELSE concat_ws({_lit(chr(0x1F))}, {', '.join(cast)}) END"
    return df.selectExpr(f"CAST({_ident(key_col)} AS STRING) AS key", f"{k} AS k").where(
        "k IS NOT NULL"
    )


def violation_cols(rule: Rule, key: str, observed: str) -> list[str]:
    """The select list of every uniqueness violation row (key, rule_id,
    observed, expected, rule_order), given SQL for its key and observed."""
    cols = ",".join(str(c) for c in rule.get("columns"))
    return [
        f"{key} AS key",
        f"{_lit(f'{rule.rule_id}.incorrect')} AS rule_id",
        f"{observed} AS observed",
        f"{_lit(f'unique ({cols})')} AS expected",
        f"{int(rule.order)} AS rule_order",
    ]


def unique_violations(df: DataFrame, rule: Rule, key_col: str) -> DataFrame:
    """Per-record violation rows for duplicated keys.

    Output schema: key, rule_id, observed, expected, rule_order.
    observed carries the duplicate count (the reference's message names the
    multiplicity class: 'Multiple <field> fields').
    """
    cols = [str(c) for c in rule.get("columns")]
    dupes = duplicate_keys(df, cols)
    joined = df.select(key_col, *[c for c in cols if c != key_col]).join(dupes, on=cols, how="inner")
    key = f"CAST({_ident(key_col)} AS STRING)"
    return joined.selectExpr(*violation_cols(rule, key, "concat('count=', CAST(n AS STRING))"))
