"""Fixed logical schemas.

The reference pins a 68-XPath logical schema over schema-flexible XML
(linz_metadata.py:192-201); here the input table shape is pinned and
violations/verdicts get fixed schemas so goldens are byte-comparable.
"""

from pyspark.sql import types as T

# Input table: audio clip + transcript pairs.
CLIPS_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType(), True),
        T.StructField("bytes", T.BinaryType(), True),
        T.StructField("sr_hz", T.IntegerType(), True),
        T.StructField("dur_ms", T.IntegerType(), True),
        T.StructField("codec", T.StringType(), True),
        T.StructField("transcript", T.StringType(), True),
    ]
)

# Referential target (analog of the LDS-API authority the reference queries
# per record, scripts/errorChecker.py:462-532).
TRANSCRIPT_INDEX_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType(), True),
        T.StructField("transcript_ref", T.StringType(), True),
        T.StructField("expected_codec", T.StringType(), True),
    ]
)

# One row per violated rule per record. observed/expected carry the same
# content the reference's exception messages carry
# (scripts/errorChecker.py:385-388,396-399,402-408).
VIOLATION_FIELDS = ["key", "rule_id", "observed", "expected"]
VIOLATION_SCHEMA = T.StructType(
    [T.StructField(f, T.StringType(), True) for f in VIOLATION_FIELDS]
)

# struct type used inside the row-rule violation arrays (no key — the key
# column rides alongside until the explode).
VIOLATION_STRUCT = T.StructType(
    [
        T.StructField("rule_id", T.StringType(), True),
        T.StructField("observed", T.StringType(), True),
        T.StructField("expected", T.StringType(), True),
        T.StructField("rule_order", T.IntegerType(), True),
    ]
)

# Per-record verdict: pass/fail + first violation in catalog order
# (reference is fail-fast with fixed rule order, errorChecker.py:573-654 —
# the headline verdict is the min-rule-order violation).
VERDICT_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType(), True),
        T.StructField("passed", T.BooleanType(), False),
        T.StructField("first_rule_id", T.StringType(), True),
        T.StructField("n_violations", T.LongType(), False),
    ]
)
