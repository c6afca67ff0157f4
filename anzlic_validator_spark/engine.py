"""Engine orchestration: DataFrame + rule catalog → violations + verdicts.

Lifecycle mirrors the reference's check() sequence (linz_metadata.py:1956-2101
and scripts/validate.py:419-458 process loop): rule-catalog pass → schema/
decode pass → conditional pass → verdict per record, except everything is ONE
declarative Spark plan:

    row rules    -> one projection built from SQL text (compile.py):
                    array(rule structs) → filter nulls → explode
                    (whole-stage codegen, zero shuffle); the Arrow decode
                    UDF rides the same scan
    dataset rules-> uniqueness (one map-side-combined count), referential
                    (one pruned join per authority and join key, its
                    strategy left to the planner), all_of (grouped
                    collect_set), drift (grid aggregate)
    violations   = UNION ALL of the above
    verdicts     = records UNION violations → ONE groupBy(key) taking the
                   min (rule_order, rule_id) (the reference is fail-fast
                   with a fixed dispatch order, errorChecker.py:573-654 — we
                   evaluate everything and rank afterwards)

Violations never fail the job (the reference catches per-record exceptions
and keeps sweeping, scripts/validate.py:451-458).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from anzlic_validator_spark.compile import _ident, _lit, compile_row_rules, explode_violations
from anzlic_validator_spark.errors import InvalidConfigException
from anzlic_validator_spark.rules import Rule, RuleCatalog
from anzlic_validator_spark.schema import VIOLATION_FIELDS

_INTERNAL_FIELDS = [*VIOLATION_FIELDS, "rule_order"]
_INTERNAL_SCHEMA = "key string, rule_id string, observed string, expected string, rule_order int"

# violation keys starting with this prefix are table-/group-level synthetic
# keys ("__table__", "__group__|..."), never record keys: excluded from
# per-record verdicts and per-bucket summaries, routed to the reserved
# bucket by the batch runner.
RESERVED_KEY_PREFIX = "__"


def is_record_key(col: str) -> str:
    """SQL condition: column ``col`` holds a record key, not a reserved one."""
    c = _ident(col)
    # NULL keys are record keys: startswith(NULL) yields NULL, which where()
    # would silently drop — a record with a NULL key column must still have
    # its violations surfaced, not vanish from the output
    return f"({c} IS NULL OR (NOT startswith({c}, {_lit(RESERVED_KEY_PREFIX)})))"


def _empty_violations(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], _INTERNAL_SCHEMA)


def single_scan_violations(df: DataFrame, catalog: RuleCatalog, key_col: str) -> DataFrame:
    """Every row rule and the audio decode check in ONE scan of the table.

    Row rules compile to struct expressions; the audio rule attaches its
    Arrow decode-check struct. Everything lands in one array → filter →
    explode projection, so the table — including the heavy ``bytes``
    column — is read exactly once per job no matter how many rules the
    catalog holds.
    """
    from anzlic_validator_spark.functions.audio import augment_audio

    structs = compile_row_rules(catalog.row_rules)
    aug = df
    for rule in catalog.dataset_rules:
        if rule.type == "audio_decode":
            aug, ss = augment_audio(aug, rule, key_col)
            structs.extend(ss)
    if not structs:
        return _empty_violations(df.sparkSession)
    return explode_violations(aug, key_col, structs)


def dataset_rule_violations(df: DataFrame, rule: Rule, key_col: str) -> DataFrame:
    """Rules that genuinely need their own aggregate pass (their scans are
    pruned to the rule's columns — never the binary payload)."""
    from anzlic_validator_spark.operators.drift import drift_violations
    from anzlic_validator_spark.operators.setcover import all_of_violations
    from anzlic_validator_spark.operators.uniqueness import unique_violations

    if rule.type == "unique":
        return unique_violations(df, rule, key_col)
    if rule.type == "all_of":
        return all_of_violations(df, rule, key_col)
    if rule.type == "drift":
        return drift_violations(df, rule, key_col)
    raise InvalidConfigException(f"unknown dataset rule type: {rule.type}")


def table_global(rule: Rule, dtypes: dict[str, str]) -> bool:
    """Rules whose groups are NOT functions of the record key: drift and
    grouped or scalar all_of. Their violations can span hash buckets and
    micro-batches, so the batch sweep evaluates them over the full input
    into the reserved bucket and the stream rejects them. An array-typed
    all_of without group_by checks each record on its own."""
    if rule.type == "drift":
        return True
    if rule.type == "all_of":
        if rule.get("group_by"):
            return True
        return not dtypes.get(str(rule.get("column")), "").startswith("array")
    return False


def crosses_buckets(rule: Rule, key_col: str) -> bool:
    """A ``unique`` rule over columns other than exactly the key: its
    duplicates can sit in different key-hash buckets, so a batch resume
    revalidates every bucket once any bucket is pending."""
    return rule.type == "unique" and [str(c) for c in rule.get("columns")] != [key_col]


@dataclass
class ValidationResult:
    """Lazy handles over the validation plan — nothing here triggers a job."""

    df: DataFrame
    key_col: str
    violations_ranked: DataFrame = field(repr=False)  # + rule_order

    @property
    def violations(self) -> DataFrame:
        """Public violation rows (key, rule_id, observed, expected)."""
        return self.violations_ranked.select(*VIOLATION_FIELDS)

    def tagged(self, *carry: str) -> DataFrame:
        """The input of the verdict fold: one marker row per record (``__v``
        NULL) UNION one row per record-key violation (``__v`` =
        struct(rule_order, rule_id)), with the violation columns ``carry``
        (NULL on markers). A NULL record key stays one key."""
        records = self.df.selectExpr(
            f"CAST({_ident(self.key_col)} AS STRING) AS key",
            "CAST(NULL AS STRUCT<rule_order: INT, rule_id: STRING>) AS __v",
            *(f"CAST(NULL AS STRING) AS {_ident(c)}" for c in carry),
        )
        viol = self.violations_ranked.where(is_record_key("key")).selectExpr(
            "key", "struct(rule_order, rule_id) AS __v", *map(_ident, carry)
        )
        return records.unionByName(viol)

    @property
    def verdicts(self) -> DataFrame:
        """Per-record verdict: passed + first violation in catalog order.

        Reserved-key violations ('__table__', '__group__|...') are excluded
        from per-record verdicts but present in .violations.
        """
        return fold_verdicts(self.tagged())


def fold_verdicts(tagged: DataFrame, *by: str) -> DataFrame:
    """The verdict of each ``(*by, key)`` group of ``tagged``
    (``ValidationResult.tagged``): passed, first_rule_id, n_violations.

    Records (as NULL markers) and violation rows meet in ONE groupBy on the
    key: min() skips the NULL markers and count(col) counts only violation
    rows, so one aggregate yields every key's verdict with no distinct and
    no join. ``by`` holds columns that are functions of the key (the
    output bucket); rows arrive grouped by them, in key order.

    Planner note: min over a struct marker only plans as a SortAggregate —
    non-primitive aggregation buffers are not hash-aggregatable — and a
    hash-aggregatable encoding would need the rule_id tie-break collapsed
    into a primitive, which no faithful encoding provides.
    """
    return (
        tagged.groupBy(*by, "key")
        .agg(F.expr("min(__v) AS __first"), F.expr("count(__v) AS n_violations"))
        .selectExpr(
            *by,
            "key",
            "__first IS NULL AS passed",
            "__first.rule_id AS first_rule_id",
            "n_violations",
        )
    )


def validate(
    df: DataFrame,
    catalog: RuleCatalog,
    key_col: str,
    refs: dict[str, DataFrame] | None = None,
) -> ValidationResult:
    """Build the full validation plan for ``df`` under ``catalog``.

    Raises InvalidConfigException, before any Spark job, when a rule names a
    column ``df`` lacks."""
    from anzlic_validator_spark.operators.referential import (
        referential_violations_grouped,
        rule_join_key,
    )

    refs = refs or {}
    missing = [c for r in catalog.rules for c in _rule_columns(r, key_col) if c not in df.columns]
    if missing:
        raise InvalidConfigException(f"catalog references unknown columns: {sorted(set(missing))}")

    parts = [single_scan_violations(df, catalog, key_col)]
    # referential rules sharing (authority, join key, ref key) are evaluated
    # through ONE pruned scan + ONE authority join
    ref_groups: dict[tuple, list[Rule]] = {}
    for rule in catalog.dataset_rules:
        if rule.type == "audio_decode":
            continue  # already folded into the single-scan pass
        if rule.type in ("referential", "referential_mapped"):
            gk = (
                str(rule.get("ref_table")),
                rule_join_key(rule, key_col),
                str(rule.get("ref_key")),
            )
            ref_groups.setdefault(gk, []).append(rule)
            continue
        parts.append(dataset_rule_violations(df, rule, key_col))
    for group in ref_groups.values():
        parts.append(referential_violations_grouped(df, group, key_col, refs))
    violations = parts[0]
    for p in parts[1:]:
        violations = violations.unionByName(p)
    return ValidationResult(df=df, key_col=key_col, violations_ranked=violations)


def _rule_columns(rule: Rule, key_col: str) -> list[str]:
    from anzlic_validator_spark.operators.referential import rule_join_key

    cols = []
    if rule.get("column"):
        cols.append(str(rule.get("column")))
    for key in ("columns", "group_by"):
        if isinstance(rule.get(key), (list, tuple)):
            cols.extend(str(c) for c in rule.get(key))
    if rule.type in ("referential", "referential_mapped"):
        cols.append(rule_join_key(rule, key_col))
    if rule.type == "audio_decode":
        from anzlic_validator_spark.functions.audio import AUDIO_COLUMNS

        cols.extend(str(rule.get(k, d)) for k, d in AUDIO_COLUMNS.items())
    if rule.type == "any_of":
        for sub in rule.get("rules") or []:
            cols.extend(_rule_columns(Rule("", str(sub.get("type")), rule.order, dict(sub)), key_col))
    if rule.type == "conditional":
        when = rule.get("when") or {}
        if when.get("column"):
            cols.append(str(when["column"]))
        then = dict(rule.get("then") or {})
        cols.extend(_rule_columns(Rule("", str(then.get("type")), rule.order, then), key_col))
    return cols
