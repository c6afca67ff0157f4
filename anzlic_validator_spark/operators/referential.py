"""Referential rules (R13/R14) — value must agree with an authority table.

Reference: per-record HTTPS GET to the LDS API comparing the metadata CRS
against the authoritative one (checkReferenceSystem,
scripts/errorChecker.py:462-500) and the kind→code mapped variant
(checkSpatialRepresentation, :502-532).  The per-record network call becomes
a single distributed JOIN against the authority table (clip_id against
the transcript index).

Scale design: one LEFT OUTER join on the key serves both violation classes
in one shuffle — a NULL ref side is the 'no reference row' case (what a
left-anti join would return), a non-NULL mismatch is the 'incorrect' case.
The join runs on a pruned (key, join key, columns) projection, so whatever
strategy the planner picks never moves the binary payload: Catalyst/AQE
broadcasts an authority that fits ``spark.sql.autoBroadcastJoinThreshold``
and sort-merge joins a larger one, and AQE skew-join splits hot key ranges
at runtime.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from anzlic_validator_spark.compile import _case, _ident, _lit, _struct, explode_violations
from anzlic_validator_spark.errors import InvalidConfigException
from anzlic_validator_spark.rules import Rule


def _ref_col(rule: Rule) -> str:
    """The joined authority column a referential rule compares against."""
    return f"__ref_{rule.order}"


def _ref_struct(rule: Rule) -> str:
    """Nullable violation struct (SQL text) for a plain referential rule
    over its joined authority column."""
    col = str(rule.get("column"))
    rid = rule.rule_id
    v = f"CAST({_ident(col)} AS STRING)"
    r = _ident(_ref_col(rule))
    missing = f"{r} IS NULL"
    mismatch = f"({r} IS NOT NULL AND NOT ({v} <=> {r}))"
    cls = _case([(missing, _lit(f"{rid}.missing_ref")), (mismatch, _lit(f"{rid}.incorrect"))])
    cond = f"({missing} OR {mismatch})"
    if rule.get("on_missing", "violation") == "ignore":
        cond = mismatch
    observed = f"coalesce({v}, 'None')"
    expected = f"coalesce({r}, {_lit(f'reference row for {col}')})"
    return _case([(cond, _struct(cls, observed, expected, rule.order))])


def _mapped_ref_struct(rule: Rule) -> str:
    """Mapped-variant violation struct (SQL text) over the joined authority
    column. Mirrors checkSpatialRepresentation's kind→code dict
    ({'raster':'grid','grid':'grid','table':'textTable','vector':'vector'},
    errorChecker.py:509-527): the authority value passes through the literal
    mapping before comparison, and an authority value absent from the
    mapping is itself a violation (unknown kind → incorrect, :528-530)
    unless on_unmapped == 'ignore'."""
    mapping = rule.get("mapping") or {}
    if not isinstance(mapping, dict) or not mapping:
        raise InvalidConfigException(f"rule {rule.rule_id}: 'mapping' must be a non-empty dict")
    col = str(rule.get("column"))
    rid = rule.rule_id
    v = f"CAST({_ident(col)} AS STRING)"
    r = _ident(_ref_col(rule))
    mapped = "map(" + ", ".join(_lit(str(x)) for kv in mapping.items() for x in kv) + f")[{r}]"
    missing = f"{r} IS NULL"
    unmapped = f"({r} IS NOT NULL AND {mapped} IS NULL)"
    mismatch = f"({mapped} IS NOT NULL AND NOT ({v} <=> {mapped}))"
    cls = _case(
        [
            (missing, _lit(f"{rid}.missing_ref")),
            (unmapped, _lit(f"{rid}.unmapped")),
            (mismatch, _lit(f"{rid}.incorrect")),
        ]
    )
    conds = [mismatch]
    if rule.get("on_missing", "violation") != "ignore":
        conds.append(missing)
    if rule.get("on_unmapped", "violation") != "ignore":
        conds.append(unmapped)
    expected = _case(
        [
            (missing, _lit(f"reference row for {col}")),
            (unmapped, _lit("mapped value for " + ",".join(sorted(mapping)))),
        ],
        otherwise=mapped,
    )
    observed = f"coalesce({v}, 'None')"
    return _case([("(" + " OR ".join(conds) + ")", _struct(cls, observed, expected, rule.order))])


def _violation_struct(rule: Rule) -> str:
    if rule.type == "referential_mapped":
        return _mapped_ref_struct(rule)
    return _ref_struct(rule)


def rule_join_key(rule: Rule, key_col: str) -> str:
    """The column a referential rule joins the authority on."""
    return str(rule.get("join_on", rule.get("key", key_col)))


def _authority(rules: list[Rule], join_on: str, refs: dict[str, DataFrame]) -> DataFrame:
    """The authority pruned to its key (renamed ``join_on``) and one
    string column ``_ref_col(rule)`` per rule; ``rules`` share the table and
    the key."""
    ref = _lookup_ref(rules[0], refs)
    return ref.selectExpr(
        f"{_ident(rules[0].get('ref_key'))} AS {_ident(join_on)}",
        *[
            f"CAST({_ident(r.get('ref_column'))} AS STRING) AS {_ident(_ref_col(r))}"
            for r in rules
        ],
    )


def referential_violations_grouped(
    df: DataFrame, rules: list[Rule], key_col: str, refs: dict[str, DataFrame]
) -> DataFrame:
    """Violation rows of referential rules from a PRUNED (key, join_on,
    columns) projection, so the join carries a few scalars per row — never
    the full record and in particular never the binary payload (multimodal
    doctrine: never explode binary columns through a shuffle). The rows
    union with the single-scan pass.

    ``rules`` must share the same authority table and join key (the engine
    groups them): ONE join serves every rule in the group, so a catalog with
    N rules against one index pays the join once. Authority keys must be
    unique (a non-unique authority would multiply rows) — same contract as
    the reference's one-CRS-per-layer API. ``join_on`` lets FK-style lookups
    join on the FK column while reporting violations against the record
    key."""
    join_on = rule_join_key(rules[0], key_col)
    cols = list(dict.fromkeys([key_col, join_on] + [str(r.get("column")) for r in rules]))
    pruned = df.selectExpr(*[_ident(c) for c in cols])
    joined = pruned.join(_authority(rules, join_on, refs), on=join_on, how="left")
    return explode_violations(joined, key_col, [_violation_struct(r) for r in rules])


def _lookup_ref(rule: Rule, refs: dict[str, DataFrame]) -> DataFrame:
    name = rule.get("ref_table")
    if name not in refs:
        raise InvalidConfigException(
            f"rule {rule.rule_id}: ref_table {name!r} not provided (have {sorted(refs)})"
        )
    return refs[name]
