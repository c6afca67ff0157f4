"""Rule spec → Spark SQL text compiler for row-level rules.

Each row-level rule compiles to ONE nullable struct expression written as
Spark SQL text: NULL when the row passes, ``struct(… AS rule_id, … AS
observed, … AS expected, … AS rule_order)`` when it fails. The engine
hands all of them to the JVM in one ``selectExpr`` (array → filter nulls →
explode, see ``explode_violations``), so every rule is evaluated for every
row in a single whole-stage-codegen'd projection (no per-row Python, no
shuffle) and the plan costs a handful of py4j calls however many rules the
catalog holds. The compile itself is pure Python.

Quoting: ``_ident`` backquotes every column name and ``_lit`` writes every
literal with the type PySpark's ``lit()`` gives it. A string holding a quote, a
backslash, ``${`` or a non-printable character is written as a UTF-8 hex
binary cast: neither setting of ``spark.sql.parser.escapedStringLiterals``
nor SQL variable substitution rewrites it, and the optimizer folds it back
to a plain string literal.

Violation classes mirror the reference's exception taxonomy
(scripts/errorChecker.py):

    <id>.missing    path/column NULL            (errorChecker.py:394-399)
    <id>.empty      present but blank           (errorChecker.py:381-382)
    <id>.incorrect  value breaches the rule     (errorChecker.py:383-388)

NONE/EMPTY modifiers (errorChecker.py:371-374) → ``allow_none`` /
``allow_empty`` spec flags.  The reference is fail-fast per record
(first exception wins); we evaluate ALL rules and rank by ``rule_order``
afterwards so the headline verdict matches while every violation is reported
(SURVEY §2.3 dispatch-order note).
"""

from __future__ import annotations

import datetime
import math

from pyspark.sql import DataFrame

from anzlic_validator_spark.errors import InvalidConfigException
from anzlic_validator_spark.rules import Rule, _validate_spec

_NONE = "None"  # observed marker for missing values (reference prints None)
_EMPTY = "''"  # observed marker for blank values


def _ident(name: object) -> str:
    """A column name as a backquoted SQL identifier."""
    name = str(name)
    if "${" in name:
        # variable substitution runs on the raw text, before the lexer
        raise InvalidConfigException(
            f"column name {name!r}: '${{' cannot be written in Spark SQL text"
        )
    return "`" + name.replace("`", "``") + "`"


def _lit(value: object) -> str:
    """A SQL literal of the type ``lit(value)`` gives: INT, BIGINT,
    DOUBLE (never DECIMAL), BOOLEAN, DATE or STRING."""
    if value is None:
        return "NULL"
    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, int):
        if -(2**31) <= value < 2**31:
            return str(value)
        if -(2**63) <= value < 2**63:
            return f"{value}L"
        raise InvalidConfigException(f"integer literal {value} does not fit BIGINT")
    if isinstance(value, float):
        if math.isnan(value):
            return "CAST('NaN' AS DOUBLE)"
        if math.isinf(value):
            return "CAST('Infinity' AS DOUBLE)" if value > 0 else "CAST('-Infinity' AS DOUBLE)"
        return f"{value!r}D"
    if isinstance(value, str):
        if value.isprintable() and "'" not in value and "\\" not in value and "${" not in value:
            return f"'{value}'"
        return f"CAST(X'{value.encode('utf-8').hex()}' AS STRING)"
    if isinstance(value, datetime.date) and not isinstance(value, datetime.datetime):
        return f"DATE '{value.isoformat()}'"
    raise InvalidConfigException(f"unsupported literal {value!r} ({type(value).__name__})")


def _case(branches: list[tuple[str, str]], otherwise: str | None = None) -> str:
    whens = " ".join(f"WHEN {cond} THEN {val}" for cond, val in branches)
    return f"CASE {whens}{'' if otherwise is None else f' ELSE {otherwise}'} END"


def _any(conds: list[str]) -> str:
    return "(" + " OR ".join(conds) + ")" if conds else "false"


def _struct(rule_id: str, observed: str, expected: str, order: int) -> str:
    """The violation struct over SQL expressions ``rule_id``, ``observed``
    and ``expected`` (a string expression)."""
    return (
        f"struct({rule_id} AS rule_id, CAST({observed} AS STRING) AS observed, "
        f"{expected} AS expected, {int(order)} AS rule_order)"
    )


def _viol(rule: Rule, cls: str, observed: str, expected: str) -> str:
    return _struct(_lit(f"{rule.rule_id}.{cls}"), observed, _lit(expected), rule.order)


def _blank(c: str) -> str:
    return f"(length(trim(CAST({c} AS STRING))) = 0)"


def _presence(rule: Rule, c: str, expected: str) -> tuple[list[tuple[str, str]], str]:
    """Shared missing/empty prelude for value-bearing rules.

    Returns (branches, guard) where guard is the condition under which the
    value check should run (non-null, non-blank unless tolerated).
    """
    branches = []
    if not rule.get("allow_none", False):
        branches.append((f"{c} IS NULL", _viol(rule, "missing", _lit(_NONE), expected)))
    if not rule.get("allow_empty", False):
        branches.append(
            (f"({c} IS NOT NULL AND {_blank(c)})", _viol(rule, "empty", _lit(_EMPTY), expected))
        )
    return branches, f"({c} IS NOT NULL AND NOT {_blank(c)})"


def _in(s: str, vals: list[str]) -> str:
    return f"({s} IN ({', '.join(_lit(v) for v in vals)}))" if vals else "false"


def compile_row_rule(rule: Rule) -> list[str]:
    """Compile one row rule to nullable violation-struct SQL expression(s)."""
    t = rule.type
    if t == "exists":
        branches, _ = _presence(rule, _ident(rule.get("column")), "present and non-empty")
        if not branches:
            raise InvalidConfigException(
                f"rule {rule.rule_id}: exists with allow_none and allow_empty checks nothing"
            )
        return [_case(branches)]

    if t in ("value", "in_set", "contains", "format"):
        c = _ident(rule.get("column"))
        s = f"CAST({c} AS STRING)"
        if t == "value":
            expected = str(rule.get("value"))
            fail = f"({s} != {_lit(expected)})"
        elif t == "in_set":
            vals = [str(v) for v in rule.get("values")]
            expected = "one of [" + ",".join(vals) + "]"
            fail = f"NOT {_in(s, vals)}"
        elif t == "contains":
            # every literal must be a substring (checkContains,
            # errorChecker.py:548-562) — one native `contains` per literal
            vals = [str(v) for v in rule.get("values")]
            expected = "contains [" + ",".join(vals) + "]"
            fail = _any([f"(NOT contains({s}, {_lit(v)}))" for v in vals])
        else:
            # regex format check — generalizes DATEFORMAT's length+dash test
            # (checkDateFormat, errorChecker.py:435-459)
            pattern = rule.get("pattern")
            expected = f"matches {pattern}"
            fail = f"NOT ({s} RLIKE {_lit(pattern)})"
        branches, guard = _presence(rule, c, expected)
        branches.append((f"({guard} AND {fail})", _viol(rule, "incorrect", c, expected)))
        return [_case(branches)]

    if t == "range":
        c = _ident(rule.get("column"))
        lo, hi = rule.get("min"), rule.get("max")
        expected = f"in [{lo},{hi}]"
        branches = []
        if not rule.get("allow_none", False):
            branches.append((f"{c} IS NULL", _viol(rule, "missing", _lit(_NONE), expected)))
        fails = [f"{c} {op} {_lit(b)}" for op, b in (("<", lo), (">", hi)) if b is not None]
        branches.append(
            (f"({c} IS NOT NULL AND {_any(fails)})", _viol(rule, "incorrect", c, expected))
        )
        return [_case(branches)]

    if t == "not_both":
        # mutual exclusion, e.g. "Cannot be both Scale and Resolution"
        # (config/config-layer.yaml:110)
        a, b = rule.get("columns")[:2]
        ia, ib = _ident(a), _ident(b)
        observed = f"concat_ws(',', CAST({ia} AS STRING), CAST({ib} AS STRING))"
        fail = f"({ia} IS NOT NULL AND {ib} IS NOT NULL)"
        return [_case([(fail, _viol(rule, "incorrect", observed, f"not both {a} and {b}"))])]

    if t == "equal_fields":
        # hierarchy-group same-value constraint (config-layer.yaml:76-81)
        cols = rule.get("columns")
        first = _ident(cols[0])
        fail = _any([f"(NOT ({first} <=> {_ident(c)}))" for c in cols[1:]])
        observed = "concat_ws(',', " + ", ".join(f"CAST({_ident(c)} AS STRING)" for c in cols) + ")"
        expected = "all equal: " + ",".join(cols)
        return [_case([(fail, _viol(rule, "incorrect", observed, expected))])]

    if t == "conditional":
        # cross-field conditional (SCHMD.conditional, validate.py:188-224)
        cond = _compile_when(rule.get("when"))
        inner_raw = dict(rule.get("then"))
        inner_raw.setdefault("id", rule.rule_id)
        inner = _validate_spec(rule.order, inner_raw)
        inner = Rule(rule_id=rule.rule_id, type=inner.type, order=rule.order, spec=inner.spec)
        return [_case([(cond, s)]) for s in compile_row_rule(inner)]

    if t == "any_of":
        # disjunctive composition — the reference's conditional requires
        # "bounding box OR geographic description" (validate.py:205-215):
        # the record passes if ANY alternative passes; a violation is
        # emitted only when EVERY alternative fails, reporting each
        # alternative's own observation.
        subs: list[str] = []
        descs: list[str] = []
        for j, raw in enumerate(rule.get("rules")):
            inner = _validate_spec(rule.order, dict(raw))
            sub = Rule(
                rule_id=f"{rule.rule_id}[{j}]", type=inner.type, order=rule.order, spec=inner.spec
            )
            exprs = compile_row_rule(sub)
            # a multi-struct alternative (empty_scan) fails if any of its
            # structs fires — coalesce gives "first non-null" semantics
            subs.append(exprs[0] if len(exprs) == 1 else f"coalesce({', '.join(exprs)})")
            descs.append(str(raw.get("column") or inner.type))
        all_fail = "(" + " AND ".join(f"({s}) IS NOT NULL" for s in subs) + ")"
        observed = (
            "concat_ws('; ', "
            + ", ".join(
                f"concat({_lit(d + '=')}, coalesce(({s}).observed, 'ok'))"
                for d, s in zip(descs, subs)
            )
            + ")"
        )
        expected = "any of [" + ",".join(descs) + "]"
        return [_case([(all_fail, _viol(rule, "incorrect", observed, expected))])]

    if t == "empty_scan":
        # whole-record blank scan (emptyTagCheck, errorChecker.py:534-545):
        # one violation struct per scanned column
        out = []
        for col in rule.get("columns"):
            c = _ident(col)
            sub = Rule(f"{rule.rule_id}.{col}", "empty_scan", rule.order)
            blank = f"({c} IS NOT NULL AND {_blank(c)})"
            out.append(_case([(blank, _viol(sub, "empty", _lit(_EMPTY), "non-empty"))]))
        return out

    raise InvalidConfigException(f"not a row rule: {t}")


def _compile_when(spec: dict) -> str:
    if "column" not in spec:
        raise InvalidConfigException(f"conditional 'when' needs a column: {spec}")
    extras = set(spec) - {"column", "equals", "in", "not_null"}
    if extras:
        raise InvalidConfigException(f"conditional 'when': unknown keys {sorted(extras)}")
    c = _ident(spec["column"])
    if "equals" in spec:
        return f"(CAST({c} AS STRING) = {_lit(str(spec['equals']))})"
    if "in" in spec:
        return _in(f"CAST({c} AS STRING)", [str(v) for v in spec["in"]])
    if spec.get("not_null"):
        return f"{c} IS NOT NULL"
    raise InvalidConfigException(f"conditional 'when' needs equals/in/not_null: {spec}")


def compile_row_rules(rules: list[Rule]) -> list[str]:
    return [e for r in rules for e in compile_row_rule(r)]


def explode_violations(df: DataFrame, key_col: str, structs: list[str]) -> DataFrame:
    """Violation rows (key, rule_id, observed, expected, rule_order) of the
    nullable violation-struct expressions ``structs`` over ``df``: one
    array → filter → explode projection, parsed by the JVM in one call."""
    arr = f"filter(array({', '.join(structs)}), v -> v IS NOT NULL)"
    return df.selectExpr(
        f"CAST({_ident(key_col)} AS STRING) AS key", f"explode({arr}) AS __v"
    ).selectExpr("key", "__v.rule_id", "__v.observed", "__v.expected", "__v.rule_order")
