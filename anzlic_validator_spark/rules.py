"""Declarative rule catalog: model + YAML/JSON loader.

Grammar is a columnar re-expression of the reference's YAML rule grammar
(scripts/errorChecker.py:1-97 docstring; parsed by ConfigReader,
errorChecker.py:287-337).  Reference rule families → engine rule types:

    EXISTS (R1)          -> exists        (allow_none/allow_empty ≙ NONE/EMPTY
                                           modifiers, errorChecker.py:371-374)
    VALUE/IN-SET (R3/R4) -> value / in_set
    ALL-OF (R7/R8)       -> all_of        (set-cover among occurrences,
                                           errorChecker.py:358-367,389-393)
    CONTAINS (R9)        -> contains      (errorChecker.py:548-562)
    CARDINALITY (R10/19) -> unique        (errorChecker.py:400-401)
    DATEFORMAT (R11)     -> format        (regex; errorChecker.py:435-459)
    EMPTYFORMAT (R12)    -> empty_scan    (errorChecker.py:534-545)
    REFERENTIAL (R13)    -> referential   (errorChecker.py:462-500)
    REFERENTIAL  (R14)   -> referential_mapped (errorChecker.py:502-532)
    MUTUAL-EXCL (R15)    -> not_both      (config/config-layer.yaml:110)
    EQUAL-FIELDS (R16)   -> equal_fields  (config/config-layer.yaml:76-81)
    CONDITIONAL (R17)    -> conditional   (scripts/validate.py:188-224)
    XSD/decode (R18)     -> audio_decode  (scripts/validate.py:127-134 analog)
    (new, columnar)      -> range, drift

Unknown rule type or unknown spec key raises InvalidConfigException at parse
time (mirrors errorChecker.py:335-337), before any Spark job starts.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass, field
from typing import Any

from anzlic_validator_spark.errors import InvalidConfigException

# Allowed keys per rule type. 'id' and 'type' are always allowed.
_COMMON_KEYS = {"id", "type", "enabled"}
_RULE_KEYS: dict[str, set[str]] = {
    "exists": {"column", "allow_none", "allow_empty"},
    "value": {"column", "value", "allow_none", "allow_empty"},
    "in_set": {"column", "values", "allow_none", "allow_empty"},
    "all_of": {"column", "values", "group_by"},
    "contains": {"column", "values", "allow_none"},
    "unique": {"columns"},
    "format": {"column", "pattern", "allow_none", "allow_empty"},
    "empty_scan": {"columns"},
    "range": {"column", "min", "max", "allow_none"},
    "referential": {
        "column",
        "key",
        "join_on",
        "ref_table",
        "ref_key",
        "ref_column",
        "on_missing",
    },
    "referential_mapped": {
        "column",
        "key",
        "join_on",
        "ref_table",
        "ref_key",
        "ref_column",
        "mapping",
        "on_missing",
        "on_unmapped",
    },
    "not_both": {"columns"},
    "equal_fields": {"columns"},
    "conditional": {"when", "then"},
    "any_of": {"rules"},
    "audio_decode": {
        "bytes_column",
        "codec_column",
        "sr_column",
        "dur_column",
        "snr_db_min",
        "dur_tol_ms",
        "ref_seed",
    },
    "drift": {"column", "baseline", "max_ks", "probs"},
}

# types evaluated per-row as pure Catalyst expressions
ROW_TYPES = {
    "exists",
    "value",
    "in_set",
    "contains",
    "format",
    "range",
    "not_both",
    "equal_fields",
    "conditional",
    "empty_scan",
    "any_of",
}
# types needing a dataset-level operator (shuffle / join / UDF / table agg)
DATASET_TYPES = {
    "unique",
    "all_of",
    "referential",
    "referential_mapped",
    "audio_decode",
    "drift",
}


@dataclass(frozen=True)
class Rule:
    rule_id: str
    type: str
    order: int  # catalog position — reference dispatch order is fixed
    spec: dict[str, Any] = field(default_factory=dict)

    def get(self, key: str, default: Any = None) -> Any:
        return self.spec.get(key, default)


@dataclass(frozen=True)
class RuleCatalog:
    rules: tuple[Rule, ...]
    version: str = "1"

    @property
    def row_rules(self) -> list[Rule]:
        return [r for r in self.rules if r.type in ROW_TYPES]

    @property
    def dataset_rules(self) -> list[Rule]:
        return [r for r in self.rules if r.type in DATASET_TYPES]

    def catalog_hash(self) -> str:
        """Stable fingerprint — the 'rule_versions' recorded in the
        checkpoint manifest; changing the catalog invalidates
        completed partitions."""
        blob = json.dumps(
            [(r.rule_id, r.type, r.order, r.spec) for r in self.rules],
            sort_keys=True,
            default=str,
        )
        return hashlib.sha256(blob.encode()).hexdigest()[:16]


def _validate_spec(idx: int, raw: dict[str, Any]) -> Rule:
    if not isinstance(raw, dict):
        raise InvalidConfigException(f"rule #{idx}: spec must be a mapping, got {type(raw).__name__}")
    rtype = raw.get("type")
    if rtype not in _RULE_KEYS:
        # unknown rule key → InvalidConfigException (errorChecker.py:335-337)
        raise InvalidConfigException(f"rule #{idx}: unknown rule type {rtype!r}")
    allowed = _RULE_KEYS[rtype] | _COMMON_KEYS
    unknown = set(raw) - allowed
    if unknown:
        raise InvalidConfigException(
            f"rule #{idx} ({rtype}): unknown keys {sorted(unknown)}; allowed {sorted(allowed)}"
        )
    spec = {k: v for k, v in raw.items() if k not in ("id", "type", "enabled")}
    # per-type structural checks
    if rtype in ("exists", "value", "in_set", "contains", "format", "range", "all_of", "drift"):
        if not raw.get("column"):
            raise InvalidConfigException(f"rule #{idx} ({rtype}): 'column' is required")
    if rtype == "in_set" and not isinstance(raw.get("values"), (list, tuple)):
        raise InvalidConfigException(f"rule #{idx} (in_set): 'values' must be a list")
    if rtype in ("not_both", "equal_fields", "unique"):
        cols = raw.get("columns")
        if not isinstance(cols, (list, tuple)) or len(cols) < (2 if rtype != "unique" else 1):
            raise InvalidConfigException(f"rule #{idx} ({rtype}): 'columns' must list columns")
    if rtype == "conditional":
        if not isinstance(raw.get("when"), dict) or not isinstance(raw.get("then"), dict):
            raise InvalidConfigException(f"rule #{idx} (conditional): needs 'when' and 'then' mappings")
        then_type = raw["then"].get("type")
        if then_type not in ROW_TYPES - {"conditional"}:
            raise InvalidConfigException(
                f"rule #{idx} (conditional): 'then' must be a row-level rule, got {then_type!r}"
            )
        # validate the nested spec too (any_of in 'then' covers the
        # reference's disjunctive conditional — "bounding box OR geographic
        # description", validate.py:205-215)
        _validate_spec(idx, raw["then"])
    if rtype == "any_of":
        subs = raw.get("rules")
        if not isinstance(subs, (list, tuple)) or len(subs) < 2:
            raise InvalidConfigException(
                f"rule #{idx} (any_of): 'rules' must list >= 2 alternatives"
            )
        for sub in subs:
            sub_type = sub.get("type") if isinstance(sub, dict) else None
            if sub_type not in ROW_TYPES - {"conditional", "any_of"}:
                raise InvalidConfigException(
                    f"rule #{idx} (any_of): alternatives must be simple row rules, got {sub_type!r}"
                )
            _validate_spec(idx, sub)
    if rtype in ("referential", "referential_mapped"):
        for req in ("column", "key", "ref_key", "ref_column"):
            if not raw.get(req):
                raise InvalidConfigException(f"rule #{idx} ({rtype}): '{req}' is required")
    default_id = f"{raw.get('column', raw.get('columns', ['table'])[0] if isinstance(raw.get('columns'), list) else 'table')}.{rtype}"
    return Rule(rule_id=str(raw.get("id") or default_id), type=rtype, order=idx, spec=spec)


def parse_catalog(doc: dict[str, Any]) -> RuleCatalog:
    if not isinstance(doc, dict) or "rules" not in doc:
        raise InvalidConfigException("catalog must be a mapping with a 'rules' list")
    extras = set(doc) - {"rules", "version", "table"}
    if extras:
        raise InvalidConfigException(f"unknown catalog keys {sorted(extras)}")
    rules: list[Rule] = []
    for idx, raw in enumerate(doc["rules"]):
        # falsy 'enabled' drops the rule — the SKIP semantics (R2,
        # errorChecker.py:312-329 drops falsy specs at ConfigReader)
        if isinstance(raw, dict) and raw.get("enabled") is False:
            continue
        rules.append(_validate_spec(idx, raw))
    ids = [r.rule_id for r in rules]
    dupes = {i for i in ids if ids.count(i) > 1}
    if dupes:
        raise InvalidConfigException(f"duplicate rule ids {sorted(dupes)}")
    return RuleCatalog(rules=tuple(rules), version=str(doc.get("version", "1")))


def load_catalog(path: str) -> RuleCatalog:
    """Load a YAML or JSON rule catalog from disk (driver-side)."""
    with open(path, encoding="utf-8") as fh:
        text = fh.read()
    if path.endswith(".json"):
        doc = json.loads(text)
    else:
        try:
            import yaml  # PyYAML — present in this image; JSON fallback otherwise
        except ImportError as exc:  # pragma: no cover
            raise InvalidConfigException(f"YAML catalog {path} but PyYAML unavailable: {exc}") from exc
        doc = yaml.safe_load(text)
    return parse_catalog(doc)
