"""Row-rule compiler + engine — fixture-category semantics mirror
tests/test_errorCheck.py: correct → no violations; each category → exactly
its violation class (MetadataNone/Empty/Incorrect ≙ .missing/.empty/.incorrect)."""

import pytest
from pyspark.sql import Row

from anzlic_validator_spark.engine import validate
from anzlic_validator_spark.rules import parse_catalog


def _viol_map(result):
    rows = result.violations.collect()
    out = {}
    for r in rows:
        out.setdefault(r.key, []).append((r.rule_id, r.observed, r.expected))
    return out


@pytest.fixture(scope="module")
def demo_df(spark):
    return spark.createDataFrame(
        [
            Row(k="ok", name="alice", kind="a", n=5, note="hello world", alt=None),
            Row(k="null_name", name=None, kind="a", n=5, note="hello", alt=None),
            Row(k="empty_name", name="  ", kind="a", n=5, note="hello", alt=None),
            Row(k="bad_kind", name="bob", kind="z", n=5, note="hello", alt=None),
            Row(k="big_n", name="carol", kind="b", n=99, note="hello", alt=None),
            Row(k="no_token", name="dave", kind="a", n=5, note="goodbye", alt=None),
            Row(k="both_set", name="erin", kind="a", n=5, note="hello", alt="x"),
            Row(k="cond_hit", name="fred", kind="c", n=3, note="hello", alt=None),
        ]
    )


CATALOG = {
    "rules": [
        {"id": "name.exists", "type": "exists", "column": "name"},
        {"id": "kind.in_set", "type": "in_set", "column": "kind", "values": ["a", "b", "c"]},
        {"id": "n.range", "type": "range", "column": "n", "min": 0, "max": 50},
        {"id": "note.contains", "type": "contains", "column": "note", "values": ["hello"]},
        {"id": "xor", "type": "not_both", "columns": ["name", "alt"]},
        {
            "id": "cond",
            "type": "conditional",
            "when": {"column": "kind", "equals": "c"},
            "then": {"type": "range", "column": "n", "min": 4},
        },
    ]
}


def test_row_rules_fire_per_category(spark, demo_df):
    res = validate(demo_df, parse_catalog(CATALOG), key_col="k")
    v = _viol_map(res)
    assert "ok" not in v
    assert v["null_name"] == [("name.exists.missing", "None", "present and non-empty")]
    assert v["empty_name"] == [("name.exists.empty", "''", "present and non-empty")]
    assert v["bad_kind"] == [("kind.in_set.incorrect", "z", "one of [a,b,c]")]
    assert v["big_n"] == [("n.range.incorrect", "99", "in [0,50]")]
    assert v["no_token"] == [("note.contains.incorrect", "goodbye", "contains [hello]")]
    assert ("xor.incorrect", "erin,x", "not both name and alt") in v["both_set"]
    assert v["cond_hit"] == [("cond.incorrect", "3", "in [4,None]")]


def test_verdicts_first_rule_in_catalog_order(spark, demo_df):
    res = validate(demo_df, parse_catalog(CATALOG), key_col="k")
    verdicts = {r.key: r for r in res.verdicts.collect()}
    assert verdicts["ok"].passed and verdicts["ok"].first_rule_id is None
    assert not verdicts["null_name"].passed
    assert verdicts["null_name"].first_rule_id == "name.exists.missing"
    # both_set violates only xor; first = xor
    assert verdicts["both_set"].first_rule_id == "xor.incorrect"
    assert verdicts["both_set"].n_violations == 1


def test_fail_fast_ranking_multi_violation(spark):
    # a row violating several rules: headline verdict = min catalog order
    df = spark.createDataFrame(
        [("multi", None, "z", 99, "x", None)],
        "k string, name string, kind string, n long, note string, alt string",
    )
    res = validate(df, parse_catalog(CATALOG), key_col="k")
    verd = res.verdicts.collect()[0]
    assert verd.n_violations == 4
    assert verd.first_rule_id == "name.exists.missing"


def test_allow_none_and_empty_modifiers(spark):
    df = spark.createDataFrame([Row(k="a", v=None), Row(k="b", v=" "), Row(k="c", v="bad")])
    cat = parse_catalog(
        {
            "rules": [
                {
                    "id": "v.val",
                    "type": "value",
                    "column": "v",
                    "value": "good",
                    "allow_none": True,
                    "allow_empty": True,
                }
            ]
        }
    )
    v = _viol_map(validate(df, cat, key_col="k"))
    assert set(v) == {"c"}
    assert v["c"] == [("v.val.incorrect", "bad", "good")]


def test_empty_scan_and_equal_fields(spark):
    df = spark.createDataFrame(
        [
            Row(k="ok", a="x", b="x", c="y"),
            Row(k="blank_c", a="x", b="x", c=""),
            Row(k="uneq", a="x", b="z", c="y"),
        ]
    )
    cat = parse_catalog(
        {
            "rules": [
                {"id": "scan", "type": "empty_scan", "columns": ["a", "b", "c"]},
                {"id": "eq", "type": "equal_fields", "columns": ["a", "b"]},
            ]
        }
    )
    v = _viol_map(validate(df, cat, key_col="k"))
    assert v["blank_c"] == [("scan.c.empty", "''", "non-empty")]
    assert v["uneq"] == [("eq.incorrect", "x,z", "all equal: a,b")]


def test_unknown_column_rejected(spark, demo_df):
    from anzlic_validator_spark.errors import InvalidConfigException

    with pytest.raises(InvalidConfigException, match="unknown columns"):
        validate(demo_df, parse_catalog({"rules": [{"type": "exists", "column": "nope"}]}), "k")


@pytest.mark.parametrize(
    "spec",
    [
        {"type": "unique", "columns": ["nope"]},
        {"type": "all_of", "column": "nope", "values": ["a"]},
        {"type": "all_of", "column": "kind", "values": ["a"], "group_by": ["nope"]},
        {"type": "drift", "column": "nope", "baseline": "unused.json"},
        {"type": "referential", "column": "nope", "key": "k", "ref_table": "t",
         "ref_key": "k", "ref_column": "v"},
        {"type": "referential", "column": "name", "key": "k", "join_on": "nope",
         "ref_table": "t", "ref_key": "k", "ref_column": "v"},
        {"type": "audio_decode", "bytes_column": "nope"},
    ],
    ids=["unique", "all_of", "all_of_group_by", "drift", "referential", "join_on", "audio_decode"],
)
def test_unknown_column_in_dataset_rule_rejected(spark, demo_df, spec):
    """Dataset rules get the same up-front column check as row rules, not a
    Spark AnalysisException from inside the plan."""
    from anzlic_validator_spark.errors import InvalidConfigException

    refs = {"t": spark.createDataFrame([("ok", "v")], "k string, v string")}
    with pytest.raises(InvalidConfigException, match="unknown columns.*nope"):
        validate(demo_df, parse_catalog({"rules": [spec]}), "k", refs=refs)


def test_format_rule(spark):
    df = spark.createDataFrame([Row(k="g", d="2020-01-02"), Row(k="b", d="2020/01/02")])
    cat = parse_catalog(
        {
            "rules": [
                {
                    "id": "date.fmt",
                    "type": "format",
                    "column": "d",
                    "pattern": r"^\d{4}(-\d{2}(-\d{2})?)?$",
                }
            ]
        }
    )
    v = _viol_map(validate(df, cat, key_col="k"))
    assert set(v) == {"b"}


def _exchanges_carrying(df, colname):
    """Formatted-plan Exchange nodes whose input/output mentions colname."""
    import re

    jvm = df.sparkSession._jvm
    plan = df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    sections = re.split(r"\n\(\d+\) ", plan)
    return [s.splitlines()[0] for s in sections if s.startswith("Exchange") and colname in s]


def test_nonbroadcast_referential_never_shuffles_bytes(spark):
    """A sort-merge referential join must not drag the binary payload
    through its exchange: the join runs on a pruned (key, column)
    projection while the audio pass rides the single scan."""
    from anzlic_validator_spark.synth import clips, transcript_index

    df = clips(spark, 120, seed=42)
    idx = transcript_index(spark, 120, seed=42)
    cat = parse_catalog(
        {
            "rules": [
                {"id": "clips.audio", "type": "audio_decode", "ref_seed": 42},
                {
                    "id": "t.ref",
                    "type": "referential",
                    "column": "transcript",
                    "key": "clip_id",
                    "ref_table": "transcript_index",
                    "ref_key": "clip_id",
                    "ref_column": "transcript_ref",
                },
            ]
        }
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
    try:
        v = validate(df, cat, key_col="clip_id", refs={"transcript_index": idx}).violations
        assert _exchanges_carrying(v, "bytes") == []
        assert v.count() >= 0  # plan executes
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_small_authority_broadcasts_without_a_hint(spark):
    """A small authority is broadcast by the planner from its size alone:
    the join strategy is the planner's call, and a catalog asking for it
    with a ``broadcast`` key fails at parse time."""
    from anzlic_validator_spark.errors import InvalidConfigException
    from anzlic_validator_spark.synth import clips, transcript_index

    df = clips(spark, 120, seed=42, with_audio=False)
    idx = transcript_index(spark, 120, seed=42)
    rule = {
        "id": "t.ref",
        "type": "referential",
        "column": "transcript",
        "key": "clip_id",
        "ref_table": "transcript_index",
        "ref_key": "clip_id",
        "ref_column": "transcript_ref",
    }
    cat = parse_catalog({"rules": [rule]})
    v = validate(df, cat, key_col="clip_id", refs={"transcript_index": idx}).violations
    v.collect()
    plan = v._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    with pytest.raises(InvalidConfigException, match="broadcast"):
        parse_catalog({"rules": [{**rule, "broadcast": True}]})


def test_any_of_disjunction(spark):
    """The reference's disjunctive conditional (validate.py:205-215):
    pass if ANY alternative passes, violate only when all fail."""
    df = spark.createDataFrame(
        [
            Row(k="bbox_ok", bbox="1 2 3 4", geo=None),
            Row(k="geo_ok", bbox=None, geo="North Island"),
            Row(k="both_ok", bbox="1 2 3 4", geo="North Island"),
            Row(k="neither", bbox=None, geo=None),
            Row(k="blank_both", bbox=" ", geo=""),
        ]
    )
    cat = parse_catalog(
        {
            "rules": [
                {
                    "id": "extent",
                    "type": "any_of",
                    "rules": [
                        {"type": "exists", "column": "bbox"},
                        {"type": "exists", "column": "geo"},
                    ],
                }
            ]
        }
    )
    v = _viol_map(validate(df, cat, key_col="k"))
    assert set(v) == {"neither", "blank_both"}
    assert v["neither"] == [
        ("extent.incorrect", "bbox=None; geo=None", "any of [bbox,geo]")
    ]
    assert v["blank_both"] == [
        ("extent.incorrect", "bbox=''; geo=''", "any of [bbox,geo]")
    ]


def test_conditional_any_of(spark):
    """when-guard + any_of 'then' — the exact reference rule shape."""
    df = spark.createDataFrame(
        [
            ("guarded_fail", "dataset", None, None),
            ("guarded_ok", "dataset", "1 2 3 4", None),
            ("unguarded", "series", None, None),
        ],
        "k string, lvl string, bbox string, geo string",
    )
    cat = parse_catalog(
        {
            "rules": [
                {
                    "id": "extent",
                    "type": "conditional",
                    "when": {"column": "lvl", "equals": "dataset"},
                    "then": {
                        "type": "any_of",
                        "rules": [
                            {"type": "exists", "column": "bbox"},
                            {"type": "exists", "column": "geo"},
                        ],
                    },
                }
            ]
        }
    )
    v = _viol_map(validate(df, cat, key_col="k"))
    assert set(v) == {"guarded_fail"}


def test_any_of_validation_errors(spark):
    from anzlic_validator_spark.errors import InvalidConfigException

    with pytest.raises(InvalidConfigException, match=">= 2 alternatives"):
        parse_catalog({"rules": [{"id": "x", "type": "any_of",
                                  "rules": [{"type": "exists", "column": "a"}]}]})
    with pytest.raises(InvalidConfigException, match="simple row rules"):
        parse_catalog({"rules": [{"id": "x", "type": "any_of", "rules": [
            {"type": "exists", "column": "a"},
            {"type": "unique", "columns": ["a"]},
        ]}]})
    # unknown columns inside any_of alternatives are caught before any job
    with pytest.raises(InvalidConfigException, match="unknown columns"):
        df = spark.createDataFrame([Row(k="a", b="x")])
        validate(df, parse_catalog({"rules": [{"id": "x", "type": "any_of", "rules": [
            {"type": "exists", "column": "b"},
            {"type": "exists", "column": "nope"},
        ]}]}), key_col="k")


def test_range_date_bounds(spark):
    """A YAML date bound (``min: 2020-01-01`` loads as a datetime.date)
    compiles to a DATE literal."""
    import datetime

    df = spark.createDataFrame(
        [("a", datetime.date(2019, 12, 31)), ("b", datetime.date(2020, 1, 1))], "k string, d date"
    )
    cat = parse_catalog(
        {"rules": [{"id": "d.range", "type": "range", "column": "d",
                    "min": datetime.date(2020, 1, 1)}]}
    )
    v = _viol_map(validate(df, cat, key_col="k"))
    assert v == {"a": [("d.range.incorrect", "2019-12-31", "in [2020-01-01,None]")]}


def test_null_key_violations_surface(spark):
    """ADVICE r02 (low): a record with a NULL key column must keep its
    violations (startswith(NULL) is NULL → where() silently dropped them)
    and must not read as spuriously passed in verdicts."""
    from pyspark.sql import functions as F

    from anzlic_validator_spark.engine import is_record_key

    df = spark.createDataFrame(
        [(None, None, "z", 99, "goodbye", None), ("ok", "alice", "a", 5, "hello", None)],
        "k string, name string, kind string, n long, note string, alt string",
    )
    res = validate(df, parse_catalog(CATALOG), key_col="k")
    kept = res.violations.where(is_record_key("key"))
    null_viol = kept.where(F.col("key").isNull()).collect()
    assert {r.rule_id for r in null_viol} == {
        "name.exists.missing", "kind.in_set.incorrect",
        "n.range.incorrect", "note.contains.incorrect",
    }
    verd = {r.key: r for r in res.verdicts.collect()}
    assert verd["ok"].passed
    assert not verd[None].passed and verd[None].n_violations == 4
    assert verd[None].first_rule_id == "name.exists.missing"


def test_null_key_partition_summary_counts(spark, run_buckets):
    """A NULL-keyed failing record is one record in run_validation's
    per-bucket metrics: xxhash64(NULL) is the seed 42, so it lands in bucket
    pmod(42, n) and counts in rows/failed_rows there (no passed=true with
    violations>0, and no record lost to a NULL bucket)."""
    df = spark.createDataFrame(
        [(None, None, "z", 99, "goodbye", None)],
        "k string, name string, kind string, n long, note string, alt string",
    )
    summ = run_buckets(df, CATALOG, key_col="k", n_buckets=4)
    nonzero = {b: m for b, m in summ.items() if m["violations"] > 0}
    assert list(nonzero) == [42 % 4]
    m = nonzero[42 % 4]
    assert m["rows"] == 1 and m["failed_rows"] == 1 and not m["passed"]
    assert m["violations"] == 4
