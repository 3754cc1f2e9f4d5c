"""rule_and / rule_or combinators (suite :820-936, :1665-1701) and childs
nesting incl. the spans-array pattern (suite :941-1279, :1869-1939), and
same-named outputs at every depth: the last emitted pair wins."""

import pytest

from evalidate_spark import validate
from evalidate_spark.spec import (
    Allowed,
    Default,
    Regexp,
    Rule,
    RuleAnd,
    RuleOr,
    Size,
    SpecError,
    Type,
)
from helpers import assert_parity, repeated_fields, run_parity


def test_rule_and_group(spark):
    # suite :820-863
    rules = [
        RuleAnd([Rule(key="Ip2"), Rule(key="Ip3")]),
        RuleAnd([Rule(key="Ip4"), Rule(key="Ip5")]),
    ]
    rows = [
        {"Ip2": "a", "Ip3": "b", "Ip4": "c", "Ip5": "d"},
        {"Ip2": "a", "Ip3": None, "Ip4": "c", "Ip5": "d"},
    ]
    assert_parity(spark, rules, rows, "Ip2 string, Ip3 string, Ip4 string, Ip5 string")


def test_rule_and_on_error(spark):
    # suite :1665-1701 — on_error replaces member errors
    rules = [RuleAnd([Rule(key="a"), Rule(key="b")], on_error="all wrong")]
    res, ann, clean = run_parity(spark, rules, [{"a": "x", "b": None}], "a string, b string")
    assert ann[0]["first_error"]["message"] == "all wrong"
    assert_parity(spark, rules, [{"a": "x", "b": None}], "a string, b string")


def test_rule_or_first_passing_wins(spark):
    # suite :864-903
    rules = [
        RuleOr(
            [
                Rule(key="Ip1"),
                RuleAnd([Rule(key="Ip2"), Rule(key="Ip3")]),
                RuleAnd([Rule(key="Ip6"), Rule(key="Ip7")]),
            ]
        )
    ]
    rows = [{"Ip2": "a", "Ip3": "b"}]
    schema = "Ip1 string, Ip2 string, Ip3 string, Ip6 string, Ip7 string"
    assert_parity(spark, rules, rows, schema)


def test_rule_or_error_join_reversed(spark):
    # suite :905-936: 'Key Ip6 … or Key Ip4 … or Key Ip1 …' (reverse order)
    rules = [
        RuleOr(
            [
                Rule(key="Ip1"),
                RuleAnd([Rule(key="Ip2"), Rule(key="Ip4")]),
                RuleAnd([Rule(key="Ip6"), Rule(key="Ip7")]),
            ]
        )
    ]
    rows = [{"Ip2": "a", "Ip3": "b"}]
    schema = "Ip1 string, Ip2 string, Ip3 string, Ip4 string, Ip6 string, Ip7 string"
    res, ann, clean = run_parity(spark, rules, rows, schema)
    assert (
        ann[0]["first_error"]["message"]
        == "Key 'Ip6' is required or Key 'Ip4' is required or Key 'Ip1' is required"
    )
    assert_parity(spark, rules, rows, schema)


def test_rule_or_on_error(spark):
    rules = [RuleOr([Rule(key="a"), Rule(key="b")], on_error="none matched")]
    res, ann, clean = run_parity(spark, rules, [{"c": "x"}], "a string, b string, c string")
    assert ann[0]["first_error"]["message"] == "none matched"


def test_nesting_struct(spark):
    # suite :941-981 incl. dotted path 'k.nk'
    rules = [Rule(key="k", childs=[Rule(key="nk")])]
    rows = [{"k": {"nk": "x"}}, {"k": {"nk": None}}]
    res, ann, clean = run_parity(spark, rules, rows, "k struct<nk string>")
    assert ann[1]["first_error"]["message"] == "Key 'k.nk' is required"
    assert ann[1]["first_error"]["key_path"] == "k.nk"
    assert ann[0]["violations"] == []


def test_complex_nesting_two_levels(spark):
    # suite :983-1060
    nested2 = [Rule(key="NestedIp2")]
    nested1 = [Rule(key="NestedIp1", childs=nested2)]
    rules = [Rule(key="Ip1", childs=nested1), Rule(key="Ip3")]
    schema = "Ip1 struct<NestedIp1 struct<NestedIp2 string>>, Ip3 string"
    rows = [
        {"Ip1": {"NestedIp1": {"NestedIp2": "x"}}, "Ip3": "y"},
        {"Ip1": {"NestedIp1": {"NestedIp2": None}}, "Ip3": "y"},
    ]
    res, ann, clean = run_parity(spark, rules, rows, schema)
    assert ann[0]["violations"] == []
    assert ann[1]["first_error"]["message"] == "Key 'Ip1.NestedIp1.NestedIp2' is required"


def test_parent_key_false(spark):
    # parent_key opt off → bare key in message (suite :963-981 inverse)
    rules = [Rule(key="k", childs=[Rule(key="nk")])]
    res, ann, clean = run_parity(
        spark, rules, [{"k": {"nk": None}}], "k struct<nk string>", parent_key=False
    )
    assert ann[0]["first_error"]["message"] == "Key 'nk' is required"


def test_spans_array_childs(spark):
    # the north-rule spans pattern: rules mapped over each element of
    # array<struct> (reference object-list mode, suite :1231-1279) —
    # explode-free via transform+flatten
    rules = [
        Rule(key="doc_id"),
        Rule(
            key="spans",
            childs=[
                Rule(key="kind", validators=[Allowed(["text", "media"])]),
                Rule(key="offset", validators=[Type("integer"), Size(0, None)]),
            ],
        ),
    ]
    schema = "doc_id string, spans array<struct<kind string, offset bigint>>"
    rows = [
        {"doc_id": "d1", "spans": [("text", 0), ("media", 5)]},
        {"doc_id": "d2", "spans": [("text", 0), ("bogus", 5), ("media", -1)]},
    ]
    res, ann, clean = run_parity(spark, rules, rows, schema)
    assert ann[0]["violations"] == []
    v = ann[1]["violations"]
    assert len(v) == 2
    assert v[0]["span_index"] == 1 and "not in allowed list" in v[0]["message"]
    assert v[1]["span_index"] == 2 and "less than minimum" in v[1]["message"]


def test_spans_element_conversion(spark):
    # child converters rebuild converted span structs
    rules = [
        Rule(
            key="spans",
            childs=[
                Rule(key="kind", converter="lowercase"),
                Rule(key="offset", converter="to_int"),
            ],
        )
    ]
    schema = "spans array<struct<kind string, offset string>>"
    rows = [{"spans": [("TEXT", "0"), ("MEDIA", "5")]}]
    res, ann, clean = run_parity(spark, rules, rows, schema)
    out = clean[0]["spans"]
    assert [(e["kind"], e["offset"]) for e in out] == [("text", 0), ("media", 5)]


def test_wrong_childs(spark):
    # childs on a scalar → "Wrong childs for key '…'"
    rules = [Rule(key="k", childs=[Rule(key="nk")])]
    res, ann, clean = run_parity(spark, rules, [{"k": "scalar"}], "k string")
    assert ann[0]["first_error"]["message"] == "Wrong childs for key 'k'"


def test_rule_or_alternative_repeats_a_key(spark):
    # the winning alternative's pairs are a proplist too: its last pair wins
    rules = [
        RuleOr([
            RuleAnd([Rule(key="a", converter="lowercase"), Rule(key="a", validators=[Size(1, 2)])]),
            RuleAnd([Rule(key="a", converter="lowercase"), Rule(key="a")]),
        ])
    ]
    rows = [{"a": "X"}, {"a": "XYZ"}]
    assert_parity(spark, rules, rows, "a string")
    res, ann, clean = run_parity(spark, rules, rows, "a string")
    assert [clean[i]["a"] for i in (0, 1)] == ["X", "XYZ"]


@pytest.mark.parametrize(
    "schema, value, want_type, want",
    [
        ("s struct<a string>", {"a": "X"}, "struct<a:string>", {"a": "X"}),
        ("s array<struct<a string>>", [{"a": "X"}], "array<struct<a:string>>", [{"a": "X"}]),
    ],
    ids=["struct", "elements"],
)
def test_childs_repeat_a_converted_key(spark, schema, value, want_type, want):
    rules = [Rule(key="s", childs=[Rule(key="a", converter="lowercase"), Rule(key="a")])]
    res, ann, clean = run_parity(spark, rules, [{"s": value}], schema)
    assert res.clean.schema["s"].dataType.simpleString() == want_type
    assert not repeated_fields(res.clean.schema)
    got = clean[0]["s"]
    got = [e.asDict() for e in got] if isinstance(got, list) else got.asDict()
    assert got == want
    assert_parity(spark, rules, [{"s": value}], schema)


def test_rule_or_conflicting_output_types_rejected(spark):
    # the same rules at top level or in two zipped rule-sets raise too
    df = spark.createDataFrame([("X",)], "a string")
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(None)
    with pytest.raises(SpecError, match="conflicting output types for key 'a'"):
        validate(df, [RuleOr([Rule(key="a", converter="to_int"), Rule(key="a")])])
    assert tracker.getJobIdsForGroup(None) == jobs
