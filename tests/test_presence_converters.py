"""Presence (suite :738-815) and converter (suite :646-733) parity tests."""

import pytest

from evalidate_spark import validate
from evalidate_spark.spec import (
    CustomConverter,
    Default,
    Each,
    Rule,
    Size,
    SpecError,
    Type,
)
from helpers import assert_parity, run_parity


def test_presence_required_missing(spark):
    rules = [Rule(key="k", presence="required")]
    assert_parity(spark, rules, [{"k": None}, {"k": "v"}], "k string")


def test_presence_optional(spark):
    rules = [Rule(key="k", presence="optional", validators=[Type("binary")])]
    assert_parity(spark, rules, [{"k": None}, {"k": "v"}], "k string")


def test_presence_default(spark):
    # {optional, Default}: validators/converter skipped on the default
    # (/root/reference/src/evalidate.erl:117)
    rules = [Rule(key="k", presence=Default("deflt"), validators=[Size(100, 200)])]
    assert_parity(spark, rules, [{"k": None}], "k string")


def test_presence_deprecated(spark):
    rules = [Rule(key="k", presence="deprecated")]
    assert_parity(spark, rules, [{"k": "present"}, {"k": None}], "k string")


def test_missing_column_entirely(spark):
    # key not in the schema at all → static required violation
    rules = [Rule(key="nope", presence="required"), Rule(key="k")]
    res, ann, clean = run_parity(spark, rules, [{"k": "x"}], "k string")
    assert ann[0]["first_error"]["message"] == "Key 'nope' is required"


def test_converters(spark):
    # suite :646-733
    rules = [
        Rule(key="int", converter="to_int"),
        Rule(key="float", converter="to_float"),
        Rule(key="bool", converter="to_boolean"),
        Rule(key="bin", converter="to_binary"),
        Rule(key="dups", converter="filter_duplicates"),
        Rule(key="low", converter=Each("lowercase")),
    ]
    rows = [
        {
            "int": "124545",
            "float": "1.241",
            "bool": "false",
            "bin": 42,
            "dups": [1, 1, 1, 1, 2, 2, 2],
            "low": ["AA", "Bb"],
        }
    ]
    schema = (
        "int string, float string, bool string, bin bigint, "
        "dups array<int>, low array<string>"
    )
    assert_parity(spark, rules, rows, schema)


def test_convert_error_message(spark):
    # suite :701: exact "Couldn't convert value '…' for key '…' " (trailing space)
    rules = [Rule(key="k", converter="to_int")]
    res, ann, clean = run_parity(spark, rules, [{"k": "not-an-int"}], "k string")
    assert ann[0]["first_error"]["message"] == "Couldn't convert value 'not-an-int' for key 'k' "
    assert_parity(spark, rules, [{"k": "not-an-int"}, {"k": "17"}], "k string")


def test_no_return_drops_key(spark):
    # suite :660,:673-685
    rules = [Rule(key="drop_me", converter="no_return"), Rule(key="keep")]
    res, ann, clean = run_parity(
        spark, rules, [{"drop_me": "x", "keep": "y"}], "drop_me string, keep string"
    )
    assert "drop_me" not in clean[0].asDict()
    assert clean[0]["keep"] == "y"


def test_filter_duplicates_proplist(spark):
    # keyed dedupe, first occurrence wins (/root/reference/src/evalidate.erl:237-248)
    rules = [Rule(key="pl", converter="filter_duplicates")]
    rows = [{"pl": [("a", "1"), ("b", "2"), ("a", "3")]}]
    assert_parity(spark, rules, rows, "pl array<struct<k string, v string>>")


def test_custom_converter(spark):
    rules = [
        Rule(
            key="k",
            converter=CustomConverter(lambda v: v.upper(), out_type="string"),
        )
    ]
    assert_parity(spark, rules, [{"k": "abc"}], "k string")


def test_custom_converter_error_protocol(spark):
    # fn returns ('error', msg) → raw thrown message
    # (/root/reference/src/evalidate.erl:194-198)
    rules = [
        Rule(
            key="k",
            converter=CustomConverter(lambda v: ("error", "boom"), out_type="string"),
        )
    ]
    res, ann, clean = run_parity(spark, rules, [{"k": "x"}], "k string")
    assert ann[0]["first_error"]["message"] == "boom"


def test_custom_converter_crash(spark):
    rules = [
        Rule(key="k", converter=CustomConverter(lambda v: 1 / 0, out_type="string"))
    ]
    res, ann, clean = run_parity(spark, rules, [{"k": "x"}], "k string")
    assert ann[0]["first_error"]["message"] == "Couldn't convert value 'x' for key 'k' "


@pytest.mark.parametrize("shape", ["element_child", "each"])
def test_custom_converter_inside_elements_rejected(spark, shape):
    # a pandas UDF cannot run inside the element lambda: a SpecError at
    # compile time, worded like the custom-validator one, not Spark's
    # LAMBDA_FUNCTION_WITH_PYTHON_UDF analysis error
    upper = CustomConverter(lambda v: v.upper(), out_type="string")
    if shape == "element_child":
        rules = [Rule(key="s", childs=[Rule(key="k", converter=upper)])]
        df = spark.createDataFrame([("d", [("a",)])], "id string, s array<struct<k:string>>")
    else:
        rules = [Rule(key="t", converter=Each(upper))]
        df = spark.createDataFrame([("d", ["a"])], "id string, t array<string>")
    with pytest.raises(SpecError, match="custom converters inside array-element rules"):
        validate(df, rules)


def test_multiple_keys(spark):
    # suite :1284-1309 — key list expands the rule over each key
    rules = [Rule(key=["a", "b"], validators=[Type("binary"), Size(1, 5)])]
    rows = [{"a": "ok", "b": "fine"}, {"a": "ok", "b": "way-too-long"}]
    assert_parity(spark, rules, rows, "a string, b string")
