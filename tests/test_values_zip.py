"""Bare single-value validation (suite ``test/evalidate_SUITE.erl:1805-1864``)
and zipped rule-sets dispatch (``:1145-1180``) — transliterated from the
reference suite groups `single_value` and `data_struct`."""

import pytest

from pyspark.sql import functions as F

from evalidate_spark import (
    Each,
    Rule,
    RuleAnd,
    RuleOr,
    Size,
    SpecError,
    Type,
    ValidationError,
    validate_value,
    validate_values,
    validate_zipped,
)
from evalidate_spark import lib, oracle as O


class TestSingleValue:
    # single_value_validation_pos1 (:1836-1849)
    def test_pos_int(self, spark):
        rule = Rule(validators=[lib.v_binary_integer()], converter="to_int")
        assert validate_value(spark, rule, 1234) == 1234

    # single_value_validation_pos2 (:1851-1864)
    def test_pos_binary_int(self, spark):
        rule = Rule(validators=[lib.v_binary_integer()], converter="to_int")
        assert validate_value(spark, rule, "1234") == 1234

    # single_value_validation_neg1 (:1805-1819) — undefined + on_validate_error
    def test_neg_undefined_on_error(self, spark):
        rule = Rule(
            validators=[lib.v_binary_integer()],
            converter="to_int",
            on_error="Error validate single message",
        )
        res = validate_value(spark, rule, None, mode="soft")
        assert res == (
            "error",
            {
                "message": "Error validate single message",
                "key": "none",
                "value": "undefined",
            },
        )

    # single_value_validation_neg2 (:1821-1834) — undefined → default message
    def test_neg_undefined_default(self, spark):
        rule = Rule(validators=[lib.v_binary_integer()], converter="to_int")
        res = validate_value(spark, rule, None, mode="soft")
        assert res == (
            "error",
            {"message": "Value is not valid", "key": "none", "value": "undefined"},
        )

    def test_hard_mode_raises(self, spark):
        rule = Rule(validators=[lib.v_binary_integer()], converter="to_int")
        with pytest.raises(ValidationError, match="Value is not valid"):
            validate_value(spark, rule, "not-an-int")

    # list_validating_pos1 (:1869-1885) — element validators + Each converter
    def test_list_value_each_lowercase(self, spark):
        rule = Rule(
            validators=[Type(("list", [Type("binary"), Size(1, 10)]))],
            converter=Each("lowercase"),
        )
        assert validate_value(spark, rule, ["ABC", "Def"]) == ["abc", "def"]

    def test_rule_or_over_values(self, spark):
        rules = RuleOr(
            rules=[
                Rule(validators=[Type("integer")]),
                Rule(validators=[Type("binary"), Size(1, 3)]),
            ]
        )
        assert validate_value(spark, rules, "ab") == "ab"
        res = validate_value(spark, rules, "too-long-string", mode="soft")
        assert res[0] == "error"
        assert " or " in res[1]["message"]

    def test_keyed_rule_rejected(self, spark):
        with pytest.raises(SpecError, match="keyless"):
            validate_value(spark, Rule(key="k"), "x")

    def test_message_parity_with_oracle(self, spark):
        rule = Rule(validators=[Type("binary"), Size(2, 5)], converter="to_binary")
        for v in ["ok", "x", "way-too-long", 7]:
            expect = O.first_error(rule, v)
            res = validate_value(spark, rule, v, mode="soft")
            if expect is None:
                assert res[0] == "ok"
            else:
                exp_msg = expect["message"] if isinstance(expect, dict) else expect
                assert res[1]["message"] == exp_msg

    def test_multi_rule_output_matches_oracle(self, spark):
        # multiple keyless rules: every rule's checks fire, output is the
        # LAST rule's conversion (proplist dict-overwrite on the none key,
        # same as the oracle)
        rules = [
            Rule(validators=[Size(1, 10)], converter="to_int"),
            Rule(validators=[Type("binary")]),
        ]
        assert validate_value(spark, rules, "7") == O.validate_and_convert(rules, "7")[None]
        res = validate_value(spark, rules, "way-too-long-value", mode="soft")
        expect = O.first_error(rules, "way-too-long-value")
        assert res[1]["message"] == (
            expect["message"] if isinstance(expect, dict) else expect
        )

    @pytest.mark.parametrize("shape", ["top_level", "rule_and"])
    def test_trailing_no_return_keeps_last_emitted_output(self, spark, shape):
        # a no_return part emits no pair, so the output before it stands
        parts = [Rule(converter="to_int"), Rule(converter="no_return")]
        rules = parts if shape == "top_level" else RuleAnd(rules=parts)
        assert validate_value(spark, rules, "5") == O.validate_and_convert(rules, "5")[None] == 5

    def test_column_of_values(self, spark):
        df = spark.createDataFrame(
            [(1, "Abc"), (2, "x"), (3, None)], "i int, value string"
        )
        rule = Rule(validators=[Size(2, 10)], converter="lowercase")
        res = validate_values(df, rule, "value", id_cols=["i"])
        viol = {r["i"]: r for r in res.failed.select("i", "first_error.*").collect()}
        # row 2: too short; row 3: NULL ≡ undefined — size crashes on the
        # atom in the reference, pinned as the default message
        assert set(viol) == {2, 3}
        assert viol[2]["message"].endswith("less than minimum allowed: 2")
        assert viol[2]["key_path"] == "none"
        clean = {r["i"]: r["value"] for r in res.clean.collect()}
        assert clean == {1: "abc"}


class TestValuesProperty:
    def test_scalar_values_match_oracle(self, spark):
        """Grid of rules × values through validate_values vs the oracle —
        first-message parity on a whole value column in one job per rule."""
        from evalidate_spark import Allowed, Regexp

        rule_grid = [
            Rule(validators=[Type("binary")]),
            Rule(validators=[Type("binary"), Size(2, 4)]),
            Rule(validators=[Size(0, 10)], converter="to_int"),
            Rule(validators=[Regexp("^a+$")]),
            Rule(validators=[Allowed(["a", "bb"])]),
            Rule(validators=[Type("binary")], on_error="bad {{value}} at {{key}}"),
            Rule(converter="to_int"),
            Rule(converter="to_boolean"),
        ]
        values = ["a", "bb", "ccccc", "7", "true", "not-int", "", None]
        df = spark.createDataFrame(
            [(i, v) for i, v in enumerate(values)], "i int, value string"
        )
        for rule in rule_grid:
            res = validate_values(df, rule, "value", id_cols=["i"])
            got = {
                r["i"]: (r["first_error"]["message"] if r["first_error"] else None)
                for r in res.annotated.select("i", "first_error").collect()
            }
            for i, v in enumerate(values):
                try:
                    expect = O.first_error(rule, v)
                except SpecError:
                    # validator crashes on the undefined atom in the
                    # reference (e.g. size on undefined) — pinned to the
                    # generic default message by the engine's null probe
                    expect = "Value is not valid"
                exp_msg = (
                    None
                    if expect is None
                    else (expect["message"] if isinstance(expect, dict) else expect)
                )
                assert got[i] == exp_msg, (rule, v, got[i], exp_msg)


def _zip_schema():
    return (
        "rsid int, OtherLevel string, "
        "Ip1 struct<NestedIp1:struct<NestedIp2:string>>, "
        "Ip2 struct<NestedIp1:struct<NestedIp2:string>>, "
        "Ip3 string"
    )


def _zip_rulesets():
    # test_data_struct (:1145-1180): Rules0 over row 0, Rules1 over row 1
    nested_lev2 = [Rule(key="NestedIp2")]
    nested_lev1 = [Rule(key="NestedIp1", childs=nested_lev2)]
    rules0 = [Rule(key="OtherLevel")]
    rules1 = [
        Rule(key="Ip1", childs=nested_lev1),
        Rule(key="Ip2", childs=nested_lev1),
        Rule(key="Ip3"),
    ]
    return [rules0, rules1]


class TestZippedRulesets:
    def test_zip_positive_roundtrip(self, spark):
        ip = "192.168.1.241"
        nested = {"NestedIp1": {"NestedIp2": ip}}
        df = spark.createDataFrame(
            [(0, ip, None, None, None), (1, None, nested, nested, ip)],
            _zip_schema(),
        )
        res = validate_zipped(df, _zip_rulesets(), "rsid", id_cols=["rsid"])
        assert res.violations.count() == 0
        clean = {r["rsid"]: r for r in res.clean.collect()}
        assert clean[0]["OtherLevel"] == ip and clean[0]["Ip3"] is None
        assert clean[1]["Ip3"] == ip
        assert clean[1]["Ip1"]["NestedIp1"]["NestedIp2"] == ip
        assert clean[1]["OtherLevel"] is None

    def test_zip_dispatch_violations(self, spark):
        ip = "192.168.1.241"
        nested = {"NestedIp1": {"NestedIp2": ip}}
        df = spark.createDataFrame(
            [
                (0, None, None, None, None),  # missing OtherLevel for rules0
                (1, None, nested, nested, None),  # missing Ip3 for rules1
                (7, ip, nested, nested, ip),  # no such rule-set
            ],
            _zip_schema(),
        )
        res = validate_zipped(df, _zip_rulesets(), "rsid", id_cols=["rsid"])
        got = {r["rsid"]: r["message"] for r in res.violations.collect()}
        assert got[0] == "Key 'OtherLevel' is required"
        assert got[1] == "Key 'Ip3' is required"
        assert got[7].startswith("No rule-set for rsid=7")

    def test_zip_rowwise_oracle_parity(self, spark):
        ip = "192.168.1.241"
        nested = {"NestedIp1": {"NestedIp2": ip}}
        rows = [
            (0, ip, None, None, None),
            (0, None, nested, None, ip),  # fails rules0
            (1, None, nested, nested, ip),
            (1, None, nested, nested, None),  # fails rules1
        ]
        df = spark.createDataFrame(rows, _zip_schema())
        res = validate_zipped(df, _zip_rulesets(), "rsid", id_cols=["rsid"])
        ann = res.annotated.select("rsid", "OtherLevel", "first_error").collect()
        rulesets = _zip_rulesets()

        def to_dict(row):
            d = {}
            if row[1] is not None:
                d["OtherLevel"] = row[1]
            for k, v in zip(("Ip1", "Ip2"), (row[2], row[3])):
                if v is not None:
                    d[k] = v
            if row[4] is not None:
                d["Ip3"] = row[4]
            return d

        for row, srow in zip(rows, ann):
            expect = O.first_error(rulesets[row[0]], to_dict(row))
            if expect is None:
                assert srow["first_error"] is None
            else:
                exp_msg = expect["message"] if isinstance(expect, dict) else expect
                assert srow["first_error"]["message"] == exp_msg

    def test_zip_conflicting_output_types_rejected(self, spark):
        df = spark.createDataFrame([(0, "5")], "rsid int, k string")
        with pytest.raises(SpecError, match="conflicting output types"):
            validate_zipped(
                df,
                [[Rule(key="k", converter="to_int")], [Rule(key="k")]],
                "rsid",
            )
