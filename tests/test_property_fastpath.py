"""Property-based rich ⇄ fastpath equivalence: for random specs and rows,
``compile_fail_predicate`` must equal ``size(violations) > 0`` of the rich
compiler — the invariant that makes default gating safe — and the default
row- and element-gated ``validate()`` must produce the ungated violation
rows.  (Both round-1
fastpath bugs were equivalence violations exactly here.)"""

from collections import Counter

import hypothesis.strategies as st
from hypothesis import HealthCheck, given, settings

import pytest

from pyspark.sql import functions as F

from evalidate_spark import validate
from evalidate_spark.fastpath import compile_fail_predicate
from evalidate_spark.spec import Allowed, Default, Regexp, Rule, RuleAnd, RuleOr, Size, SpecError, Type

SCHEMA = (
    "s string, n bigint, arr array<string>, "
    "obj struct<a string, b bigint>, "
    "items array<struct<kind string, off bigint>>, "
    "attrs map<string,string>"
)

ROW = st.fixed_dictionaries(
    {
        "s": st.sampled_from([None, "", "ok", "way-too-long-string-value", "<tag>"]),
        "n": st.sampled_from([None, 0, 5, 1000]),
        "arr": st.sampled_from([None, [], ["a"], ["a", "b", "a"], ["x"] * 6]),
        "obj": st.sampled_from(
            [None, {"a": "x", "b": 1}, {"a": None, "b": None}, {"a": "yyyy", "b": 9}]
        ),
        "items": st.sampled_from(
            [
                None,
                [],
                [{"kind": "text", "off": 0}],
                [{"kind": "bogus", "off": -1}, {"kind": None, "off": 3}],
            ]
        ),
        "attrs": st.sampled_from(
            [None, {}, {"k": "v"}, {"k": None}, {"lang": "zz", "k": "v"}]
        ),
    }
)

SCALAR_VALIDATORS = st.one_of(
    st.builds(Type, st.sampled_from(["binary", "integer", "list"])),
    st.builds(Size, st.sampled_from([0, 1, 2]), st.sampled_from([3, 10, None])),
    st.builds(Regexp, st.sampled_from(["^o", "ok$", "[a-z]+"])),
    st.builds(Allowed, st.just(["ok", "a", 5])),
)

PRESENCE = st.sampled_from(["required", "optional", Default("d"), "deprecated"])

FLAT_RULE = st.builds(
    Rule,
    key=st.sampled_from(["s", "n", "arr", "missing"]),
    presence=PRESENCE,
    validators=st.lists(SCALAR_VALIDATORS, max_size=2),
    converter=st.sampled_from([None, "to_binary", "to_int", "no_return"]),
)

NESTED_RULE = st.one_of(
    st.builds(
        Rule,
        key=st.just("obj"),
        presence=st.sampled_from(["required", "optional"]),
        childs=st.lists(
            st.builds(
                Rule,
                key=st.sampled_from(["a", "b"]),
                presence=PRESENCE,
                validators=st.lists(SCALAR_VALIDATORS, max_size=1),
            ),
            min_size=1,
            max_size=2,
        ),
    ),
    st.builds(
        Rule,
        key=st.just("items"),
        presence=st.sampled_from(["required", "optional"]),
        childs=st.lists(
            st.builds(
                Rule,
                key=st.sampled_from(["kind", "off"]),
                presence=st.sampled_from(["required", "optional"]),
                validators=st.lists(SCALAR_VALIDATORS, max_size=1),
            ),
            min_size=1,
            max_size=2,
        ),
    ),
    st.builds(
        Rule,
        key=st.just("attrs"),
        presence=st.sampled_from(["required", "optional"]),
        childs=st.lists(
            st.builds(
                Rule,
                key=st.sampled_from(["k", "lang", "absent"]),
                presence=PRESENCE,
                validators=st.lists(SCALAR_VALIDATORS, max_size=1),
            ),
            min_size=1,
            max_size=2,
        ),
    ),
)

NODE = st.one_of(
    FLAT_RULE,
    NESTED_RULE,
    st.builds(RuleOr, rules=st.lists(FLAT_RULE, min_size=2, max_size=2)),
    st.builds(
        RuleAnd,
        rules=st.lists(st.one_of(FLAT_RULE, NESTED_RULE), min_size=1, max_size=2),
        on_error=st.sampled_from([None, "combo failed"]),
    ),
)

RULES = st.lists(NODE, min_size=1, max_size=3)


@pytest.fixture(scope="module")
def spark_holder(spark):
    return spark


@settings(
    max_examples=15,
    deadline=None,
    derandomize=True,
    suppress_health_check=list(HealthCheck),
)
@given(rules=RULES, rows=st.lists(ROW, min_size=6, max_size=6))
def test_fastpath_equals_rich(spark_holder, rules, rows):
    spark = spark_holder
    names = ["s", "n", "arr", "obj", "items", "attrs"]
    data = [tuple([i] + [r.get(f) for f in names]) for i, r in enumerate(rows)]
    df = spark.createDataFrame(data, f"__idx int, {SCHEMA}")
    try:
        rich = (
            validate(df, rules, gate_fast=False, id_cols=["__idx"])
            .annotated.select("__idx", (F.size("violations") > 0).alias("rf"))
            .collect()
        )
    except SpecError:
        return  # config-rejected spec — gating never reached
    # if the rich compile accepted the spec, the predicate compile MUST
    # accept it too (a SpecError here would crash default-gated validate())
    fast = df.select(
        "__idx",
        F.coalesce(compile_fail_predicate(rules, df.schema), F.lit(False)).alias("ff"),
    ).collect()
    got_r = {r["__idx"]: r["rf"] for r in rich}
    got_f = {r["__idx"]: r["ff"] for r in fast}
    assert got_r == got_f, (rules, rows)
    # the default validate() gates rows AND array elements on that predicate;
    # its full violation rows (all six columns) must equal the ungated ones
    cols = ["__idx", "rule_seq", "rule_id", "key_path", "span_index", "message", "value_repr"]

    def viol_rows(gate_fast):
        v = validate(df, rules, gate_fast=gate_fast, id_cols=["__idx"]).violations
        assert v.columns == cols
        return Counter(tuple(r) for r in v.collect())

    assert viol_rows(True) == viol_rows(False), (rules, rows)
