"""Predicate-only fast path: fail predicate ≡ (size(violations) > 0) of the
rich engine on the violation-injected fixture; scan pruning verified from
the executed plan."""

import re
from collections import Counter

import pytest

from pyspark.sql import functions as _F
from pyspark.sql import functions as F

from evalidate_spark import Default, Rule, RuleAnd, RuleOr, Allowed, Regexp, Size, Type, validate
from evalidate_spark.fastpath import _SET_FORM_MAX_VALUES, compile_fail_predicate, verdict_scan
from evalidate_spark.fixtures import gen_documents
from evalidate_spark.operators.spans import span_rules


def assert_equiv(df, rules, id_col="doc_id"):
    rich = validate(df, rules, gate_fast=False, id_cols=[id_col]).annotated.select(
        F.monotonically_increasing_id().alias("i"),
        (F.size("violations") > 0).alias("rich_fail"),
    )
    fast = df.select(
        F.monotonically_increasing_id().alias("i"),
        F.coalesce(compile_fail_predicate(rules, df.schema), F.lit(False)).alias("fast_fail"),
    )
    j = rich.join(fast, "i")
    assert j.filter(F.col("rich_fail") != F.col("fast_fail")).count() == 0
    assert rich.filter("rich_fail").count() > 0  # fixture must exercise failures


def _rows(df):
    return Counter(repr(tuple(r)) for r in df.collect())


def assert_gated_equals_ungated(df, rules, id_col="doc_id"):
    """Default (row- and element-gated) validate() ≡ the ungated reference:
    full violation rows (all six columns), verdicts, clean and failed rows."""
    gated = validate(df, rules, id_cols=[id_col])
    ref = validate(df, rules, id_cols=[id_col], gate_fast=False)
    assert gated.fail is not None and ref.fail is None
    cols = [id_col, "rule_seq", "rule_id", "key_path", "span_index", "message", "value_repr"]
    assert gated.violations.columns == ref.violations.columns == cols
    want = _rows(ref.violations)
    assert _rows(gated.violations) == want
    assert want, "fixture must exercise failures"
    assert _rows(gated.verdicts) == _rows(ref.verdicts)
    assert _rows(gated.clean) == _rows(ref.clean)
    assert _rows(gated.failed) == _rows(ref.failed)


def assert_equiv_no_require_fail(df, rules):
    rich = validate(df, rules, gate_fast=False).annotated.select(
        _F.monotonically_increasing_id().alias("i"),
        (_F.size("violations") > 0).alias("rich_fail"),
    )
    fast = df.select(
        _F.monotonically_increasing_id().alias("i"),
        _F.coalesce(compile_fail_predicate(rules, df.schema), _F.lit(False)).alias("fast_fail"),
    )
    j = rich.join(fast, "i")
    mism = j.filter(_F.col("rich_fail") != _F.col("fast_fail")).count()
    assert mism == 0
    assert rich.filter("rich_fail").count() > 0


class TestFastPath:
    def test_span_rules_equiv_on_fixture(self, spark):
        docs = gen_documents(spark, 3000, partitions=4)
        assert_equiv(docs, span_rules())

    def test_flat_rules_equiv(self, spark):
        df = spark.createDataFrame(
            [("d1", "hello", "en"), (None, "x", "en"), ("d3", None, "zz"), ("d4", "okay!", "es")],
            "doc_id string, text string, lang string",
        )
        rules = [
            Rule(key="doc_id"),
            Rule(key="text", validators=[Type("binary"), Size(3, 10)]),
            Rule(key="lang", validators=[Allowed(["en", "es"])]),
            Rule(key="absent"),
            RuleOr(rules=[Rule(key="lang", validators=[Allowed(["en"])]),
                          Rule(key="text", validators=[Size(1, 5)])]),
            RuleAnd(rules=[Rule(key="doc_id", validators=[Size(1, 99)])]),
        ]
        rich = validate(df, rules, id_cols=["doc_id"]).annotated.select(
            "text", (F.size("violations") > 0).alias("rf")
        ).collect()
        fast = df.select(
            "text", F.coalesce(compile_fail_predicate(rules, df.schema), F.lit(False)).alias("ff")
        ).collect()
        assert {(r["text"], r["rf"]) for r in rich} == {(r["text"], r["ff"]) for r in fast}

    def test_verdict_scan_equals_rich_verdicts(self, spark):
        docs = gen_documents(spark, 2000, partitions=4)
        rich = validate(docs, span_rules(), id_cols=["doc_id"], gate_fast=False).verdicts
        fast = verdict_scan(docs, span_rules())
        key = lambda rows: {r["partition_id"]: (r["rows"], r["passed"], r["failed"], r["verdict"]) for r in rows}
        assert key(fast.collect()) == key(rich.collect())

    def test_scan_is_pruned(self, spark, tmp_path):
        path = str(tmp_path / "docs")
        gen_documents(spark, 500, partitions=2).write.parquet(path)
        docs = spark.read.parquet(path)
        plan = verdict_scan(docs, span_rules())._jdf.queryExecution().executedPlan().toString()
        m = re.search(r"ReadSchema: (\S+)", plan)
        assert m, plan
        schema = m.group(1)
        assert "text" not in schema and "media_ref" not in schema
        assert "kind" in schema and "offset" in schema

    def test_verdict_predicate_in_whole_stage_codegen(self, spark, tmp_path):
        # span element checks compile to codegen'd collection built-ins, so
        # ColumnarToRow, the predicate and the partial aggregate share one
        # codegen stage: no interpreted lambda, the same pruned scan
        path = str(tmp_path / "docs_codegen")
        gen_documents(spark, 500, partitions=2).write.parquet(path)
        res = verdict_scan(spark.read.parquet(path), span_rules())
        res.collect()  # the final (adaptive) plan carries the codegen stage ids
        plan = res._jdf.queryExecution().executedPlan().toString()
        assert "lambdafunction" not in plan, plan
        pred = re.search(r"(\*\(\d+\) )?Project \[SPARK_PARTITION_ID\(\).*", plan)
        assert pred and pred.group(1), plan
        # required finds NULL elements with linear array_contains scans
        assert "array_contains(" in pred.group(0), plan
        stage = pred.group(1)
        assert stage + "ColumnarToRow" in plan and stage + "HashAggregate" in plan, plan
        assert re.findall(r"ReadSchema: (\S+)", plan)[0] == (
            "struct<doc_id:string,spans:array<struct<kind:string,offset:int>>>"
        )

    def test_annotated_plan_is_shuffle_free(self, spark, tmp_path):
        # the rich validation pass is ONE fused projection: scan → project,
        # zero exchanges — the property that makes it scale linearly
        path = str(tmp_path / "docs_plan")
        gen_documents(spark, 300, partitions=2).write.parquet(path)
        docs = spark.read.parquet(path)
        ann = validate(docs, span_rules(), id_cols=["doc_id"]).annotated
        plan = ann._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan

    def test_verdict_scan_single_exchange(self, spark, tmp_path):
        # verdict roll-up: scan → fused boolean → partial agg → ONE
        # exchange of ≤ #partitions rows → final agg
        path = str(tmp_path / "docs_plan2")
        gen_documents(spark, 300, partitions=2).write.parquet(path)
        docs = spark.read.parquet(path)
        plan = (
            verdict_scan(docs, span_rules())
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert plan.count("Exchange hashpartitioning") == 1, plan

    def test_converter_failures_in_predicate(self, spark):
        # rows failing ONLY through conversion must still fail the predicate
        df = spark.createDataFrame(
            [("d1", "12"), ("d2", "oops"), ("d3", None)], "doc_id string, n_str string"
        )
        rules = [Rule(key="doc_id"), Rule(key="n_str", presence="optional", converter="to_int")]
        assert_equiv_no_require_fail(df, rules)

    def test_custom_validator_rejected(self, spark):
        from evalidate_spark.spec import CustomValidator, SpecError

        df = spark.createDataFrame([("a",)], "k string")
        rules = [Rule(key="k", validators=[CustomValidator(lambda v: True)])]
        with pytest.raises(SpecError, match="predicate-only"):
            compile_fail_predicate(rules, df.schema)

    def test_scalar_converter_on_array_is_spec_error(self, spark):
        # a Spark cast of array → bigint fails analysis; both compiles
        # reject the spec up front instead
        from evalidate_spark.spec import SpecError

        df = spark.createDataFrame([("d1", ["1"])], "doc_id string, arr array<string>")
        rules = [Rule(key="arr", converter="to_int")]
        with pytest.raises(SpecError, match="cannot convert"):
            validate(df, rules)
        with pytest.raises(SpecError, match="cannot convert"):
            compile_fail_predicate(rules, df.schema)

    def test_doubly_nested_array_childs(self, spark):
        # array<struct> nested inside array<struct> childs: the predicate
        # path must resolve inner fields via element lambdas, not root
        # F.col dotted paths (which fail analysis)
        df = spark.createDataFrame(
            [
                ("d1", [{"name": "a", "inner": [{"kind": "text", "v": 1}]}]),
                ("d2", [{"name": "b", "inner": [{"kind": "bogus", "v": 2}]}]),
                ("d3", [{"name": None, "inner": [{"kind": "media", "v": None}]}]),
                ("d4", [{"name": "c", "inner": []}]),
            ],
            "doc_id string, docs array<struct<name:string, inner:array<struct<kind:string, v:int>>>>",
        )
        rules = [
            Rule(key="doc_id"),
            Rule(
                key="docs",
                childs=[
                    Rule(key="name"),
                    Rule(
                        key="inner",
                        childs=[
                            Rule(key="kind", validators=[Allowed(["text", "media"])]),
                            Rule(key="v", presence="optional", validators=[Size(0, 10)]),
                        ],
                    ),
                ],
            ),
        ]
        assert_equiv_no_require_fail(df, rules)
        # and the default gated validate() must agree with the ungated one
        gated = validate(df, rules).annotated.select(
            "doc_id", F.size("violations").alias("n")
        ).collect()
        rich = validate(df, rules, gate_fast=False).annotated.select(
            "doc_id", F.size("violations").alias("n")
        ).collect()
        assert {(r["doc_id"], r["n"]) for r in gated} == {(r["doc_id"], r["n"]) for r in rich}
        assert_gated_equals_ungated(df, rules)

    def test_childs_with_converter_fail_gated(self, spark):
        # converter over struct-childs output: the rich path emits a
        # "Couldn't convert" violation (filter_duplicates on a struct);
        # the gate predicate must not drop it
        df = spark.createDataFrame(
            [("d1", {"k": "x"})], "doc_id string, obj struct<k:string>"
        )
        rules = [
            Rule(key="doc_id"),
            Rule(key="obj", childs=[Rule(key="k")], converter="filter_duplicates"),
        ]
        rich_n = (
            validate(df, rules, gate_fast=False)
            .annotated.select(F.size("violations").alias("n"))
            .collect()[0]["n"]
        )
        gated_n = (
            validate(df, rules)
            .annotated.select(F.size("violations").alias("n"))
            .collect()[0]["n"]
        )
        assert rich_n == 1
        assert gated_n == rich_n

    def test_deprecated_and_default(self, spark):
        df = spark.createDataFrame(
            [("a", "x"), ("b", None)], "doc_id string, legacy string"
        )
        rules = [Rule(key="doc_id"), Rule(key="legacy", presence="deprecated")]
        fast = df.select(
            "doc_id", compile_fail_predicate(rules, df.schema).alias("f")
        ).collect()
        assert {r["doc_id"]: r["f"] for r in fast} == {"a": True, "b": False}


ITEMS = "doc_id string, items array<struct<kind:string, off:bigint, n_str:string, lang:string>>"


def _item(kind="text", off=0, n_str="1", lang="en"):
    return {"kind": kind, "off": off, "n_str": n_str, "lang": lang}


class TestElementGate:
    """Inside a failing row, each array element builds its violation
    structs only when its own fail condition holds; these fixed cases mix
    passing and failing elements in the same row and pin the full violation
    rows to the ungated reference."""

    def test_span_rules_rows_on_fixture(self, spark):
        docs = gen_documents(spark, 3000, partitions=4)
        assert_gated_equals_ungated(docs, span_rules())

    def test_array_of_maps(self, spark):
        df = spark.createDataFrame(
            [
                ("d1", [{"k": "v", "lang": "en"}, {"k": None}, {}, {"k": "vv", "old": "x"}]),
                ("d2", [{"k": "v", "lang": "zz"}, {"k": "v"}]),
                ("d3", None),
                ("d4", []),
                ("d5", [{"k": "ok", "lang": "es"}]),
            ],
            "doc_id string, tags array<map<string,string>>",
        )
        rules = [
            Rule(key="doc_id"),
            Rule(
                key="tags",
                presence="optional",
                childs=[
                    Rule(key="k", validators=[Size(1, 2)]),
                    Rule(key="lang", presence="optional", validators=[Allowed(["en", "es"])]),
                    Rule(key="old", presence="deprecated"),
                ],
            ),
        ]
        assert_gated_equals_ungated(df, rules)

    def test_rule_or_and_on_error_in_elements(self, spark):
        df = spark.createDataFrame(
            [
                ("d1", [_item(), _item(kind="bogus", n_str="toolong"), _item(kind="media")]),
                ("d2", [_item(kind="bogus", n_str=None), _item(off=None)]),
                ("d3", [_item()]),
            ],
            ITEMS,
        )
        rules = [
            Rule(key="doc_id"),
            Rule(
                key="items",
                childs=[
                    RuleOr(
                        rules=[
                            Rule(key="kind", validators=[Allowed(["text"])]),
                            Rule(key="n_str", validators=[Size(1, 3)]),
                        ]
                    ),
                    RuleOr(
                        rules=[
                            Rule(key="kind", validators=[Allowed(["media"])]),
                            Rule(key="off"),
                        ],
                        on_error="media needs no offset",
                    ),
                    RuleAnd(
                        rules=[Rule(key="off"), Rule(key="lang", validators=[Allowed(["en"])])],
                        on_error="offset and language",
                    ),
                    RuleAnd(rules=[Rule(key="kind", validators=[Size(1, 4)])]),
                ],
            ),
        ]
        assert_gated_equals_ungated(df, rules)

    def test_converters_and_default_in_elements(self, spark):
        df = spark.createDataFrame(
            [
                ("d1", [_item(n_str="12"), _item(n_str="oops"), _item(n_str=None, lang=None)]),
                ("d2", [_item(lang="fr"), _item(lang=None)]),
                ("d3", [_item(n_str="7", lang=None)]),
            ],
            ITEMS,
        )
        rules = [
            Rule(key="doc_id"),
            Rule(
                key="items",
                childs=[
                    Rule(key="kind", validators=[Type("binary")], converter="to_binary"),
                    Rule(key="n_str", presence="optional", converter="to_int"),
                    Rule(key="lang", presence=Default("en"), validators=[Allowed(["en", "es"])]),
                    Rule(key="off", converter="no_return"),
                ],
            ),
        ]
        assert_gated_equals_ungated(df, rules)

    def test_required_child_missing_from_element_schema(self, spark):
        df = spark.createDataFrame(
            [
                ("d1", [_item(), _item(kind="bogus")]),
                ("d2", []),
                ("d3", None),
            ],
            ITEMS,
        )
        rules = [
            Rule(key="doc_id"),
            Rule(
                key="items",
                presence="optional",
                childs=[
                    Rule(key="kind", validators=[Allowed(["text"])]),
                    Rule(key="absent_required"),
                    Rule(key="absent_optional", presence="optional"),
                ],
            ),
        ]
        assert_gated_equals_ungated(df, rules)

    def test_input_column_named_violations(self, spark):
        # annotated replaces the input's `violations` column, so pass/fail
        # must not be re-read from a predicate over that name
        df = spark.createDataFrame(
            [("d1", "ok"), ("d2", "way too long")], "doc_id string, violations string"
        )
        rules = [Rule(key="doc_id"), Rule(key="violations", validators=[Size(1, 3)])]
        gated = validate(df, rules, id_cols=["doc_id"])
        ref = validate(df, rules, id_cols=["doc_id"], gate_fast=False)
        assert [r["doc_id"] for r in gated.failed.collect()] == ["d2"]
        assert _rows(gated.violations) == _rows(ref.violations)
        assert _rows(gated.verdicts) == _rows(ref.verdicts)

    def test_plan_shapes(self, spark, tmp_path):
        # verdicts read the pruned predicate and build no violation arrays;
        # violations explode the gated array: the predicate is evaluated
        # once, inside the projection that builds each failing row's
        # violation array once
        path = str(tmp_path / "docs_shapes")
        gen_documents(spark, 500, partitions=2).write.parquet(path)
        res = validate(spark.read.parquet(path), span_rules(), id_cols=["doc_id"])

        def plan(df):
            return df._jdf.queryExecution().executedPlan().toString()

        verdicts = plan(res.verdicts)
        m = re.search(r"ReadSchema: (\S+)", verdicts)
        assert m, verdicts
        assert "text" not in m.group(1) and "media_ref" not in m.group(1)
        assert "flatten(transform(" not in verdicts

        lines = plan(res.violations).splitlines()
        build = [ln for ln in lines if "flatten(transform(" in ln]
        assert len(build) == 1, lines
        assert [ln for ln in lines if "array_intersect(" in ln] == build, lines


_INF, _NAN = float("inf"), float("nan")
_ITEM = "kind string, tag string, n int, x double, gone string, s string"


def _it(kind="a", tag="t0", n=1, x=1.0, gone=None, s="ab"):
    return (kind, tag, n, x, gone, s)


# (doc_id, items): one case per row, so a row-by-row compare pins each form
_VECTOR_ROWS = [
    ("null", None),
    ("empty", []),
    ("null_elems", [None, None]),
    ("null_fields", [_it(None, None, None, None, None, None)]),
    ("ok", [_it(), _it(kind="b", tag="t1", x=10.0, s="cd")]),
    ("bad_kind", [_it(), _it(kind="z")]),
    ("bad_tag", [_it(tag="u")]),
    ("bad_n", [_it(n=2)]),
    ("nan", [_it(x=_NAN)]),
    ("inf", [_it(), _it(x=_INF)]),
    ("ninf", [_it(x=-_INF)]),
    ("neg_zero", [_it(x=-0.0)]),
    ("negative", [_it(x=-1.0)]),
    ("gone", [_it(), _it(gone="g")]),
    ("s_regexp", [_it(s="Ab")]),
    ("s_allowed", [_it(s="zz")]),
    ("s_size", [_it(s="abcd")]),
    # the presence probes' own values: the fallback set form decides
    ("nul_kind", [_it(kind="\u0000")]),
    ("nul_kind_null", [_it(kind="\u0000"), _it(kind=None)]),
    ("min_n", [_it(n=-2 ** 31)]),
    ("min_n_null", [_it(n=-2 ** 31), _it(n=None)]),
    ("null_subfields", [_it(kind=None, n=None), _it(kind=None, n=None)]),
]


def _tags(n):
    return Allowed(["t%d" % i for i in range(n)])


def _items_rule(*childs):
    return [Rule(key="items", presence="optional", childs=list(childs))]


# child rule -> (docs that fail it, exists calls in its predicate)
_VECTOR_CASES = {
    "required_allowed2": (
        Rule(key="kind", presence="required", validators=[Type("binary"), Allowed(["a", "b"])]),
        {"null_elems", "null_fields", "bad_kind", "nul_kind", "nul_kind_null", "null_subfields"}, 0,
    ),
    "required_string": (
        Rule(key="kind", presence="required"),
        {"null_elems", "null_fields", "nul_kind_null", "null_subfields"}, 0,
    ),
    "required_int": (
        Rule(key="n", presence="required"),
        {"null_elems", "null_fields", "min_n_null", "null_subfields"}, 0,
    ),
    "allowed_at_cut": (
        Rule(key="tag", presence="optional", validators=[_tags(_SET_FORM_MAX_VALUES)]),
        {"bad_tag"}, 0,
    ),
    "allowed_past_cut_fallback": (
        Rule(key="tag", presence="optional", validators=[_tags(_SET_FORM_MAX_VALUES + 1)]),
        {"bad_tag"}, 1,
    ),
    "mixed_allowed_fallback": (
        Rule(key="n", presence="optional", validators=[Allowed([1, 2.5])]),
        {"bad_n", "min_n", "min_n_null"}, 1,
    ),
    "float_size": (
        Rule(key="x", presence="optional", validators=[Size(0, 10)]), {"nan", "inf", "ninf", "negative"}, 0,
    ),
    "deprecated": (Rule(key="gone", presence="deprecated"), {"gone"}, 0),
    "deprecated_int": (
        Rule(key="n", presence="deprecated"),
        {d for d, items in _VECTOR_ROWS if any(it and it[2] is not None for it in items or ())}, 0,
    ),
}


def _fail_sets(df, rules):
    """(rich, fast) failing doc ids: ``size(violations) > 0`` of the
    ungated rich compile vs the fast path's predicate, on the same rows."""
    rows = validate(df, rules, gate_fast=False).annotated.select(
        "doc_id",
        (F.size("violations") > 0).alias("rich"),
        F.coalesce(compile_fail_predicate(rules, df.schema), F.lit(False)).alias("fast"),
    ).collect()
    return ({r["doc_id"] for r in rows if r["rich"]}, {r["doc_id"] for r in rows if r["fast"]})


class TestVectorForms:
    """Element checks over a subfield array compile to collection built-ins
    (or an ``exists`` where there is no built-in form) with the rich path's
    verdict."""

    @pytest.fixture(scope="class")
    def items(self, spark):
        return spark.createDataFrame(
            _VECTOR_ROWS, "doc_id string, items array<struct<%s>>" % _ITEM
        )

    @pytest.mark.parametrize("case", sorted(_VECTOR_CASES))
    def test_form_matches_rich_path(self, items, case):
        child, want, n_exists = _VECTOR_CASES[case]
        rules = _items_rule(child)
        rich, fast = _fail_sets(items, rules)
        assert rich == fast == want
        pred = str(compile_fail_predicate(rules, items.schema))
        assert pred.count("exists(") == n_exists, pred

    def test_regexp_next_to_vector_checks(self, items):
        # required + Allowed on `s` stay built-ins; the Regexp and the
        # string Size of a second rule on `s` get one exists per rule
        rules = _items_rule(
            Rule(key="s", presence="required", validators=[Allowed(["ab", "cd"]), Regexp("^[a-z]+$")]),
            Rule(key="s", presence="optional", validators=[Size(1, 3)]),
        )
        rich, fast = _fail_sets(items, rules)
        assert rich == fast == {"null_elems", "null_fields", "s_regexp", "s_allowed", "s_size"}
        pred = str(compile_fail_predicate(rules, items.schema))
        assert pred.count("exists(") == 2 and "array_except" in pred, pred

    def test_all_forms_together(self, items):
        rules = _items_rule(
            *(child for child, _, _ in _VECTOR_CASES.values()),
            Rule(key="s", presence="optional", validators=[Regexp("^[a-z]+$")]),
        )
        rich, fast = _fail_sets(items, rules)
        want = set().union(*(w for _, w, _ in _VECTOR_CASES.values())) | {"s_regexp"}
        assert rich == fast == want
