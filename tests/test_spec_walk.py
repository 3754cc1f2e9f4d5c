"""One rule walk builds both halves of a compile: the violations and the
message-free fail predicate.  The fail-only run builds no violation struct
or message, and ``validate_zipped`` gates each rule-set's rows on the fail
half of that rule-set's own compile.  A session walks an equal spec once:
the compile cache and what it must never cache."""

import sys
import threading
from collections import Counter
from dataclasses import replace

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from evalidate_spark import compiler, lib, validate, validate_zipped
from evalidate_spark.checkpoint import CheckpointedRun
from evalidate_spark.compiler import FAIL, FULL, Options, compile_spec
from evalidate_spark.fastpath import compile_fail_predicate, verdict_scan
from evalidate_spark.fixtures import gen_documents
from evalidate_spark.operators.spans import span_rules
from evalidate_spark.spec import CustomValidator, Default, Native, Regexp, Rule, Size
from helpers import py4j_round_trips
from test_checkpoint import RULES, input_dir  # noqa: F401  (input_dir is a fixture)

VIOLATION_COLS = [
    "doc_id", "rule_seq", "rule_id", "key_path", "span_index", "message", "value_repr",
]


def _with_regexps():
    """span_rules() plus Regexp checks, whose messages quote the value."""
    doc_id, spans = span_rules()
    text = Rule(key="text", presence="optional", validators=[Regexp("^token")])
    return [
        doc_id,
        replace(spans, childs=list(spans.childs) + [text]),
        Rule(key="doc_id", presence="optional", validators=[Regexp("^doc-")]),
    ]


def test_fail_only_compile_builds_no_violations(spark, monkeypatch):
    docs = gen_documents(spark, 600, partitions=2)
    cases = [span_rules(), _with_regexps()]
    want = [
        (
            sorted(tuple(r) for r in verdict_scan(docs, rules).collect()),
            docs.filter(compile_fail_predicate(rules, docs.schema)).count(),
        )
        for rules in cases
    ]
    assert want[0][1] > 0

    def built(*_a, **_k):
        raise AssertionError("the fail-only compile built a violation or message")

    for name in ("_viol_struct", "c_ts_repr", "c_p_repr"):
        monkeypatch.setattr(compiler, name, built)
    compiler._clear_cache()  # else the predicates of the `want` step are read back
    for rules, (verdicts, n_failed) in zip(cases, want):
        fail = compile_fail_predicate(rules, docs.schema)
        assert sorted(tuple(r) for r in verdict_scan(docs, rules).collect()) == verdicts
        assert docs.filter(fail).count() == n_failed


def test_validate_zipped_rows_equal_ungated(spark):
    docs = gen_documents(spark, 1500, partitions=2).withColumn(
        "ruleset_id", F.pmod(F.xxhash64("doc_id"), F.lit(2)).cast("int")
    )
    rulesets = [
        span_rules(),
        span_rules() + [Rule(key="doc_id", validators=[Size(1, 6)])],
    ]

    def rows(gate_fast):
        v = validate_zipped(docs, rulesets, id_cols=["doc_id"], gate_fast=gate_fast).violations
        assert v.columns == VIOLATION_COLS
        return Counter(tuple(r) for r in v.collect())

    want = rows(False)
    # element violations (a span_index) of both rule-sets
    kinds = {(r[2], r[4] is not None) for r in want}
    assert kinds >= {("rule:offset", True), ("rule:doc_id", False)}
    assert rows(True) == want


SPANS = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("spans", T.ArrayType(T.StructType([
        T.StructField("kind", T.StringType()),
        T.StructField("offset", T.IntegerType()),
    ]))),
    T.StructField("tags", T.MapType(T.IntegerType(), T.StringType())),
])


@pytest.fixture()
def walks(monkeypatch):
    """The uncached walks run from here on, by walk kind, from an empty
    cache."""
    compiler._clear_cache()
    ran = Counter()
    walk = compiler._walk

    def counting(rules, schema, opts, kind):
        ran[kind] += 1
        return walk(rules, schema, opts, kind)

    monkeypatch.setattr(compiler, "_walk", counting)
    yield ran
    compiler._clear_cache()


def _with_lib():
    """span_rules() plus a registry validator, built anew on every call."""
    return span_rules() + [Rule(key="doc_id", validators=[lib.v_binary_integer(0, 10)])]


def test_equal_new_spec_hits_the_cache(spark, walks):
    first = compile_spec(_with_lib(), SPANS)
    again = compile_spec(_with_lib(), SPANS)
    assert walks == {FULL: 1}
    # the very Columns a fresh compile built: same plan, same rule_seq numbers
    assert again.violations is first.violations
    assert all(a.col is b.col for a, b in zip(again.outputs, first.outputs))
    fail = compile_fail_predicate(_with_lib(), SPANS)
    assert compile_fail_predicate(_with_lib(), SPANS) is fail
    assert walks == {FULL: 1, FAIL: 1}


def test_schema_options_and_walk_are_in_the_key(spark, walks):
    compile_spec(span_rules(), SPANS)
    compile_spec(span_rules(), T.StructType(SPANS.fields[:2]))
    compile_spec(span_rules(), SPANS, Options(parent_key=False))
    compile_fail_predicate(span_rules(), SPANS)
    assert walks == {FULL: 3, FAIL: 1}


def test_another_gateway_misses(spark, walks, monkeypatch):
    compile_spec(span_rules(), SPANS)
    other = object()  # stands for a restarted JVM's gateway
    monkeypatch.setattr(compiler, "_owner", lambda: other)
    compile_spec(span_rules(), SPANS)
    compile_spec(span_rules(), SPANS)
    assert walks == {FULL: 2}


@pytest.mark.parametrize("rule", [
    Rule(key="doc_id", validators=[CustomValidator(lambda v: True)]),
    # a registry name with another builder, and a registry builder whose
    # recorded params are not the ones it was built from
    Rule(key="doc_id", validators=[Native("v_url", lambda col, dt: [(col.isNull(), "m", False)])]),
    Rule(key="doc_id", validators=[
        Native("v_binary_integer", lib.v_binary_integer(1, 5).build, params=(1, 10))
    ]),
    # JSON would turn the int key into a str
    Rule(key="tags", presence=Default({1: "a"})),
], ids=["custom_udf", "hand_built_native", "forged_params", "int_dict_default"])
def test_inexact_specs_walk_on_every_call(spark, walks, rule):
    compile_spec([rule], SPANS)
    compile_spec([rule], SPANS)
    assert walks == {FULL: 2}


def test_callers_cannot_change_an_entry(spark, walks):
    first = compile_spec(span_rules(), SPANS)
    names = [o.name for o in first.outputs]
    first.outputs.append(first.outputs[0])
    first.outputs[0].name = "changed"
    assert [o.name for o in compile_spec(span_rules(), SPANS).outputs] == names
    assert walks == {FULL: 1}


def test_threads_share_the_cache(spark, walks):
    """More threads than cores fill and evict entries at once (a Py4J
    callback thread validates micro-batches next to the driver thread)."""
    bound = compiler._CACHE_SIZE
    errors = []

    def work(t):
        try:
            for n in range(bound // 4):
                spec = [Rule(key="doc_id", validators=[Size(1, 100 * t + n)])]
                assert [o.name for o in compile_spec(spec, SPANS).outputs] == ["doc_id"]
        except Exception as e:  # noqa: BLE001 - reported below
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(t,)) for t in range(8)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(th.is_alive() for th in threads) and not errors
    assert walks == {FULL: 8 * (bound // 4)}
    assert len(compiler._cache) == bound


def test_checkpointed_run_walks_the_spec_once(spark, input_dir, tmp_path, walks):  # noqa: F811
    run = CheckpointedRun(spark, input_dir, RULES, str(tmp_path / "out"), files_per_unit=4)
    assert len(run.run()["processed_now"]) == 2
    assert walks == {FULL: 1}


def test_repeat_compiles_make_no_round_trips(spark):
    compiler._clear_cache()
    docs = gen_documents(spark, 50, partitions=1)
    calls = [
        lambda: compile_spec(span_rules(), docs.schema),
        lambda: compile_fail_predicate(span_rules(), docs.schema),
    ]
    for call in calls:
        call()
        with py4j_round_trips(spark) as trips:
            call()
        assert trips.n == 0
    validate(docs, span_rules(), id_cols=["doc_id"])
    with py4j_round_trips(spark) as trips:
        validate(docs, span_rules(), id_cols=["doc_id"])
    assert 0 < trips.n <= 100
