"""One rule walk builds both halves of a compile: the violations and the
message-free fail predicate.  The fail-only run builds no violation struct
or message, and ``validate_zipped`` gates each rule-set's rows on the fail
half of that rule-set's own compile."""

from collections import Counter
from dataclasses import replace

from pyspark.sql import functions as F

from evalidate_spark import compiler, validate_zipped
from evalidate_spark.fastpath import compile_fail_predicate, verdict_scan
from evalidate_spark.fixtures import gen_documents
from evalidate_spark.operators.spans import span_rules
from evalidate_spark.spec import Regexp, Rule, Size

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
