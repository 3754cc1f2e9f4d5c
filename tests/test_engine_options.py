"""Engine option coverage: keep_unruled output projection, hard-mode
enforce()/validate_and_convert (reference evalidate.erl:22-34), and the
ANSI-mode session contract."""

import pytest

from pyspark.sql import functions as F

from evalidate_spark import (
    Allowed,
    Rule,
    Size,
    ValidationError,
    validate,
    validate_and_convert,
)
from evalidate_spark import oracle as O


def _df(spark):
    return spark.createDataFrame(
        [("d1", "hello world", "en", 7), ("d2", "x", "zz", 9)],
        "doc_id string, text string, lang string, extra int",
    )


RULES = [
    Rule(key="doc_id"),
    Rule(key="text", validators=[Size(5, 100)]),
    Rule(key="lang", validators=[Allowed(["en", "es"])]),
]


class TestKeepUnruled:
    def test_unruled_keys_dropped_by_default(self, spark):
        # reference output reshaping: only ruled keys survive
        # (suite evalidate_SUITE.erl:1703-1716)
        clean = validate(_df(spark), RULES, id_cols=["doc_id"]).clean
        assert set(clean.columns) == {"doc_id", "text", "lang"}

    def test_keep_unruled_passthrough(self, spark):
        clean = validate(
            _df(spark), RULES, id_cols=["doc_id"], keep_unruled=True
        ).clean
        assert set(clean.columns) == {"doc_id", "text", "lang", "extra"}
        [row] = clean.filter(F.col("doc_id") == "d1").collect()
        assert row["extra"] == 7


class TestHardMode:
    def test_enforce_raises_first_error(self, spark):
        with pytest.raises(ValidationError) as ei:
            validate_and_convert(_df(spark), RULES)
        # the raised message is the depth-first first error of SOME failing
        # row — for d2 that's the size failure (rule order), per the oracle
        expect = O.first_error(RULES, {"doc_id": "d2", "text": "x", "lang": "zz"})
        exp_msg = expect["message"] if isinstance(expect, dict) else expect
        assert ei.value.message == exp_msg
        assert ei.value.row is not None and ei.value.row["doc_id"] == "d2"

    def test_enforce_returns_clean_when_all_pass(self, spark):
        ok = _df(spark).filter(F.col("doc_id") == "d1")
        out = validate_and_convert(ok, RULES)
        assert [r["doc_id"] for r in out.collect()] == ["d1"]

    def test_enforce_limit_one_no_full_materialise(self, spark):
        # hard mode collects AT MOST one failing row (bounded driver cost)
        res = validate(_df(spark), RULES, id_cols=["doc_id"])
        with pytest.raises(ValidationError):
            res.enforce()


def test_entry_points_refuse_ansi_off(spark):
    """The NULL contracts assume ANSI semantics (size(NULL) is NULL, not
    -1): validate, validate_zipped, verdict_scan and keyed_verdicts
    refuse a session with it off before compiling anything."""
    from evalidate_spark import validate_zipped, verdict_scan
    from evalidate_spark.fastpath import keyed_verdicts

    df = _df(spark)
    calls = [
        lambda: validate(df, RULES),
        lambda: validate_zipped(df.withColumn("ruleset_id", F.lit(0)), [RULES]),
        lambda: verdict_scan(df, RULES),
        lambda: keyed_verdicts(df, RULES, F.lit("u")),
    ]
    key = "spark.sql.ansi.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        for call in calls:
            with pytest.raises(RuntimeError, match=key):
                call()
    finally:
        spark.conf.set(key, prev)
    for call in calls:
        call()  # restored: each builds its plan again
