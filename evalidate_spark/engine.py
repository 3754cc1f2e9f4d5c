"""Validation engine: the public API.

``validate(df, rules, ...)`` compiles the spec against ``df.schema`` and
returns a :class:`ValidationResult` exposing lazy DataFrames:

* ``annotated`` — input + ``violations`` array + ``first_error`` struct
* ``clean``     — rows with zero violations, projected to the converted
  output schema (only ruled keys survive, mirroring the reference —
  ``/root/reference/test/evalidate_SUITE.erl:1703-1716``)
* ``violations`` — one row per violation: id columns + ``rule_seq, rule_id,
  key_path, span_index, message, value_repr`` (the typed violation rows of
  the north rule)
* ``verdicts``  — per-partition pass/fail roll-up via ``spark_partition_id()``

On the default gated path ``verdicts``, ``clean`` and ``failed`` read
pass/fail from the message-free fail predicate (never from the violations
array), ``violations`` explodes the gated array, and violation
structs are built only for failing rows and, inside them, failing array
elements.

Hard vs soft mode (``/root/reference/src/evalidate.erl:22-34``): soft mode
never raises; ``enforce()`` reproduces hard mode — it runs an action and
raises :class:`ValidationError` with the first error if any row violated.

Scale notes: everything row-level is one fused projection (no shuffle).  The
verdict roll-up is a tiny aggregate keyed by partition id (≤ #partitions
groups, map-side combined).  At 10^12 docs the plan is scan → project →
partial agg → final agg; AQE handles output coalescing.
"""

from __future__ import annotations

from dataclasses import dataclass, replace
from typing import Any, List, Optional, Sequence, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .compiler import (
    Compiled,
    Options,
    OutCol,
    _compile,
    _empty_viols,
    _entry_array,
    _merge_outputs,
    _viol_struct,
)
from .fastpath import _has_custom, partition_verdicts
from .session import _require_ansi
from .spec import normalize_rules

VIOLATIONS_COL = "violations"
FIRST_ERROR_COL = "first_error"


class ValidationError(Exception):
    """Hard-mode failure; carries the first violation's message (the exact
    string the reference would have thrown)."""

    def __init__(self, message: str, row: Optional[dict] = None) -> None:
        super().__init__(message)
        self.message = message
        self.row = row


@dataclass
class ValidationResult:
    annotated: DataFrame
    compiled: Compiled
    id_cols: List[str]
    # the message-free row fail predicate validate() gated on (never NULL);
    # None = pass/fail is read from size(violations)
    fail: Optional[Column] = None

    def _fails(self) -> Column:
        if self.fail is not None:
            return self.fail
        return F.size(F.col(VIOLATIONS_COL)) > 0

    @property
    def clean(self) -> DataFrame:
        """Rows with no violations, projected to converted output columns
        (the compiled expressions — conversions applied, defaults injected,
        ``no_return`` keys dropped)."""
        ok = self.annotated.filter(~self._fails())
        outs = self.compiled.outputs
        if not outs:
            return ok.drop(VIOLATIONS_COL, FIRST_ERROR_COL)
        names = {o.name for o in outs}
        keep = [F.col(n) for n in self.id_cols if n not in names]
        return ok.select(*keep, *[o.col.alias(o.name) for o in outs])

    @property
    def failed(self) -> DataFrame:
        return self.annotated.filter(self._fails())

    @property
    def violations(self) -> DataFrame:
        """Exploded typed violation rows (sparse; with a fail predicate,
        passing rows explode an empty array and build no violations)."""
        # explode_outer + a filter on the (never NULL) violation struct rather
        # than explode: for a plain explode Catalyst infers size(violations)
        # > 0 and pushes it below the projection, which then builds every
        # failing row's violation array twice.  No filter on the fail
        # predicate either: a whole-stage-codegen Filter evaluates it again,
        # without the projection's common-subexpression elimination, so each
        # subfield array would be extracted once per reference
        v = self.annotated.select(
            *self.id_cols, F.explode_outer(F.col(VIOLATIONS_COL)).alias("v")
        ).filter(F.col("v").isNotNull())
        return v.select(
            *self.id_cols,
            F.col("v.rule_seq").alias("rule_seq"),
            F.col("v.rule_id").alias("rule_id"),
            F.col("v.key_path").alias("key_path"),
            F.col("v.span_index").alias("span_index"),
            F.col("v.message").alias("message"),
            F.col("v.value_repr").alias("value_repr"),
        )

    @property
    def verdicts(self) -> DataFrame:
        """Per-partition pass/fail verdict rows (north rule), keyed by
        ``spark_partition_id()``."""
        return partition_verdicts(self.annotated, self._fails())

    def metrics(self) -> DataFrame:
        """Per-rule violation counts — one small aggregate."""
        return (
            self.violations.groupBy("rule_id", "key_path")
            .agg(F.count(F.lit(1)).alias("violations"))
            .orderBy("rule_id", "key_path")
        )

    def enforce(self) -> DataFrame:
        """Hard mode (`/root/reference/src/evalidate.erl:32-33`): raise
        :class:`ValidationError` with the depth-first first error if any row
        fails; otherwise return the clean output."""
        bad = (
            self.failed
            .select(F.col(FIRST_ERROR_COL).alias("e"), *[F.col(c) for c in self.id_cols])
            .limit(1)
            .collect()
        )
        if bad:
            row = bad[0]
            raise ValidationError(row["e"]["message"], row.asDict())
        return self.clean


def validate(
    df: DataFrame,
    rules: Any,
    *,
    parent_key: bool = True,
    keep_unruled: bool = False,
    id_cols: Optional[Sequence[str]] = None,
    gate_fast: bool = True,
) -> ValidationResult:
    """Compile *rules* against ``df.schema`` and annotate every row with its
    violations.  Spec errors raise :class:`evalidate_spark.spec.SpecError`
    before any job launches (reference config errors,
    ``/root/reference/src/evv.erl:86-87,124-125``).

    ``gate_fast`` (default on) gates the rich path on the cheap
    message-free fail predicate, the fail half of the same compile
    (:mod:`evalidate_spark.fastpath`): rows with zero violations — the
    overwhelming majority at corpus scale — evaluate only the boolean and
    skip message/struct building entirely.  ``verdicts``, ``clean``,
    ``failed`` and ``enforce`` read the same predicate, so none of them
    builds a violation array to decide pass/fail; ``violations`` explodes
    the gated array, so each row evaluates the predicate once.  Inside a
    row, each array element builds its violation structs only if its own
    fail half holds, gated or not.  Row gating is skipped automatically
    for specs with custom pandas-UDF validators (the UDF must not run
    twice); ``gate_fast=False`` is the row-ungated reference, tested row by
    row against the gated path."""
    _require_ansi(df)
    opts = Options(parent_key=parent_key, keep_unruled=keep_unruled)
    compiled, fail = _gated(df, rules, opts, gate_fast)
    return _result(df, compiled, id_cols, fail)


def _gated(
    df: DataFrame, rules: Any, opts: Options, gate_fast: bool
) -> Tuple[Compiled, Optional[Column]]:
    """Compile *rules* against ``df.schema``: the compiled spec with its
    violations gated on its fail predicate, and that never-NULL predicate
    (ungated and None without gating)."""
    compiled, row_fail = _compile(rules, df.schema, opts)
    if not gate_fast or any(_has_custom(n) for n in normalize_rules(rules)):
        return compiled, None
    fail = F.coalesce(row_fail, F.lit(False))
    viols = F.when(fail, compiled.violations).otherwise(_empty_viols())
    return replace(compiled, violations=viols), fail


def _result(
    df: DataFrame,
    compiled: Compiled,
    id_cols: Optional[Sequence[str]],
    fail: Optional[Column] = None,
    value_col: Optional[str] = None,
) -> ValidationResult:
    """*df* annotated with ``compiled.violations`` and their first error.
    The id columns default to the first column other than *value_col*.  An
    input column named like an annotation drops *fail*: the predicate would
    read the replaced column."""
    annotated = df.withColumn(VIOLATIONS_COL, compiled.violations).withColumn(
        FIRST_ERROR_COL, F.try_element_at(F.col(VIOLATIONS_COL), F.lit(1))
    )
    if {VIOLATIONS_COL, FIRST_ERROR_COL} & set(df.columns):
        fail = None
    ids = list(id_cols or [next((c for c in df.columns if c != value_col), value_col)])
    return ValidationResult(annotated=annotated, compiled=compiled, id_cols=ids, fail=fail)


def validate_zipped(
    df: DataFrame,
    rulesets: Sequence[Any],
    ruleset_id_col: str = "ruleset_id",
    *,
    parent_key: bool = True,
    id_cols: Optional[Sequence[str]] = None,
    gate_fast: bool = True,
) -> ValidationResult:
    """Zipped rule-sets mode (reference ``struct/3`` zipwith branch,
    ``/root/reference/src/evalidate.erl:44-46``; suite ``:1145-1180``):
    rule-set *i* validates the rows whose ``ruleset_id_col`` equals *i*.

    The reference zips N rule-sets against N rows positionally; the
    Spark-native shape is a ``ruleset_id`` column dispatching each row to
    its rule-set.  Every rule-set compiles once on the driver; the dispatch
    is a single ``when/otherwise`` chain inside the same fused projection —
    no shuffle, no per-ruleset pass over the data.  Rows with an id outside
    ``0..len(rulesets)-1`` get a config-error violation (the reference
    would crash on a length mismatch).

    Output columns are the union of all rule-sets' outputs, merged by
    :func:`evalidate_spark.compiler._merge_outputs` with each rule-set's
    outputs guarded by its dispatch: a row populates only its own
    rule-set's keys (others NULL), and conflicting Spark types across
    rule-sets are rejected at compile time."""
    _require_ansi(df)
    opts = Options(parent_key=parent_key)
    rid = F.col("`%s`" % ruleset_id_col)
    viols = _entry_array(
        F.when(
            rid.isNull() | (rid < 0) | (rid >= len(rulesets)),
            _viol_struct(
                0,
                "ruleset_dispatch",
                F.lit(ruleset_id_col),
                F.concat(
                    F.lit("No rule-set for %s=" % ruleset_id_col),
                    F.coalesce(rid.cast("string"), F.lit("NULL")),
                ),
                None,
            ),
        )
    )
    dispatch = None
    branches: List[Tuple[Optional[Column], OutCol]] = []
    for i, rs in enumerate(rulesets):
        # per-ruleset fast gating (same trick as validate()): passing rows —
        # the vast majority — evaluate only the fail half of their own
        # rule-set's compile and skip message/struct construction
        compiled, _ = _gated(df, rs, opts, gate_fast)
        vc = compiled.violations
        dispatch = F.when(rid == i, vc) if dispatch is None else dispatch.when(rid == i, vc)
        branches.extend((rid == i, o) for o in compiled.outputs)
    if dispatch is not None:
        viols = dispatch.otherwise(viols)
    return _result(df, Compiled(violations=viols, outputs=_merge_outputs(branches)), id_cols)


def validate_and_convert(df: DataFrame, rules: Any, **kw: Any) -> DataFrame:
    """Reference-shaped entry (`validate_and_convert/2,3`,
    ``/root/reference/src/evalidate.erl:19-34``): hard mode — raises on the
    first violation, returns the converted clean DataFrame otherwise."""
    return validate(df, rules, **kw).enforce()


def golden_check(
    df: DataFrame,
    rules: Any,
    expect_col: str = "expect_pass",
    id_cols: Optional[Sequence[str]] = None,
    **opts: Any,
) -> DataFrame:
    """Deploy-time golden-row self-test: run *rules* over a small pinned
    corpus whose boolean *expect_col* says whether each row MUST pass,
    and return the mismatches — empty result = the engine + spec still
    behave exactly as pinned.  The operational guard a validation
    pipeline runs before processing real data after ANY change (spec
    edit, engine upgrade, Spark version bump): golden rows encode the
    contract's accepted and rejected examples, so a silently-loosened
    rule or a regressed validator surfaces as a one-row diff instead of
    a corrupted corpus.

    Output per mismatching golden row: ``(id_cols…, expect_pass,
    got_pass, n_violations, first_message)``.  A NULL *expect_col* is
    itself a mismatch (an unlabelled golden row is a broken fixture).
    *expect_col* is excluded from validation (it is harness metadata,
    not data); all other ``validate`` options pass through."""
    if expect_col not in df.columns:
        raise ValueError("golden_check: missing expect column '%s'" % expect_col)
    ec = F.col("`%s`" % expect_col)
    # validate the WHOLE df (annotated preserves input rows 1:1, so the
    # expectation reads straight from its own column — no id-join, no
    # uniqueness requirement on golden ids); expect_col has no rule, so
    # it is never validated itself
    res2 = validate(df, rules, id_cols=id_cols, **opts)
    ann = res2.annotated
    got = F.size(F.col(VIOLATIONS_COL)) == 0
    # F.get, not element_at: NULL (never an ANSI error) on the empty
    # violations array of an unexpectedly-passing row
    first = F.get(F.col(VIOLATIONS_COL), 0)
    return (
        ann.filter(ec.isNull() | (ec != got))
        .select(
            *(res2.id_cols or []),
            ec.alias("expect_pass"),
            got.alias("got_pass"),
            F.size(F.col(VIOLATIONS_COL)).cast("int").alias("n_violations"),
            first["message"].alias("first_message"),
        )
    )
