"""Predicate-only compilation — the full-corpus verdict scan path.

``compile_fail_predicate(rules, schema)`` compiles a rule tree to ONE
boolean Column ("this row violates something") with **no violation struct,
message or value-repr construction**, and — crucially for scan cost —
accesses array-of-struct children through *subfield array projections*
(``col("spans.kind")``) instead of element-struct lambdas, so Spark's
nested schema pruning drops every unreferenced span field from the
parquet scan.

One walk, two halves: the compiler's rule walk
(:func:`evalidate_spark.compiler._compile_rules`) returns each rule node's
fail Column next to its violations — for a rule the OR of the conditions
guarding its violation entries, for a ``RuleOr`` the AND of its
alternatives, for a ``RuleAnd`` the OR of its children.
``compile_fail_predicate`` is a fail-only run of that walk; ``validate``
takes the same fail half from the compile that builds its violations, and
each array element gates its violation structs on its own fail half.
This module holds the walk's pruned forms for root-addressable values:
the subfield proxy of an ``array<struct>``'s ``Size``/``Type``
(:func:`_proxy`) and the element checks over subfield arrays
(:func:`_element_rules_fail`).

Why it exists: the violations reference whole values in ``value_repr``,
which (a) keeps all columns in the scan and (b) pays per-row struct/string
construction.  For the 10^12-doc "did the corpus pass" scan none of that
is needed.  Measured on the 2M-doc interleaved fixture (local[32]): rich
verdicts ≈ 11 s, predicate-only ≈ 1.7 s with ReadSchema pruned from all
four span fields to ``kind, offset`` — 6× throughput on the north-star
metric.

Element checks over a subfield array compile to collection built-ins,
which whole-stage codegen compiles, so the columnar-to-row copy, the
predicate and the verdict roll-up's partial aggregate run as one generated
stage.  ``exists`` is a higher-order function that codegen leaves to the
interpreter, so it is kept for what has no built-in form:

- ``required`` / ``deprecated`` on an atomic subfield: a NULL element is
  ``array_intersect(sub, [NULL])``, a non-NULL one ``array_except(sub,
  [NULL])``;
- ``Allowed`` of at most ``_SET_FORM_MAX_VALUES`` strings on a string
  subfield: ``array_except(sub, [vals…, NULL])``;
- ``Size`` on a numeric subfield: ``array_min`` / ``array_max`` against the
  bounds;
- a ``Type`` that holds for the subfield's type: no check at all;
- everything else stays in an ``exists`` over the subfield array: one per
  rule for its other validators (``Regexp``, string ``Size``, ``OrV``,
  ``Native``, a runtime ``Type``, longer or non-string ``Allowed`` lists),
  one for its converter's failures, and one per presence check on a
  map/array/struct subfield.

Element rules with no field-local form (``RuleOr``/``RuleAnd``, childs,
multi-key rules, map elements, and every element rule of an array that is
not root-addressable — inside another array or a map) share one
``exists`` over the element structs whose lambda runs the fail-only walk:
still message-free, only the pruning narrows.  Specs with custom
pandas-UDF validators or converters are rejected with ``SpecError``: their
fail condition would run the UDF, so ``validate`` leaves them ungated.
"""

from __future__ import annotations

from typing import Any, List, Optional, Sequence, Tuple

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql import types as T

from .compiler import (
    FAIL,
    Options,
    Scope,
    _any,
    _child_scope,
    _cached,
    _compile_converter,
    _compile_rules,
    _compile_validators,
    _is_number,
    _is_string,
    _Seq,
    _string_keyed_map,
    _type_matches,
)
from .session import _require_ansi
from .spec import (
    DEPRECATED,
    REQUIRED,
    Allowed,
    CustomConverter,
    CustomValidator,
    Each,
    Rule,
    RuleAnd,
    RuleOr,
    Size,
    SpecError,
    Type,
    normalize_rules,
)


def _clauses_fail(validators: Sequence[Any], col: Column, dt: T.DataType, scope: Scope) -> Column:
    """OR of all validator fail conditions."""
    return _any([
        F.coalesce(cl.cond, F.lit(False))
        for cl in _compile_validators(list(validators), col, dt, scope)
    ])


def _custom_conv(conv: Any) -> bool:
    if isinstance(conv, CustomConverter):
        return True
    if isinstance(conv, Each):
        return _custom_conv(conv.conv)
    return False


def _has_custom(node: Any) -> bool:
    """Specs with custom pandas-UDF validators OR converters cannot be
    predicate-compiled without running the UDF — callers fall back to the
    rich path."""
    if isinstance(node, Rule):
        return (
            any(isinstance(v, CustomValidator) for v in (node.validators or ()))
            or _custom_conv(node.converter)
            or any(_has_custom(c) for c in (node.childs or ()))
        )
    if isinstance(node, (RuleAnd, RuleOr)):
        return any(_has_custom(r) for r in node.rules)
    return False


def _convert_fail(conv: Any, col: Column, dt: T.DataType, scope: Scope) -> Column:
    """Converter crash condition ("Couldn't convert …",
    /root/reference/src/evalidate.erl:176-178) — part of the row's fail
    predicate."""
    cres = _compile_converter(conv, col, dt, scope)
    return F.lit(False) if cres.fail is None else F.coalesce(cres.fail, F.lit(False))


def _proxyable(v: Any) -> bool:
    if isinstance(v, Size):
        return True
    if isinstance(v, Type):
        return v.of == "list" or (isinstance(v.of, (list, tuple)) and "list" in v.of)
    return False


def _proxy_field(rule: Rule, edt: T.StructType) -> T.StructField:
    """Pick the subfield the childs reference anyway (first child key found
    in the element schema), else the first field."""
    names = {f.name: f for f in edt.fields}
    for c in rule.childs or ():
        if isinstance(c, Rule) and isinstance(c.key, str) and c.key in names:
            return names[c.key]
    return edt.fields[0]


def _proxy(
    rule: Rule, dt: T.DataType, path: Tuple[str, ...]
) -> Optional[Tuple[Column, T.DataType]]:
    """For the root-addressable ``array<struct>`` value at *path* whose own
    validators only look at nullness and size (``Size``, plain ``Type``): a
    subfield array — same size, same nullness — and its type, so the scan
    needn't read every element field.  None otherwise."""
    if not (
        isinstance(dt, T.ArrayType)
        and isinstance(dt.elementType, T.StructType)
        and dt.elementType.fields
        and all(_proxyable(v) for v in (rule.validators or ()))
    ):
        return None
    pf = _proxy_field(rule, dt.elementType)
    return F.col(".".join(path + (pf.name,))), T.ArrayType(pf.dataType)


# ``array_except`` rebuilds a hash set of its right-hand array on every row,
# so a long ``Allowed`` list costs more as a built-in than inside an
# ``exists`` (where ``IN`` becomes a prebuilt ``InSet``).  Measured on the
# 400k-doc verdict_scan corpus (seed 2, local[4], JVM CPU-s of pruned scan
# -> predicate -> partition aggregate, median of 6 warm runs, the same 3,189
# failing docs), ``exists`` vs ``array_except``: 2 values 3.84 vs 2.25,
# 32 values 3.81 vs 2.63, 40 values 3.72 vs 2.85, 44 values 3.64 vs 2.85,
# 48 values 3.66 vs 4.02 (median of 4: 100 values 3.84 vs 7.78, 200 values
# 3.94 vs 13.89).  The crossover lies between 44 and 48 values; the cut
# keeps a margin below it.
_SET_FORM_MAX_VALUES = 40

# element types the array set built-ins hash and compare
_SET_TYPES = (
    T.NumericType, T.StringType, T.BooleanType, T.BinaryType,
    T.DateType, T.TimestampType, T.TimestampNTZType,
)


def _null_of(dt: T.DataType) -> Column:
    return F.lit(None).cast(dt)


def _has_null(sub: Column, fdt: T.DataType) -> Column:
    """Some element of the subfield array *sub* is NULL."""
    return F.size(F.array_intersect(sub, F.array(_null_of(fdt)))) > 0


def _has_other(sub: Column, vals: Sequence[Any], fdt: T.DataType) -> Column:
    """Some non-NULL element of the subfield array *sub* is not in *vals*."""
    return F.size(F.array_except(sub, F.array(*[F.lit(x) for x in vals], _null_of(fdt)))) > 0


def _vector_fail(v: Any, sub: Column, fdt: T.DataType, fscope: Scope) -> Optional[Column]:
    """"Some non-NULL element of the subfield array *sub* fails validator
    *v*" as codegen'd collection built-ins, or None when *v* has no such
    form (the caller checks it in an ``exists``)."""
    if isinstance(v, Type) and _type_matches(v.of, sub, fdt, fscope) is None:
        return F.lit(False)  # statically true: no clause
    if isinstance(v, Size) and _is_number(fdt):
        fail = F.lit(False)
        if v.min is not None:
            fail = fail | F.coalesce(F.array_min(sub) < v.min, F.lit(False))
        if v.max is not None:
            fail = fail | F.coalesce(F.array_max(sub) > v.max, F.lit(False))
        return fail
    if (
        isinstance(v, Allowed)
        and _is_string(fdt)
        and len(v.values) <= _SET_FORM_MAX_VALUES
        and all(isinstance(x, str) for x in v.values)
    ):
        return _has_other(sub, v.values, fdt)
    return None


def _element_rules_fail(
    childs: Sequence[Any],
    arr: Column,
    edt: T.DataType,
    path: Optional[Tuple[str, ...]],
    opts: Options,
) -> Column:
    """Fail half of child rules over the elements of the array *arr*
    (``array<struct>`` or ``array<map<string,_>>``), found at the dotted
    column *path*, or None when no column path reaches it.

    Pruning-friendly path: a child that is a plain single-key Rule with no
    further nesting gets compiled against the SUBFIELD ARRAY
    (``col("parent.field")``), so the parquet scan reads only the referenced
    subfields.  Its presence checks and :func:`_vector_fail` validators
    become collection built-ins that stay inside whole-stage codegen; its
    other validators share one ``exists``, its converter gets another.
    Anything else falls back to an ``exists`` over the element struct whose
    lambda runs the compiler's walk in fail-only mode (correct, just
    unpruned)."""
    is_map = _string_keyed_map(edt)
    names = {} if is_map else {f.name: f.dataType for f in edt.fields}
    fails: List[Column] = []
    fallback: List[Any] = []
    for c in childs:
        simple = (
            path is not None
            and not is_map
            and isinstance(c, Rule)
            and isinstance(c.key, str)
            and not c.childs
            and not any(isinstance(v, CustomValidator) for v in (c.validators or ()))
        )
        if not simple:
            fallback.append(c)
            continue
        k = c.key
        if k not in names:
            if c.presence == REQUIRED:
                fails.append(F.size(arr) > 0)
            continue
        sub = F.col(".".join(path + (k,)))  # array of the element field → pruned scan
        fdt = names[k]
        # validators that look up their own key get the subfield array
        one = {k: fdt}
        fscope = Scope(get=lambda kk, s=sub: s, dtype_of=one.__getitem__, has=one.__contains__)
        atomic = isinstance(fdt, _SET_TYPES)
        if c.presence == REQUIRED:
            fails.append(_has_null(sub, fdt) if atomic else F.exists(sub, lambda e: e.isNull()))
        elif c.presence == DEPRECATED:
            fails.append(
                _has_other(sub, (), fdt) if atomic else F.exists(sub, lambda e: e.isNotNull())
            )
            continue
        rest = []
        for v in c.validators or ():
            vf = _vector_fail(v, sub, fdt, fscope)
            if vf is None:
                rest.append(v)
            else:
                fails.append(vf)
        if rest:
            fails.append(F.exists(
                sub, lambda e: e.isNotNull() & _clauses_fail(rest, e, fdt, fscope)
            ))
        if c.converter not in (None, "no_return"):
            conv = c.converter
            fails.append(F.exists(
                sub, lambda e: e.isNotNull() & _convert_fail(conv, e, fdt, fscope)
            ))
    if fallback:
        def fallback_fail(e: Column) -> Column:
            escope = _child_scope(e, edt, (), True, None)
            return _compile_rules(fallback, escope, opts, _Seq(FAIL))[1]

        fails.append(F.exists(arr, fallback_fail))
    return _any(fails)


def compile_fail_predicate(
    rules: Any, schema: T.StructType, opts: Optional[Options] = None
) -> Column:
    """One boolean Column: True iff the row has ≥1 violation — message-free,
    nested-pruning-friendly: a fail-only run of the compiler's rule walk.
    Raises ``SpecError`` on custom pandas-UDF validators or converters
    (anywhere in the tree): their fail condition would run the UDF."""
    rules = normalize_rules(rules)
    if any(_has_custom(n) for n in rules):
        raise SpecError(
            "predicate-only compilation cannot express custom pandas-UDF "
            "validators/converters — use the rich validate() path"
        )
    return _cached(FAIL, rules, schema, opts or Options())


def _passes(fail: Column) -> Column:
    """0/1 pass flag of a row fail predicate; a NULL *fail* counts as a pass."""
    return (~F.coalesce(fail, F.lit(False))).cast("int")


def verdict_aggs(ok: Column) -> List[Column]:
    """The verdict roll-up's aggregates over a 0/1 pass flag:
    ``rows, passed, failed``.  Shared by :func:`partition_verdicts` and
    ``streaming.windowed_verdicts``."""
    return [
        F.count(F.lit(1)).alias("rows"),
        F.sum(ok).alias("passed"),
        (F.count(F.lit(1)) - F.sum(ok)).alias("failed"),
    ]


def verdict_rows(agg_df: DataFrame) -> DataFrame:
    """Finishing projection of :func:`verdict_aggs`: appends ``verdict``."""
    return agg_df.withColumn(
        "verdict", F.when(F.col("failed") == 0, F.lit("pass")).otherwise(F.lit("fail"))
    )


def partition_verdicts(df: DataFrame, fail: Column) -> DataFrame:
    """Per-partition pass/fail roll-up of a row fail predicate: ``(partition_id,
    rows, passed, failed, verdict)`` keyed by ``spark_partition_id()`` — at
    most one group per input partition, so the shuffle is negligible at any
    scale.  A NULL *fail* counts as a pass."""
    flags = df.select(
        F.spark_partition_id().alias("partition_id"), _passes(fail).alias("ok")
    )
    return verdict_rows(flags.groupBy("partition_id").agg(*verdict_aggs(F.col("ok"))))


def verdict_scan(df: DataFrame, rules: Any, **opts: Any) -> DataFrame:
    """Per-partition pass/fail verdicts via the predicate-only path — THE
    whole-corpus verdict job at 10^12 scale: pruned scan → boolean → tiny
    partition-id aggregate.  Row-identical to
    ``validate(df, rules).verdicts``."""
    _require_ansi(df)
    fail = compile_fail_predicate(rules, df.schema, Options(**opts) if opts else None)
    return partition_verdicts(df, fail)


def keyed_verdicts(
    df: DataFrame, rules: Any, unit: Column, unit_name: str = "unit_id", **opts: Any
) -> DataFrame:
    """Pass/fail verdict + row metrics per *logical* unit — the
    checkpoint-manifest lineage record (``checkpoint.py``) expressed as a
    single query over any deterministic unit key (ingest shard, date
    bucket, id range…).  Unlike :func:`verdict_scan`'s physical
    ``spark_partition_id`` roll-up, a caller-supplied key makes the result
    reproducible across cluster sizes — the property a resumable manifest
    needs.

    Returns ``(unit_name, n_rows, n_failed, verdict)``; same predicate-only
    plan: pruned scan → one fused boolean → one tiny hash aggregate (the
    shuffle moves #units rows, nothing else)."""
    _require_ansi(df)
    fail = compile_fail_predicate(rules, df.schema, Options(**opts) if opts else None)
    return (
        df.select(
            unit.alias(unit_name),
            F.coalesce(fail, F.lit(False)).cast("int").alias("__f"),
        )
        .groupBy(unit_name)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("__f").cast("long").alias("n_failed"),
        )
        .withColumn(
            "verdict",
            F.when(F.col("n_failed") == 0, F.lit("pass")).otherwise(F.lit("fail")),
        )
    )
