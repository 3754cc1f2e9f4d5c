"""Predicate-only compilation — the full-corpus verdict scan path.

``compile_fail_predicate(rules, schema)`` compiles a rule tree to ONE
boolean Column ("this row violates something") with **no message or
value-repr construction**, and — crucially for scan cost — accesses
array-of-struct children through *subfield array projections*
(``col("spans.kind")``) instead of element-struct lambdas, so Spark's
nested schema pruning drops every unreferenced span field from the
parquet scan.

Why it exists: the rich path (:mod:`evalidate_spark.compiler`) builds a
typed violations array whose ``value_repr`` references whole values, which
(a) keeps all columns in the scan and (b) pays per-row struct/string
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

Semantics: ``fail_predicate == (size(violations) > 0)`` of the rich path
— asserted in tests over the fixture with injected violations.  The same
equivalence holds per array element: :func:`element_fail` of one element
≡ ``size(that element's violations) > 0``, which is what lets the gated
rich compile build violation structs only for failing elements.  Rules the
predicate-only walker cannot express field-locally (cross-field checks
inside array elements, custom pandas UDF validators, deep nesting inside
arrays) fall back to an element-struct ``exists`` — still message-free,
only the pruning narrows.
"""

from __future__ import annotations

from typing import Any, List, Optional, Sequence, Tuple

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql import types as T

from .compiler import (
    Options,
    Scope,
    _compile_converter,
    _compile_validators,
    _is_number,
    _is_string,
    _type_matches,
)
from .session import _require_ansi
from .spec import (
    DEPRECATED,
    REQUIRED,
    Allowed,
    CustomConverter,
    CustomValidator,
    Default,
    Each,
    Rule,
    RuleAnd,
    RuleOr,
    Size,
    SpecError,
    Type,
    normalize_rules,
)


def _field_scope(names: dict, get) -> Scope:
    return Scope(get=get, dtype_of=lambda k: names[k], has=lambda k: k in names)


def _map_value_scope(parent: Column, dt: T.MapType) -> Scope:
    """Dynamic-key scope over a map value (compiler parity: any key
    resolves via try_element_at, typed as the map's value type)."""
    vt = dt.valueType
    return Scope(
        get=lambda k, p=parent: p if k == "__row__" else F.try_element_at(p, F.lit(k)),
        dtype_of=lambda k: vt,
        has=lambda k: True,
    )


def _string_keyed_map(dt: T.DataType) -> bool:
    return isinstance(dt, T.MapType) and isinstance(dt.keyType, T.StringType)


def _clauses_fail(validators: Sequence[Any], col: Column, dt: T.DataType, scope: Scope) -> Column:
    """OR of all validator fail conditions (messages built but never
    referenced → they never reach the plan)."""
    fail = F.lit(False)
    for cl in _compile_validators(list(validators), col, dt, scope):
        fail = fail | F.coalesce(cl.cond, F.lit(False))
    return fail


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
    predicate.  Custom converters are rejected by :func:`_has_custom`
    before we get here."""
    if conv is None or conv == "no_return":
        return F.lit(False)
    cres = _compile_converter(conv, col, dt, scope)
    fail = F.lit(False)
    if cres.fail is not None:
        fail = fail | F.coalesce(cres.fail, F.lit(False))
    return fail


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


def _rule_fail(
    rule: Rule, scope: Scope, opts: Options, path: Tuple[str, ...],
    in_element: bool = False,
) -> Column:
    keys: List[Optional[str]]
    if rule.key is None:
        keys = [None]
    elif isinstance(rule.key, str):
        keys = [rule.key]
    else:
        keys = list(rule.key)
    fail = F.lit(False)
    for k in keys:
        fail = fail | _one_key_fail(rule, k, scope, opts, path, in_element)
    return fail


def _childs_conv_fail(conv: Any, dt: T.DataType) -> bool:
    """Does the converter fail-condition fire for a rule WITH childs?

    The rich path applies the converter to the child-shaped output
    (``compiler._compile_rule`` conv_in = child struct / converted element
    array).  Statically derivable: over a struct-childs output,
    ``filter_duplicates`` / ``Each`` hit the non-array branch whose fail is
    ``input.isNotNull()`` ≡ present; every other built-in either has no fail
    condition (casts to string) or is rejected with a SpecError by the rich
    compile before gating can matter.  Over array-childs output no built-in
    converter produces a fail condition."""
    if not (isinstance(dt, T.StructType) or _string_keyed_map(dt)):
        return False
    return conv == "filter_duplicates" or isinstance(conv, Each)


def _one_key_fail(
    rule: Rule, key: Optional[str], scope: Scope, opts: Options, path: Tuple[str, ...],
    in_element: bool = False,
) -> Column:
    if key is None:
        val, dt = scope.get("__row__"), T.StructType()
        missing_static = False
    elif scope.has(key):
        val, dt = scope.get(key), scope.dtype_of(key)
        missing_static = False
    else:
        if rule.presence == REQUIRED:
            return F.lit(True)
        return F.lit(False)

    # Pruning proxy: for an array<struct> column whose own validators only
    # look at nullness/size (Size, plain Type), swap in a subfield array —
    # same size, same nullness — so the scan needn't read every span field.
    orig_val = val  # childs fallback needs the real struct array
    vval, vdt = val, dt
    if (
        not in_element  # root-relative F.col paths invalid inside HOF lambdas
        and key is not None
        and isinstance(dt, T.ArrayType)
        and isinstance(dt.elementType, T.StructType)
        and dt.elementType.fields
        and all(_proxyable(v) for v in (rule.validators or ()))
    ):
        pf = _proxy_field(rule, dt.elementType)
        vval = F.col(".".join(path + (key, pf.name)))
        vdt = T.ArrayType(pf.dataType)
        val = vval  # null/size checks below go through the proxy

    is_missing = val.isNull() if key is not None else F.lit(False)
    fail = F.lit(False)
    if rule.presence == REQUIRED:
        fail = fail | is_missing
    elif rule.presence == DEPRECATED:
        return ~is_missing  # present → deprecated violation; nothing else runs

    present = ~is_missing
    if rule.validators:
        fail = fail | (present & _clauses_fail(rule.validators, vval, vdt, scope))
    if not rule.childs:
        fail = fail | (present & _convert_fail(rule.converter, orig_val, dt, scope))

    if rule.childs:
        if isinstance(dt, T.StructType) or _string_keyed_map(dt):
            if isinstance(dt, T.StructType):
                names = {f.name: f.dataType for f in dt.fields}
                cscope = _field_scope(
                    names, lambda k, v=val: v if k == "__row__" else v.getField(k)
                )
            else:
                cscope = _map_value_scope(val, dt)
            sub = F.lit(False)
            for c in rule.childs:
                sub = sub | _node_fail(
                    c, cscope, opts, path + ((key,) if key else ()),
                    in_element or _string_keyed_map(dt),
                )
            fail = fail | (present & sub)
            # parent converter over the child-struct output (rich path:
            # compiler._compile_rule conv over child_struct_out)
            if _childs_conv_fail(rule.converter, dt):
                fail = fail | present
        elif isinstance(dt, T.ArrayType) and (
            isinstance(dt.elementType, T.StructType)
            or _string_keyed_map(dt.elementType)
        ):
            fail = fail | (
                present
                & _element_rules_fail(
                    list(rule.childs), orig_val, dt.elementType,
                    path + ((key,) if key else ()), opts, in_element
                )
            )
            # no built-in converter has a fail condition over the converted
            # element array (see _childs_conv_fail)
        else:
            fail = fail | present  # wrong childs
    return fail


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
    path: Tuple[str, ...],
    opts: Options,
    in_element: bool = False,
) -> Column:
    """Child rules over array<struct> elements.

    Pruning-friendly path: a child that is a plain single-key Rule with no
    further nesting gets compiled against the SUBFIELD ARRAY
    (``col("parent.field")``), so the parquet scan reads only the referenced
    subfields.  Its presence checks and :func:`_vector_fail` validators
    become collection built-ins that stay inside whole-stage codegen; its
    other validators share one ``exists``, its converter gets another.
    Anything else falls back to an ``exists`` over the element struct
    (correct, just unpruned)."""
    is_map = _string_keyed_map(edt)
    names = {} if is_map else {f.name: f.dataType for f in edt.fields}
    fail = F.lit(False)
    fallback: List[Any] = []
    for c in childs:
        # the F.col(dotted-path) subfield-array form is only valid when the
        # array itself is root-addressable; inside an element lambda (and
        # over dynamic map elements) all childs go through the fallback
        simple = (
            not in_element
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
                fail = fail | (F.size(arr) > 0)
            continue
        sub = F.col(".".join(path + (k,)))  # array of the element field → pruned scan
        fdt = names[k]
        fscope = _field_scope({k: fdt}, lambda kk, s=sub: s)
        atomic = isinstance(fdt, _SET_TYPES)
        if c.presence == REQUIRED:
            fail = fail | (_has_null(sub, fdt) if atomic else F.exists(sub, lambda e: e.isNull()))
        elif c.presence == DEPRECATED:
            fail = fail | (
                _has_other(sub, (), fdt) if atomic else F.exists(sub, lambda e: e.isNotNull())
            )
            continue
        rest = []
        for v in c.validators or ():
            vf = _vector_fail(v, sub, fdt, fscope)
            if vf is None:
                rest.append(v)
            else:
                fail = fail | vf
        if rest:
            fail = fail | F.exists(
                sub, lambda e: e.isNotNull() & _clauses_fail(rest, e, fdt, fscope)
            )
        if c.converter not in (None, "no_return"):
            conv = c.converter
            fail = fail | F.exists(
                sub, lambda e: e.isNotNull() & _convert_fail(conv, e, fdt, fscope)
            )
    if fallback:
        fail = fail | F.exists(arr, lambda e: element_fail(fallback, e, edt, opts, path))
    return fail


def element_fail(
    childs: Sequence[Any], e: Column, edt: T.DataType, opts: Options,
    path: Tuple[str, ...] = (),
) -> Column:
    """Fail condition of ONE array element *e* (inside a higher-order
    function lambda) under the element *childs* rules — message-free, and
    ``≡ size(element's violations) > 0`` of the rich element compile
    (``compiler._compile_element_rules`` gates each element's violation
    builder on it)."""
    if _string_keyed_map(edt):
        escope = _map_value_scope(e, edt)
    else:
        names = {f.name: f.dataType for f in edt.fields}
        escope = _field_scope(names, lambda k: e if k == "__row__" else e.getField(k))
    fail = F.lit(False)
    for c in childs:
        fail = fail | _node_fail(c, escope, opts, path, in_element=True)
    return fail


def _node_fail(
    node: Any, scope: Scope, opts: Options, path: Tuple[str, ...],
    in_element: bool = False,
) -> Column:
    if isinstance(node, Rule):
        return _rule_fail(node, scope, opts, path, in_element)
    if isinstance(node, RuleAnd):
        fail = F.lit(False)
        for r in node.rules:
            fail = fail | _node_fail(r, scope, opts, path, in_element)
        return fail
    if isinstance(node, RuleOr):
        fail = F.lit(True)
        for r in node.rules:
            fail = fail & _node_fail(r, scope, opts, path, in_element)
        return fail
    raise SpecError("Unknown rule(s) '%r'" % (node,))


def compile_fail_predicate(
    rules: Any, schema: T.StructType, opts: Optional[Options] = None
) -> Column:
    """One boolean Column: True iff the row has ≥1 violation — message-free,
    nested-pruning-friendly.  Custom pandas-UDF validators are supported at
    the top level (their fail condition is kept, messages dropped)."""
    opts = opts or Options()
    rules = normalize_rules(rules)
    if any(_has_custom(n) for n in rules):
        raise SpecError(
            "predicate-only compilation cannot express custom pandas-UDF "
            "validators/converters — use the rich validate() path"
        )
    names = {f.name: f.dataType for f in schema.fields}

    def get(k: str) -> Column:
        if k == "__row__":
            return F.struct(*[F.col("`%s`" % f.name) for f in schema.fields])
        if k not in names:
            raise KeyError(k)
        return F.col("`%s`" % k)

    scope = _field_scope(names, get)
    fail = F.lit(False)
    for node in rules:
        fail = fail | _node_fail(node, scope, opts, ())
    return fail


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
