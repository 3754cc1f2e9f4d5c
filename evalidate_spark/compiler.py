"""Spec → Spark plan compiler.

Driver-side compiler that turns a :mod:`evalidate_spark.spec` rule tree into

* one ``violations`` Column — ``array<struct<rule_seq,rule_id,key_path,
  span_index,message,value_repr>>`` computed in a **single fused projection**
  (Catalyst folds every check into one WholeStageCodegen stage: no shuffle,
  no per-row Python unless a custom fn is used, and then it is an
  Arrow-batched pandas UDF), and
* an ordered output projection (converted values, defaults injected,
  ``no_return`` keys dropped) mirroring the reference's output reshaping
  (``/root/reference/src/evalidate.erl:145-206``).

The same rule walk returns each node's message-free fail Column next to its
violations, so one compile also gives the row's fail predicate; a fail-only
walk (:func:`evalidate_spark.fastpath.compile_fail_predicate`) builds
nothing else.

A session compiles a spec once: both walks are memoised on the canonical
spec JSON, the schema JSON, the options, the walk and the Py4J gateway that
owns the Columns (:func:`_cached`), so a repeat ``validate()`` of an equal
spec builds no Column.  Specs whose JSON could stand for a different spec
(custom pandas-UDF callables, hand-built ``Native`` validators, literals JSON
cannot tell apart) compile afresh on every call.

Fail-fast parity: the reference throws at the first violating rule in
depth-first order (``/root/reference/src/evalidate.erl:211-212``).  We compute
*all* violations per row (richer), ordered by depth-first ``rule_seq``, so the
reference's answer is exactly ``violations[0]`` (`first_error`).

Validator messages follow ``/root/reference/include/ev_errors.hrl`` templates
bit-for-bit; see :mod:`evalidate_spark.errors`.
"""

from __future__ import annotations

import copy
import functools
import itertools
import json
import operator
import threading
from collections import OrderedDict
from dataclasses import astuple, dataclass, replace
from typing import Any, Callable, List, Optional, Sequence, Tuple

import pandas as pd  # module-level so pandas_udf type hints resolve
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import errors as E
from .spec_json import LIB_REGISTRY, rules_to_json
from .spec import (
    DEPRECATED,
    OPTIONAL,
    REQUIRED,
    Allowed,
    CustomConverter,
    CustomValidator,
    Default,
    Each,
    EqualToObjectOfOtherKeys,
    Native,
    OrV,
    Regexp,
    Rule,
    RuleAnd,
    RuleOr,
    Size,
    SpecError,
    Type,
    normalize_rules,
)

VIOLATION_FIELDS = ["rule_seq", "rule_id", "key_path", "span_index", "message", "value_repr"]

_NUMERIC = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
_FLOATING = (T.FloatType, T.DoubleType, T.DecimalType)


# --------------------------------------------------------------------------
# column-side message helpers (mirror errors.py for dynamic values)
# --------------------------------------------------------------------------
def c_unscriptize(col: Column) -> Column:
    """Column-side ``?UNSCRIPTIZE`` (`ev_errors.hrl:17-22`)."""
    return F.regexp_replace(col, "([<>])", r"\\$1")


def c_maybe_cut(col: Column) -> Column:
    return F.when(
        F.length(col) > E.MAX_VALUE_CHARS,
        F.concat(F.substring(col, 1, E.MAX_VALUE_CHARS), F.lit("...")),
    ).otherwise(col)


def _is_string(dt: T.DataType) -> bool:
    return isinstance(dt, T.StringType)


def _is_int(dt: T.DataType) -> bool:
    return isinstance(dt, _NUMERIC)


def _is_float(dt: T.DataType) -> bool:
    return isinstance(dt, _FLOATING)


def _is_number(dt: T.DataType) -> bool:
    return _is_int(dt) or _is_float(dt)


def c_p_repr(col: Column, dt: T.DataType) -> Column:
    """Column-side canonical ``~p`` repr (see ``errors.fmt_p``)."""
    if _is_string(dt):
        return F.concat(F.lit('<<"'), col, F.lit('">>'))
    if isinstance(dt, T.BooleanType):
        return F.when(col, F.lit("true")).otherwise(F.lit("false"))
    if _is_number(dt):
        return col.cast("string")
    if isinstance(dt, T.ArrayType):
        return F.concat(
            F.lit("["),
            F.array_join(F.transform(col, lambda e: c_p_repr(e, dt.elementType)), ","),
            F.lit("]"),
        )
    if isinstance(dt, T.MapType):
        entries = F.transform(
            F.map_entries(col),
            lambda kv: F.concat(
                F.lit("{"),
                c_p_repr(kv["key"], dt.keyType),
                F.lit(","),
                c_p_repr(kv["value"], dt.valueType),
                F.lit("}"),
            ),
        )
        return F.concat(F.lit("["), F.array_join(entries, ","), F.lit("]"))
    if isinstance(dt, T.StructType):
        parts: List[Column] = [F.lit("{")]
        for i, f_ in enumerate(dt.fields):
            if i:
                parts.append(F.lit(","))
            parts.append(c_p_repr(col.getField(f_.name), f_.dataType))
        parts.append(F.lit("}"))
        return F.concat(*parts)
    return col.cast("string")


def c_ts_repr(col: Column, dt: T.DataType) -> Column:
    """Column-side ``~ts`` repr (see ``errors.fmt_ts``)."""
    if _is_string(dt):
        return c_maybe_cut(col)
    if isinstance(dt, T.BooleanType):
        return F.when(col, F.lit("true")).otherwise(F.lit("false"))
    if _is_number(dt):
        return col.cast("string")
    return c_maybe_cut(c_p_repr(col, dt))


# --------------------------------------------------------------------------
# compile context
# --------------------------------------------------------------------------
@dataclass
class Options:
    parent_key: bool = True  # dotted key paths in messages (:267-279)
    keep_unruled: bool = False  # reference drops unruled keys (suite :1703-1716)


# what a walk builds: violations, fail halves and outputs (FULL); only the
# fail halves (FAIL); only the outputs (OUTS)
FULL, FAIL, OUTS = "full", "fail", "outs"


class _Seq:
    """Per-compile state: the depth-first rule-seq counter, and what the
    walk builds (:data:`FULL`, :data:`FAIL` or :data:`OUTS`)."""

    def __init__(self, walk: str = FULL) -> None:
        self._count = itertools.count(1)
        self.viols = walk == FULL
        self.fails = walk != OUTS
        self.outs = walk != FAIL

    def next(self) -> int:
        return next(self._count)

    def checks(self) -> "_Seq":
        """This walk without its outputs, numbering on the same counter."""
        seq = copy.copy(self)
        seq.outs = False
        return seq


@dataclass
class Scope:
    """Where values are resolved from: top-level columns, a nested struct,
    or an array element inside a higher-order-function lambda."""

    get: Callable[[str], Column]  # key -> value Column (or raises KeyError)
    dtype_of: Callable[[str], T.DataType]
    has: Callable[[str], bool]
    parents: Tuple[str, ...] = ()
    in_element: bool = False  # True inside HOF lambda (no UDFs allowed)
    span_index: Optional[Column] = None
    # values are root columns, addressable as F.col(".".join(parents + (key,)))
    # — what the fail half's subfield-array forms need (fastpath)
    rooted: bool = False


@dataclass
class OutCol:
    name: str
    col: Column
    dtype: T.DataType
    # per-row "this rule emitted a pair for this key" condition (None =
    # always). The reference's output is a proplist: an optional rule with a
    # missing value emits no pair, and a rule_or emits only the winning
    # alternative's pairs — later pairs overwrite earlier ones only where
    # they exist.
    present: Optional[Column] = None


@dataclass
class Compiled:
    """Result of compiling a spec against a schema."""

    violations: Column  # array<struct<...>> in depth-first order
    outputs: List[OutCol]


def _viol_struct(
    seq: int,
    rule_id: str,
    key_path: Optional[Column],
    message: Column,
    value_repr: Optional[Column],
    span_index: Optional[Column] = None,
) -> Column:
    return F.struct(
        F.lit(seq).cast("int").alias("rule_seq"),
        F.lit(rule_id).alias("rule_id"),
        (key_path if key_path is not None else F.lit(None).cast("string")).alias("key_path"),
        (span_index if span_index is not None else F.lit(None).cast("int")).alias("span_index"),
        message.cast("string").alias("message"),
        (value_repr if value_repr is not None else F.lit(None).cast("string")).alias(
            "value_repr"
        ),
    )


_VIOLS_TYPE = T.ArrayType(T.StructType([
    T.StructField(n, T.IntegerType() if n in ("rule_seq", "span_index") else T.StringType())
    for n in VIOLATION_FIELDS
]))
_empty_viols_col: Tuple[Any, Optional[Column]] = (None, None)  # (gateway, Column)


def _empty_viols() -> Column:
    """The typed empty violations array, built once per gateway."""
    global _empty_viols_col
    owner, col = _empty_viols_col
    if col is None or owner is not _owner():
        col = F.array().cast(_VIOLS_TYPE)
        _empty_viols_col = (_owner(), col)
    return col


def _entry_array(entry: Column) -> Column:
    """Wrap a nullable violation struct into a 0/1-element array."""
    return F.filter(F.array(entry), lambda x: x.isNotNull())


# --------------------------------------------------------------------------
# validator compilation: (fail_msg Column|None, is_error_kind chain)
# --------------------------------------------------------------------------
@dataclass
class VClause:
    """One WHEN clause of a rule's validator chain: if `cond` then the rule
    fails with `message`.  `error_kind` distinguishes the reference's
    ``{error, Msg}`` (raw throw, bypasses on_validate_error and the
    structured payload — ``/root/reference/src/evalidate.erl:134-136``) from
    ``{false, Msg}`` (wrapped + overridable)."""

    cond: Column
    message: Callable[[], Column]  # built only where a violation is
    error_kind: bool = False


def _type_matches(cond: Any, col: Column, dt: T.DataType, scope: Scope) -> Optional[Column]:
    """Return None for statically-true, a boolean Column otherwise
    (F.lit(False) when statically false)."""
    if isinstance(cond, str):
        if cond == "binary":
            ok = _is_string(dt) or isinstance(dt, T.BinaryType)
            return None if ok else F.lit(False)
        if cond == "list":
            ok = isinstance(dt, (T.ArrayType, T.MapType))
            return None if ok else F.lit(False)
        if cond == "tuple":
            ok = isinstance(dt, T.StructType)
            return None if ok else F.lit(False)
        if cond == "boolean":
            return None if isinstance(dt, T.BooleanType) else F.lit(False)
        if cond == "integer":
            return None if _is_int(dt) else F.lit(False)
        if cond == "float":
            return None if _is_float(dt) else F.lit(False)
        if cond == "number":
            return None if _is_number(dt) else F.lit(False)
        if cond == "atom":
            # atoms do not exist in the Spark data model except booleans
            return None if isinstance(dt, T.BooleanType) else F.lit(False)
        if cond == "uniq_list":
            if isinstance(dt, T.MapType):
                # proplist uniq_list = unique KEYS (/root/reference/src/evv.erl:140-147);
                # a Spark map's keys are unique by construction
                return None
            if not isinstance(dt, T.ArrayType):
                return F.lit(False)
            elem = dt.elementType
            if isinstance(elem, T.StructType) and elem.fields:
                # proplist semantics: unique by first field (the key) —
                # /root/reference/src/evv.erl:140-147
                k = elem.fields[0].name
                keys = F.transform(col, lambda e: e.getField(k))
                return F.size(keys) == F.size(F.array_distinct(keys))
            return F.size(col) == F.size(F.array_distinct(col))
        if cond == "list_of_equal_objects":
            # /root/reference/src/evv.erl:128-138
            if not isinstance(dt, T.ArrayType):
                return F.lit(False)
            elem = dt.elementType
            if isinstance(elem, T.MapType):
                keysets = F.transform(col, lambda m: F.array_sort(F.map_keys(m)))
                return (
                    (F.size(col) >= 2)
                    & (F.size(F.try_element_at(keysets, F.lit(1))) > 0)
                    & (F.size(F.array_distinct(keysets)) == 1)
                )
            if isinstance(elem, T.StructType):
                ok_shape = len(elem.fields) > 0
                return (F.size(col) >= 2) if ok_shape else F.lit(False)
            return F.lit(False)
        raise SpecError("Unknown type validator '%s'" % cond)
    if isinstance(cond, tuple) and len(cond) == 2 and cond[0] == "list":
        if not isinstance(dt, T.ArrayType):
            return F.lit(False)
        elem_dt = dt.elementType

        def elem_ok(e: Column) -> Column:
            clauses = _compile_validators(list(cond[1]), e, elem_dt, scope, in_hof=True)
            ok = F.lit(True)
            for cl in clauses:
                ok = ok & ~F.coalesce(cl.cond, F.lit(False))
            return ok

        return F.forall(col, elem_ok)
    if isinstance(cond, list):
        sub = [_type_matches(c, col, dt, scope) for c in cond]
        if any(s is None for s in sub):
            return None
        out = sub[0]
        for s in sub[1:]:
            out = out | s
        return out
    raise SpecError("Unknown type validator '%r'" % (cond,))


def _size_of(col: Column, dt: T.DataType) -> Tuple[Column, str]:
    """(size expr, parameter label) — /root/reference/src/evv.erl:164-176.
    The reference labels string sizes 'byte_size' while counting unicode
    chars; we pin the same label + char count."""
    if _is_string(dt):
        return F.length(col), "byte_size"
    if isinstance(dt, (T.ArrayType, T.MapType)):
        return F.size(col), "length"
    if _is_number(dt):
        return col, "limit"
    raise SpecError("size validator unsupported for column type %s" % dt.simpleString())


def _compile_validators(
    validators: Sequence[Any],
    col: Column,
    dt: T.DataType,
    scope: Scope,
    in_hof: bool = False,
) -> List[VClause]:
    """Compile a conjunctive validator list into ordered WHEN clauses.
    Evaluation order == list order, reproducing the reference's
    short-circuit (``/root/reference/src/evv.erl:18-29``)."""
    clauses: List[VClause] = []

    def value_msg(repr_: Callable[[Column, T.DataType], Column], tail: str) -> Callable[[], Column]:
        return lambda: F.concat(
            F.lit("Value '"), c_unscriptize(repr_(col, dt)), F.lit("' is not valid. " + tail)
        )

    for v in validators:
        if isinstance(v, Type):
            ok = _type_matches(v.of, col, dt, scope)
            if ok is None:
                continue  # statically true
            tail = "Type of value is not '%s'" % E.type_cond_name(v.of)
            clauses.append(VClause(~ok, value_msg(c_ts_repr, tail)))
        elif isinstance(v, Size):
            sz, param = _size_of(col, dt)
            if v.min is not None:
                msg = E.size_min_msg(param, v.min)
                clauses.append(VClause(sz < v.min, lambda m=msg: F.lit(m)))
            if v.max is not None:
                msg = E.size_max_msg(param, v.max)
                clauses.append(VClause(sz > v.max, lambda m=msg: F.lit(m)))
        elif isinstance(v, Regexp):
            if _is_string(dt):
                tail = "Validation with regexp '%s' failed" % v.pattern
                clauses.append(VClause(~col.rlike(v.pattern), value_msg(c_ts_repr, tail)))
            else:
                # non-binary value → {error, Bad regexp} (/root/reference/src/evv.erl:193-194)
                clauses.append(
                    VClause(F.lit(True), lambda: F.lit(E.ERR_BAD_REGEXP), error_kind=True)
                )
        elif isinstance(v, Allowed):
            vals = [x for x in v.values]
            lits = _isin_literals(vals, dt)
            cond = ~col.isin(lits) if lits else F.lit(True)
            tail = "Value is not in allowed list %s" % E.fmt_p(vals)
            clauses.append(VClause(cond, value_msg(c_p_repr, tail)))
        elif isinstance(v, OrV):
            clauses.append(_compile_or_validator(v, col, dt, scope, in_hof))
        elif isinstance(v, EqualToObjectOfOtherKeys):
            conds = []
            for k in v.keys:
                if not scope.has(k):
                    conds.append(F.lit(False))
                    continue
                other, odt = scope.get(k), scope.dtype_of(k)
                conds.append(_equal_objects(col, dt, other, odt))
            ok = conds[0]
            for c in conds[1:]:
                ok = ok & c
            clauses.append(VClause(~ok, lambda: F.lit(E.V_ERR_DEFAULT)))
        elif isinstance(v, Native):
            for cond, message, err in v.build(col, dt):
                clauses.append(VClause(
                    cond,
                    lambda m=message: F.lit(m) if isinstance(m, str) else m,
                    error_kind=err,
                ))
        elif isinstance(v, CustomValidator):
            if in_hof or scope.in_element:
                raise SpecError(
                    "custom validators inside array-element rules are not "
                    "supported; lift the check to an array-level custom rule"
                )
            marked = _custom_validator_col(v, col, dt, scope)
            tail_msg = lambda m=marked: F.substring(m, 3, 2 ** 24)  # noqa: E731
            clauses.append(VClause(marked.startswith("E:"), tail_msg, error_kind=True))
            clauses.append(VClause(marked.startswith("F:"), tail_msg))
        else:
            raise SpecError("Unknown validator '%r'" % (v,))
    return clauses


def _isin_literals(vals: List[Any], dt: T.DataType) -> List[Any]:
    """Filter literal values to those comparable with the column type, so a
    mixed allowed list (reference allows heterogenous terms) doesn't break
    the typed ``isin``."""
    out = []
    for x in vals:
        if _is_string(dt) and isinstance(x, str):
            out.append(x)
        elif isinstance(dt, T.BooleanType) and isinstance(x, bool):
            out.append(x)
        elif _is_number(dt) and isinstance(x, (int, float)) and not isinstance(x, bool):
            out.append(x)
    return out


def _equal_objects(a: Column, adt: T.DataType, b: Column, bdt: T.DataType) -> Column:
    """is_list_of_equal_objects([A, B]) over map/struct columns
    (/root/reference/src/evv.erl:155-161): same non-empty key set."""
    def keyset(c: Column, dt: T.DataType) -> Optional[Column]:
        if isinstance(dt, T.MapType):
            return F.array_sort(F.map_keys(c))
        if isinstance(dt, T.StructType):
            return F.array([F.lit(f.name) for f in sorted(dt.fields, key=lambda f: f.name)])
        return None

    ka, kb = keyset(a, adt), keyset(b, bdt)
    if ka is None or kb is None:
        return F.lit(False)
    return a.isNotNull() & b.isNotNull() & (F.size(ka) > 0) & (ka == kb)


def _custom_validator_col(
    v: CustomValidator, col: Column, dt: T.DataType, scope: Scope
) -> Column:
    """Compile a custom predicate to an Arrow-batched pandas UDF producing a
    marker string: NULL pass, 'F:msg' false-kind, 'E:msg' error-kind —
    protocol at /root/reference/src/evv.erl:62-84."""

    from pyspark.sql.functions import pandas_udf

    fn, arity, vectorized = v.fn, v.arity, v.vectorized

    def classify(res: Any) -> Optional[str]:
        if res is True:
            return None
        if res is False:
            return "F:" + E.V_ERR_DEFAULT
        if isinstance(res, tuple) and len(res) == 2 and res[0] is False:
            return "F:" + str(res[1])
        if isinstance(res, tuple) and len(res) == 2 and res[0] == "error":
            return "E:" + str(res[1])
        return "E:" + E.ERR_WRONG_FUN

    if arity == 1:

        @pandas_udf("string")
        def _udf(s: pd.Series) -> pd.Series:
            if vectorized:
                try:
                    res = fn(s)
                except EvalidateThrow as ex:
                    return pd.Series(["E:" + str(ex)] * len(s))
                return res.map(classify) if hasattr(res, "map") else pd.Series(
                    [classify(res)] * len(s)
                )

            def one(x: Any) -> Optional[str]:
                if x is None:
                    return None
                try:
                    return classify(fn(x))
                except EvalidateThrow as ex:
                    return "E:" + str(ex)
                except Exception:
                    return "E:" + E.ERR_WRONG_FUN

            return s.map(one)

        return _udf(col)

    # arity 2: value + sibling row data as a struct
    row_struct = scope.get("__row__")

    @pandas_udf("string")
    def _udf2(s: pd.Series, data: pd.Series) -> pd.Series:
        def one(x: Any, d: Any) -> Optional[str]:
            if x is None:
                return None
            try:
                return classify(fn(x, d))
            except EvalidateThrow as ex:
                return "E:" + str(ex)
            except Exception:
                return "E:" + E.ERR_WRONG_FUN

        return pd.Series([one(x, d) for x, d in zip(s, data)])

    return _udf2(col, row_struct)


class EvalidateThrow(Exception):
    """Custom fns raise this to emit an error-kind message, mirroring the
    reference's ``throw({error, Msg})`` protocol
    (suite ``test/evalidate_SUITE.erl:1480-1501``)."""


# --------------------------------------------------------------------------
# converters
# --------------------------------------------------------------------------
@dataclass
class ConvResult:
    out: Column
    out_dtype: T.DataType
    fail: Optional[Column] = None  # convert-crash condition
    custom_err: Optional[Column] = None  # custom {error,Msg} message column


_SCALAR_CONVERTERS = ("to_int", "to_float", "to_boolean", "lowercase")
_COMPLEX = (T.ArrayType, T.MapType, T.StructType)


def _compile_converter(
    conv: Any, col: Column, dt: T.DataType, scope: Scope
) -> ConvResult:
    """Converter → output expr + failure condition.  Crash semantics →
    'Couldn't convert …' (/root/reference/src/evalidate.erl:176-178)."""
    if conv is None:
        return ConvResult(col, dt)
    if isinstance(conv, str):
        if conv in _SCALAR_CONVERTERS and isinstance(dt, _COMPLEX):
            # the reference crashes on every present value ("Couldn't
            # convert"); a Spark cast of a complex type fails analysis, so
            # the statically-typed spec is a config error instead
            raise SpecError(
                "converter %s cannot convert a %s value" % (conv, dt.simpleString())
            )
        if conv == "to_int":
            out = col.try_cast("bigint")
            return ConvResult(out, T.LongType(), fail=col.isNotNull() & out.isNull())
        if conv == "to_float":
            out = col.try_cast("double")
            return ConvResult(out, T.DoubleType(), fail=col.isNotNull() & out.isNull())
        if conv in ("to_binary", "to_list", "to_atom"):
            return ConvResult(_to_string(col, dt), T.StringType())
        if conv == "to_boolean":
            out = col.try_cast("boolean") if not isinstance(dt, T.BooleanType) else col
            return ConvResult(out, T.BooleanType(), fail=col.isNotNull() & out.isNull())
        if conv == "lowercase":
            return ConvResult(F.lower(col), T.StringType())
        if conv == "filter_duplicates":
            if not isinstance(dt, T.ArrayType):
                return ConvResult(col, dt, fail=col.isNotNull())
            elem = dt.elementType
            if isinstance(elem, T.StructType) and elem.fields:
                # dedupe by key (first field), first occurrence wins —
                # /root/reference/src/evalidate.erl:237-248
                k = elem.fields[0].name
                acc0 = F.expr("array()").cast(dt.simpleString())
                out = F.aggregate(
                    col,
                    acc0,
                    lambda acc, x: F.when(
                        F.exists(acc, lambda a: a.getField(k) == x.getField(k)), acc
                    ).otherwise(F.concat(acc, F.array(x))),
                )
                return ConvResult(out, dt)
            return ConvResult(F.array_distinct(col), dt)
        raise SpecError("Wrong converter")
    if isinstance(conv, Each):
        if not isinstance(dt, T.ArrayType):
            return ConvResult(col, dt, fail=col.isNotNull())
        inner = _compile_converter(
            conv.conv, F.lit(None), dt.elementType, scope
        )  # probe for dtype only

        def apply_elem(e: Column) -> Column:
            return _compile_converter(conv.conv, e, dt.elementType, scope).out

        out = F.transform(col, apply_elem)
        fail = F.exists(
            F.zip_with(col, out, lambda i, o: i.isNotNull() & o.isNull()), lambda x: x
        ) if inner.fail is not None else None
        return ConvResult(out, T.ArrayType(inner.out_dtype), fail=fail)
    if isinstance(conv, CustomConverter):
        return _custom_converter(conv, col, dt, scope)
    raise SpecError("Wrong converter")


def _to_string(col: Column, dt: T.DataType) -> Column:
    if isinstance(dt, T.BooleanType):
        return F.when(col, F.lit("true")).otherwise(F.lit("false"))
    return col.cast("string")


def _custom_converter(conv: CustomConverter, col: Column, dt: T.DataType, scope: Scope) -> ConvResult:

    from pyspark.sql.functions import pandas_udf

    fn, vectorized, arity = conv.fn, conv.vectorized, conv.arity
    out_ddl = "struct<val:%s, err:string>" % conv.out_type

    if arity == 1:

        @pandas_udf(out_ddl)
        def _udf(s: pd.Series) -> pd.DataFrame:
            if vectorized:
                vals = fn(s)
                return pd.DataFrame({"val": vals, "err": [None] * len(s)})

            vals, errs = [], []
            for x in s:
                if x is None:
                    vals.append(None)
                    errs.append(None)
                    continue
                try:
                    r = fn(x)
                    if isinstance(r, tuple) and len(r) == 2 and r[0] == "error":
                        vals.append(None)
                        errs.append(str(r[1]))
                    else:
                        vals.append(r)
                        errs.append(None)
                except Exception:
                    vals.append(None)
                    errs.append("__crash__")
            return pd.DataFrame({"val": vals, "err": errs})

        res = _udf(col)
    else:
        row_struct = scope.get("__row__")

        @pandas_udf(out_ddl)
        def _udf2(s: pd.Series, data: pd.Series) -> pd.DataFrame:
            vals, errs = [], []
            for x, d in zip(s, data):
                if x is None:
                    vals.append(None)
                    errs.append(None)
                    continue
                try:
                    r = fn(x, d)
                    if isinstance(r, tuple) and len(r) == 2 and r[0] == "error":
                        vals.append(None)
                        errs.append(str(r[1]))
                    else:
                        vals.append(r)
                        errs.append(None)
                except Exception:
                    vals.append(None)
                    errs.append("__crash__")
            return pd.DataFrame({"val": vals, "err": errs})

        res = _udf2(col, row_struct)

    from pyspark.sql.types import _parse_datatype_string

    out_dt = _parse_datatype_string(conv.out_type)
    return ConvResult(
        res.getField("val"),
        out_dt,
        fail=res.getField("err") == "__crash__",
        custom_err=F.when(
            res.getField("err").isNotNull() & (res.getField("err") != "__crash__"),
            res.getField("err"),
        ),
    )


def _compile_or_validator(
    v: OrV, col: Column, dt: T.DataType, scope: Scope, in_hof: bool
) -> VClause:
    """Validator-level {'or', conds}: alternatives tried in order; a pass
    wins; an {error,_} propagates; all-false → generic default
    (/root/reference/src/evv.erl:30-36,89-97)."""
    any_ok = F.lit(False)
    err_found = F.lit(False)
    # per alternative: (tried, its error-kind clauses as (cond, message))
    errs: List[Tuple[Column, List[Tuple[Column, Callable[[], Column]]]]] = []
    for alt in v.alternatives:
        clauses = _compile_validators([alt], col, dt, scope, in_hof=in_hof)
        alt_fail = F.lit(False)
        alt_err_cond = F.lit(False)
        alt_errs = []
        for cl in clauses:
            c = F.coalesce(cl.cond, F.lit(False))
            if cl.error_kind:
                hit = ~alt_fail & c
                alt_errs.append((hit, cl.message))
                alt_err_cond = alt_err_cond | hit
            alt_fail = alt_fail | c
        # error only counts if encountered before this alt passed; once an
        # error alternative is hit the loop stops in the reference
        if alt_errs:
            errs.append((~err_found & ~any_ok & alt_err_cond, alt_errs))
        err_found = err_found | (~any_ok & alt_err_cond)
        any_ok = any_ok | (~err_found & ~alt_fail)

    def message(err_found: Column = err_found) -> Column:
        err_msg: Column = F.lit(None).cast("string")
        for tried, alt_errs in errs:
            alt_err_msg: Column = F.lit(None).cast("string")
            for cond, msg in alt_errs:
                alt_err_msg = F.when(cond, msg()).otherwise(alt_err_msg)
            err_msg = F.when(tried, alt_err_msg).otherwise(err_msg)
        # error_kind is dynamic here; approximate: treat as false-kind unless
        # an error fired — handled by returning the error message directly
        return F.when(err_found, err_msg).otherwise(F.lit(E.V_ERR_DEFAULT))

    return VClause(~any_ok, message)


# --------------------------------------------------------------------------
# rule compilation
# --------------------------------------------------------------------------
def compile_spec(rules: Any, schema: T.StructType, opts: Optional[Options] = None) -> Compiled:
    """Compile *rules* against *schema*."""
    return _compile(rules, schema, opts)[0]


def _compile(
    rules: Any, schema: T.StructType, opts: Optional[Options] = None
) -> Tuple[Compiled, Column]:
    """One walk of *rules* against *schema*, or the cached result of an
    equal one: the compiled violations and outputs, and the row's
    message-free fail predicate (``fail ≡
    size(violations) > 0``, NULL-free only after a coalesce) in the pruned
    form :func:`evalidate_spark.fastpath.compile_fail_predicate` gives."""
    opts = opts or Options()
    compiled, fail = _cached(FULL, rules, schema, opts)
    # a fresh Compiled and outputs, so no caller can change a cache entry
    return replace(compiled, outputs=[replace(o) for o in compiled.outputs]), fail


def _walk(rules: Any, schema: T.StructType, opts: Options, walk: str) -> Any:
    """The uncached walk of :func:`_cached`: for FULL the compiled
    violations and outputs and the fail predicate, for FAIL the fail
    predicate alone."""
    arrays, fail, outputs = _compile_rules(
        normalize_rules(rules), _root_scope(schema), opts, _Seq(walk)
    )
    if walk == FAIL:
        return fail
    viols = _concat_viols(arrays)
    if opts.keep_unruled:
        ruled = {o.name for o in outputs}
        for f_ in schema.fields:
            if f_.name not in ruled:
                outputs.append(OutCol(f_.name, F.col("`%s`" % f_.name), f_.dataType))
    return Compiled(violations=viols, outputs=outputs), fail


# --------------------------------------------------------------------------
# compile cache
# --------------------------------------------------------------------------
# entries kept, least recently used dropped first; a span-rules entry holds
# a few thousand Py4J references
_CACHE_SIZE = 32
_cache: "OrderedDict[tuple, tuple]" = OrderedDict()
_cache_lock = threading.Lock()  # foreachBatch validates on Py4J's callback thread


def _owner() -> Any:
    """The Py4J gateway whose JVM holds the Columns built now (None with no
    JVM).  A stopped JVM's Columns are dead, so entries are bound to it."""
    from pyspark import SparkContext

    return SparkContext._gateway


def _cached(walk: str, rules: Any, schema: T.StructType, opts: Options) -> Any:
    """:func:`_walk`, memoised while the spec key is exact and the gateway
    the entry was built on is the current one (compared by identity)."""
    key = _cache_key(walk, rules, schema, opts)
    if key is None:
        return _walk(rules, schema, opts, walk)
    owner = _owner()
    with _cache_lock:
        hit = _cache.get(key)
        if hit is not None and hit[0] is owner:
            _cache.move_to_end(key)
            return hit[1]
    value = _walk(rules, schema, opts, walk)
    with _cache_lock:
        _cache[key] = (owner, value)
        _cache.move_to_end(key)
        if len(_cache) > _CACHE_SIZE:
            _cache.popitem(last=False)
    return value


def _clear_cache() -> None:
    with _cache_lock:
        _cache.clear()


def _cache_key(walk: str, rules: Any, schema: T.StructType, opts: Options) -> Optional[tuple]:
    """The cache key of a compile, or None when two specs with this key
    might compile differently."""
    try:
        nodes = normalize_rules(rules)
        if not all(_exact_node(n) for n in nodes):
            return None
        key = (walk, rules_to_json(nodes, indent=None), schema.json(), astuple(opts))
        hash(key)
    except (TypeError, ValueError):  # SpecError is a ValueError
        return None
    return key


_SCALARS = (str, int, float, bool, type(None))


def _plain(x: Any) -> bool:
    """JSON gives *x* back as it was: a str, int, float, bool or None, or a
    list of those (a tuple or a dict key would come back changed)."""
    if type(x) is list:
        return all(_plain(y) for y in x)
    return type(x) in _SCALARS


def _plain_seq(xs: Any) -> bool:
    return type(xs) in (list, tuple) and all(_plain(x) for x in xs)


def _exact_node(node: Any) -> bool:
    """Does the JSON of *node* say everything its compile reads?"""
    if type(node) in (RuleAnd, RuleOr):
        return (
            type(node.rules) in (list, tuple)
            and all(_exact_node(r) for r in node.rules)
            and _plain(node.on_error)
        )
    if type(node) is not Rule:
        return False
    presence = node.presence
    return (
        (_plain(node.key) or _plain_seq(node.key))
        and (type(presence) is str or (type(presence) is Default and _plain(presence.value)))
        and type(node.validators) in (list, tuple)
        and all(_exact_validator(v) for v in node.validators)
        and _exact_converter(node.converter)
        and type(node.childs) in (list, tuple)
        and all(_exact_node(c) for c in node.childs)
        and _plain(node.on_error)
    )


def _exact_converter(conv: Any) -> bool:
    if type(conv) is Each:
        return _exact_converter(conv.conv)
    return conv is None or type(conv) is str


def _exact_validator(v: Any) -> bool:
    t = type(v)
    if t is Type:
        of = v.of
        if type(of) is tuple and len(of) == 2 and of[0] == "list":
            return type(of[1]) in (list, tuple) and all(_exact_validator(x) for x in of[1])
        return _plain(of)
    if t is Size:
        return _plain(v.min) and _plain(v.max)
    if t is Regexp:
        return _plain(v.pattern)
    if t is Allowed:
        return _plain_seq(v.values)
    if t is EqualToObjectOfOtherKeys:
        return _plain_seq(v.keys)
    if t is OrV:
        return type(v.alternatives) in (list, tuple) and all(
            _exact_validator(a) for a in v.alternatives
        )
    if t is Native:
        return _registry_native(v)
    return False  # CustomValidator: a Python callable


def _registry_native(v: Native) -> bool:
    """Was *v* built by its registry constructor from its recorded params?
    A hand-built ``Native`` may reuse a registry name with another builder."""
    ctor = LIB_REGISTRY.get(v.name) if type(v.name) is str else None
    if ctor is None or not _plain_seq(v.params):
        return False
    try:
        fresh = ctor(*v.params)
    except (TypeError, ValueError):
        return False
    if fresh.name != v.name or getattr(v.build, "__code__", None) is not fresh.build.__code__:
        return False
    # the builder's closure holds what it was built from (bounds, values)
    mine = [c.cell_contents for c in v.build.__closure__ or ()]
    theirs = [c.cell_contents for c in fresh.build.__closure__ or ()]
    return _plain(mine) and json.dumps(mine) == json.dumps(theirs)


def _merge_outputs(branches: Sequence[Tuple[Optional[Column], OutCol]]) -> List[OutCol]:
    """The one rule for same-named outputs, over ``(guard, output)``
    branches in emission order (a None guard always holds).  The
    reference's output is a proplist read as ``dict(pairs)`` at every
    depth: per row, the LAST branch that emitted a pair for the key wins,
    and keys keep their first position.  A key emitted once, unguarded,
    keeps its OutCol.  Conflicting Spark types cannot share one typed
    column — a config error (documented divergence from the untyped
    reference)."""
    groups: dict = {}
    for guard, o in branches:
        groups.setdefault(o.name, []).append((guard, o))
    merged: List[OutCol] = []
    for name, occ in groups.items():
        if len(occ) == 1 and occ[0][0] is None:
            merged.append(occ[0][1])
            continue
        dts = {o.dtype.simpleString() for _, o in occ if not isinstance(o.dtype, T.NullType)}
        if len(dts) > 1:
            raise SpecError(
                "conflicting output types for key '%s': %s" % (name, sorted(dts))
            )
        expr: Column = F.lit(None)
        present: Optional[Column] = F.lit(False)
        for guard, o in occ:  # earliest → latest; later wraps earlier as fallback
            emitted = o.present if guard is None else (
                guard if o.present is None else guard & o.present
            )
            if emitted is None:
                expr, present = o.col, None
            else:
                expr = F.when(emitted, o.col).otherwise(expr)
                present = None if present is None else (present | emitted)
        dtype = next(
            (o.dtype for _, o in occ if not isinstance(o.dtype, T.NullType)), occ[-1][1].dtype
        )
        merged.append(OutCol(name, expr, dtype, present))
    return merged


def _root_scope(schema: T.StructType) -> Scope:
    names = {f.name: f.dataType for f in schema.fields}

    def get(k: str) -> Column:
        if k == "__row__":
            return F.struct(*[F.col("`%s`" % f.name) for f in schema.fields])
        if k not in names:
            raise KeyError(k)
        return F.col("`%s`" % k)

    return Scope(get=get, dtype_of=lambda k: names[k], has=lambda k: k in names, rooted=True)


def _struct_scope(
    parent: Column,
    dt: T.StructType,
    parents: Tuple[str, ...],
    in_element: bool,
    span_index: Optional[Column],
    rooted: bool,
) -> Scope:
    names = {f.name: f.dataType for f in dt.fields}

    def get(k: str) -> Column:
        if k == "__row__":
            return parent
        if k not in names:
            raise KeyError(k)
        return parent.getField(k)

    return Scope(
        get=get,
        dtype_of=lambda k: names[k],
        has=lambda k: k in names,
        parents=parents,
        in_element=in_element,
        span_index=span_index,
        rooted=rooted,
    )


def _map_scope(
    parent: Column,
    dt: T.MapType,
    parents: Tuple[str, ...],
    in_element: bool,
    span_index: Optional[Column],
) -> Scope:
    """Scope over a MapType value — the reference's fully-dynamic proplist
    (``/root/reference/src/evalidate.erl:114``): any key resolves
    (``has`` is always true) to ``try_element_at(map, key)``, typed as the
    map's value type.

    Presence note (SURVEY §2.3 P1): an absent key and a key mapped to NULL
    are both "missing" — exactly the reference, where a proplist value of
    ``undefined`` is what ``get_value`` returns for an absent key too, so
    ``try_element_at(..).isNull()`` ≡ ``~map_contains_key ∨ value IS NULL``
    is the parity-correct presence test."""
    vt = dt.valueType

    def get(k: str) -> Column:
        if k == "__row__":
            return parent
        return F.try_element_at(parent, F.lit(k))

    return Scope(
        get=get,
        dtype_of=lambda k: vt,
        has=lambda k: True,
        parents=parents,
        in_element=in_element,
        span_index=span_index,
    )


def _child_scope(
    val: Column,
    dt: T.DataType,
    parents: Tuple[str, ...],
    in_element: bool,
    span_index: Optional[Column],
    rooted: bool = False,
) -> Optional[Scope]:
    """Scope for recursing childs into a struct (fixed keys) or map
    (dynamic keys) value; None if the type cannot host childs.  A map's
    values are never *rooted*: no dotted column path reaches them."""
    if isinstance(dt, T.StructType):
        return _struct_scope(val, dt, parents, in_element, span_index, rooted)
    if _string_keyed_map(dt):
        return _map_scope(val, dt, parents, in_element, span_index)
    return None


def _string_keyed_map(dt: T.DataType) -> bool:
    return isinstance(dt, T.MapType) and isinstance(dt.keyType, T.StringType)


def _any(conds: Sequence[Column]) -> Column:
    """OR of *conds*; False when there are none."""
    return functools.reduce(operator.or_, conds) if conds else F.lit(False)


def _all(conds: Sequence[Column]) -> Column:
    """AND of *conds*; True when there are none."""
    return functools.reduce(operator.and_, conds) if conds else F.lit(True)


def _key_path(key: Optional[str], scope: Scope, opts: Options) -> str:
    if not opts.parent_key or not scope.parents:
        return key if key is not None else ""
    parts = list(scope.parents) + ([key] if key is not None else [])
    return ".".join(parts)


def _concat_viols(arrays: Sequence[Column]) -> Column:
    return F.concat(*arrays) if arrays else _empty_viols()


def _compile_rules(
    rules: Sequence[Any], scope: Scope, opts: Options, seq: _Seq
) -> Tuple[List[Column], Column, List[OutCol]]:
    """Compile *rules* in depth-first order: their violation arrays, their
    fail Column (the OR of the nodes' fails) and their merged outputs
    (:func:`_merge_outputs`), each where the walk builds it (None for an
    unbuilt fail)."""
    arrays: List[Column] = []
    fails: List[Column] = []
    outputs: List[OutCol] = []
    for node in rules:
        if isinstance(node, Rule):
            keys: List[Optional[str]]
            if node.key is None:
                keys = [None]
            elif isinstance(node.key, str):
                keys = [node.key]
            else:
                keys = list(node.key)
            for k in keys:
                viols, fail, outs = _compile_rule(replace(node, key=k), scope, opts, seq)
                fails.append(fail)
                if viols is not None:
                    arrays.append(viols)
                outputs.extend(outs)
        elif isinstance(node, RuleAnd):
            sub_arrays, sub_fail, sub_outputs = _compile_rules(list(node.rules), scope, opts, seq)
            fails.append(sub_fail)
            outputs.extend(sub_outputs)
            if not seq.viols:
                continue
            combined = _concat_viols(sub_arrays)
            if node.on_error is not None:
                s = seq.next()
                entry = F.when(
                    F.size(combined) > 0,
                    _viol_struct(s, "rule_and", None, F.lit(node.on_error), None,
                                 scope.span_index),
                )
                arrays.append(_entry_array(entry))
            else:
                arrays.append(combined)
        elif isinstance(node, RuleOr):
            viols, fail, outs = _compile_rule_or(node, scope, opts, seq)
            fails.append(fail)
            if viols is not None:
                arrays.append(viols)
            outputs.extend(outs)
        else:
            raise SpecError("Unknown rule(s) '%r'" % (node,))
    merged = _merge_outputs([(None, o) for o in outputs])
    return arrays, _any(fails) if seq.fails else None, merged


def _rule_or_outcome(
    node: RuleOr,
    alt_viols: Sequence[Column],
    s: int,
    key_path: Optional[Column],
    span_index: Optional[Column],
    viols: bool = True,
) -> Tuple[List[Column], Optional[Column]]:
    """A RuleOr's per-row winner flags (the first passing alternative wins,
    reference ``src/evalidate.erl:251-259``) and, where *viols*, its
    violation array: on all-fail, ``on_error`` or the alternatives' first
    messages deduped and joined ``" or "`` in reverse trial order
    (``src/evalidate.erl:74-84,260-265``)."""
    wins: List[Column] = []
    all_fail: Column = F.lit(True)
    for v in alt_viols:
        failed = F.size(v) > 0
        wins.append(all_fail & ~failed)
        all_fail = all_fail & failed
    if not viols:
        return wins, None
    if node.on_error is not None:
        message: Column = F.lit(node.on_error)
    else:
        first_msgs = [F.try_element_at(v, F.lit(1)).getField("message") for v in alt_viols]
        message = F.array_join(F.array_distinct(F.reverse(F.array(*first_msgs))), " or ")
    entry = F.when(all_fail, _viol_struct(s, "rule_or", key_path, message, None, span_index))
    return wins, _entry_array(entry)


def _compile_rule_or(
    node: RuleOr, scope: Scope, opts: Options, seq: _Seq
) -> Tuple[Optional[Column], Optional[Column], List[OutCol]]:
    """A RuleOr's violations (:func:`_rule_or_outcome`), its fail — the AND
    of the alternatives' fails — and the winning alternative's outputs
    alone, each where the walk builds it."""
    s = seq.next()
    # the winner is read off the alternatives' violations, so an
    # outputs-only walk builds them too (it numbers nothing: a new counter)
    alts = [
        _compile_rules([alt], scope, opts, seq if seq.fails else _Seq()) for alt in node.rules
    ]
    fail = _all([a[1] for a in alts]) if seq.fails else None
    if not (seq.viols or seq.outs):
        return None, fail, []
    wins, viols = _rule_or_outcome(
        node, [_concat_viols(a[0]) for a in alts], s, None, scope.span_index, seq.viols
    )
    outs = [(win, o) for win, a in zip(wins, alts) for o in a[2]] if seq.outs else []
    return viols, fail, _merge_outputs(outs)


def _childs_conv_fail(conv: Any, dt: T.DataType) -> bool:
    """Does a childs rule's converter fail on every present value?

    The violations run the converter over the child-shaped output (the
    child struct, or the converted element array).  A fail-only walk builds
    no outputs, and over a converted element array the converter's fail
    Column reads whole element structs, which would widen the pruned scan.
    So the fail half states the outcome statically: over struct-childs
    output, ``filter_duplicates`` / ``Each`` take the non-array branch whose
    fail is ``input.isNotNull()`` ≡ present; every other built-in has no
    fail condition or is a SpecError of the violations compile.  Over an
    element array no built-in converter fails."""
    if not (isinstance(dt, T.StructType) or _string_keyed_map(dt)):
        return False
    return conv == "filter_duplicates" or isinstance(conv, Each)


def _compile_rule(
    rule: Rule, scope: Scope, opts: Options, seq: _Seq
) -> Tuple[Optional[Column], Optional[Column], List[OutCol]]:
    """A rule's violations, its fail Column — the OR of the conditions that
    guard its violation entries — and its outputs, each where the walk
    builds it (else None or no outputs).  One #rule: presence → validators
    → childs → convert
    (/root/reference/src/evalidate.erl:112-161)."""
    from . import fastpath  # the fail half's pruned forms; it imports this module

    s = seq.next()
    full = seq.viols
    key = rule.key
    rule_id = "rule:%s" % (key if key is not None else "<top>")
    kp = _key_path(key, scope, opts)
    kp_col = F.lit(kp if kp else None) if full else None

    def viol(message: Column, value_repr: Optional[Column] = None) -> Column:
        return _viol_struct(s, rule_id, kp_col, message, value_repr, scope.span_index)

    # ---- resolve value
    if key is None:
        val = scope.get("__row__")
        dt: T.DataType = T.StructType()  # synthetic; validators on whole row
        # top-level rule: presence is irrelevant (the row always exists)
        missing_static = False
    elif scope.has(key):
        val = scope.get(key)
        dt = scope.dtype_of(key)
        missing_static = False
    else:
        val, dt = F.lit(None), T.NullType()
        missing_static = True

    entries: List[Column] = []
    fails: List[Column] = []
    outs: List[OutCol] = []

    def result(fail: Optional[Column] = None) -> Tuple[Any, Any, List[OutCol]]:
        if fail is None and seq.fails:
            fail = _any(fails)
        return (_concat_viols(entries) if full else None), fail, outs

    # ---- presence (/root/reference/src/evalidate.erl:112-128)
    if missing_static:
        if rule.presence == REQUIRED and seq.fails:
            fails.append(F.lit(True))
            if full:
                entries.append(_entry_array(viol(F.lit(E.key_required_msg(kp))).alias("v")))
        elif isinstance(rule.presence, Default) and seq.outs:
            outs.append(_lit_out(key, rule.presence.value))
        return result()

    # the fail half may read a root array<struct>'s nullness and size from
    # one subfield array (the pruned scan); the violations read the value
    proxy = None
    if seq.fails and scope.rooted and key is not None:
        proxy = fastpath._proxy(rule, dt, scope.parents + (key,))
    fval, fdt = proxy or (val, dt)
    f_missing = fval.isNull() if key is not None else F.lit(False)
    is_missing = val.isNull() if proxy and full else f_missing
    present = ~is_missing
    f_present = present if is_missing is f_missing else ~f_missing

    if rule.presence == REQUIRED:
        fails.append(f_missing)
        if full:
            entries.append(
                _entry_array(F.when(is_missing, viol(F.lit(E.key_required_msg(kp)))))
            )
    elif rule.presence == DEPRECATED:
        # present → deprecated error; message uses the bare key
        # (/root/reference/src/evalidate.erl:123-124)
        if full:
            entries.append(
                _entry_array(F.when(present, viol(F.lit(E.key_deprecated_msg(str(key))))))
            )
        # deprecated keys never reach output
        return result(f_present)

    # ---- validators
    if rule.validators and seq.fails:
        clauses = _compile_validators(list(rule.validators), fval, fdt, scope)
        conds = [F.coalesce(cl.cond, F.lit(False)) for cl in clauses]
        if conds:
            fails.append(f_present & _any(conds))
        if full:
            if proxy:
                clauses = _compile_validators(list(rule.validators), val, dt, scope)
                conds = [F.coalesce(cl.cond, F.lit(False)) for cl in clauses]
            chain: Optional[Column] = None
            for cl, c in zip(clauses, conds):
                if rule.on_error is not None and not cl.error_kind:
                    msg = _render_on_error(
                        rule.on_error, kp if key is not None else "none", val, dt
                    )
                else:
                    msg = cl.message()
                chain = F.when(present & c, msg) if chain is None else chain.when(present & c, msg)
            if chain is not None:
                vrepr = c_maybe_cut(c_unscriptize(c_ts_repr(val, dt)))
                entries.append(_entry_array(F.when(chain.isNotNull(), viol(chain, vrepr))))

    # ---- childs (/root/reference/src/evalidate.erl:145-155)
    child_struct_out: Optional[Column] = None
    child_struct_dt: Optional[T.DataType] = None
    if rule.childs:
        parents = scope.parents + ((key,) if key else ())
        cscope = _child_scope(
            val, dt, parents, scope.in_element, scope.span_index, scope.rooted
        )
        if cscope is not None:  # struct (fixed keys) or map (dynamic keys)
            carrays, cfail, couts = _compile_rules(list(rule.childs), cscope, opts, seq)
            if seq.fails:
                fails.append(f_present & cfail)
            if full:
                entries.append(F.when(present, _concat_viols(carrays)).otherwise(_empty_viols()))
            if couts:
                child_struct_out = F.when(
                    present, F.struct(*[o.col.alias(o.name) for o in couts])
                )
                child_struct_dt = T.StructType(
                    [T.StructField(o.name, o.dtype) for o in couts]
                )
        elif isinstance(dt, T.ArrayType) and (
            isinstance(dt.elementType, T.StructType) or _string_keyed_map(dt.elementType)
        ):
            edt = dt.elementType
            if seq.fails:
                fails.append(f_present & fastpath._element_rules_fail(
                    list(rule.childs), val, edt, parents if scope.rooted else None, opts
                ))
            if seq.viols or seq.outs:
                carr, conv_elem, conv_dt = _compile_element_rules(
                    list(rule.childs), val, edt, parents, opts, seq
                )
                if full:
                    entries.append(F.when(present, carr).otherwise(_empty_viols()))
                if conv_elem is not None:
                    child_struct_out = F.when(present, conv_elem)
                    child_struct_dt = T.ArrayType(conv_dt)
        else:
            # wrong childs (/root/reference/src/evalidate.erl:153-155)
            fails.append(f_present)
            if full:
                entries.append(_entry_array(
                    F.when(present, viol(F.lit(E.TPL_WRONG_CHILDS.format(key=kp))))
                ))
        if rule.converter != "no_return" and _childs_conv_fail(rule.converter, dt):
            fails.append(f_present)

    # ---- converter (/root/reference/src/evalidate.erl:157-206)
    # a no_return key is dropped from output; a childs rule's converter
    # fail is above.  A walk without outputs converts a childs rule's
    # input, not its childs' outputs: no built-in converter fails
    # differently on the two (see _childs_conv_fail)
    if rule.converter != "no_return" and (seq.viols or seq.outs or not rule.childs):
        conv_in = child_struct_out if child_struct_out is not None else val
        conv_dt_in = child_struct_dt if child_struct_dt is not None else dt
        cres = _compile_converter(rule.converter, conv_in, conv_dt_in, scope)
        if cres.fail is not None and seq.fails:
            conv_fail = F.coalesce(cres.fail, F.lit(False))
            guard = present & conv_fail
            if not rule.childs:
                fails.append(guard if f_present is present else f_present & conv_fail)
            if full:
                msg = F.concat(
                    F.lit("Couldn't convert value '"),
                    c_ts_repr(val, dt),
                    F.lit("' for key '%s' " % (key if key is not None else "none")),
                )
                entries.append(_entry_array(F.when(guard, viol(msg))))
        if cres.custom_err is not None and seq.fails:
            err = present & cres.custom_err.isNotNull()
            fails.append(err)
            if full:
                entries.append(_entry_array(F.when(err, viol(cres.custom_err))))
        if not seq.outs:
            return result()
        out_expr = cres.out
        out_dt = cres.out_dtype
        if isinstance(rule.presence, Default):
            if not _default_fits(rule.presence.value, out_dt):
                # the reference injects any term untyped; a Spark column is
                # typed, so a mismatched default is a config error caught at
                # compile time (mirroring the reference's config-error
                # philosophy, /root/reference/src/evv.erl:86-87)
                raise SpecError(
                    "default %r does not fit output type %s for key '%s'"
                    % (rule.presence.value, out_dt.simpleString(), key)
                )
            out_expr = F.when(is_missing, F.lit(rule.presence.value)).otherwise(out_expr)
        # optional-without-default + missing value → the reference emits no
        # pair for this key (it can be shadowed by an earlier rule's pair)
        pair_present = (
            ~is_missing
            if (rule.presence == OPTIONAL and key is not None)
            else None
        )
        if key is not None:
            outs.append(OutCol(key, out_expr, out_dt, pair_present))
        else:
            # top-level rule: converted whole-row struct exposed as _root
            outs.append(OutCol("_root", out_expr, out_dt))

    return result()


def _default_fits(value: Any, dt: T.DataType) -> bool:
    """Can *value* be injected as a literal into a column of type *dt*
    without a lossy/failing cast?"""
    if value is None or isinstance(dt, T.NullType):
        return True
    if isinstance(value, bool):
        return isinstance(dt, T.BooleanType)
    if isinstance(value, int):
        return _is_number(dt)
    if isinstance(value, float):
        return _is_float(dt)
    if isinstance(value, str):
        return _is_string(dt)
    if isinstance(value, (list, tuple)):
        return isinstance(dt, T.ArrayType) and all(
            _default_fits(v, dt.elementType) for v in value
        )
    if isinstance(value, dict):
        return isinstance(dt, (T.MapType, T.StructType))
    return False


def _lit_out(key: str, value: Any) -> OutCol:
    lit = F.lit(value)
    if isinstance(value, bool):
        return OutCol(key, lit, T.BooleanType())
    if isinstance(value, int):
        return OutCol(key, lit, T.LongType())
    if isinstance(value, float):
        return OutCol(key, lit, T.DoubleType())
    return OutCol(key, lit, T.StringType())


def _render_on_error(template: str, key: str, val: Column, dt: T.DataType) -> Column:
    """on_validate_error template → Column concat
    (/root/reference/src/evalidate.erl:214-223)."""
    t = template.replace("{{key}}", E.unscriptize(key))
    parts = t.split("{{value}}")
    if len(parts) == 1:
        return F.lit(t)
    vrepr = c_unscriptize(c_ts_repr(val, dt))
    cols: List[Column] = []
    for i, p in enumerate(parts):
        if i:
            cols.append(vrepr)
        if p:
            cols.append(F.lit(p))
    return F.concat(*cols) if cols else F.lit("")


def _compile_element_rules(
    childs: Sequence[Any],
    arr: Column,
    edt: T.DataType,
    parents: Tuple[str, ...],
    opts: Options,
    seq: _Seq,
) -> Tuple[Optional[Column], Optional[Column], T.DataType]:
    """Child rules mapped over every element of an array<struct> (the spans
    pattern — reference 'rules over object lists',
    /root/reference/src/evalidate.erl:48-49, suite :1231-1279) or
    array<map<string,_>> (dynamic-key objects): the row's element
    violations (None unless the walk builds violations), and the converted
    elements and their type (None when the walk builds no outputs or the
    element rules output nothing).

    Explode-free: one `transform` with an index lambda produces per-element
    violation arrays, flattened into the row's violations.  Catalyst keeps
    this in the same fused projection.  PySpark calls ``build`` exactly once
    to build the lambda, so that one compile advances the shared rule-seq
    counter in depth-first order; it builds no outputs.  Each element
    builds its violation structs only where the fail half of that same
    compile holds.  The converted elements come from a second,
    outputs-only walk."""
    viols: Optional[Column] = None
    if seq.viols:
        checks = seq.checks()

        def build(e: Column, i: Column) -> Column:
            escope = _child_scope(e, edt, parents, True, i.cast("int"))
            arrays, fail, _ = _compile_rules(list(childs), escope, opts, checks)
            if not arrays:
                return _empty_viols()
            return F.when(F.coalesce(fail, F.lit(False)), F.concat(*arrays)).otherwise(
                _empty_viols()
            )

        viols = F.flatten(F.transform(arr, build))
    if not seq.outs:
        return viols, None, edt

    elem_outs: List[OutCol] = []

    def conv_one(e: Column) -> Column:
        escope = _child_scope(e, edt, parents, True, None)
        # outputs carry no rule-seq, so a throwaway counter will do
        elem_outs.extend(_compile_rules(list(childs), escope, opts, _Seq(OUTS))[2])
        return F.struct(*[o.col.alias(o.name) for o in elem_outs])

    conv_elem = F.transform(arr, conv_one)
    if not elem_outs:
        return viols, None, edt
    return viols, conv_elem, T.StructType([T.StructField(o.name, o.dtype) for o in elem_outs])
