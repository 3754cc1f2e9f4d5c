"""Bare single-value validation — the reference ``struct/3`` fallthrough
(``/root/reference/src/evalidate.erl:51-52``; suite
``test/evalidate_SUITE.erl:1805-1864``).

A bare value is validated against KEYLESS rules: no presence lookup happens
(``'keys'`` with ``key = none`` goes straight to ``validators``,
``/root/reference/src/evalidate.erl:97-98``), the structured error payload
renders the key as ``none``, and the converted value is returned bare.

Spark-native shape: :func:`validate_values` validates a whole COLUMN of
bare values in one fused projection — the distributed generalisation of the
reference's single synchronous call — and :func:`validate_value` is the
literal one-value convenience wrapper (a 1-row job).

NULL ≡ the reference atom ``undefined``: validators still RUN on it (unlike
keyed rules, where NULL means absent-key and presence owns it).  What each
validator list does with ``undefined`` is decided at compile time by probing
the pure-Python oracle with ``None`` — driver-side, zero runtime cost — so
the NULL clause's message is bit-identical to the reference
(e.g. ``?V_BINARY_INTEGER(undefined) → false → 'Value is not valid'``,
suite ``:1819-1834``).
"""

from __future__ import annotations

from typing import Any, List, Optional, Sequence, Tuple

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from . import errors as E
from . import oracle as O
from .compiler import (
    Compiled,
    OutCol,
    Scope,
    _compile_converter,
    _compile_validators,
    _empty_viols,
    _entry_array,
    _merge_outputs,
    _render_on_error,
    _rule_or_outcome,
    _Seq,
    _viol_struct,
    c_maybe_cut,
    c_ts_repr,
    c_unscriptize,
)
from .engine import ValidationError, ValidationResult, _result
from .spec import Rule, RuleAnd, RuleOr, SpecError, normalize_rules


def _value_scope(col: Column, dt: T.DataType) -> Scope:
    """A bare value has no sibling keys; fun/2 validators see the value
    itself as the whole data (reference passes Data = Value)."""

    def get(k: str) -> Column:
        if k == "__row__":
            return col
        raise KeyError(k)

    return Scope(get=get, dtype_of=lambda k: dt, has=lambda k: False)


def _null_probe(rule: Rule) -> Tuple[Optional[str], Optional[str], bool]:
    """What does this rule do with the reference atom ``undefined``?

    Returns ``(validator_msg, validator_kind, convert_fails)`` decided by
    running the pure-Python oracle on ``None`` at compile time."""
    v_msg: Optional[str] = None
    v_kind: Optional[str] = None
    if rule.validators:
        try:
            res = O._validate(list(rule.validators), None, None)
        except Exception:
            res = ("error", E.V_ERR_DEFAULT)
        if res is not True:
            v_kind, v_msg = res
    conv_fails = False
    if v_msg is None and rule.converter not in (None, "no_return"):
        try:
            O._convert(rule.converter, None, None, None)
        except O.Throw:
            conv_fails = True
    return v_msg, v_kind, conv_fails


def _compile_value_rule(
    rule: Rule, col: Column, dt: T.DataType, seq: _Seq
) -> Tuple[Column, Column, T.DataType]:
    """One keyless rule over a value column → (violations array, converted
    output, output dtype).  Order: validators → convert
    (``/root/reference/src/evalidate.erl:97-98,157-206``)."""
    if rule.key is not None:
        raise SpecError(
            "bare-value rules must be keyless (key=None); got key=%r" % (rule.key,)
        )
    if rule.childs:
        raise SpecError("bare-value rules cannot have childs")
    s = seq.next()
    kp_col = F.lit("none")
    scope = _value_scope(col, dt)
    entries: List[Column] = []
    vrepr = F.when(col.isNull(), F.lit("undefined")).otherwise(
        c_maybe_cut(c_unscriptize(c_ts_repr(col, dt)))
    )

    null_msg, null_kind, null_conv_fails = _null_probe(rule)

    # ---- validators (run even on NULL ≡ undefined)
    chain: Optional[Column] = None
    if null_msg is not None:
        msg: Column = F.lit(null_msg)
        if rule.on_error is not None and null_kind == "false":
            msg = F.lit(E.resolve_on_error(rule.on_error, None, None))
        chain = F.when(col.isNull(), msg)
    if rule.validators:
        for cl in _compile_validators(list(rule.validators), col, dt, scope):
            m = cl.message()
            if rule.on_error is not None and not cl.error_kind:
                m = _render_on_error(rule.on_error, "none", col, dt)
            cond = col.isNotNull() & F.coalesce(cl.cond, F.lit(False))
            chain = F.when(cond, m) if chain is None else chain.when(cond, m)
    if chain is not None:
        entries.append(
            _entry_array(
                F.when(
                    chain.isNotNull(),
                    _viol_struct(s, "value", kp_col, chain, vrepr, None),
                )
            )
        )

    # ---- converter (crash → "Couldn't convert … for key 'none' ")
    out: Column = col
    out_dt: T.DataType = dt
    if rule.converter == "no_return":
        out = F.lit(None)
        out_dt = T.NullType()
    elif rule.converter is not None:
        cres = _compile_converter(rule.converter, col, dt, scope)
        conv_msg = F.concat(
            F.lit("Couldn't convert value '"),
            F.when(col.isNull(), F.lit("undefined")).otherwise(c_ts_repr(col, dt)),
            F.lit("' for key 'none' "),
        )
        conv_fail = F.lit(False)
        if cres.fail is not None:
            conv_fail = conv_fail | (col.isNotNull() & F.coalesce(cres.fail, F.lit(False)))
        if null_conv_fails:
            conv_fail = conv_fail | col.isNull()
        entries.append(
            _entry_array(
                F.when(conv_fail, _viol_struct(s, "value", kp_col, conv_msg, None, None))
            )
        )
        if cres.custom_err is not None:
            entries.append(
                _entry_array(
                    F.when(
                        cres.custom_err.isNotNull(),
                        _viol_struct(s, "value", kp_col, cres.custom_err, None, None),
                    )
                )
            )
        out, out_dt = cres.out, cres.out_dtype
    viols = F.concat(*entries) if entries else _empty_viols()
    return viols, out, out_dt


def _compile_value_node(
    node: Any, col: Column, dt: T.DataType, seq: _Seq
) -> Tuple[Column, Column, T.DataType]:
    if isinstance(node, Rule):
        return _compile_value_rule(node, col, dt, seq)
    if isinstance(node, RuleAnd):
        s = seq.next()
        parts = [_compile_value_node(r, col, dt, seq) for r in node.rules]
        combined = F.concat(*[p[0] for p in parts]) if parts else _empty_viols()
        if node.on_error is not None:
            entry = F.when(
                F.size(combined) > 0,
                _viol_struct(s, "rule_and", F.lit("none"), F.lit(node.on_error), None),
            )
            combined = _entry_array(entry)
        out, out_dt = (parts[-1][1], parts[-1][2]) if parts else (col, dt)
        return combined, out, out_dt
    if isinstance(node, RuleOr):
        s = seq.next()
        parts = [_compile_value_node(r, col, dt, seq) for r in node.rules]
        wins, entry = _rule_or_outcome(node, [p[0] for p in parts], s, F.lit("none"), None)
        outs = _merge_outputs([(w, OutCol("none", p[1], p[2])) for w, p in zip(wins, parts)])
        out = outs[0] if outs else OutCol("none", F.lit(None), dt)
        return entry, out.col, out.dtype
    raise SpecError("Unknown rule(s) '%r'" % (node,))


def validate_values(
    df: DataFrame,
    rules: Any,
    value_col: str = "value",
    id_cols: Optional[Sequence[str]] = None,
) -> ValidationResult:
    """Validate a COLUMN of bare values against keyless rule(s) — one fused
    projection, same :class:`ValidationResult` surface as ``validate``.
    Violations carry ``key_path = 'none'`` (the reference key atom).

    With MULTIPLE top-level rules every rule's validators and converter-
    fail conditions contribute violations (each rule sees the ORIGINAL
    value, like the reference's ``rules/3`` mapping each rule over the same
    data), but the converted OUTPUT is the last rule's — the proplist
    ``dict(pairs)`` overwrite the oracle applies to duplicate ``none`` keys
    (asserted engine ≡ oracle in tests)."""
    nodes = normalize_rules(rules)
    col = F.col("`%s`" % value_col)
    dt = df.schema[value_col].dataType
    seq = _Seq()
    arrays: List[Column] = []
    out: Column = col
    out_dt: T.DataType = dt
    for node in nodes:
        v, out, out_dt = _compile_value_node(node, col, dt, seq)
        arrays.append(v)
    viols = F.concat(*arrays) if arrays else _empty_viols()
    outputs = (
        [] if isinstance(out_dt, T.NullType) else [OutCol(value_col, out, out_dt)]
    )
    return _result(df, Compiled(violations=viols, outputs=outputs), id_cols, value_col=value_col)


def _infer_dtype(value: Any) -> T.DataType:
    if value is None or isinstance(value, str):
        return T.StringType()
    if isinstance(value, bool):
        return T.BooleanType()
    if isinstance(value, int):
        return T.LongType()
    if isinstance(value, float):
        return T.DoubleType()
    if isinstance(value, (list, tuple)):
        elem = next((x for x in value if x is not None), None)
        return T.ArrayType(_infer_dtype(elem))
    raise SpecError("unsupported bare value %r" % (value,))


def validate_value(
    spark: SparkSession, rules: Any, value: Any, mode: str = "hard"
) -> Any:
    """Reference-shaped single bare-value entry
    (``/root/reference/src/evalidate.erl:51-52``): hard mode returns the
    converted value or raises :class:`ValidationError` with the exact
    first-error message; soft mode returns ``('ok', v)`` / ``('error',
    payload)`` with the structured ``{message, key, value}`` payload
    (``/root/reference/include/ev_errors.hrl:24-27``, key = ``'none'``)."""
    schema = T.StructType([T.StructField("value", _infer_dtype(value))])
    df = spark.createDataFrame([(value,)], schema)
    res = validate_values(df, rules, "value")
    row = res.annotated.collect()[0]
    if row["violations"]:
        first = row["first_error"]
        payload = {
            "message": first["message"],
            "key": first["key_path"],
            "value": first["value_repr"],
        }
        if mode == "soft":
            return ("error", payload)
        raise ValidationError(first["message"], payload)
    outs = res.compiled.outputs
    conv = row["value"] if not outs else res.clean.collect()[0]["value"]
    return ("ok", conv) if mode == "soft" else conv
