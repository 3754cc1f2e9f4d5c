"""Engine ↔ oracle parity harness.

Runs the Spark engine and the pure-Python oracle on the same rows and asserts:

* rows the oracle passes → engine has zero violations AND the converted
  outputs equal the oracle's returned object;
* rows the oracle fails → engine's ``first_error.message`` equals the
  oracle's thrown message (fail-fast parity,
  ``/root/reference/src/evalidate.erl:211-212``), and where the reference
  throws a structured payload the key path matches too.

Rows are keyed by a synthetic ``__idx`` column so matching is exact, and
no struct in the ``clean`` schema may repeat a field name.

Also :func:`py4j_round_trips`, a count of the commands a block sends to the
JVM.
"""

from __future__ import annotations

from contextlib import contextmanager
from types import SimpleNamespace
from typing import Any, Iterator, List

from evalidate_spark import validate
from evalidate_spark import oracle as O


def _canon(v: Any) -> Any:
    from pyspark.sql import Row

    if isinstance(v, Row):
        return {k: _canon(x) for k, x in v.asDict().items()}
    if isinstance(v, dict):
        return {k: _canon(x) for k, x in v.items()}
    if isinstance(v, tuple):
        return tuple(_canon(x) for x in v)
    if isinstance(v, list):
        return [_canon(x) for x in v]
    return v


def _eq(a, b) -> bool:
    """Engine value (a) vs oracle value (b).  A NULL struct field on the
    engine side equals an ABSENT key on the oracle side: Spark structs have
    fixed schemas, so the reference's 'optional key omitted from the output
    object' becomes a NULL field (same convention as top-level columns)."""
    if isinstance(a, float) and isinstance(b, (int, float)):
        return abs(a - b) < 1e-9
    if isinstance(a, dict) and isinstance(b, tuple):
        # Spark struct row vs python-tuple twin: compare field values in order
        return _eq(list(a.values()), list(b))
    if isinstance(a, dict) and isinstance(b, dict):
        if not set(b) <= set(a):
            return False
        if any(a[k] is not None for k in set(a) - set(b)):
            return False
        return all(_eq(a[k], b[k]) for k in b)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_eq(x, y) for x, y in zip(a, b))
    return a == b


def _ddl_names(schema: str) -> List[str]:
    parts, depth, cur = [], 0, []
    for ch in schema:
        if ch in "<([":
            depth += 1
        elif ch in ">)]":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        parts.append("".join(cur))
    return [p.strip().split()[0].strip("`") for p in parts]


def run_parity(spark, rules: Any, rows: List[dict], schema: str, parent_key: bool = True):
    """Run engine + oracle; return (engine_rows_by_idx, clean_by_idx, outs)."""
    names = _ddl_names(schema)
    data = [tuple([i] + [r.get(f) for f in names]) for i, r in enumerate(rows)]
    df = spark.createDataFrame(data, f"__idx int, {schema}")
    res = validate(df, rules, parent_key=parent_key, id_cols=["__idx"])
    ann = {r["__idx"]: r for r in res.annotated.collect()}
    clean = {r["__idx"]: r for r in res.clean.collect()}
    return res, ann, clean


def repeated_fields(dt: Any) -> List[str]:
    """Field names that a struct anywhere inside *dt* repeats.  ``Row.asDict``
    keeps only the last of a repeated name, so the value comparison alone
    cannot see them."""
    from pyspark.sql import types as T

    if isinstance(dt, T.StructType):
        names = [f.name for f in dt.fields]
        out = sorted({n for n in names if names.count(n) > 1})
        return out + [n for f in dt.fields for n in repeated_fields(f.dataType)]
    if isinstance(dt, T.ArrayType):
        return repeated_fields(dt.elementType)
    if isinstance(dt, T.MapType):
        return repeated_fields(dt.keyType) + repeated_fields(dt.valueType)
    return []


def assert_parity(spark, rules: Any, rows: List[dict], schema: str, parent_key: bool = True):
    res, ann, clean = run_parity(spark, rules, rows, schema, parent_key)
    outs = {o.name for o in res.compiled.outputs}
    repeated = repeated_fields(res.clean.schema)
    assert not repeated, (
        f"clean repeats struct fields {repeated}: {res.clean.schema.simpleString()}"
    )
    for i, row in enumerate(rows):
        expect_err = O.first_error(rules, dict(row), parent_key=parent_key)
        srow = ann[i]
        viols = srow["violations"]
        if expect_err is None:
            assert viols == [], (
                f"row {i}: oracle passes but engine violations: {viols} for {row}"
            )
            expected = O.validate_and_convert(rules, dict(row), mode="hard", parent_key=parent_key)
            got = _canon(clean[i].asDict())
            for k, v in expected.items():
                if k is None or k not in outs:
                    continue
                assert k in got, f"row {i}: missing output column {k}"
                assert _eq(got[k], _canon(v)), (
                    f"row {i}: output mismatch for {k}: {got[k]!r} != {v!r}"
                )
        else:
            assert viols, f"row {i}: oracle fails ({expect_err}) but engine passed: {row}"
            first = srow["first_error"]
            exp_msg = expect_err["message"] if isinstance(expect_err, dict) else expect_err
            assert first["message"] == exp_msg, (
                f"row {i}: first error mismatch:\n engine: {first['message']!r}\n"
                f" oracle: {exp_msg!r}"
            )
            if isinstance(expect_err, dict) and expect_err.get("key"):
                assert first["key_path"] == expect_err["key"], (
                    f"row {i}: key path {first['key_path']!r} != {expect_err['key']!r}"
                )


@contextmanager
def py4j_round_trips(spark) -> Iterator[SimpleNamespace]:
    """Count the Py4J commands (round trips) the block sends to the JVM, as
    ``.n`` of the yielded object.  Memory-release commands (``m\\n…``) are
    not counted: the finalizer sends them whenever Python collects a
    JavaObject, so their number follows GC timing, not the code."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    count = SimpleNamespace(n=0)

    def counting(command, *args, **kwargs):
        if not command.startswith("m\n"):
            count.n += 1
        return send(command, *args, **kwargs)

    client.send_command = counting
    try:
        yield count
    finally:
        del client.send_command
