"""Local stand-in for the driver's correctness gate: runs every
``__spark_entry__.queries()`` entry at a given SF dir and compares
row-count, schema (column names), and order-insensitive value hash against
``oracle_sql()`` via DuckDB.  Usage: python scripts/check_entry.py [sf_dir] [query ...]
(with query names, only those queries run)."""

from __future__ import annotations

import hashlib
import sys

import duckdb

sys.path.insert(0, "/root/repo")

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


class NonScalarCell(Exception):
    """Raised fail-closed where the driver's pandas canonicalizer would
    die (`sort_values` on list cells → `unhashable type: 'list'`) or
    render engine-divergently (>int64 → HUGEINT/Decimal/%.6g splits).
    Round-4 lesson (`centroid_states`): the old str()-based canon
    accepted arrays the driver errors on, so local green contradicted a
    driver err.  This gate now rejects the same shapes the driver
    cannot certify."""


_I64 = (1 << 63) - 1


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return "%.6g" % v
    if isinstance(v, (list, tuple, dict, set, bytes, bytearray)):
        raise NonScalarCell(f"non-scalar cell of type {type(v).__name__}")
    if isinstance(v, int) and not -_I64 - 1 <= v <= _I64:
        raise NonScalarCell(f"integer out of int64 range: {v}")
    import decimal

    if isinstance(v, decimal.Decimal):
        # NaN/sNaN raise InvalidOperation from an ordering comparison
        if not v.is_finite():
            raise NonScalarCell(f"non-finite decimal: {v}")
        if not -_I64 - 1 <= v <= _I64:
            raise NonScalarCell(f"decimal out of int64 range: {v}")
    return str(v)


def value_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


def rows_only_line(name, cols, rows):
    """Report line for a query with no oracle: the row count and the
    order-insensitive value hash, so a rows-only output can be diffed
    across commits.  Raises ``NonScalarCell`` like the hashed gate."""
    return f"{name:35s} rows-only: {len(rows)} rows hash={value_hash(cols, rows)}"


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    import __spark_entry__ as e
    from evalidate_spark.session import get_spark

    spark = get_spark()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = e.queries(), e.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        sdf = fn(spark, sf_dir)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
        if name not in oracles:
            try:
                print(rows_only_line(name, scols, srows))
            except NonScalarCell as exc:
                print(f"{name:35s} FAIL  driver-uncertifiable: {exc}")
                failures += 1
            continue
        res = con.execute(oracles[name])
        ocols = [d[0] for d in res.description]
        orows = res.fetchall()
        ok_cols = sorted(scols) == sorted(ocols)
        ok_rows = len(srows) == len(orows)
        try:
            ok_hash = (
                ok_cols and value_hash(scols, srows) == value_hash(ocols, orows)
            )
        except NonScalarCell as exc:
            print(f"{name:35s} FAIL  driver-uncertifiable: {exc}")
            failures += 1
            continue
        status = "OK" if (ok_cols and ok_rows and ok_hash) else "FAIL"
        print(f"{name:35s} {status}  spark={len(srows)} oracle={len(orows)} "
              f"cols={'=' if ok_cols else f'{sorted(scols)} vs {sorted(ocols)}'} hash={'=' if ok_hash else 'DIFF'}")
        if status == "FAIL":
            failures += 1
            sset = {tuple(canon(v) for v in r) for r in srows}
            # align oracle columns to spark order for the diff
            ix = [ocols.index(c) for c in scols] if ok_cols else list(range(len(ocols)))
            oset = {tuple(canon(r[i]) for i in ix) for r in orows}
            for r in list(sset - oset)[:3]:
                print("   spark-only:", r)
            for r in list(oset - sset)[:3]:
                print("   oracle-only:", r)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
