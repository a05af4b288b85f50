#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB-oracle compare (t2 gate).

Usage: python3 scripts/oracle_check.py <verify_out_dir> <sf_dir>

For each query dir under verify_out: read Spark's parquet result, run the
matching oracle SQL in DuckDB over the sf parquet tables, sort columns by
name, compare row-by-row. Floats are compared by EXACT equality on
6-dp-rounded values, and the comparison is STRICT about the sign of zero
(-0.0 != 0.0, matching the driver's hash semantics since r17 — see norm()).
Rows are compared as sorted multisets to stay order-insensitive where
ORDER BY ties are possible.
"""
import decimal
import json
import math
import sys
from pathlib import Path

import duckdb
import pyarrow.parquet as pq


def norm(v):
    if v is None:
        return None
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # Driver semantics (adjudicated r16→r17): the driver tolerates
        # sub-6dp double noise (q09/q23/x20 carry 1-ulp aggregation
        # drift and stay green) but DISTINGUISHES the sign of zero
        # (x222 stayed red on +0.0 vs -0.0 for two rounds) — i.e. it
        # rounds to 6 dp and then hashes the rounded VALUE, whose float
        # bits keep the zero sign. Python round(-1e-9, 6) == -0.0, and
        # 0.0 == -0.0 here, so the sign must be made explicit.
        r = round(v, 6)
        if r == 0.0:
            return "-0.0" if math.copysign(1.0, r) < 0 else "0.0"
        return r
    if hasattr(v, "isoformat"):
        return v.isoformat()[:26]
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    return v


def rows_of(table):
    cols = sorted(table.column_names)
    data = [table.column(c).to_pylist() for c in cols]
    return cols, [tuple(norm(v) for v in row) for row in zip(*data)] if data else (cols, [])


def main(out_dir, sf_dir):
    oracle = json.load(open(Path(out_dir) / "oracle_sql.json"))
    con = duckdb.connect()
    # one view per <table>.parquet in the dir, as Registrar.loadParquetDir
    for p in sorted(Path(sf_dir).glob("*.parquet")):
        con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM read_parquet('{p}')")
    passed, failed = [], []
    for name in sorted(oracle):
        qdir = Path(out_dir) / name
        files = list(qdir.glob("*.parquet"))
        if not files:
            failed.append((name, "no spark output"))
            continue
        got = pq.read_table(files[0])
        try:
            exp = con.execute(oracle[name]).arrow()
        except Exception as e:
            failed.append((name, f"oracle error: {e}"))
            continue
        gc, gr = rows_of(got)
        ec, er = rows_of(exp)
        if gc != ec:
            failed.append((name, f"schema: spark={gc} duckdb={ec}"))
            continue
        # the driver hashes raw values, so an int column on one side vs a
        # float on the other (e.g. DuckDB HUGEINT->float64 from sum(BIGINT))
        # hash-mismatches even when 3 == 3.0 here — mirror that strictness
        def kind(field):
            import pyarrow.types as pt
            t = field.type
            return ("f" if pt.is_floating(t) or pt.is_decimal(t)
                    else "i" if pt.is_integer(t) else "o")
        gk = {f.name: kind(f) for f in got.schema}
        ek = {f.name: kind(f) for f in exp.schema}
        badk = [c for c in gk if gk[c] != ek.get(c, gk[c])]
        if badk:
            failed.append((name, f"column kind mismatch (int vs float): "
                           + ", ".join(f"{c} spark={gk[c]} duck={ek[c]}" for c in badk)))
            continue
        if len(gr) != len(er):
            failed.append((name, f"rowcount: spark={len(gr)} duckdb={len(er)}"))
            continue
        # order-sensitive first; fall back to multiset compare
        if gr == er or sorted(map(repr, gr)) == sorted(map(repr, er)):
            passed.append(name)
        else:
            diff = next((i, a, b) for i, (a, b) in enumerate(zip(gr, er)) if a != b)
            failed.append((name, f"values differ at row {diff[0]}:\n  spark={diff[1]}\n  duck ={diff[2]}"))
    for n in passed:
        print(f"PASS {n}")
    for n, why in failed:
        print(f"FAIL {n}: {why}")
    print(f"\n{len(passed)}/{len(passed) + len(failed)} passed")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
