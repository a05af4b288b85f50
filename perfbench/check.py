"""Answer check against the DuckDB oracle, with the semantics of
scripts/oracle_check.py: columns compared by sorted name, floats rounded to
6 places with the sign of zero kept, timestamps to the microsecond, rows
compared in order and then as a multiset.

Spark's csv and json files carry no types, so their cells are read back as
the oracle column's type, and an empty csv cell reads as null (csv cannot
tell an empty string from a null; an empty oracle string counts as null
too). The int-versus-float column check applies to parquet only.

The compare is a copy rather than an import of scripts/oracle_check.py, so
that a change to that script does not change the benchmark between the two
commits a comparison runs.
"""
import csv
import datetime
import decimal
import json
import math

import duckdb
import pyarrow.parquet as pq
import pyarrow.types as pt

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def connect(data_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = data_dir / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def norm(v):
    if v is None:
        return None
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        r = round(v, 6)
        if r == 0.0:
            return "-0.0" if math.copysign(1.0, r) < 0 else "0.0"
        return r
    if hasattr(v, "isoformat"):
        return v.isoformat()[:26]
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    return v


def kind(t):
    if pt.is_floating(t) or pt.is_decimal(t):
        return "f"
    if pt.is_integer(t):
        return "i"
    if pt.is_date(t):
        return "d"
    if pt.is_timestamp(t):
        return "t"
    if pt.is_boolean(t):
        return "b"
    if pt.is_string(t) or pt.is_large_string(t):
        return "s"
    return "o"


def table_rows(table):
    cols = sorted(table.column_names)
    data = [table.column(c).to_pylist() for c in cols]
    return cols, [tuple(norm(v) for v in row) for row in zip(*data)]


def oracle_result(con, sql):
    """What the oracle returns for `sql`, in a picklable, compared form."""
    table = con.execute(sql).arrow()
    cols, rows = table_rows(table)
    kinds = {f.name: kind(f.type) for f in table.schema}
    return {"cols": cols, "kinds": kinds, "rows": rows}


def from_text(cell, k):
    """A csv or json value read as a column of kind `k`."""
    if cell is None or cell == "":
        return None
    if not isinstance(cell, str):
        return float(cell) if k == "f" else cell
    if k == "i":
        return int(cell)
    if k == "f":
        return float(cell)
    if k == "b":
        return cell == "true"
    if k == "d":
        return datetime.date.fromisoformat(cell[:10])
    if k == "t":
        return datetime.datetime.fromisoformat(cell).replace(tzinfo=None)
    return cell


def text_rows(header, records, exp):
    if sorted(header) != exp["cols"]:
        return None, f"columns: spark={sorted(header)} duckdb={exp['cols']}"
    rows = [tuple(norm(from_text(r.get(c), exp["kinds"][c])) for c in exp["cols"])
            for r in records]
    return rows, None


def compare_file(path, fmt, exp):
    """None if the Spark output file at `path` matches the oracle result,
    else the reason it does not."""
    if not path.is_file():
        return "no output file"
    rows = exp["rows"]
    if fmt == "parquet":
        table = pq.read_table(path)
        cols, got = table_rows(table)
        if cols != exp["cols"]:
            return f"columns: spark={cols} duckdb={exp['cols']}"
        got_kinds = {f.name: kind(f.type) for f in table.schema}
        mixed = [c for c in cols if {got_kinds[c], exp["kinds"][c]} == {"i", "f"}]
        if mixed:
            return f"int versus float in {mixed}"
    elif fmt == "csv":
        with open(path, newline="", encoding="utf-8") as f:
            reader = csv.reader(f, escapechar="\\", doublequote=False)
            header = next(reader, [])
            records = [dict(zip(header, r)) for r in reader]
        got, why = text_rows(header, records, exp)
        if why:
            return why
        rows = [tuple(None if v == "" else v for v in r) for r in rows]
    elif fmt == "json":
        with open(path, encoding="utf-8") as f:
            records = [json.loads(l) for l in f if l.strip()]
        keys = sorted({k for r in records for k in r})
        extra = [k for k in keys if k not in exp["kinds"]]
        if extra:
            return f"columns not in the oracle: {extra}"
        got, why = text_rows(exp["cols"], records, exp)
        if why:
            return why
    else:
        return f"unknown format {fmt}"
    if len(got) != len(rows):
        return f"rowcount: spark={len(got)} duckdb={len(rows)}"
    if got == rows or sorted(map(repr, got)) == sorted(map(repr, rows)):
        return None
    i, a, b = next((i, a, b) for i, (a, b) in enumerate(zip(got, rows)) if a != b)
    return f"values differ at row {i}: spark={a} duckdb={b}"
