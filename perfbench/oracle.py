"""DuckDB oracle check for the batch queries: each query's first result,
written as parquet by the benchmark, must equal its oracle SQL run by
DuckDB over the same base tables (columns compared by name, rows in any
order, values exactly)."""

import datetime
import decimal
import glob
import os

import duckdb


def _canon(v):
    if isinstance(v, bool) or v is None or isinstance(v, str):
        return v
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if v != v:
            return "nan"
        return int(v) if v.is_integer() and abs(v) < 2 ** 53 else v
    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        return v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    return v


def _table(rel):
    cols = rel.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(_canon(r[i]) for i in order) for r in rel.fetchall()]
    return [cols[i] for i in order], sorted(rows, key=repr)


def check(data_dir, results_dir, oracle_sql):
    """{query: None if it matches, else why not} for every query in
    oracle_sql."""
    con = duckdb.connect()
    for p in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(p)[:-len(".parquet")]
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    out = {}
    for q, sql in sorted(oracle_sql.items()):
        files = os.path.join(results_dir, q, "*.parquet")
        if not glob.glob(files):
            out[q] = "no result written"
            continue
        try:
            want = _table(con.sql(sql))
            got = _table(con.sql(f"SELECT * FROM read_parquet('{files}')"))
        except duckdb.Error as e:
            out[q] = f"error: {e}"
            continue
        if want[0] != got[0]:
            out[q] = f"columns: oracle {want[0]} got {got[0]}"
        elif len(want[1]) != len(got[1]):
            out[q] = f"rows: oracle {len(want[1])} got {len(got[1])}"
        else:
            bad = [i for i, (a, b) in enumerate(zip(want[1], got[1])) if a != b]
            out[q] = f"{len(bad)} rows differ, first {got[1][bad[0]]!r}" if bad else None
    con.close()
    return out
