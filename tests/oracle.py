"""Local replica of the driver's DuckDB-oracle comparison.

Runs a Spark query and its oracle SQL side-by-side and compares
row count, sorted column names, and an order-insensitive value
comparison (floats rounded to absorb summation-order ulps).  Used by
tests so every queries()/oracle_sql() pair is validated before the
driver ever sees it.
"""

from __future__ import annotations

import datetime as _dt
import math
import os

import duckdb

from aind_smartspim_data_transformation_spark.tables import TABLE_NAMES


def run_oracle(sql: str, sf_dir: str, tables=TABLE_NAMES):
    """Run ``sql`` in DuckDB over views of ``tables`` under ``sf_dir``.

    Small test fixtures hold only the tables their query reads, so
    they pass just those; a table Spark wrote is a directory of part
    files, read through a glob."""
    con = duckdb.connect()
    for t in tables:
        src = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(src):
            src += "/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    rows = cur.fetchall()
    con.close()
    return cols, rows


def _norm(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return bool(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 6)
    if isinstance(v, _dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, _dt.timedelta):
        return v.total_seconds()
    return v


def _canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return [cols[i] for i in order], out


def compare(spark_df, oracle_sql: str, sf_dir: str, name: str = "query"):
    s_cols = spark_df.columns
    s_rows = [tuple(r) for r in spark_df.collect()]
    o_cols, o_rows = run_oracle(oracle_sql, sf_dir)
    assert len(s_rows) == len(o_rows), (
        f"{name}: row count {len(s_rows)} (spark) != {len(o_rows)} (oracle)"
    )
    sc, s_canon = _canon(s_cols, s_rows)
    oc, o_canon = _canon(o_cols, o_rows)
    assert sc == oc, f"{name}: columns {sc} != {oc}"
    mismatches = [
        (i, a, b) for i, (a, b) in enumerate(zip(s_canon, o_canon)) if a != b
    ]
    assert not mismatches, (
        f"{name}: {len(mismatches)} mismatched rows; first: "
        f"spark={mismatches[0][1]} oracle={mismatches[0][2]}"
    )
