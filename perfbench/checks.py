"""Result checks: exact oracle compare for queries, read-back for imaging.

The query check mirrors the project's strict verify: rows are compared
as exact values (floats by ``repr``, no rounding), as multisets with
columns in name order, against the DuckDB SQL twin from
``registry.all_oracles()`` run over the same parquet files.
"""

from __future__ import annotations

import datetime as dt
import math
from collections import Counter

import numpy as np

# DuckDB widens integer sums to 128-bit; an oracle column of these types
# would be compared through a different representation than Spark's.
_UNSAFE_TYPES = ("HUGEINT", "UHUGEINT", "DECIMAL")


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None)
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, dt.timedelta):
        return v.total_seconds()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _canon(cols: list[str], rows: list[tuple]) -> tuple[list[str], Counter]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [cols[i] for i in order], Counter(tuple(_norm(r[i]) for i in order) for r in rows)


def oracle_connection(sf_dir: str, table_names):
    import duckdb

    con = duckdb.connect()
    for t in table_names:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def check_rows(con, sql: str, cols: list[str], rows: list[tuple]) -> str | None:
    """None when ``rows`` equal the oracle's exactly, else why not."""
    rel = con.sql(sql)
    bad = [(c, str(t)) for c, t in zip(rel.columns, rel.types)
           if any(u in str(t).upper() for u in _UNSAFE_TYPES)]
    if bad:
        return f"oracle column types not comparable: {bad}"
    o_cols, o_rows = rel.columns, rel.fetchall()
    if len(rows) != len(o_rows):
        return f"rows {len(rows)} != oracle {len(o_rows)}"
    s_cols, s_canon = _canon(list(cols), rows)
    o_cols, o_canon = _canon(o_cols, o_rows)
    if s_cols != o_cols:
        return f"columns {s_cols} != oracle {o_cols}"
    if s_canon != o_canon:
        extra, missing = s_canon - o_canon, o_canon - s_canon
        return (f"{sum(missing.values())} oracle rows unmatched; first got "
                f"{next(iter(extra), None)}, expected {next(iter(missing), None)}")
    return None


def check_pyramid(group: str, volume: np.ndarray, levels: int,
                  factors: tuple[int, int, int]) -> str | None:
    """Every stored level of one stack against the source volume and its
    ``windowed_mean`` ladder (level k = windowed_mean of level k-1)."""
    from aind_smartspim_data_transformation_spark.imaging.pyramid import windowed_mean
    from aind_smartspim_data_transformation_spark.imaging.zarr_sink import read_zarr_level

    expect = volume
    for level in range(levels):
        if level:
            expect = windowed_mean(expect, factors)
        got = read_zarr_level(group, level)
        if got.shape != expect.shape:
            return f"level {level}: shape {got.shape} != {expect.shape}"
        if not np.array_equal(got, expect):
            n = int(np.count_nonzero(got != expect))
            return f"level {level}: {n} voxels differ"
    return None
