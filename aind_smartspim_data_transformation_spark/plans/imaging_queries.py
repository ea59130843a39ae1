"""Relational twin of the flagship imaging aggregation (SURVEY.md A1).

The windowed-mean pyramid runs in production inside the imaging
writers' tasks (imaging/pyramid.py::windowed_mean, applied per chunk
by imaging/fused.py::write_slab).  To hook the SAME semantics into the
driver's DuckDB correctness gate — which only sees
the parquet tables — this module expresses one pyramid level as pure
relational algebra over a deterministic synthetic voxel grid:

    value(z,y,x) = (z*131 + y*17 + x*7) % 4096        (uint16-like)
    level1(Z,Y,X) = trunc(mean of the 2×2×2 window)   (ceil edges)

``floor`` (= trunc for non-negative means) reproduces the reference's
``preserve_dtype=True`` integer cast.  Grid is 33³ (odd on purpose —
exercises the truncated edge windows).

Also exposes the F2 wavelength→hex LUT as a query so the driver gate
covers it (the LUT is a when-chain Column expression; the oracle
replays the bands as a CASE ladder).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aind_smartspim_data_transformation_spark.functions.imaging_meta import (
    WAVELENGTH_BANDS,
    wavelength_to_hex_col,
)

GRID = 33  # odd → exercises ceil/truncated edge windows


def i01_windowed_mean_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    z = spark.range(GRID).select(F.col("id").alias("z"))
    y = spark.range(GRID).select(F.col("id").alias("y"))
    x = spark.range(GRID).select(F.col("id").alias("x"))
    vox = (
        z.crossJoin(y)
        .crossJoin(x)
        .withColumn("v", (F.col("z") * 131 + F.col("y") * 17 + F.col("x") * 7) % 4096)
    )
    return (
        vox.groupBy(
            (F.col("z") / 2).cast("long").alias("zz"),
            (F.col("y") / 2).cast("long").alias("yy"),
            (F.col("x") / 2).cast("long").alias("xx"),
        )
        .agg(F.floor(F.avg("v")).alias("mean_v"), F.count("*").alias("n_in_window"))
        .orderBy("zz", "yy", "xx")
    )


I01_SQL = f"""
WITH vox AS (
  SELECT z.range AS z, y.range AS y, x.range AS x,
         (z.range * 131 + y.range * 17 + x.range * 7) % 4096 AS v
  FROM range({GRID}) z, range({GRID}) y, range({GRID}) x
)
SELECT CAST(floor(z / 2) AS BIGINT) AS zz,
       CAST(floor(y / 2) AS BIGINT) AS yy,
       CAST(floor(x / 2) AS BIGINT) AS xx,
       CAST(floor(avg(v)) AS BIGINT) AS mean_v,
       count(*) AS n_in_window
FROM vox GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
"""


def i02_wavelength_to_hex(spark: SparkSession, sf_dir: str) -> DataFrame:
    waves = spark.range(380, 751, 5).select(F.col("id").cast("int").alias("wavelength"))
    return (
        waves.select(
            "wavelength",
            F.lower(F.format_string("%06x", wavelength_to_hex_col(F.col("wavelength")))).alias(
                "hex_color"
            ),
        )
        .orderBy("wavelength")
    )


_CASE = "\n         ".join(
    f"WHEN wavelength < {ub} THEN '{color:06x}'" for ub, color in WAVELENGTH_BANDS
)

I02_SQL = f"""
SELECT wavelength,
       CASE {_CASE}
            ELSE '{WAVELENGTH_BANDS[-1][1]:06x}' END AS hex_color
FROM (SELECT CAST(range AS INTEGER) AS wavelength FROM range(380, 751, 5))
ORDER BY wavelength
"""


# ---------------------------------------------------------------------------
# I3 — the REAL pyramid kernel under benchmark load: a deterministic
# synthetic 4×4×4 grid of 64³ uint16 chunks (≈ 32 MiB), each one
# generated, reduced one windowed-mean level and checksummed by ONE
# mapInPandas function, so no chunk bytes cross to the JVM.  No files
# touched — chunk payloads are a CLOSED FORM of the global voxel
# coordinate,
# v(gz,gy,gx) = (gz·131 + gy·17 + gx·7) % 4096 (i01's formula at i03's
# geometry), so since round 5 the driver's DuckDB gate replays the
# whole pipeline — generation, per-chunk 2×2×2 windowed mean with
# dtype-preserving truncation, per-chunk reduction — from SQL over a
# 256³ voxel CTE.  Exactness: each window sums ≤ 8·4095 (exact in
# f64), /8 is a power-of-two division (exact), truncation = floor for
# non-negatives; the chunk mean divides an exact ≤2^27 integer sum by
# 32768 (power of two) — both engines agree bit-for-bit.
# ---------------------------------------------------------------------------
N_GRID = 4
CHUNK = 64


def i03_pyramid_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from aind_smartspim_data_transformation_spark.imaging.pyramid import (
        windowed_mean,
    )

    coords = (
        spark.range(N_GRID**3)
        .select(
            (F.col("id") / (N_GRID * N_GRID)).cast("int").alias("cz"),
            ((F.col("id") / N_GRID) % N_GRID).cast("int").alias("cy"),
            (F.col("id") % N_GRID).cast("int").alias("cx"),
        )
        .repartition(N_GRID**2)  # spread chunk generation over the cores
    )

    def _level(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                gz = (r.cz * CHUNK + np.arange(CHUNK, dtype=np.int64))[:, None, None]
                gy = (r.cy * CHUNK + np.arange(CHUNK, dtype=np.int64))[None, :, None]
                gx = (r.cx * CHUNK + np.arange(CHUNK, dtype=np.int64))[None, None, :]
                arr = ((gz * 131 + gy * 17 + gx * 7) % 4096).astype(np.uint16)
                red = windowed_mean(arr, (2, 2, 2))
                s = int(red.sum())
                # ONE division of exact integers (not np.mean's
                # pairwise accumulation) — bit-identical to the
                # oracle's sum/count
                out.append((r.cz, r.cy, r.cx, s / red.size, s))
            yield pd.DataFrame(
                out, columns=["cz", "cy", "cx", "mean_v", "sum_v"]
            )

    return coords.mapInPandas(
        _level, schema="cz int, cy int, cx int, mean_v double, sum_v long"
    ).orderBy("cz", "cy", "cx")


I03_SQL = f"""
WITH vox AS (
  SELECT z.range AS gz, y.range AS gy, x.range AS gx,
         (z.range * 131 + y.range * 17 + x.range * 7) % 4096 AS v
  FROM range({N_GRID * CHUNK}) z, range({N_GRID * CHUNK}) y,
       range({N_GRID * CHUNK}) x
), ds AS (
  SELECT gz // 2 AS oz, gy // 2 AS oy, gx // 2 AS ox,
         CAST(floor(avg(v)) AS BIGINT) AS dv
  FROM vox GROUP BY 1, 2, 3
)
SELECT CAST(oz // {CHUNK // 2} AS INT) AS cz,
       CAST(oy // {CHUNK // 2} AS INT) AS cy,
       CAST(ox // {CHUNK // 2} AS INT) AS cx,
       CAST(sum(dv) AS DOUBLE) / count(*) AS mean_v,
       CAST(sum(dv) AS BIGINT) AS sum_v
FROM ds GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
"""


# ---------------------------------------------------------------------------
# I4 — NGFF coordinate-transform ladder (SURVEY F4, reference
# `compress/png_to_zarr.py:107-203`) as an oracle-backed query.  Per
# level i: voxel scale ×f^i (exact: power-of-two scaling only shifts
# the exponent), extent = ceil(extent0 / f^i) — valid closed form
# because ceil-div composes: ceil(ceil(n/a)/b) == ceil(n/(ab)) for
# positive integers — and cz/cy/cx are the reference's chunk dims,
# the requested chunk clamped to each level's extent.  The sink does
# not write those: its planner (imaging/zarr_sink.plan_store_layout)
# clamps only level 0 and divides the chunk dims by the factor at each
# level after it (at this geometry (64,128,128) (32,64,64) (16,32,32)
# (8,16,16)); the reference's layout is ROADMAP direction 2's target.
# Pure integer/exact-float arithmetic end to end, so the DuckDB twin
# matches bit-for-bit; the scale columns equal
# `functions/imaging_meta.compute_scale_ladder` (the NGFF transforms
# the sink writes), golden-tested in tests/test_imaging_queries.py.
# ---------------------------------------------------------------------------
LADDER_LEVELS = 4
LADDER_VOX = (2.0, 1.8, 1.8)  # z, y, x µm (reference acquisition golden)
LADDER_SHAPE = (64, 1600, 2000)
LADDER_CHUNK = 128


def i04_scale_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    vz, vy, vx = LADDER_VOX
    z0, y0, x0 = LADDER_SHAPE
    c = LADDER_CHUNK
    lvl = F.explode(F.sequence(F.lit(0), F.lit(LADDER_LEVELS - 1))).alias("lvl")
    fpow = F.expr("CAST(shiftleft(1, lvl) AS BIGINT)")  # 2^lvl, exact
    ceil_div = lambda n: ((F.lit(n) + fpow - 1) / fpow).cast("long")  # noqa: E731
    return (
        spark.range(1)
        .select(lvl)
        .select(
            "lvl",
            (F.lit(vz) * fpow).alias("scale_z"),
            (F.lit(vy) * fpow).alias("scale_y"),
            (F.lit(vx) * fpow).alias("scale_x"),
            ceil_div(z0).alias("z"),
            ceil_div(y0).alias("y"),
            ceil_div(x0).alias("x"),
            F.least(ceil_div(z0), F.lit(c).cast("long")).alias("cz"),
            F.least(ceil_div(y0), F.lit(c).cast("long")).alias("cy"),
            F.least(ceil_div(x0), F.lit(c).cast("long")).alias("cx"),
        )
        .orderBy("lvl")
    )


I04_SQL = f"""
SELECT lvl,
       CAST({LADDER_VOX[0]} AS DOUBLE) * f AS scale_z,
       CAST({LADDER_VOX[1]} AS DOUBLE) * f AS scale_y,
       CAST({LADDER_VOX[2]} AS DOUBLE) * f AS scale_x,
       ({LADDER_SHAPE[0]} + f - 1) // f AS z,
       ({LADDER_SHAPE[1]} + f - 1) // f AS y,
       ({LADDER_SHAPE[2]} + f - 1) // f AS x,
       least(({LADDER_SHAPE[0]} + f - 1) // f, {LADDER_CHUNK}) AS cz,
       least(({LADDER_SHAPE[1]} + f - 1) // f, {LADDER_CHUNK}) AS cy,
       least(({LADDER_SHAPE[2]} + f - 1) // f, {LADDER_CHUNK}) AS cx
FROM (SELECT CAST(range AS BIGINT) AS lvl,
             CAST(1 << range AS BIGINT) AS f
      FROM range(0, {LADDER_LEVELS}))
ORDER BY lvl
"""


# i05 — the fused ingest's restartability BOOKKEEPING as a closed
# form the driver can hash-check (VERDICT r8 ask #8).  The kill/resume
# machinery itself is pytest-verified (tests/test_imaging_job.py); this
# query replays its arithmetic — the band plan (imaging/fused.py::
# _band_plan: a ceil(parallelism / slabs) band target, ceil splits)
# , the (stack, slab, band) marker-key enumeration and the
# done/remaining partition + saved-metrics merge of run_fused_ingest —
# over a deterministic synthetic geometry with a deterministic "these
# markers survived the crash" rule, so a regression in the shared
# integer arithmetic shows up as a driver hash mismatch.  Parity with
# the PRODUCTION _band_plan/key enumeration is asserted in
# tests/test_imaging_queries.py.
I05_PARALLELISM = 32  # fixed literal — both engines must agree
I05_STACKS = 6
# _band_plan caps the band height to the per-task memory envelope
# (imaging/fused.py — one band buffer plus one decoded slice span must
# fit FUSED_MAX_TASK_BYTES).  The replay carries the same closed form
# over a synthetic x/itemsize, with the cap literal sized so it BINDS
# for the two deepest synthetic stacks (per_band 5→3 and 6→3) and
# leaves the rest on the want-derived value — both branches
# exercised, parity asserted against the production _band_plan in
# tests/test_imaging_queries.py.  The production budget also never
# drops below 1/16 of a z-slab; at most 4·41·32·2 // 16 = 656 B here,
# it never binds, so the replay omits it.
I05_X = 32  # synthetic plane width (pixels)
I05_ITEM = 2  # synthetic dtype itemsize (uint16)
I05_TASK_BYTES_CAP = 6144
# Synthetic chunk dims (z-slab depth, y chunk rows) — named once and
# interpolated into BOTH the DataFrame expressions and I05_SQL (ADVICE
# r11: bare `4` literals in three places were a triple-edit hazard; the
# parity test guards divergence, constants remove the hazard).
I05_CZ = 4
I05_CY = 4


def i05_resume_bookkeeping(spark: SparkSession, sf_dir: str) -> DataFrame:
    P = I05_PARALLELISM
    geo = spark.range(I05_STACKS).select(
        F.col("id").alias("stack_id"),
        (7 + 3 * F.col("id")).alias("z"),
        (16 + 5 * F.col("id")).alias("y"),
    )
    s = geo.withColumn(
        "n_slabs", F.expr(f"(z + {I05_CZ - 1}) div {I05_CZ}")
    ).withColumn("n_cy", F.expr(f"(y + {I05_CY - 1}) div {I05_CY}"))
    t = s.agg(F.sum("n_slabs").alias("tot"))
    _cap_expr = (
        f"greatest(CAST(1 AS BIGINT), ({I05_TASK_BYTES_CAP} - "
        f"y*{I05_X}*{I05_ITEM}) div "
        f"(least({I05_CZ}, z)*{I05_CY}*{I05_X}*{I05_ITEM}))"
    )
    p5 = (
        s.crossJoin(F.broadcast(t))  # 1-row scalar, never a shuffle
        .withColumn(
            "want",
            F.expr(f"({P} + tot - 1) div tot"),
        )
        .withColumn("nb0", F.expr("least(want, n_cy)"))
        .withColumn("pb_cap", F.expr(_cap_expr))
        .withColumn(
            "per_band",
            F.expr("least((n_cy + nb0 - 1) div nb0, pb_cap)"),
        )
        .withColumn("n_bands", F.expr("(n_cy + per_band - 1) div per_band"))
    )
    k = (
        p5.select(
            "stack_id",
            "n_slabs",
            "n_bands",
            "per_band",
            F.explode(
                F.expr("sequence(CAST(0 AS BIGINT), n_slabs - 1)")
            ).alias("slab"),
        )
        .select(
            "*",
            F.explode(
                F.expr("sequence(CAST(0 AS BIGINT), n_bands - 1)")
            ).alias("band"),
        )
        .withColumn("done", F.expr("(slab*7 + band*3) % 5 = 0"))
    )
    return (
        k.groupBy("stack_id", "n_slabs", "n_bands", "per_band")
        .agg(
            F.count("*").alias("n_keys"),
            F.sum(F.expr("CASE WHEN done THEN 1 ELSE 0 END"))
            .cast("long")
            .alias("n_done"),
            F.sum(F.expr("CASE WHEN NOT done THEN 1 ELSE 0 END"))
            .cast("long")
            .alias("n_remaining"),
            F.sum(
                F.expr("CASE WHEN done THEN (slab+1)*(band+2) ELSE 0 END")
            )
            .cast("long")
            .alias("done_chunks"),
            F.sum(
                F.expr(
                    "CASE WHEN done THEN 1000 + slab*17 + band*13 ELSE 0 END"
                )
            )
            .cast("long")
            .alias("done_bytes"),
        )
        .orderBy("stack_id")
    )


I05_SQL = f"""
WITH geo AS (SELECT range AS stack_id, 7 + 3*range AS z, 16 + 5*range AS y
             FROM range({I05_STACKS})),
s AS (SELECT *, (z + {I05_CZ - 1}) // {I05_CZ} AS n_slabs,
             (y + {I05_CY - 1}) // {I05_CY} AS n_cy FROM geo),
t AS (SELECT sum(n_slabs) AS tot FROM s),
p AS (SELECT s.*, CAST(({I05_PARALLELISM} + tot - 1) // tot AS BIGINT)
              AS want FROM s, t),
p5 AS (
  SELECT *, (n_cy + per_band - 1) // per_band AS n_bands FROM (
    SELECT *, least((n_cy + nb0 - 1) // nb0, pb_cap) AS per_band FROM (
      SELECT *, least(want, n_cy) AS nb0,
             greatest(1, ({I05_TASK_BYTES_CAP} - y*{I05_X}*{I05_ITEM}) //
                 (least({I05_CZ}, z)*{I05_CY}*{I05_X}*{I05_ITEM}))
               AS pb_cap
      FROM p))),
k AS (
  SELECT p5.stack_id, p5.n_slabs, p5.n_bands, p5.per_band,
         sl.slab, b.band,
         ((sl.slab*7 + b.band*3) % 5 = 0) AS done
  FROM p5,
       LATERAL (SELECT unnest(range(p5.n_slabs)) AS slab) sl,
       LATERAL (SELECT unnest(range(p5.n_bands)) AS band) b)
SELECT stack_id, n_slabs, n_bands, per_band,
       count(*) AS n_keys,
       CAST(sum(CASE WHEN done THEN 1 ELSE 0 END) AS BIGINT) AS n_done,
       CAST(sum(CASE WHEN NOT done THEN 1 ELSE 0 END) AS BIGINT)
         AS n_remaining,
       CAST(sum(CASE WHEN done THEN (slab+1)*(band+2) ELSE 0 END) AS BIGINT)
         AS done_chunks,
       CAST(sum(CASE WHEN done THEN 1000 + slab*17 + band*13 ELSE 0 END)
         AS BIGINT) AS done_bytes
FROM k GROUP BY ALL ORDER BY stack_id
"""


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "i01_windowed_mean_grid": i01_windowed_mean_grid,
    "i02_wavelength_to_hex": i02_wavelength_to_hex,
    "i03_pyramid_level": i03_pyramid_level,
    "i04_scale_ladder": i04_scale_ladder,
    "i05_resume_bookkeeping": i05_resume_bookkeeping,
}

ORACLE: dict[str, str] = {
    "i01_windowed_mean_grid": I01_SQL,
    "i02_wavelength_to_hex": I02_SQL,
    "i03_pyramid_level": I03_SQL,
    "i04_scale_ladder": I04_SQL,
    "i05_resume_bookkeeping": I05_SQL,
}
