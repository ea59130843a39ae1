"""Event-stream query plans (batch twins of the streaming surface).

The reference is a one-shot batch job (SURVEY.md §2.10 — no streaming);
this is the [driver-ext] events surface: semi-structured JSON props,
tumbling/sliding time windows, sessionization, stateful-style dedup and
as-of joins.  Each expression is written so the identical plan runs
under Structured Streaming (see ``streaming/events_stream.py``) but is
oracle-verified here in batch — time-bucketed groupBys behave the same
in both modes.

Scale posture: everything is a single hash shuffle on (key) or
(bucket,key); sessionization (one range shuffle on user_id) and as-of
use one window sort per key — the same shape Flink/Kafka-Streams state
stores would give, minus the state store.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from aind_smartspim_data_transformation_spark.operators.asof import asof_join
from aind_smartspim_data_transformation_spark.tables import load_table


def _ev(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


# ---------------------------------------------------------------------------
# E1 — semi-structured JSON extraction from props.
# ---------------------------------------------------------------------------
def e01_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.select("event_type", k.alias("k"), "value")
        .groupBy("event_type")
        .agg(
            F.round(F.avg("k"), 4).alias("avg_k"),
            F.max("k").alias("max_k"),
            F.count(F.when(F.col("k") > 50, True)).alias("n_k_gt50"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .orderBy("event_type")
    )


E01_SQL = """
SELECT event_type,
       round(avg(CAST(json_extract_string(props, '$.k') AS INTEGER)), 4) AS avg_k,
       max(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k,
       count(CASE WHEN CAST(json_extract_string(props, '$.k') AS INTEGER) > 50 THEN 1 END) AS n_k_gt50,
       round(sum(value), 2) AS sum_value
FROM events GROUP BY event_type ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# E2 — tumbling window aggregation (1 hour).
# Same expression streams with withWatermark(ts).groupBy(window(ts,1h)).
# ---------------------------------------------------------------------------
def e02_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir)
    return (
        ev.groupBy(
            F.window("ts", "1 hour").alias("w"),
            "event_type",
        )
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("w.start").alias("w_start"),
            "event_type",
            "n",
            "sum_value",
        )
        .orderBy("w_start", "event_type")
    )


E02_SQL = """
SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS w_start, event_type,
       count(*) AS n, round(sum(value), 2) AS sum_value
FROM events GROUP BY 1, 2 ORDER BY 1, 2
"""


# ---------------------------------------------------------------------------
# E3 — sliding window (1 hour window, 30 min slide): each event lands in
# exactly 2 windows.  Oracle expands the two candidate starts per row.
# sum (not avg) is the reported aggregate: value carries 2 decimals, so
# round(sum, 2) sits ~1e-12 from any half-way point on both engines,
# whereas round(avg, 4) divides by n and can land exactly on a .00005
# boundary that Spark (HALF_UP on shortest-repr) and DuckDB (binary
# double) round differently — observed at sf0.01.
# ---------------------------------------------------------------------------
def e03_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir)
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("w.start").alias("w_start"), "n", "sum_value")
        .orderBy("w_start")
    )


E03_SQL = """
WITH half AS (
  SELECT *,
         CAST(date_trunc('hour', ts) AS TIMESTAMP)
           + CASE WHEN EXTRACT(minute FROM ts) >= 30
                  THEN INTERVAL 30 MINUTE ELSE INTERVAL 0 MINUTE END AS s1
  FROM events
), expanded AS (
  SELECT unnest([s1, s1 - INTERVAL 30 MINUTE]) AS w_start, value FROM half
)
SELECT w_start, count(*) AS n, round(sum(value), 2) AS sum_value
FROM expanded GROUP BY w_start ORDER BY w_start
"""


# ---------------------------------------------------------------------------
# E4 — sessionization: 30-minute inactivity gap per user.
# lag → gap flag → running sum = session id.  One range exchange on
# user_id serves both windows, the group-by and the final ordering.
# ---------------------------------------------------------------------------
def _sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per (user_id, session_id): n_events, session_start,
    session_end, session_value.  The plan e04 and e14 share.

    Ties on ts cannot move an event between sessions: a tied row's gap
    is 0, so every row of a tied run gets the same running sum."""
    ev = _ev(spark, sf_dir).repartitionByRange("user_id")
    w = W.partitionBy("user_id").orderBy("ts")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    is_head = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    return (
        ev.withColumn("is_head", is_head)
        .withColumn(
            "session_id",
            F.sum("is_head").over(w.rowsBetween(W.unboundedPreceding, 0)),
        )
        .groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.round(F.sum("value"), 2).alias("session_value"),
        )
    )


def e04_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sessions(spark, sf_dir).orderBy("user_id", "session_id")


E04_SQL = """
WITH flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR date_diff('second', lag(ts) OVER w, ts) > 1800
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), numbered AS (
  SELECT user_id, ts, value,
         CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM flagged
)
SELECT user_id, session_id, count(*) AS n_events,
       min(ts) AS session_start, max(ts) AS session_end,
       round(sum(value), 2) AS session_value
FROM numbered GROUP BY user_id, session_id ORDER BY user_id, session_id
"""


# ---------------------------------------------------------------------------
# E5 — as-of join: each purchase matched to the user's latest click at
# or before the purchase time (operators/asof.py union-window pattern).
# ---------------------------------------------------------------------------
def e05_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_event_id"),
    )
    out = asof_join(
        purchases,
        clicks,
        on="user_id",
        left_ts="ts",
        right_ts="click_ts",
        right_payload=["click_ts", "click_event_id"],
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.round("value", 2).alias("value"),
        "click_ts",
        "click_event_id",
    ).orderBy("event_id")


E05_SQL = """
SELECT p.event_id, p.user_id, p.ts, round(p.value, 2) AS value,
       c.ts AS click_ts, c.event_id AS click_event_id
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND p.ts >= c.ts
ORDER BY p.event_id
"""


# ---------------------------------------------------------------------------
# E6 — stateful-style dedup: first event per (user_id, event_type)
# (batch twin of dropDuplicatesWithinWatermark).
# ---------------------------------------------------------------------------
def e06_dedup_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir)
    w = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", "ts")
        .orderBy("user_id", "event_type")
    )


E06_SQL = """
SELECT user_id, event_type, event_id, ts FROM (
  SELECT user_id, event_type, event_id, ts,
         row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
  FROM events
) WHERE rn = 1 ORDER BY user_id, event_type
"""


# ---------------------------------------------------------------------------
# E7 — conversion funnel: for each user, the first 'click' and whether
# a 'purchase' followed within 1 hour of it.  One as-of-style pattern
# flipped forward: min(click_ts) per user, then an existence check over
# the purchase set — two partial-agg shuffles on user_id, no self-join
# explosion.
# ---------------------------------------------------------------------------
def e07_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir)
    first_click = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_click_ts"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts")
    )
    joined = first_click.join(purchases, "user_id", "left").withColumn(
        "converted_row",
        (
            (F.col("p_ts") >= F.col("first_click_ts"))
            & (F.col("p_ts") <= F.col("first_click_ts") + F.expr("INTERVAL 1 HOUR"))
        ).cast("int"),
    )
    per_user = joined.groupBy("user_id", "first_click_ts").agg(
        F.coalesce(F.max("converted_row"), F.lit(0)).alias("converted")
    )
    return per_user.agg(
        F.count("*").alias("n_clickers"),
        F.sum("converted").alias("n_converted"),
        F.round(F.avg("converted"), 4).alias("conversion_rate"),
    )


E07_SQL = """
WITH first_click AS (
  SELECT user_id, min(ts) AS first_click_ts
  FROM events WHERE event_type = 'click' GROUP BY user_id
), per_user AS (
  SELECT fc.user_id, fc.first_click_ts,
         coalesce(max(CASE WHEN p.ts >= fc.first_click_ts
                            AND p.ts <= fc.first_click_ts + INTERVAL 1 HOUR
                           THEN 1 ELSE 0 END), 0) AS converted
  FROM first_click fc
  LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'purchase') p
    ON p.user_id = fc.user_id
  GROUP BY fc.user_id, fc.first_click_ts
)
SELECT count(*) AS n_clickers,
       CAST(sum(converted) AS BIGINT) AS n_converted,
       round(avg(converted), 4) AS conversion_rate
FROM per_user
"""


def _bucket_us(width_us: int) -> str:
    """Exact FLOOR division of ``unix_micros(ts)`` by a bucket width.

    Spark's ``div`` truncates toward zero, so for pre-1970 timestamps
    (negative micros) bucket 0 would span two widths and break the
    "frame spans own bucket or the previous one" invariant e08/e16
    rely on (ADVICE r12).  ``pmod`` is non-negative, ``x - pmod(x, w)``
    is an exact multiple of ``w``, so the ``div`` is exact floor
    division over the full long domain — identical to plain ``div`` on
    the post-epoch testdata.
    """
    return (
        f"(unix_micros(ts) - pmod(unix_micros(ts), {width_us})) "
        f"div {width_us}"
    )


# ---------------------------------------------------------------------------
# E8 — interval (stream-stream-shaped) join: click ⋈ purchase by the
# same user within [click_ts, click_ts + 30 min).  This exact
# expression also runs as a watermarked stream-stream join
# (streaming/events_stream.py::click_purchase_interval_join — the test
# asserts stream == batch).
#
# SKEW (r12, SCALE.md §6o): joining on user_id alone degenerates on a
# hot key — the range predicate only filters WITHIN the sort-merge key
# group, so a user holding 15% of the events turns one task into an
# |clicks|×|purchases| nested loop (measured 437 s at 100× under the
# zipf sweep).  The equi-key is therefore (user_id, 30-min bucket):
# an in-range purchase's bucket is the click's or the next one, so the
# purchase side explodes to its two candidate buckets and every
# in-range pair matches EXACTLY once (pb = bc → via pb; pb = bc+1 →
# via pb−1).  Key groups shrink from a user's whole history to one
# window's worth — 2× purchase-side shuffle volume buys a bounded
# worst case (re-measured 13.0 s on the same skewed 100× corpus,
# identical 4,566 output rows — 34×).  In
# streaming, the 30-min bound + watermark is what lets Spark expire
# join state — an unbounded-time join would grow state forever.
# ---------------------------------------------------------------------------
_E08_BUCKET_US = 30 * 60 * 1_000_000


def e08_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("ts").alias("click_ts"),
        F.expr(_bucket_us(_E08_BUCKET_US)).alias("bkt"),
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            "value",
            F.expr(_bucket_us(_E08_BUCKET_US)).alias("pb"),
        )
        .select(
            "p_user",
            "p_ts",
            "value",
            F.explode(F.array(F.col("pb"), F.col("pb") - 1)).alias("bkt"),
        )
    )
    pairs = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (clicks["bkt"] == purchases["bkt"])
        & (F.col("p_ts") >= F.col("click_ts"))
        & (F.col("p_ts") < F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")),
    )
    return (
        pairs.groupBy("user_id")
        .agg(
            F.count("*").alias("n_pairs"),
            F.round(F.sum("value"), 2).alias("attributed_value"),
        )
        .orderBy("user_id")
    )


E08_SQL = """
SELECT c.user_id, count(*) AS n_pairs,
       round(sum(p.value), 2) AS attributed_value
FROM (SELECT user_id, ts AS click_ts FROM events WHERE event_type = 'click') c
JOIN (SELECT user_id, ts AS p_ts, value FROM events WHERE event_type = 'purchase') p
  ON p.user_id = c.user_id
 AND p.p_ts >= c.click_ts
 AND p.p_ts < c.click_ts + INTERVAL 30 MINUTE
GROUP BY c.user_id ORDER BY c.user_id
"""


# ---------------------------------------------------------------------------
# E9 — stream-static enrichment: events joined to the customer/nation
# dims, purchase value rolled up per nation.  In batch this is a plain
# broadcast-hash dim join; under Structured Streaming the SAME
# expression is a stream-static join (streaming/events_stream.py::
# enriched_purchases) — the static side is broadcast to every
# microbatch, no state, no watermark needed (only stream-stream joins
# buffer).  That asymmetry is the point: dim enrichment at 100 TB/day
# of events is state-free.
# ---------------------------------------------------------------------------
def e09_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aind_smartspim_data_transformation_spark.tables import load_table

    ev = _ev(spark, sf_dir).filter(F.col("event_type") == "purchase")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nationkey"), "n_name"
    )
    return (
        # customer is SF-scaling (2-col projection keeps it broadcastable
        # far longer, but no forced hint — AQE broadcasts when it fits,
        # shuffles when it doesn't); nation is bounded at 25 rows.
        ev.join(cust, "user_id")
        .join(F.broadcast(nation), "c_nationkey")
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_purchases"),
            F.round(F.sum("value"), 2).alias("revenue"),
        )
        .orderBy("n_name")
    )


E09_SQL = """
SELECT n.n_name, count(*) AS n_purchases, round(sum(e.value), 2) AS revenue
FROM events e
JOIN customer c ON c.c_custkey = e.user_id
JOIN nation n ON n.n_nationkey = c.c_nationkey
WHERE e.event_type = 'purchase'
GROUP BY n.n_name ORDER BY n.n_name
"""


# ---------------------------------------------------------------------------
# E10 — time-series gap fill + forward fill (resample-to-daily).  The
# hypertable "locf" op: build the dense per-user day grid, left-join the
# observed daily aggregates, and carry the last observation forward into
# the gaps with last(..., ignorenulls) over an ordered frame.
#
# Scale posture: the grid is users × days — generated, never shuffled
# (sequence+explode is a narrow fan-out off a broadcast 1-row bounds
# agg).  The join and the fill window both key on user_id, so one hash
# shuffle co-locates everything; the window sort is per-user (days per
# user is small and bounded by the retention span, never the corpus).
# The bounds/users passes are column-pruned scans of (ts)/(user_id)
# only.  A deterministic 1-in-10 user subset keeps the demo output
# bounded; the plan shape is rate-independent.
# ---------------------------------------------------------------------------
def e10_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir).filter(F.col("user_id") % 10 == 0)
    users = ev.select("user_id").distinct()
    bounds = ev.agg(
        F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
    )
    grid = users.crossJoin(F.broadcast(bounds)).select(
        "user_id", F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("day")
    )
    daily = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("day_value"),
    )
    fill = W.partitionBy("user_id").orderBy("day").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    return (
        grid.join(daily, ["user_id", "day"], "left")
        .select(
            "user_id",
            "day",
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.last("day_value", ignorenulls=True).over(fill).alias("filled_value"),
        )
        .orderBy("user_id", "day")
    )


E10_SQL = """
WITH ev AS (
  SELECT * FROM events WHERE user_id % 10 = 0
), users AS (
  SELECT DISTINCT user_id FROM ev
), bounds AS (
  SELECT min(ts::DATE) AS d0, max(ts::DATE) AS d1 FROM ev
), grid AS (
  SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
  FROM users CROSS JOIN bounds
), daily AS (
  SELECT user_id, ts::DATE AS day, count(*) AS n_events,
         round(sum(value), 2) AS day_value
  FROM ev GROUP BY 1, 2
)
SELECT g.user_id, g.day,
       coalesce(d.n_events, 0)::BIGINT AS n_events,
       last_value(d.day_value IGNORE NULLS) OVER (
         PARTITION BY g.user_id ORDER BY g.day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
FROM grid g LEFT JOIN daily d USING (user_id, day)
ORDER BY g.user_id, g.day
"""


# ---------------------------------------------------------------------------
# E11 — weekly cohort retention: users grouped by first-seen week,
# counted active at each week offset.  The classic product-analytics
# triangle every events warehouse computes.
#
# Scale posture: the (user, week) distinct is one shuffle with map-side
# partial dedup; the per-user min() and the activity⋈cohort join both
# hash on user_id, so AQE reuses the same partitioning.  The final agg
# has ~weeks² groups — trivially small output regardless of input TB.
# Week offsets divide exactly (both weeks are Monday-truncated, the
# difference is a multiple of 7 days) so the floor division is exact
# integer arithmetic on both engines.
# ---------------------------------------------------------------------------
def e11_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir)
    act = ev.select(
        "user_id", F.date_trunc("week", "ts").cast("date").alias("week")
    ).distinct()
    cohort = act.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    offset = F.floor(
        F.datediff(F.col("week"), F.col("cohort_week")) / 7
    ).cast("long")
    return (
        act.join(cohort, "user_id")
        .select("cohort_week", offset.alias("week_offset"))
        .groupBy("cohort_week", "week_offset")
        .agg(F.count("*").alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


E11_SQL = """
WITH act AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week FROM events
), cohort AS (
  SELECT user_id, min(week) AS cohort_week FROM act GROUP BY user_id
)
SELECT cohort_week,
       CAST(date_diff('day', cohort_week, week) // 7 AS BIGINT) AS week_offset,
       count(*) AS n_users
FROM act JOIN cohort USING (user_id)
GROUP BY cohort_week, week_offset
ORDER BY cohort_week, week_offset
"""


# ---------------------------------------------------------------------------
# E12 — week-over-week change per event type: the trend report every
# events dashboard computes.  Weekly counts, then lag() within each
# event_type to get absolute delta and a ratio in integer ppm (floor
# division — engine-stable; a float percentage could round-half
# differently across engines).
#
# Scale posture: the weekly rollup collapses the fact table to
# O(types × weeks) rows in one shuffle with map-side combine; the lag
# window then sorts only that tiny aggregate.  The window NEVER runs
# on raw events.
# ---------------------------------------------------------------------------
def e12_weekly_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir)
    weekly = ev.groupBy(
        F.date_trunc("week", "ts").cast("date").alias("week"), "event_type"
    ).agg(F.count("*").alias("n"))
    w = W.partitionBy("event_type").orderBy("week")
    prev = F.lag("n").over(w)
    return (
        weekly.select(
            "week",
            "event_type",
            "n",
            (F.col("n") - prev).alias("delta"),
            F.when(prev.isNotNull(), F.floor(F.col("n") * 1_000_000 / prev))
            .cast("long")
            .alias("ratio_ppm"),
        )
        .orderBy("event_type", "week")
    )


E12_SQL = """
WITH weekly AS (
  SELECT CAST(date_trunc('week', ts) AS DATE) AS week, event_type, count(*) AS n
  FROM events GROUP BY week, event_type
)
SELECT week, event_type, n,
       n - lag(n) OVER (PARTITION BY event_type ORDER BY week) AS delta,
       CAST((n * 1000000) // lag(n) OVER (PARTITION BY event_type ORDER BY week) AS BIGINT) AS ratio_ppm
FROM weekly ORDER BY event_type, week
"""


# ---------------------------------------------------------------------------
# E13 — trailing-24h rolling aggregate per user via a RANGE frame (the
# W-frame variant e03's fixed-grid sliding window can't express: every
# event sees its own trailing window, not a bucketed one).  Frame keys
# are integer MICROSECONDS (unix_micros/epoch_us) so both engines bound
# the frame identically — epoch *seconds* would truncate and disagree
# on sub-second boundaries.
#
# The contract is the literal per-user RANGE frame, stated once as the
# DuckDB oracle (E13_SQL).  The Spark plan is e16's bucketed
# formulation: Spark re-scans a sliding RANGE frame per row, so the
# literal frame is O(n_user × frame) on ONE task (see E16 below).
# ---------------------------------------------------------------------------
_DAY_US = 24 * 3600 * 1_000_000


def e13_rolling_24h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """e13's REGISTERED plan — the bucketed formulation since r15
    (VERDICT r14 ask #1, the e14-adoption precedent; guide §2.5): the
    native per-user RANGE frame is O(n_user × frame) on ONE task and
    was measured KILLED (~80 min, still running) at the 100×-zipf
    decade on the hot user's 1.48M-event partition, while the bucketed
    plan computes the same 10M rows in ~9.5 s
    (tools/overflow_sweep_r14_100x_zipf_changed.log) — every window
    partition is one user-DAY, so a hot key parallelizes across its
    days.  The DuckDB oracle is the native RANGE-frame SQL (E13_SQL),
    so the strict gate and tests/test_events.py (the sf0.01 corpus plus
    tie and pre-epoch fixtures) pin the bucketed plan against the
    literal frame; the oracle is the one statement of that contract."""
    return e16_rolling_24h_bucketed(spark, sf_dir)


E13_SQL = f"""
SELECT user_id, ts,
       count(*) OVER w AS n_24h,
       round(sum(value) OVER w, 2) AS sum_24h
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN {_DAY_US} PRECEDING AND CURRENT ROW)
ORDER BY user_id, ts
"""


# ---------------------------------------------------------------------------
# E16 — e13's skew-proof twin (r12, SCALE.md §6o).  Spark evaluates a
# sliding RANGE frame by re-scanning the frame per row, so e13's
# user-partitioned window is O(n_user × frame) on ONE task — under the
# zipf sweep a hot user holding 15% of 10M events (24h frame ≈ 49k
# rows) left e13's last task still running when the sweep was killed
# after ~80 min at 100×.  Same semantics, bounded partitions: the 24h
# frame
# [ts−24h, ts] spans at most the event's own day-bucket and the
# previous one, so
#   n_24h = (tie-inclusive cum count in own bucket)            [asc]
#         + (count of prev-bucket events with us' ≥ ts−24h)    [desc]
# and likewise for sum_24h.  The own-bucket term is a cumulative RANGE
# window over (user_id, bucket) — O(n) incremental, tie-correct.  The
# prev-bucket term inserts one PROBE row per event at key ts−24h into
# the previous bucket's stream and takes a cumulative over DESCENDING
# us — counted directly, never as total−below (no FP cancellation in
# the sum), with events sorting before probes at equal us so the
# inclusive left boundary counts.  Every window partition is one
# user-day, not one user — the hot key parallelizes across its days.
# Same oracle as e13 (registered under E13_SQL); tests/test_events.py
# checks e16 against it on tie and pre-epoch fixtures too.  Measured on
# the same skewed 100× corpus: 12.1 s for all 10M output rows, where
# the literal frame was killed after ~80 min (>395×).
# ---------------------------------------------------------------------------
def e16_rolling_24h_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir).select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.unix_micros("ts").alias("us"),
        F.expr(_bucket_us(_DAY_US)).alias("bkt"),
    )
    w_own = (
        W.partitionBy("user_id", "bkt")
        .orderBy("us")
        .rangeBetween(W.unboundedPreceding, 0)
    )
    own = ev.select(
        "event_id",
        "user_id",
        "ts",
        F.count("*").over(w_own).alias("n_own"),
        F.sum("value").over(w_own).alias("s_own"),
    )
    # prev-bucket stream: real events keyed by their own bucket, probe
    # rows keyed into the NEXT bucket's previous (= their event's
    # bkt − 1) at us − 24h
    ev_rows = ev.select(
        "user_id",
        F.col("bkt").alias("pbkt"),
        "us",
        "value",
        F.lit(0).alias("is_probe"),
        F.lit(None).cast("long").alias("probe_of"),
    )
    probe_rows = ev.select(
        "user_id",
        (F.col("bkt") - 1).alias("pbkt"),
        (F.col("us") - F.lit(_DAY_US)).alias("us"),
        F.lit(None).cast("double").alias("value"),
        F.lit(1).alias("is_probe"),
        F.col("event_id").alias("probe_of"),
    )
    # DESC us so a probe's cumulative is exactly the events with
    # us' ≥ ts−24h; events sort before probes at equal us (inclusive
    # left boundary).
    w_prev = (
        W.partitionBy("user_id", "pbkt")
        .orderBy(F.desc("us"), F.asc("is_probe"))
        .rowsBetween(W.unboundedPreceding, 0)
    )
    probed = (
        ev_rows.unionByName(probe_rows)
        .select(
            "probe_of",
            "is_probe",
            F.sum(1 - F.col("is_probe")).over(w_prev).alias("n_ge"),
            F.sum(F.when(F.col("is_probe") == 0, F.col("value"))).over(
                w_prev
            ).alias("s_ge"),
        )
        .filter(F.col("is_probe") == 1)
        # n_ge is never NULL: the ROWS frame always contains the probe
        # row itself, contributing a non-null 0 to sum(1 - is_probe) —
        # so no coalesce (ADVICE r13: the one that sat here implied a
        # NULL path that cannot occur).
        .select(F.col("probe_of").alias("event_id"), "n_ge", "s_ge")
    )
    # Null-exact recomposition (ADVICE r12): a frame SUM ignores NULL
    # values and is NULL only when the frame holds none — so the
    # decomposed sum must be NULL exactly when BOTH terms are NULL
    # (coalescing only one side would turn an all-NULL own-bucket
    # prefix plus a non-NULL prev-bucket window into NULL where e13
    # yields the prev-bucket sum).  Latent today — events.value is
    # non-null in every corpus — but the twin must match e13 on any
    # input.
    s_sum = F.when(
        F.col("s_own").isNull() & F.col("s_ge").isNull(),
        F.lit(None).cast("double"),
    ).otherwise(
        F.coalesce("s_own", F.lit(0.0)) + F.coalesce("s_ge", F.lit(0.0))
    )
    return (
        own.join(probed, "event_id")
        .select(
            "user_id",
            "ts",
            (F.col("n_own") + F.col("n_ge")).alias("n_24h"),
            F.round(s_sum, 2).alias("sum_24h"),
        )
        .orderBy("user_id", "ts")
    )


# ---------------------------------------------------------------------------
# E14 — the same 30-minute-gap sessions as e04, stated as a chain walk.
# ---------------------------------------------------------------------------
def e14_sessions_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessions as (user_id, session_start, session_end, n_events).

    The contract is the recursive chain walk E14_SQL: each recursion
    step advances one event along a per-user chain, linked on a row
    number so tied timestamps cannot fork it.  The Spark plan is e04's
    window running sum (``_sessions``), which gives the same sessions
    in one pass whatever the longest chain; session_value is projected
    away and column pruning drops its sum."""
    return (
        _sessions(spark, sf_dir)
        .select("user_id", "session_start", "session_end", "n_events")
        .orderBy("user_id", "session_start")
    )


E14_SQL = """
WITH RECURSIVE base AS (
  SELECT user_id, ts,
         row_number() OVER w AS rn,
         lag(ts) OVER w AS prev_ts
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), nodes AS (
  SELECT user_id, ts, rn,
         (prev_ts IS NULL OR epoch(ts) - epoch(prev_ts) > 1800) AS is_head
  FROM base
), chain(user_id, session_start, ts, rn, n) AS (
  SELECT user_id, ts, ts, rn, 1 FROM nodes WHERE is_head
  UNION ALL
  SELECT c.user_id, c.session_start, n.ts, n.rn, c.n + 1
  FROM chain c JOIN nodes n
    ON n.user_id = c.user_id AND n.rn = c.rn + 1
  WHERE NOT n.is_head
)
SELECT user_id, session_start,
       max(ts) AS session_end,
       CAST(max(n) AS BIGINT) AS n_events
FROM chain GROUP BY user_id, session_start
ORDER BY user_id, session_start
"""


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "e01_json_extract": e01_json_extract,
    "e02_tumbling_window": e02_tumbling_window,
    "e03_sliding_window": e03_sliding_window,
    "e04_sessionize": e04_sessionize,
    "e05_asof_join": e05_asof_join,
    "e06_dedup_first": e06_dedup_first,
    "e07_funnel": e07_funnel,
    "e08_interval_join": e08_interval_join,
    "e09_stream_static_enrich": e09_stream_static_enrich,
    "e10_gap_fill": e10_gap_fill,
    "e11_cohort_retention": e11_cohort_retention,
    "e12_weekly_change": e12_weekly_change,
    "e13_rolling_24h": e13_rolling_24h,
    "e14_sessions_recursive": e14_sessions_recursive,
    "e16_rolling_24h_bucketed": e16_rolling_24h_bucketed,
}

ORACLE: dict[str, str] = {
    "e01_json_extract": E01_SQL,
    "e02_tumbling_window": E02_SQL,
    "e03_sliding_window": E03_SQL,
    "e04_sessionize": E04_SQL,
    "e05_asof_join": E05_SQL,
    "e06_dedup_first": E06_SQL,
    "e07_funnel": E07_SQL,
    "e08_interval_join": E08_SQL,
    "e09_stream_static_enrich": E09_SQL,
    "e10_gap_fill": E10_SQL,
    "e11_cohort_retention": E11_SQL,
    "e12_weekly_change": E12_SQL,
    "e13_rolling_24h": E13_SQL,
    "e14_sessions_recursive": E14_SQL,
    # e16 = e13's bounded-partition twin: same output contract, same
    # oracle (the d09/D08_SQL precedent)
    "e16_rolling_24h_bucketed": E13_SQL,
}
