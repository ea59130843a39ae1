"""Events plans vs the DuckDB oracle (incl. ASOF join)."""

from __future__ import annotations

import pytest

from aind_smartspim_data_transformation_spark.plans import events
from tests.oracle import compare, run_oracle


@pytest.mark.parametrize("name", sorted(events.QUERIES))
def test_events_vs_oracle(spark, sf_dir, name):
    df = events.QUERIES[name](spark, sf_dir)
    compare(df, events.ORACLE[name], sf_dir, name)


def test_e09_dims_broadcast_no_fact_shuffle(spark, sf_dir):
    """Dim enrichment must broadcast both dims: the events fact side is
    never shuffled for the joins (only the final tiny agg exchanges)."""
    df = events.e09_stream_static_enrich(spark, sf_dir)
    df.collect()
    plan = (
        df._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("== Initial Plan ==")[0]  # final AQE plan only
    )
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan


def test_cogroup_applyinpandas_matches_join(spark, sf_dir):
    """§2.9 surface completeness: cogrouped ``applyInPandas`` — per-key
    pandas alignment of TWO tables in one shuffle each (the API for
    custom two-sided per-key logic Spark's built-ins can't express).
    The pandas body here just counts both sides, so a pure-DataFrame
    outer-join aggregate is an exact oracle for it."""
    import pandas as pd

    from pyspark.sql import functions as F

    from aind_smartspim_data_transformation_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("k"), "value"
    )
    od = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("k"), "o_totalprice"
    )

    def count_both(key, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {"k": [key[0]], "n_ev": [len(left)], "n_ord": [len(right)]}
        )

    got = {
        r["k"]: (r["n_ev"], r["n_ord"])
        for r in ev.groupBy("k")
        .cogroup(od.groupBy("k"))
        .applyInPandas(count_both, "k long, n_ev long, n_ord long")
        .collect()
    }
    ev_counts = ev.groupBy("k").agg(F.count("*").alias("n_ev"))
    od_counts = od.groupBy("k").agg(F.count("*").alias("n_ord"))
    expect = {
        r["k"]: (r["n_ev"] or 0, r["n_ord"] or 0)
        for r in ev_counts.join(od_counts, "k", "full_outer")
        .select("k", "n_ev", "n_ord")
        .collect()
    }
    assert got == expect


def test_recursive_sessions_equal_window_sessions(spark, sf_dir):
    """e14 (the chain-walk contract) returns exactly e04's window-scan
    sessions (user, start, end, event count) — two formulations, one
    contract."""
    e04 = sorted(
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in events.e04_sessionize(spark, sf_dir).collect()
    )
    e14 = sorted(
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in events.e14_sessions_recursive(spark, sf_dir).collect()
    )
    assert e14 == e04


def test_e14_build_submits_no_spark_job(spark, sf_dir):
    """Building e14 is plan construction only: no Spark job runs until
    the caller acts on the frame.  The events table is loaded first so
    its one-off schema read is not counted."""
    from aind_smartspim_data_transformation_spark.tables import load_table

    load_table(spark, sf_dir, "events")
    sc = spark.sparkContext
    group = "test-e14-build"
    sc.setJobGroup(group, "e14 build")
    try:
        events.e14_sessions_recursive(spark, sf_dir)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc.setLocalProperty("spark.job.interruptOnCancel", None)
    assert list(jobs) == []


def test_sessions_long_chain_ties_and_singletons_match_chain_walk(
    spark, tmp_path
):
    """Shapes the base fixture lacks: a session LONGER than Spark's
    100-level rCTE guard (300 same-gap events — the zipf-hot-user shape
    in miniature), same-timestamp events within one user, and
    single-event sessions.  e14 is checked against e04's window scan
    and against E14_SQL, the recursive chain walk in DuckDB."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    # user 1: one 300-event session, 10 s apart (< 1800 s gap)
    for i in range(300):
        rows.append((eid, 1, t0 + dt.timedelta(seconds=10 * i)))
        eid += 1
    # user 2: two same-timestamp events then a gap then a single event
    rows.append((eid, 2, t0)); eid += 1
    rows.append((eid, 2, t0)); eid += 1
    rows.append((eid, 2, t0 + dt.timedelta(seconds=5000))); eid += 1
    spark.createDataFrame(
        [(e, u, ts, "click", 1.0, "{}") for e, u, ts in rows],
        "event_id long, user_id long, ts timestamp, event_type string, "
        "value double, props string",
    ).coalesce(1).write.parquet(str(tmp_path / "events.parquet"))
    e04 = sorted(
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in events.e04_sessionize(spark, str(tmp_path)).collect()
    )
    e14 = sorted(
        map(
            tuple,
            events.e14_sessions_recursive(spark, str(tmp_path)).collect(),
        )
    )
    assert e14 == e04
    assert any(n == 300 for _, _, _, n in e14)  # the long chain survived
    _, oracle = run_oracle(events.E14_SQL, str(tmp_path), tables=["events"])
    assert e14 == sorted(oracle)


def test_bucketed_rolling_boundary_ties(spark, tmp_path):
    """Planted boundary fixture for e16's two delicate orderings: an
    event EXACTLY 24h before another (inclusive left boundary — must
    count) and duplicate timestamps (tie-inclusive cumulative — every
    tied row sees all its ties), both straddling a day-bucket edge."""
    import datetime as dt

    base = dt.datetime(2024, 3, 10, 0, 0, 30)  # 30 s into a UTC day
    day = dt.timedelta(hours=24)
    rows = [
        # u1: e2 at base+day, e1 exactly 24h earlier (prev bucket,
        # inclusive), e0 one µs before the frame (must NOT count)
        (1, 10, base - dt.timedelta(microseconds=1), 1.0),
        (2, 10, base, 2.0),
        (3, 10, base + day, 4.0),
        # u2: duplicate timestamps straddling nothing — tie inclusion
        (4, 20, base, 8.0),
        (5, 20, base, 16.0),
    ]
    spark.createDataFrame(
        [(e, u, t, v, "click", "{}") for (e, u, t, v) in rows],
        "event_id long, user_id long, ts timestamp, value double, "
        "event_type string, props string",
    ).coalesce(1).write.parquet(str(tmp_path / "events.parquet"))

    got = {
        (r["user_id"], r["ts"], r["n_24h"], r["sum_24h"])
        for r in events.e16_rolling_24h_bucketed(
            spark, str(tmp_path)
        ).collect()
    }
    expect = {
        (10, rows[0][2], 1, 1.0),
        (10, base, 2, 3.0),          # e0 + e1 (same bucket)
        (10, base + day, 2, 6.0),    # e1 (exactly 24h back) + e2, NOT e0
        (20, base, 2, 24.0),         # both ties see both rows
        (20, base, 2, 24.0),
    }
    assert got == expect
    # and the RANGE-frame oracle agrees on the same fixture
    _, oracle = run_oracle(events.E13_SQL, str(tmp_path), tables=["events"])
    assert set(oracle) == got


def test_bucketed_rolling_pre_epoch_and_null_values(spark, tmp_path):
    """Pins the two ADVICE-r12 latent divergences in one fixture.

    (a) Pre-1970 timestamps: with truncating ``div``, bucket 0 spans
    TWO day-widths (−24h, +24h), so e16's own-bucket cumulative counts
    events up to 48h back — the exact floor-division bucket key keeps
    the "frame spans own bucket or previous" invariant over the full
    long domain.  (b) NULL values: a frame SUM is NULL only when the
    frame holds NO non-null values, so an all-NULL own-bucket prefix
    plus a non-NULL prev-bucket window must yield the prev-bucket sum,
    and an all-NULL frame must yield NULL."""
    import datetime as dt

    rows = [
        # u10 — pre-epoch day-bucket edge: e3's 24h frame contains e2
        # but NOT e1; under truncating div all three share bucket 0 and
        # the own-cumulative overcounts e3 as 3.
        (1, 10, dt.datetime(1969, 12, 31, 0, 0, 30), 1.0),
        (2, 10, dt.datetime(1969, 12, 31, 23, 0, 0), 2.0),
        (3, 10, dt.datetime(1970, 1, 1, 1, 0, 0), 4.0),
        # u20 — NULL own-bucket prefix, non-NULL prev-bucket window
        # (crosses a day edge so s_own is NULL while s_ge is not).
        (4, 20, dt.datetime(2024, 3, 9, 23, 0, 0), 8.0),
        (5, 20, dt.datetime(2024, 3, 10, 1, 0, 0), None),
        # u30 — all-NULL frame: sum_24h must be NULL, count still 1.
        (6, 30, dt.datetime(2024, 3, 10, 12, 0, 0), None),
    ]
    spark.createDataFrame(
        [(e, u, t, v, "click", "{}") for (e, u, t, v) in rows],
        "event_id long, user_id long, ts timestamp, value double, "
        "event_type string, props string",
    ).coalesce(1).write.parquet(str(tmp_path / "events.parquet"))

    got = {
        (r["user_id"], r["ts"], r["n_24h"], r["sum_24h"])
        for r in events.e16_rolling_24h_bucketed(
            spark, str(tmp_path)
        ).collect()
    }
    expect = {
        (10, rows[0][2], 1, 1.0),
        (10, rows[1][2], 2, 3.0),
        (10, rows[2][2], 2, 6.0),   # e2 + e3 only — e1 is 24.5h back
        (20, rows[3][2], 1, 8.0),
        (20, rows[4][2], 2, 8.0),   # NULL own prefix + prev-bucket 8.0
        (30, rows[5][2], 1, None),  # all-NULL frame stays NULL
    }
    assert got == expect
    # the RANGE-frame oracle (bucket-free, null-ignoring) agrees
    _, oracle = run_oracle(events.E13_SQL, str(tmp_path), tables=["events"])
    assert set(oracle) == got


def test_e13_registered_plan_is_bucketed(spark, sf_dir):
    """r15 adoption pin (VERDICT r14 ask #1): the registered e13 must
    run the bucketed formulation — its physical plan carries NO
    sliding 24h RANGE frame (the literal frame's O(n·frame) shape) and
    DOES carry the bucketed form's cumulative frames."""
    plan = (
        events.e13_rolling_24h(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "-86400000000" not in plan  # the native RANGE frame bound
    assert "unboundedpreceding" in plan.lower()  # cumulative frames


def test_interval_join_pre_epoch_buckets(spark, tmp_path):
    """e08's 30-min bucket key must pair a pre-epoch click with a
    post-epoch purchase 20 min later (the explode-two-buckets invariant
    relies on exact floor division around zero)."""
    import datetime as dt

    rows = [
        (1, 40, dt.datetime(1969, 12, 31, 23, 50, 0), 0.0, "click"),
        (2, 40, dt.datetime(1970, 1, 1, 0, 10, 0), 5.0, "purchase"),
    ]
    spark.createDataFrame(
        [(e, u, t, v, k, "{}") for (e, u, t, v, k) in rows],
        "event_id long, user_id long, ts timestamp, value double, "
        "event_type string, props string",
    ).coalesce(1).write.parquet(str(tmp_path / "events.parquet"))
    out = events.e08_interval_join(spark, str(tmp_path)).collect()
    assert [(r["user_id"], r["n_pairs"], r["attributed_value"]) for r in out] == [
        (40, 1, 5.0)
    ]


def test_variant_props_equal_json_extract(spark, sf_dir):
    """x01 (VARIANT parse-once probe) matches e01 (per-path
    get_json_object) row for row — same contract, Spark-4-native type."""
    from aind_smartspim_data_transformation_spark.plans import extras

    a = sorted(map(tuple, events.e01_json_extract(spark, sf_dir).collect()))
    b = sorted(map(tuple, extras.x01_variant_props(spark, sf_dir).collect()))
    assert a == b


def test_recursive_sessions_duplicate_timestamps(spark, tmp_path):
    """Two events of one user at the SAME timestamp count once each in
    one session: the chain walk links on a per-user row number, and the
    running sum gives every row of a tied run one session id."""
    from datetime import datetime as dt

    rows = [
        (1, dt(2024, 1, 1, 10, 0), 7, "click", 1.0, "{}"),
        (2, dt(2024, 1, 1, 10, 0), 7, "click", 1.0, "{}"),   # tied ts
        (3, dt(2024, 1, 1, 10, 10), 7, "click", 1.0, "{}"),
        (4, dt(2024, 1, 1, 12, 0), 7, "click", 1.0, "{}"),   # new session
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(1).write.parquet(str(tmp_path / "events.parquet"))
    got = [
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in events.e14_sessions_recursive(spark, str(tmp_path)).collect()
    ]
    assert got == [
        (7, dt(2024, 1, 1, 10, 0), dt(2024, 1, 1, 10, 10), 3),
        (7, dt(2024, 1, 1, 12, 0), dt(2024, 1, 1, 12, 0), 1),
    ]
    _, oracle = run_oracle(events.E14_SQL, str(tmp_path), tables=["events"])
    assert sorted(oracle) == sorted(got)


def test_e10_gap_fill_planted_gaps_and_leading_nulls(spark, tmp_path):
    """e10 (VERDICT r10 ask #7): the sf corpora are dense enough that
    the sf-level rows rarely exercise the two edge behaviors the locf
    contract exists for — multi-day gaps carrying the LAST observation
    forward, and a user whose first event postdates the global d0
    (leading grid days have NOTHING to carry: filled_value NULL, not
    0).  Plant both, plus a %10-excluded user who must not widen the
    bounds, and hold the result to the DuckDB oracle."""
    from datetime import date, datetime as dt

    import duckdb

    rows = [
        # user 0: events on day 1 and day 5 — days 2-4 are a gap
        (1, dt(2024, 1, 1, 10, 0), 0, "click", 1.5, "{}"),
        (2, dt(2024, 1, 5, 9, 30), 0, "click", 2.5, "{}"),
        # user 10: first event on day 3 — days 1-2 are a LEADING gap
        (3, dt(2024, 1, 3, 8, 0), 10, "view", 7.0, "{}"),
        # user 3: fails user_id % 10 == 0 — excluded, even though its
        # event (day 7) would otherwise stretch d1
        (4, dt(2024, 1, 7, 8, 0), 3, "view", 9.0, "{}"),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(1).write.parquet(str(tmp_path / "events.parquet"))

    got = events.e10_gap_fill(spark, str(tmp_path)).collect()
    # bounds come from the FILTERED set: 5 grid days × 2 users
    assert len(got) == 10
    by_key = {(r["user_id"], r["day"]): r for r in got}
    assert set(by_key) == {
        (u, date(2024, 1, d)) for u in (0, 10) for d in range(1, 6)
    }
    # user 0: gap days carry 1.5 forward; day 5 switches to 2.5
    for d in (2, 3, 4):
        r = by_key[(0, date(2024, 1, d))]
        assert r["n_events"] == 0 and r["filled_value"] == 1.5
    assert by_key[(0, date(2024, 1, 5))]["filled_value"] == 2.5
    # user 10: leading days have nothing to carry — NULL, never 0.0
    for d in (1, 2):
        r = by_key[(10, date(2024, 1, d))]
        assert r["n_events"] == 0 and r["filled_value"] is None
    for d in (3, 4, 5):
        assert by_key[(10, date(2024, 1, d))]["filled_value"] == 7.0

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{tmp_path}/events.parquet/*.parquet')"
    )
    oracle = con.execute(events.ORACLE["e10_gap_fill"]).fetchall()
    assert sorted(
        (r["user_id"], r["day"], r["n_events"], r["filled_value"])
        for r in got
    ) == sorted(map(tuple, oracle))
