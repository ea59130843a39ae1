"""Structured Streaming smoke: the batch-verified expressions stream.

The tumbling-window stream result must equal the batch twin (e02) —
same expression, two execution modes.
"""

from __future__ import annotations

from aind_smartspim_data_transformation_spark.plans.events import e02_tumbling_window
from aind_smartspim_data_transformation_spark.streaming import events_stream as es


def test_tumbling_stream_matches_batch(spark, sf_dir):
    stream = es.read_events_stream(spark, sf_dir)
    assert stream.isStreaming
    got = es.run_to_completion(es.tumbling_counts(stream), "t_tumbling")
    batch = e02_tumbling_window(spark, sf_dir)
    s_rows = sorted(map(tuple, got.collect()))
    b_rows = sorted(map(tuple, batch.collect()))
    assert s_rows == b_rows


def test_session_window_stream_runs(spark, sf_dir):
    stream = es.read_events_stream(spark, sf_dir)
    got = es.run_to_completion(es.session_windows(stream), "t_sessions")
    rows = got.collect()
    assert len(rows) > 0
    assert all(r["session_end"] >= r["session_start"] for r in rows)


def test_dedup_within_watermark_runs(spark, sf_dir):
    stream = es.read_events_stream(spark, sf_dir)
    got = es.run_to_completion(es.dedup_within_watermark(stream), "t_dedup")
    rows = got.collect()
    n_keys = len({(r["user_id"], r["event_type"]) for r in rows})
    assert len(rows) == n_keys  # at most one row per key survives


def test_sliding_stream_matches_batch(spark, sf_dir):
    from aind_smartspim_data_transformation_spark.plans.events import e03_sliding_window

    stream = es.read_events_stream(spark, sf_dir)
    got = es.run_to_completion(es.sliding_counts(stream), "t_sliding")
    batch = e03_sliding_window(spark, sf_dir)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, batch.collect()))


def test_stateful_running_totals_match_batch(spark, sf_dir):
    """applyInPandasWithState running totals == batch groupBy totals
    (single microbatch file source → final state is the full total)."""
    from pyspark.sql import functions as F

    stream = es.read_events_stream(spark, sf_dir)
    got = es.run_to_completion(
        es.running_user_totals(stream), "t_stateful", mode="update"
    )
    # keep each user's LAST emitted row (latest microbatch state)
    final = {r["user_id"]: (r["n_events"], r["total_value"]) for r in got.collect()}
    batch = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("tv"))
        .collect()
    )
    expect = {r["user_id"]: (r["n"], r["tv"]) for r in batch}
    assert final == expect


def test_foreachbatch_parquet_sink(spark, sf_dir, tmp_path):
    """Stream → foreachBatch → date-partitioned parquet, re-read equals
    the source (count + per-type sums)."""
    from pyspark.sql import functions as F

    stream = es.read_events_stream(spark, sf_dir)
    out = str(tmp_path / "events_out")
    es.write_stream_to_parquet(stream, out, str(tmp_path / "ckpt"))
    written = spark.read.parquet(out)
    src = spark.read.parquet(f"{sf_dir}/events.parquet")
    assert written.count() == src.count()
    got = {
        r["event_type"]: r["s"]
        for r in written.groupBy("event_type").agg(F.round(F.sum("value"), 2).alias("s")).collect()
    }
    expect = {
        r["event_type"]: r["s"]
        for r in src.groupBy("event_type").agg(F.round(F.sum("value"), 2).alias("s")).collect()
    }
    assert got == expect
    # partitioned layout exists
    import os
    assert any(d.startswith("event_date=") for d in os.listdir(out))


def test_stream_stream_interval_join_matches_batch(spark, sf_dir):
    """The watermarked stream-stream interval join emits exactly the
    pairs the batch e08 join produces (aggregated per user)."""
    from pyspark.sql import functions as F

    from aind_smartspim_data_transformation_spark.plans.events import (
        e08_interval_join,
    )

    stream = es.read_events_stream(spark, sf_dir)
    pairs = es.run_to_completion(
        es.click_purchase_interval_join(stream), "t_ssjoin", mode="append"
    )
    got = sorted(
        map(
            tuple,
            pairs.groupBy("user_id")
            .agg(
                F.count("*").alias("n_pairs"),
                F.round(F.sum("value"), 2).alias("attributed_value"),
            )
            .orderBy("user_id")
            .collect(),
        )
    )
    expect = sorted(map(tuple, e08_interval_join(spark, sf_dir).collect()))
    assert got == expect


def test_stream_static_enrich_matches_batch(spark, sf_dir):
    """The stream-static dim join + aggregate converges to the batch
    e09 result."""
    from aind_smartspim_data_transformation_spark.plans.events import (
        e09_stream_static_enrich,
    )

    stream = es.read_events_stream(spark, sf_dir)
    got = es.run_to_completion(
        es.enriched_purchases(stream, sf_dir), "t_enrich", mode="complete"
    )
    expect = sorted(map(tuple, e09_stream_static_enrich(spark, sf_dir).collect()))
    assert sorted(map(tuple, got.collect())) == expect


def test_watermark_drops_late_data(spark, tmp_path):
    """Watermark semantics, not just smoke: an event older than the
    watermark is DROPPED from its (already-finalized) window in append
    mode.  Batch 1 seeds window [10:00,11:00) with 2 events and advances
    the watermark to 12:00 via a 13:00 event; batch 2 then delivers a
    10:45 straggler — below the watermark, so the finalized window must
    still count 2.  This is the state-bound guarantee SCALE.md §3 relies
    on for 24/7 streams: state for closed windows is gone, late rows
    cannot resurrect it."""
    from datetime import datetime as dt

    from pyspark.sql import functions as F

    schema = "event_id long, ts timestamp, user_id long, value double"
    src = tmp_path / "late_src"
    src.mkdir()

    def drop_files(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))

    drop_files(
        [
            (1, dt(2024, 1, 1, 10, 0), 1, 1.0),
            (2, dt(2024, 1, 1, 10, 15), 1, 1.0),
            (3, dt(2024, 1, 1, 13, 0), 1, 1.0),  # advances watermark to 12:00
        ]
    )
    agg = (
        spark.readStream.schema(schema)
        .parquet(str(src))
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("w_start"), "n")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("late_demo")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: a late straggler for the 10:00 window + a fresh event
        drop_files(
            [
                (4, dt(2024, 1, 1, 10, 45), 1, 1.0),  # LATE — below watermark
                (5, dt(2024, 1, 1, 14, 0), 1, 1.0),
            ]
        )
        q.processAllAvailable()
        rows = {
            r["w_start"]: r["n"]
            for r in spark.sql("SELECT * FROM late_demo").collect()
        }
    finally:
        q.stop()
    assert rows[dt(2024, 1, 1, 10, 0)] == 2  # straggler was dropped
    assert all(n <= 2 for n in rows.values())


def test_outer_join_emits_unmatched_on_watermark(spark, tmp_path):
    """LEFT OUTER stream-stream join semantics, not just smoke: a
    converted click pairs immediately; an UN-converted click is (a)
    withheld while a matching purchase could still arrive, then (b)
    emitted exactly once with NULL purchase columns after the watermark
    passes click_ts + 30 min.  Batch 1 proves the deferral, the
    sentinel batches prove the flush."""
    from datetime import datetime as dt

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    src = tmp_path / "outer_src"
    src.mkdir()

    def drop_files(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))

    drop_files(
        [
            (1, dt(2024, 1, 1, 10, 0), 1, "click", 0.0, "{}"),
            (2, dt(2024, 1, 1, 10, 10), 1, "purchase", 42.5, "{}"),
            (3, dt(2024, 1, 1, 10, 0), 2, "click", 0.0, "{}"),  # never converts
        ]
    )
    joined = es.click_purchase_outer_join(
        spark.readStream.schema(schema).parquet(str(src))
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("outer_demo")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        rows1 = spark.sql("SELECT * FROM outer_demo").collect()
        # deferral: only the match is out; user 2 is still in state
        # (a purchase inside its 30-min window could still arrive)
        assert [(r["user_id"], r["value"]) for r in rows1] == [(1, 42.5)]
        # Sentinels must advance BOTH sides' watermarks (the join's
        # global watermark is the min across them, so right-side-only
        # sentinels would stall the clicks side forever).  Each is a
        # matched click+purchase pair — emits as a match immediately,
        # leaves nothing pending.
        drop_files(
            [
                (90, dt(2024, 1, 2, 10, 0), 90, "click", 0.0, "{}"),
                (91, dt(2024, 1, 2, 10, 5), 90, "purchase", 1.0, "{}"),
            ]
        )
        q.processAllAvailable()
        drop_files(
            [
                (92, dt(2024, 1, 3, 10, 0), 91, "click", 0.0, "{}"),
                (93, dt(2024, 1, 3, 10, 5), 91, "purchase", 1.0, "{}"),
            ]
        )
        q.processAllAvailable()
        rows2 = sorted(
            (r["user_id"], r["p_ts"], r["value"])
            for r in spark.sql("SELECT * FROM outer_demo").collect()
        )
    finally:
        q.stop()
    assert rows2 == [
        (1, dt(2024, 1, 1, 10, 10), 42.5),
        (2, None, None),  # flushed exactly once, NULL purchase side
        (90, dt(2024, 1, 2, 10, 5), 1.0),
        (91, dt(2024, 1, 3, 10, 5), 1.0),
    ]


def test_upsert_sink_latest_state_and_idempotence(spark, tmp_path):
    """The foreachBatch merge sink materializes last-writer-wins state
    per key, across microbatch boundaries; replaying the same bounded
    stream from scratch reproduces the identical table (the
    exactly-once contract a checkpoint recovery relies on)."""
    import datetime as dt

    rows = [
        # (user_id, ts, value) — user 1 updated across batches, user 2
        # updated within one batch AND hit by a LATE (older) event in
        # batch 2 that must NOT overwrite, user 3 written once
        (1, dt.datetime(2024, 1, 1, 10, 0), 10.0),
        (2, dt.datetime(2024, 1, 1, 10, 1), 20.0),
        (2, dt.datetime(2024, 1, 1, 10, 2), 21.0),
        (1, dt.datetime(2024, 1, 2, 9, 0), 11.0),
        (3, dt.datetime(2024, 1, 2, 9, 5), 30.0),
        (2, dt.datetime(2024, 1, 1, 9, 0), 19.0),  # late straggler
    ]
    schema = "user_id long, ts timestamp, value double"
    src = tmp_path / "upsert_src"
    src.mkdir()
    # two arrival files → two microbatches with maxFilesPerTrigger=1
    spark.createDataFrame(rows[:3], schema).coalesce(1).write.mode(
        "append"
    ).parquet(str(src))
    spark.createDataFrame(rows[3:], schema).coalesce(1).write.mode(
        "append"
    ).parquet(str(src))

    def run(tag: str) -> list[tuple]:
        out = str(tmp_path / f"state_{tag}")
        ckpt = str(tmp_path / f"ckpt_{tag}")
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        es.upsert_stream_to_parquet(
            stream, out, ckpt, key_cols=["user_id"], order_col="ts"
        )
        return sorted(map(tuple, spark.read.parquet(out).collect()))

    got = run("a")
    expect = sorted(
        [
            (1, dt.datetime(2024, 1, 2, 9, 0), 11.0),
            (2, dt.datetime(2024, 1, 1, 10, 2), 21.0),  # straggler lost
            (3, dt.datetime(2024, 1, 2, 9, 5), 30.0),
        ]
    )
    assert got == expect
    # replay from scratch → identical state (merge is deterministic)
    assert run("b") == got

    # crash-window recovery: state moved aside but not yet replaced
    # (the gap between the two renames) must heal on the next merge
    import os

    os.rename(
        str(tmp_path / "state_a"), str(tmp_path / "state_a") + ".old-99"
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    es.upsert_stream_to_parquet(
        stream,
        str(tmp_path / "state_a"),
        str(tmp_path / "ckpt_recover"),
        key_cols=["user_id"],
        order_col="ts",
    )
    assert sorted(map(tuple, spark.read.parquet(str(tmp_path / "state_a")).collect())) == got

    # a crash between merged.write(tmp) and the renames leaves a stale
    # tmp dir next to the state — recovery must sweep it, not leak it
    stale = tmp_path / "state_a.tmp-deadbeef"
    stale.mkdir()
    (stale / "part-orphan.parquet").write_bytes(b"junk")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    es.upsert_stream_to_parquet(
        stream,
        str(tmp_path / "state_a"),
        str(tmp_path / "ckpt_sweep"),
        key_cols=["user_id"],
        order_col="ts",
    )
    assert not stale.exists()
    assert sorted(map(tuple, spark.read.parquet(str(tmp_path / "state_a")).collect())) == got


def test_finalized_sessions_match_batch_e04(spark, sf_dir, tmp_path):
    """The event-time-timeout sessionizer: sessions split across
    microbatches continue in state, and every session is emitted
    exactly once — either proven closed by a later event or finalized
    when the watermark passes its deadline.  The finalized set must
    equal batch e04's sessions."""
    from pyspark.sql import functions as F

    from aind_smartspim_data_transformation_spark.plans.events import (
        e04_sessionize,
    )

    from aind_smartspim_data_transformation_spark.tables import load_events

    ev = load_events(spark, sf_dir).select(
        "user_id", F.col("ts").cast("timestamp").alias("ts"), "value"
    )
    mid = ev.agg(F.expr("percentile_approx(CAST(ts AS LONG), 0.5)")).collect()[0][0]
    src = tmp_path / "sess_src"
    src.mkdir()
    ev.filter(F.col("ts").cast("long") <= mid).coalesce(1).write.mode(
        "append"
    ).parquet(str(src))
    ev.filter(F.col("ts").cast("long") > mid).coalesce(1).write.mode(
        "append"
    ).parquet(str(src))
    # sentinel: advances the watermark far past every deadline so all
    # open sessions time out before the bounded stream drains
    spark.createDataFrame(
        [(999_999_999, __import__("datetime").datetime(2035, 1, 1), 0.0)],
        "user_id long, ts timestamp, value double",
    ).coalesce(1).write.mode("append").parquet(str(src))

    stream = (
        spark.readStream.schema("user_id long, ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .withWatermark("ts", "1 second")
    )
    got_df = es.run_to_completion(
        es.finalized_sessions(stream), "t_sessions_final", mode="append"
    )
    def key(r):
        return (r["user_id"], r["n_events"], r["session_start"], r["session_end"])

    got = sorted(
        (key(r), r["session_value"])
        for r in got_df.collect()
        if r["user_id"] != 999_999_999
    )
    want = sorted(
        (key(r), r["session_value"])
        for r in e04_sessionize(spark, sf_dir).collect()
    )
    # session identity exact; value within float tolerance (stream sums
    # in ts order, batch in arbitrary order — a ulp can move before the
    # half-up rounding)
    assert [k for k, _ in got] == [k for k, _ in want] and len(got) > 0
    for (_, gv), (_, wv) in zip(got, want):
        assert abs(gv - wv) < 0.011, (gv, wv)


def test_watermark_drop_metrics_surface_late_rows(spark, tmp_path):
    """The drop COUNTER (not just the drop behavior): the straggler
    from the late-data scenario must appear in
    numRowsDroppedByWatermark via watermark_drop_metrics."""
    from datetime import datetime as dt

    from pyspark.sql import functions as F

    schema = "event_id long, ts timestamp, user_id long, value double"
    src = tmp_path / "metric_src"
    src.mkdir()

    def drop_files(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))

    drop_files(
        [
            (1, dt(2024, 1, 1, 10, 0), 1, 1.0),
            (2, dt(2024, 1, 1, 13, 0), 1, 1.0),  # watermark -> 12:00
        ]
    )
    agg = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("metric_demo")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        drop_files([(3, dt(2024, 1, 1, 10, 45), 1, 1.0)])  # LATE
        q.processAllAvailable()
        m = es.watermark_drop_metrics(q)
    finally:
        q.stop()
    assert m["rows_dropped_by_watermark"] >= 1
    assert m["batches"] >= 2


def test_watermark_drop_listener_accumulates(spark, tmp_path):
    """The cumulative listener (not recentProgress's bounded ring
    buffer) must count the planted late straggler and keep counting
    across batches."""
    from datetime import datetime as dt

    from pyspark.sql import functions as F

    schema = "event_id long, ts timestamp, user_id long, value double"
    src = tmp_path / "lsrc"
    src.mkdir()

    def drop_files(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))

    drop_files([(1, dt(2024, 1, 1, 10, 0), 1, 1.0),
                (2, dt(2024, 1, 1, 13, 0), 1, 1.0)])
    listener = es.WatermarkDropListener()
    spark.streams.addListener(listener)
    try:
        agg = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
            .withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count("*").alias("n"))
        )
        q = (
            agg.writeStream.format("memory")
            .queryName("listener_demo")
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
            drop_files([(3, dt(2024, 1, 1, 10, 45), 1, 1.0)])  # LATE
            q.processAllAvailable()
            # listener events are delivered asynchronously
            import time

            qid = str(q.id)
            for _ in range(50):
                t = listener.totals.get(qid)
                if t and t["rows_dropped_by_watermark"] >= 1:
                    break
                time.sleep(0.2)
        finally:
            q.stop()
        t = listener.totals[qid]
        assert t["rows_dropped_by_watermark"] >= 1
        assert t["batches"] >= 2
    finally:
        spark.streams.removeListener(listener)


def test_windowed_hll_stream_matches_batch_n08(spark, sf_dir, tmp_path):
    """The incremental windowed HLL: registers accumulated across
    microbatches per open window, each window emitted exactly once on
    watermark close, and every estimate EQUAL to batch
    n08_windowed_hll_users' (shared hash family — hashlib and Spark
    md5 agree bit-for-bit)."""
    from pyspark.sql import functions as F

    from aind_smartspim_data_transformation_spark.plans.extras import (
        n08_windowed_hll_users,
    )
    from aind_smartspim_data_transformation_spark.tables import load_events

    ev = load_events(spark, sf_dir).select(
        F.col("ts").cast("timestamp").alias("ts"), "user_id"
    )
    mid = ev.agg(F.expr("percentile_approx(CAST(ts AS LONG), 0.5)")).collect()[0][0]
    src = tmp_path / "hll_src"
    src.mkdir()
    # two waves split mid-stream: most windows span both microbatches,
    # so the test exercises cross-batch register accumulation
    ev.filter(F.col("ts").cast("long") <= mid).coalesce(1).write.mode(
        "append"
    ).parquet(str(src))
    ev.filter(F.col("ts").cast("long") > mid).coalesce(1).write.mode(
        "append"
    ).parquet(str(src))
    spark.createDataFrame(
        [(999_999_999, __import__("datetime").datetime(2035, 1, 1))],
        "user_id long, ts timestamp",
    ).select("ts", "user_id").coalesce(1).write.mode("append").parquet(str(src))

    stream = (
        spark.readStream.schema("ts timestamp, user_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .withWatermark("ts", "1 second")
    )
    got = {
        r["w_start"]: (r["n_regs"], r["est"])
        for r in es.run_to_completion(
            es.windowed_hll_distinct(stream), "t_hll_windows", mode="append"
        ).collect()
        if r["w_start"].year < 2035
    }
    want = {
        r["w_start"]: (r["n_regs"], r["est"])
        for r in n08_windowed_hll_users(spark, sf_dir).collect()
    }
    assert len(got) > 1
    assert got == want


def test_windowed_hll_timeout_respects_session_timezone(spark, tmp_path):
    """Event-time timeouts under a NON-UTC session timezone (ADVICE r6):
    the group key arrives session-tz-naive, and treating it as UTC
    shifted every window's timeout by the zone offset — under
    America/New_York the hour-2 batch set a timeout 5 h BEHIND the
    already-advanced watermark (IllegalArgumentException) or emitted
    windows early/partial.  With the localize fix, per-window results
    are identical in any session zone."""
    import datetime

    from pyspark.sql import functions as F

    tz_saved = spark.conf.get("spark.sql.session.timeZone")
    base = datetime.datetime(2024, 3, 1, 10, 0, 0)
    rows_h0 = [(u, base + datetime.timedelta(minutes=u % 60)) for u in range(40)]
    rows_h1 = [
        (u, base + datetime.timedelta(hours=1, minutes=u % 60))
        for u in range(40, 80)
    ]
    sentinel = [(999_999_999, datetime.datetime(2035, 1, 1))]

    def run(tzname: str, subdir: str):
        spark.conf.set("spark.sql.session.timeZone", tzname)
        try:
            src = tmp_path / subdir
            src.mkdir()
            for wave in (rows_h0, rows_h1, sentinel):
                spark.createDataFrame(
                    wave, "user_id long, ts timestamp"
                ).select("ts", "user_id").coalesce(1).write.mode(
                    "append"
                ).parquet(str(src))
            stream = (
                spark.readStream.schema("ts timestamp, user_id long")
                .option("maxFilesPerTrigger", 1)
                .parquet(str(src))
                .withWatermark("ts", "1 second")
            )
            out = es.run_to_completion(
                es.windowed_hll_distinct(stream),
                f"t_hll_tz_{subdir}",
                mode="append",
            ).collect()
            return sorted(
                (str(r["w_start"]), r["n_regs"], r["est"])
                for r in out
                if r["w_start"].year < 2035
            )
        finally:
            spark.conf.set("spark.sql.session.timeZone", tz_saved)

    got_ny = run("America/New_York", "hll_ny")
    got_utc = run("UTC", "hll_utc")
    assert len(got_ny) == 2  # one row per window, no early/partial dupes
    assert got_ny == got_utc
