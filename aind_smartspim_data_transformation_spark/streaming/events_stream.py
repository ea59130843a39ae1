"""Structured Streaming twins of the events-table expressions.

SURVEY.md §2.10: the reference is batch-only; the [driver-ext] streaming
surface runs the SAME aggregation expressions under ``readStream`` —
tumbling windows with watermarks, sliding windows, session windows, and
watermarked stateful dedup.  The batch twins in plans/events.py are
what the DuckDB oracle verifies; these functions prove the expressions
stream (smoke-tested with a file source + memory sink, driven to
completion with ``processAllAvailable``).

Depending on the testdata generation, the parquet ts column is either
TIMESTAMP(NANOS) — which the streaming parquet reader rejects, so the
stream source reads nanos as long and converts exactly like
tables.load_events — or a plain timestamp[us] that reads natively.  The
source probes the batch footer schema once to pick the right shape.

Scale posture: these are the operators a production events pipeline
runs 24/7 — watermark bounds state; session_window/dropDuplicates state
is per-key and pruned at watermark.  Sink would be kafka/delta; memory
sink is the test harness.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window
from pyspark.sql.streaming import (
    StreamingQueryListener as _SQL_LISTENER_BASE,
)

def _events_schema(ts_type: T.DataType) -> T.StructType:
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Footer probe (metadata only, no data scan) to decide the ts shape.
    batch_ts = dict(spark.read.parquet(f"{sf_dir}/events.parquet").dtypes)["ts"]
    nanos_as_long = batch_ts in ("bigint", "long")
    ts_type = T.LongType() if nanos_as_long else T.TimestampNTZType()
    raw = (
        spark.readStream.schema(_events_schema(ts_type))
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if nanos_as_long:
        raw = raw.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    else:
        # NTZ→LTZ is wall-clock identity under the pinned-UTC session TZ;
        # keeps the stream's ts type identical to tables.load_events.
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def tumbling_counts(events: DataFrame) -> DataFrame:
    """Streaming twin of e02: 1-hour tumbling windows, 2-hour watermark."""
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("w.start").alias("w_start"), "event_type", "n", "sum_value")
    )


def sliding_counts(events: DataFrame) -> DataFrame:
    """Streaming twin of e03: 1-hour windows sliding every 30 minutes."""
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("w.start").alias("w_start"), "n", "sum_value")
    )


def session_windows(events: DataFrame) -> DataFrame:
    """Native session_window form of e04 (30-minute gap)."""
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("session_value"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "session_value",
        )
    )


def dedup_within_watermark(events: DataFrame) -> DataFrame:
    """Watermarked stateful dedup on (user_id, event_type)."""
    return events.withWatermark("ts", "2 hours").dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    )


def enriched_purchases(events: DataFrame, sf_dir: str) -> DataFrame:
    """Streaming twin of e09: stream-static dim enrichment + aggregate.

    The static (batch) side of a stream-static join needs no watermark
    and holds no join state — Spark broadcasts/rescans it per
    microbatch.  Only the aggregation keeps state (one row per nation).
    """
    spark = events.sparkSession
    cust = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .select(F.col("c_custkey").alias("user_id"), "c_nationkey")
    )
    nation = (
        spark.read.parquet(f"{sf_dir}/nation.parquet")
        .select(F.col("n_nationkey").alias("c_nationkey"), "n_name")
    )
    return (
        # No forced hint on the SF-scaling customer dim: each microbatch
        # re-plans, so the planner broadcasts it while it fits and falls
        # back to a per-batch shuffle join when it doesn't; nation (25
        # rows) keeps its hint.
        events.filter(F.col("event_type") == "purchase")
        .join(cust, "user_id")
        .join(F.broadcast(nation), "c_nationkey")
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_purchases"),
            F.round(F.sum("value"), 2).alias("revenue"),
        )
    )


def click_purchase_interval_join(events: DataFrame, how: str = "inner") -> DataFrame:
    """Streaming twin of e08: watermarked stream-stream interval join.

    Both sides carry a watermark and the join condition bounds the
    event-time gap to [0, 30 min) — the two requirements that let Spark
    expire buffered join state (without them an inner stream-stream
    join must hold every row forever).  State per side is bounded by
    watermark + range: a click can only ever match purchases up to
    30 minutes after it, so rows older than watermark + 30 min are
    dropped from the buffer.

    ``how="left_outer"`` adds the deferred-NULL semantics an
    attribution pipeline needs: an unmatched click is HELD in state
    until the watermark proves no purchase can still arrive inside its
    30-minute window, then emitted exactly once with NULL purchase
    columns (see :func:`click_purchase_outer_join`).

    SKEW posture (SCALE.md §6o): batch e08 moved its equi-key to
    (user_id, 30-min bucket) because a hot user turns a key group into
    a nested loop over the user's WHOLE history.  This twin keeps the
    plain user_id key deliberately: stream-stream join state is already
    time-bounded by watermark + range, so a hot key's per-row match
    work is capped at its ~2.5 h of buffered rows — the time window is
    in the STATE EXPIRY here, where batch had to put it in the key.
    """
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select("user_id", F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            "value",
        )
        .withWatermark("p_ts", "2 hours")
    )
    return clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("click_ts"))
        & (F.col("p_ts") < F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")),
        how,
    ).select("user_id", "click_ts", "p_ts", "value")


def click_purchase_outer_join(events: DataFrame) -> DataFrame:
    """LEFT OUTER watermarked stream-stream join: converted clicks pair
    with their purchase; un-converted clicks surface once, with NULL
    purchase columns, only after the watermark passes click_ts + 30 min
    (before that a matching purchase could still arrive, so emitting
    early would be wrong — this deferral is the semantic difference
    from a batch left join)."""
    return click_purchase_interval_join(events, how="left_outer")


def running_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: running
    per-user (n_events, total_value), emitted each microbatch.

    This is the escape hatch for stateful logic the built-in windowed
    aggregations can't express (SURVEY.md §2.10); state is per-key and
    lives in the state store — at scale it is bounded by active users,
    and a production job would add a timeout to expire idle keys.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = "user_id long, n_events long, total_value double"
    state_schema = "n long, total double"

    def _update(key, pdfs, state):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 2)]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        _update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def finalized_sessions(events: DataFrame, gap_sec: int = 1800) -> DataFrame:
    """Sessionization as a CUSTOM stateful operator with EVENT-TIME
    TIMEOUTS — the pattern the built-in ``session_window`` cannot
    express when the per-session output needs custom finalization
    logic: a session row is emitted exactly once, either when a later
    event proves the gap (> gap_sec) or when the WATERMARK passes the
    session's deadline (``state.hasTimedOut``) — so idle users' state
    is reclaimed and the stream emits complete sessions, not updates.

    State per user: (start, last, n, total) + a timeout registered at
    last + gap.  Scale posture: state is O(active users), the timeout
    sweep is the state store's own expiry scan, and emission is
    append-mode (downstream sinks see each session once).  Requires a
    watermark on ``ts`` (event-time timeouts fire as the watermark
    advances).

    Gap semantics match batch e04 exactly: gaps compare in WHOLE
    SECONDS (e04's ``ts.cast("long")`` truncation — a 1800.8 s
    microsecond gap is 1800 whole seconds, NOT a split), so stream and
    batch agree at the boundary for any timestamp distribution.

    Ordering contract: exact e04 parity holds when each user's events
    arrive in non-decreasing ts order across microbatches (file/ledger
    sources).  Bounded out-of-order arrivals (within the watermark) are
    handled best-effort: an event landing within the open session's
    gap envelope extends it on EITHER end (start min-updates, end
    max-updates); an event more than a gap OLDER than the open
    session's start is emitted as its own closed session (nothing
    older can join it — anything further back is beyond the
    watermark).  A global-sort replay (e04) remains the batch truth.

    tests/test_streaming.py drives a multi-microbatch bounded stream
    (with a far-future sentinel advancing the watermark) and asserts
    the finalized sessions equal batch e04's, session for session.
    """
    from decimal import ROUND_HALF_UP, Decimal

    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    # Arrow hands the kernel tz-NAIVE timestamps in the SESSION zone;
    # setTimeoutTimestamp wants true epoch millis.  Localize with the
    # session zone captured at plan time — treating the naive value as
    # UTC (the old code) shifted every timeout by the zone offset under
    # a non-UTC spark.sql.session.timeZone (ADVICE r6).  ambiguous/
    # nonexistent handling keeps the kernel total through DST folds.
    tz = events.sparkSession.conf.get("spark.sql.session.timeZone")

    def _epoch_ms(naive_ts: "pd.Timestamp") -> int:
        return (
            naive_ts.tz_localize(
                tz, ambiguous=True, nonexistent="shift_forward"
            ).value
            // 1_000_000
        )

    out_schema = (
        "user_id long, n_events long, session_start timestamp, "
        "session_end timestamp, session_value double"
    )
    state_schema = "start long, last long, n long, total double"

    def _round2(total: float) -> float:
        # Spark's round() is HALF_UP; Python's round() is banker's —
        # match the engine so cent boundaries agree.
        return float(
            Decimal(repr(total)).quantize(Decimal("0.01"), ROUND_HALF_UP)
        )

    def _finalize(user_id, start_us, last_us, n, total):
        return pd.DataFrame(
            {
                "user_id": [user_id],
                "n_events": [n],
                "session_start": [pd.Timestamp(start_us, unit="us")],
                "session_end": [pd.Timestamp(last_us, unit="us")],
                "session_value": [_round2(total)],
            }
        )

    def _gap_exceeded(a_us: int, b_us: int) -> bool:
        # whole-second truncation on both operands, exactly as
        # e04's cast("long") subtraction
        return abs(b_us // 1_000_000 - a_us // 1_000_000) > gap_sec

    def _update(key, pdfs, state):
        user_id = key[0]
        if state.hasTimedOut:
            start, last, n, total = state.get
            state.remove()
            yield _finalize(user_id, start, last, n, total)
            return
        rows = pd.concat(list(pdfs), ignore_index=True).sort_values("ts")
        cur = list(state.get) if state.exists else None
        for ts, value in zip(rows["ts"], rows["value"]):
            ts_us = int(ts.value // 1000)  # pandas ns → µs
            if cur is None:
                cur = [ts_us, ts_us, 0, 0.0]
            elif ts_us > cur[1] and _gap_exceeded(cur[1], ts_us):
                # later than the session and beyond the gap: close it
                yield _finalize(user_id, cur[0], cur[1], cur[2], cur[3])
                cur = [ts_us, ts_us, 0, 0.0]
            elif ts_us < cur[0] and _gap_exceeded(ts_us, cur[0]):
                # an out-of-order straggler predating the open session
                # by more than a gap — a closed session of its own
                yield _finalize(user_id, ts_us, ts_us, 1, float(value))
                continue
            cur[0] = min(cur[0], ts_us)
            cur[1] = max(cur[1], ts_us)
            cur[2] += 1
            cur[3] += float(value)
        state.update(tuple(cur))
        # deadline in true epoch ms: fires when the WATERMARK passes
        # session_end + gap (session_end is session-tz naive µs)
        state.setTimeoutTimestamp(
            _epoch_ms(pd.Timestamp(cur[1], unit="us")) + gap_sec * 1000
        )

    return events.groupBy("user_id").applyInPandasWithState(
        _update,
        out_schema,
        state_schema,
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )


def windowed_hll_distinct(events: DataFrame) -> DataFrame:
    """Per-tumbling-window DISTINCT-USER estimate as an INCREMENTAL
    HyperLogLog — the streaming twin of batch n08_windowed_hll_users
    (plans/extras.py): state per open window is the fixed 256-byte
    register array (NOT the user set — a billion distinct users per
    window costs the same 256 bytes), updated with each microbatch and
    emitted EXACTLY ONCE when the watermark passes the window end
    (event-time timeout, append mode).

    Hash parity: the registers use the repo's md5-lane family
    (operators/sketch.py) computed here via hashlib on
    ``str(user_id)`` — bit-identical to Spark's
    ``md5(cast(user_id AS string))`` and DuckDB's ``md5(::VARCHAR)``,
    so the stream's integer estimates equal the batch/oracle ones
    exactly (asserted in tests/test_streaming.py).

    This is the production shape for streaming cardinality: built-in
    ``approx_count_distinct`` works under windows too, but its HLL++
    sketch is opaque — this operator's registers are the SAME sketch
    the batch pipeline (x04/n08) and any external consumer can merge
    by max(), giving stream↔batch mergeability, not just parity.

    Requires ``withWatermark("ts", ...)`` upstream.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    from aind_smartspim_data_transformation_spark.operators.sketch import (
        HLL_M,
        HLL_NUM,
    )

    out_schema = "w_start timestamp, n_regs long, est long"
    state_schema = "regs binary"

    # group keys arrive tz-naive in the SESSION zone; the event-time
    # timeout needs true epoch ms (see finalized_sessions — same fix)
    tz = events.sparkSession.conf.get("spark.sql.session.timeZone")

    def _estimate(regs: bytes) -> tuple[int, int]:
        s = 0
        n_regs = 0
        for r in regs:
            if r:
                n_regs += 1
                s += 1 << (32 - r)
            else:
                s += 1 << 32
        return n_regs, HLL_NUM // (1000 * s)

    def _update(key, pdfs, state):
        import hashlib

        w_start = pd.Timestamp(key[0])  # group key: the window start
        if state.hasTimedOut:
            (regs,) = state.get
            state.remove()
            n_regs, est = _estimate(regs)
            yield pd.DataFrame(
                {
                    "w_start": [w_start],
                    "n_regs": [n_regs],
                    "est": [est],
                }
            )
            return
        regs = bytearray(state.get[0]) if state.exists else bytearray(HLL_M)
        for uid in pdfs_users(pdfs):
            h = int(hashlib.md5(uid.encode()).hexdigest()[:8], 16)
            bucket, v = h % HLL_M, h // HLL_M
            rho = 25 if v == 0 else 25 - v.bit_length()
            if rho > regs[bucket]:
                regs[bucket] = rho
        state.update((bytes(regs),))
        # fire when the watermark passes the window end (1-hour windows,
        # matching the date_trunc("hour") key below); localize the
        # session-tz-naive key before taking the epoch
        state.setTimeoutTimestamp(
            w_start.tz_localize(
                tz, ambiguous=True, nonexistent="shift_forward"
            ).value
            // 1_000_000
            + 3_600_000
        )

    def pdfs_users(pdfs):
        for pdf in pdfs:
            for uid in pdf["user_id"]:
                yield str(int(uid))

    keyed = events.select(
        F.date_trunc("hour", "ts").alias("w_start"), "user_id", "ts"
    )
    return keyed.groupBy("w_start").applyInPandasWithState(
        _update,
        out_schema,
        state_schema,
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )


def write_stream_to_parquet(
    stream_df: DataFrame, out_dir: str, checkpoint_dir: str
) -> None:
    """Production-shaped sink: ``foreachBatch`` appends each microbatch
    to a date-partitioned parquet table (exactly-once per batch via the
    checkpointed batch id).  On a cluster the same function body writes
    to a Delta/Iceberg table or s3a:// path — foreachBatch is the
    idiomatic bridge from a stream to any batch writer.
    """

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("event_date", F.to_date("ts"))
            .write.mode("append")
            .partitionBy("event_date")
            .parquet(out_dir)
        )

    q = (
        stream_df.writeStream.foreachBatch(_write)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def upsert_stream_to_parquet(
    stream_df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    key_cols: list[str],
    order_col: str,
) -> None:
    """CDC-style latest-state materialization: each microbatch MERGES
    into the keyed table — new keys insert, existing keys take the row
    with the larger ``order_col`` (last-writer-wins).  The foreachBatch
    body is a plain batch job, so the merge is the standard
    anti-join + union + atomic-swap rewrite; on a cluster the same body
    is one ``MERGE INTO`` against a Delta/Iceberg table and only the
    touched files rewrite.

    Idempotence (the exactly-once contract): replaying a microbatch
    reproduces the same table because the merge is a pure function of
    (current table, batch content) — asserted in
    tests/test_streaming.py by running the same bounded stream twice.
    That requires DETERMINISTIC winners: ordering is (order_col desc,
    incoming-beats-current, xxhash64-of-row desc) so a late-arriving
    OLDER event never overwrites newer state, and rows tying on
    (key, order_col) resolve by content, not by task scheduling.

    Scale posture: the batch side is small (one microbatch); the state
    table is the big side.  The rank keys on ``key_cols`` — with the
    table bucketed by key, only matching buckets shuffle; a format
    with merge-on-read (Iceberg) drops the rewrite entirely.  The
    directory swap is two renames, NOT atomic — ``_recover`` heals the
    crash window (state moved aside but not yet replaced) on the next
    batch; the single-writer guarantee comes from the streaming query
    itself (one driver owns the checkpoint).
    """
    import glob
    import os
    import shutil
    import tempfile

    def _recover() -> None:
        # Crash between rename(out, old) and rename(tmp, out) leaves
        # the state only in .old-<id>; restore the newest one.
        if not os.path.isdir(out_dir):
            olds = sorted(glob.glob(out_dir + ".old-*"))
            if olds:
                os.rename(olds[-1], out_dir)
        for stale in glob.glob(out_dir + ".old-*"):
            shutil.rmtree(stale, ignore_errors=True)
        # A crash between merged.write(tmp) and the renames would leak
        # the tmp dir forever — it carries a recognizable prefix so
        # recovery can sweep it (out_dir itself never matches).
        for stale in glob.glob(out_dir + ".tmp-*"):
            shutil.rmtree(stale, ignore_errors=True)

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        _recover()
        cols = batch_df.columns
        incoming = batch_df.withColumn("_src", F.lit(1))
        if os.path.isdir(out_dir):
            current = spark.read.parquet(out_dir).withColumn("_src", F.lit(0))
            combined = current.unionByName(incoming)
        else:
            combined = incoming
        # winner per key: largest order_col; incoming beats current on
        # an order_col tie (last WRITER wins); same-source ties resolve
        # by row-content hash — deterministic under replay.
        w = Window.partitionBy(*key_cols).orderBy(
            F.desc(order_col), F.desc("_src"), F.desc(F.xxhash64(*cols))
        )
        merged = (
            combined.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "_src")
        )
        tmp = tempfile.mkdtemp(
            prefix=os.path.basename(out_dir) + ".tmp-",
            dir=os.path.dirname(out_dir) or ".",
        )
        merged.write.mode("overwrite").parquet(tmp)
        old = out_dir + f".old-{batch_id}"
        if os.path.isdir(out_dir):
            os.rename(out_dir, old)
        os.rename(tmp, out_dir)
        shutil.rmtree(old, ignore_errors=True)

    q = (
        stream_df.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def run_to_completion(
    stream_df: DataFrame, name: str, mode: str | None = None
) -> DataFrame:
    """Drive a bounded file-source stream to completion via a memory
    sink; returns the materialized result as a batch DataFrame."""
    if mode is None:
        mode = "complete" if _has_agg(stream_df) else "append"
    q = (
        stream_df.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return stream_df.sparkSession.sql(f"SELECT * FROM {name}")


def _has_agg(df: DataFrame) -> bool:
    return "Aggregate" in df._jdf.queryExecution().analyzed().toString()


def watermark_drop_metrics(query) -> dict:
    """Operational observability for 24/7 streams: aggregate the
    watermark/state counters a pipeline ALERTS on from a streaming
    query's progress history.

    Returns {"rows_dropped_by_watermark", "state_rows", "batches"} —
    summed ``numRowsDroppedByWatermark`` and last ``numRowsTotal``
    across state operators.  Late rows silently vanish by DESIGN
    (tests/test_streaming.py::test_watermark_drops_late_data proves
    the semantics); this makes the drop COUNT visible so a data-loss
    regression (e.g. an upstream clock skew pushing events behind the
    watermark) pages someone instead of shrinking the corpus quietly.
    Reads ``recentProgress`` — no extra action, no second stream.
    CAVEAT: ``recentProgress`` is a bounded ring buffer
    (``spark.sql.streaming.numRecentProgressUpdates``, default 100), so
    on a 24/7 stream this is a point-in-time window, not a lifetime
    counter — old drops silently age out.  For cumulative alerting
    attach :class:`WatermarkDropListener` instead, which accumulates
    per-query totals across every progress event.
    """
    dropped = 0
    state_rows = 0
    batches = 0
    for p in query.recentProgress:
        batches += 1
        ops = (p or {}).get("stateOperators") or []
        for op in ops:
            dropped += int(op.get("numRowsDroppedByWatermark", 0) or 0)
        if ops:
            state_rows = sum(int(op.get("numRowsTotal", 0) or 0) for op in ops)
    return {
        "rows_dropped_by_watermark": dropped,
        "state_rows": state_rows,
        "batches": batches,
    }


class WatermarkDropListener(_SQL_LISTENER_BASE):
    """Cumulative watermark/state counters for 24/7 alerting.

    Register with ``spark.streams.addListener``: accumulates
    ``numRowsDroppedByWatermark`` per query across EVERY progress
    event — unlike ``recentProgress``, nothing ages out of a ring
    buffer.  ``totals[query_id] = {"rows_dropped_by_watermark",
    "batches"}``.
    """

    def __init__(self):
        self.totals: dict[str, dict] = {}

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        import json as _json

        p = _json.loads(event.progress.json)
        t = self.totals.setdefault(
            p["id"], {"rows_dropped_by_watermark": 0, "batches": 0}
        )
        t["batches"] += 1
        for op in p.get("stateOperators") or []:
            t["rows_dropped_by_watermark"] += int(
                op.get("numRowsDroppedByWatermark", 0) or 0
            )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass
