"""Declared streaming queries (SURVEY.md §2.10) — every entry that can be
SQL-verified runs the REAL streaming path (readStream → availableNow →
memory sink) and is checked against the batch-form DuckDB oracle; window
semantics (tumble/slide/session) also get batch-mode entries so the window
operators themselves are oracle-verified independent of the streaming runtime.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sql4pandas_spark.queries.catalog import query
from sql4pandas_spark.sources.parquet import register_tables
from sql4pandas_spark.streaming.windows import (
    read_events_stream,
    run_available_now,
    run_foreach_batch_parquet,
    session_windows_10m,
    sliding_30m,
    tumbling_hourly,
    watermarked_hourly,
)

_HOURLY_ORACLE = """
    SELECT date_trunc('hour', ts) AS w, event_type, count(*) AS n,
           round(sum(value), 2) AS v
    FROM events GROUP BY 1, 2 ORDER BY 1, 2
"""


@query(
    "events_hourly",
    oracle=_HOURLY_ORACLE,
    tags=("tier-c", "stream_tumble", "batch_form", "bench"),
)
def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling windows, batch mode. Uses date_trunc rather than F.window:
    for 1 h tumbling windows the truncated hour IS window.start, and skipping
    the window-struct construction is ~30% cheaper (measured at sf0.1). The
    streaming entry (stream_tumble_hourly) keeps the real F.window operator."""
    t = register_tables(spark, sf_dir, ("events",))
    return (
        t["events"]
        .groupBy(F.date_trunc("hour", "ts").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("v"))
        .orderBy("w", "event_type")
    )


@query(
    "stream_tumble_hourly",
    oracle=_HOURLY_ORACLE,
    tags=("tier-c", "stream_tumble", "scan_stream"),
)
def stream_tumble_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming tumbling agg: readStream → availableNow → memory sink,
    complete mode. Result must equal the batch oracle (batch-equivalence)."""
    events = read_events_stream(spark, sf_dir)
    return run_available_now(tumbling_hourly(events), mode="complete").orderBy(
        "w", "event_type"
    )


@query(
    "stream_watermark_hourly",
    oracle="""
    SELECT date_trunc('hour', ts) AS w, event_type, count(*) AS n
    FROM events GROUP BY 1, 2 ORDER BY 1, 2
    """,
    tags=("tier-c", "stream_watermark", "scan_stream"),
)
def stream_watermark_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked streaming agg (update mode). The fixture has no late data,
    so the drained result equals the batch form; the late-row-drop semantics
    are exercised in tests/test_streaming.py with injected late rows."""
    events = read_events_stream(spark, sf_dir)
    return run_available_now(watermarked_hourly(events), mode="update").orderBy(
        "w", "event_type"
    )


@query(
    "events_sliding_30m",
    oracle="""
    WITH e AS (
      SELECT event_type, value, ts,
             date_trunc('hour', ts)
               + CASE WHEN extract('minute' FROM ts) >= 30
                      THEN INTERVAL 30 MINUTE ELSE INTERVAL 0 SECOND END AS s0
      FROM events)
    SELECT w_start, event_type, count(*) AS n, round(sum(value), 2) AS v
    FROM (SELECT event_type, value, ts,
                 unnest([s0, s0 - INTERVAL 30 MINUTE]) AS w_start
          FROM e) x
    WHERE ts >= w_start AND ts < w_start + INTERVAL 60 MINUTE
    GROUP BY w_start, event_type ORDER BY w_start, event_type
    """,
    tags=("tier-c", "stream_slide", "batch_form"),
)
def events_sliding_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (1 h / 30 min) — each event in exactly 2 windows; the
    oracle materializes both candidate starts per event and filters."""
    t = register_tables(spark, sf_dir, ("events",))
    return sliding_30m(t["events"]).orderBy("w_start", "event_type")


#: gap-based sessions in SQL: a new session (``sid``) starts per user when
#: the gap to the previous event is >= 10 min (lag + cumulative sum)
_SESSIONS_CTES = """
    WITH g AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w >= INTERVAL 10 MINUTE
                  THEN 1 ELSE 0 END AS brk
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
    s AS (
      SELECT user_id, ts,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM g)"""


@query(
    "events_session_windows",
    oracle=_SESSIONS_CTES + """
    SELECT user_id, min(ts) AS s_start, max(ts) + INTERVAL 10 MINUTE AS s_end,
           count(*) AS n
    FROM s GROUP BY user_id, sid ORDER BY user_id, s_start
    """,
    tags=("tier-c", "stream_session", "batch_form"),
)
def events_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based session windows (batch mode — session_window works on static
    frames; the streaming variant is exercised in tests). The oracle rebuilds
    sessions with lag + cumulative-sum: a new session starts when the gap to
    the previous event is >= 10 min, end = last event + gap."""
    t = register_tables(spark, sf_dir, ("events",))
    return session_windows_10m(t["events"]).orderBy("user_id", "s_start")


@query(
    "stream_stateful_user_counts",
    oracle="""
    SELECT user_id, count(*) AS n_events, max(ts) AS last_ts
    FROM events GROUP BY user_id ORDER BY user_id
    """,
    tags=("tier-c", "stream_stateful", "scan_stream"),
)
def stream_stateful_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary stateful processing: applyInPandasWithState keeps a per-user
    (count, last_ts) state across micro-batches and emits the running totals
    each batch. Drained with availableNow over one fixture file → the final
    emission equals the batch aggregate, which DuckDB verifies."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    events = read_events_stream(spark, sf_dir).select("user_id", "ts")

    def track(key, pdfs, state: GroupState):
        n, last_us = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            if len(pdf):
                # pandas datetime64[us/ns] → int µs since epoch (state must be
                # simple types)
                mx = int(pd.Timestamp(pdf["ts"].max()).value // 1000)
                last_us = max(last_us, mx)
        state.update((n, last_us))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "last_ts": [pd.Timestamp(last_us * 1000)],
            }
        )

    result = events.groupBy("user_id").applyInPandasWithState(
        track,
        outputStructType="user_id long, n_events long, last_ts timestamp",
        stateStructType="n long, last_us long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return run_available_now(result, mode="update").orderBy("user_id")


@query(
    "stream_stateful_sessions",
    oracle=_SESSIONS_CTES + """,
    agg AS (
      SELECT user_id, sid, min(ts) AS s_start,
             max(ts) + INTERVAL 10 MINUTE AS s_end, count(*) AS n
      FROM s GROUP BY user_id, sid),
    wm AS (SELECT max(ts) - INTERVAL 1 MINUTE AS w FROM events)
    SELECT user_id, s_start, s_end, n
    FROM agg, wm
    WHERE sid < (SELECT max(sid) FROM agg a2 WHERE a2.user_id = agg.user_id)
       OR s_end < w
    ORDER BY user_id, s_start
    """,
    tags=("tier-c", "stream_stateful", "stream_session", "scan_stream"),
)
def stream_stateful_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time-timeout sessionization (streaming/stateful.py): the
    custom-stateful form of session windows, applyInPandasWithState with
    GroupStateTimeout.EventTimeTimeout. Drained availableNow over the one
    fixture file: every data-closed session emits in the data batch, and
    the final no-data flush batch (measured semantics, documented in the
    operator module) additionally times out every still-open session whose
    close time sits below the final watermark (global max ts − 1 min delay).
    The oracle encodes exactly that union: lag + cumulative-sum sessions
    where the session is not the user's last (data-closed) OR
    ``s_end < max(ts) − 1 min`` (flush-batch timeout). The cross-batch
    timeout path is pinned by tests/test_stateful_sessions.py."""
    from sql4pandas_spark.streaming.stateful import sessionize_stateful

    events = (
        read_events_stream(spark, sf_dir)
        .select("user_id", "ts")
        .withWatermark("ts", "1 minute")
    )
    return run_available_now(
        sessionize_stateful(events, gap_minutes=10), mode="append"
    ).orderBy("user_id", "s_start")


def _time_spine(ev: DataFrame, step: str) -> DataFrame:
    """Every ``step`` from the hour of the first event to the hour of the
    last, as column ``w``: sequence()+explode, one row in, n out."""
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    return bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr(step))).alias("w")
    )


@query(
    "gapfill_hourly_counts",
    oracle="""
    WITH b AS (SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
               FROM events),
    spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS w FROM b),
    agg AS (SELECT date_trunc('hour', ts) AS w, count(*) AS n FROM events GROUP BY 1)
    SELECT s.w, coalesce(a.n, 0) AS n
    FROM spine s LEFT JOIN agg a ON s.w = a.w ORDER BY s.w
    """,
    tags=("tier-c", "timeseries", "gapfill"),
)
def gapfill_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-spine gap filling: generate the full hourly spine with
    sequence()+explode (one row in, n out — no driver loop), left-join the
    hourly aggregate, fill missing hours with 0. The spine build is O(range)
    independent of data volume, so it costs the same at 100 TB; the join is
    a broadcast of the (tiny) spine. Injected-gap semantics asserted in
    tests/test_streaming.py."""
    t = register_tables(spark, sf_dir, ("events",))
    ev = t["events"]
    spine = _time_spine(ev, "interval 1 hour")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("w")).agg(
        F.count(F.lit(1)).alias("n")
    )
    return (
        spine.join(hourly, "w", "left")
        .select("w", F.coalesce("n", F.lit(0).cast("long")).alias("n"))
        .orderBy("w")
    )


@query(
    "gapfill_interpolate_15m",
    oracle="""
    WITH b AS (SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
               FROM events),
    spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 15 MINUTE)) AS w FROM b),
    types AS (SELECT DISTINCT event_type FROM events),
    grid AS (SELECT t.event_type, s.w FROM types t CROSS JOIN spine s),
    agg AS (SELECT event_type, date_trunc('minute', ts) - INTERVAL (minute(ts) % 15) MINUTE AS w,
                   CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS v
            FROM events GROUP BY 1, 2),
    series AS (SELECT g.event_type, g.w, a.v FROM grid g
               LEFT JOIN agg a ON a.event_type = g.event_type AND a.w = g.w),
    marked AS (
      SELECT event_type, w, v,
             last_value(CASE WHEN v IS NOT NULL THEN {'t': epoch(w), 'v': v} END IGNORE NULLS)
               OVER (PARTITION BY event_type ORDER BY w
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev,
             first_value(CASE WHEN v IS NOT NULL THEN {'t': epoch(w), 'v': v} END IGNORE NULLS)
               OVER (PARTITION BY event_type ORDER BY w
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nxt
      FROM series)
    SELECT event_type, w, v IS NOT NULL AS observed,
           floor((CASE
             WHEN v IS NOT NULL THEN v
             WHEN prev IS NULL OR nxt IS NULL THEN NULL
             ELSE prev.v + (nxt.v - prev.v) * (epoch(w) - prev.t) / (nxt.t - prev.t)
           END) * 10000) / 10000 AS v_interp
    FROM marked ORDER BY event_type, w
    """,
    tags=("tier-c", "timeseries", "gapfill", "interpolate"),
)
def gapfill_interpolate_15m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series linear interpolation over a gapfilled grid — the
    hypertable-style `interpolate()` companion to gapfill: 15-minute
    per-event-type buckets (sparse at small SFs, so gaps are real), empty
    buckets get the linear blend of the nearest observed neighbors,
    leading/trailing gaps stay NULL.

    The neighbor search is two windows — last(non-null (t,v)) looking back,
    first(non-null (t,v)) looking forward — ONE shuffle on event_type, no
    self-join, no per-gap iteration; DuckDB replays the identical windows
    (IGNORE NULLS structs), so every interpolated value hash-matches.
    Bucket means use the exact-decimal-sum / count discipline (q22) so both
    engines feed bit-identical doubles into the blend."""
    from pyspark.sql import Window

    t = register_tables(spark, sf_dir, ("events",))
    ev = t["events"]
    spine = _time_spine(ev, "interval 15 minutes")
    grid = ev.select("event_type").distinct().crossJoin(spine)
    bucket = F.expr(
        "date_trunc('minute', ts) - make_dt_interval(0, 0, minute(ts) % 15, 0)"
    )
    agg = ev.groupBy("event_type", bucket.alias("w")).agg(
        (
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double")
            / F.count(F.lit(1))
        ).alias("v")
    )
    series = grid.join(agg, ["event_type", "w"], "left")
    tv = F.when(
        F.col("v").isNotNull(),
        F.struct(F.unix_timestamp("w").alias("t"), F.col("v").alias("v")),
    )
    back = (
        Window.partitionBy("event_type")
        .orderBy("w")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fwd = (
        Window.partitionBy("event_type")
        .orderBy("w")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    prev, nxt = F.last(tv, ignorenulls=True).over(back), F.first(
        tv, ignorenulls=True
    ).over(fwd)
    blend = F.col("_prev.v") + (F.col("_nxt.v") - F.col("_prev.v")) * (
        F.unix_timestamp("w") - F.col("_prev.t")
    ) / (F.col("_nxt.t") - F.col("_prev.t"))
    return (
        series.select("event_type", "w", "v", prev.alias("_prev"), nxt.alias("_nxt"))
        .select(
            "event_type",
            "w",
            F.col("v").isNotNull().alias("observed"),
            # floor-quantize, not round: both engines floor the SAME IEEE
            # double exactly, while round() algorithms (exact-BigDecimal
            # half-up vs scaled-double) disagree on .xxxx5 boundaries
            (
                F.floor(
                    F.when(F.col("v").isNotNull(), F.col("v")).otherwise(
                        F.when(
                            F.col("_prev").isNotNull() & F.col("_nxt").isNotNull(),
                            blend,
                        )
                    )
                    * 10000
                )
                / 10000
            ).alias("v_interp"),
        )
        .orderBy("event_type", "w")
    )


@query(
    "stream_dedup_events",
    oracle="""
    SELECT count(*) AS n_distinct
    FROM (SELECT DISTINCT user_id, event_type FROM events)
    """,
    tags=("tier-c", "stream_dedup", "scan_stream"),
)
def stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING deduplication: dropDuplicates on (user_id, event_type) over
    the event stream — the state-store-backed dedup every streaming ingest
    pipeline needs (the watermark bounds state lifetime in production; the
    drained fixture emits exactly the distinct keys). The drained first-seen
    rows are then counted batch-side, matching the batch DISTINCT oracle."""
    events = read_events_stream(spark, sf_dir)
    deduped = (
        events.withWatermark("ts", "24 hours")
        .select("user_id", "event_type", "ts")
        .dropDuplicates(["user_id", "event_type"])
    )
    drained = run_available_now(deduped, mode="append")
    return drained.agg(F.count(F.lit(1)).alias("n_distinct"))


def _watermarked_clicks_purchases(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """``(clicks, purchases)`` of the event stream as (c_user, c_ts) and
    (p_user, p_ts), each side watermarked 2 hours — with the join's time
    constraint, what lets the state store evict rows."""
    events = read_events_stream(spark, sf_dir)
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "2 hours")
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "2 hours")
    )
    return clicks, purchases


@query(
    "stream_stream_join",
    oracle="""
    SELECT count(*) AS n_pairs
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND c.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts
    """,
    tags=("tier-c", "stream_stream_join", "scan_stream"),
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM inner join: clicks joined to purchases of the same user
    within the preceding hour. Both sides carry watermarks and the join has
    an explicit time constraint — the two requirements that let the state
    store evict matched rows instead of buffering both streams forever. On
    the drained fixture the emitted matches equal the batch join, which the
    oracle verifies."""
    clicks, purchases = _watermarked_clicks_purchases(spark, sf_dir)
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("interval 1 hour"))
        & (F.col("c_ts") <= F.col("p_ts")),
    )
    drained = run_available_now(joined, mode="append")
    return drained.agg(F.count(F.lit(1)).alias("n_pairs"))


@query(
    "stream_foreach_batch_sink",
    oracle="""
    SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value
    FROM events WHERE event_type IN ('click', 'purchase')
    GROUP BY event_type ORDER BY event_type
    """,
    tags=("tier-c", "scan_stream", "sink_parquet", "foreach_batch"),
)
def stream_foreach_batch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ETL into a table: filter the event stream and land every
    micro-batch in parquet via foreachBatch
    (streaming/windows.run_foreach_batch_parquet), then aggregate the SINK.
    The oracle runs the same filter+aggregate on the batch table — equality
    proves the foreachBatch path delivered every row, none duplicated, for
    this drain (crash-recovery idempotence is the batch_id column's job —
    see the helper's delivery-semantics note)."""
    from sql4pandas_spark.queries.pipeline import _scratch_dirs

    events = read_events_stream(spark, sf_dir)
    filtered = events.filter(F.col("event_type").isin("click", "purchase")).select(
        "event_id", "event_type", "value"
    )
    (out,) = _scratch_dirs("foreach_batch_sink")
    sink = run_foreach_batch_parquet(filtered, out)
    return (
        sink.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .orderBy("event_type")
    )


@query(
    "stream_stream_left_join",
    oracle="""
    WITH c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
    p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
    wm AS (SELECT least((SELECT max(ts) FROM c), (SELECT max(ts) FROM p))
                  - INTERVAL 2 HOUR AS w),
    matched AS (
      SELECT c.user_id, c.ts FROM c JOIN p
        ON c.user_id = p.user_id
       AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR),
    nullpad AS (
      SELECT c.user_id, c.ts FROM c CROSS JOIN wm
      WHERE NOT EXISTS (SELECT 1 FROM p
                        WHERE p.user_id = c.user_id
                          AND p.ts >= c.ts
                          AND p.ts <= c.ts + INTERVAL 1 HOUR)
        AND c.ts + INTERVAL 1 HOUR < wm.w)
    SELECT (SELECT count(*) FROM matched) AS n_matched,
           (SELECT count(*) FROM nullpad) AS n_nullpad,
           (SELECT COALESCE(CAST(sum(user_id) AS BIGINT), 0) FROM nullpad)
             AS sum_null_user,
           (SELECT COALESCE(CAST(sum(epoch_us(ts) // 1000000) AS BIGINT), 0)
            FROM nullpad) AS sum_null_ts_s
    """,
    tags=("tier-c", "stream_stream_join", "scan_stream", "watermark"),
)
def stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM LEFT OUTER join: every click joins purchases of the
    same user within the following hour; clicks with no purchase emit a
    NULL-padded row once their join window expires from the state store.
    The two hard requirements (both sides watermarked + an explicit time
    constraint) let the engine bound state AND know when an unmatched row
    is safe to emit.

    The drained result is DETERMINISTIC because the emission rule is the
    documented watermark contract, which the oracle spells out: matched
    pairs emit eagerly (all of them — verified equal to the batch inner
    join), and a NULL-padded row emits iff its window end has passed the
    query watermark, i.e. ``c_ts + 1h < min(max_click_ts, max_purchase_ts)
    - 2h`` (Spark's multiple-watermark policy takes the MIN across inputs;
    availableNow's final no-data micro-batch advances the watermark once
    more so expired state flushes). Clicks inside the final watermark
    horizon stay buffered at shutdown BY DESIGN — a restart with more
    data would emit them; hashing their absence pins that semantics. The
    census sums user ids and floor-epoch-seconds over the null-padded set (seconds, not micros: an e16-microsecond sum would overflow int64 within a few hundred thousand rows),
    so the hash pins the exact row set, not just counts."""
    clicks, purchases = _watermarked_clicks_purchases(spark, sf_dir)
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("interval 1 hour")),
        "left_outer",
    )
    out = run_available_now(joined, mode="append")
    is_null = F.col("p_ts").isNull()
    return out.agg(
        F.count(F.when(~is_null, 1)).alias("n_matched"),
        F.count(F.when(is_null, 1)).alias("n_nullpad"),
        F.coalesce(
            F.sum(F.when(is_null, F.col("c_user"))), F.lit(0)
        ).cast("long").alias("sum_null_user"),
        F.coalesce(
            F.sum(F.when(is_null, F.expr("unix_micros(c_ts) DIV 1000000"))),
            F.lit(0),
        ).cast("long").alias("sum_null_ts_s"),
    )
