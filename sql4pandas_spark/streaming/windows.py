"""Structured Streaming over the `events` table (SURVEY.md §2.10).

Testable-by-construction streaming: every stream here reads the fixture
parquet with `readStream` and drains it with `trigger(availableNow=True)`
(sql4pandas_spark/stores.drain), so the stream terminates deterministically
and its result can be compared to the batch form (which DuckDB can verify).
That batch-equivalence IS the correctness contract for the streaming
operators — no wall-clock tests.

Scale notes: file-source streams partition work by file; watermarks bound
state store size (without one, a streaming agg keeps every window in state
forever — fine for a drained fixture, fatal for a real unbounded stream, so
the watermarked variant is the production form). State lives in the
executor-local StateStore and survives micro-batches via the checkpoint dir.
The exactly-once foreachBatch sink writes the batch-keyed store layout of
sql4pandas_spark/stores.py.
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sql4pandas_spark.session import configure_session
from sql4pandas_spark.sources.parquet import normalize_events
from sql4pandas_spark.stores import (  # noqa: F401 - re-exported
    _DEFAULT_STATE_PARTITIONS,
    STATE_PARTITIONS_CONF,
    drain,
    pinned_stream_width,
    write_batch,
)


def _stream_dir(sf_dir: str) -> str:
    """The file stream source watches a directory of data FILES; the fixture
    may be a single parquet file (the shipped testdata) or a Spark-written
    directory of part files (e.g. 574fe30:tools/scale_probe.py output). Stage a
    stable symlink dir per source (cheap, idempotent; mirrors how a real
    stream would watch a landing directory). Part files are linked
    individually — a symlink to a directory is invisible to the file stream
    source, which lists plain files only."""
    key = sf_dir.strip("/").replace("/", "_")
    d = os.path.join(tempfile.gettempdir(), f"s4ps_stream_{key}")
    os.makedirs(d, exist_ok=True)
    src = os.path.join(sf_dir, "events.parquet")
    if os.path.isdir(src):
        for fname in sorted(os.listdir(src)):
            if fname.endswith(".parquet"):
                link = os.path.join(d, fname)
                try:  # idempotent + safe under concurrent staging
                    os.symlink(os.path.join(src, fname), link)
                except FileExistsError:
                    pass
    else:
        link = os.path.join(d, "events.parquet")
        try:
            os.symlink(src, link)
        except FileExistsError:
            pass
    return d


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet as an unbounded-style stream (schema from the batch
    reader; timestamps normalized by sources/parquet.normalize_events,
    like the batch table).

    configure_session FIRST: on an externally-built session (the driver's),
    the ns-parquet workaround must be applied before the first events read —
    a streaming query must not depend on a batch query having run earlier.
    """
    configure_session(spark)
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    stream = spark.readStream.schema(batch.schema).parquet(_stream_dir(sf_dir))
    # withWatermark hard-requires TIMESTAMP (LTZ); NTZ→LTZ is value-
    # preserving under the pinned UTC session timezone.
    return normalize_events(stream)


def run_available_now(
    result: DataFrame, mode: str = "complete", timeout_sec: int = 120
) -> DataFrame:
    """Drain a streaming DataFrame into a memory sink and return the final
    table. availableNow processes everything currently on disk, then stops —
    the deterministic trigger for batch-equivalence testing. Raises
    TimeoutError rather than return a partial table."""
    name = f"s4ps_{uuid.uuid4().hex[:12]}"
    writer = result.writeStream.format("memory").queryName(name)
    drain(writer.outputMode(mode), result.sparkSession, timeout_sec=timeout_sec)
    return result.sparkSession.table(name)


def tumbling_hourly(events: DataFrame) -> DataFrame:
    """Tumbling 1 h windows per event_type (works on batch AND stream input —
    the same plan incrementalizes under MicroBatchExecution)."""
    return (
        events.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("v"))
        .select(F.col("win.start").alias("w"), "event_type", "n", "v")
    )


def sliding_30m(events: DataFrame) -> DataFrame:
    """Sliding windows: 1 h length, 30 min slide — each event lands in 2 windows."""
    return (
        events.groupBy(F.window("ts", "1 hour", "30 minutes").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("v"))
        .select(F.col("win.start").alias("w_start"), "event_type", "n", "v")
    )


def session_windows_10m(events: DataFrame) -> DataFrame:
    """Gap-based session windows (10 min inactivity closes a session)."""
    return (
        events.groupBy(F.session_window("ts", "10 minutes").alias("win"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "user_id",
            F.col("win.start").alias("s_start"),
            F.col("win.end").alias("s_end"),
            "n",
        )
    )


def watermarked_hourly(events: DataFrame, delay: str = "2 hours") -> DataFrame:
    """Tumbling agg with a watermark: lets the engine evict window state and
    drop data later than `delay` — the production form of tumbling_hourly.
    On the drained fixture nothing is late, so the result equals the batch
    form (asserted by the driver's oracle and tests)."""
    return (
        events.withWatermark("ts", delay)
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("win.start").alias("w"), "event_type", "n")
    )


def parquet_batch_writer(out_dir: str, exactly_once: bool = False):
    """Build a foreachBatch function writing each micro-batch to parquet.

    ``exactly_once=False``: plain append — AT-LEAST-once under recovery
    (foreachBatch re-delivers the last uncommitted batch after a crash, so
    a batch that wrote but didn't commit its checkpoint appends twice).

    ``exactly_once=True``: each batch dynamically OVERWRITES its own
    ``batch_id=`` partition — a replayed batch replaces exactly the rows
    its crashed attempt may have half-written, never duplicating and never
    touching other batches' partitions: the batch-keyed store of
    sql4pandas_spark/stores.py (:func:`write_batch`), shared with the
    incremental dedup stores; both are crash-replay property-tested
    (tests/test_streaming_recovery.py, tests/test_incremental_store.py).
    """

    def write(df: DataFrame, batch_id: int) -> None:
        if exactly_once:
            write_batch(df, out_dir, batch_id)
        else:
            write_batch(df.withColumn("batch_id", F.lit(batch_id)), out_dir)

    return write


def run_foreach_batch_parquet(
    result: DataFrame,
    out_dir: str,
    timeout_sec: int = 120,
    exactly_once: bool = False,
) -> DataFrame:
    """Drain a streaming DataFrame via foreachBatch into a parquet
    directory — the production streaming-ETL sink pattern (arbitrary
    per-batch logic: upserts, multi-table writes, partition overwrite).
    Delivery semantics live in :func:`parquet_batch_writer`; within one
    clean availableNow drain (this helper's use) no batch replays, so the
    sink equals the batch result exactly either way. The target dir is
    cleared first so the declared query is deterministic per build.

    Returns the sink read back as a batch DataFrame.
    """
    import shutil

    shutil.rmtree(out_dir, ignore_errors=True)
    writer = result.writeStream.foreachBatch(
        parquet_batch_writer(out_dir, exactly_once=exactly_once)
    )
    drain(writer, result.sparkSession, timeout_sec=timeout_sec)
    # read with the written schema: an all-empty exactly-once drain leaves
    # no file to infer one from
    schema = result.withColumn("batch_id", F.lit(0)).schema
    return result.sparkSession.read.schema(schema).parquet(out_dir)
