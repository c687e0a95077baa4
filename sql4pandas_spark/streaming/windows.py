"""Structured Streaming over the `events` table (SURVEY.md §2.10).

Testable-by-construction streaming: every stream here reads the fixture
parquet with `readStream` and drains it with `trigger(availableNow=True)`, so
the stream terminates deterministically and its result can be compared to the
batch form (which DuckDB can verify). That batch-equivalence IS the
correctness contract for the streaming operators — no wall-clock tests.

Scale notes: file-source streams partition work by file; watermarks bound
state store size (without one, a streaming agg keeps every window in state
forever — fine for a drained fixture, fatal for a real unbounded stream, so
the watermarked variant is the production form). State lives in the
executor-local StateStore and survives micro-batches via the checkpoint dir.
"""

from __future__ import annotations

import os
import tempfile
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sql4pandas_spark.session import configure_session
from sql4pandas_spark.sources.parquet import table

#: Streaming state width (conf key / local default). A stateful streaming
#: operator creates ONE state-store instance per shuffle partition, and the
#: count is frozen into the checkpoint at the first micro-batch — in
#: production it is a deliberate day-0 sizing decision (expected state
#: bytes / 100-500 MB per partition; e.g. 200 GB of join state → 512-2048
#: partitions, set via this conf), NOT the batch shuffle width. Inheriting
#: the session's batch width makes every bounded drain pay width-many
#: state-store commits + maintenance tasks per micro-batch for state that
#: fits in one: profiled at sf0.01, a stateful drain at width 64 took
#: 2.1-2.6 s vs 0.73-0.89 s at width 8 (2.7x) with identical results —
#: the extra 56 instances were pure floor. The default 8 sizes the
#: fixture-scale drains; any caller with real state sets the conf.
STATE_PARTITIONS_CONF = "spark.s4ps.streaming.statePartitions"
_DEFAULT_STATE_PARTITIONS = 8


@contextmanager
def pinned_stream_width(spark: SparkSession):
    """Pin ``spark.sql.shuffle.partitions`` to the streaming state width
    for the duration of a synchronous availableNow drain, restoring the
    batch width after. The drains in this package (and cdc/sketches) are
    single-threaded start→awaitTermination blocks, so the pin cannot leak
    into a concurrent batch query; a resumed checkpoint keeps its own
    frozen width regardless (Spark reads it from the offset metadata)."""
    try:
        width = int(
            spark.conf.get(
                STATE_PARTITIONS_CONF, str(_DEFAULT_STATE_PARTITIONS)
            )
        )
    except ValueError:
        width = _DEFAULT_STATE_PARTITIONS
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(width))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


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
    reader; ns-timestamp normalization matches sources/parquet.py).

    configure_session FIRST: on an externally-built session (the driver's),
    the ns-parquet workaround must be applied before the first events read —
    a streaming query must not depend on a batch query having run earlier.
    """
    configure_session(spark)
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    stream = spark.readStream.schema(batch.schema).parquet(_stream_dir(sf_dir))
    if dict(stream.dtypes).get("ts") == "bigint":
        stream = stream.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    # withWatermark hard-requires TIMESTAMP (LTZ); NTZ→LTZ is value-
    # preserving under the pinned UTC session timezone.
    from sql4pandas_spark.sources.parquet import normalize_ntz

    return normalize_ntz(stream)


def run_available_now(
    result: DataFrame, mode: str = "complete", timeout_sec: int = 120
) -> DataFrame:
    """Drain a streaming DataFrame into a memory sink and return the final
    table. availableNow processes everything currently on disk, then stops —
    the deterministic trigger for batch-equivalence testing."""
    name = f"s4ps_{uuid.uuid4().hex[:12]}"
    ckpt = tempfile.mkdtemp(prefix="s4ps_ckpt_")
    with pinned_stream_width(result.sparkSession):
        q = (
            result.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(timeout_sec)
        if q.isActive:  # pragma: no cover - defensive stop on hang
            q.stop()
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
    touching other batches' partitions. This is the same idempotency shape
    as operators/dedup.incremental_exact_dedup's digest store; both are
    crash-replay property-tested (tests/test_streaming_recovery.py,
    tests/test_incremental_store.py).
    """

    def write_batch(df: DataFrame, batch_id: int) -> None:
        staged = df.withColumn("batch_id", F.lit(batch_id))
        if exactly_once:
            (
                staged.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch_id")
                .parquet(out_dir)
            )
        else:
            staged.write.mode("append").parquet(out_dir)

    return write_batch


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
    ckpt = tempfile.mkdtemp(prefix="s4ps_ckpt_")

    with pinned_stream_width(result.sparkSession):
        q = (
            result.writeStream.foreachBatch(
                parquet_batch_writer(out_dir, exactly_once=exactly_once)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(timeout_sec)
        if q.isActive:  # pragma: no cover - defensive stop on hang
            q.stop()
    return result.sparkSession.read.parquet(out_dir)
