"""Persistent parquet stores and the availableNow drain that feeds them.

Every incremental operator in the engine — streaming CDC apply
(streaming/cdc.py), streaming sketch states (streaming/sketches.py), the
foreachBatch parquet sink (streaming/windows.py) and cross-batch exact,
near and passage dedup (operators/dedup.py) — turns foreachBatch's
at-least-once delivery into exactly-once application with one of two
store layouts, both owned here:

- **Versioned store** (``root/v{k}``): micro-batch ``k`` reads ``v{k}``
  and OVERWRITES ``v{k+1}``, never the directory it is reading. After a
  crash foreachBatch re-delivers the last uncommitted batch with the SAME
  batch_id, which rewrites the same ``v{k+1}`` from the same unchanged
  ``v{k}`` — byte-identical, so additive states never double-count.
  Retained versions double as time travel: ``v{k}`` IS the state as of
  batch k. :func:`advance` holds the misalignment guard and the
  vacuum/replay interlock; :func:`fold_batch` and :func:`fold_stream`
  fold one micro-batch, or a whole stream, through it (the CDC and
  sketch streams bind them); :func:`vacuum` is the retention sweep.
- **Batch-keyed store** (``root/batch_id=N``): each batch dynamically
  overwrites its own partition (:func:`write_batch`) and reads the store
  without it (:func:`read_batches`), so a replay sees the store as it was
  before its first attempt and replaces exactly what that attempt wrote.

:func:`drain` is the one ``trigger(availableNow=True)`` runner: it pins
the streaming state width, raises :class:`TimeoutError` instead of
returning a partial sink, and removes a checkpoint it created itself.
"""

from __future__ import annotations

import os
import re
import shutil
import tempfile
from collections.abc import Callable
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

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

_V_RE = re.compile(r"^v(\d+)$")


# -- versioned store ---------------------------------------------------------


def versions(root: str) -> list[int]:
    """The committed version numbers under ``root``, ascending."""
    try:
        names = os.listdir(root)
    except FileNotFoundError:
        return []
    return sorted(int(m.group(1)) for n in names if (m := _V_RE.match(n)))


def seed(state: DataFrame, root: str) -> str:
    """Write the initial state as version 0."""
    dst = os.path.join(root, "v0")
    state.write.mode("overwrite").parquet(dst)
    return dst


def read_version(
    spark: SparkSession, root: str, version: int | None = None
) -> DataFrame:
    """Read committed ``version`` (default: the latest). Raises, naming the
    retained versions, when it was never written or has been vacuumed — a
    silent fallback to a neighbor would be a wrong answer in any audit."""
    vs = versions(root)
    if version is None:
        if not vs:
            raise FileNotFoundError(f"no versions under {root}")
        version = vs[-1]
    elif version not in vs:
        raise FileNotFoundError(
            f"version v{version} is not present under {root} "
            f"(retained: {[f'v{v}' for v in vs]}) — it was never committed "
            "or was removed by vacuum_versions; raise keep_last if time "
            "travel must reach further back"
        )
    return spark.read.parquet(os.path.join(root, f"v{version}"))


def vacuum(root: str, keep_last: int = 2) -> list[int]:
    """Delete every committed version except the newest ``keep_last``;
    returns the version numbers removed.

    The forward chain survives any ``keep_last >= 1``: the next batch reads
    only the head, which a vacuum never touches. ``keep_last=2`` (the
    default) also preserves CRASH-REPLAY of an in-flight batch, which
    rewrites the head from the version before it — vacuum down to 1 only
    between drains known to have completed."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1 (the chain head must survive)")
    drop = versions(root)[:-keep_last]
    for v in drop:
        shutil.rmtree(os.path.join(root, f"v{v}"))
    return drop


def advance(
    spark: SparkSession,
    root: str,
    batch_id: int,
    step: Callable[[DataFrame], DataFrame],
) -> str:
    """Apply one micro-batch: ``step(v{batch_id})`` overwrites
    ``v{batch_id + 1}``; returns the new version path.

    Misalignment guard: a drain restarted with a FRESH checkpoint
    renumbers batches from 0 and would re-apply history onto a stale base
    (lost updates, or double counts in additive states). The only legal
    inputs are batch_id == latest (advance) and latest - 1 (crash replay of
    the last uncommitted batch); anything else raises.

    Vacuum/replay interlock: a legal replay whose source version was
    removed by ``vacuum(keep_last=1)`` between the crash and the replayed
    drain raises with the interlock named, never merging onto the wrong
    base. ``keep_last >= 2`` makes it unreachable."""
    vs = versions(root)
    if not vs:
        raise FileNotFoundError(f"no versions under {root}; seed the store first")
    latest = vs[-1]
    if batch_id not in (latest, latest - 1):
        raise RuntimeError(
            f"checkpoint/version misalignment under {root}: batch_id="
            f"{batch_id} but latest committed version is v{latest} "
            f"(expected {latest} to advance or {latest - 1} to replay). A "
            f"fresh checkpoint restarts numbering at 0 — reuse the original "
            f"checkpoint directory, or reseed the store root."
        )
    if batch_id not in vs:
        raise RuntimeError(
            f"vacuum/replay interlock violated: crash-replay of batch "
            f"{batch_id} needs source version v{batch_id} under {root}, but "
            f"it was removed (retained: {[f'v{v}' for v in vs]}). "
            f"vacuum_versions(keep_last=1) ran between a crash and its "
            f"replayed drain — keep_last>=2 always preserves crash-replay."
        )
    prev = spark.read.parquet(os.path.join(root, f"v{batch_id}"))
    dst = os.path.join(root, f"v{batch_id + 1}")
    step(prev).write.mode("overwrite").parquet(dst)
    return dst


def fold_batch(
    batch_state: DataFrame,
    root: str,
    merge_fn: Callable[[DataFrame, DataFrame], DataFrame],
    batch_id: int,
) -> str:
    """Fold ONE micro-batch into a versioned store: ``merge_fn(v{batch_id},
    batch_state)`` overwrites ``v{batch_id + 1}``, replay-idempotent and
    guarded against checkpoint/version misalignment (lost updates, or
    double counts in additive states) by :func:`advance`. Returns the new
    version path."""
    return advance(
        batch_state.sparkSession,
        root,
        batch_id,
        lambda prev: merge_fn(prev, batch_state),
    )


def fold_stream(
    stream: DataFrame,
    root: str,
    batch_state_fn: Callable[[DataFrame], DataFrame],
    merge_fn: Callable[[DataFrame, DataFrame], DataFrame],
    checkpoint: str | None = None,
    timeout_sec: float = 120,
) -> str:
    """Drain ``stream`` into a versioned store, folding each micro-batch's
    ``batch_state_fn(batch)`` with :func:`fold_batch`. Reusing the same
    ``checkpoint`` across calls resumes batch numbering where the last
    drain stopped — the periodic-ingest shape the version chain relies
    on. Returns the checkpoint path for the next drain."""
    ckpt = checkpoint or tempfile.mkdtemp(prefix="s4ps_stream_ckpt_")

    def apply_batch(df: DataFrame, batch_id: int) -> None:
        fold_batch(batch_state_fn(df), root, merge_fn, batch_id)

    drain(
        stream.writeStream.foreachBatch(apply_batch),
        stream.sparkSession,
        ckpt,
        timeout_sec,
    )
    return ckpt


# -- batch-keyed store -------------------------------------------------------


def read_batches(
    spark: SparkSession, root: str, exclude_batch: int | None = None
) -> DataFrame | None:
    """Read the store, without ``exclude_batch``'s own partition. Returns
    None ONLY when the path does not exist (a genuine first batch); any
    other failure raises — treating a broken store as empty would silently
    re-admit content it has already seen. Existence is asked of the
    path's Hadoop ``FileSystem`` (any URI, unlike ``os.path``) before the
    read, so an empty store costs no failing query."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(root)
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    if not jpath.getFileSystem(conf).exists(jpath):
        return None
    store = spark.read.parquet(root)
    if exclude_batch is not None:
        store = store.filter(F.col("batch_id") != F.lit(exclude_batch))
    return store


def write_batch(rows: DataFrame, root: str, batch_id: int | None = None) -> None:
    """Dynamically overwrite ``root/batch_id=<batch_id>`` with ``rows``, or
    append them when ``batch_id`` is None. A zero-row write can leave no
    file to infer the store's schema from, so the dedup stores skip empty
    batches."""
    if batch_id is None:
        rows.write.mode("append").parquet(root)
        return
    (
        rows.withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(root)
    )


# -- the drain ---------------------------------------------------------------


@contextmanager
def pinned_stream_width(spark: SparkSession):
    """Pin ``spark.sql.shuffle.partitions`` to the streaming state width
    for the duration of a synchronous drain, restoring the batch width
    after. :func:`drain` blocks until the query ends, so the pin cannot
    leak into a concurrent batch query; a resumed checkpoint keeps its own
    frozen width regardless (Spark reads it from the offset metadata).
    A width that is not an integer >= 1 raises ValueError naming the conf:
    the first micro-batch would freeze it into the checkpoint."""
    raw = spark.conf.get(STATE_PARTITIONS_CONF, str(_DEFAULT_STATE_PARTITIONS))
    try:
        width = int(raw)
        if width < 1:
            raise ValueError
    except ValueError:
        raise ValueError(
            f"{STATE_PARTITIONS_CONF} must be an integer >= 1, got {raw!r}"
        ) from None
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(width))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def drain(
    writer: DataStreamWriter,
    spark: SparkSession,
    checkpoint: str | None = None,
    timeout_sec: float = 120,
) -> None:
    """Run ``writer`` with ``trigger(availableNow=True)`` — everything on
    disk now, then stop — at the pinned state width. Raises TimeoutError
    (after stopping the query) when it has not finished in
    ``timeout_sec``: the sink then holds a partial result. A caller's
    ``checkpoint`` is kept so the next drain resumes batch numbering;
    without one, a throwaway checkpoint is created and removed."""
    ckpt = checkpoint or tempfile.mkdtemp(prefix="s4ps_ckpt_")
    try:
        with pinned_stream_width(spark):
            q = (
                writer.option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            if not q.awaitTermination(timeout_sec):
                q.stop()
                raise TimeoutError(
                    f"availableNow drain did not finish in {timeout_sec}s"
                )
    finally:
        if checkpoint is None:
            shutil.rmtree(ckpt, ignore_errors=True)
