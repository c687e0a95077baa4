"""Streaming CDC apply — a changeset stream continuously merged into a
keyed snapshot (SURVEY.md §2 merge_upsert, streaming form).

This is the write-side composition the batch pieces were built for:
``readStream`` over a changeset landing directory → ``foreachBatch`` →
:func:`sql4pandas_spark.operators.maintenance.merge_upsert` into a
VERSIONED parquet snapshot. It is the versioned stream fold of
sql4pandas_spark/stores.py (``fold_batch`` / ``fold_stream``) with
merge_upsert as the merge — the same fold the sketch streams
(streaming/sketches.py) bind with an additive merge. The version chain
is what makes it exactly-once without an ACID table format: batch ``k``
reads ``v{k}`` and overwrites ``v{k+1}``, so a crash-replayed batch
rewrites the same version byte-identically, and retained versions are time
travel (snapshot_diff between two versions gives the audit trail).

Scale shape: merge_upsert itself is one left-anti join on the narrow key
(AQE broadcasts the CDC batch, the snapshot never shuffles) — but this
form rewrites the FULL snapshot per batch, the honest cost of
versioned-directory exactly-once. At the 100 TB design point the
snapshot is partitioned on a stable key prefix and each batch rewrites
only the partitions its keys touch (merge_upsert per affected partition
+ dynamic partition overwrite, as queries/pipeline.partition_upsert
demonstrates); the version directories then hold partition manifests
rather than full copies — i.e. exactly the layout an ACID table format
maintains for you, which is the declared swap-in point once Iceberg or
Delta jars are available (SURVEY §2 deliberate-exclusions note).
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame

from sql4pandas_spark import stores
from sql4pandas_spark.operators.maintenance import merge_upsert

#: Write the initial keyed snapshot as version 0.
seed_snapshot = stores.seed
#: Read the latest committed version (``latest_snapshot(spark, root)``) or,
#: time travel, exactly committed ``version`` (``snapshot_at(spark, root,
#: version)``, which raises for a version never written or vacuumed).
latest_snapshot = snapshot_at = stores.read_version
#: Retention sweep for a versioned store (CDC snapshot or sketch state).
vacuum_versions = stores.vacuum


def cdc_apply_batch(
    changes: DataFrame,
    snapshot_root: str,
    key_cols: list[str],
    batch_id: int,
    op_col: str = "op",
    seq_col: str | None = None,
) -> str:
    """Apply ONE CDC micro-batch: ``v{batch_id}`` + changes →
    ``v{batch_id + 1}`` (:func:`stores.fold_batch`, replay-idempotent and
    guarded against checkpoint/version misalignment). Returns the new
    version path."""
    upsert = partial(merge_upsert, key_cols=key_cols, op_col=op_col, seq_col=seq_col)
    return stores.fold_batch(changes, snapshot_root, upsert, batch_id)


def run_cdc_stream(
    changes_stream: DataFrame,
    snapshot_root: str,
    key_cols: list[str],
    checkpoint: str | None = None,
    op_col: str = "op",
    seq_col: str | None = None,
    timeout_sec: int = 120,
) -> str:
    """Drain a changeset stream into the versioned snapshot
    (:func:`stores.fold_stream`, each batch's changes as they arrive).
    Reusing the same ``checkpoint`` across calls resumes batch numbering
    where the last drain stopped — the periodic-ingest production shape
    (and what the version chain relies on). Returns the checkpoint path
    for the next drain."""
    upsert = partial(merge_upsert, key_cols=key_cols, op_col=op_col, seq_col=seq_col)
    return stores.fold_stream(
        changes_stream, snapshot_root, lambda b: b, upsert, checkpoint, timeout_sec
    )
