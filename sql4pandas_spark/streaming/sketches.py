"""Streaming sketch-state maintenance — a raw stream continuously folded
into a bounded MERGEABLE state (SURVEY.md §2 incr_heavy_hitters /
incr_quantile, streaming form).

The streaming sibling of streaming/cdc.py, for the read-side incremental
family (operators/sketches.py): ``readStream`` over a landing directory →
``foreachBatch`` → per-batch state (heavy-hitter candidates, fixed-grid
histogram) merged into a VERSIONED parquet store. Both modules bind the
one versioned stream fold of sql4pandas_spark/stores.py (``fold_batch`` /
``fold_stream``): CDC with merge_upsert as the merge, the sketches here
with their additive state merges.
Exactly-once is LOAD-BEARING here, more than for CDC:
merge_heavy_hitter_states / merge_histograms ADD counts, so a replayed
batch that re-merged would double-count (the merge_agg_states idempotence
warning, operators/maintenance.py). The version chain rewrites a replayed
batch's ``v{k+1}`` from the same unchanged ``v{k}`` — no double count —
and retained versions answer "what were the top tokens / p99 as of batch
k".

Scale shape: each micro-batch does one map-side-combined aggregate over
its OWN rows (the per-batch state), then merges against a state of
bounded size — ≤ batches × m rows for heavy hitters (re-truncate
periodically), exactly ≤ n_bins rows for histograms — so the per-batch
cost is O(batch) + O(|state|) regardless of how many billions of raw rows
the state summarizes. The raw stream is never re-scanned.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from sql4pandas_spark import stores

#: Read the highest committed state version.
latest_state = stores.read_version
#: Write the initial sketch state as version 0 (usually empty — the merge
#: functions treat an empty side as the identity).
seed_state = stores.seed

#: Fold ONE micro-batch's state into the store
#: (``sketch_apply_batch(batch_state, store_root, merge_fn, batch_id)``):
#: ``v{batch_id}`` ∪ batch-state → ``v{batch_id + 1}``, replay-idempotent
#: and guarded against the misalignment that would double-count.
sketch_apply_batch = stores.fold_batch
#: Drain a raw stream into the store (``run_sketch_stream(stream,
#: store_root, batch_state_fn, merge_fn, checkpoint, timeout_sec)``);
#: returns the checkpoint path for the next drain.
run_sketch_stream = stores.fold_stream


def empty_state(spark: SparkSession, schema: str, store_root: str) -> str:
    """Seed version 0 with an empty state of the given DDL schema."""
    return seed_state(spark.createDataFrame([], schema), store_root)


# -- concrete sketches -------------------------------------------------------


def run_heavy_hitter_stream(
    stream: DataFrame,
    store_root: str,
    item_col: str,
    m: int = 64,
    checkpoint: str | None = None,
    timeout_sec: int = 120,
) -> str:
    """Maintain a streaming heavy-hitters candidate state: each
    micro-batch contributes its exact top-``m`` item counts
    (operators/sketches.heavy_hitter_state), merged by per-item addition
    (merge_heavy_hitter_states). Accuracy contract inherited from the
    batch form: per-batch distinct items ≤ m ⇒ the maintained state is
    EXACT; otherwise an item can only be undercounted by batches where
    it missed that batch's top-m, never inflated."""
    from sql4pandas_spark.operators.sketches import (
        heavy_hitter_state,
        merge_heavy_hitter_states,
    )

    return run_sketch_stream(
        stream,
        store_root,
        lambda df: heavy_hitter_state(df, item_col, m),
        merge_heavy_hitter_states,
        checkpoint=checkpoint,
        timeout_sec=timeout_sec,
    )


def run_cms_stream(
    stream: DataFrame,
    store_root: str,
    item_col: str,
    depth: int = 4,
    width: int = 256,
    checkpoint: str | None = None,
    timeout_sec: int = 120,
) -> str:
    """Maintain a streaming count-min sketch: each micro-batch contributes
    its cell counts (operators/sketches.count_min_state), merged by
    per-cell addition (merge_cms_states) — point-frequency estimates for
    ANY item stay answerable in O(depth) from a ≤ depth·width-row state
    (cms_lookup), with the never-undercount contract intact because
    per-cell sums of batch counts equal the global cell counts. The
    (depth, width, seed) grid is FIXED at stream start, like the
    histogram grid."""
    from sql4pandas_spark.operators.sketches import (
        count_min_state,
        merge_cms_states,
    )

    return run_sketch_stream(
        stream,
        store_root,
        lambda df: count_min_state(df, item_col, depth, width),
        merge_cms_states,
        checkpoint=checkpoint,
        timeout_sec=timeout_sec,
    )


def run_histogram_stream(
    stream: DataFrame,
    store_root: str,
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int,
    checkpoint: str | None = None,
    timeout_sec: int = 120,
) -> str:
    """Maintain a streaming fixed-grid histogram state: each micro-batch
    bins its own rows (operators/sketches.value_histogram), merged by
    per-bin addition (merge_histograms). The [lo, hi, n_bins] grid is
    FIXED at stream start — the mergeability precondition. Percentile
    read-outs come off the latest state via quantiles_from_histogram,
    exact to one bin width, without ever re-scanning raw history."""
    from sql4pandas_spark.operators.sketches import (
        merge_histograms,
        value_histogram,
    )

    return run_sketch_stream(
        stream,
        store_root,
        lambda df: value_histogram(df, value_col, lo, hi, n_bins),
        merge_histograms,
        checkpoint=checkpoint,
        timeout_sec=timeout_sec,
    )


def run_dsir_stats_stream(
    stream: DataFrame,
    store_root: str,
    is_target,
    checkpoint: str | None = None,
) -> str:
    """Fold a DOCUMENT stream into the versioned DSIR bucket-counter
    store: per micro-batch the state contribution is
    ``dsir_bucket_stats(dsir_bucket_tokens(batch))`` — a |buckets|-row
    integer counter frame — and the merge is per-bucket addition, the
    same counter algebra `operators/sampling.merge_dsir_stats` applies
    across batches. Exactly-once versioning is load-bearing here for
    the same reason as the count-min grid: counters double-count under
    renumbered replay. The read-out (`dsir_terms` → `dsir_score`) never
    re-scans ingested history; ``is_target`` is the unbound boolean
    Column defining the target slice (e.g. ``F.col("lang") == "en"``)."""
    from sql4pandas_spark.operators.sampling import (
        dsir_bucket_stats,
        dsir_bucket_tokens,
        merge_dsir_stats,
    )

    return run_sketch_stream(
        stream,
        store_root,
        lambda df: dsir_bucket_stats(dsir_bucket_tokens(df, is_target)),
        lambda prev, cur: merge_dsir_stats([prev, cur]),
        checkpoint,
    )
