"""Round-15 optimization-phase focused tests: the spread_for_compute
parallelism guard, the connected_components convergence-check hardening
(identity-sum round-1 baseline + loud decimal-overflow guard), and the
gopher_rules extra_cols collision validation."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


# ---------------------- spread_for_compute: input-parallelism guard


def test_spread_skips_already_parallel_input(spark, tmp_path):
    """An input whose FILE LAYOUT already scans at >= the session shuffle
    width must pass through UNTOUCHED — at 100 TB a parquet scan with
    natural file-split parallelism must not pay a full (id, text)
    exchange for nothing (the guard the round-14 verdict asked for).
    The probe is analysis-only (df.inputFiles + file sizes): physically
    planning the input just to count partitions janino-compiles the
    whole upstream stage per build (round-15 profile: 30-40 s/run on the
    MinHash signature frame), so the guard must key off the scan layout,
    never the planned RDD."""
    from sql4pandas_spark.operators.spread import (
        compute_width,
        planned_scan_tasks,
        spread_for_compute,
    )

    width = compute_width(spark)
    out_dir = str(tmp_path / "wide_parquet")
    spark.range(0, 10_000, 1, width + 4).toDF("doc_id").write.parquet(out_dir)
    # Spark packs tiny files into about one task per core; asking for at
    # least one scan task per file makes this layout genuinely wide
    spark.conf.set("spark.sql.files.minPartitionNum", str(width + 4))
    try:
        wide = spark.read.parquet(out_dir)
        assert planned_scan_tasks(wide) >= width  # one task per part file
        out = spread_for_compute(wide)
        assert out is wide  # identical object: no exchange was added
    finally:
        spark.conf.unset("spark.sql.files.minPartitionNum")


def test_spread_still_spreads_serial_input(spark):
    """A serial (1-partition) input — the single-row-group-scan case the
    operator exists for — still spreads to the session width."""
    from sql4pandas_spark.operators.spread import (
        compute_width,
        spread_for_compute,
    )

    serial = spark.range(0, 1000, 1, 1).toDF("doc_id")
    out = spread_for_compute(serial)
    assert out.rdd.getNumPartitions() == compute_width(spark)
    # round-robin repartition: same rows, exactly once
    assert out.count() == 1000
    assert out.agg(F.sum("doc_id")).collect()[0][0] == 999 * 1000 // 2


# ---------------------- connected_components convergence check


def test_cc_self_loop_only_graph_converges_in_one_round(spark):
    """A pair graph whose first propagation round is already a fixpoint
    (every pair is a self-loop) must converge with max_iter=1 — the
    sentinel start previously forced a spurious extra round and a
    RuntimeError under a tight max_iter (ADVICE r14)."""
    from sql4pandas_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 1), (2, 2), (7, 7)], ["id_a", "id_b"]
    )
    out = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(pairs, max_iter=1).collect()
    }
    assert out == {1: 1, 2: 2, 7: 7}


def test_cc_empty_pair_graph_returns_empty(spark):
    """The empty pair graph converges immediately (None sums come from
    emptiness, not overflow — the guard must not fire)."""
    from sql4pandas_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(pairs, max_iter=1).count() == 0


def test_cc_chain_still_merges_to_min_label(spark):
    """Regression pin for the reworked numeric check: a 4-chain merges to
    one cluster labeled by its smallest id, in diameter rounds."""
    from sql4pandas_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], ["id_a", "id_b"]
    )
    out = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(pairs).collect()
    }
    assert out == {1: 1, 2: 1, 3: 1, 4: 1}


# ---------------------- gopher_rules extra_cols validation


def test_gopher_extra_cols_collision_raises(spark):
    """extra_cols overlapping the generated output names must raise
    instead of silently producing duplicate/ambiguous columns."""
    from sql4pandas_spark.operators.text import gopher_rules

    df = spark.createDataFrame([(1, "some text here")], ["doc_id", "text"])
    for bad in ("n_words", "keep", "r_stopwords", "doc_id"):
        with pytest.raises(ValueError, match="extra_cols"):
            gopher_rules(df, extra_cols=(bad,))


# ---------------------- streaming state-width pin


def test_pinned_stream_width_sets_and_restores(spark):
    """The drain helpers pin spark.sql.shuffle.partitions to the streaming
    state width (conf-driven, default 8) for the duration of a synchronous
    availableNow drain and restore the batch width after — a stateful
    operator creates one state-store instance per shuffle partition, so
    inheriting the 64-partition batch width made every fixture-scale drain
    pay 64 state-store commits per micro-batch."""
    from sql4pandas_spark.streaming.windows import (
        STATE_PARTITIONS_CONF,
        _DEFAULT_STATE_PARTITIONS,
        pinned_stream_width,
    )

    before = spark.conf.get("spark.sql.shuffle.partitions")
    with pinned_stream_width(spark):
        assert spark.conf.get("spark.sql.shuffle.partitions") == str(
            _DEFAULT_STATE_PARTITIONS
        )
    assert spark.conf.get("spark.sql.shuffle.partitions") == before

    spark.conf.set(STATE_PARTITIONS_CONF, "12")
    try:
        with pinned_stream_width(spark):
            assert spark.conf.get("spark.sql.shuffle.partitions") == "12"
        assert spark.conf.get("spark.sql.shuffle.partitions") == before
    finally:
        spark.conf.unset(STATE_PARTITIONS_CONF)


def test_pinned_width_drain_matches_batch(spark):
    """A stateful aggregation drained at the pinned width must produce the
    batch-identical result — the pin changes state-store instance count,
    never values."""
    from sql4pandas_spark.sources.parquet import table
    from sql4pandas_spark.streaming.windows import (
        read_events_stream,
        run_available_now,
        tumbling_hourly,
    )
    from tests.conftest import SF_SMALL, assert_frames_match

    batch = tumbling_hourly(table(spark, SF_SMALL, "events")).toPandas()
    got = run_available_now(
        tumbling_hourly(read_events_stream(spark, SF_SMALL)), mode="complete"
    ).toPandas()
    assert_frames_match(got, batch)


# ---------------------- incremental near-dedup store file sizing


def test_near_dedup_store_files_bounded(spark, tmp_path):
    """Store appends must coalesce to ceil(rows / records-per-file-target)
    files instead of inheriting the signature frame's compute width —
    fixture-scale batches land in exactly ONE file per store per batch
    (guide §6 small-files: the width-many near-empty part files previously
    paid width write tasks per batch and a many-file listing on every
    later batch's store read)."""
    import glob

    from sql4pandas_spark.operators.dedup import incremental_near_dedup

    store = str(tmp_path / "near")
    rows = [(i, f"document text number {i} with shared shingle words") for i in range(40)]
    batch = spark.createDataFrame(rows, ["doc_id", "text"])
    incremental_near_dedup(batch, store).collect()
    for sub in ("shingles", "bands"):
        files = glob.glob(f"{store}/{sub}/part-*.parquet")
        assert len(files) == 1, (sub, files)


def test_ivf_save_clusters_wide_assignments_only(spark, tmp_path):
    """save_ivf_index's partitioned write must cluster by (batch_id, cell)
    unless the assignment pass scans as one task (else a tasks x cells file
    explosion at scale), and pass serial fixture-scale inputs through
    untouched (the exchange measured +1.5 s/save for zero file-count
    change at sf0.01). Wide case: one file per (batch_id, cell) dir."""
    import glob

    from pyspark.sql import functions as F

    from sql4pandas_spark.operators.similarity import (
        _cluster_for_partitioned_write,
        build_ivf_index,
        save_ivf_index,
    )

    # serial source (one small parquet file -> one scan task): identical
    # object back, no exchange
    serial_dir = str(tmp_path / "serial")
    spark.createDataFrame(
        [(i, i % 4, 0) for i in range(16)], ["vec_id", "cell", "batch_id"]
    ).coalesce(1).write.parquet(serial_dir)
    narrow = spark.read.parquet(serial_dir)
    assert _cluster_for_partitioned_write(narrow, narrow) is narrow

    # wide input: a many-file parquet-backed vector table must yield ONE
    # file per (batch_id, cell) directory after save
    src = str(tmp_path / "emb_src")
    (
        spark.range(0, 512, 1, 8)
        .select(
            F.col("id").alias("vec_id"),
            F.array(
                (F.col("id") % 7).cast("double"),
                (F.col("id") % 5).cast("double"),
                F.lit(1.0),
            ).alias("embedding"),
        )
        .write.parquet(src)
    )
    emb = spark.read.parquet(src)
    idx = build_ivf_index(emb, n_cells=4)
    root = str(tmp_path / "ivf_root")
    save_ivf_index(idx, root)
    idx.assigned.unpersist()
    for d in glob.glob(f"{root}/assigned/batch_id=0/cell=*"):
        files = glob.glob(f"{d}/part-*.parquet")
        assert len(files) == 1, (d, files)
