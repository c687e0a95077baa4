"""Round-15 optimization-phase focused tests: the spread_for_compute
parallelism guard and the gopher_rules extra_cols collision validation.
(The connected_components convergence-check tests live in
tests/test_dedup.py, run on both components paths, with the near-dedup
store file-sizing test; the IVF save clustering test lives in
tests/test_similarity.py.)"""

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
