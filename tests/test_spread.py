"""The analysis-only scan-width probe behind spread_for_compute and the
IVF partitioned write, and the spread width it sizes from input bytes."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.mark.parametrize(
    "n_files, rows, max_partition_bytes",
    [(1, 4000, None), (40, 4000, None), (1, 200_000, "64k")],
)
def test_planned_scan_tasks_matches_spark_file_packing(
    spark, tmp_path, n_files, rows, max_partition_bytes
):
    """Spark packs small files into shared scan tasks (each file padded by
    openCostInBytes, tasks filled up to maxSplitBytes) and splits a file
    larger than maxSplitBytes, so 40 tiny files scan as a few tasks, not
    40; the estimate must equal the real scan's partition count."""
    from sql4pandas_spark.operators.spread import planned_scan_tasks

    out = str(tmp_path / "files")
    spark.range(0, rows, 1, n_files).toDF("doc_id").write.parquet(out)
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    if max_partition_bytes:
        spark.conf.set(key, max_partition_bytes)
    try:
        df = spark.read.parquet(out)
        assert len(df.inputFiles()) == n_files
        tasks = planned_scan_tasks(df)
        assert tasks == df.rdd.getNumPartitions()
    finally:
        spark.conf.set(key, old)
    if n_files > 1:
        assert tasks < n_files
    if max_partition_bytes:
        assert tasks > 1


def test_planned_scan_tasks_unknown_without_input_files(spark):
    from sql4pandas_spark.operators.spread import planned_scan_tasks

    assert planned_scan_tasks(spark.range(100)) == 0


# ------------------------------------------- spread width follows bytes


def test_small_one_file_input_passes_through(spark, tmp_path):
    """A one-file input under SPREAD_TARGET_BYTES spreads to width 1,
    which its one scan task already has: no exchange is added."""
    from sql4pandas_spark.operators.spread import (
        SPREAD_TARGET_BYTES,
        spread_for_compute,
        spread_width,
    )

    out = str(tmp_path / "small")
    spark.range(0, 2000, 1, 1).toDF("doc_id").write.parquet(out)
    small = spark.read.parquet(out)
    nbytes = sum(p.stat().st_size for p in tmp_path.rglob("*.parquet"))
    assert nbytes < SPREAD_TARGET_BYTES
    assert spread_width(small) == (1, 1)
    assert spread_for_compute(small) is small


def test_wide_input_spreads_to_full_session_width(spark, tmp_path):
    """Many files holding more than width x SPREAD_TARGET_BYTES: Spark
    packs them into fewer scan tasks than the session width, so the
    spread still repartitions, to the full session width."""
    from sql4pandas_spark.operators.spread import (
        SPREAD_TARGET_BYTES,
        compute_width,
        planned_scan_tasks,
        spread_for_compute,
        spread_width,
    )

    width = compute_width(spark)
    out = str(tmp_path / "wide")
    key = F.col("id").cast("string")
    text = F.concat(F.sha2(key, 256), F.sha2(key, 512))
    spark.range(0, 60_000, 1, 40).select(
        F.col("id").alias("doc_id"), text.alias("text")
    ).write.parquet(out)
    nbytes = sum(p.stat().st_size for p in tmp_path.rglob("*.parquet"))
    assert nbytes > width * SPREAD_TARGET_BYTES
    wide = spark.read.parquet(out)
    assert len(wide.inputFiles()) == 40
    assert 0 < planned_scan_tasks(wide) < width
    assert spread_width(wide)[0] == width
    assert spread_for_compute(wide).rdd.getNumPartitions() == width


def test_spread_width_follows_input_bytes(spark, tmp_path):
    """Between the two ends the width is one task per SPREAD_TARGET_BYTES
    of input, rounded up."""
    from sql4pandas_spark.operators.spread import (
        SPREAD_TARGET_BYTES,
        compute_width,
        spread_for_compute,
    )

    out = str(tmp_path / "mid")
    text = F.sha2(F.col("id").cast("string"), 512)
    spark.range(0, 4000, 1, 1).select(
        F.col("id").alias("doc_id"), text.alias("text")
    ).write.parquet(out)
    nbytes = sum(p.stat().st_size for p in tmp_path.rglob("*.parquet"))
    want = -(-nbytes // SPREAD_TARGET_BYTES)
    assert 1 < want < compute_width(spark)
    got = spread_for_compute(spark.read.parquet(out))
    assert got.rdd.getNumPartitions() == want
    assert got.count() == 4000


def test_unknown_size_keeps_session_width(spark, tmp_path, monkeypatch):
    """No file inputs, or a probe that fails: the size is unknown, so the
    spread takes the session width (assume serial and large)."""
    from sql4pandas_spark.operators import spread

    width = spread.compute_width(spark)
    assert spread.spread_width(spark.range(10)) == (width, 0)

    out = str(tmp_path / "probe_error")
    spark.range(0, 100, 1, 1).toDF("doc_id").write.parquet(out)
    df = spark.read.parquet(out)
    assert spread.spread_width(df)[0] == 1

    def broken(_df):
        raise RuntimeError("probe failed")

    monkeypatch.setattr(spread, "scan_layout", broken)
    assert spread.spread_width(df) == (width, 0)
    assert spread.spread_for_compute(df).rdd.getNumPartitions() == width
