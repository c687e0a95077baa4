"""The analysis-only scan-width probe behind spread_for_compute and the
IVF partitioned write."""

from __future__ import annotations

import pytest


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
