"""Session-level confs that only ``get_spark`` can set."""

from __future__ import annotations


def test_codegen_cache_keeps_a_plan_shape_past_100_other_shapes(spark):
    """A plan shape run again after more than 100 other shapes must hit
    Spark's codegen class cache instead of recompiling: Spark's default
    cache holds 100 entries, fewer than one curation pass generates, so
    every warm query recompiled its classes."""
    from sql4pandas_spark.session import CODEGEN_CACHE_ENTRIES

    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def compile_shape(expr: str) -> None:
        # planning the RDD compiles the whole-stage class; no job runs
        spark.range(10).selectExpr(expr)._jdf.queryExecution().toRdd()

    compile_shape("id * 7919 + 104729")
    before = compiles.getCount()
    for i in range(120):
        compile_shape(f"id * {i}")
    assert compiles.getCount() - before >= 120  # each shape compiled
    before = compiles.getCount()
    compile_shape("id * 7919 + 104729")
    assert compiles.getCount() == before
