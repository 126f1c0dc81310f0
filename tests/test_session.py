"""Engine session defaults: generated code compiles once per session."""

from __future__ import annotations


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _run(spark, i: int) -> None:
    # the literal is inlined into the generated source, so every i
    # compiles a distinct class
    spark.range(10).selectExpr(f"id * {i} + 1").write.format("noop").mode(
        "overwrite"
    ).save()


def test_codegen_cache_outlives_spark_default_of_100(spark):
    """Spark's default cache keeps 100 classes; a registry sweep makes
    thousands, so with the default every warm query recompiles."""
    first = 1_000_003
    for i in range(first, first + 150):
        _run(spark, i)
    before = _compiles(spark)
    _run(spark, first)
    assert _compiles(spark) == before
