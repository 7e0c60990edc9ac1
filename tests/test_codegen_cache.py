"""The session's generated-code cache holds a serving loop's classes:
a repeated query mix compiles nothing on its second pass."""

from __future__ import annotations

from tree_sitter_analyzer_spark.registry import load_all

from .conftest import SF_TINY

# an interactive spatial mix: the benchmark's registry queries and more
QUERIES = ["tile_manifest", "pip_join", "knn", "zonal_stats", "phash_dups",
           "zone_assignment", "pip_anti", "knn_self", "radius_join",
           "top_tiles_per_zone", "cell_density_heatmap"]


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _codegen_cache(spark):
    """Spark's cache of compiled classes (a private field of the
    ``CodeGenerator`` object)."""
    cls = spark._jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$")
    field = cls.getDeclaredField("cache")
    field.setAccessible(True)
    return field.get(cls.getField("MODULE$").get(None))


def _run(spark, registry) -> int:
    before = _compiles(spark)
    for name in QUERIES:
        registry[name].spark_fn(spark, SF_TINY).toPandas()
    return _compiles(spark) - before


def test_second_pass_compiles_nothing(spark):
    registry = load_all()
    cache = _codegen_cache(spark)
    cache.invalidateAll()
    # from an empty cache the first pass compiles each of the mix's
    # classes: more than Spark's default cache of 100 holds
    assert _run(spark, registry) > 100
    assert _run(spark, registry) == 0
