"""The session ``get_spark`` builds keeps generated code across queries."""

from pyspark.sql import functions as F

from pyg_timeseries_spark.session import CODEGEN_CACHE_ENTRIES


def test_codegen_cache_holds_a_working_set_over_100_classes(spark):
    """A fixed set of queries that compiles more than 100 distinct classes
    (Spark's default cache size), run twice: the second pass compiles
    nothing.  With 100 entries every class is evicted before its reuse."""
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME()
    # a literal is inlined into the generated source: one class per k
    queries = [spark.range(4).select((F.col("id") * k + 1).alias("x"))
               for k in range(2, 152)]

    def compiled_by_one_pass() -> int:
        before = compiles.getCount()
        for q in queries:
            q.collect()
        return compiles.getCount() - before

    first = compiled_by_one_pass()
    assert 100 < first <= CODEGEN_CACHE_ENTRIES
    assert compiled_by_one_pass() == 0
