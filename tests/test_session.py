"""Session factory confs that must reach the JVM."""


def test_codegen_cache_holds_more_than_sparks_default(spark):
    """``get_spark`` sizes Spark's compiled-class cache past its default
    of 100 entries: after 150 distinct tiny projections, the first one
    re-runs without a compilation. With the default it would have been
    evicted and compiled again."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def run(i):
        # executing the physical plan compiles its whole-stage code on
        # the driver; no job needs to run
        df = spark.range(0, 1, 1, 1).selectExpr(f"id + {i} AS v")
        df._jdf.queryExecution().executedPlan().execute()

    for i in range(150):
        run(i)
    before = metrics.METRIC_COMPILATION_TIME().getCount()
    run(0)
    after = metrics.METRIC_COMPILATION_TIME().getCount()
    assert after == before, (before, after)
