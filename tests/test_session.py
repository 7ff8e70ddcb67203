"""The tuned session keeps compiled generated code for the whole
working set of plan shapes a session cycles through."""

from __future__ import annotations

from lance_duckdb_spark import session

N_SHAPES = 150  # more distinct classes than Spark's default cache (100)


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_codegen_cache_holds_registry_working_set(spark):
    conf = int(spark.conf.get("spark.sql.codegen.cache.maxEntries"))
    assert conf == session.CODEGEN_CACHE_MAX_ENTRIES
    assert conf >= session.REGISTRY_CODEGEN_CLASSES


def test_repeated_plan_shapes_do_not_recompile(spark):
    def run_round():
        # the offset keeps these literals clear of other tests' plans
        for i in range(N_SHAPES):
            spark.range(10).selectExpr(f"id * {i + 7919} AS x").collect()

    before = _compiles(spark)
    run_round()
    first = _compiles(spark) - before
    assert first >= N_SHAPES  # every shape compiled at least one class

    before = _compiles(spark)
    run_round()
    assert _compiles(spark) - before == 0
