"""Session defaults that a pass over the registry depends on."""

from __future__ import annotations

from streaming_data_ingestion_spark.registry import all_queries

from .conftest import SF_DIR

# perfbench's analytic workload: one pass compiles 150-170 generated
# classes at sf0.001 on this suite's local[8] session
ANALYTIC_KEYS = (
    "q_agg_group",
    "q_join_multi",
    "q_win_frame",
    "q_dedup_clusters",
    "q_ngrams",
    "q_sim_ivf",
    "q_udf_pandas",
    "q_tpch_q18",
)


def _compiles(spark) -> int:
    jvm = spark.sparkContext._jvm
    return jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()


def test_second_pass_compiles_no_class(spark):
    """The codegen class cache holds a pass's working set: the second
    pass over the analytic keys reuses every generated class. With
    Spark's default of 100 entries the LRU evicts each class before the
    next pass reaches it, and the second pass recompiles about 150."""
    specs = all_queries()

    def run_pass() -> None:
        for name in ANALYTIC_KEYS:
            specs[name].fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()

    run_pass()
    before = _compiles(spark)
    assert before > 0  # the histogram counts this JVM's compiles
    run_pass()
    assert _compiles(spark) - before == 0
