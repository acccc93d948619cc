"""Generated-code reuse across operations: the session's codegen cache
(``session.CODEGEN_CACHE_ENTRIES``) holds the dedup chain's working set, so
a repeated pass finds its whole-stage classes compiled instead of
recompiling them. With Spark's default 100-entry cache the chain's ~240
classes evict each other in a cycle and every pass recompiles them all.
The session's JVM also runs with the raised C2 thresholds
(``session.DRIVER_JIT_OPTIONS``)."""

from conftest import SF_DIR

from otel_arrow_adapter_spark.session import DRIVER_JIT_OPTIONS

DEDUP_QUERIES = (
    "doc_dup_clusters",
    "doc_clean_corpus_near",
    "doc_leakage_free_split",
    "doc_incremental_dedup",
)


def _compiles(spark) -> int:
    return spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()


def _dedup_pass(spark) -> int:
    """Janino compiles of one pass of the four dedup queries."""
    import __spark_entry__ as entry

    before = _compiles(spark)
    for name in DEDUP_QUERIES:
        res = entry.QUERIES[name](spark, SF_DIR)
        res.collect()
        res.unpersist()
    return _compiles(spark) - before


def test_repeated_dedup_pass_reuses_generated_code(spark):
    first = _dedup_pass(spark)
    second = _dedup_pass(spark)
    assert second < 0.1 * first, (first, second)


def test_driver_jvm_runs_with_jit_thresholds(spark):
    mx = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
    args = set(mx.getInputArguments())
    missing = [o for o in DRIVER_JIT_OPTIONS.split() if o not in args]
    assert not missing, (missing, sorted(args))
