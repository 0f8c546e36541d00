"""Session-level regression: the codegen cache holds the registry's
working set, so a long-lived session compiles each generated class once.

Spark's default ``spark.sql.codegen.cache.maxEntries`` (100) is smaller
than the classes these 8 sub-second registry queries generate, so at
the default every pass evicts and recompiles most of them.
"""

from __future__ import annotations

from cdc_extractor_spark.queries import QUERIES

FLOOR_QUERIES = (
    "agg_max_offset",
    "cdc_version_delta",
    "doc_repetition_flags",
    "interval_user_coverage",
    "pii_redaction",
    "sketch_mergeable_hll",
    "tfidf_term_stats",
    "weighted_doc_sample",
)


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _codegen_cache(spark):
    """The JVM-wide compiled-class cache, a private field of the
    ``CodeGenerator`` object."""
    module = spark._jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$"
    )
    field = module.getDeclaredField("cache")
    field.setAccessible(True)
    return field.get(None)


def _pass(spark, sf_dir) -> int:
    before = _compiles(spark)
    for name in FLOOR_QUERIES:
        QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
    return _compiles(spark) - before


def test_codegen_cache_holds_the_working_set(spark, sf_dir):
    cache = _codegen_cache(spark)
    # start empty, so the first pass counts the queries' whole working
    # set whatever ran earlier in this JVM
    cache.invalidateAll()
    first = _pass(spark, sf_dir)
    second = _pass(spark, sf_dir)
    # more classes than Spark's default cap, so the default would fail
    assert first > 100, first
    # Every class either pass compiled is still cached: nothing was
    # evicted, so the second pass recompiled none of the first pass's
    # classes (at the default cap it recompiles over 130).  The second
    # pass is not asserted to compile 0: sketch_mergeable_hll's adaptive
    # plan differs between builds in about half of all runs, and then
    # its second build adds 2-4 classes the first did not need.
    assert cache.size() == first + second, (cache.size(), first, second)
