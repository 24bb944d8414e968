"""Generated-code cache sizing (session.py): a query re-issued in the
same session must reuse its generated classes, not recompile them.

Spark's default cache holds 100 classes (LRU). A working set just
above that — about 120 classes here, one query_mix pass is 226 —
cycles every class out before it comes round again, so a second pass
recompiles all of it. The session sizes the cache above the registry's
working set; this pins that a second pass over 120 classes compiles
nothing."""

from __future__ import annotations

import time

_PLANS = 60


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _pass(spark, base: int) -> int:
    before = _compiles(spark)
    for i in range(_PLANS):
        df = spark.range(8).selectExpr(f"id * {i} + {base + i} AS x")
        df.write.format("noop").mode("overwrite").save()
    return _compiles(spark) - before


def test_codegen_cache_holds_working_set(spark):
    # literals are inlined into the generated source: a per-run base
    # keeps earlier tests in this JVM from having compiled these plans
    base = time.time_ns() % 10**12 * 1000
    first = _pass(spark, base)
    second = _pass(spark, base)
    # the set overflows Spark's default cache of 100 classes
    assert first > 100
    assert second == 0
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "4096"
