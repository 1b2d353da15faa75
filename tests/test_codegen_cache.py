"""Generated code is compiled once per session: running the same
statements again reuses the Janino-compiled classes instead of compiling
them anew (``spark.sql.codegen.cache.maxEntries`` in ``session.get_spark``
holds the registry's working set)."""

from __future__ import annotations


def _compilations(spark) -> int:
    """Janino compilations so far in this JVM."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_repeated_tpch_round_compiles_nothing(spark, sf_oracle_dir):
    """A second round of the 22 tpch_adhoc queries compiles no class: with
    Spark's default cache of 100 entries each round evicts code a later
    query needs, and the second round recompiled ~290 units.

    Both rounds run with AQE off, as the benchmark profile does: AQE
    re-plans joins from whichever stages have finished, so q2, q7 and q20
    can run another plan, and compile its code, on a repeat."""
    from iceberg_trino_sql_demo_spark import operators as ops
    from iceberg_trino_sql_demo_spark.session import pinned_conf, register_views
    from perfbench.workloads import TPCH_QUERIES

    ops.load_all()
    register_views(spark, sf_oracle_dir)

    def run_round() -> int:
        before = _compilations(spark)
        for name in TPCH_QUERIES:
            try:
                df = ops.QUERIES[name](spark, sf_oracle_dir)
                df.write.format("noop").mode("overwrite").save()
            finally:
                ops.release_caches()
        return _compilations(spark) - before

    with pinned_conf(spark, {"spark.sql.adaptive.enabled": "false"}):
        first = run_round()
        assert first > 0  # the counter sees this session's compiles
        assert run_round() == 0
