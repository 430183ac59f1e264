"""Generated code stays resident across repeated queries (session.py,
``CODEGEN_CACHE_ENTRIES``)."""

import shutil

from conftest import SF_DIR

from iiot_data_engineering_lab_assignment_spark import registry

#: The 13 queries of the benchmark's analyst mix: 12 short analyst queries
#: and the curator's keep-best dedup.  At sf0.001 they need 227 generated
#: classes, over Spark's default cache of 100, so a second pass under the
#: default compiles all of them again.
MIX = [
    "sensor_rollup_1m",
    "latest_reading_per_sensor",
    "sliding_rollup_1m_30s",
    "session_rollup_5m",
    "rollup_cascade_hourly",
    "q1_pricing_summary",
    "q18_large_volume_customers",
    "customer_order_revenue",
    "asof_join_purchase_click",
    "gapfill_locf_daily",
    "zscore_anomalies",
    "moving_avg_per_user",
    "dedup_keep_best",
]


def test_repeated_queries_compile_nothing(spark, tmp_path):
    """Two passes over the same queries: the second must find every class
    it needs in the cache.  Two sources of new classes that are not
    eviction are held off, so any compilation in the second pass is one:
    the queries read a private copy of the tables, since the suite's
    cached fixture scans would substitute into their plans and a cached
    relation's statistics change with its first reads; and AQE is off,
    since the join strategy it picks depends on which query stages finish
    first."""
    sf_dir = str(shutil.copytree(SF_DIR, tmp_path / "sf"))
    compilations = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def run_pass() -> int:
        before = compilations.getCount()
        for name in MIX:
            registry.QUERIES[name].fn(spark, sf_dir).collect()
        return compilations.getCount() - before

    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        run_pass()
        assert run_pass() == 0
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
