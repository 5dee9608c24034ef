"""get_spark's codegen cache must hold a repeated query mix: a second
round of the same queries compiles no generated class.

quiet_benign_logs: the filter must drop EXACTLY the benign
accumulator-teardown message class and nothing else (ADVICE r9: the
old implementation raised the whole DAGScheduler logger to FATAL,
silencing real stage-failure diagnostics from err.log).

The JVM writes to the process stderr fd it inherited at spawn, which
pytest's capfd cannot re-point per-test — so the end-to-end check runs
a subprocess with stderr redirected to a pipe; config-shape checks run
in-process on the shared session.
"""

from __future__ import annotations

import subprocess
import sys

from tests.conftest import SF_DIR

# perfbench's bi_olap ops
_REPEATED_OPS = [
    "bi_revenue_by_category",
    "bi_top_customers",
    "bi_monthly_trend",
    "bi_customers_no_purchase",
    "bi_hierarchy_levels",
    "bi_ancestor_chain",
    "olap_nation_pagerank",
    "olap_trade_reach",
    "olap_shipping_priority",
]

_PROBE = r"""
from etl_dag_spark.session import get_spark, quiet_benign_logs
spark = get_spark("log-filter-probe", cpus=2)
spark.sparkContext.setLogLevel("ERROR")
quiet_benign_logs(spark)
quiet_benign_logs(spark)  # idempotent: harnesses may call twice
jvm = spark.sparkContext._jvm
dag = jvm.org.apache.logging.log4j.LogManager.getLogger(
    "org.apache.spark.scheduler.DAGScheduler")
other = jvm.org.apache.logging.log4j.LogManager.getLogger(
    "org.apache.spark.storage.BlockManager")
dag.error("Failed to update accumulator 42 (etl-test): attempted to"
          " access non-existent accumulator 42")
dag.error("ETL-TEST real DAGScheduler failure line")
other.error("ETL-TEST other-logger error line")
spark.stop()
"""


def test_quiet_benign_logs_is_message_scoped_end_to_end():
    proc = subprocess.run(
        [sys.executable, "-c", _PROBE],
        capture_output=True,
        text=True,
        timeout=300,
    )
    err = proc.stderr
    assert proc.returncode == 0, err[-2000:]
    assert "Failed to update accumulator 42" not in err
    # real output on the SAME logger survives (this is what the old
    # FATAL-level implementation lost)
    assert err.count("ETL-TEST real DAGScheduler failure line") == 1
    # and other loggers are untouched
    assert err.count("ETL-TEST other-logger error line") == 1


def test_quiet_benign_logs_config_shape(spark):
    from etl_dag_spark.session import quiet_benign_logs

    quiet_benign_logs(spark)
    jvm = spark.sparkContext._jvm
    ctx = jvm.org.apache.logging.log4j.core.LoggerContext.getContext(False)
    cfg = ctx.getConfiguration()
    lc = cfg.getLoggerConfig("org.apache.spark.scheduler.DAGScheduler")
    # a DEDICATED config exists for the logger (not the root catch-all)
    assert lc.getName() == "org.apache.spark.scheduler.DAGScheduler"
    # additive: non-matching events still flow to the root appenders
    assert lc.isAdditive()
    # and the level was NOT forced to FATAL — ERROR/WARN still pass
    assert str(lc.getLevel()) != "FATAL"
    assert lc.getFilter() is not None


def test_codegen_cache_holds_a_repeated_query_mix(spark):
    """The nine ops cycle through about 120 generated classes, more than
    Spark's default 100-entry cache: with it the second round recompiled
    95 of them."""
    from etl_dag_spark.operators.hierarchy import release_persisted
    from etl_dag_spark.queries import SPARK_QUERIES

    jvm = spark.sparkContext._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def one_round() -> int:
        before = compiles.getCount()
        for name in _REPEATED_OPS:
            try:
                SPARK_QUERIES[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
            finally:
                release_persisted()
        return compiles.getCount() - before

    one_round()
    assert one_round() == 0
