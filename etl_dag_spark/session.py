"""SparkSession factory tuned for the local[32] harness.

At cluster scale the same flags apply; only master/memory change. AQE is
the load-bearing setting: it coalesces post-shuffle partitions, re-plans
joins to broadcast at runtime, and splits skewed partitions — all of
which matter far more at 100 TB than on the test scale factors.

The one setting sized to this program's query mix, not to the cluster,
is Spark's generated-class cache (``CODEGEN_CACHE_MAX_ENTRIES``). Spark
keeps each compiled whole-stage and expression class in an LRU of
``spark.sql.codegen.cache.maxEntries`` entries, 100 by default; a
workload that cycles through more distinct classes than that misses on
every access, so Janino recompiles its whole working set on every pass
(about 9 ms per class on a 4-CPU host). Measured working sets:

- the ``bi_olap`` benchmark's nine ops: 137 classes per pass at sf0.1
  (145 in the cold pass); at 100 entries every steady pass recompiled
  all of them, about 1.3 s of a 7.4 s pass, and at 1000 only the 10
  that ``bi_ancestor_chain`` makes anew on every call
  (``operators/adaptive.py::collect_if_small``;
  ``plans/r16/compiles_{before,after}.jsonl``);
- one ETL load (``plans/etl_pipeline.py::run_pipeline``): 34 classes,
  which fit either way (warm loads compile nothing);
- the whole registry: about 3,000 distinct classes in one sf0.001 pass,
  during which Metaspace grew 75 -> 230 MB, so at most about 50 KB of
  Metaspace per cached class.

It is a static conf, read once when the session is created.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Generated classes Spark keeps compiled (its default is 100). 1000
# holds every benchmark working set above (bi_olap's 137, an ETL
# load's 34) with room for a mix of them, at a Metaspace cost of at most
# about 50 MB (~50 KB per class, measured over a whole-registry pass).
CODEGEN_CACHE_MAX_ENTRIES = 1000


def get_spark(
    app_name: str = "etl-dag-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "32")
    shuffle_partitions = shuffle_partitions or 2 * int(cpus)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # scan split size: 128 MB keeps a full parquet split + its
        # decompressed batch well inside an executor core's memory share
        # at cluster scale; AQE coalesces the small-file end of the range
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_MAX_ENTRIES))
        .config("spark.ui.enabled", "false")
        # stderr is the one channel a real regression surfaces in —
        # keep carriage-return progress bars out of it
        .config("spark.ui.showConsoleProgress", "false")
    )
    return builder.getOrCreate()


def quiet_benign_logs(spark: SparkSession) -> None:
    """Silence the known-benign ``DAGScheduler: Failed to update
    accumulator … attempted to access non-existent accumulator`` ERROR
    class: a Spark artifact of ``unpersist()``/``localCheckpoint()``
    teardown racing straggler task completion (the accumulator is
    deregistered while a finished task's update is still in flight).
    It is cosmetic — the task already succeeded — but it pollutes
    err.log, the channel a real regression would surface in.

    Implementation: attach a Log4j2 ``StringMatchFilter`` scoped to the
    exact message class (DENY on match, NEUTRAL otherwise) to a
    dedicated DAGScheduler ``LoggerConfig`` — NOT a blanket level
    change, so the scheduler's real ERROR/WARN output (stage failures,
    barrier/executor-loss diagnostics) still reaches stderr, and so do
    all other loggers. The config is additive: non-matching events
    flow to the root appenders unchanged. Call from bench / driver-sim
    style harnesses; interactive sessions can keep it."""
    jvm = spark.sparkContext._jvm
    name = "org.apache.spark.scheduler.DAGScheduler"
    result = jvm.org.apache.logging.log4j.core.Filter.Result
    b = jvm.org.apache.logging.log4j.core.filter.StringMatchFilter.newBuilder()
    b.setMatchString("Failed to update accumulator")
    b.setOnMatch(result.DENY)
    b.setOnMismatch(result.NEUTRAL)
    filt = b.build()
    filt.start()
    ctx = jvm.org.apache.logging.log4j.core.LoggerContext.getContext(False)
    cfg = ctx.getConfiguration()
    lc = cfg.getLoggerConfig(name)
    if lc.getName() != name:
        # events currently route through an ancestor config (root):
        # create a dedicated additive config so the filter touches only
        # this logger's events
        lc = jvm.org.apache.logging.log4j.core.config.LoggerConfig(
            name, lc.getLevel(), True
        )
        cfg.addLogger(name, lc)
    lc.addFilter(filt)
    ctx.updateLoggers()
