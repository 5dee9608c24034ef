"""Per-query job/stage/task-count profiler (VERDICT r14 #1/#8).

For each registered query: time the BUILD (the ``queries()`` callable)
and the EXECUTE (noop sink) separately, and count the Spark jobs,
stages and tasks each phase launched via ``sc.statusTracker`` job
groups. The per-query fixed job count is the scheduler cost a 100 TB
cluster pays per query — the r15 optimization target — and this output
is the checkable artifact for "fewer jobs" claims (committed under
plans/r15/).

``build_compiles`` / ``exec_compiles`` count the generated classes Janino
compiled in each phase: the change of Spark's
``CodegenMetrics.METRIC_COMPILATION_TIME`` histogram count, one driver
read per phase, no job. A class served from Spark's codegen cache is not
counted, so naming the same queries twice shows, in the second listing,
what each query recompiles on every call (plans/r16/compiles_*.jsonl).

``build_job_sec`` / ``exec_job_sec`` are the seconds in each phase during
which at least one of its Spark jobs ran: the union of the jobs'
submission-to-completion intervals in Spark's status store. A phase's
``*_sec`` minus its ``*_job_sec`` is its time outside Spark jobs
(planning, driver-side solves, collects).

Usage: python tools/profile_jobs.py [name ...]   (default: all; a name may repeat)
Output: one JSON line per query to stdout:
  {"name":..., "build_sec":..., "exec_sec":..., "build_job_sec":..., "exec_job_sec":...,
   "jobs":..., "stages":..., "tasks":..., "build_compiles":..., "exec_compiles":...}
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from etl_dag_spark.session import get_spark, quiet_benign_logs

    spark = get_spark(app_name="profile-jobs", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    quiet_benign_logs(spark)

    from etl_dag_spark.operators.hierarchy import release_persisted
    from etl_dag_spark.queries import SPARK_QUERIES

    names = sys.argv[1:] or sorted(SPARK_QUERIES)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    compile_time = sc._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    # warm codegen/JVM once
    SPARK_QUERIES["bi_revenue_by_category"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()

    store = sc._jsc.sc().statusStore()
    listener_bus = sc._jsc.sc().listenerBus()

    def counts(group: str) -> tuple[int, int, int, float]:
        listener_bus.waitUntilEmpty()  # the store has every job's end
        jobs = tracker.getJobIdsForGroup(group)
        stages = 0
        tasks = 0
        spans = []
        for j in jobs:
            ji = tracker.getJobInfo(j)
            if ji is None:
                continue
            for sid in ji.stageIds:
                si = tracker.getStageInfo(sid)
                if si is not None:
                    stages += 1
                    tasks += si.numTasks
            jd = store.job(j)
            if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
                spans.append(
                    (jd.submissionTime().get().getTime(), jd.completionTime().get().getTime())
                )
        # union of the jobs' intervals, in ms
        busy, end = 0, None
        for start, stop in sorted(spans):
            if end is None or start > end:
                busy += stop - start
                end = stop
            elif stop > end:
                busy += stop - end
                end = stop
        return len(jobs), stages, tasks, busy / 1000

    for i, name in enumerate(names):
        fn = SPARK_QUERIES[name]
        # the listing index keeps a repeated name's groups apart
        gb = f"build:{i}:{name}"
        sc.setJobGroup(gb, gb)
        c0 = compile_time.getCount()
        t0 = time.time()
        df = fn(spark, sf_dir)
        t1 = time.time()
        c1 = compile_time.getCount()
        bj, bs, bt, bsec = counts(gb)
        ge = f"exec:{i}:{name}"
        sc.setJobGroup(ge, ge)
        t2 = time.time()
        df.write.format("noop").mode("overwrite").save()
        t3 = time.time()
        c2 = compile_time.getCount()
        ej, es, et, esec = counts(ge)
        sc.setJobGroup(None, None)
        release_persisted()
        print(
            json.dumps(
                {
                    "name": name,
                    "build_sec": round(t1 - t0, 3),
                    "exec_sec": round(t3 - t2, 3),
                    "total_sec": round((t1 - t0) + (t3 - t2), 3),
                    "build_job_sec": round(bsec, 3),
                    "exec_job_sec": round(esec, 3),
                    "build_jobs": bj,
                    "exec_jobs": ej,
                    "jobs": bj + ej,
                    "stages": bs + es,
                    "tasks": bt + et,
                    "build_compiles": c1 - c0,
                    "exec_compiles": c2 - c1,
                }
            ),
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
