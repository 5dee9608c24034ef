"""DAG orchestrator (plans/dag.py) — the Spark-native replacement for
the reference's Airflow surface (ETL_DAG.py:241-277): dependency
ordering, retries, context passing, cycle/missing-dep failure."""

from __future__ import annotations

import graphlib

import pytest

from etl_dag_spark.plans.dag import DAG, Task


def test_runs_in_dependency_order_and_passes_context():
    dag = DAG("etl")
    order: list[str] = []

    @dag.task("load_env_vars")
    def load_env(ctx):
        order.append("load_env_vars")
        return {"sf": 0.001}

    @dag.task("validate_files", deps=("load_env_vars",))
    def validate(ctx):
        order.append("validate_files")
        assert ctx["load_env_vars"] == {"sf": 0.001}
        return "ok"

    @dag.task("load_data", deps=("validate_files",))
    def load(ctx):
        order.append("load_data")
        return ctx["validate_files"] + "!"

    ctx = dag.run()
    assert order == ["load_env_vars", "validate_files", "load_data"]
    assert ctx["load_data"] == "ok!"


def test_retries_then_succeeds():
    dag = DAG("retrying")
    attempts = {"n": 0}

    def flaky(ctx):
        attempts["n"] += 1
        if attempts["n"] < 3:
            raise RuntimeError("transient")
        return "done"

    dag.add(Task("flaky", flaky, retries=3, retry_delay_s=0.0))
    assert dag.run()["flaky"] == "done"
    assert attempts["n"] == 3


def test_retries_exhausted_reraises():
    dag = DAG("failing")
    dag.add(Task("always_bad", lambda ctx: 1 / 0, retries=1, retry_delay_s=0.0))
    with pytest.raises(ZeroDivisionError):
        dag.run()


def test_cycle_raises():
    dag = DAG("cyclic")
    dag.add(Task("a", lambda ctx: None, deps=("b",)))
    dag.add(Task("b", lambda ctx: None, deps=("a",)))
    with pytest.raises(graphlib.CycleError):
        dag.run()


def test_duplicate_task_rejected():
    dag = DAG("dup")
    dag.add(Task("t", lambda ctx: None))
    with pytest.raises(ValueError, match="duplicate"):
        dag.add(Task("t", lambda ctx: None))


def test_resume_dir_skips_completed_prefix(tmp_path):
    """A run that fails mid-DAG leaves done-markers for the completed
    prefix; the rerun with the same resume_dir re-executes ONLY the
    failed task and its successors (Airflow retry-from-failed-task),
    and a third run is a full no-op."""
    from etl_dag_spark.plans.dag import DAG

    calls = {"a": 0, "b": 0, "c": 0}
    fail_b = {"flag": True}
    dag = DAG("resumable")

    @dag.task("a")
    def a(ctx):
        calls["a"] += 1

    @dag.task("b", deps=("a",))
    def b(ctx):
        calls["b"] += 1
        if fail_b["flag"]:
            raise RuntimeError("transient")

    @dag.task("c", deps=("b",))
    def c(ctx):
        calls["c"] += 1

    rd = str(tmp_path / "run1")
    import pytest as _pytest

    with _pytest.raises(RuntimeError):
        dag.run(resume_dir=rd)
    assert calls == {"a": 1, "b": 1, "c": 0}

    fail_b["flag"] = False
    dag.run(resume_dir=rd)
    assert calls == {"a": 1, "b": 2, "c": 1}  # a skipped via marker

    dag.run(resume_dir=rd)
    assert calls == {"a": 1, "b": 2, "c": 1}  # everything skipped


def test_parallel_runs_independent_branches_concurrently():
    """Diamond a → (b, c) → d with two 0.6 s branches: concurrent
    execution must beat the 1.2 s sequential sum."""
    import time

    dag = DAG("diamond")
    order = []

    @dag.task("a")
    def a(ctx):
        order.append("a")
        return 1

    @dag.task("b", deps=("a",))
    def b(ctx):
        time.sleep(0.6)
        order.append("b")
        return ctx["a"] + 10

    @dag.task("c", deps=("a",))
    def c(ctx):
        time.sleep(0.6)
        order.append("c")
        return ctx["a"] + 100

    @dag.task("d", deps=("b", "c"))
    def d(ctx):
        order.append("d")
        return ctx["b"] + ctx["c"]

    t0 = time.time()
    ctx = dag.run(max_workers=4)
    wall = time.time() - t0
    assert ctx["d"] == 112
    assert order[0] == "a" and order[-1] == "d"
    assert wall < 1.1, wall  # branches overlapped (sequential would be ≥1.2)


def test_parallel_failed_branch_skips_dependents_but_drains_others():
    """Airflow semantics: b fails → d never starts; the independent c
    branch completes; the error re-raises at the end."""
    dag = DAG("fail-branch")
    ran = []

    @dag.task("a")
    def a(ctx):
        ran.append("a")

    @dag.task("b", deps=("a",))
    def b(ctx):
        raise RuntimeError("boom")

    @dag.task("c", deps=("a",))
    def c(ctx):
        ran.append("c")

    @dag.task("d", deps=("b",))
    def d(ctx):
        ran.append("d")

    with pytest.raises(RuntimeError, match="boom"):
        dag.run(max_workers=4)
    assert "c" in ran and "d" not in ran


def test_parallel_respects_resume_markers(tmp_path):
    dag = DAG("resume-par")
    calls = {"a": 0, "b": 0, "c": 0}

    @dag.task("a")
    def a(ctx):
        calls["a"] += 1

    @dag.task("b", deps=("a",))
    def b(ctx):
        calls["b"] += 1

    @dag.task("c", deps=("a",))
    def c(ctx):
        calls["c"] += 1

    rd = str(tmp_path / "run")
    dag.run(resume_dir=rd, max_workers=4)
    dag.run(resume_dir=rd, max_workers=4)
    assert calls == {"a": 1, "b": 1, "c": 1}


def test_parallel_spark_branches_share_the_session(spark):
    """Two Spark action branches from pool threads: both jobs complete
    and produce correct results (concurrent actions share executors)."""
    dag = DAG("spark-par")

    @dag.task("load")
    def load(ctx):
        return spark.range(0, 100_000, 1, 8)

    @dag.task("sum", deps=("load",))
    def agg_sum(ctx):
        from pyspark.sql import functions as F

        return ctx["load"].agg(F.sum("id")).first()[0]

    @dag.task("cnt", deps=("load",))
    def agg_cnt(ctx):
        return ctx["load"].count()

    ctx = dag.run(max_workers=4)
    assert ctx["cnt"] == 100_000
    assert ctx["sum"] == 100_000 * 99_999 // 2


def test_parallel_branches_inherit_the_callers_job_group(spark):
    """Jobs started in branch threads stay in the caller's job group and
    see its job tags, so a caller can attribute and cancel them."""
    import uuid

    sc = spark.sparkContext
    group, tag = f"dag-{uuid.uuid4().hex}", f"dag-tag-{uuid.uuid4().hex}"
    dag = DAG("spark-group")

    def branch(ctx):
        spark.range(0, 1000, 1, 2).collect()
        return sc.getLocalProperty("spark.jobGroup.id"), tag in spark.getTags()

    dag.add(Task("left", branch))
    dag.add(Task("right", branch))
    sc.setJobGroup(group, "branch inheritance")
    spark.addTag(tag)
    try:
        ctx = dag.run(max_workers=2)
    finally:
        spark.removeTag(tag)
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert ctx["left"] == ctx["right"] == (group, True)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) >= 2


def test_parallel_branches_inherit_the_job_group_outside_the_session_thread(spark):
    """A caller thread other than the one that made the session has no
    active session; its branches still keep its job group."""
    import threading
    import uuid

    sc = spark.sparkContext
    group = f"dag-{uuid.uuid4().hex}"
    dag = DAG("spark-group-thread")
    dag.add(Task("left", lambda ctx: sc.getLocalProperty("spark.jobGroup.id")))
    dag.add(Task("right", lambda ctx: spark.range(0, 1000, 1, 2).count()))
    out = {}

    def caller():
        sc.setJobGroup(group, "branch inheritance")
        out.update(dag.run(max_workers=2))

    t = threading.Thread(target=caller)
    t.start()
    t.join(120)
    assert not t.is_alive()
    assert out == {"left": group, "right": 1000}
    assert len(sc.statusTracker().getJobIdsForGroup(group)) >= 1
