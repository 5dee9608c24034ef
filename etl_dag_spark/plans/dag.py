"""Lightweight DAG orchestrator — the Spark-native replacement for the
reference's Airflow surface (ETL_DAG.py:241-277: PythonOperator tasks,
``t1 >> t2 >> t3`` dependencies, retries, logging).

Tasks are Python callables receiving a shared mutable context (usually
holding the SparkSession and DataFrames). Because Spark plans are lazy,
"running" a transformation task is metadata-only; only sink/action
tasks trigger jobs — so the DAG layer adds zero overhead to the data
path and the whole pipeline still optimizes as one Catalyst plan per
action.
"""

from __future__ import annotations

import logging
import time
from collections.abc import Callable
from dataclasses import dataclass, field
from graphlib import TopologicalSorter

logger = logging.getLogger(__name__)


@dataclass
class Task:
    name: str
    fn: Callable[[dict], object]
    deps: tuple[str, ...] = ()
    retries: int = 0
    retry_delay_s: float = 0.0


@dataclass
class DAG:
    name: str
    tasks: dict[str, Task] = field(default_factory=dict)

    def task(self, name: str, deps: tuple[str, ...] = (), retries: int = 0,
             retry_delay_s: float = 0.0):
        """Decorator: ``@dag.task("load", deps=("validate",))``"""
        def deco(fn: Callable[[dict], object]) -> Callable[[dict], object]:
            self.add(Task(name, fn, deps, retries, retry_delay_s))
            return fn
        return deco

    def add(self, task: Task) -> None:
        if task.name in self.tasks:
            raise ValueError(f"duplicate task {task.name!r}")
        self.tasks[task.name] = task

    def run(
        self,
        context: dict | None = None,
        resume_dir: str | None = None,
        max_workers: int = 1,
    ) -> dict:
        """Execute tasks in dependency order; each task's return value is
        stored in the context under its name. Raises on cycle or missing
        dependency (graphlib) and re-raises the task error after retries
        are exhausted — matching Airflow's fail-the-run semantics.

        ``max_workers > 1`` runs INDEPENDENT branches concurrently
        (Airflow's task parallelism): ready tasks dispatch to a thread
        pool as their dependencies complete, which matters on Spark —
        concurrent actions from separate threads share the executors,
        so two branches' stages interleave instead of serializing
        driver-side (a shuffle-heavy branch no longer blocks a scan
        branch). Failure semantics match Airflow: a failed branch's
        dependents never start, independent branches run to completion,
        and the first error re-raises at the end. Branch threads run
        with the caller's Spark local properties (job group,
        description, scheduler pool) and job tags, so their jobs stay
        attributed to the caller.

        ``resume_dir`` enables resume-from-failure across PROCESS
        restarts (Airflow's retry-from-failed-task): each task that
        succeeds writes an atomic ``<name>.done`` sentinel there, and a
        rerun skips any task whose sentinel exists — only the
        unfinished suffix re-executes. Skipped tasks contribute nothing
        to the in-memory context, so resumable pipelines must follow
        the idempotent-durable-output discipline this repo's sinks
        already enforce (truncate-and-load / dynamic partition
        overwrite): downstream tasks re-read predecessors' DURABLE
        outputs rather than in-memory handles. Delete the directory to
        force a full rerun.
        """
        import os

        context = context if context is not None else {}
        if resume_dir is not None:
            os.makedirs(resume_dir, exist_ok=True)
        graph = {name: set(t.deps) for name, t in self.tasks.items()}
        if max_workers <= 1:
            for name in TopologicalSorter(graph).static_order():
                self._exec(name, context, resume_dir)
            return context

        from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait

        ts = TopologicalSorter(graph)
        ts.prepare()
        errors: list[tuple[str, BaseException]] = []

        def submit(name: str):
            # wrapped per submission: each branch gets its own copy of
            # the caller's properties, so a branch that sets its own
            # job group does not change another's
            return pool.submit(_inherit_spark_properties(self._exec), name, context, resume_dir)

        with ThreadPoolExecutor(max_workers=max_workers) as pool:
            futures: dict = {}
            for name in ts.get_ready():
                futures[submit(name)] = name
            while futures:
                done_set, _pending = wait(futures, return_when=FIRST_COMPLETED)
                for fut in done_set:
                    name = futures.pop(fut)
                    exc = fut.exception()
                    if exc is not None:
                        # dependents never become ready; independent
                        # branches keep draining
                        errors.append((name, exc))
                    else:
                        ts.done(name)
                for name in ts.get_ready():
                    futures[submit(name)] = name
        if errors:
            raise errors[0][1]
        return context

    def _exec(self, name: str, context: dict, resume_dir: str | None) -> None:
        """Run one task: done-marker skip, retry loop, atomic sentinel.
        Context writes are per-task-keyed dict stores — safe under the
        thread pool (GIL-atomic; no two tasks share a key)."""
        import os

        task = self.tasks[name]
        marker = os.path.join(resume_dir, f"{name}.done") if resume_dir else None
        if marker and os.path.exists(marker):
            logger.info("dag=%s task=%s skipped (done marker)", self.name, name)
            return
        attempt = 0
        while True:
            try:
                logger.info("dag=%s task=%s attempt=%d", self.name, name, attempt)
                context[name] = task.fn(context)
                break
            except Exception:
                attempt += 1
                if attempt > task.retries:
                    logger.exception("dag=%s task=%s failed", self.name, name)
                    raise
                time.sleep(task.retry_delay_s)
        if marker:
            tmp = f"{marker}.tmp"
            with open(tmp, "w") as fh:
                fh.write("ok")
            os.replace(tmp, marker)  # atomic: no half-written sentinel


def _inherit_spark_properties(fn: Callable) -> Callable:
    """``fn`` set to run with the calling thread's Spark local properties
    and job tags, captured now. A pool thread is a fresh JVM thread under
    PySpark's pinned-thread mode and would otherwise start with none. A
    process without a live SparkContext gets ``fn`` back unchanged."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is None:
        return fn
    from pyspark.sql import SparkSession
    from pyspark.util import inheritable_thread_target

    session = SparkSession.getActiveSession()
    if session is None:
        # a thread the session was not made in has no active session:
        # its local properties are still carried, its tags cannot be
        return inheritable_thread_target(fn)
    return inheritable_thread_target(session)(fn)
