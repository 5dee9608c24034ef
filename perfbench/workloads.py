"""The benchmark's workloads: their op lists, inputs and output checks.

Each op is a call into the program's public surface, timed from outside:
a registry callable from ``queries.SPARK_QUERIES`` followed by the noop
sink action, or one ``plans.etl_pipeline.run_pipeline`` load.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

import etl_inputs
from tracing import Tracer

BI_OLAP_OPS = [
    # the reference's BI and SQL questions
    "bi_revenue_by_category",
    "bi_top_customers",
    "bi_monthly_trend",
    "bi_customers_no_purchase",
    "bi_hierarchy_levels",
    "bi_ancestor_chain",
    # graph ops with adaptive driver-side gates
    "olap_nation_pagerank",
    "olap_trade_reach",
    # TPC-H-style Q3; its latency sits beside bi_hierarchy_levels,
    # between the small BI ops and the graph ops, so the median of all op
    # samples falls inside a cluster of similar ops instead of on the gap
    # between two
    "olap_shipping_priority",
]

EXPECTED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")


def value_hash(pdf) -> str:
    """Order-insensitive hash of a result's column names and values."""
    cols = sorted(pdf.columns)
    rows = sorted(
        json.dumps([v.item() if hasattr(v, "item") else v for v in row], default=str)
        for row in pdf[cols].itertuples(index=False, name=None)
    )
    h = hashlib.sha256(json.dumps(cols).encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()


def oracle_problems(spdf, ddf) -> list[str]:
    """The comparison of tools/driver_sim.py: row count, column names, sorted values."""
    from tools.driver_sim import normalize, values_equal

    if len(spdf) != len(ddf):
        return [f"rowcount {len(spdf)} vs {len(ddf)}"]
    if sorted(spdf.columns) != sorted(ddf.columns):
        return [f"cols {sorted(spdf.columns)} vs {sorted(ddf.columns)}"]
    s, d = normalize(spdf), normalize(ddf)
    for col in s.columns:
        bad = sum(not values_equal(x, y) for x, y in zip(s[col], d[col]))
        if bad:
            return [f"col {col}: {bad} mismatches"]
    return []


class RegistryWorkload:
    """Read-only registry queries over the fixed test tables: each op is
    the registry call (build) followed by the noop sink (exec)."""

    def __init__(self, ops: list[str], cache_dir: str):
        from etl_dag_spark.queries import ORACLES, SPARK_QUERIES
        from etl_dag_spark.sources.tables import DEFAULT_SF_DIR

        self.ops = ops
        self.cache_dir = cache_dir
        # untimed passes after the cold one: none; unlike the ETL load,
        # these ops' times settle after the cold pass
        self.warmup_passes = 0
        self.sf_dir = DEFAULT_SF_DIR
        self.queries = SPARK_QUERIES
        self.oracles = ORACLES
        with open(EXPECTED_PATH) as fh:
            self.expected = json.load(fh)
        self.rows_per_pass = 0
        self._duck = None

    def prepare_inputs(self, work_dir: str) -> dict:
        import pyarrow.parquet as pq

        files = [f for f in sorted(os.listdir(self.sf_dir)) if f.endswith(".parquet")]
        paths = [os.path.join(self.sf_dir, f) for f in files]
        return {
            "rows": sum(pq.ParquetFile(p).metadata.num_rows for p in paths),
            "bytes": sum(os.path.getsize(p) for p in paths),
            "dir": self.sf_dir,
        }

    def run_op(self, spark, op: str, tracer, trace_id: str) -> None:
        from etl_dag_spark.operators.hierarchy import release_persisted

        try:
            with tracer.span(op, trace_id):
                with tracer.span("build"):
                    df = self.queries[op](spark, self.sf_dir)
                with tracer.span("exec"):
                    df.write.format("noop").mode("overwrite").save()
        finally:
            release_persisted()

    def check_op(self, spark, op: str) -> tuple[float, list[str]]:
        """Collect one execution and compare it, outside any timing.
        Returns the execution's seconds and the problems found."""
        from etl_dag_spark.operators.hierarchy import release_persisted

        t0 = time.perf_counter()
        try:
            df = self.queries[op](spark, self.sf_dir)
            self.rows_per_pass += self._scanned_rows(df)
            spdf = df.toPandas()
        finally:
            release_persisted()
        seconds = time.perf_counter() - t0
        if op in self.oracles:
            return seconds, oracle_problems(spdf, self._oracle_answer(op))
        want = self.expected[op]
        got = {"rows": len(spdf), "hash": value_hash(spdf)}
        return seconds, [] if got == want else [f"{got} != expected {want}"]

    def _scanned_rows(self, df) -> int:
        """Rows of the test-table files the op's final plan scans."""
        import pyarrow.parquet as pq

        rows = 0
        for uri in set(df.inputFiles()):
            path = uri.removeprefix("file://")
            if path.startswith(self.sf_dir):
                rows += pq.ParquetFile(path).metadata.num_rows
        return rows

    def _oracle_answer(self, op: str):
        """The DuckDB oracle's result for ``op``. It is cached in the
        checkout under a key of the SQL text and each table file's size
        and mtime, because the oracle of ``olap_trade_reach`` alone takes
        about 5 s on a 4-CPU host and would otherwise run in every run."""
        import pandas as pd
        from tools.driver_sim import TABLES

        sql = self.oracles[op]
        key = hashlib.sha256(sql.encode())
        for t in TABLES:
            st = os.stat(os.path.join(self.sf_dir, t + ".parquet"))
            key.update(f"{t}:{st.st_size}:{st.st_mtime_ns}".encode())
        path = os.path.join(self.cache_dir, f"oracle-{op}-{key.hexdigest()[:16]}.pkl")
        if os.path.exists(path):
            return pd.read_pickle(path)
        ddf = self._oracle_con().execute(sql).fetchdf()
        os.makedirs(self.cache_dir, exist_ok=True)
        ddf.to_pickle(path + ".tmp")
        os.replace(path + ".tmp", path)
        return ddf

    def _oracle_con(self):
        if self._duck is None:
            import duckdb
            from tools.driver_sim import TABLES

            self._duck = duckdb.connect(config={"threads": "4", "memory_limit": "2GB"})
            for t in TABLES:
                self._duck.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(self.sf_dir, t + '.parquet')}')"
                )
        return self._duck

    def close(self) -> None:
        if self._duck is not None:
            self._duck.close()


class EtlLoadWorkload:
    """The reference DAG end to end over seeded CSVs. Each op is one
    ``run_pipeline`` truncate-and-load into the same output directory,
    so every load after the first replaces the previous one."""

    def __init__(self, seed: int):
        import duckdb

        self.ops = ["load"]
        # an untimed load after the cold one: the JIT keeps shortening
        # the load for several loads, and timing the second one let runs
        # differ by how fast their JVM warmed
        self.warmup_passes = 1
        self.seed = seed
        self.inputs: etl_inputs.EtlInputs | None = None
        self.rows_per_pass = 0
        self._duck = duckdb.connect(config={"threads": "2", "memory_limit": "1GB"})
        self._last: dict | None = None

    def prepare_inputs(self, work_dir: str) -> dict:
        in_dir = os.path.join(work_dir, "etl_in")
        shutil.rmtree(in_dir, ignore_errors=True)
        self.inputs = etl_inputs.generate(in_dir, self.seed)
        self.out_dir = os.path.join(work_dir, "etl_out")
        self.rows_per_pass = self.inputs.total_rows * len(self.ops)
        return {"rows": self.inputs.total_rows, "bytes": self.inputs.bytes, "dir": "seeded CSV"}

    def run_op(self, spark, op: str, tracer, trace_id: str) -> None:
        from etl_dag_spark.plans.etl_pipeline import run_pipeline

        with tracer.span(op, trace_id):
            self._last = run_pipeline(spark, self.inputs.paths, self.out_dir)

    def last_problems(self) -> list[str]:
        loaded = (self._last or {}).get("load_data")
        return etl_inputs.check_load(self._duck, self.inputs, self.out_dir, loaded)

    def check_op(self, spark, op: str) -> tuple[float, list[str]]:
        t0 = time.perf_counter()
        self.run_op(spark, op, Tracer(None, False), "")
        return time.perf_counter() - t0, self.last_problems()

    def instrument(self, tracer) -> None:
        """Record the DAG's tasks and its sink calls as spans."""
        from etl_dag_spark.plans import etl_pipeline

        build = etl_pipeline.build_pipeline

        def traced_build(*args, **kwargs):
            dag = build(*args, **kwargs)
            for name, task in dag.tasks.items():
                task.fn = tracer.wrap(f"dag.{name}", task.fn)
            return dag

        etl_pipeline.build_pipeline = traced_build
        etl_pipeline.overwrite_parquet = tracer.wrap(
            "sink.overwrite_parquet", etl_pipeline.overwrite_parquet
        )

    def close(self) -> None:
        self._duck.close()


def make(name: str, seed: int, cache_dir: str):
    """The workload ``name``; only ``etl_load`` makes its inputs from
    ``seed``, ``bi_olap`` reads the fixed test tables. ``cache_dir``
    keeps oracle results between runs."""
    if name == "bi_olap":
        return RegistryWorkload(BI_OLAP_OPS, cache_dir)
    if name == "etl_load":
        return EtlLoadWorkload(seed)
    raise SystemExit(f"unknown workload {name!r}")
