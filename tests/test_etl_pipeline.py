"""End-to-end run of the reference's three-task ETL DAG
(ETL_DAG.py:241-277) on crafted CSVs: renames, validations, country
normalization, quarantine vs strict failure, idempotent reload."""

from __future__ import annotations

import os
import threading
import uuid

import pytest
from pyspark.sql import functions as F

from etl_dag_spark.operators.validation import Rule
from etl_dag_spark.plans.etl_pipeline import RENAMES, SCHEMAS, TABLES, run_pipeline
from tools.etl_output_digest import digest

SALES = """TransactionID,Date,CustomerID,ProductID,Amount
1,2024-01-01,10,100,49.99
2,2024-01-02,11,101,15.50
3,2024-01-03,12,102,-5.00
4,not-a-date,13,103,20.00
"""
PRODUCTS = """ProductID,ProductName,Category,Price
100,Widget,Tools,9.99
101,Gadget,Tools,19.99
102,Gizmo,Toys,-1.00
103,Doohickey,Toys,4.99
"""
CUSTOMERS = """CustomerID,Name,Email,Country
10,Ada,ada@example.com,United States
11,Grace,grace@example.org,UK
12,Alan,not-an-email,France
13,Edsger,edsger@example.nl,Atlantis
"""


def _clean(csv: str, bad_ids: set[str]) -> str:
    """``csv`` without the rows whose first field is in ``bad_ids``."""
    return "".join(
        line for line in csv.splitlines(keepends=True) if line.split(",")[0] not in bad_ids
    )


CLEAN_SALES = _clean(SALES, {"3", "4"})
CLEAN_PRODUCTS = _clean(PRODUCTS, {"102"})
CLEAN_CUSTOMERS = _clean(CUSTOMERS, {"12", "13"})


def _write_csvs(directory, sales, products, customers) -> dict[str, str]:
    directory.mkdir(exist_ok=True)
    paths = {}
    for name, content in [("sales", sales), ("products", products), ("customers", customers)]:
        p = directory / f"{name}.csv"
        p.write_text(content)
        paths[name] = str(p)
    return paths


def _jobs_of(sc, fn) -> list[int]:
    """Ids of the Spark jobs ``fn()`` runs, from a job group of its own.
    ``fn`` may raise; its jobs are counted all the same."""
    group = f"etl-load-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job-count pin")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return sc.statusTracker().getJobIdsForGroup(group)


@pytest.fixture()
def csv_paths(tmp_path):
    return _write_csvs(tmp_path, SALES, PRODUCTS, CUSTOMERS)


def test_pipeline_quarantines_and_loads(spark, csv_paths, tmp_path):
    out = str(tmp_path / "wh")
    ctx = run_pipeline(spark, csv_paths, out)
    # bad rows: sales tx 3 (negative) + 4 (bad date); products 102
    # (negative price); customers 12 (bad email) + 13 (unknown country)
    assert ctx["load_data"] == {"sales": 2, "products": 3, "customers": 2}

    fact = spark.read.parquet(os.path.join(out, "fact_table"))
    assert {r.TRANSACTION_ID for r in fact.collect()} == {1, 2}
    cust = {r.CUSTOMER_ID: r.COUNTRY for r in spark.read.parquet(os.path.join(out, "customers")).collect()}
    assert cust == {10: "USA", 11: "GBR"}  # normalized to ISO3, like the reference
    q = spark.read.parquet(os.path.join(out, "quarantine", "sales"))
    assert {r.TRANSACTION_ID: sorted(r["__failed_rules"]) for r in q.collect()} == {
        3: ["amount_positive"],
        4: ["date_valid"],
    }


def test_pipeline_strict_reproduces_reference_failure(spark, csv_paths, tmp_path):
    with pytest.raises(ValueError, match="validation failed for sales"):
        run_pipeline(spark, csv_paths, str(tmp_path / "wh2"), strict=True)


def test_pipeline_strict_validates_every_table_before_writing(spark, tmp_path):
    # clean sales load first in table order; a per-table check-then-write
    # would already have written fact_table/ when products fails
    paths = _write_csvs(tmp_path / "in", CLEAN_SALES, PRODUCTS, CLEAN_CUSTOMERS)
    out = tmp_path / "wh_strict"

    def load():
        with pytest.raises(
            ValueError, match=r"^validation failed for products: price_non_negative \(1 rows\)$"
        ):
            run_pipeline(spark, paths, str(out), strict=True)

    jobs = _jobs_of(spark.sparkContext, load)
    assert not out.exists()
    # the check is one aggregate per table and runs once: a failure in
    # the data is not retried
    assert 0 < len(jobs) <= 4, jobs


def test_pipeline_strict_loads_clean_tables(spark, tmp_path):
    paths = _write_csvs(tmp_path / "in", CLEAN_SALES, CLEAN_PRODUCTS, CLEAN_CUSTOMERS)
    out = str(tmp_path / "wh_strict_ok")
    ctx = run_pipeline(spark, paths, out, strict=True)
    assert ctx["load_data"] == {"sales": 2, "products": 3, "customers": 2}
    assert spark.read.parquet(os.path.join(out, "fact_table")).count() == 2


def test_clean_rerun_truncates_quarantine(spark, csv_paths, tmp_path):
    out = str(tmp_path / "wh_rerun")
    run_pipeline(spark, csv_paths, out)
    assert spark.read.parquet(os.path.join(out, "quarantine", "sales")).count() == 2
    clean = _write_csvs(tmp_path / "clean", CLEAN_SALES, CLEAN_PRODUCTS, CLEAN_CUSTOMERS)
    ctx = run_pipeline(spark, clean, out)
    assert ctx["load_data"] == {"sales": 2, "products": 3, "customers": 2}
    for table in ("sales", "products", "customers"):
        q = spark.read.parquet(os.path.join(out, "quarantine", table))
        assert q.count() == 0, table
        assert "__failed_rules" in q.columns


def test_load_runs_only_its_writes(spark, csv_paths, tmp_path):
    # every fixture table has rejects, so each one runs exactly two
    # writes (the staged split, which reads the CSV, and the quarantine,
    # which reads the staged rejects); the counts ride on the writes
    sc = spark.sparkContext
    group = f"etl-load-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job-count pin")
    try:
        ctx = run_pipeline(spark, csv_paths, str(tmp_path / "wh_jobs"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert ctx["load_data"] == {"sales": 2, "products": 3, "customers": 2}
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= 6, jobs


def test_each_input_is_scanned_once(spark, csv_paths, tmp_path, monkeypatch):
    """Each table's CSV is read by its first write only: removing the
    file as soon as that write returns changes no output (a second scan,
    such as a quarantine write over the CSV, fails on the missing file)."""
    from pyspark.sql.readwriter import DataFrameWriter

    want = str(tmp_path / "wh_ref")
    run_pipeline(spark, csv_paths, want)
    out = str(tmp_path / "wh_once")
    # a write belongs to the table its path under out names
    names = {
        "sales": ("sales", "fact_table"),
        "products": ("products",),
        "customers": ("customers",),
    }
    removed: set[str] = set()
    lock = threading.Lock()  # the tables load in concurrent branches
    parquet = DataFrameWriter.parquet

    def parquet_then_remove(self, path, *args, **kwargs):
        parquet(self, path, *args, **kwargs)
        written = os.path.relpath(path, out)
        with lock:
            for name, keys in names.items():
                if name not in removed and any(k in written for k in keys):
                    removed.add(name)
                    os.remove(csv_paths[name])

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet_then_remove)
    ctx = run_pipeline(spark, csv_paths, out)
    assert removed == set(TABLES)
    assert ctx["load_data"] == {"sales": 2, "products": 3, "customers": 2}
    assert digest(out) == digest(want)


def test_table_without_valid_rows_gets_an_empty_target(spark, csv_paths, tmp_path):
    out = tmp_path / "wh_all_bad"
    run_pipeline(spark, csv_paths, str(out))
    all_bad = "ProductID,ProductName,Category,Price\n102,Gizmo,Toys,-1.00\n104,Thing,Toys,-2.50\n"
    paths = _write_csvs(tmp_path / "in", SALES, all_bad, CUSTOMERS)
    ctx = run_pipeline(spark, paths, str(out))
    assert ctx["load_data"] == {"sales": 2, "products": 0, "customers": 2}
    products = spark.read.parquet(str(out / "products"))
    assert products.count() == 0  # truncated: the previous load had 3
    assert products.schema.simpleString() == (
        "struct<PRODUCT_ID:bigint,PRODUCT_NAME:string,CATEGORY:string,PRICE:double>"
    )
    assert spark.read.parquet(str(out / "quarantine" / "products")).count() == 2


def test_stale_staging_does_not_leak(spark, tmp_path):
    paths = _write_csvs(tmp_path / "in", CLEAN_SALES, CLEAN_PRODUCTS, CLEAN_CUSTOMERS)
    out = tmp_path / "wh_stale"
    # what a load that died between its staging write and its cleanup
    # leaves behind: every row staged as rejected
    for name in TABLES:
        stale = spark.read.csv(paths[name], header=True, schema=SCHEMAS[name])
        stale.withColumnsRenamed(RENAMES[name]).withColumn("__ok", F.lit(False)).write.partitionBy(
            "__ok"
        ).parquet(str(out / f"_staging_{name}"))
    ctx = run_pipeline(spark, paths, str(out))
    assert ctx["load_data"] == {"sales": 2, "products": 3, "customers": 2}
    for name in TABLES:
        assert spark.read.parquet(str(out / "quarantine" / name)).count() == 0, name
    assert sorted(p.name for p in out.iterdir()) == [
        "customers", "fact_table", "products", "quarantine"
    ]


def test_rules_that_disagree_between_passes_fail_the_load(
    spark, csv_paths, tmp_path, monkeypatch
):
    from etl_dag_spark.plans import etl_pipeline

    # depends on the file a row is read from, not only on the row: valid
    # in the staged parquet copy, so re-tagging the staged rejects finds
    # none of them
    rule = Rule("sales", "amount_positive", "AMOUNT > 0 OR input_file_name() LIKE '%.parquet'")
    monkeypatch.setitem(etl_pipeline.RULES, "sales", [rule])
    with pytest.raises(RuntimeError, match="sales: the load rejected 1 rows, .* rejected 0 of 1"):
        run_pipeline(spark, csv_paths, str(tmp_path / "wh_nondet"))


def test_failing_table_does_not_stop_the_others(spark, csv_paths, tmp_path):
    from etl_dag_spark.plans.etl_pipeline import build_pipeline

    out = tmp_path / "wh_branch_fail"
    dag = build_pipeline(spark, csv_paths, str(out))

    def sink_down(ctx):
        raise RuntimeError("products sink down")

    dag.tasks["load_products"].fn = sink_down
    with pytest.raises(RuntimeError, match="products sink down"):
        dag.run(max_workers=3)
    # the other tables are independent branches and load in full
    assert spark.read.parquet(str(out / "fact_table")).count() == 2
    assert spark.read.parquet(str(out / "customers")).count() == 2
    assert not (out / "products").exists()


def test_pipeline_is_idempotent_truncate_and_load(spark, csv_paths, tmp_path):
    out = str(tmp_path / "wh3")
    run_pipeline(spark, csv_paths, out)
    run_pipeline(spark, csv_paths, out)  # rerun must not duplicate
    assert spark.read.parquet(os.path.join(out, "fact_table")).count() == 2


def test_pipeline_missing_file_fails_in_validate(spark, csv_paths, tmp_path):
    csv_paths["products"] = str(tmp_path / "nope.csv")
    with pytest.raises(FileNotFoundError, match="products"):
        run_pipeline(spark, csv_paths, str(tmp_path / "wh4"))


def test_require_config_fail_fast_lists_all_missing(monkeypatch):
    from etl_dag_spark.plans.etl_pipeline import require_config

    env = {"WAREHOUSE_URL": "jdbc:x", "WAREHOUSE_USER": ""}
    with pytest.raises(ValueError, match="WAREHOUSE_PASSWORD"):
        require_config(
            ["WAREHOUSE_URL", "WAREHOUSE_USER", "WAREHOUSE_PASSWORD"], env
        )
    # the error names EVERY missing/empty var (reference reports the
    # full list in one run, ETL_DAG.py:54-56), not just the first
    try:
        require_config(["WAREHOUSE_USER", "WAREHOUSE_PASSWORD"], env)
    except ValueError as e:
        assert "WAREHOUSE_USER" in str(e) and "WAREHOUSE_PASSWORD" in str(e)
    # resolved snapshot comes back when everything is present
    assert require_config(["WAREHOUSE_URL"], env) == {"WAREHOUSE_URL": "jdbc:x"}


def test_pipeline_required_env_is_first_task(spark, csv_paths, tmp_path, monkeypatch):
    from etl_dag_spark.plans.etl_pipeline import build_pipeline

    monkeypatch.delenv("REFETL_WH_TOKEN", raising=False)
    dag = build_pipeline(
        spark, csv_paths, str(tmp_path / "wh5"), required_env=["REFETL_WH_TOKEN"]
    )
    with pytest.raises(ValueError, match="REFETL_WH_TOKEN"):
        dag.run()
    # nothing was written: the config gate ran before any Spark job
    assert not (tmp_path / "wh5").exists()
    monkeypatch.setenv("REFETL_WH_TOKEN", "secret")
    ctx = dag.run()
    assert ctx["config"] == {"REFETL_WH_TOKEN": "secret"}
    assert "load_data" in ctx
