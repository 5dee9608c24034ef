"""The reference's complete ETL DAG (ETL_DAG.py:241-277), re-expressed
Spark-first over the same three CSV sources (sales / products /
customers), with the same column renames (ETL_DAG.py:169-187), the same
data-quality checks (ETL_DAG.py:90-142), the same country→ISO3
normalization (ETL_DAG.py:144-151), and truncate-and-load semantics
(ETL_DAG.py:210-229) into parquet star-schema tables.

The task graph is ``load_env_vars → validate_files → [check_data,
strict only] → load_sales | load_products | load_customers →
load_data``. The three tables are independent, so each loads in its own
DAG branch and ``run_pipeline`` runs the branches concurrently: their
Spark jobs share the executors instead of waiting for one another, and
they keep the caller's job group (``DAG.run``). ``load_data`` gathers
the per-table loaded counts. A table whose load fails does not stop the
other two; its error re-raises once they finish, and ``load_data``
never runs.

Differences that matter at 100 TB (each one deliberate):

- Reads are lazy Spark scans with explicit schemas (no inferSchema
  pass); renames are metadata-only projections.
- Validation tags each row valid or invalid inside the pass that
  writes it, instead of a pandas boolean mask per rule. The default
  quarantines invalid rows to parquet and loads the rest (a 100 TB
  load shouldn't be aborted by three bad rows), and reads each CSV
  once: one write, partitioned on the validity tag, stages the target's
  columns to ``out_dir/_staging_<table>`` and reports the loaded and
  rejected counts as observed metrics; a rename publishes the valid
  rows as the target; the quarantine is written from the small staged
  rejects, tagged again with the names of the rules they break
  (``sources.sinks.overwrite_parquet_split``). Staged customers keep
  their original ``COUNTRY`` spelling on rejected rows, so the
  re-tagging sees what the first pass saw; the load raises if the two
  passes disagree on the rejected count.
- ``strict=True`` reproduces the reference's raise-on-any-violation.
  Its ``check_data`` task checks all three tables first, one aggregate
  per table, and raises before any branch writes. It is not retried: a
  violation is in the data, and a rerun would repeat every scan.
- Country normalization is a literal-map Column expression, not a
  per-row ``pycountry.search_fuzzy`` call.
- The load step is idempotent ``mode("overwrite")`` parquet — rerunning
  the DAG is the TRUNCATE+load of the reference.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from etl_dag_spark.functions.country import iso3_column
from etl_dag_spark.operators.validation import (
    Rule,
    count_rejects,
    dq_report,
    is_valid,
    require_columns,
    tag_rules,
)
from etl_dag_spark.plans.dag import DAG, Task
from etl_dag_spark.sources.readers import read_source
from etl_dag_spark.sources.sinks import overwrite_parquet, overwrite_parquet_split

TABLES = ("sales", "products", "customers")

# Column maps verbatim from ETL_DAG.py:169-187
RENAMES = {
    "sales": {
        "TransactionID": "TRANSACTION_ID",
        "Date": "TRANSACTION_DATE",
        "CustomerID": "CUSTOMER_ID",
        "ProductID": "PRODUCT_ID",
        "Amount": "AMOUNT",
    },
    "products": {
        "ProductID": "PRODUCT_ID",
        "ProductName": "PRODUCT_NAME",
        "Category": "CATEGORY",
        "Price": "PRICE",
    },
    "customers": {
        "CustomerID": "CUSTOMER_ID",
        "Name": "NAME",
        "Email": "EMAIL",
        "Country": "COUNTRY",
    },
}
SCHEMAS = {
    "sales": (
        "TransactionID bigint, Date string, CustomerID bigint, ProductID bigint, Amount double"
    ),
    "products": "ProductID bigint, ProductName string, Category string, Price double",
    "customers": "CustomerID bigint, Name string, Email string, Country string",
}

# Required columns + checks verbatim from ETL_DAG.py:97-119 (post-rename)
REQUIRED = {
    "sales": ["TRANSACTION_ID", "TRANSACTION_DATE", "CUSTOMER_ID", "PRODUCT_ID", "AMOUNT"],
    "products": ["PRODUCT_ID", "PRODUCT_NAME", "CATEGORY", "PRICE"],
    "customers": ["CUSTOMER_ID", "NAME", "EMAIL", "COUNTRY"],
}
RULES = {
    "sales": [
        Rule("sales", "amount_positive", "AMOUNT > 0"),
        Rule("sales", "date_valid", "try_to_timestamp(TRANSACTION_DATE) IS NOT NULL"),
    ],
    "products": [Rule("products", "price_non_negative", "PRICE >= 0")],
    "customers": [
        Rule("customers", "email_well_formed", r"EMAIL RLIKE '^[\\w\\.-]+@[\\w\\.-]+\\.\\w+$'"),
        # the reference raises when search_fuzzy fails (ETL_DAG.py:195-199)
        Rule("customers", "country_recognized", "COUNTRY_ISO3 IS NOT NULL"),
    ],
}


def with_rule_inputs(name: str, df: DataFrame) -> DataFrame:
    """``df`` plus the derived columns ``name``'s rules read: the ISO3
    code of each customer's country (ETL_DAG.py:144-151)."""
    if name == "customers":
        return df.withColumn("COUNTRY_ISO3", iso3_column("COUNTRY"))
    return df


def require_config(required: list[str], env: dict | None = None) -> dict[str, str]:
    """Fail-fast required-config validation — the first task of the
    reference DAG (ETL_DAG.py:44-58 ``load_env_vars``: a required-vars
    list checked against the environment, raising with every missing
    name at once so one run surfaces the whole configuration gap).

    Returns the resolved values so downstream tasks read the validated
    snapshot from the DAG context instead of re-reading a mutable
    ``os.environ``.
    """
    env = dict(os.environ) if env is None else env
    missing = [k for k in required if not env.get(k)]
    if missing:
        raise ValueError(f"missing required config: {', '.join(missing)}")
    return {k: env[k] for k in required}


def build_pipeline(
    spark: SparkSession,
    csv_paths: dict[str, str],
    out_dir: str,
    strict: bool = False,
    required_env: list[str] | None = None,
) -> DAG:
    """Assemble the DAG (module docstring). ``csv_paths`` needs keys
    sales/products/customers (the reference's env vars CSV_*_PATH).
    ``required_env`` optionally lists environment variables that must be
    set (warehouse credentials etc., ETL_DAG.py:52-53) — checked by the
    first task, before any Spark job runs.
    Outputs land under ``out_dir``: fact_table/, products/, customers/,
    plus quarantine/<table>/ with this run's rejected rows (empty for a
    table without rejects, so after every strict run); _staging_<table>/
    exists only while its table loads."""
    dag = DAG("reference_etl")

    def load_env_vars(ctx: dict) -> dict:
        if required_env:
            ctx["config"] = require_config(required_env)
        missing = [k for k in TABLES if not csv_paths.get(k)]
        if missing:
            raise ValueError(f"missing CSV paths: {', '.join(sorted(missing))}")
        return dict(csv_paths)

    def validate_files(ctx: dict) -> str:
        for file_type, path in ctx["load_env_vars"].items():
            if not os.path.isfile(path):
                raise FileNotFoundError(f"{file_type} file not found: {path}")
        return "ok"

    def source(ctx: dict, name: str):
        """``name``'s renamed source frame; lazy, so no job runs."""
        path = ctx["load_env_vars"][name]
        df = with_rule_inputs(
            name, read_source(spark, path, "csv", schema=SCHEMAS[name], rename=RENAMES[name])
        )
        require_columns(df, REQUIRED[name])
        return df

    def check_data(ctx: dict) -> str:
        # every table is checked before any is written, so a failure
        # leaves the previous load in place (one aggregate per table)
        frames = {name: source(ctx, name) for name in TABLES}
        all_rules = tuple(r for rules in RULES.values() for r in rules)
        bad = dq_report(frames, all_rules).where("violations > 0").collect()
        for name in TABLES:
            detail = [f"{r.rule_name} ({r.violations} rows)" for r in bad if r.table_name == name]
            if detail:
                raise ValueError(f"validation failed for {name}: {', '.join(detail)}")
        return "ok"

    def load_table(name: str):
        def load(ctx: dict) -> int:
            rules = RULES[name]
            seen = Observation()
            staged = count_rejects(
                source(ctx, name).withColumn("__ok", is_valid(rules)), F.col("__ok"), seen
            )
            if name == "customers":
                # the reference replaces COUNTRY with the ISO3 code
                # (ETL_DAG.py:193); rejected rows keep the original
                # spelling, which their quarantine re-tagging reads
                iso3 = F.when(F.col("__ok"), F.col("COUNTRY_ISO3"))
                staged = staged.withColumn("COUNTRY", iso3.otherwise(F.col("COUNTRY")))
            staged = staged.select(*RENAMES[name].values(), "__ok")
            target = os.path.join(out_dir, "fact_table" if name == "sales" else name)
            staging = os.path.join(out_dir, f"_staging_{name}")
            requarantined = Observation()
            with overwrite_parquet_split(staged, "__ok", staging, target) as rejects:
                quarantine = tag_rules(with_rule_inputs(name, rejects), rules)
                overwrite_parquet(
                    count_rejects(quarantine, is_valid(rules), requarantined),
                    os.path.join(out_dir, "quarantine", name),
                )
            # both filled by the writes above: no count job
            counts, again = seen.get, requarantined.get
            if again["rows"] != counts["rejected"] or again["rejected"] != again["rows"]:
                raise RuntimeError(
                    f"{name}: the load rejected {counts['rejected']} rows, but tagging the "
                    f"staged rejects again rejected {again['rejected']} of {again['rows']} "
                    "(rule predicates must be deterministic)"
                )
            return counts["rows"] - counts["rejected"]

        return load

    def load_data(ctx: dict) -> dict:
        return {name: ctx[f"load_{name}"] for name in TABLES}

    dag.add(Task("load_env_vars", load_env_vars))
    dag.add(Task("validate_files", validate_files, deps=("load_env_vars",)))
    gate = "validate_files"
    if strict:
        dag.add(Task("check_data", check_data, deps=(gate,)))
        gate = "check_data"
    for name in TABLES:
        dag.add(Task(f"load_{name}", load_table(name), deps=(gate,), retries=1))
    dag.add(Task("load_data", load_data, deps=tuple(f"load_{name}" for name in TABLES)))
    return dag


def run_pipeline(
    spark: SparkSession, csv_paths: dict[str, str], out_dir: str, strict: bool = False
) -> dict:
    return build_pipeline(spark, csv_paths, out_dir, strict).run(max_workers=len(TABLES))
