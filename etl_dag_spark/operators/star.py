"""Star-schema construction: fact table, conformed dimensions, generated
date dimension.

Mirrors the reference's Snowflake star model (sql_definitions.sql:158-190
DDL; ETL_DAG.py:206-229 load): fact_table(transaction_id,
transaction_date, customer_id, product_id, amount) + customers /
products / dates dims. Here the "transaction" grain is the order line
(orders ⋈ lineitem on orderkey — co-partitioned shuffle join that AQE
turns into SMJ/shuffled-hash at scale), and money is carried as exact
integer cents so aggregates are order-independent and reproducible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_dag_spark.functions.country import iso3_column


def cents(col) -> F.Column:
    """Exact integer cents: floor(x*100). floor() on identical doubles is
    engine-portable, and BIGINT sums are order-independent — unlike
    double sums, which vary with partitioning."""
    col = F.col(col) if isinstance(col, str) else col
    return F.floor(col * 100).cast("bigint")


def revenue_cents() -> F.Column:
    """Net line revenue l_extendedprice·(1−l_discount) in exact cents."""
    return cents(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))


REVENUE_CENTS_SQL = "CAST(floor(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)"


def build_fact(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """fact_table at order-line grain (reference fact_table columns)."""
    return (
        lineitem.select(
            "l_orderkey",
            "l_linenumber",
            "l_partkey",
            revenue_cents().alias("amount_cents"),
        )
        .join(orders.select("o_orderkey", "o_custkey", "o_orderdate"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            (F.col("l_orderkey") * 100 + F.col("l_linenumber")).cast("bigint").alias("transaction_id"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("transaction_date"),
            F.col("o_custkey").cast("bigint").alias("customer_id"),
            F.col("l_partkey").cast("bigint").alias("product_id"),
            (F.col("amount_cents") / 100.0).alias("amount"),
        )
    )


def build_customer_dim(customer: DataFrame, nation: DataFrame) -> DataFrame:
    """customers dim with COUNTRY normalized to ISO3 (ETL_DAG.py:193)."""
    return (
        customer.join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("c_custkey").cast("bigint").alias("customer_id"),
            F.col("c_name").alias("name"),
            F.col("n_name").alias("country_name"),
            iso3_column("n_name").alias("country_iso3"),
        )
    )


def date_dim(orders: DataFrame) -> DataFrame:
    """Generated date dimension over the observed o_orderdate range
    (sql_definitions.sql:184-190) — sequence()+explode, no driver loop,
    so the range can span centuries without collecting anything."""
    bounds = orders.agg(
        F.to_date(F.min("o_orderdate")).alias("d0"),
        F.to_date(F.max("o_orderdate")).alias("d1"),
    )
    return (
        bounds.select(
            F.explode(F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))).alias("d")
        )
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("date_key"),
            F.year("d").cast("int").alias("year_num"),
            F.month("d").cast("int").alias("month_num"),
            F.dayofmonth("d").cast("int").alias("day_num"),
        )
    )
