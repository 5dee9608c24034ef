"""Declarative data-quality rule engine.

Mirrors the reference's ``validate_data`` (ETL_DAG.py:90-142): required
columns, positive amounts, parseable dates, non-negative prices, email
regex — but instead of pandas boolean masks (full materialization per
rule), rules compile into ONE single-pass aggregate per table
(``SUM(CASE WHEN NOT p THEN 1 END)``), so a 100 TB table is scanned once
for its whole rule set, with the scan pruned to only the columns the
rules touch.

Rule predicates are ANSI-SQL boolean strings (TRUE = valid) so the exact
same text runs in Spark and in the DuckDB oracle. A row is a violation
when its predicate ``IS NOT TRUE`` — i.e. NULL inputs (NULL AMOUNT under
``AMOUNT > 0``) count as violations, matching the reference's pandas
semantics where NaN comparisons are falsy (``na=False``, NaN > 0 is
False) and the check raises.
"""

from __future__ import annotations

import operator
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Rule:
    """``predicate`` is a SQL boolean expression; TRUE means the row is
    valid. It must be deterministic and read only the row's columns: a
    load tags a table's rows in one pass and tags its rejected rows
    again from the staged copy (plans/etl_pipeline.py), and the two
    passes must agree."""

    table: str
    name: str
    predicate: str


# Default rule set — the reference's checks transposed onto the test
# star schema (ETL_DAG.py:97-119).
DEFAULT_RULES: tuple[Rule, ...] = (
    Rule("lineitem", "amount_positive", "l_extendedprice > 0"),
    Rule("lineitem", "quantity_positive", "l_quantity > 0"),
    Rule("lineitem", "discount_in_range", "l_discount >= 0 AND l_discount <= 1"),
    Rule("orders", "date_not_null", "o_orderdate IS NOT NULL"),
    Rule("orders", "totalprice_positive", "o_totalprice > 0"),
    Rule("part", "price_non_negative", "p_retailprice >= 0"),
    Rule("customer", "name_well_formed", "c_name LIKE 'CUSTOMER_%'"),
)


def require_columns(df: DataFrame, required: list[str]) -> None:
    """Schema-only check (no job launched) — ETL_DAG.py:126-128."""
    missing = set(required) - set(df.columns)
    if missing:
        raise ValueError(f"missing required columns: {sorted(missing)}")


def violated(predicate: str) -> Column:
    """TRUE where a row breaks the rule ``predicate`` (NULL inputs
    included); never NULL. The one definition of a violation: the rule
    counts, the validity predicate and the tagging all derive from it."""
    return F.expr(f"({predicate}) IS NOT TRUE")


def rule_counts(df: DataFrame, rules: list[tuple[str, str]]) -> DataFrame:
    """(rule_name, violations, total_rows) for ad-hoc (name, predicate)
    rules over ONE frame — a single wide aggregate scan however many
    rules there are, unpivoted via explode-of-structs so rule names are
    DATA, never parsed as SQL identifiers (a name like ``min-length``
    is safe). Shared by :func:`dq_report` and the streaming monitor
    (streaming/quality.py)."""
    aggs = [
        F.sum(F.when(violated(pred), 1).otherwise(0))
        .cast("bigint")
        .alias(f"__r{i}")
        for i, (_, pred) in enumerate(rules)
    ]
    aggs.append(F.count(F.lit(1)).cast("bigint").alias("__total"))
    wide = df.agg(*aggs)
    structs = [
        F.struct(
            F.lit(name).alias("rule_name"), F.col(f"__r{i}").alias("violations")
        )
        for i, (name, _) in enumerate(rules)
    ]
    return wide.select(
        F.explode(F.array(*structs)).alias("__x"),
        F.col("__total").alias("total_rows"),
    ).select("__x.rule_name", "__x.violations", "total_rows")


def dq_report(tables: dict[str, DataFrame], rules: tuple[Rule, ...] = DEFAULT_RULES) -> DataFrame:
    """One row per rule: (table_name, rule_name, violations, total_rows).

    One aggregate scan per table regardless of how many rules it has
    (:func:`rule_counts` per table).
    """
    out: DataFrame | None = None
    by_table: dict[str, list[Rule]] = {}
    for rule in rules:
        by_table.setdefault(rule.table, []).append(rule)
    for table, table_rules in by_table.items():
        long = rule_counts(
            tables[table], [(r.name, r.predicate) for r in table_rules]
        ).select(
            F.lit(table).alias("table_name"),
            "rule_name",
            F.col("violations").cast("bigint"),
            F.col("total_rows").cast("bigint"),
        )
        out = long if out is None else out.unionByName(long)
    assert out is not None, "no rules supplied"
    return out


def dq_report_sql(rules: tuple[Rule, ...] = DEFAULT_RULES) -> str:
    """DuckDB oracle twin of :func:`dq_report`, from the same rules."""
    selects = [
        f"SELECT '{r.table}' AS table_name, '{r.name}' AS rule_name, "
        f"CAST(sum(CASE WHEN ({r.predicate}) IS NOT TRUE THEN 1 ELSE 0 END) AS BIGINT) AS violations, "
        f"CAST(count(*) AS BIGINT) AS total_rows FROM {r.table}"
        for r in rules
    ]
    return "\nUNION ALL\n".join(selects)


def is_valid(rules: list[Rule]) -> Column:
    """The row-validity predicate: TRUE where the row breaks none of
    ``rules``; never NULL. A plain boolean expression (codegen), so a
    full-table pass can tag validity without :func:`tag_rules`'s
    interpreted array lambda."""
    return ~reduce(operator.or_, (violated(r.predicate) for r in rules), F.lit(False))


def count_rejects(df: DataFrame, valid: Column, observation: Observation) -> DataFrame:
    """``df`` with ``observation`` attached: the first action over it
    also reports ``rows`` (all rows) and ``rejected`` (rows where
    ``valid`` is false) without a separate count job."""
    return df.observe(
        observation,
        F.count(F.lit(1)).alias("rows"),
        F.count(F.when(~valid, 1)).alias("rejected"),
    )


def tag_rules(df: DataFrame, rules: list[Rule]) -> DataFrame:
    """``df`` plus ``__failed_rules``: the names of the rules each row
    breaks, in rule order (empty exactly where :func:`is_valid` holds)."""
    failed = F.filter(
        F.array(*[F.when(violated(r.predicate), F.lit(r.name)) for r in rules]),
        lambda x: x.isNotNull(),
    )
    return df.withColumn("__failed_rules", failed)


def split_valid(df: DataFrame, rules: list[Rule]) -> tuple[DataFrame, DataFrame]:
    """(valid, quarantined) split — the scalable version of the
    reference's raise-on-any-violation: bad rows are quarantined with the
    list of failed rules instead of failing the whole load."""
    ok = is_valid(rules)
    return df.where(ok), tag_rules(df.where(~ok), rules)
