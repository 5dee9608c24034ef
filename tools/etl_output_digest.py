"""Digest of an ETL load's six output datasets, for identity checks
between two builds of ``plans/etl_pipeline.py``.

For each dataset under ``out_dir`` (fact_table, products, customers and
quarantine/<table>), prints one line: the dataset, its schema as
``name type`` pairs, its row count and an order-insensitive hash (md5
over the sorted md5s of each row's text form), read with DuckDB. Part
file names, file counts and row order do not enter the digest; column
names, column order, types and values do.

Usage: python tools/etl_output_digest.py <out_dir>
Compare two loads with ``diff <(... out_a) <(... out_b)``.
"""

from __future__ import annotations

import os
import sys

DATASETS = (
    "fact_table",
    "products",
    "customers",
    "quarantine/sales",
    "quarantine/products",
    "quarantine/customers",
)


def digest(out_dir: str) -> dict[str, tuple[str, int, str]]:
    """{dataset: (schema, rows, hash)} for the six datasets of ``out_dir``."""
    import duckdb

    con = duckdb.connect(config={"threads": "2", "memory_limit": "1GB"})
    try:
        out = {}
        for name in DATASETS:
            files = os.path.join(out_dir, name, "*.parquet").replace("'", "''")
            rel = f"read_parquet('{files}')"
            described = con.execute(f"DESCRIBE SELECT * FROM {rel}").fetchall()
            schema = ", ".join(f"{col} {typ}" for col, typ, *_ in described)
            rows, digest_ = con.execute(
                "SELECT count(*), md5(coalesce(string_agg(h, '' ORDER BY h), '')) "
                f"FROM (SELECT md5(CAST(t AS VARCHAR)) AS h FROM {rel} t)"
            ).fetchone()
            out[name] = (schema, rows, digest_)
        return out
    finally:
        con.close()


def main() -> None:
    if len(sys.argv) != 2:
        raise SystemExit("usage: python tools/etl_output_digest.py <out_dir>")
    for name, (schema, rows, digest_) in digest(sys.argv[1]).items():
        print(f"{name}\trows={rows}\tmd5={digest_}\t{schema}")


if __name__ == "__main__":
    main()
