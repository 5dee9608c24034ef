"""Seeded CSV inputs for the ``etl_load`` workload, and the check of a load.

The generator writes the reference DAG's three sources (sales, products,
customers) with a known number of rows that break each data-quality rule
of ``plans.etl_pipeline.RULES``. Every bad row breaks exactly one rule,
so the rejects per rule are known in advance. Country names mix
spellings that the program must normalise with names it must reject.

The expected ISO codes below are written out here, not imported from the
program, so the check is independent of the code it checks.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.csv as pacsv

N_SALES = 1_000_000
N_PRODUCTS = 5_000
N_CUSTOMERS = 100_000

# rows injected per rule: (table, rule) -> count
INJECTED = {
    ("sales", "amount_positive"): 4_000,
    ("sales", "date_valid"): 3_000,
    ("products", "price_non_negative"): 25,
    ("customers", "email_well_formed"): 700,
    ("customers", "country_recognized"): 900,
}

# raw spellings the program must map, with the ISO alpha-3 it must load
KNOWN_COUNTRIES = [
    ("Germany", "DEU"),
    ("  france ", "FRA"),
    ("BRAZIL", "BRA"),
    ("japan", "JPN"),
    ("USA", "USA"),
    ("U.S.A.", "USA"),
    ("United States of America", "USA"),
    ("united states", "USA"),
    ("UK", "GBR"),
    ("Great Britain", "GBR"),
    ("England", "GBR"),
    ("Viet Nam", "VNM"),
    ("Vietnam", "VNM"),
    ("Russian Federation", "RUS"),
    ("Holland", "NLD"),
    ("South Korea", "KOR"),
    ("NATION_3", "CAN"),
    ("India", "IND"),
]
UNKNOWN_COUNTRIES = ["Atlantis", "Wakanda", "Germny", "Freedonia", "N/A"]
BAD_DATES = ["not-a-date", "2023-13-01", "2023-02-30", "n/a", "20230115x"]
BAD_EMAILS = ["user{}example.com", "user{}@example", "@example{}.com", "user {}@example.com"]


@dataclass
class EtlInputs:
    paths: dict[str, str]
    rows: dict[str, int]
    bytes: int
    rejects: dict[tuple[str, str], int] = field(default_factory=lambda: dict(INJECTED))
    loaded_iso3: dict[str, int] = field(default_factory=dict)

    @property
    def total_rows(self) -> int:
        return sum(self.rows.values())

    def expected_loaded(self) -> dict[str, int]:
        bad = {t: 0 for t in self.rows}
        for (table, _), n in self.rejects.items():
            bad[table] += n
        return {t: self.rows[t] - bad[t] for t in self.rows}


def _bad_rows(rng: np.random.Generator, n: int, table: str) -> dict[str, np.ndarray]:
    """Disjoint random row positions for each rule of ``table``."""
    rules = [(rule, k) for (t, rule), k in INJECTED.items() if t == table]
    picked = rng.choice(n, size=sum(k for _, k in rules), replace=False)
    out, start = {}, 0
    for rule, k in rules:
        out[rule] = picked[start : start + k]
        start += k
    return out


def generate(out_dir: str, seed: int) -> EtlInputs:
    """Write sales.csv, products.csv and customers.csv under ``out_dir``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    days = pd.date_range("2023-01-01", "2024-12-31", freq="D").strftime("%Y-%m-%d").to_numpy()
    amount = np.round(rng.uniform(1.0, 500.0, N_SALES), 2).astype(object)
    date = days[rng.integers(0, len(days), N_SALES)].astype(object)
    bad = _bad_rows(rng, N_SALES, "sales")
    n_amount = len(bad["amount_positive"])
    # a quarter are empty fields, which the rule also rejects
    amount[bad["amount_positive"]] = np.where(
        np.arange(n_amount) % 4 == 0,
        None,
        -np.round(rng.uniform(0.0, 100.0, n_amount), 2),
    )
    date[bad["date_valid"]] = rng.choice(BAD_DATES, len(bad["date_valid"]))
    sales = pd.DataFrame(
        {
            "TransactionID": np.arange(1, N_SALES + 1),
            "Date": date,
            "CustomerID": rng.integers(1, N_CUSTOMERS + 1, N_SALES),
            "ProductID": rng.integers(1, N_PRODUCTS + 1, N_SALES),
            "Amount": amount,
        }
    )

    price = np.round(rng.uniform(0.5, 900.0, N_PRODUCTS), 2)
    bad = _bad_rows(rng, N_PRODUCTS, "products")
    price[bad["price_non_negative"]] = -np.round(
        rng.uniform(0.01, 50.0, len(bad["price_non_negative"])), 2
    )
    products = pd.DataFrame(
        {
            "ProductID": np.arange(1, N_PRODUCTS + 1),
            "ProductName": [f"Product {i}" for i in range(1, N_PRODUCTS + 1)],
            "Category": rng.choice(["Books", "Garden", "Toys", "Tools", "Food"], N_PRODUCTS),
            "Price": price,
        }
    )

    ids = np.arange(1, N_CUSTOMERS + 1)
    country_idx = rng.integers(0, len(KNOWN_COUNTRIES), N_CUSTOMERS)
    country = np.array([c for c, _ in KNOWN_COUNTRIES], dtype=object)[country_idx]
    email = np.array([f"customer.{i}@example.com" for i in ids], dtype=object)
    bad = _bad_rows(rng, N_CUSTOMERS, "customers")
    for j, pos in enumerate(bad["email_well_formed"]):
        email[pos] = BAD_EMAILS[j % len(BAD_EMAILS)].format(pos)
    country[bad["country_recognized"]] = rng.choice(
        UNKNOWN_COUNTRIES, len(bad["country_recognized"])
    )
    customers = pd.DataFrame(
        {"CustomerID": ids, "Name": [f"Customer {i}" for i in ids], "Email": email, "Country": country}
    )
    keep = np.ones(N_CUSTOMERS, dtype=bool)
    keep[bad["email_well_formed"]] = False
    keep[bad["country_recognized"]] = False
    iso3 = np.array([code for _, code in KNOWN_COUNTRIES], dtype=object)[country_idx[keep]]
    codes, counts = np.unique(iso3, return_counts=True)

    paths = {}
    for name, frame in (("sales", sales), ("products", products), ("customers", customers)):
        paths[name] = os.path.join(out_dir, f"{name}.csv")
        pacsv.write_csv(pa.Table.from_pandas(frame, preserve_index=False), paths[name])
    return EtlInputs(
        paths=paths,
        rows={"sales": N_SALES, "products": N_PRODUCTS, "customers": N_CUSTOMERS},
        bytes=sum(os.path.getsize(p) for p in paths.values()),
        loaded_iso3={str(c): int(n) for c, n in zip(codes, counts)},
    )


def check_load(con, inputs: EtlInputs, out_dir: str, loaded: dict) -> list[str]:
    """Problems with one ``run_pipeline`` result, read back through DuckDB.

    Loaded plus quarantined rows must equal the input per table, rejects
    per rule must equal the injected counts, and the customers table must
    carry the expected ISO codes."""
    problems = []
    want = inputs.expected_loaded()
    if loaded != want:
        problems.append(f"returned counts {loaded} != {want}")
    targets = {"sales": "fact_table", "products": "products", "customers": "customers"}
    for table, target in targets.items():
        n_out = con.execute(
            f"SELECT count(*) FROM read_parquet('{out_dir}/{target}/*.parquet')"
        ).fetchone()[0]
        rules = dict(
            con.execute(
                f"SELECT rule, count(*) FROM (SELECT unnest(__failed_rules) AS rule "
                f"FROM read_parquet('{out_dir}/quarantine/{table}/*.parquet')) GROUP BY rule"
            ).fetchall()
        )
        n_bad = con.execute(
            f"SELECT count(*) FROM read_parquet('{out_dir}/quarantine/{table}/*.parquet')"
        ).fetchone()[0]
        if n_out + n_bad != inputs.rows[table]:
            problems.append(f"{table}: {n_out} loaded + {n_bad} quarantined != {inputs.rows[table]}")
        want_rules = {r: n for (t, r), n in inputs.rejects.items() if t == table}
        if rules != want_rules:
            problems.append(f"{table}: rejects {rules} != injected {want_rules}")
    iso3 = dict(
        con.execute(
            f"SELECT COUNTRY, count(*) FROM read_parquet('{out_dir}/customers/*.parquet') GROUP BY 1"
        ).fetchall()
    )
    if iso3 != inputs.loaded_iso3:
        problems.append(f"customers: ISO3 counts {iso3} != {inputs.loaded_iso3}")
    return problems
