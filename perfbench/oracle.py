"""DuckDB oracles: the seven warehouse tables and the registry queries.

Each table is compared by row count and an order-insensitive value hash: the
sum of per-row hashes over the columns rendered as text, with timestamps
taken in UTC. The oracle SQL restates the reference semantics
(FIXTURES.md sections 3-4) independently of the Spark builders: any-null
drop + exact dedup of each projection, YYYYMMDD and YYYYMM01 date keys,
DECIMAL payment sums.
"""

from __future__ import annotations

import os

import duckdb

COLUMNS = {
    "dim_staff": ["staff_id", "first_name", "last_name", "store_id"],
    "dim_film": ["film_id", "title", "release_year", "language_id"],
    "dim_store": ["store_id", "manager_staff_id", "address_id"],
    "dim_date": ["date_id", "full_date", "month", "year"],
    "dim_rental": ["rental_id", "rental_date", "inventory_id", "customer_id"],
    "fact_daily_inventory": ["date_id", "film_id", "store_id", "inventory_count"],
    "fact_monthly_payment": ["staff_id", "rental_id", "date_id", "monthly_payment_total"],
}


def _clean(table: str, cols: list[str]) -> str:
    cond = " AND ".join(f"{c} IS NOT NULL" for c in cols)
    return f"SELECT DISTINCT {', '.join(cols)} FROM {table} WHERE {cond}"


def oracle_sql() -> dict[str, str]:
    dims = {
        name: _clean(src, COLUMNS[name])
        for name, src in [
            ("dim_staff", "staff"),
            ("dim_film", "film"),
            ("dim_store", "store"),
            ("dim_rental", "rental"),
        ]
    }
    dims["dim_date"] = """
        SELECT CAST(strftime(d, '%Y%m%d') AS INT) AS date_id, d AS full_date,
               CAST(month(d) AS INT) AS month, CAST(year(d) AS INT) AS year
        FROM generate_series(TIMESTAMP '2005-01-01', TIMESTAMP '2006-12-31',
                             INTERVAL 1 DAY) AS t(d)"""
    dims["fact_daily_inventory"] = f"""
        SELECT CAST(strftime(r.rental_date, '%Y%m%d') AS INT) AS date_id,
               i.film_id, i.store_id, COUNT(*) AS inventory_count
        FROM ({_clean('rental', ['rental_id', 'rental_date', 'inventory_id'])}) r
        JOIN ({_clean('inventory', ['inventory_id', 'film_id', 'store_id'])}) i
          USING (inventory_id)
        GROUP BY 1, 2, 3"""
    dims["fact_monthly_payment"] = f"""
        SELECT staff_id, rental_id,
               CAST(year(payment_date) * 10000 + month(payment_date) * 100 + 1 AS INT)
                 AS date_id,
               CAST(SUM(amount) AS DECIMAL(18, 2)) AS monthly_payment_total
        FROM ({_clean('payment', ['staff_id', 'rental_id', 'payment_date', 'amount'])})
        GROUP BY 1, 2, 3"""
    return dims


def _fingerprint(con, relation: str, cols: list[str]) -> tuple[int, int]:
    text = ", ".join(f"CAST({c} AS VARCHAR)" for c in cols)
    n, h = con.execute(
        f"SELECT COUNT(*), COALESCE(SUM(hash({text})::HUGEINT), 0) FROM ({relation})"
    ).fetchone()
    return int(n), int(h)


def _connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    return con


def expected(sources_dir: str) -> dict[str, tuple[int, int]]:
    """(row count, value hash) of every warehouse table, from the sources."""
    con = _connect()
    for t in ("staff", "film", "store", "rental", "inventory", "payment"):
        # timestamps as UTC wall-clock TIMESTAMP, the session zone of the engine
        con.execute(f"CREATE VIEW {t}_raw AS SELECT * FROM '{sources_dir}/{t}.parquet'")
        proj = ", ".join(
            f"CAST({c} AS TIMESTAMP) AS {c}" if ty.startswith("TIMESTAMP") else c
            for c, ty, *_ in con.execute(f"DESCRIBE {t}_raw").fetchall()
        )
        con.execute(f"CREATE VIEW {t} AS SELECT {proj} FROM {t}_raw")
    out = {name: _fingerprint(con, sql, COLUMNS[name]) for name, sql in oracle_sql().items()}
    con.close()
    return out


def written(warehouse_dir: str) -> dict[str, tuple[int, int] | None]:
    """(row count, value hash) of every table as written; None if unreadable."""
    con = _connect()
    out: dict[str, tuple[int, int] | None] = {}
    for name, cols in COLUMNS.items():
        glob = "*/*.parquet" if name.startswith("fact_") else "*.parquet"
        rel = (
            f"SELECT * FROM read_parquet('{warehouse_dir}/{name}/{glob}', "
            "hive_partitioning = true)"
        )
        proj = ", ".join(
            f"CAST({c} AS TIMESTAMP) AS {c}" if c in ("full_date", "rental_date") else c
            for c in cols
        )
        try:
            out[name] = _fingerprint(con, f"SELECT {proj} FROM ({rel})", cols)
        except duckdb.Error:
            out[name] = None
    con.close()
    return out


class _Collected:
    """A collected result in the shape ``assert_matches_oracle`` reads."""

    def __init__(self, frame) -> None:
        self._frame = frame

    def toPandas(self):
        return self._frame


def registry_checks(root: str, corpus_dir: str, collect_dir: str, names: list[str]) -> list[dict]:
    """Compare each collected registry result with its DuckDB oracle SQL,
    using the test suite's oracle comparison
    (``tests/conftest.py::assert_matches_oracle``)."""
    import importlib.util

    import pandas as pd

    from filmdatawarehouse_spark.queries.registry import all_queries

    spec = importlib.util.spec_from_file_location(
        "perfbench_conftest", os.path.join(root, "tests", "conftest.py")
    )
    conftest = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(conftest)
    registry = all_queries()
    con = duckdb.connect()
    for t in conftest.TABLES:
        if os.path.exists(f"{corpus_dir}/{t}.parquet"):  # the corpus holds only what the queries read
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{corpus_dir}/{t}.parquet'")
    checks = []
    for name in sorted(names):
        path = f"{collect_dir}/{name}.parquet"
        if not os.path.exists(path):
            continue  # the engine reported this query as failed
        try:
            got = _Collected(pd.read_parquet(path))
            conftest.assert_matches_oracle(got, con, registry[name][1])
            checks.append({"check": name, "ok": True})
        except AssertionError as exc:
            checks.append({"check": name, "ok": False, "error": str(exc)[:500]})
    con.close()
    return checks
