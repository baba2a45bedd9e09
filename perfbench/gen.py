"""Seeded input generators: Sakila-shaped ETL sources and a TPC-H-shaped corpus.

Everything is produced in one process with numpy + pyarrow. The same seed and
size give byte-identical parquet files (fixed writer settings, no wall-clock
metadata), so a run can be reproduced from its record alone.

- ``write_sakila`` writes the six operational tables the reference DAG reads
  (FIXTURES.md section 1 schemas): staff, film, store, rental, inventory and
  payment. ``rental`` and ``payment`` carry ~1% any-null rows and ~1% exact
  duplicates; the returned manifest says how many rows each cleaned
  projection must drop.
- ``write_corpus`` writes the eight tables the BI queries read (the
  TPC-H-style ``region .. lineitem`` plus ``events``), drawn the way the
  engine's test corpus is, so the registry's builders and DuckDB oracles run
  on it unchanged and select similar shares of rows.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# Sakila shape (BASELINE.md / FIXTURES.md): 1,000 films, 2 stores, 2 staff,
# 4,581 inventory rows; rentals start on Sakila's first rental day, inside
# the 2005-2006 calendar that dim_date covers.
SAKILA_FILMS = 1000
SAKILA_INVENTORY = 4581
SAKILA_CUSTOMERS = 599
SAKILA_START = dt.datetime(2005, 5, 24)
DIRTY_NULL_FRAC = 0.01
DIRTY_DUP_FRAC = 0.01

_WRITE = dict(compression="snappy", use_dictionary=True, write_statistics=True)


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table.replace_schema_metadata(None), path, **_WRITE)


def _cents(cents: np.ndarray) -> pa.Array:
    """DECIMAL(10,2) array from non-negative whole-cent counts (exact)."""
    words = np.zeros((cents.size, 2), dtype=np.int64)
    words[:, 0] = cents
    return pa.Array.from_buffers(pa.decimal128(10, 2), cents.size, [None, pa.py_buffer(words.tobytes())])


def _ts(start: dt.datetime, seconds: np.ndarray, tz: str | None = None) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + seconds.astype("timedelta64[s]"), pa.timestamp("us", tz=tz))


def _dirty(
    rng: np.random.Generator, cols: dict[str, pa.Array], nullable: list[str]
) -> tuple[pa.Table, dict[str, int]]:
    """Inject any-null rows and exact duplicates into a clean table.

    Null rows and duplicate sources are disjoint sets of distinct rows, so
    every injected row is removed exactly once by ``na.drop("any")`` +
    ``dropDuplicates()``. Returns the table (rows shuffled) and the number of
    nulls injected per column, plus ``"dup"`` for the duplicates.
    """
    n = len(next(iter(cols.values())))
    n_null = int(n * DIRTY_NULL_FRAC)
    n_dup = int(n * DIRTY_DUP_FRAC)
    picked = rng.choice(n, size=n_null + n_dup, replace=False)
    null_rows, dup_rows = picked[:n_null], picked[n_null:]
    null_col = rng.integers(0, len(nullable), size=n_null)
    injected: dict[str, int] = {"dup": n_dup}
    out = {}
    for name, arr in cols.items():
        mask = np.zeros(n, dtype=bool)
        if name in nullable:
            hit = null_rows[null_col == nullable.index(name)]
            mask[hit] = True
            injected[name] = int(hit.size)
        out[name] = pc.if_else(pa.array(mask), pa.scalar(None, arr.type), arr)
    table = pa.table(out)
    table = pa.concat_tables([table, table.take(pa.array(dup_rows))])
    return table.take(pa.array(rng.permutation(len(table)))), injected


def write_sakila(out_dir: str, seed: int, n_rentals: int, n_days: int) -> dict:
    """Write the six Sakila-shaped source tables, with rental and payment
    dates spread over ``n_days`` days; return the dirt manifest.

    ``payment`` has one row per rental (a permutation of rental ids), so its
    projection (staff_id, rental_id, payment_date, amount) has no accidental
    duplicates: the only rows cleaning removes are the injected ones.
    """
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    i32 = pa.int32()

    _write(
        pa.table(
            {
                "staff_id": pa.array([1, 2], i32),
                "first_name": ["Mike", "Jon"],
                "last_name": ["Hillyer", "Stephens"],
                "store_id": pa.array([1, 2], i32),
            }
        ),
        f"{out_dir}/staff.parquet",
    )
    _write(
        pa.table(
            {
                "store_id": pa.array([1, 2], i32),
                "manager_staff_id": pa.array([1, 2], i32),
                "address_id": pa.array([1, 2], i32),
            }
        ),
        f"{out_dir}/store.parquet",
    )
    film_ids = np.arange(1, SAKILA_FILMS + 1, dtype=np.int32)
    _write(
        pa.table(
            {
                "film_id": film_ids,
                "title": [f"FILM {i:04d}" for i in film_ids],
                "release_year": pa.array(np.full(SAKILA_FILMS, 2006), i32),
                "language_id": pa.array(rng.integers(1, 7, SAKILA_FILMS), i32),
            }
        ),
        f"{out_dir}/film.parquet",
    )
    inv_ids = np.arange(1, SAKILA_INVENTORY + 1, dtype=np.int32)
    _write(
        pa.table(
            {
                "inventory_id": inv_ids,
                "film_id": pa.array(rng.integers(1, SAKILA_FILMS + 1, SAKILA_INVENTORY), i32),
                "store_id": pa.array(rng.integers(1, 3, SAKILA_INVENTORY), i32),
            }
        ),
        f"{out_dir}/inventory.parquet",
    )

    span = n_days * 86400
    rental_ids = np.arange(1, n_rentals + 1, dtype=np.int32)
    rental_secs = rng.integers(0, span, n_rentals)
    rental, rental_dirt = _dirty(
        rng,
        {
            "rental_id": pa.array(rental_ids),
            "rental_date": _ts(SAKILA_START, rental_secs, "UTC"),
            "inventory_id": pa.array(rng.integers(1, SAKILA_INVENTORY + 1, n_rentals), i32),
            "customer_id": pa.array(rng.integers(1, SAKILA_CUSTOMERS + 1, n_rentals), i32),
        },
        nullable=["rental_date", "inventory_id", "customer_id"],
    )
    _write(rental, f"{out_dir}/rental.parquet")

    paid = rng.permutation(rental_ids)
    pay_secs = np.minimum(rental_secs[paid - 1] + rng.integers(0, 7 * 86400, n_rentals), span - 1)
    payment, payment_dirt = _dirty(
        rng,
        {
            "payment_id": pa.array(np.arange(1, n_rentals + 1, dtype=np.int32)),
            "staff_id": pa.array(rng.integers(1, 3, n_rentals), i32),
            "rental_id": pa.array(paid),
            "payment_date": _ts(SAKILA_START, pay_secs, "UTC"),
            "amount": _cents(rng.integers(99, 1200, n_rentals)),
        },
        nullable=["staff_id", "rental_id", "payment_date", "amount"],
    )
    _write(payment, f"{out_dir}/payment.parquet")

    # rows each cleaned projection must drop (wire_reference_dag cleans
    # rental twice: 4 columns for dim_rental, 3 for fact_daily_inventory)
    rental_fact = rental_dirt["dup"] + rental_dirt["rental_date"] + rental_dirt["inventory_id"]
    expected_removed = {
        "dim_staff": 0,
        "dim_film": 0,
        "dim_store": 0,
        "dim_date": 0,
        "dim_rental": rental_fact + rental_dirt["customer_id"],
        "fact_daily_inventory": rental_fact,
        "fact_monthly_payment": sum(payment_dirt.values()),
    }
    return {
        "rows": {"rental": len(rental), "payment": len(payment)},
        "expected_removed": expected_removed,
    }


# The engine's test corpus (TESTDATA.md, sf0.01 and up) draws every column
# independently and uniformly from these domains: nations NATION_0..24 in
# region i % 5, lineitems assigned to random orders (~Poisson(4) lines per
# order), ship dates independent of order dates. The generator does the same,
# so the registry's filters and joins keep their selectivities.
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["small", "red", "blue", "hot", "big", "green", "cold", "shiny"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "nut", "spring", "valve"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
ORDER_START = dt.datetime(1995, 1, 1)
ORDER_DAYS = 2404  # through 2001-08-01
SHIP_START = dt.datetime(1995, 1, 2)
SHIP_DAYS = 2498  # through 2001-11-04
EVENT_START = dt.datetime(2024, 1, 1)
EVENT_SECONDS = 30 * 86400


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)], pa.string())


def _days(start: dt.datetime, days: np.ndarray) -> pa.Array:
    return _ts(start, days * 86400)


def write_corpus(out_dir: str, seed: int, sf: float) -> dict:
    """Write the eight tables the BI queries read at scale factor ``sf``;
    return row counts.

    TPC-H cardinalities: 150k customers, 10k suppliers, 200k parts, 1.5M
    orders and 6M lineitems per unit of ``sf``; 1M events by 15k users per
    unit, with exponentially distributed values (mean 50).
    """
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    i32, i64 = pa.int32(), pa.int64()
    tables = {
        "region": pa.table(
            {"r_regionkey": pa.array(np.arange(5), i32), "r_name": pa.array(REGIONS)}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(np.arange(25), i32),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array(np.arange(25) % 5, i32),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), i64),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), i64),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part), i64),
                "p_name": pa.array(
                    [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))]
                ),
                "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
                "p_type": _pick(rng, PART_TYPES, n_part),
                "p_size": pa.array(rng.integers(1, 51, n_part), i32),
                "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord), i64),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
                "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
                "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
                "o_orderdate": _days(ORDER_START, rng.integers(0, ORDER_DAYS, n_ord)),
                "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
                "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
                "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
                "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
                "l_discount": rng.integers(0, 11, n_li) / 100.0,
                "l_tax": rng.integers(0, 9, n_li) / 100.0,
                "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
                "l_linestatus": _pick(rng, ["F", "O"], n_li),
                "l_shipdate": _days(SHIP_START, rng.integers(0, SHIP_DAYS, n_li)),
            }
        ),
        "events": pa.table(
            {
                "event_id": pa.array(np.arange(n_ev), i64),
                "ts": pa.array(
                    np.datetime64(EVENT_START, "us")
                    + np.sort(rng.integers(0, EVENT_SECONDS * 1_000_000, n_ev)).astype("timedelta64[us]"),
                    pa.timestamp("us"),
                ),
                "user_id": pa.array(rng.integers(0, int(15_000 * sf), n_ev), i64),
                "event_type": _pick(rng, EVENT_TYPES, n_ev),
                "value": np.round(rng.exponential(50.0, n_ev), 2),
                "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
            }
        ),
    }
    for name, table in tables.items():
        _write(table, f"{out_dir}/{name}.parquet")
    return {name: table.num_rows for name, table in tables.items()}
