"""End-to-end tests of the seven warehouse jobs on Sakila-shaped fixtures
(FIXTURES.md §1), including the idempotent-write divergence from the
reference's blind append (`dags/rentalFilmDAG.py:39` etc.)."""

from __future__ import annotations

import datetime
from decimal import Decimal

import pytest

from pyspark.sql import functions as F

from filmdatawarehouse_spark import schemas
from filmdatawarehouse_spark.io.sinks import write_fact
from filmdatawarehouse_spark.io.sources import literal_rows
from filmdatawarehouse_spark.warehouse import (
    build_dim_date,
    build_dim_film,
    build_dim_rental,
    build_dim_staff,
    build_dim_store,
    build_fact_daily_inventory,
    build_fact_monthly_payment,
)

TS = datetime.datetime


@pytest.fixture(scope="module")
def sources(spark):
    staff = literal_rows(
        spark,
        [
            dict(staff_id=1, first_name="A", last_name="B", store_id=1),
            dict(staff_id=2, first_name="C", last_name="D", store_id=2),
        ],
        schemas.STAFF,
    )
    film = literal_rows(
        spark,
        [
            dict(film_id=1, title="T1", release_year=2005, language_id=1),
            dict(film_id=2, title="T2", release_year=2006, language_id=1),
        ],
        schemas.FILM,
    )
    store = literal_rows(
        spark,
        [
            dict(store_id=1, manager_staff_id=1, address_id=10),
            dict(store_id=2, manager_staff_id=2, address_id=20),
        ],
        schemas.STORE,
    )
    inventory = literal_rows(
        spark,
        [
            dict(inventory_id=100, film_id=1, store_id=1),
            dict(inventory_id=101, film_id=1, store_id=2),
            dict(inventory_id=102, film_id=2, store_id=1),
        ],
        schemas.INVENTORY,
    )
    rental = literal_rows(
        spark,
        [
            # two rentals of film 1 @ store 1 on the same day → count 2
            dict(rental_id=1, rental_date=TS(2005, 5, 1, 10), inventory_id=100, customer_id=7),
            dict(rental_id=2, rental_date=TS(2005, 5, 1, 16), inventory_id=100, customer_id=8),
            dict(rental_id=3, rental_date=TS(2005, 5, 2, 9), inventory_id=101, customer_id=7),
            dict(rental_id=4, rental_date=TS(2005, 6, 2, 9), inventory_id=102, customer_id=9),
        ],
        schemas.RENTAL,
    )
    payment = literal_rows(
        spark,
        [
            dict(payment_id=1, staff_id=1, rental_id=1, payment_date=TS(2005, 5, 3), amount=Decimal("2.99")),
            dict(payment_id=2, staff_id=1, rental_id=1, payment_date=TS(2005, 5, 20), amount=Decimal("1.01")),
            dict(payment_id=3, staff_id=2, rental_id=3, payment_date=TS(2005, 6, 1), amount=Decimal("4.50")),
        ],
        schemas.PAYMENT,
    )
    return dict(staff=staff, film=film, store=store, inventory=inventory,
                rental=rental, payment=payment)


def test_dims(spark, sources):
    assert build_dim_staff(sources["staff"]).count() == 2
    assert build_dim_film(sources["film"]).count() == 2
    assert build_dim_store(sources["store"]).count() == 2
    assert build_dim_rental(sources["rental"]).count() == 4
    dd = build_dim_date(spark)
    assert dd.count() == 730  # 2005-01-01..2006-12-31 (NB:353)
    assert [f.name for f in dd.schema.fields] == ["date_id", "full_date", "month", "year"]
    first = dd.orderBy("date_id").first()
    assert first.date_id == 20050101 and first.month == 1 and first.year == 2005


def test_fact_daily_inventory(sources):
    fact = build_fact_daily_inventory(sources["rental"], sources["inventory"])
    rows = {(r.date_id, r.film_id, r.store_id): r.inventory_count for r in fact.collect()}
    assert rows == {
        (20050501, 1, 1): 2,
        (20050502, 1, 2): 1,
        (20050602, 2, 1): 1,
    }


def test_fact_monthly_payment(sources):
    fact = build_fact_monthly_payment(sources["payment"])
    rows = {(r.staff_id, r.rental_id, r.date_id): float(r.monthly_payment_total)
            for r in fact.collect()}
    # both May payments for (staff 1, rental 1) fold into the 20050501 key
    assert rows == {
        (1, 1, 20050501): 4.00,
        (2, 3, 20050601): 4.50,
    }


def test_fact_write_is_idempotent(tmp_path, sources):
    """Re-running a fact load must NOT duplicate rows (the reference's blind
    append does, `dags/rentalFilmDAG.py:84`); dynamic partition overwrite
    replaces only the partitions in the incoming frame."""
    fact = build_fact_daily_inventory(sources["rental"], sources["inventory"])
    path = str(tmp_path / "fact_daily_inventory")
    write_fact(fact, path, partition_by="date_id")
    write_fact(fact, path, partition_by="date_id")  # re-run
    spark = fact.sparkSession
    again = spark.read.parquet(path)
    assert again.count() == 3  # unchanged

    # a partial re-load touching one partition leaves other partitions alone
    one_day = fact.filter(F.col("date_id") == 20050501)
    write_fact(one_day, path, partition_by="date_id")
    assert spark.read.parquet(path).count() == 3


def test_fact_write_layout_one_file_per_date_spread_over_tasks(spark, tmp_path):
    """write_fact hash-repartitions on the date key to defaultParallelism
    tasks: each date directory gets exactly one file, the content is
    unchanged, and the write's final stage runs more than one task (AQE
    would otherwise coalesce a small fact into one task writing every
    date in sequence)."""
    import glob
    import time

    n_dates = 25
    fact = (
        spark.range(0, 600, numPartitions=4)
        .select(
            (F.lit(20050101) + F.col("id") % n_dates).cast("int").alias("date_id"),
            F.col("id").alias("film_id"),
            (F.col("id") % 7).alias("inventory_count"),
        )
    )
    assert fact.rdd.getNumPartitions() >= 3
    path = str(tmp_path / "fact_layout")
    sc = spark.sparkContext
    group = f"write-fact-layout-{time.time_ns()}"
    sc.setJobGroup(group, "write_fact layout")
    try:
        write_fact(fact, path, partition_by="date_id")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)

    dirs = glob.glob(f"{path}/date_id=*")
    assert len(dirs) == n_dates
    for d in dirs:
        assert len(glob.glob(f"{d}/part-*.parquet")) == 1, d

    back = spark.read.parquet(path).select(*fact.columns)
    assert back.exceptAll(fact).count() == 0
    assert fact.exceptAll(back).count() == 0

    if sc.defaultParallelism > 1:
        tracker = sc.statusTracker()
        deadline = time.monotonic() + 10
        while True:
            infos = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(group)]
            settled = infos and all(
                i is not None and i.status != "RUNNING" for i in infos
            )
            if settled or time.monotonic() > deadline:
                break
            time.sleep(0.05)
        final = tracker.getStageInfo(max(s for i in infos for s in i.stageIds))
        assert final is not None and final.numTasks > 1, final


def test_wired_dag_logs_clean_counts_without_extra_jobs(
    spark, sources, tmp_path, capsys
):
    """The wired reference DAG (wire_reference_dag) must emit the
    reference's per-table "Cleaned: N rows removed" lines with ZERO extra
    Spark actions: the Observation counts ride each job's single write, so
    the observed run launches exactly as many Spark jobs as a silent run
    of the same builds+writes."""
    from filmdatawarehouse_spark.warehouse.jobs import wire_reference_dag

    def n_spark_jobs() -> int:
        """Highest job id seen so far (monotonic): list SIZE would break in
        a long pytest session once the status store starts evicting old
        jobs past spark.ui.retainedJobs — ids never go backwards."""
        it = (
            spark._jsparkSession.sparkContext()  # noqa: SLF001
            .statusStore()
            .jobsList(None)
            .iterator()
        )
        max_id = -1
        while it.hasNext():
            max_id = max(max_id, it.next().jobId())
        return max_id + 1

    def write_to(sub):
        def write(name, df):
            df.write.mode("overwrite").parquet(str(tmp_path / sub / name))

        return write

    # baseline: identical builds + writes, silent default cleaner
    silent = {
        "dim_staff": build_dim_staff(sources["staff"]),
        "dim_film": build_dim_film(sources["film"]),
        "dim_store": build_dim_store(sources["store"]),
        "dim_date": build_dim_date(spark),
        "dim_rental": build_dim_rental(sources["rental"]),
        "fact_monthly_payment": build_fact_monthly_payment(sources["payment"]),
        "fact_daily_inventory": build_fact_daily_inventory(
            sources["rental"], sources["inventory"]
        ),
    }
    before = n_spark_jobs()
    w = write_to("silent")
    for name, df in silent.items():
        w(name, df)
    silent_jobs = n_spark_jobs() - before

    capsys.readouterr()  # drop any buffered output
    before = n_spark_jobs()
    order = wire_reference_dag(spark, sources, write_to("observed")).run()
    observed_jobs = n_spark_jobs() - before
    out = capsys.readouterr().out

    assert len(order) == 7
    # the reference logs one line per cleaned table: 5 dims + 2 inputs of
    # fact_daily_inventory + 1 of fact_monthly_payment
    assert out.count("rows removed") == 8
    assert "[staff] Cleaned: 0 rows removed" in out
    assert observed_jobs == silent_jobs, (
        f"observed path launched {observed_jobs} Spark jobs vs "
        f"{silent_jobs} for the silent twin — Observation must add none"
    )
