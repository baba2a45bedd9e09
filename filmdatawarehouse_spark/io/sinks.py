"""Sinks: idempotent partitioned parquet (primary), JDBC append (optional).

The reference writes every dim/fact with ``to_sql(if_exists='append')``
(`dags/rentalFilmDAG.py:39,46,53,65,72,84,97` — operator K1), which duplicates
every row on re-run. This engine deliberately diverges (documented divergence,
SURVEY.md §7 "what's hard" #2): writes are **idempotent** —

- dimensions: full ``overwrite`` (small, rebuilt each run);
- facts: ``overwrite`` with *dynamic partition overwrite* on the date key, so
  a daily re-run replaces only that day's partitions. At 100 TB this is also
  the only sane layout: facts partitioned by date give partition pruning on
  every time-ranged query.

Fact layout rule: a fact is hash-repartitioned on its partition columns to
``defaultParallelism`` tasks before the partitioned write, so every
partition value is written by exactly one task (one file per value) and the
tasks write their disjoint sets of date directories in parallel.
``compact_parquet`` follows the same rule for partitioned locations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_table(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Write a dimension (or any unpartitioned table) as parquet."""
    df.write.mode(mode).parquet(path)


def write_fact(
    df: DataFrame,
    path: str,
    partition_by: str | list[str] = "date_id",
    mode: str = "overwrite",
) -> None:
    """Write a fact table partitioned by its date key.

    With ``spark.sql.sources.partitionOverwriteMode=dynamic`` (set by
    ``get_spark``), ``overwrite`` replaces only the partitions present in
    ``df`` — an idempotent daily load (fixes reference K1 append-duplication).

    Layout: the frame is hash-repartitioned on the partition columns to
    ``defaultParallelism`` tasks, so each partition value lands in exactly
    one task — one file per value at any core count — and the tasks write
    disjoint sets of directories in parallel. Without it, AQE coalesces a
    small upstream shuffle into ONE task that writes every date directory
    in sequence, and a larger shuffle leaves up to values × tasks files.

    The width is the core count on purpose, unlike the volume-keyed
    ``io.sources.adaptive_spread_width`` used to spread queries (a
    core-count query width anti-scaled at ``local[32]``). Here the cost
    being spread is per output FILE — create, footer, checksum, commit
    rename; about 11 ms of task time per 8 kB file at 365 dates on a 4-vCPU
    box — not per byte, so a volume-keyed width would put a few-MB fact
    back into one task. The count must be explicit: AQE coalesces a
    count-less ``repartition(col)`` back to one task.
    """
    width = df.sparkSession.sparkContext.defaultParallelism
    _write_partitioned(df, path, partition_by, width, mode)


def _write_partitioned(
    df: DataFrame, path: str, partition_by: str | list[str], width: int, mode: str
) -> None:
    """The layout rule shared by ``write_fact`` and ``compact_parquet``:
    hash-repartition on the partition columns to ``width`` tasks, then
    write one directory per partition value — one file per value."""
    cols = [partition_by] if isinstance(partition_by, str) else list(partition_by)
    (
        df.repartition(width, *[F.col(c) for c in cols])
        .write.mode(mode)
        .partitionBy(*cols)
        .parquet(path)
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_by: str,
    n_buckets: int = 16,
    sort_by: str | None = None,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Write a catalog table hash-bucketed (and optionally sorted) on the
    join key. Two tables bucketed the same way join WITHOUT an exchange —
    at 100 TB, pre-bucketing the fact and its big dims converts every
    fact⋈dim join from a full shuffle into a per-bucket local join, paid
    once at write time. (Bucketing requires ``saveAsTable``: the bucket
    spec lives in the catalog, not the files; pass ``path`` to keep the
    data external.)"""
    w = df.write.mode(mode).bucketBy(n_buckets, bucket_by)
    if sort_by:
        w = w.sortBy(sort_by)
    if path:
        w = w.option("path", path)
    w.format("parquet").saveAsTable(table)


def compact_parquet(
    spark,
    path: str,
    target_files: int,
    partition_by: str | list[str] | None = None,
) -> None:
    """Rewrite a parquet location into ``target_files`` files — the
    small-files housekeeping every long-lived 100 TB table needs: streaming
    appends and daily dynamic overwrites accumulate KB-sized files whose
    open/footer cost eventually dominates scans. A partitioned location
    (``partition_by`` set) is hash-repartitioned on its partition columns
    into ``target_files`` tasks, so it ends with exactly ONE file per
    partition value (the ``write_fact`` layout rule).

    The rewrite goes through a temp location (never read-and-overwrite the
    same path in one job — the scan would see its own deletes), then swaps
    via two RENAMES (old aside → tmp into place → delete old): the table
    is missing only for the instant between the renames, and a crash in
    that window leaves BOTH copies on disk (the ``_compact_old`` dir is
    the recovery point) — never a state where only the tmp copy survives.

    The swap goes through the Hadoop FileSystem (``io.fs.rename`` —
    r12, was POSIX ``shutil``), so the table may live on HDFS/S3A.
    Rename is atomic per directory on local/HDFS; on object stores it
    is COPY+DELETE — there, prefer a table format (Delta/Iceberg
    rewrite actions) whose commit protocol owns the swap, or accept the
    longer missing-table window (``io.fs`` banner has the per-store
    contract). A failed rename raises before anything is deleted.
    """
    import uuid

    from filmdatawarehouse_spark.io import fs

    token = uuid.uuid4().hex[:8]
    tmp = f"{path.rstrip('/')}_compact_{token}"
    old = f"{path.rstrip('/')}_compact_old_{token}"
    df = spark.read.parquet(path)
    if partition_by:
        _write_partitioned(df, tmp, partition_by, target_files, "overwrite")
    else:
        df.repartition(target_files).write.mode("overwrite").parquet(tmp)
    fs.rename(spark, path, old)
    fs.rename(spark, tmp, path)
    fs.delete(spark, old)


def write_jdbc_append(df: DataFrame, url: str, table: str, **options: str) -> None:
    """Production JDBC sink — the reference's write path (K1), kept for API
    parity. Prefer ``write_fact`` semantics where the target supports it."""
    writer = df.write.format("jdbc").option("url", url).option("dbtable", table)
    for k, v in options.items():
        writer = writer.option(k, v)
    writer.mode("append").save()


def write_range_sorted(
    df: DataFrame,
    path: str,
    col: str,
    n_files: int = 8,
    mode: str = "overwrite",
) -> None:
    """Range-partitioned, within-file-sorted parquet layout on ``col`` —
    the write-side half of data-clustering: each output file covers a
    disjoint value range and is internally sorted, so parquet row-group
    min/max statistics let later range/point predicates on ``col`` skip
    whole files at the scan (the poor man's Z-order for a single key).

    ``repartitionByRange`` samples range boundaries (one extra pass over a
    sample, not the data) and shuffles once; ``sortWithinPartitions`` is a
    partition-local sort, no extra exchange. At 100 TB pick ``n_files`` so
    files land near the 128 MB-1 GB sweet spot.

    The disjoint-range + file-skipping contract is pinned by
    tests/test_io_formats.py::test_range_sorted_layout_skips_files.
    """
    (
        df.repartitionByRange(n_files, F.col(col))
        .sortWithinPartitions(col)
        .write.mode(mode)
        .parquet(path)
    )


Z_BITS = 16


def zorder_key(x, y, bits: int = Z_BITS):
    """Morton/Z-order interleave of two non-negative int columns (each
    truncated to ``bits`` low bits): bit i of x lands at position 2i, bit
    i of y at 2i+1. Pure JVM expressions (shift/and/or folded over the
    bit positions), whole-stage-codegen — no UDF.

    CALLERS MUST SCALE BOTH KEYS TO THE SAME BIT WIDTH first (as
    ``write_zorder`` does with a min-max scale): interleaving raw keys
    of different magnitudes puts one dimension's bits above all of the
    other's, and the sort degenerates to a single-key sort — measured
    exactly that way on (l_partkey≈15 bits, l_suppkey≈10 bits) before
    the scaling was added. Mis-scaling destroys locality, never
    correctness (it is only a SORT key)."""
    z = F.lit(0).cast("long")
    xl = x.cast("long")
    yl = y.cast("long")
    for i in range(bits):
        z = (
            z.bitwiseOR(
                F.shiftleft(F.shiftright(xl, i).bitwiseAND(F.lit(1)), 2 * i)
            ).bitwiseOR(
                F.shiftleft(F.shiftright(yl, i).bitwiseAND(F.lit(1)), 2 * i + 1)
            )
        )
    return z


def write_zorder(
    df: DataFrame,
    path: str,
    col_x: str,
    col_y: str,
    n_files: int = 8,
    mode: str = "overwrite",
) -> None:
    """Z-order-clustered parquet layout on TWO keys — the
    multi-dimensional extension of ``write_range_sorted``: rows are
    range-partitioned and sorted by the Morton interleave of
    (col_x, col_y), so each output file covers a compact rectangle-ish
    region of the 2-D key space and parquet min/max statistics prune
    files for predicates on EITHER column (a single-key sort can only
    prune one). The interleave column is dropped before write — layout
    only, no schema change.

    This is the published Z-order clustering idea (Morton 1966; the same
    layout Delta/Iceberg OPTIMIZE ZORDER applies) re-expressed as plain
    repartitionByRange + sortWithinPartitions — one shuffle plus one
    tiny min/max aggregate for the equal-width scaling, no UDF.
    Pinned by tests/test_io_formats.py::test_zorder_layout_prunes_both_dims.
    """
    lo_x, hi_x, lo_y, hi_y = df.agg(
        F.min(col_x), F.max(col_x), F.min(col_y), F.max(col_y)
    ).collect()[0]
    if lo_x is None or lo_y is None:
        # empty input (or an all-NULL key): nothing to cluster — write it
        # as-is, like write_range_sorted does
        df.write.mode(mode).parquet(path)
        return
    top = (1 << Z_BITS) - 1

    def scale(c, lo, hi):
        span = max(int(hi) - int(lo), 1)
        return F.floor(
            (c.cast("long") - F.lit(int(lo))) * F.lit(top) / F.lit(span)
        )

    zed = df.withColumn(
        "_z",
        zorder_key(
            scale(F.col(col_x), lo_x, hi_x), scale(F.col(col_y), lo_y, hi_y)
        ),
    )
    (
        zed.repartitionByRange(n_files, F.col("_z"))
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode(mode)
        .parquet(path)
    )
