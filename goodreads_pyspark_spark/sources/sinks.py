"""Sinks (SURVEY.md §2.1 S4).

The reference persists curated tables as parquet managed tables
(reference: goodreads.py:121,125,129) to make its ``%sql`` cells work. We
expose the same catalog boundary plus scale options the notebook lacks:
``partition_by`` for partition pruning and ``bucket_by`` so later joins on
the bucket key co-locate without a shuffle.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame


def write_parquet_table(
    df: DataFrame,
    name: str,
    mode: str = "overwrite",
    partition_by: Sequence[str] | None = None,
    bucket_by: tuple[int, Sequence[str]] | None = None,
) -> None:
    """Persist ``df`` as a parquet table registered in the session catalog."""
    writer = df.write.format("parquet").mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if bucket_by:
        n, cols = bucket_by
        writer = writer.bucketBy(n, *cols).sortBy(*cols)
    writer.saveAsTable(name)


def compact_parquet(
    df: DataFrame,
    path: str,
    range_col: str,
    n_files: int = 8,
    max_records_per_file: int | None = None,
) -> None:
    """Small-file compaction: rewrite ``df`` as ``n_files`` range-
    partitioned, internally sorted parquet files.

    The 100 TB hygiene op: streaming ingest / per-task writers leave
    thousands of KB-sized files whose open/seek overhead dominates later
    scans. ``repartitionByRange`` gives globally disjoint, balanced key
    ranges (sampled range bounds — one pass), ``sortWithinPartitions``
    makes each file internally sorted so min/max row-group statistics
    become selective (point/range predicates skip whole files), and
    ``maxRecordsPerFile`` bounds individual file size without another
    shuffle.
    """
    writer = (
        df.repartitionByRange(n_files, range_col)
        .sortWithinPartitions(range_col)
        .write.mode("overwrite")
    )
    if max_records_per_file is not None:
        writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
    writer.parquet(path)


def overwrite_partitions(df: DataFrame, name: str) -> None:
    """Replace ONLY the partitions present in ``df`` of an existing
    partitioned table; all other partitions are untouched.

    This is the incremental-refresh primitive for a partitioned lake
    table (re-land one day/source without rewriting history). Uses
    Spark's dynamic partition-overwrite mode — scoped to this write via
    a save/restore of the session conf, because STATIC (the default)
    would silently drop every other partition, a catastrophic footgun
    on a 100 TB table.

    ``insertInto`` matches columns BY POSITION against the table layout
    (partition columns last), ignoring ``df``'s column names — so the
    frame is realigned here to the target table's column order first; a
    caller-supplied order that merely *names* the right columns would
    otherwise write swapped data wherever types happen to be compatible.
    """
    spark = df.sparkSession
    df = df.select(*spark.table(name).columns)
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "dynamic")
    try:
        df.write.mode("overwrite").insertInto(name)
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
