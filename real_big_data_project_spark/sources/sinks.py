"""Sinks (SURVEY.md §2.1 S6/S9): the engine's storage substrate.

The reference bulk-loads via ``COPY FROM STDIN`` into TimescaleDB
hypertables chunked on the date column (etl/timescaledb_model.py:29-57,
:281-283). The Spark restatement is date-partitioned Parquet:

  * ``partitionBy(day)`` reproduces hypertable time-chunking — query-side
    date predicates become partition pruning (directories skipped before
    any IO), verified by tests/test_sinks.py;
  * ``sortWithinPartitions(key, ts)`` approximates the reference's
    ``(cid, date DESC)`` index: parquet row-group min/max stats on a
    sorted layout give per-series range scans most of an index's benefit;
  * the writer commits per task — the reference's 100k-row commit
    batching (etl/etl.py:617) has no analogue because it exists only to
    bound single-process memory.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

PARTITION_COL = "day"


def write_time_partitioned(
    df: DataFrame,
    path: str,
    ts: str = "date",
    key: str = "cid",
    mode: str = "overwrite",
) -> None:
    """Write a tick/bar table as date-partitioned parquet, sorted by
    (key, ts) within each partition (S6 + the hypertable/index analogue)."""
    (
        df.withColumn(PARTITION_COL, F.col(ts).cast("date"))
        .repartition(F.col(PARTITION_COL))
        .sortWithinPartitions(key, ts)
        .write.partitionBy(PARTITION_COL)
        .mode(mode)
        .parquet(path)
    )


def read_time_partitioned(spark: SparkSession, path: str) -> DataFrame:
    """Scan back; date predicates on PARTITION_COL prune directories."""
    return spark.read.parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    n_buckets: int = 8,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Write a managed parquet table hash-bucketed on `key` (optionally
    sorted within buckets).

    Bucketing is the join-side half of the scale story that partitioning
    (time pruning) doesn't cover: two tables bucketed on the same key with
    the same bucket count join WITHOUT any Exchange — the shuffle is paid
    once at write time, then every subsequent co-located join, and every
    aggregation keyed on `key`, reads pre-distributed data. At 100 TB the
    repeated fact⋈fact shuffle is the single biggest cost a layout choice
    can delete (tests/test_sinks.py asserts the Exchange-free plan).
    """
    writer = df.write.mode(mode).format("parquet").bucketBy(n_buckets, key)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "append",
    driver: str | None = None,
    batchsize: int = 10_000,
    num_writers: int | None = None,
    isolation_level: str = "READ_COMMITTED",
) -> None:
    """S6's database twin: bulk-load a DataFrame into a JDBC table — the
    Spark restatement of the reference's ``COPY FROM STDIN`` loader
    (etl/timescaledb_model.py:29-57, df_write batching etl/etl.py:617).

    Each partition opens one connection and streams batched INSERTs
    (``batchsize`` rows per round trip — the COPY-analog knob). The write
    is distributed: parallelism = #partitions, so `num_writers` is the
    back-pressure control — at cluster scale cap it well below the
    database's max_connections instead of letting 1000 executors pile in.
    """
    writer_df = df.coalesce(num_writers) if num_writers else df
    w = (
        writer_df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batchsize))
        .option("isolationLevel", isolation_level)
    )
    if driver:
        w = w.option("driver", driver)
    w.mode(mode).save()


DERBY_DRIVER = "org.apache.derby.iapi.jdbc.AutoloadedDriver"


def ensure_nation_jdbc(spark: SparkSession, sf_dir: str) -> str:
    """Idempotently load `nation` into an embedded Derby database (the
    in-process JDBC engine shipped with the Spark distribution) and
    return its JDBC URL — the fixture for the oracled JDBC round-trip."""
    import os

    from .registry import ARTIFACTS, fixture_tag, load_table

    # Built in place, not through registry.ensure_fixture: the JDBC write
    # boots the database inside the JVM, and a booted Derby database
    # cannot be renamed.
    db_dir = os.path.join(ARTIFACTS, f"derby_nation_{fixture_tag(sf_dir)}")
    url = f"jdbc:derby:{db_dir}/db;create=true"
    marker = os.path.join(db_dir, ".loaded")
    if not os.path.exists(marker):
        os.makedirs(db_dir, exist_ok=True)
        nation = load_table(spark, sf_dir, "nation").select(
            "n_nationkey", "n_name", "n_regionkey"
        )
        write_jdbc(nation, url, "nation_jdbc", mode="overwrite",
                   driver=DERBY_DRIVER)
        with open(marker, "w") as f:
            f.write("ok\n")
    return url


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    driver: str | None = None,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int = 1,
) -> DataFrame:
    """JDBC scan (S7's database twin). Pass `partition_column` + bounds to
    split the scan into `num_partitions` range predicates executed in
    parallel — without it a JDBC read is ONE connection streaming the
    whole table, which is the classic single-task bottleneck at scale.
    Catalyst pushes filters/projections into the generated SQL."""
    r = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    if driver:
        r = r.option("driver", driver)
    if partition_column is not None:
        r = (
            r.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions))
        )
    return r.load()


def compact_time_partitions(
    spark: SparkSession,
    path: str,
    target_rows_per_file: int,
    days: list | None = None,
) -> None:
    """Small-file compaction for a date-partitioned store — the table
    maintenance every streaming/incremental writer needs: micro-batches
    and per-task commits leave each day fragmented into many tiny files,
    and at 100 TB the scan cost becomes file-open dominated (and the
    NameNode/listing cost grows without bound).

    One job, no driver loop over files: repartition ON the partition
    column (each day's rows converge on one task — the same move as
    write_time_partitioned), cap output size with maxRecordsPerFile, and
    rewrite ONLY the touched partitions via dynamic partition overwrite.
    `days=None` compacts the whole store; pass the invalidated-day list
    (operators/incremental.py::affected_days) to make compaction an
    increment-sized nightly step instead of a corpus rewrite.

    Rewrites preserve the in-file (key-free) ordering only per shuffle
    output; re-apply sortWithinPartitions upstream if a sorted layout
    matters (zorder_write / write_time_partitioned already do).
    """
    df = spark.read.parquet(path)
    if days is not None:
        df = df.filter(F.col(PARTITION_COL).isin(days))
    old = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            df.repartition(F.col(PARTITION_COL))
            .write.partitionBy(PARTITION_COL)
            .option("maxRecordsPerFile", target_rows_per_file)
            .mode("overwrite")
            .parquet(path)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", old)


def delete_keys_from_store(
    spark: SparkSession,
    path: str,
    keys: DataFrame,
    key_col: str,
) -> int:
    """Targeted key deletion from a date-partitioned store — the
    compliance-delete ("right to be forgotten") primitive: remove every
    row of the given keys while rewriting ONLY the partitions that
    contain them. Returns the number of partitions rewritten.

    At 100 TB the difference between "rewrite the table" and "rewrite
    the 3 partitions this user appears in" is the whole feature. Shape:

      1. the key set broadcasts into a semi-join over the store to find
         affected partition values (an aggregate over the partition
         column — partition-pruned reads on stores whose layout already
         clusters the key, full scan otherwise, but producing only a
         calendar-sized day list);
      2. those partitions are re-read (static partition pruning this
         time), anti-joined against the keys, and rewritten in place via
         dynamic partition overwrite — untouched partitions' files are
         never opened, never rewritten.

    Deletion is physical: rewritten files simply do not contain the
    rows. Callers needing tombstone audit trails should log `keys`
    separately (the tags KV surface fits).
    """
    df = spark.read.parquet(path)
    affected = [
        r[0]
        for r in df.join(F.broadcast(keys), on=key_col, how="left_semi")
        .select(PARTITION_COL)
        .distinct()
        .collect()  # calendar-bounded, metadata-sized
    ]
    if not affected:
        return 0
    remain = (
        df.filter(F.col(PARTITION_COL).isin(affected))
        .join(F.broadcast(keys), on=key_col, how="left_anti")
    )
    # Dynamic overwrite only replaces partitions PRESENT IN THE OUTPUT: a
    # partition whose every row matched the keys produces no output rows
    # and its old files would silently survive — the one failure mode a
    # compliance delete must not have. Find those now-empty partitions
    # (day-list-sized) and remove their directories after the rewrite; a
    # table format (Delta/Iceberg) does this through its commit log.
    surviving = {
        r[0] for r in remain.select(PARTITION_COL).distinct().collect()
    }
    emptied = [d for d in affected if d not in surviving]
    old = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            remain.repartition(F.col(PARTITION_COL))
            .write.partitionBy(PARTITION_COL)
            .mode("overwrite")
            .parquet(path)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", old)
    import shutil

    for d in emptied:
        pdir = os.path.join(path, f"{PARTITION_COL}={d}")
        if os.path.isdir(pdir):
            shutil.rmtree(pdir)
    return len(affected)
