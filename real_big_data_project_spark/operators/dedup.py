"""Deduplication / distinct operators (SURVEY.md §2.4 D-series), including
the reference's signature derived operator: lossy tick compression (D4,
etl/etl.py:372-413).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.cleansing import pct_change

TICK_COMPRESSION_MIN_CHANGE = 0.001  # keep moves > 0.1% (etl/etl.py:392-393)


def dedup_by_keys(df: DataFrame, keys: list[str], order: list[str] | None = None) -> DataFrame:
    """D1 — drop duplicates by key (etl/etl.py:231, :254).

    With `order`, keeps the deterministic first row per key under that
    total ordering (row_number==1) instead of Spark's arbitrary
    dropDuplicates winner — required for oracle comparability and for
    reproducible dimension builds.
    """
    if order is None:
        return df.dropDuplicates(keys)
    w = Window.partitionBy(*keys).orderBy(*[F.col(c) for c in order])
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def tick_compression(
    df: DataFrame,
    key: str = "cid",
    ts: str = "date",
    price: str = "value",
    min_change_pct: float = TICK_COMPRESSION_MIN_CHANGE,
    tiebreak: str | None = None,
) -> DataFrame:
    """D4 — lossy tick compression preserving daily OHLC reconstructibility
    (etl/etl.py:372-413).

    Keep a tick iff any of:
      * |pct change vs previous tick of the series| > min_change_pct
      * first or last tick of its (key, day)
      * first or last tick of the whole series (subsumed by day endpoints,
        kept explicit to mirror the reference's mask)

    One sort: every mask term is a lag/lead over the same (key ORDER BY
    ts[, tiebreak]) window, so Spark plans one Window over one Sort. Day
    endpoints are where the day changes against the neighbouring tick;
    ts orders the ticks, so a day's ticks are contiguous in the series
    and this keeps the same rows as first/last per (key, day) whenever
    the ordering is total.

    `tiebreak` makes the ordering total when a series can carry duplicate
    timestamps (the reference leans on pandas' stable mergesort instead,
    etl/etl.py:382); without it, feeds with duplicate (key, ts) pairs are
    nondeterministic.
    """
    day = F.col(ts).cast("date")
    order = [F.col(ts).asc()] + ([F.col(tiebreak).asc()] if tiebreak else [])
    w = Window.partitionBy(key).orderBy(*order)

    prev = F.lag(price, 1).over(w)
    pct = pct_change(F.col(price), prev)
    keep = (
        (F.abs(pct) > min_change_pct)
        | ~F.lag(day, 1).over(w).eqNullSafe(day)
        | ~F.lead(day, 1).over(w).eqNullSafe(day)
        | prev.isNull()
        | (F.lead(price, 1).over(w).isNull())
    )
    return df.withColumn("_keep", keep).filter(F.col("_keep")).drop("_keep")
