"""Aggregation operators (SURVEY.md §2.6 A-series).

The signature operator is the daily OHLCV rollup (A1/A2/A3,
etl/etl.py:342-370 and dashboard/timescaledb_model.py:558-572). Spark's
`first`/`last` aggregates are order-nondeterministic, so open/close use
`min_by`/`max_by` on the event timestamp — deterministic, shuffle-friendly
(partial aggregation on the map side), and available in DuckDB for the
oracle. Ties on the timestamp are broken by a struct tiebreaker when a
`tiebreak` column is supplied.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _ord(ts: str, tiebreak: str | None) -> Column:
    return F.struct(ts, tiebreak) if tiebreak else F.col(ts)


def ohlcv_daily(
    ticks: DataFrame,
    key: str = "cid",
    ts: str = "date",
    price: str = "value",
    volume: str = "volume",
    tiebreak: str | None = None,
    day_alias: str = "day",
    extra_aggs: list[Column] | None = None,
) -> DataFrame:
    """A1/A2/A3 — per (key, calendar day): open/high/low/close/volume/mean.

    Single shuffle on (key, day) with map-side partial aggregation either
    way, but the physical aggregate depends on `tiebreak`:

      * tiebreak=None → min_by on the bare timestamp → HashAggregate
        (primitive buffer). Correct ONLY when (key, ts) is unique —
        assert that invariant on the feed.
      * tiebreak set → min_by on struct(ts, tiebreak) → SortAggregate
        (struct buffers aren't hash-aggregable), i.e. a map-side sort on
        the grouping key. Total ordering under duplicate timestamps, at
        the standard cost of order-sensitive aggregation.

    At 100 TB the input should be date-partitioned parquet so the day
    grouping co-locates with partition pruning.

    ``extra_aggs`` ride the SAME (key, day) aggregate — a caller that
    needs one more per-group statistic (e.g. the daystocks std) must not
    pay a second shuffle plus a join for it.
    """
    o = _ord(ts, tiebreak)
    out = (
        ticks
        .groupBy(F.col(key), F.col(ts).cast("date").alias(day_alias))
        .agg(
            F.min_by(price, o).alias("open"),
            F.max_by(price, o).alias("close"),
            F.max(price).alias("high"),
            F.min(price).alias("low"),
            F.sum(volume).alias("volume"),
            *(extra_aggs or []),
        )
        .withColumn(
            "mean",
            (F.col("open") + F.col("close") + F.col("high") + F.col("low")) / 4,
        )
    )
    return out


def group_count_by_month(df: DataFrame, ts: str) -> DataFrame:
    """A9 — rows-per-month histogram (etl/etl.py:652-655)."""
    return (
        df.groupBy(F.date_format(F.col(ts), "yyyy-MM").alias("month"))
        .agg(F.count("*").alias("n"))
    )


def minmax_range(df: DataFrame, ts: str) -> DataFrame:
    """A6/F8 — MIN/MAX of the time column, formatted
    (dashboard/timescaledb_model.py:488-497)."""
    return df.agg(
        F.date_format(F.min(ts), "yyyy-MM-dd").alias("min_date"),
        F.date_format(F.max(ts), "yyyy-MM-dd").alias("max_date"),
    )


def rowwise_mean_std(df: DataFrame, cols: list[str], keep: list[str]) -> DataFrame:
    """A8 — per-row mean/std across a fixed column set
    (dashboard/tabs/tab2.py:123-124). Pure arithmetic (sample std over n
    values), no UDF."""
    n = len(cols)
    mean = sum(F.col(c) for c in cols) / n
    var = sum((F.col(c) - F.col("_rw_mean")) * (F.col(c) - F.col("_rw_mean")) for c in cols) / (n - 1)
    return (
        df.withColumn("_rw_mean", mean)
        .withColumn("row_std", F.sqrt(var))
        .withColumnRenamed("_rw_mean", "row_mean")
        .select(*keep, "row_mean", "row_std")
    )


def vwap_twap_daily(
    ticks: DataFrame,
    key: str,
    ts: str,
    price: str,
    volume: str,
    tiebreak: str,
    day_alias: str = "trade_date",
) -> DataFrame:
    """Daily VWAP + TWAP per series — the two standard execution-quality
    benchmarks a trading dashboard puts next to OHLCV bars.

    VWAP = sum(price*volume) / sum(volume) over the day.
    TWAP = time-weighted mean: each tick is weighted by the time until
    the NEXT tick in the same (series, day); the day's last tick has no
    forward interval and drops from both sums (NULL for 1-tick days —
    callers see that a single print has no time dimension).

    Cross-engine float discipline — ORDER-INDEPENDENT by construction,
    not by rounding: the tick gap is measured in EXACT integer
    microseconds (second-granularity diffs truncate differently across
    engines when sub-second parts are present) and summed as a long;
    each weighted-price term is quantized to 6 dp (identical doubles in
    both engines) and summed as DECIMAL, which is exact in any order.
    The earlier round-sums-to-2dp contract was NOT order-independent:
    the sf1.0 sweep caught one of 400k groups whose dt-sum landed on a
    2 dp rounding boundary, flipping the ratio in the 5th decimal.
    """
    day = F.col(ts).cast("date").alias(day_alias)
    w = Window.partitionBy(key, F.col(ts).cast("date")).orderBy(ts, tiebreak)
    dt_us = F.expr(f"timestampdiff(MICROSECOND, {ts}, _next_ts)")
    dec = "decimal(28,6)"
    per_tick = ticks.withColumn("_next_ts", F.lead(ts).over(w)).select(
        F.col(key), day,
        F.round(F.col(price) * F.col(volume), 6).cast(dec).alias("_pv"),
        F.col(volume).cast("long").alias("_v"),
        F.round(F.col(price) * (dt_us.cast("double") / 1000000.0), 6)
        .cast(dec).alias("_pdt"),
        dt_us.cast("long").alias("_dt_us"),
    )
    return (
        per_tick.groupBy(key, day_alias)
        .agg(
            F.round(
                F.sum("_pv").cast("double") / F.sum("_v").cast("double"), 6,
            ).alias("vwap"),
            F.round(
                F.sum("_pdt").cast("double")
                / F.nullif(F.sum("_dt_us").cast("double") / 1000000.0,
                           F.lit(0.0)),
                6,
            ).alias("twap"),
        )
    )
