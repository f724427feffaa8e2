"""End-to-end ETL pipeline assembly (SURVEY.md §3.1, Spark restatement).

The reference drives this flow imperatively per file with in-memory batch
lists and commit thresholds (etl/etl.py:581-718); here the whole pipeline
is five lazy DataFrames — batching, caches, and thresholds disappear into
Spark's execution model:

    raw snapshots ──clean──► ticks-with-symbols ─┐
                                                 ├─► companies (dim)
    euronext daily ──clean──────────────────────┘        │ broadcast
                                                         ▼
                                  stocks (facts) ──agg──► daystocks
                                        │
                                        └─filter──► compressed stocks

Scale posture: the companies dimension is small (dense int32 id space,
widened from the reference int16 after the sf10 sweep) and always
broadcast; the fact path is shuffle-free until the single OHLCV
aggregation; tick compression is one window pass partitioned by cid.
Writing `stocks`/`daystocks` partitioned by date gives the hypertable
behavior (partition pruning) on the query side.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions import cleansing as C
from .operators.aggregates import ohlcv_daily
from .operators.dedup import dedup_by_keys, tick_compression
from .operators.joins import anti_join_new_keys, resolve_identity, surrogate_keys
from .schemas import MARKETS_SCHEMA, MARKETS_SEED


def markets_dim(spark: SparkSession) -> DataFrame:
    """The 10 seed market rows (etl/timescaledb_model.py:16-27).

    Built from an Arrow table, which plans a LocalTableScan; a Python
    list plans a scan of an RDD whose tasks start Python workers."""
    table = pa.table(dict(zip(MARKETS_SCHEMA.names, map(list, zip(*MARKETS_SEED)))))
    return spark.createDataFrame(table, MARKETS_SCHEMA)


def clean_snapshots(raw: DataFrame) -> DataFrame:
    """Boursorama snapshot cleansing (etl/etl.py:176-197, 310-340):
    SRD-strip names (F1), scrub locale-dirty prices (F2), drop
    non-positive value/volume (P3), normalize symbol + derive market id
    from the prefix (F3). Map-only pass, fully codegen'd."""
    value = C.clean_price_string(F.col("last"))
    return (
        raw.withColumn("name", C.strip_srd_prefix(F.col("name")))
        .withColumn("value", value)
        .withColumn("norm_symbol", C.normalized_symbol(F.col("symbol")))
        .withColumn("mid", C.market_id_from_symbol(F.col("symbol")))
        .filter(F.col("value").isNotNull() & (F.col("value") > 0)
                & (F.col("volume") > 0))
    )


EURONEXT_RENAME = {
    "Symbol": "symbol", "Name": "name", "Last": "last",
    "last Price": "last", "Volume": "volume", "ISIN": "isin",
    "Market": "market",
}


def clean_euronext(raw: DataFrame) -> DataFrame:
    """Euronext daily-listing cleansing (etl/etl.py:503-566): header
    standardization (P2), SRD-strip, price/volume string scrub (F2/P5),
    market id from free text (F4), positive filter (P3)."""
    df = raw
    for src, dst in EURONEXT_RENAME.items():
        if src in df.columns:
            df = df.withColumnRenamed(src, dst)
    return (
        df.withColumn("name", C.strip_srd_prefix(F.col("name")))
        .withColumn("value", C.clean_price_string(F.col("last")))
        .withColumn("volume", C.clean_volume_string(F.col("volume")))
        .withColumn("mid", C.market_id_from_text(F.col("market")))
        .withColumn("norm_symbol", F.col("symbol"))
        .filter(F.col("value").isNotNull() & (F.col("value") > 0)
                & (F.col("volume") > 0))
    )


def build_companies(
    incoming: DataFrame,
    existing: DataFrame | None = None,
) -> DataFrame:
    """Dimension maintenance (etl/etl.py:229-308 functionally restated):

      1. D1  one candidate row per symbol (deterministic first-by-name);
      2. J3  rows whose ISIN already exists adopt the existing id, fresh
             name/symbol win (the reference's UPDATE push-back);
      3. J4  symbols not present yet → left_anti;
      4. A7  dense surrogate ids continue from max(existing id);
      5. U1  union of carried-over, resolved, and new rows.

    Functional recompute instead of in-place UPDATEs — idempotent by
    construction (property-tested), which is the Spark-correct analogue
    of the reference's mutable upsert flow.
    """
    cand = dedup_by_keys(
        incoming.select("norm_symbol", "name", "mid", "isin"),
        keys=["norm_symbol"], order=["name", "mid"],
    )
    if existing is None:
        fresh = surrogate_keys(cand, None, id_col="id",
                               order=["norm_symbol"])
        return fresh.select("id", "name", "mid",
                            F.col("norm_symbol").alias("symbol"), "isin")

    # `ex` is referenced three times below (ISIN resolve, known-symbol
    # union, carried-over anti-join); pin the dim-sized frame once so an
    # expensive `existing` lineage (itself a build_companies output in
    # the euronext path) does not execute per reference.
    ex = existing.select(
        "id", "name", "mid", F.col("symbol"), "isin"
    ).localCheckpoint(eager=False)

    # J3: adopt ids by ISIN; incoming attributes win.
    with_isin = cand.filter(F.col("isin").isNotNull())
    resolved = resolve_identity(
        with_isin.select(F.col("isin"), "norm_symbol", "name", "mid"),
        ex.filter(F.col("isin").isNotNull()).select("isin", "id"),
        natural_key="isin", id_col="id", update_cols=["norm_symbol", "name", "mid"],
    ).select("id", "name", "mid", F.col("norm_symbol").alias("symbol"), "isin")

    # J4: genuinely new symbols (not resolvable by ISIN either).
    known_syms = ex.select(F.col("symbol").alias("norm_symbol")).unionByName(
        resolved.select(F.col("symbol").alias("norm_symbol"))
    )
    new = anti_join_new_keys(cand, known_syms, on=["norm_symbol"])
    keyed = surrogate_keys(
        new, ex.select("id"), id_col="id", order=["norm_symbol"]
    ).select("id", "name", "mid", F.col("norm_symbol").alias("symbol"), "isin")

    carried = ex.join(resolved.select("id"), on="id", how="left_anti")
    return carried.unionByName(resolved).unionByName(keyed)


def build_stocks(ticks: DataFrame, companies: DataFrame,
                 extra_cols: list[str] | None = None) -> DataFrame:
    """Fact path (etl/etl.py:310-340): broadcast-join the dimension to
    stamp cid, narrow casts (P7). No shuffle — dim is broadcast.
    `extra_cols` are carried through untouched (e.g. a tick tiebreak)."""
    dim = F.broadcast(companies.select(
        F.col("symbol").alias("norm_symbol"), F.col("id").alias("cid")
    ))
    return (
        ticks.join(dim, on="norm_symbol", how="inner")
        .select(
            F.col("ts").alias("date"),
            F.col("cid").cast("int").alias("cid"),
            F.col("value").cast("float").alias("value"),
            F.col("volume").cast("float").alias("volume"),
            *[F.col(c) for c in (extra_cols or [])],
        )
    )


def build_daystocks(stocks: DataFrame, tiebreak: str | None = None) -> DataFrame:
    """Daily bars (etl/etl.py:342-370) + per-day std (daystocks DDL has a
    std column, etl/timescaledb_model.py:264-276). Pass `tiebreak` when
    the feed can carry duplicate (cid, date) ticks — see
    operators/aggregates.py for the HashAggregate/SortAggregate cost."""
    bars = ohlcv_daily(
        stocks, key="cid", ts="date", price="value", volume="volume",
        day_alias="day", tiebreak=tiebreak,
        # std rides the same single (cid, day) aggregate — a separate
        # groupBy + join re-executed the whole fact lineage a second time.
        extra_aggs=[F.stddev_samp("value").alias("std")],
    )
    return bars.select(
        F.col("day").alias("date"), "cid", "open", "close", "high",
        "low", "volume", "mean", "std",
    )


def compress_stocks(stocks: DataFrame, tiebreak: str | None = None) -> DataFrame:
    """D4 — lossy tick compression over the fact table
    (etl/etl.py:372-413). date is unique per cid in a snapshot feed, so no
    tiebreak is needed by default; pass one if the feed can carry
    duplicate timestamps."""
    return tick_compression(stocks, key="cid", ts="date", price="value",
                            tiebreak=tiebreak)


def incremental_daystocks(
    prior_bars: DataFrame,
    stocks: DataFrame,
    new_ticks: DataFrame,
    tiebreak: str | None = None,
) -> DataFrame:
    """Incremental bar maintenance when late/new ticks arrive (the
    reference re-runs whole days imperatively on its day-rollover,
    etl/etl.py:672-676; at 100 TB you can afford to recompute only what
    changed):

      1. affected = distinct (cid, day) of the new ticks — tiny;
      2. recompute bars for ONLY those groups (semi-join of the fact
         table against the broadcast affected list; with the fact table
         date-partitioned this triggers dynamic partition pruning, so
         untouched days are never even read);
      3. merged = prior bars minus affected ∪ recomputed.

    Equivalent to a full rebuild by construction (OHLCV is per-(cid,day)
    independent — property-tested in tests/test_pipeline.py), but the
    work is proportional to the *changed* days, not history.
    """
    day = F.col("date").cast("date")
    affected = new_ticks.select(F.col("cid"), day.alias("_day")).distinct()
    relevant = (
        stocks.withColumn("_day", day)
        .join(F.broadcast(affected), on=["cid", "_day"], how="left_semi")
        .drop("_day")
    )
    recomputed = build_daystocks(relevant, tiebreak=tiebreak)
    kept = prior_bars.withColumn("_day", F.col("date")).join(
        F.broadcast(affected), on=["cid", "_day"], how="left_anti"
    ).drop("_day")
    return kept.unionByName(recomputed)


def files_to_process(discovered: DataFrame, ledger: DataFrame | None) -> DataFrame:
    """Ingestion ledger (the `file_done` table,
    etl/timescaledb_model.py:277): keep only discovered file names not
    yet recorded — a left_anti join, the incremental-ingest gate."""
    if ledger is None:
        return discovered
    return discovered.join(
        ledger.select("name").distinct(), on="name", how="left_anti"
    )


def mark_files_done(ledger: DataFrame | None, processed: DataFrame) -> DataFrame:
    """Append processed file names to the ledger (idempotent via distinct)."""
    newly = processed.select("name").distinct()
    if ledger is None:
        return newly
    return ledger.select("name").unionByName(newly).distinct()


def run_pipeline(
    spark: SparkSession,
    raw_snapshots: DataFrame,
    euronext: DataFrame | None = None,
    tick_tiebreak: str | None = None,
) -> dict[str, DataFrame]:
    """The full §3.1 flow. Returns the engine tables as lazy DataFrames;
    callers write them partitioned by date (hypertable analogue).

    `tick_tiebreak` names a column of `raw_snapshots` that makes
    (symbol, ts) total when the feed can carry duplicate timestamps
    (e.g. two scrape files sharing a second); without it, open/close and
    the compression mask are nondeterministic on such feeds.
    """
    # Lineage pins (README: multi-consumer frames): `clean` feeds both the
    # dimension build and the fact path, and `companies` is broadcast into
    # the facts AND returned to callers — unpinned, one daystocks action
    # re-executed the snapshot cleansing pass up to three times (dim build,
    # fact stamp, caller's dim join). Lazy pins materialize each once.
    clean = clean_snapshots(raw_snapshots).localCheckpoint(eager=False)
    companies = build_companies(clean)
    if euronext is not None:
        companies = build_companies(clean_euronext(euronext), existing=companies)
    companies = companies.localCheckpoint(eager=False)
    tick_cols = ["norm_symbol", "ts", "value", "volume"]
    if tick_tiebreak:
        tick_cols.append(tick_tiebreak)
    stocks = build_stocks(clean.select(*tick_cols), companies,
                          extra_cols=[tick_tiebreak] if tick_tiebreak else [])
    return {
        "markets": markets_dim(spark),
        "companies": companies,
        "stocks": stocks,
        "daystocks": build_daystocks(stocks, tiebreak=tick_tiebreak),
        "stocks_compressed": compress_stocks(stocks, tiebreak=tick_tiebreak),
    }
