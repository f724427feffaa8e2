"""Golden end-to-end pipeline test (SURVEY.md §5.2) + property tests
(§5.3): exact expected companies/stocks/daystocks on a hand-written dirty
fixture, OHLC preservation under tick compression, and dimension-build
idempotence."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from real_big_data_project_spark import pipeline as P

TS = lambda s: dt.datetime.fromisoformat(s)  # noqa: E731

RAW_SCHEMA = T.StructType([
    T.StructField("symbol", T.StringType()),
    T.StructField("name", T.StringType()),
    T.StructField("last", T.StringType()),
    T.StructField("volume", T.LongType()),
    T.StructField("isin", T.StringType()),
    T.StructField("alias", T.StringType()),
    T.StructField("ts", T.TimestampNTZType()),
])

# Two days, three companies (one Paris-prefixed, one Brussels-prefixed, one
# bare), dirty prices, SRD names, rows that must be dropped.
RAW_ROWS = [
    # ALO @ Paris (prefix 1rP): 4 ticks day1 (one dirty price), 2 ticks day2
    ("1rPALO", "SRD Alstom", "10,00", 100, "FR0000120198", "paris", TS("2024-01-01 09:00:00")),
    ("1rPALO", "SRD Alstom", "10.005 (c)", 110, "FR0000120198", "paris", TS("2024-01-01 10:00:00")),
    ("1rPALO", "SRD Alstom", "10,50", 120, "FR0000120198", "paris", TS("2024-01-01 11:00:00")),
    ("1rPALO", "SRD Alstom", "10,40", 130, "FR0000120198", "paris", TS("2024-01-01 12:00:00")),
    ("1rPALO", "SRD Alstom", "11,00", 140, "FR0000120198", "paris", TS("2024-01-02 09:00:00")),
    ("1rPALO", "SRD Alstom", "11,10", 150, "FR0000120198", "paris", TS("2024-01-02 10:00:00")),
    # SOLV @ Brussels (prefix FF11_): 2 ticks day1
    ("FF11_SOLV", "Solvay", "30.00", 50, "BE0003470755", "bruxelle", TS("2024-01-01 09:30:00")),
    ("FF11_SOLV", "Solvay", "30.02", 55, "BE0003470755", "bruxelle", TS("2024-01-01 10:30:00")),
    # BARE (no prefix → default Paris): 1 tick day1
    ("BARE", "Bare Co", "5.00", 10, None, "paris", TS("2024-01-01 09:15:00")),
    # dropped rows: non-positive value, bad price, zero volume
    ("1rPALO", "SRD Alstom", "-1,00", 100, "FR0000120198", "paris", TS("2024-01-01 13:00:00")),
    ("1rPALO", "SRD Alstom", "n/a", 100, "FR0000120198", "paris", TS("2024-01-01 14:00:00")),
    ("1rPALO", "SRD Alstom", "10,60", 0, "FR0000120198", "paris", TS("2024-01-01 15:00:00")),
]

EURONEXT_SCHEMA = T.StructType([
    T.StructField("Symbol", T.StringType()),
    T.StructField("Name", T.StringType()),
    T.StructField("Last", T.StringType()),
    T.StructField("Volume", T.StringType()),
    T.StructField("ISIN", T.StringType()),
    T.StructField("Market", T.StringType()),
])

EURONEXT_ROWS = [
    # same ISIN as ALO but different name/symbol → J3 identity resolution
    ("ALO.PA", "Alstom SA", "11,20", "1 000", "FR0000120198", "Euronext Paris"),
    # brand-new listing → J4 anti-join + A7 surrogate key
    ("TTE", "TotalEnergies", "60,00", "2 000", "FR0000120271", "Euronext Paris"),
]


@pytest.fixture(scope="module")
def tables(spark):
    raw = spark.createDataFrame(RAW_ROWS, RAW_SCHEMA)
    eur = spark.createDataFrame(EURONEXT_ROWS, EURONEXT_SCHEMA)
    return P.run_pipeline(spark, raw, euronext=eur)


def test_companies_golden(tables):
    rows = {r.symbol: r for r in tables["companies"].collect()}
    # snapshot pass orders by symbol: ALO < BARE < SOLV
    assert rows["BARE"].id == 2 and rows["BARE"].mid == 6
    assert rows["SOLV"].id == 3 and rows["SOLV"].mid == 8
    assert rows["SOLV"].name == "Solvay"
    # ISIN resolution: ALO's row adopted id 1 but euronext name/symbol won
    assert "ALO" not in rows
    assert rows["ALO.PA"].id == 1 and rows["ALO.PA"].name == "Alstom SA"
    # new euronext listing got the next dense id
    assert rows["TTE"].id == 4 and rows["TTE"].mid == 6
    assert len(rows) == 4


def test_stocks_golden(tables):
    stocks = tables["stocks"].orderBy("cid", "date").collect()
    # 9 clean ticks, but ALO's symbol resolved to ALO.PA — snapshot ticks
    # joined through norm_symbol=ALO no longer match. Kept ticks: SOLV(2)+BARE(1).
    by_cid = {}
    for r in stocks:
        by_cid.setdefault(r.cid, []).append(r)
    assert set(by_cid) == {2, 3}
    assert [r.value for r in by_cid[3]] == pytest.approx([30.00, 30.02])
    assert [r.value for r in by_cid[2]] == pytest.approx([5.0])


def test_daystocks_golden(tables):
    bars = {(r.cid, str(r.date)): r for r in tables["daystocks"].collect()}
    solv = bars[(3, "2024-01-01")]
    assert solv.open == pytest.approx(30.00)
    assert solv.close == pytest.approx(30.02)
    assert solv.high == pytest.approx(30.02)
    assert solv.low == pytest.approx(30.00)
    assert solv.volume == pytest.approx(105.0)


def test_dimension_build_idempotent(spark, tables):
    """Re-ingesting a feed adds no companies (mirrors etl/etl.py:282-288):
    the id set is stable, and a second re-application is a fixed point.
    Attribute values may legitimately change on the FIRST re-application —
    the freshest feed's name/symbol win, exactly like the reference's
    UPDATE push-back (etl/etl.py:272-280)."""
    raw = spark.createDataFrame(RAW_ROWS, RAW_SCHEMA)
    clean = P.clean_snapshots(raw)
    once = P.build_companies(clean, existing=tables["companies"])
    twice = P.build_companies(clean, existing=once)
    base_ids = {r.id for r in tables["companies"].collect()}
    a = sorted(once.collect(), key=lambda r: r.id)
    b = sorted(twice.collect(), key=lambda r: r.id)
    assert {r.id for r in a} == base_ids  # no new ids, none lost
    assert [(r.id, r.symbol, r.name, r.mid) for r in a] == \
           [(r.id, r.symbol, r.name, r.mid) for r in b]


def test_repeated_ingest_pass_compiles_no_new_classes(spark):
    """A second identical ingest pass reuses the generated classes of the
    first. One pass of this fixture compiles ~100 classes, more than
    Spark's default codegen cache of 100 holds: at that default a repeat
    recompiled 28-53 of them."""
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME()

    def ingest_pass():
        raw = spark.createDataFrame(RAW_ROWS, RAW_SCHEMA)
        eur = spark.createDataFrame(EURONEXT_ROWS, EURONEXT_SCHEMA)
        for df in P.run_pipeline(spark, raw, euronext=eur).values():
            df.write.format("noop").mode("overwrite").save()

    ingest_pass()
    before = compiles.getCount()
    ingest_pass()
    assert compiles.getCount() == before


def test_compression_preserves_daily_ohlc(spark, sf_dir):
    """OHLC(compressed ticks) == OHLC(raw ticks) per (cid, day) — the
    invariant the reference's compression is designed to preserve
    (etl/etl.py:397-404 keeps day endpoints)."""
    from real_big_data_project_spark.operators.aggregates import ohlcv_daily
    from real_big_data_project_spark.operators.dedup import tick_compression
    from real_big_data_project_spark.sources.registry import events_with_volume

    ticks = events_with_volume(spark, sf_dir)
    comp = tick_compression(ticks, key="user_id", ts="ts", price="value",
                            tiebreak="event_id")

    def bars(df):
        return ohlcv_daily(df, key="user_id", ts="ts", price="value",
                           volume="volume", day_alias="day",
                           tiebreak="event_id").select(
            "user_id", "day", "open", "close", "high", "low")

    raw_b = {(r.user_id, r.day): r for r in bars(ticks).collect()}
    cmp_b = {(r.user_id, r.day): r for r in bars(comp).collect()}
    assert set(raw_b) == set(cmp_b)
    for k, r in raw_b.items():
        c = cmp_b[k]
        assert (r.open, r.close) == (c.open, c.close), k
        # high/low may be lossy for sub-threshold moves — but only within
        # 0.1% of a kept neighbor (the compression contract)
        assert abs(r.high - c.high) <= 0.001 * r.high + 1e-9, k
        assert abs(r.low - c.low) <= 0.001 * r.low + 1e-9, k


def test_compression_threshold_monotonicity(spark, sf_dir):
    """A looser threshold keeps a subset of ticks (pct-change mask is
    monotone in the threshold)."""
    from real_big_data_project_spark.operators.dedup import tick_compression
    from real_big_data_project_spark.sources.registry import load_table

    ev = load_table(spark, sf_dir, "events")
    tight = tick_compression(ev, key="user_id", ts="ts", price="value",
                             min_change_pct=0.001, tiebreak="event_id")
    loose = tick_compression(ev, key="user_id", ts="ts", price="value",
                             min_change_pct=0.01, tiebreak="event_id")
    tight_ids = {r.event_id for r in tight.select("event_id").collect()}
    loose_ids = {r.event_id for r in loose.select("event_id").collect()}
    assert loose_ids <= tight_ids


def test_incremental_daystocks_equals_full_rebuild(spark, sf_dir):
    """Late ticks: recomputing only the affected (cid, day) groups must be
    indistinguishable from a full rebuild (bit-for-bit, incl. float std)."""
    from pyspark.sql import functions as F

    from real_big_data_project_spark.pipeline import (
        build_daystocks, incremental_daystocks,
    )
    from real_big_data_project_spark.plans.oracle_check import compare_frames
    from real_big_data_project_spark.sources.registry import events_with_volume

    ev = events_with_volume(spark, sf_dir).select(
        F.col("ts").alias("date"), F.col("user_id").alias("cid"),
        "value", "volume", "event_id",
    )
    late = ev.filter(F.col("event_id") % 10 == 0)
    early = ev.filter(F.col("event_id") % 10 != 0)

    full = build_daystocks(ev, tiebreak="event_id")
    prior = build_daystocks(early, tiebreak="event_id")
    incr = incremental_daystocks(prior, ev, late, tiebreak="event_id")

    res = compare_frames("incremental_daystocks", incr.toPandas(), full.toPandas())
    assert res.ok and res.values_bit_equal, res.detail


def test_company_ids_beyond_int16(spark):
    """Regression for the sf10-sweep CAST_OVERFLOW: the fact path must
    carry company ids beyond the reference DDL's int16 ceiling (the
    sweep hit 65k+ distinct companies; ids are int32 since round 6)."""
    from real_big_data_project_spark.operators.joins import surrogate_keys

    existing = spark.range(1).select(F.lit(65000).cast("int").alias("id"))
    new = spark.createDataFrame(
        [("SYM%04d" % i,) for i in range(600)], "norm_symbol string"
    )
    keyed = surrogate_keys(new, existing, id_col="id", order=["norm_symbol"])
    companies = keyed.select(
        "id", F.col("norm_symbol").alias("symbol")
    )
    ticks = spark.createDataFrame(
        [("SYM0599", TS("2024-01-01 09:00:00"), 10.0, 5.0)],
        "norm_symbol string, ts timestamp_ntz, value double, volume double",
    )
    stocks = P.build_stocks(ticks, companies)
    row = stocks.collect()[0]
    assert row.cid == 65600  # would have overflowed int16
    assert dict(stocks.dtypes)["cid"] == "int"
