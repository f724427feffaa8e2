"""Core operator queries (SURVEY.md §2 inventory → FIXTURES.md §B mapping).

Each query binds an operator implementation from ``..operators`` /
``..functions`` to the synthetic testdata and registers a DuckDB oracle.
Reference citations live on the operator implementations; here we cite the
operator ids (S/P/F/D/J/A/W/O/U/Q series).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import cleansing as C
from ..operators import aggregates as A
from ..operators import dedup as D
from ..operators import joins as J
from ..operators import windows as W
from ..sources import registry as R
from .catalog import register

# ---------------------------------------------------------------------------
# §2.1 scans / sources
# ---------------------------------------------------------------------------


@register(
    "q_scan_parquet",
    oracle="""
    SELECT count(*) AS n_rows,
           round(sum(l_quantity), 2) AS sum_qty,
           count(l_shipdate) AS n_shipdates
    FROM lineitem
    """,
    description="S1 — full parquet scan + scalar aggregate sanity.",
)
def q_scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = R.load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count("*").alias("n_rows"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.count("l_shipdate").alias("n_shipdates"),
    )


@register(
    "q_partition_prune",
    oracle="""
    SELECT o_orderkey, o_orderdate, o_totalprice
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    """,
    description="S4/S5/F5/F6 — date-range pruning; the filter reaches the "
                "parquet scan as PushedFilters (min/max row-group skipping; "
                "on date-partitioned layouts, partition pruning).",
)
def q_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = R.load_table(spark, sf_dir, "orders")
    return orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    ).select("o_orderkey", "o_orderdate", "o_totalprice")


@register(
    "q_scan_csv",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey FROM nation
    """,
    description="S2 — explicit-schema TSV scan with DROPMALFORMED "
                "(pd.read_csv on_bad_lines='skip', etl/etl.py:507-509): "
                "the input is a TSV roundtrip of `nation` with planted "
                "malformed lines the reader must skip.",
)
def q_scan_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.csv_source import ensure_nation_tsv, read_nation_tsv

    path = ensure_nation_tsv(spark, sf_dir)
    return read_nation_tsv(spark, path)


@register(
    "q_scan_pickle",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey,
           'region' || CAST(n_regionkey AS VARCHAR) AS src_alias,
           TIMESTAMP '2024-01-01 09:30:00' + INTERVAL (n_regionkey) DAY AS src_ts
    FROM nation
    """,
    description="S1/S5/F6 — the reference's signature feed: bz2-pickled "
                "pandas snapshots read via binaryFile + mapInPandas "
                "(etl/etl.py:161-170), filename alias/timestamp injected "
                "with the '_'→':' repair (etl/etl.py:139-159).",
)
def q_scan_pickle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.pickle_source import ensure_snapshot_fixture, read_snapshots

    path = ensure_snapshot_fixture(sf_dir)
    return read_snapshots(spark, path)


@register(
    "q_scan_excel",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey FROM nation
    """,
    description="S3 — `.xlsx` scan via the stdlib zip+XML codec "
                "(pd.read_excel parity, etl/etl.py:510-511): nation "
                "roundtripped through two xlsx files, decoded "
                "executor-side with binaryFile + mapInPandas.",
)
def q_scan_excel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.excel_source import (
        NATION_SCHEMA,
        ensure_nation_xlsx,
        read_excel_dir,
    )

    path = ensure_nation_xlsx(spark, sf_dir)
    return read_excel_dir(spark, path, NATION_SCHEMA)


@register(
    "q_scan_mixed_dir",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey FROM nation
    """,
    description="S2+S3 — ONE directory holding .csv AND .xlsx daily files, "
                "dispatched per format (the reference's Euronext loop, "
                "etl/etl.py:507-511): pathGlobFilter'd DROPMALFORMED tsv "
                "scan ∪ executor-side xlsx decode, union by name. Nation "
                "split across one tsv file + one xlsx file + a malformed "
                "csv the reader must skip; the whole table roundtrips.",
)
def q_scan_mixed_dir(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.csv_source import NATION_SCHEMA
    from ..sources.mixed_source import ensure_nation_mixed, read_mixed_dir

    path = ensure_nation_mixed(spark, sf_dir)
    return read_mixed_dir(spark, path, NATION_SCHEMA)


# ---------------------------------------------------------------------------
# §2.2 projections / filters / scalar cleansing
# ---------------------------------------------------------------------------


@register(
    "q_project_rename",
    oracle="""
    SELECT c_custkey AS id, c_name AS name, c_acctbal AS balance
    FROM customer
    """,
    description="P1/P2 — projection + rename (etl/etl.py:231,:313).",
)
def q_project_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = R.load_table(spark, sf_dir, "customer")
    return cust.select(
        F.col("c_custkey").alias("id"),
        F.col("c_name").alias("name"),
        F.col("c_acctbal").alias("balance"),
    )


@register(
    "q_filter_positive",
    oracle="""
    SELECT event_id, user_id, value, (event_id % 1000) + 1 AS volume
    FROM events
    WHERE value > 0 AND (event_id % 1000) + 1 > 0
    """,
    description="P3 — keep value>0 AND volume>0 (etl/etl.py:196-197).",
)
def q_filter_positive(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = R.events_with_volume(spark, sf_dir)
    return ev.filter((F.col("value") > 0) & (F.col("volume") > 0)).select(
        "event_id", "user_id", "value", "volume"
    )


@register(
    "q_regex_clean",
    oracle="""
    SELECT p_partkey,
           regexp_replace(p_name, '[aeiou]', '', 'g') AS name_clean,
           try_cast(regexp_replace(p_brand, '[^0-9]', '', 'g') AS BIGINT) AS brand_num,
           try_cast(
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(p_brand, '[^0-9]', '', 'g') || ',75 (c)',
                     '\\([a-zA-Z ]*\\)', '', 'g'),
                   '\\s+', '', 'g'),
                 ',', '.', 'g'),
               '[^0-9.\\-]', '', 'g')
             AS DOUBLE) AS price_clean,
           try_cast(p_type AS DOUBLE) AS type_num
    FROM part
    """,
    description="P5/F1/F2 — regex scrub of locale-dirty numerics + "
                "try_cast NULL-on-error (etl/etl.py:189-193,:529).",
)
def q_regex_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = R.load_table(spark, sf_dir, "part")
    dirty = F.concat(F.regexp_replace("p_brand", r"[^0-9]", ""), F.lit(",75 (c)"))
    return part.select(
        "p_partkey",
        F.regexp_replace("p_name", "[aeiou]", "").alias("name_clean"),
        F.regexp_replace("p_brand", "[^0-9]", "").try_cast("bigint").alias("brand_num"),
        C.clean_price_string(dirty).alias("price_clean"),
        F.col("p_type").try_cast("double").alias("type_num"),
    )


@register(
    "q_case_when_clamp",
    oracle="""
    SELECT event_id,
           CASE WHEN value - 50 < 0 THEN 0 ELSE value - 50 END AS clamped
    FROM events
    """,
    description="P8 — conditional clamp, the UPDATE…WHERE<0 rewrite "
                "(etl/etl.py:820).",
)
def q_case_when_clamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = R.load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        C.clamp_nonnegative(F.col("value") - 50).alias("clamped"),
    )


@register(
    "q_filter_outliers",
    oracle="""
    SELECT event_id, user_id, value
    FROM events
    WHERE NOT (value <= 0 OR value IS NULL OR value > 250)
    """,
    description="P9 — range-delete as a filter rewrite (etl/etl.py:817).",
)
def q_filter_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = R.load_table(spark, sf_dir, "events")
    bad = (F.col("value") <= 0) | F.col("value").isNull() | (F.col("value") > 250)
    return ev.filter(~bad).select("event_id", "user_id", "value")


# ---------------------------------------------------------------------------
# §2.3 scalar string/date functions
# ---------------------------------------------------------------------------

_PREFIX_BY_BUCKET = ["1rP", "1rA", "1u", "1g", "FF55-", "1z", "FF11_", "1b", ""]


def _synth_symbol_sql() -> str:
    cases = " ".join(
        f"WHEN {i} THEN '{p}' || c_name"
        for i, p in enumerate(_PREFIX_BY_BUCKET)
    )
    return f"(CASE c_custkey % {len(_PREFIX_BY_BUCKET)} {cases} END)"


@register(
    "q_prefix_normalize",
    oracle=f"""
    WITH sym AS (SELECT c_custkey, {_synth_symbol_sql()} AS symbol FROM customer)
    SELECT c_custkey, symbol,
      CASE
        WHEN symbol LIKE '1rP%'   THEN substr(symbol, 4)
        WHEN symbol LIKE '1rA%'   THEN substr(symbol, 4)
        WHEN symbol LIKE '1u%'    THEN substr(symbol, 3)
        WHEN symbol LIKE '1g%'    THEN substr(symbol, 3)
        WHEN symbol LIKE 'FF55-%' THEN substr(symbol, 6)
        WHEN symbol LIKE '1z%'    THEN substr(symbol, 3)
        WHEN symbol LIKE 'FF11!_%' ESCAPE '!' THEN substr(symbol, 6)
        WHEN symbol LIKE '1b%'    THEN substr(symbol, 3)
        ELSE symbol END AS norm_symbol,
      CASE
        WHEN symbol LIKE '1rP%'   THEN 6
        WHEN symbol LIKE '1rA%'   THEN 5
        WHEN symbol LIKE '1u%'    THEN 2
        WHEN symbol LIKE '1g%'    THEN 3
        WHEN symbol LIKE 'FF55-%' THEN 4
        WHEN symbol LIKE '1z%'    THEN 7
        WHEN symbol LIKE 'FF11!_%' ESCAPE '!' THEN 8
        WHEN symbol LIKE '1b%'    THEN 8
        ELSE 6 END AS mid
    FROM sym
    """,
    description="F3 — Boursorama symbol-prefix normalization as a CASE "
                "chain (etl/etl.py:55-101); replaces the 4M-call memo "
                "cache with codegen'd expressions.",
)
def q_prefix_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = R.load_table(spark, sf_dir, "customer")
    bucket = F.col("c_custkey") % len(_PREFIX_BY_BUCKET)
    sym = None
    for i, p in enumerate(_PREFIX_BY_BUCKET):
        branch = F.concat(F.lit(p), F.col("c_name"))
        sym = F.when(bucket == i, branch) if sym is None else sym.when(bucket == i, branch)
    df = cust.select("c_custkey", sym.alias("symbol"))
    return df.select(
        "c_custkey",
        "symbol",
        C.normalized_symbol("symbol").alias("norm_symbol"),
        C.market_id_from_symbol("symbol").alias("mid"),
    )


_NATION_BUCKETS = [("_1", 10), ("_2", 20), ("_0", 0)]


@register(
    "q_case_market_map",
    oracle="""
    SELECT n_nationkey, n_name,
      CASE
        WHEN contains(lower(n_name), '_1') THEN 10
        WHEN contains(lower(n_name), '_2') THEN 20
        WHEN contains(lower(n_name), '_0') THEN 0
        ELSE 99 END AS bucket
    FROM nation
    """,
    description="F4 — substring-containment classification with "
                "first-match-wins precedence (etl/etl.py:546-564); the "
                "row-wise .apply UDF becomes a native CASE chain.",
)
def q_case_market_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = R.load_table(spark, sf_dir, "nation")
    c = F.lower(F.col("n_name"))
    expr = None
    for sub, bucket in _NATION_BUCKETS:
        cond = c.contains(sub)
        expr = F.when(cond, bucket) if expr is None else expr.when(cond, bucket)
    return nation.select(
        "n_nationkey", "n_name", expr.otherwise(F.lit(99)).cast("int").alias("bucket")
    )


# ---------------------------------------------------------------------------
# §2.4 dedup / distinct
# ---------------------------------------------------------------------------


@register(
    "q_dedup_keys",
    oracle="""
    SELECT l_orderkey, l_partkey, l_linenumber, l_quantity
    FROM (
      SELECT l_orderkey, l_partkey, l_linenumber, l_quantity,
             row_number() OVER (PARTITION BY l_orderkey, l_partkey
                                ORDER BY l_linenumber, l_quantity) AS rn
      FROM lineitem
    ) WHERE rn = 1
    """,
    description="D1 — deterministic drop-duplicates-by-key "
                "(etl/etl.py:231,:254): row_number over a total ordering, "
                "not Spark's arbitrary dropDuplicates winner. l_quantity is "
                "a final tiebreak because the testdata has duplicate "
                "(orderkey,partkey,linenumber) triples.",
)
def q_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = R.load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_linenumber", "l_quantity"
    )
    return D.dedup_by_keys(
        li, ["l_orderkey", "l_partkey"], order=["l_linenumber", "l_quantity"]
    )


@register(
    "q_first_last_per_group",
    oracle="""
    WITH flagged AS (
      SELECT event_id, user_id, cast(ts AS DATE) AS trade_date, value,
             row_number() OVER (PARTITION BY user_id, cast(ts AS DATE)
                                ORDER BY ts ASC, event_id ASC) = 1 AS is_first,
             row_number() OVER (PARTITION BY user_id, cast(ts AS DATE)
                                ORDER BY ts DESC, event_id DESC) = 1 AS is_last
      FROM events
    )
    SELECT * FROM flagged WHERE is_first OR is_last
    """,
    description="D3/W3 — first & last tick per (series, day) "
                "(etl/etl.py:399-404).",
)
def q_first_last_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = R.load_table(spark, sf_dir, "events").withColumn(
        "trade_date", F.col("ts").cast("date")
    )
    flagged = W.first_last_per_group(
        ev.select("event_id", "user_id", "trade_date", "value", "ts"),
        keys=["user_id", "trade_date"],
        ts="ts",
        tiebreak="event_id",
    )
    return flagged.filter(F.col("is_first") | F.col("is_last")).select(
        "event_id", "user_id", "trade_date", "value", "is_first", "is_last"
    )


@register(
    "q_tick_compression",
    oracle="""
    WITH t AS (
      SELECT event_id, user_id, ts, value,
             cast(ts AS DATE) AS d,
             lag(value) OVER w AS prev,
             lead(value) OVER w AS nxt,
             row_number() OVER (PARTITION BY user_id, cast(ts AS DATE)
                                ORDER BY ts ASC, event_id ASC) AS rn_a,
             row_number() OVER (PARTITION BY user_id, cast(ts AS DATE)
                                ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT event_id, user_id, ts, value
    FROM t
    WHERE abs(CASE WHEN prev IS NULL OR prev = 0 THEN 0.0
                   ELSE (value - prev) / abs(prev) END) > 0.001
       OR rn_a = 1 OR rn_d = 1 OR prev IS NULL OR nxt IS NULL
    """,
    description="D4 — the reference's signature lossy tick compression "
                "(etl/etl.py:372-413): keep >0.1% moves plus day/series "
                "endpoints; preserves daily OHLC reconstructibility. "
                "event_id tiebreak makes the ordering total.",
)
def q_tick_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = R.load_table(spark, sf_dir, "events")
    out = D.tick_compression(
        ev, key="user_id", ts="ts", price="value", tiebreak="event_id"
    )
    return out.select("event_id", "user_id", "ts", "value")


# ---------------------------------------------------------------------------
# §2.5 joins
# ---------------------------------------------------------------------------


@register(
    "q_broadcast_lookup",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           coalesce(n.n_name, 'UNKNOWN') AS nation_name,
           coalesce(n.n_regionkey, -1) AS region_id
    FROM customer c
    LEFT JOIN (SELECT * FROM nation WHERE n_nationkey < 15) n
      ON c.c_nationkey = n.n_nationkey
    """,
    description="J1/J2 — broadcast dim lookup with default-on-miss; the "
                "reference's dict caches (etl/etl.py:118-133,:326-328) are "
                "exactly broadcast hash joins.",
)
def q_broadcast_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = R.load_table(spark, sf_dir, "customer")
    nation = R.load_table(spark, sf_dir, "nation").filter(F.col("n_nationkey") < 15)
    dim = nation.select(
        F.col("n_nationkey").alias("c_nationkey"),
        F.col("n_name"),
        F.col("n_regionkey"),
    )
    out = J.broadcast_lookup(
        cust,
        dim,
        on="c_nationkey",
        take={"n_name": "nation_name", "n_regionkey": "region_id"},
        defaults={"nation_name": "UNKNOWN", "region_id": -1},
    )
    return out.select(
        "c_custkey", "c_name", "nation_name", F.col("region_id").cast("int").alias("region_id")
    )


@register(
    "q_isin_resolve",
    oracle="""
    WITH existing AS (
      SELECT c_nationkey AS nkey, min(c_custkey) AS id
      FROM customer GROUP BY c_nationkey
    )
    SELECT e.id AS id, s.s_nationkey AS nkey, s.s_name AS name
    FROM supplier s JOIN existing e ON s.s_nationkey = e.nkey
    """,
    description="J3 — identity resolution on a natural key "
                "(ISIN flow, etl/etl.py:272-280): incoming rows adopt the "
                "existing dimension id; fresh attributes win.",
)
def q_isin_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = R.load_table(spark, sf_dir, "customer")
    supp = R.load_table(spark, sf_dir, "supplier")
    existing = cust.groupBy(F.col("c_nationkey").alias("nkey")).agg(
        F.min("c_custkey").alias("id")
    )
    incoming = supp.select(F.col("s_nationkey").alias("nkey"), F.col("s_name").alias("name"))
    resolved = J.resolve_identity(
        incoming, existing, natural_key="nkey", id_col="id", update_cols=["name"]
    )
    return resolved.select("id", "nkey", "name")


@register(
    "q_anti_join_new_keys",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    """,
    description="J4/J5 — new-key detection via left_anti "
                "(etl/etl.py:282-290): customers with no orders.",
)
def q_anti_join_new_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = R.load_table(spark, sf_dir, "customer")
    orders = R.load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return J.anti_join_new_keys(cust, orders, on=["c_custkey"]).select(
        "c_custkey", "c_name"
    )


@register(
    "q_semi_join_orphans",
    oracle="""
    SELECT o_orderkey, o_custkey
    FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer)
    """,
    description="J6 — orphan removal (etl/etl.py:823) as the kept set "
                "(left_semi).",
)
def q_semi_join_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = R.load_table(spark, sf_dir, "orders")
    cust = R.load_table(spark, sf_dir, "customer")
    return J.semi_join_keep_matched(
        orders, cust, fact_key="o_custkey", dim_key="c_custkey"
    ).select("o_orderkey", "o_custkey")


@register(
    "q_join_distinct_orderby",
    oracle="""
    SELECT DISTINCT c.c_name AS name
    FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
    ORDER BY c.c_name
    """,
    description="J7/D2/O2 — companies-with-data list "
                "(dashboard/timescaledb_model.py:460-465).",
)
def q_join_distinct_orderby(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = R.load_table(spark, sf_dir, "customer")
    orders = R.load_table(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "inner")
        .select(F.col("c_name").alias("name"))
        .distinct()
        .orderBy("name")
    )


@register(
    "q_company_timeseries",
    oracle="""
    SELECT event_id, ts, value
    FROM events
    WHERE user_id = 7
      AND ts >= TIMESTAMP '2024-01-05 00:00:00'
      AND ts <  TIMESTAMP '2024-01-20 00:00:00'
    ORDER BY ts
    """,
    description="J8 — scalar-lookup + range scan + order "
                "(dashboard/timescaledb_model.py:506-547).",
)
def q_company_timeseries(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = R.load_table(spark, sf_dir, "events")
    return (
        ev.filter(
            (F.col("user_id") == 7)
            & (F.col("ts") >= F.lit("2024-01-05").cast("timestamp_ntz"))
            & (F.col("ts") < F.lit("2024-01-20").cast("timestamp_ntz"))
        )
        .select("event_id", "ts", "value")
        .orderBy("ts")
    )


@register(
    "q_asof_join",
    oracle="""
    WITH quotes AS (SELECT * FROM events WHERE event_id % 5 = 0),
         trades AS (SELECT * FROM events WHERE event_id % 5 != 0)
    SELECT t.event_id, t.user_id, t.ts, t.value,
           q.value AS asof_value, q.ts AS asof_ts
    FROM trades t ASOF LEFT JOIN quotes q
      ON t.user_id = q.user_id AND t.ts >= q.ts
    """,
    description="As-of (backward, inclusive) join — trade ⟕ latest quote. "
                "Spark lacks ASOF JOIN; implemented as tag+union+window "
                "last_value(ignoreNulls) over (key ORDER BY ts) — one "
                "shuffle, linear, no range-join explosion. Oracle uses "
                "DuckDB's native ASOF LEFT JOIN.",
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = R.load_table(spark, sf_dir, "events")
    quotes = ev.filter(F.col("event_id") % 5 == 0)
    trades = ev.filter(F.col("event_id") % 5 != 0)
    out = J.asof_join_backward(
        trades.select("event_id", "user_id", "ts", "value"),
        quotes.select("user_id", "ts", "value"),
        key="user_id", ts="ts", right_values=["value", "ts"],
        tiebreak="event_id",
    )
    return out.select("event_id", "user_id", "ts", "value",
                      "asof_value", "asof_ts")


@register(
    "q_interval_join",
    oracle="""
    WITH iv AS (
      SELECT o_orderkey AS window_id,
             o_orderdate AS w_start,
             o_orderdate + INTERVAL (o_orderkey % 7 + 1) DAY AS w_end
      FROM orders WHERE o_orderkey % 1000 = 0
    )
    SELECT iv.window_id, l.l_orderkey, l.l_linenumber, l.l_shipdate
    FROM lineitem l JOIN iv
      ON l.l_shipdate BETWEEN iv.w_start AND iv.w_end
    """,
    description="Interval-containment join without an equi key (absent "
                "from the reference AND from Spark, SURVEY §2.5): "
                "operators/joins.py::interval_join_binned explodes each "
                "interval into its covering day bins and EQUI-joins on the "
                "bin + exact BETWEEN filter — one hash shuffle (or none, "
                "broadcast) instead of the |probe|×|intervals| cartesian "
                "BroadcastNestedLoopJoin Spark would plan. Each probe ts "
                "falls in exactly one bin, so matches are exactly-once "
                "with no dedup. Oracle = DuckDB's native IEJoin.",
)
def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = R.load_table(spark, sf_dir, "orders")
    li = R.load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_shipdate"
    )
    iv = orders.filter(F.col("o_orderkey") % 1000 == 0).select(
        F.col("o_orderkey").alias("window_id"),
        F.col("o_orderdate").alias("w_start"),
        F.expr(
            "timestampadd(DAY, CAST(o_orderkey % 7 + 1 AS INT), o_orderdate)"
        ).alias("w_end"),
    )
    out = J.interval_join_binned(
        li, iv, ts="l_shipdate", start="w_start", end="w_end",
        broadcast_intervals=True,
    )
    return out.select("window_id", "l_orderkey", "l_linenumber", "l_shipdate")


@register(
    "q_surrogate_keys",
    oracle="""
    WITH existing AS (SELECT * FROM supplier WHERE s_suppkey < 50),
         incoming AS (SELECT * FROM supplier WHERE s_suppkey >= 50),
         base AS (SELECT coalesce(max(s_suppkey), 0) AS b FROM existing)
    SELECT cast(base.b + row_number() OVER (ORDER BY i.s_name DESC, i.s_suppkey)
                AS INT) AS new_id,
           i.s_suppkey, i.s_name
    FROM incoming i CROSS JOIN base
    """,
    description="A7 — dense deterministic surrogate keys: max(id) offset + "
                "row_number over a stable ordering (etl/etl.py:292-299); "
                "never monotonically_increasing_id.",
)
def q_surrogate_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    supp = R.load_table(spark, sf_dir, "supplier")
    existing = supp.filter(F.col("s_suppkey") < 50).select(
        F.col("s_suppkey").alias("id")
    )
    incoming = supp.filter(F.col("s_suppkey") >= 50)
    out = J.surrogate_keys(
        incoming.select("s_suppkey", "s_name"),
        existing,
        id_col="id",
        # s_suppkey tiebreak: names are unique in clean TPC-H data but a
        # replicated/merged feed has collisions, and row_number over a
        # non-total ordering is engine-dependent (caught by the sf1.0
        # sweep — the scaled dataset repeats names across replicas).
        order=[F.col("s_name").desc(), F.col("s_suppkey").asc()],
    )
    return out.select(F.col("id").alias("new_id"), "s_suppkey", "s_name")


# ---------------------------------------------------------------------------
# §2.6 aggregations
# ---------------------------------------------------------------------------


@register(
    "q_ohlcv_daily",
    oracle="""
    SELECT user_id, cast(ts AS DATE) AS trade_date,
           first(value ORDER BY ts, event_id) AS open,
           last(value ORDER BY ts, event_id) AS close,
           max(value) AS high,
           min(value) AS low,
           cast(sum((event_id % 1000) + 1) AS BIGINT) AS volume,
           (first(value ORDER BY ts, event_id) + last(value ORDER BY ts, event_id)
            + max(value) + min(value)) / 4 AS mean
    FROM events
    GROUP BY user_id, cast(ts AS DATE)
    """,
    description="A1/A2/A3/F7 — daily OHLCV bars (etl/etl.py:342-370): "
                "min_by/max_by on (timestamp, tiebreak), never "
                "order-nondeterministic first/last; one shuffle, map-side "
                "partial agg. Oracle uses DuckDB ordered aggregates.",
)
def q_ohlcv_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = R.events_with_volume(spark, sf_dir)
    out = A.ohlcv_daily(
        ev, key="user_id", ts="ts", price="value", volume="volume",
        day_alias="trade_date", tiebreak="event_id",
    )
    return out.select(
        "user_id", "trade_date", "open", "close", "high", "low",
        F.col("volume").cast("bigint").alias("volume"), "mean",
    )


@register(
    "q_counts",
    oracle="""
    SELECT count(*) AS n_rows, count(DISTINCT user_id) AS n_keys
    FROM events
    """,
    description="A4/A5 — COUNT(*) + COUNT(DISTINCT) diagnostics "
                "(etl/etl.py:870-873). The engine also exposes "
                "approx_count_distinct for the 100 TB path.",
)
def q_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = R.load_table(spark, sf_dir, "events")
    return ev.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("user_id").alias("n_keys"),
    )


@register(
    "q_minmax_range",
    oracle="""
    SELECT strftime(min(ts), '%Y-%m-%d') AS min_date,
           strftime(max(ts), '%Y-%m-%d') AS max_date
    FROM events
    """,
    description="A6/F8 — MIN/MAX date formatted "
                "(dashboard/timescaledb_model.py:488-497).",
)
def q_minmax_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = R.load_table(spark, sf_dir, "events")
    return A.minmax_range(ev, ts="ts")


@register(
    "q_group_count",
    oracle="""
    SELECT strftime(o_orderdate, '%Y-%m') AS month, count(*) AS n
    FROM orders GROUP BY strftime(o_orderdate, '%Y-%m')
    """,
    description="A9 — per-month histogram (etl/etl.py:652-655).",
)
def q_group_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = R.load_table(spark, sf_dir, "orders")
    return A.group_count_by_month(orders, ts="o_orderdate")


@register(
    "q_rowwise_stats",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           (l_quantity + l_extendedprice + l_discount + l_tax) / 4 AS row_mean,
           sqrt((
             (l_quantity - (l_quantity + l_extendedprice + l_discount + l_tax) / 4) * (l_quantity - (l_quantity + l_extendedprice + l_discount + l_tax) / 4)
           + (l_extendedprice - (l_quantity + l_extendedprice + l_discount + l_tax) / 4) * (l_extendedprice - (l_quantity + l_extendedprice + l_discount + l_tax) / 4)
           + (l_discount - (l_quantity + l_extendedprice + l_discount + l_tax) / 4) * (l_discount - (l_quantity + l_extendedprice + l_discount + l_tax) / 4)
           + (l_tax - (l_quantity + l_extendedprice + l_discount + l_tax) / 4) * (l_tax - (l_quantity + l_extendedprice + l_discount + l_tax) / 4)
           ) / 3) AS row_std
    FROM lineitem
    """,
    description="A8 — per-row mean/std across a fixed column set "
                "(dashboard/tabs/tab2.py:123-124); pure arithmetic, no UDF.",
)
def q_rowwise_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = R.load_table(spark, sf_dir, "lineitem")
    return A.rowwise_mean_std(
        li,
        cols=["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        keep=["l_orderkey", "l_linenumber"],
    )


# ---------------------------------------------------------------------------
# §2.7 windows
# ---------------------------------------------------------------------------


@register(
    "q_lag_pct_change",
    oracle="""
    SELECT event_id, user_id, ts, value,
           lag(value) OVER w AS prev_value,
           CASE WHEN lag(value) OVER w IS NULL OR lag(value) OVER w = 0
                THEN 0.0
                ELSE (value - lag(value) OVER w) / abs(lag(value) OVER w)
           END AS pct_change
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    """,
    description="W1/F9 — lag + pct-change per series (etl/etl.py:382-390).",
)
def q_lag_pct_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = R.load_table(spark, sf_dir, "events")
    out = W.lag_pct_change(ev, key="user_id", ts="ts", price="value")
    return out.select("event_id", "user_id", "ts", "value", "prev_value", "pct_change")


@register(
    "q_rolling_bollinger",
    oracle="""
    WITH t AS (
      SELECT event_id, user_id, ts, value,
             count(value) OVER w AS cnt,
             avg(value) OVER w AS m,
             stddev_samp(value) OVER w AS s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, user_id, ts, value,
           round(CASE WHEN cnt >= 20 THEN m END, 6) AS boll_mean,
           round(CASE WHEN cnt >= 20 THEN s END, 6) AS boll_std,
           round(CASE WHEN cnt >= 20 THEN m + 2 * s END, 6) AS boll_upper,
           round(CASE WHEN cnt >= 20 THEN m - 2 * s END, 6) AS boll_lower
    FROM t
    """,
    description="W2 — rolling Bollinger bands (dashboard/tabs/tab1.py:15-21) "
                "with pandas NULL-until-full-window semantics via a count "
                "guard; rounded on both sides (window-agg summation order "
                "differs across engines).",
)
def q_rolling_bollinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = R.load_table(spark, sf_dir, "events")
    out = W.rolling_bollinger(
        ev, key="user_id", ts="ts", price="value", window_size=20, num_std=2.0
    )
    return out.select(
        "event_id", "user_id", "ts", "value",
        F.round("boll_mean", 6).alias("boll_mean"),
        F.round("boll_std", 6).alias("boll_std"),
        F.round("boll_upper", 6).alias("boll_upper"),
        F.round("boll_lower", 6).alias("boll_lower"),
    )


# ---------------------------------------------------------------------------
# §2.8 sort / limit / top-k, §2.9 set ops, §2.10 SQL surface
# ---------------------------------------------------------------------------


@register(
    "q_topk",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 100
    """,
    description="O3 + ordering — top-k, planned as TakeOrderedAndProject "
                "(no global sort materialization).",
)
def q_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = R.load_table(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(100)
    )


@register(
    "q_topk_per_group",
    oracle="""
    SELECT o_orderpriority, o_orderkey, o_totalprice, CAST(rnk AS INT) AS rnk
    FROM (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
      FROM orders
    ) WHERE rnk <= 3
    """,
    description="Grouped top-k (top 3 orders by price per priority class): "
                "row_number over a total per-group ordering — ONE shuffle "
                "on the group key, never a global sort; the per-group "
                "complement of O3's global TakeOrderedAndProject.",
)
def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = R.load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.select("o_orderpriority", "o_orderkey", "o_totalprice")
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("o_orderpriority", "o_orderkey", "o_totalprice",
                F.col("rnk").cast("int").alias("rnk"))
    )


@register(
    "q_union_all",
    oracle="""
    SELECT c_custkey AS id, c_name AS name, 'customer' AS kind FROM customer
    UNION ALL
    SELECT s_suppkey AS id, s_name AS name, 'supplier' AS kind FROM supplier
    """,
    description="U1 — UNION ALL by aligned names (the reference's pd.concat "
                "batch merge, etl/etl.py:349 etc.).",
)
def q_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = R.load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        F.col("c_name").alias("name"),
        F.lit("customer").alias("kind"),
    )
    supp = R.load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("id"),
        F.col("s_name").alias("name"),
        F.lit("supplier").alias("kind"),
    )
    return cust.unionByName(supp)


@register(
    "q_daily_stats_table",
    oracle="""
    WITH bars AS (
      SELECT user_id, cast(ts AS DATE) AS trade_date,
             first(value ORDER BY ts, event_id) AS open,
             last(value ORDER BY ts, event_id) AS close,
             max(value) AS high,
             min(value) AS low,
             cast(sum((event_id % 1000) + 1) AS BIGINT) AS volume,
             round(stddev_samp(value), 6) AS day_std
      FROM events GROUP BY user_id, cast(ts AS DATE)
    )
    SELECT user_id, trade_date, open, close, high, low, volume, day_std,
           CASE WHEN lag(close) OVER w IS NULL OR lag(close) OVER w = 0
                THEN 0.0
                ELSE (close - lag(close) OVER w) / abs(lag(close) OVER w)
           END AS close_pct_change
    FROM bars
    WINDOW w AS (PARTITION BY user_id ORDER BY trade_date)
    """,
    description="Dashboard tab-2 daily-statistics table "
                "(dashboard/tabs/tab2.py:103-133): daily OHLCV + intraday "
                "std + day-over-day close pct-change — the OHLCV aggregate "
                "composed with a lag window over its own output; both "
                "stages share the shuffle on the series key.",
)
def q_daily_stats_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = R.events_with_volume(spark, sf_dir)
    daily = A.ohlcv_daily(
        ev, key="user_id", ts="ts", price="value", volume="volume",
        day_alias="trade_date", tiebreak="event_id",
        # the intraday std rides the same (user_id, day) aggregate — a
        # separate groupBy+join re-executed the events lineage twice
        extra_aggs=[F.round(F.stddev_samp("value"), 6).alias("day_std")],
    ).drop("mean")
    out = W.lag_pct_change(daily, key="user_id", ts="trade_date", price="close")
    return out.select(
        "user_id", "trade_date", "open", "close", "high", "low",
        F.col("volume").cast("bigint").alias("volume"), "day_std",
        F.col("pct_change").alias("close_pct_change"),
    )


_PASSTHROUGH_SQL = """
SELECT n.n_name AS nation,
       count(*) AS n_orders,
       round(sum(o.o_totalprice), 2) AS revenue
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE o.o_orderstatus <> 'X'
GROUP BY n.n_name
"""


@register(
    "q_pipeline_e2e",
    oracle="""
    WITH snaps AS (
      SELECT 'U' || user_id AS norm_symbol,
             ts,
             CAST(CAST(value AS DECIMAL(12,4)) AS VARCHAR) AS last,
             (event_id % 1000) + 1 AS volume
      FROM events
    ),
    clean AS (
      SELECT norm_symbol, ts, CAST(last AS DOUBLE) AS value, volume
      FROM snaps WHERE CAST(last AS DOUBLE) > 0 AND volume > 0
    ),
    companies AS (
      SELECT norm_symbol,
             CAST(row_number() OVER (ORDER BY norm_symbol) AS INT) AS id
      FROM (SELECT DISTINCT norm_symbol FROM clean)
    ),
    stocks AS (
      SELECT c.id AS cid, cl.ts AS date,
             CAST(cl.value AS REAL) AS value,
             CAST(cl.volume AS REAL) AS volume
      FROM clean cl JOIN companies c USING (norm_symbol)
    )
    SELECT c.norm_symbol AS symbol,
           CAST(s.date AS DATE) AS trade_date,
           first(s.value ORDER BY s.date) AS open,
           last(s.value ORDER BY s.date) AS close,
           max(s.value) AS high,
           min(s.value) AS low,
           CAST(sum(s.volume) AS BIGINT) AS volume
    FROM stocks s JOIN companies c ON c.id = s.cid
    GROUP BY c.norm_symbol, CAST(s.date AS DATE)
    """,
    description="Full ETL pipeline end-to-end under the gate (§3.1): raw "
                "snapshot rows (synthesized from events: prefixed symbols, "
                "SRD names, stringly prices) → clean → dimension build with "
                "dense surrogate keys → broadcast cid-stamping → daily "
                "OHLCV bars, FLOAT4 schema fidelity throughout; the oracle "
                "replays the whole flow in SQL. mean/std excluded: REAL "
                "arithmetic promotes differently across engines.",
)
def q_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .. import pipeline as P

    ev = R.load_table(spark, sf_dir, "events")
    u = F.concat(F.lit("U"), F.col("user_id").cast("string"))
    prefixed = (
        F.when(F.col("user_id") % 3 == 0, F.concat(F.lit("1rP"), u))
        .when(F.col("user_id") % 3 == 1, F.concat(F.lit("FF11_"), u))
        .otherwise(u)
    )
    snapshots = ev.select(
        prefixed.alias("symbol"),
        F.concat(F.lit("SRD Company "), F.col("user_id").cast("string")).alias("name"),
        F.col("value").cast("decimal(12,4)").cast("string").alias("last"),
        (F.col("event_id") % 1000 + 1).alias("volume"),
        F.lit(None).cast("string").alias("isin"),
        F.lit("paris").alias("alias"),
        F.col("ts"),
    )
    tables = P.run_pipeline(spark, snapshots)
    bars = tables["daystocks"]
    dim = tables["companies"].select(F.col("id").alias("cid"), "symbol")
    return (
        bars.join(F.broadcast(dim), on="cid")
        .select(
            "symbol",
            F.col("date").alias("trade_date"),
            "open", "close", "high", "low",
            F.col("volume").cast("bigint").alias("volume"),
        )
    )


@register(
    "q_daily_bars_fallback",
    oracle="""
    WITH daystocks AS (          -- precomputed bars exist only for user_id < 25
      SELECT user_id, cast(ts AS DATE) AS trade_date,
             first(value ORDER BY ts, event_id) AS open,
             last(value ORDER BY ts, event_id) AS close,
             max(value) AS high, min(value) AS low
      FROM events WHERE user_id < 25
      GROUP BY user_id, cast(ts AS DATE)
    ),
    fallback AS (                -- users with no bars: aggregate raw ticks
      SELECT user_id, cast(ts AS DATE) AS trade_date,
             first(value ORDER BY ts, event_id) AS open,
             last(value ORDER BY ts, event_id) AS close,
             max(value) AS high, min(value) AS low
      FROM events
      WHERE user_id NOT IN (SELECT DISTINCT user_id FROM daystocks)
      GROUP BY user_id, cast(ts AS DATE)
    )
    SELECT user_id, trade_date, open, close, high, low, 'daystocks' AS src
    FROM daystocks
    UNION ALL
    SELECT user_id, trade_date, open, close, high, low, 'fallback' AS src
    FROM fallback
    """,
    description="The dashboard's fallback path (SURVEY §3.2, "
                "dashboard/timescaledb_model.py:526-572): serve "
                "precomputed daystocks when present, else aggregate raw "
                "ticks on the fly. The covered set is a partition of the "
                "rows by their own grouping key, so since round 11 this "
                "is ONE OHLCV aggregate with src = CASE on the key — "
                "bit-equal to the oracle's anti-join + union spelling, "
                "at half the corpus scans.",
)
def q_daily_bars_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = R.events_with_volume(spark, sf_dir)

    def bars(df: DataFrame) -> DataFrame:
        return A.ohlcv_daily(
            df, key="user_id", ts="ts", price="value", volume="volume",
            day_alias="trade_date", tiebreak="event_id",
        ).select("user_id", "trade_date", "open", "close", "high", "low")

    # Round 11: one aggregate pass, not two passes + an anti-join. The
    # covered set is exactly {user_id < 25 with rows}, so the anti-join
    # kept exactly the user_id >= 25 rows; a union of OHLCV aggregates
    # over a partition of the rows by their own grouping key equals the
    # single aggregate with src = CASE on the key. Halves the corpus
    # scans (ev was read by both branches); bit-equal by construction,
    # oracle (which still spells the anti-join shape) unchanged.
    return bars(ev).withColumn(
        "src",
        F.when(F.col("user_id") < 25, F.lit("daystocks"))
        .otherwise(F.lit("fallback")),
    )


@register(
    "q_rollup",
    oracle="""
    SELECT coalesce(strftime(o_orderdate, '%Y'), 'ALL') AS year,
           coalesce(CASE WHEN GROUPING(strftime(o_orderdate, '%Y-%m')) = 0
                         THEN strftime(o_orderdate, '%Y-%m') END, 'ALL') AS month,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS revenue
    FROM orders
    GROUP BY ROLLUP (strftime(o_orderdate, '%Y'), strftime(o_orderdate, '%Y-%m'))
    """,
    description="Hierarchical ROLLUP totals (year → month → grand total) — "
                "absent from the reference (SURVEY §2.6 'not present') but "
                "part of the full SQL surface its tab-3 passthrough "
                "promises; one shuffle, grouping-sets expansion map-side.",
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = R.load_table(spark, sf_dir, "orders")
    year = F.date_format("o_orderdate", "yyyy")
    month = F.date_format("o_orderdate", "yyyy-MM")
    return (
        orders.rollup(year.alias("y"), month.alias("m"))
        .agg(F.count("*").alias("n_orders"),
             F.round(F.sum("o_totalprice"), 2).alias("revenue"))
        .select(
            F.coalesce(F.col("y"), F.lit("ALL")).alias("year"),
            F.coalesce(F.col("m"), F.lit("ALL")).alias("month"),
            "n_orders", "revenue",
        )
    )


@register(
    "q_json_extract",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
             AS sum_k,
           CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
             AS min_k,
           CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
             AS max_k
    FROM events
    GROUP BY event_type
    """,
    description="Semi-structured extraction: pull a typed field out of the "
                "JSON props column (get_json_object — JVM-side Jackson "
                "path eval, no Python) and aggregate it; the "
                "schema-on-read surface every event pipeline needs. For "
                "hot paths at scale, from_json to a struct column once "
                "and reuse.",
)
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = R.load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(F.count("*").alias("n"),
             F.sum("k").alias("sum_k"),
             F.min("k").alias("min_k"),
             F.max("k").alias("max_k"))
    )


@register(
    "q_event_transitions",
    oracle="""
    WITH seq AS (
      SELECT event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    )
    SELECT prev_type, event_type AS next_type, count(*) AS n
    FROM seq WHERE prev_type IS NOT NULL
    GROUP BY prev_type, event_type
    """,
    description="Markov transition counts over per-user event sequences "
                "(lag over the series window, then one global count "
                "aggregate) — the sequence-mining primitive behind funnel "
                "and session-flow analysis; one shuffle on the series key "
                "+ one tiny aggregate.",
)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = R.load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count("*").alias("n"))
    )


@register(
    "q_fuzzy_match",
    oracle="""
    WITH probes AS (
      SELECT c_custkey AS probe_id,
             substr(c_name, 1, 9) || substr(c_name, 11) AS probe_name
      FROM customer WHERE c_custkey % 97 = 0
    ),
    scored AS (
      SELECT p.probe_id, p.probe_name, c.c_name,
             levenshtein(p.probe_name, c.c_name) AS distance
      FROM probes p JOIN customer c
        ON substr(c.c_name, length(c.c_name) - 3)
           = substr(p.probe_name, length(p.probe_name) - 3)
      WHERE levenshtein(p.probe_name, c.c_name) <= 2
    )
    SELECT probe_id, probe_name, c_name AS matched_name,
           CAST(distance AS INT) AS distance
    FROM (
      SELECT *, row_number() OVER (PARTITION BY probe_id
                                   ORDER BY distance ASC, c_name ASC) AS rn
      FROM scored
    ) WHERE rn = 1
    """,
    description="Fuzzy entity matching (the reference's symbol/name "
                "reconciliation, done properly): deletion-mangled probe "
                "names matched against the dimension by Levenshtein ≤ 2, "
                "best match per probe under a total (distance, name) "
                "ordering. BLOCKED on the 4-char name suffix before the "
                "edit-distance verify — the O(len²) Levenshtein runs on "
                "~candidates-per-block pairs instead of |probes|×|dim| "
                "(measured 20× at sf0.1); the deletion mangle preserves "
                "the suffix, so the true source is always in the block.",
)
def q_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    cust = R.load_table(spark, sf_dir, "customer")
    probes = cust.filter(F.col("c_custkey") % 97 == 0).select(
        F.col("c_custkey").alias("probe_id"),
        F.concat(F.substring("c_name", 1, 9),
                 F.expr("substring(c_name, 11)")).alias("probe_name"),
    )
    block = F.expr("substring(c_name, length(c_name) - 3)")
    pblock = F.expr("substring(probe_name, length(probe_name) - 3)")
    dist = F.levenshtein("probe_name", "c_name")
    scored = (
        cust.select("c_name", block.alias("_blk"))
        .join(F.broadcast(probes.withColumn("_blk", pblock)), on="_blk")
        .withColumn("distance", dist)
        .filter(F.col("distance") <= 2)
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("distance").asc(), F.col("c_name").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("probe_id", "probe_name", F.col("c_name").alias("matched_name"),
                F.col("distance").cast("int").alias("distance"))
    )


@register(
    "q_customer_revenue",
    oracle="""
    SELECT c.c_custkey, c.c_name, n.n_name,
           count(*) AS n_items,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM customer c
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c_custkey ASC
    LIMIT 20
    """,
    description="Multi-way star join (TPC-H Q10 shape): lineitem ⋈ orders "
                "⋈ customer ⋈ nation with a selective fact filter, grouped "
                "revenue, total-ordered top 20. Exercises Catalyst join "
                "ordering + AQE: nation broadcasts, the fact-side joins "
                "shuffle on their keys, the filter pushes to the lineitem "
                "scan.",
)
def q_customer_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = R.load_table(spark, sf_dir, "customer")
    nation = R.load_table(spark, sf_dir, "nation")
    orders = R.load_table(spark, sf_dir, "orders")
    li = R.load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    joined = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
    )
    return (
        joined.groupBy("c_custkey", "c_name", "n_name")
        .agg(F.count("*").alias("n_items"),
             F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
             .alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


@register(
    "q_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)
             AS sum_charge,
           round(avg(l_quantity), 4) AS avg_qty,
           round(avg(l_extendedprice), 4) AS avg_price,
           round(avg(l_discount), 6) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    description="TPC-H Q1 pricing summary over the lineitem fact: the "
                "canonical one-shuffle map-side-partial aggregation "
                "benchmark shape; ship-date predicate reaches the parquet "
                "scan (row-group skipping), every sum/avg rounded for "
                "cross-engine summation-order parity.",
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = R.load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-09-01 00:00:00").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "q_exists_late_orders",
    oracle="""
    SELECT o.o_orderpriority, count(*) AS n_orders
    FROM orders o
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey
        AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
    )
    GROUP BY o.o_orderpriority
    """,
    description="EXISTS with a correlated non-equi condition (TPC-H Q4 "
                "shape): orders having ≥1 lineitem shipped >60 days after "
                "order date — a left_semi join whose condition mixes the "
                "equi key with a range predicate; the semi join "
                "deduplicates before the aggregate, so no DISTINCT pass.",
)
def q_exists_late_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = R.load_table(spark, sf_dir, "orders")
    li = R.load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    cond = (orders["o_orderkey"] == li["l_orderkey"]) & (
        li["l_shipdate"] > F.expr("timestampadd(DAY, 60, o_orderdate)")
    )
    return (
        orders.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
    )


@register(
    "q_above_avg",
    oracle="""
    WITH avg_price AS (
      SELECT round(avg(l_extendedprice), 4) AS ap FROM lineitem
    )
    SELECT l_orderkey, l_linenumber, l_extendedprice
    FROM lineitem, avg_price
    WHERE l_extendedprice > 1.5 * ap
    """,
    description="Scalar-subquery predicate: rows priced above 1.5× the "
                "global mean — the aggregate is one row, broadcast into "
                "the filter (no second scan pass in Spark: the subquery "
                "result is a literal at execution). Mean rounded before "
                "the comparison for cross-engine parity.",
)
def q_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = R.load_table(spark, sf_dir, "lineitem")
    ap = li.agg(F.round(F.avg("l_extendedprice"), 4).alias("ap"))
    return (
        li.select("l_orderkey", "l_linenumber", "l_extendedprice")
        .crossJoin(F.broadcast(ap))
        .filter(F.col("l_extendedprice") > 1.5 * F.col("ap"))
        .drop("ap")
    )


@register(
    "q_ntile_deciles",
    oracle="""
    SELECT decile, count(*) AS n,
           round(min(o_totalprice), 2) AS lo,
           round(max(o_totalprice), 2) AS hi,
           round(sum(o_totalprice), 2) AS total
    FROM (
      SELECT o_totalprice,
             CAST(ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS INT)
               AS decile
      FROM orders
    )
    GROUP BY decile
    """,
    description="Decile bucketing + per-decile stats — the equi-depth "
                "histogram / quantile binning primitive. SQL-exact "
                "NTILE(10) semantics, but computed with a range "
                "repartition + per-partition prefix-sum offsets (operators/"
                "windows.py::exact_ntile) instead of a global-order "
                "window, so no fact-sized data ever funnels through one "
                "task.",
)
def q_ntile_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.windows import exact_ntile

    orders = R.load_table(spark, sf_dir, "orders")
    tiled = exact_ntile(
        orders.select("o_totalprice", "o_orderkey"),
        order=["o_totalprice", "o_orderkey"],
        n_buckets=10,
        out_col="decile",
    )
    return (
        tiled.groupBy("decile")
        .agg(F.count("*").alias("n"),
             F.round(F.min("o_totalprice"), 2).alias("lo"),
             F.round(F.max("o_totalprice"), 2).alias("hi"),
             F.round(F.sum("o_totalprice"), 2).alias("total"))
    )


@register(
    "q_range_window",
    oracle="""
    SELECT event_id, user_id, ts,
           round(sum(value) OVER (
             PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW
           ), 4) AS trailing_7d_sum,
           CAST(count(*) OVER (
             PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS trailing_7d_n
    FROM events
    """,
    description="Time-RANGE window frame (7-day trailing sum/count per "
                "series): the frame is bounded by event-TIME, not row "
                "count — W2's rolling Bollinger complement for irregular "
                "ticks. Spark ranges over unix_micros (numeric range "
                "frame ≡ DuckDB's INTERVAL range on the timestamp); sum "
                "rounded for cross-engine window-accumulation parity.",
)
def q_range_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = R.load_table(spark, sf_dir, "events")
    micros = F.unix_micros(F.col("ts").cast("timestamp"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(micros)
        .rangeBetween(-7 * 86400 * 1_000_000, 0)
    )
    return ev.select(
        "event_id", "user_id", "ts",
        F.round(F.sum("value").over(w), 4).alias("trailing_7d_sum"),
        F.count("*").over(w).cast("long").alias("trailing_7d_n"),
    )


@register(
    "q_intersect_except",
    oracle="""
    WITH y96 AS (SELECT DISTINCT o_custkey FROM orders
                 WHERE o_orderdate >= TIMESTAMP '1996-01-01'
                   AND o_orderdate < TIMESTAMP '1997-01-01'),
         y97 AS (SELECT DISTINCT o_custkey FROM orders
                 WHERE o_orderdate >= TIMESTAMP '1997-01-01'
                   AND o_orderdate < TIMESTAMP '1998-01-01')
    SELECT o_custkey, 'both' AS tag FROM (SELECT * FROM y96 INTERSECT SELECT * FROM y97)
    UNION ALL
    SELECT o_custkey, 'only_1996' AS tag FROM (SELECT * FROM y96 EXCEPT SELECT * FROM y97)
    """,
    description="INTERSECT / EXCEPT set semantics (absent from the "
                "reference, SURVEY §2.9): customers active in both 1996 "
                "and 1997 vs only 1996 — planned as left_semi / left_anti "
                "over the distinct key sets, tagged and unioned.",
)
def q_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = R.load_table(spark, sf_dir, "orders")

    def year_keys(y: int) -> DataFrame:
        return (
            orders.filter(
                (F.col("o_orderdate") >= F.lit(f"{y}-01-01").cast("timestamp_ntz"))
                & (F.col("o_orderdate") < F.lit(f"{y + 1}-01-01").cast("timestamp_ntz"))
            )
            .select("o_custkey")
            .distinct()
        )

    y96, y97 = year_keys(1996), year_keys(1997)
    return (
        y96.intersect(y97).withColumn("tag", F.lit("both"))
        .unionByName(y96.exceptAll(y97).withColumn("tag", F.lit("only_1996")))
    )


@register(
    "q_array_ops",
    oracle="""
    SELECT user_id,
           array_to_string(list_sort(list_distinct(list(event_type))), ',')
             AS types_csv,
           CAST(len(list_distinct(list(event_type))) AS INT) AS n_types,
           CAST(list_contains(list(event_type), 'purchase') AS BOOLEAN)
             AS has_purchase
    FROM events
    GROUP BY user_id
    """,
    description="Array/collection aggregation surface: per-user distinct "
                "event-type set collected, sorted, joined to a canonical "
                "CSV (deterministic listagg), plus membership — "
                "collect_set + array_sort + array_join in one hash "
                "aggregate; the per-entity profile shape.",
)
def q_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = R.load_table(spark, sf_dir, "events")
    types = F.array_sort(F.collect_set("event_type"))
    return ev.groupBy("user_id").agg(
        F.array_join(types, ",").alias("types_csv"),
        F.size(types).cast("int").alias("n_types"),
        F.array_contains(F.collect_set("event_type"), "purchase")
        .alias("has_purchase"),
    )


@register(
    "q_regional_volume",
    oracle="""
    SELECT n.n_name,
           count(*) AS n_items,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM region r
    JOIN nation n    ON n.n_regionkey = r.r_regionkey
    JOIN customer c  ON c.c_nationkey = n.n_nationkey
    JOIN orders o    ON o.o_custkey = c.c_custkey
    JOIN lineitem l  ON l.l_orderkey = o.o_orderkey
    JOIN supplier s  ON s.s_suppkey = l.l_suppkey
                    AND s.s_nationkey = c.c_nationkey
    WHERE r.r_name = 'EUROPE'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n.n_name
    """,
    description="Six-table join (TPC-H Q5 shape — local supplier volume): "
                "region→nation→customer→orders→lineitem→supplier with the "
                "correlated s_nationkey = c_nationkey condition. The "
                "canonical Catalyst join-ordering / AQE stress: tiny dims "
                "broadcast, fact joins shuffle, date+region filters push "
                "down before any join.",
)
def q_regional_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = R.load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    nation = R.load_table(spark, sf_dir, "nation")
    cust = R.load_table(spark, sf_dir, "customer")
    orders = R.load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    li = R.load_table(spark, sf_dir, "lineitem")
    supp = R.load_table(spark, sf_dir, "supplier")
    joined = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(supp, (supp["s_suppkey"] == li["l_suppkey"])
              & (supp["s_nationkey"] == cust["c_nationkey"]))
        .join(F.broadcast(nation), nation["n_nationkey"] == cust["c_nationkey"])
        .join(F.broadcast(region), region["r_regionkey"] == nation["n_regionkey"])
    )
    return joined.groupBy("n_name").agg(
        F.count("*").alias("n_items"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
        .alias("revenue"),
    )


_PROFILE_COLS = ["l_orderkey", "l_returnflag", "l_shipdate", "l_quantity"]


@register(
    "q_null_profile",
    oracle=" UNION ALL ".join(
        f"""
        SELECT '{c}' AS column_name,
               count(*) AS n_rows,
               count(*) - count({c}) AS n_nulls,
               CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct
        FROM lineitem
        """
        for c in _PROFILE_COLS
    ),
    description="Data-quality profiling: per-column row/null/distinct "
                "counts over the fact table, melted to one row per column "
                "— the validation pass a 100 TB ingest runs before "
                "publishing a partition. One aggregate per column over a "
                "shared scan (Spark caches nothing: the scan is "
                "column-pruned per branch).",
)
def q_null_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = R.load_table(spark, sf_dir, "lineitem")
    parts = [
        li.agg(
            F.lit(c).alias("column_name"),
            F.count("*").alias("n_rows"),
            (F.count("*") - F.count(c)).alias("n_nulls"),
            F.countDistinct(c).cast("long").alias("n_distinct"),
        )
        for c in _PROFILE_COLS
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@register(
    "q_trend_slope",
    oracle="""
    SELECT user_id,
           CAST(n AS BIGINT) AS n,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 5) AS slope
    FROM (
      SELECT user_id, count(*) AS n,
             sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx
      FROM (
        SELECT user_id,
               CAST(epoch_us(ts) - epoch_us(TIMESTAMP '1995-01-01') AS DOUBLE)
                 / 1000000.0 / 86400.0 AS x,
               value AS y
        FROM events
      )
      GROUP BY user_id
    )
    WHERE n * sxx - sx * sx != 0
    """,
    description="Per-series OLS trend slope via applyInPandas (grouped-map "
                "Arrow path: one pandas frame per series, numpy closed-form "
                "least squares) — correctness-gated against the explicit "
                "sum formula in SQL. Completes the Python API surface "
                "under the oracle: mapInPandas (decode), pandas_udf "
                "(scalar), applyInPandasWithState (streaming), and now "
                "grouped-map.",
)
def q_trend_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    ev = R.load_table(spark, sf_dir, "events")
    # timestampdiff over two NTZ operands is pure wall-clock arithmetic:
    # unix_micros(cast(ts as timestamp)) would re-interpret the NTZ value
    # in the SESSION timezone, and a DST-observing tz shifts summer rows'
    # x by 1/24 day relative to the winter base (the driver probes with a
    # hostile non-UTC session tz).
    prepared = ev.select(
        "user_id",
        (F.expr(
            "timestampdiff(MICROSECOND,"
            " TIMESTAMP_NTZ '1995-01-01 00:00:00', ts)"
        ) / 1_000_000.0 / 86400.0).alias("x"),
        F.col("value").alias("y"),
    )

    def slope_of(pdf):
        x = pdf["x"].to_numpy(dtype="float64")
        y = pdf["y"].to_numpy(dtype="float64")
        n = float(len(x))
        sx, sy = float(np.sum(x)), float(np.sum(y))
        sxy, sxx = float(np.sum(x * y)), float(np.sum(x * x))
        den = n * sxx - sx * sx
        if den == 0:
            return pd.DataFrame({"user_id": [], "n": [], "slope": []})
        return pd.DataFrame({
            "user_id": [pdf["user_id"].iloc[0]],
            "n": [int(n)],
            "slope": [round((n * sxy - sx * sy) / den, 5)],
        })

    return prepared.groupBy("user_id").applyInPandas(
        slope_of, "user_id bigint, n bigint, slope double"
    )


@register(
    "q_trend_slope_sql",
    oracle="""
    SELECT user_id,
           CAST(n AS BIGINT) AS n,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 5) AS slope
    FROM (
      SELECT user_id, count(*) AS n,
             sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx
      FROM (
        SELECT user_id,
               CAST(epoch_us(ts) - epoch_us(TIMESTAMP '1995-01-01') AS DOUBLE)
                 / 1000000.0 / 86400.0 AS x,
               value AS y
        FROM events
      )
      GROUP BY user_id
    )
    WHERE n * sxx - sx * sx != 0
    """,
    description="Production variant of q_trend_slope: the same per-series "
                "OLS slope as ONE codegen'd hash aggregate (five partial "
                "sums with map-side combine) instead of the Arrow "
                "grouped-map round trip. This is the idiom to ship at "
                "100 TB; the applyInPandas twin stays as the Python-API "
                "demo.",
)
def q_trend_slope_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = R.load_table(spark, sf_dir, "events")
    # NTZ-pure x: see q_trend_slope's note on session-tz independence.
    x = (F.expr(
        "timestampdiff(MICROSECOND,"
        " TIMESTAMP_NTZ '1995-01-01 00:00:00', ts)"
    ) / 1_000_000.0 / 86400.0)
    y = F.col("value")
    agg = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
    )
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    return (
        agg.filter(den != 0)
        .select(
            "user_id",
            F.col("n").cast("bigint").alias("n"),
            F.round(num / den, 5).alias("slope"),
        )
    )


@register(
    "q_scd2_intervals",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(value) OVER w IS NULL
                    OR lag(value) OVER w != value THEN 1 ELSE 0 END AS chg
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    changes AS (
      SELECT user_id, ts, value FROM marked WHERE chg = 1
    )
    SELECT user_id, value, ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts) AS valid_to
    FROM changes
    """,
    description="SCD type-2 dimension history: collapse consecutive equal "
                "values per series into validity intervals — change rows "
                "via lag, interval close via lead over the change set; "
                "open intervals carry NULL valid_to. Two window passes on "
                "one (series) shuffle — the functional restatement of "
                "UPDATE-with-end-dating.",
)
def q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = R.load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("value").over(w)
    changes = ev.withColumn(
        "chg", F.when(prev.isNull() | (prev != F.col("value")), 1).otherwise(0)
    ).filter(F.col("chg") == 1)
    w2 = Window.partitionBy("user_id").orderBy("ts")
    return changes.select(
        "user_id", "value",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w2).alias("valid_to"),
    )


@register(
    "q_scan_csv_quarantine",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey FROM nation
    """,
    description="S2 + error_dates quarantine: PERMISSIVE TSV parse over a "
                "feed containing malformed lines — the clean side must "
                "equal the nation table exactly while the bad lines land "
                "in an auditable corrupt-record quarantine (pinned by "
                "tests/test_sinks.py) instead of being silently dropped.",
)
def q_scan_csv_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.csv_source import (
        ensure_nation_tsv, read_nation_tsv_with_quarantine,
    )

    path = ensure_nation_tsv(spark, sf_dir)
    clean, _quarantine = read_nation_tsv_with_quarantine(spark, path)
    return clean.select("n_nationkey", "n_name", "n_regionkey")


@register(
    "q_scan_jdbc",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey FROM nation
    """,
    description="JDBC round-trip under the oracle (S6/S7's database twin, "
                "the reference COPY loader + SQL source, "
                "etl/timescaledb_model.py:29-57): nation is bulk-loaded "
                "into an embedded Derby database with batched "
                "per-partition INSERTs, then scanned back as a ranged "
                "parallel JDBC read — the result must equal the parquet "
                "table exactly.",
)
def q_scan_jdbc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.sinks import DERBY_DRIVER, ensure_nation_jdbc, read_jdbc

    url = ensure_nation_jdbc(spark, sf_dir)
    back = read_jdbc(
        spark, url, "nation_jdbc", driver=DERBY_DRIVER,
        partition_column="n_nationkey", lower_bound=0, upper_bound=30,
        num_partitions=4,
    )
    return back.select(
        F.col("n_nationkey").cast("int").alias("n_nationkey"),
        "n_name",
        F.col("n_regionkey").cast("int").alias("n_regionkey"),
    )


@register(
    "q_snapshot_diff",
    oracle="""
    WITH snap_a AS (
      SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 10 < 8
    ),
    snap_b AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1000.0
                  ELSE o_totalprice END AS o_totalprice
      FROM orders WHERE o_orderkey % 10 BETWEEN 1 AND 8
    )
    SELECT coalesce(a.o_orderkey, b.o_orderkey) AS o_orderkey,
           CASE WHEN a.o_orderkey IS NULL THEN 'added'
                WHEN b.o_orderkey IS NULL THEN 'removed'
                ELSE 'changed' END AS status,
           a.o_totalprice AS old_price,
           b.o_totalprice AS new_price
    FROM snap_a a FULL OUTER JOIN snap_b b USING (o_orderkey)
    WHERE a.o_orderkey IS NULL OR b.o_orderkey IS NULL
       OR a.o_totalprice != b.o_totalprice
    """,
    description="Snapshot diff / CDC classification: FULL OUTER join two "
                "table versions on the key, emit added / removed / "
                "changed rows (unchanged bulk filtered out) — the "
                "ingest-validation and incremental-publish primitive; "
                "one shuffle on the key, AQE picks the join strategy.",
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = R.load_table(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderkey") % 10 < 8).select(
        "o_orderkey", F.col("o_totalprice").alias("old_price"))
    b = orders.filter((F.col("o_orderkey") % 10).between(1, 8)).select(
        "o_orderkey",
        # +1000.0 not *1.1: scaling a 2-dp price makes .xx5 boundaries
        # where the engines' round() modes (half-up vs half-even) split;
        # adding a representable constant is bit-exact with no rounding
        F.when(F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + 1000.0)
        .otherwise(F.col("o_totalprice")).alias("new_price"))
    j = a.join(b, on="o_orderkey", how="full_outer")
    status = (
        F.when(F.col("old_price").isNull(), "added")
        .when(F.col("new_price").isNull(), "removed")
        .otherwise("changed")
    )
    return (
        j.filter(F.col("old_price").isNull() | F.col("new_price").isNull()
                 | (F.col("old_price") != F.col("new_price")))
        .select("o_orderkey", status.alias("status"), "old_price", "new_price")
    )


@register(
    "q_having_large_orders",
    oracle="""
    WITH big AS (
      SELECT l_orderkey, round(sum(l_quantity), 2) AS total_qty
      FROM lineitem
      GROUP BY l_orderkey
      HAVING sum(l_quantity) > 150
    )
    SELECT o.o_orderkey, o.o_custkey, o.o_orderdate, b.total_qty
    FROM orders o JOIN big b ON b.l_orderkey = o.o_orderkey
    """,
    description="HAVING + join-back (TPC-H Q18 shape): aggregate the fact "
                "table, filter groups on the aggregate, rejoin the "
                "surviving (few) keys to the orders header — the filter "
                "runs where the data is (post-agg), and only qualifying "
                "keys travel to the join.",
)
def q_having_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = R.load_table(spark, sf_dir, "lineitem")
    orders = R.load_table(spark, sf_dir, "orders")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("_qty"))
        .filter(F.col("_qty") > 150)
        .select("l_orderkey", F.round("_qty", 2).alias("total_qty"))
    )
    return orders.join(
        big, orders["o_orderkey"] == big["l_orderkey"]
    ).select("o_orderkey", "o_custkey", "o_orderdate", "total_qty")


@register(
    "q_corr_stats",
    oracle="""
    SELECT event_type,
           round(corr(value, CAST(json_extract_string(props, '$.k') AS BIGINT)), 5)
             AS corr_vk,
           round(covar_samp(value, CAST(json_extract_string(props, '$.k') AS BIGINT)), 4)
             AS covar_vk,
           round(stddev_samp(value), 5) AS sd_value,
           round(var_samp(value), 4) AS var_value
    FROM events
    GROUP BY event_type
    """,
    description="Statistical aggregate family (corr / covar_samp / "
                "stddev_samp / var_samp) per group — the co-movement "
                "surface the reference's per-day std hints at; all four "
                "compute in ONE hash aggregate pass (shared moment "
                "accumulators), rounded for cross-engine accumulation "
                "parity.",
)
def q_corr_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = R.load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select("event_type", "value", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.round(F.corr("value", "k"), 5).alias("corr_vk"),
            F.round(F.covar_samp("value", "k"), 4).alias("covar_vk"),
            F.round(F.stddev_samp("value"), 5).alias("sd_value"),
            F.round(F.var_samp("value"), 4).alias("var_value"),
        )
    )


@register(
    "q_unpivot",
    oracle="""
    SELECT o_orderkey, metric, val FROM (
      SELECT o_orderkey, 'totalprice' AS metric, o_totalprice AS val FROM orders
      UNION ALL
      SELECT o_orderkey, 'custkey', CAST(o_custkey AS DOUBLE) FROM orders
      UNION ALL
      SELECT o_orderkey, 'orderkey_mod', CAST(o_orderkey % 100 AS DOUBLE)
      FROM orders
    )
    """,
    description="Wide→long melt (the inverse of q_pivot_wide): one row per "
                "(id, metric) via the unpivot operator — planned as a "
                "single Expand node (map-only, rows×metrics), not a "
                "self-union of scans.",
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = R.load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_totalprice").alias("totalprice"),
        F.col("o_custkey").cast("double").alias("custkey"),
        (F.col("o_orderkey") % 100).cast("double").alias("orderkey_mod"),
    )
    return orders.unpivot(
        ["o_orderkey"], ["totalprice", "custkey", "orderkey_mod"],
        "metric", "val",
    )


@register(
    "q_rank_functions",
    oracle="""
    SELECT s_suppkey, s_nationkey,
           CAST(rank() OVER w AS INT) AS rnk,
           CAST(dense_rank() OVER w AS INT) AS drnk,
           round(percent_rank() OVER w, 6) AS prnk,
           round(cume_dist() OVER w, 6) AS cdist
    FROM supplier
    WINDOW w AS (PARTITION BY s_nationkey
                 ORDER BY s_acctbal DESC, s_suppkey ASC)
    """,
    description="The full ranking-function family over one per-group "
                "window (rank / dense_rank / percent_rank / cume_dist "
                "with a total ordering) — SURVEY §2.7 noted their absence "
                "from the reference; one shuffle on the group key serves "
                "all four.",
)
def q_rank_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    supp = R.load_table(spark, sf_dir, "supplier")
    w = Window.partitionBy("s_nationkey").orderBy(
        F.col("s_acctbal").desc(), F.col("s_suppkey").asc()
    )
    return supp.select(
        "s_suppkey", "s_nationkey",
        F.rank().over(w).cast("int").alias("rnk"),
        F.dense_rank().over(w).cast("int").alias("drnk"),
        F.round(F.percent_rank().over(w), 6).alias("prnk"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
    )


@register(
    "q_quantile_bucket",
    oracle="""
    WITH cuts AS (
      SELECT round(quantile_cont(o_totalprice, 0.25), 6) AS c1,
             round(quantile_cont(o_totalprice, 0.50), 6) AS c2,
             round(quantile_cont(o_totalprice, 0.75), 6) AS c3
      FROM orders
    )
    SELECT bucket, count(*) AS n,
           round(min(o_totalprice), 2) AS lo,
           round(max(o_totalprice), 2) AS hi
    FROM (
      SELECT o_totalprice,
             CAST(o_totalprice > c1 AS INT) + CAST(o_totalprice > c2 AS INT)
               + CAST(o_totalprice > c3 AS INT) AS bucket
      FROM orders, cuts
    )
    GROUP BY bucket
    """,
    description="Equi-depth bucketing the way it scales (the path "
                "q_ntile_deciles' global-order window can't take at fact "
                "size): compute quartile cutpoints once (1-row aggregate; "
                "approx_percentile's sketch at 100 TB), broadcast them, "
                "bucket every row map-side by comparison — no global "
                "sort, no single-task window; per-bucket stats in one "
                "shuffle of 4 groups.",
)
def q_quantile_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = R.load_table(spark, sf_dir, "orders")
    cuts = orders.agg(
        F.round(F.expr("percentile(o_totalprice, 0.25)"), 6).alias("c1"),
        F.round(F.expr("percentile(o_totalprice, 0.50)"), 6).alias("c2"),
        F.round(F.expr("percentile(o_totalprice, 0.75)"), 6).alias("c3"),
    )
    bucket = (
        (F.col("o_totalprice") > F.col("c1")).cast("int")
        + (F.col("o_totalprice") > F.col("c2")).cast("int")
        + (F.col("o_totalprice") > F.col("c3")).cast("int")
    )
    return (
        orders.select("o_totalprice")
        .crossJoin(F.broadcast(cuts))
        .groupBy(bucket.alias("bucket"))
        .agg(F.count("*").alias("n"),
             F.round(F.min("o_totalprice"), 2).alias("lo"),
             F.round(F.max("o_totalprice"), 2).alias("hi"))
    )


@register(
    "q_cube",
    oracle="""
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           count(*) AS n_items,
           round(sum(l_quantity), 2) AS total_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    description="CUBE over (returnflag, linestatus): all 4 grouping sets "
                "in one shuffle (map-side grouping-sets expansion) — the "
                "cross-dimensional complement of q_rollup's hierarchy; "
                "coalesce-to-'ALL' is safe because the columns are "
                "non-null.",
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = R.load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n_items"),
             F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .select(
            F.coalesce(F.col("l_returnflag"), F.lit("ALL")).alias("returnflag"),
            F.coalesce(F.col("l_linestatus"), F.lit("ALL")).alias("linestatus"),
            "n_items", "total_qty",
        )
    )


@register(
    "q_value_histogram",
    oracle="""
    SELECT CAST(floor(value / 50) AS INT) AS bucket,
           count(*) AS n,
           round(min(value), 2) AS lo,
           round(max(value), 2) AS hi
    FROM events
    GROUP BY 1
    """,
    description="Fixed-width histogram of the tick values (floor-bucketed "
                "— floor on both engines because CAST(double AS INT) "
                "rounds in DuckDB but truncates in Spark): the one-pass "
                "distribution profile a quality dashboard needs; "
                "map-side partial aggregation, one shuffle of ~#buckets "
                "rows.",
)
def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = R.load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.floor(F.col("value") / 50).cast("int").alias("bucket"))
        .agg(F.count("*").alias("n"),
             F.round(F.min("value"), 2).alias("lo"),
             F.round(F.max("value"), 2).alias("hi"))
    )


@register(
    "q_pivot_wide",
    oracle="""
    SELECT user_id,
           count(*) FILTER (event_type = 'click') AS n_click,
           count(*) FILTER (event_type = 'view') AS n_view,
           count(*) FILTER (event_type = 'purchase') AS n_purchase,
           count(*) FILTER (event_type NOT IN ('click','view','purchase')) AS n_other
    FROM events GROUP BY user_id
    """,
    description="Long→wide pivot on the event-type dimension (explicit "
                "value list so the plan is a single aggregate — never the "
                "two-pass distinct-discovery pivot at scale).",
)
def q_pivot_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = R.load_table(spark, sf_dir, "events")
    known = ["click", "view", "purchase"]
    aggs = [
        F.count(F.when(F.col("event_type") == v, 1)).alias(f"n_{v}")
        for v in known
    ]
    aggs.append(
        F.count(F.when(~F.col("event_type").isin(known), 1)).alias("n_other")
    )
    return ev.groupBy("user_id").agg(*aggs)


@register(
    "q_percentiles",
    oracle="""
    SELECT user_id,
           round(quantile_cont(value, 0.5), 6) AS p50,
           round(quantile_cont(value, 0.95), 6) AS p95,
           round(quantile_cont(value, 0.99), 6) AS p99
    FROM events GROUP BY user_id
    """,
    description="Exact linear-interpolated percentiles per series (the "
                "summary-stats surface); at 100 TB swap percentile() for "
                "approx_percentile's fixed-size sketch — same call shape.",
)
def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = R.load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.95)"), 6).alias("p95"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
    )


@register(
    "q_sessionize",
    oracle="""
    WITH gapped AS (
      SELECT event_id, user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
      SELECT user_id,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_id,
             ts
      FROM gapped
    )
    SELECT user_id, CAST(session_id AS INT) AS session_id,
           count(*) AS n_events,
           min(ts) AS session_start, max(ts) AS session_end
    FROM sessions GROUP BY user_id, session_id
    """,
    description="Gap-based sessionization (30-min inactivity): lag + "
                "running sum of session starts — the batch equivalent of a "
                "streaming session window, one shuffle on the series key.",
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = R.load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    gap = F.col("ts") - prev  # ntz − ntz → day-time interval (tz-free)
    is_new = F.when(
        prev.isNull() | (gap > F.expr("INTERVAL 30 MINUTES")), 1
    ).otherwise(0)
    run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sess = ev.withColumn("_new", is_new).withColumn(
        "session_id", F.sum("_new").over(run).cast("int")
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


_TABLE_VALUES = ", ".join(f"('{t}')" for t in R.TABLES)


@register(
    "q_catalog_tables",
    oracle=f"""
    SELECT table_name FROM (VALUES {_TABLE_VALUES}) AS t(table_name)
    """,
    description="Q2 — catalog introspection "
                "(information_schema queries, "
                "dashboard/timescaledb_model.py:600-602,:637-646): SHOW "
                "TABLES over the registered views, filtered to the "
                "engine's table set (the driver session may hold other "
                "temp views).",
)
def q_catalog_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    R.register_views(spark, sf_dir)
    return (
        spark.sql("SHOW TABLES")
        .select(F.col("tableName").alias("table_name"))
        .filter(F.col("table_name").isin(*R.TABLES))
    )


# HLL relative-error budget the gate enforces. The sketch is
# deterministic for a given input SET (xxhash64 registers, merge =
# elementwise max ⇒ partitioning- and order-insensitive), so the
# observed error at any testdata generation is a fixed number this
# bound must clear. The DEFAULT rsd (0.05) measured 6.7% off at sf0.1
# (1500 true users) — over budget — so the sketch is sized at rsd=0.02
# (still a fixed few-KB register array, merged map-side at any scale);
# measured error ≤0.4% at sf0.001–0.1. tests/test_plans.py still pins
# the numeric accuracy.
APPROX_DISTINCT_TOL = 0.05
APPROX_DISTINCT_RSD = 0.02


@register(
    "q_approx_distinct",
    oracle=f"""
    SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS approx_users_ok,
           CAST(count(DISTINCT event_type) AS BIGINT) AS exact_types,
           TRUE AS approx_types_ok
    FROM events
    """,
    description="A5 at scale — approx_count_distinct (HyperLogLog++) next "
                "to the exact count: the 100 TB cardinality path (no "
                "global shuffle of distinct values, fixed-size sketch "
                "merged map-side). The sketch value is engine-specific, so "
                "the gate checks the CONTRACT instead (VERDICT r6 item 6): "
                "|approx−exact|/exact ≤ 5% emitted as a boolean that the "
                "oracle asserts literally — a drifting HLL hash-mismatches "
                "the row instead of hiding behind a rows-only check.",
)
def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = R.load_table(spark, sf_dir, "events")
    tol = F.lit(APPROX_DISTINCT_TOL)
    agg = ev.agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.approx_count_distinct("user_id", APPROX_DISTINCT_RSD)
        .alias("approx_users"),
        F.countDistinct("event_type").alias("exact_types"),
        F.approx_count_distinct("event_type", APPROX_DISTINCT_RSD)
        .alias("approx_types"),
    )
    def ok(approx: str, exact: str):  # 0-row table: 0/0 would be NULL,
        # not the oracle's literal TRUE — an empty input must read as
        # "sketch agrees exactly", not as HLL drift (review finding)
        return F.when(
            F.col(exact) == 0, F.col(approx) == 0
        ).otherwise(
            F.abs(F.col(approx) - F.col(exact)) / F.col(exact) <= tol
        )

    return agg.select(
        "exact_users",
        ok("approx_users", "exact_users").alias("approx_users_ok"),
        "exact_types",
        ok("approx_types", "exact_types").alias("approx_types_ok"),
    )


@register(
    "q_sql_passthrough",
    oracle=_PASSTHROUGH_SQL,
    description="Q1/S7 — the tab-3 arbitrary-SQL surface "
                "(dashboard/tabs/tab3.py:35-100): the exact same SQL text is "
                "executed by spark.sql over registered views and by the "
                "oracle — Catalyst is the parser/optimizer/executor.",
)
def q_sql_passthrough(spark: SparkSession, sf_dir: str) -> DataFrame:
    R.register_views(spark, sf_dir)
    return spark.sql(_PASSTHROUGH_SQL)


@register(
    "q_tags_resolve",
    oracle="""
    WITH log AS (
      SELECT 'nation:' || n_name AS name,
             CAST(n_regionkey AS VARCHAR) AS value, 1 AS seq
      FROM nation
      UNION ALL
      SELECT 'nation:' || n_name, CAST(n_regionkey + 100 AS VARCHAR), 2
      FROM nation WHERE n_nationkey % 2 = 1
      UNION ALL
      SELECT 'nation:' || n_name, '<DEL>', 3
      FROM nation WHERE n_nationkey % 5 = 0
    )
    SELECT name, value FROM (
      SELECT name, max_by(value, seq) AS value FROM log GROUP BY name
    ) WHERE value <> '<DEL>'
    """,
    description="The tags KV surface's read path (sources/tags.py, "
                "reference etl/timescaledb_model.py:278): append-only "
                "(name, value, seq) log resolved last-write-wins via "
                "tags.resolve_tags_log — the PRODUCTION resolve (one "
                "max_by hash-aggregate, NULL tombstones dropped), not a "
                "copy. The log is constructed deterministically from "
                "nation (v1 for all keys, v2 for odd nationkeys, "
                "tombstone for multiples of 5). The ORACLE encodes "
                "tombstones as a sentinel because DuckDB's max_by skips "
                "NULL arguments while Spark's returns them; the resolved "
                "output is identical either way (tombstoned keys drop).",
)
def q_tags_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tags import resolve_tags_log

    nation = R.load_table(spark, sf_dir, "nation")
    name = F.concat(F.lit("nation:"), F.col("n_name")).alias("name")
    v1 = nation.select(
        name, F.col("n_regionkey").cast("string").alias("value"),
        F.lit(1).alias("seq"),
    )
    v2 = nation.filter(F.col("n_nationkey") % 2 == 1).select(
        name, (F.col("n_regionkey") + 100).cast("string").alias("value"),
        F.lit(2).alias("seq"),
    )
    tomb = nation.filter(F.col("n_nationkey") % 5 == 0).select(
        name, F.lit(None).cast("string").alias("value"),
        F.lit(3).alias("seq"),
    )
    return resolve_tags_log(v1.unionAll(v2).unionAll(tomb))


# ---------------------------------------------------------------------------
# Incremental continuous-aggregate refresh (round 4)
# ---------------------------------------------------------------------------

# Late-arrival window: the 3 days before the new-data cutoff contribute
# stragglers (every 199th event) — late data clusters near the present,
# so the invalidation set stays a handful of partitions at any scale.
_TICK_LATE_MOD = 199
_TICK_NEW_DAYS = 2     # cutoff = max_day - _TICK_NEW_DAYS
_TICK_LATE_DAYS = 3    # late window = [cutoff - 3, cutoff)


def _tick_batch_pred(cutoff, day_col: str = "day", id_col: str = "event_id"):
    """The pending batch: every tick on a new day (>= cutoff) plus late
    stragglers inside the late window. Shared verbatim between the fixture
    build (stored bars = everything else) and the refresh query, so the
    two sides can never drift."""
    day = F.col(day_col)
    late_lo = F.date_sub(F.lit(cutoff), _TICK_LATE_DAYS)
    return (day >= F.lit(cutoff)) | (
        (day >= late_lo) & (day < F.lit(cutoff)) & (F.col(id_col) % _TICK_LATE_MOD == 0)
    )


def _tick_store_cutoff(raw: DataFrame):
    """max(day) - _TICK_NEW_DAYS over the day-PARTITION column: the agg
    reads partition values, not data (metadata-sized — the one driver
    scalar this query needs, same posture as the JDBC range bounds)."""
    return raw.agg(
        F.date_sub(F.max("day"), _TICK_NEW_DAYS).alias("c")
    ).collect()[0]["c"]


def _ensure_tick_store(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Materialize the hypertable-shaped substrate ONCE per testdata
    generation: the raw tick store as DAY-PARTITIONED parquet (sinks.py's
    time-chunking analogue of etl/timescaledb_model.py:159-169) and the
    stored daily bars computed from everything EXCEPT the pending batch —
    the state a nightly rollup job would hold before today's run."""
    import os

    from ..sources import sinks as S

    def build_into(tmp: str) -> None:
        raw_dir = os.path.join(tmp, "raw")
        ev = R.events_with_volume(spark, sf_dir)
        S.write_time_partitioned(ev, raw_dir, ts="ts", key="user_id")
        raw = S.read_time_partitioned(spark, raw_dir)
        cutoff = _tick_store_cutoff(raw)
        old = raw.filter(~_tick_batch_pred(cutoff))
        bars = A.ohlcv_daily(
            old, key="user_id", ts="ts", price="value", volume="volume",
            day_alias="trade_date", tiebreak="event_id",
        ).select(
            "user_id", "trade_date", "open", "close", "high", "low",
            F.col("volume").cast("bigint").alias("volume"), "mean",
        )
        # Tiny here; at 100 TB the bars table is itself day-partitioned so
        # the merge's untouched majority is never even listed.
        bars.write.parquet(os.path.join(tmp, "bars"))

    base = R.ensure_fixture(
        "tick_store", sf_dir, build_into,
        f"new={_TICK_NEW_DAYS}|late={_TICK_LATE_DAYS}|mod={_TICK_LATE_MOD}",
    )
    return os.path.join(base, "raw"), os.path.join(base, "bars")


@register(
    "q_incremental_ohlcv",
    oracle="""
    SELECT user_id, cast(ts AS DATE) AS trade_date,
           first(value ORDER BY ts, event_id) AS open,
           last(value ORDER BY ts, event_id) AS close,
           max(value) AS high,
           min(value) AS low,
           cast(sum((event_id % 1000) + 1) AS BIGINT) AS volume,
           (first(value ORDER BY ts, event_id) + last(value ORDER BY ts, event_id)
            + max(value) + min(value)) / 4 AS mean
    FROM events
    GROUP BY user_id, cast(ts AS DATE)
    """,
    description="Incremental continuous-aggregate refresh (the TimescaleDB "
                "hypertable-rollup pattern the reference leans on: "
                "etl/etl.py:342-361 appends one aggregated day at a time "
                "onto hypertables chunked by date, "
                "etl/timescaledb_model.py:159-169). New + late ticks "
                "invalidate a handful of days; ONLY those days are "
                "re-aggregated from the day-partitioned raw store "
                "(partition-pruned scan), then merged with the stored bars "
                "via a broadcast anti-join on the tiny day set. Cost "
                "scales with the increment, not the corpus — and the "
                "ORACLE is the full recompute over all ticks, so "
                "incremental == full is the checked invariant.",
)
def q_incremental_ohlcv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import incremental as I
    from ..sources import sinks as S

    raw_dir, bars_dir = _ensure_tick_store(spark, sf_dir)
    raw = S.read_time_partitioned(spark, raw_dir)
    cutoff = _tick_store_cutoff(raw)

    # Batch discovery scans only the late window + new days (static
    # partition pruning: day >= cutoff - late_days).
    batch = raw.filter(_tick_batch_pred(cutoff))
    days = I.affected_days(batch, "day")

    # Re-aggregate ONLY the touched days; the broadcast semi-join drives
    # dynamic partition pruning on the day-partitioned raw scan.
    touched = raw.join(F.broadcast(days), on="day", how="left_semi")
    refreshed = A.ohlcv_daily(
        touched, key="user_id", ts="ts", price="value", volume="volume",
        day_alias="trade_date", tiebreak="event_id",
    ).select(
        "user_id", "trade_date", "open", "close", "high", "low",
        F.col("volume").cast("bigint").alias("volume"), "mean",
    )

    stored = spark.read.parquet(bars_dir)
    merged = I.incremental_refresh(
        stored, refreshed,
        days.select(F.col("day").alias("trade_date")), "trade_date",
    )
    return merged.select(
        "user_id", "trade_date", "open", "close", "high", "low",
        F.col("volume").cast("bigint").alias("volume"), "mean",
    )


@register(
    "q_merge_upsert",
    oracle="""
    WITH mx AS (SELECT max(c_custkey) AS m FROM customer),
    changes AS (
      SELECT c_custkey AS k, 'U' AS op, 1 AS seq,
             c_name, c_mktsegment, c_acctbal + 100 AS c_acctbal
      FROM customer WHERE c_custkey % 10 = 3
      UNION ALL
      SELECT c_custkey, 'U', 2, c_name, c_mktsegment, c_acctbal + 250
      FROM customer WHERE c_custkey % 20 = 3
      UNION ALL
      SELECT c_custkey, 'D', 1, NULL, NULL, NULL
      FROM customer WHERE c_custkey % 10 = 7
      UNION ALL
      SELECT c_custkey + mx.m, 'I', 1, 'NEW:' || c_name, c_mktsegment,
             c_acctbal / 2
      FROM customer, mx WHERE c_custkey % 10 = 5
    ),
    latest AS (
      SELECT k, op, c_name, c_mktsegment, c_acctbal FROM (
        SELECT c.*, row_number() OVER (PARTITION BY k ORDER BY seq DESC, op DESC) AS rn
        FROM changes c
      ) WHERE rn = 1
    ),
    merged AS (
      SELECT coalesce(l.k, s.c_custkey) AS c_custkey, l.op,
             CASE WHEN l.k IS NOT NULL THEN l.c_name ELSE s.c_name END AS c_name,
             CASE WHEN l.k IS NOT NULL THEN l.c_mktsegment ELSE s.c_mktsegment END AS c_mktsegment,
             CASE WHEN l.k IS NOT NULL THEN l.c_acctbal ELSE s.c_acctbal END AS c_acctbal
      FROM customer s FULL OUTER JOIN latest l ON s.c_custkey = l.k
    )
    SELECT c_custkey, c_name, c_mktsegment, c_acctbal
    FROM merged WHERE op IS NULL OR op != 'D'
    """,
    description="MERGE / CDC apply (SCD1): the reference's in-place row "
                "mutations — per-key UPDATE on conflict (etl/etl.py:279) "
                "and DELETE cleanups (etl/etl.py:817-823) — restated as "
                "the lakehouse merge: an append-only change log (U/D/I "
                "ops with seq) is resolved last-write-wins by ONE max_by "
                "hash-aggregate, then applied through one full-outer "
                "join (keep / replace / delete / insert). With the "
                "snapshot bucketed on the key only the change side "
                "shuffles; operators/merge.py.",
)
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.merge import merge_upsert, resolve_change_log

    cust = R.load_table(spark, sf_dir, "customer")
    snap = cust.select("c_custkey", "c_name", "c_mktsegment", "c_acctbal")
    mx = F.broadcast(cust.agg(F.max("c_custkey").alias("_m")))

    k = F.col("c_custkey")
    upd1 = snap.filter(k % 10 == 3).select(
        k.alias("c_custkey"), F.lit("U").alias("op"), F.lit(1).alias("seq"),
        "c_name", "c_mktsegment",
        (F.col("c_acctbal") + 100).alias("c_acctbal"),
    )
    upd2 = snap.filter(k % 20 == 3).select(
        k.alias("c_custkey"), F.lit("U").alias("op"), F.lit(2).alias("seq"),
        "c_name", "c_mktsegment",
        (F.col("c_acctbal") + 250).alias("c_acctbal"),
    )
    dels = snap.filter(k % 10 == 7).select(
        k.alias("c_custkey"), F.lit("D").alias("op"), F.lit(1).alias("seq"),
        F.lit(None).cast("string").alias("c_name"),
        F.lit(None).cast("string").alias("c_mktsegment"),
        F.lit(None).cast("double").alias("c_acctbal"),
    )
    ins = snap.filter(k % 10 == 5).crossJoin(mx).select(
        (k + F.col("_m")).alias("c_custkey"),
        F.lit("I").alias("op"), F.lit(1).alias("seq"),
        F.concat(F.lit("NEW:"), F.col("c_name")).alias("c_name"),
        "c_mktsegment",
        (F.col("c_acctbal") / 2).alias("c_acctbal"),
    )
    log = upd1.unionByName(upd2).unionByName(dels).unionByName(ins)
    latest = resolve_change_log(log, "c_custkey")
    return merge_upsert(snap, latest, "c_custkey")


@register(
    "q_heavy_hitters",
    oracle="""
    SELECT l_partkey, count(*) AS n
    FROM lineitem
    GROUP BY l_partkey
    HAVING count(*) >= 39
    ORDER BY n DESC, l_partkey
    """,
    description="Distributed heavy hitters (operators/heavy_hitters.py): "
                "exact frequent-key detection via the two-pass "
                "local-threshold algorithm — per-partition counts keep "
                "keys with local count >= ceil(T/p) (pigeonhole: a "
                "superset of every true heavy hitter under ANY "
                "partitioning), then exact counts of the broadcast "
                "candidate set only. The long tail never shuffles; the "
                "result is exact and partitioning-invariant, so a plain "
                "HAVING count(*) >= T oracle checks it bit-for-bit. "
                "T=39 is the upper tail of the corpus (mean key "
                "frequency 30 at every sf).",
)
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.heavy_hitters import heavy_hitters

    li = R.load_table(spark, sf_dir, "lineitem")
    return heavy_hitters(li, "l_partkey", threshold=39)


@register(
    "q_scan_jsonl",
    oracle="""
    SELECT s_suppkey, s_name, s_nationkey, s_acctbal
    FROM supplier
    """,
    description="JSONL source round-trip (sources/text_formats.py): "
                "supplier materialized as JSON-lines, read back with a "
                "DECLARED schema and DROPMALFORMED (planted garbage "
                "lines must vanish), oracled against the parquet "
                "original — doubles round-trip bit-exactly through "
                "Spark's shortest-representation JSON writer. Landing-"
                "zone format only at scale: convert to columnar at the "
                "first hop.",
)
def q_scan_jsonl(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.text_formats import ensure_supplier_jsonl, read_supplier_jsonl

    path = ensure_supplier_jsonl(spark, sf_dir)
    return read_supplier_jsonl(spark, path)


@register(
    "q_scan_orc",
    oracle="""
    SELECT p_partkey, p_name, p_size, p_retailprice
    FROM part
    WHERE p_size > 25
    """,
    description="ORC source round-trip with predicate pushdown "
                "(sources/text_formats.py): part materialized as ORC, "
                "scanned with a p_size filter that must reach the scan "
                "as PushedFilters (stripe min/max skipping — the ORC "
                "twin of parquet row-group pruning; plan-pinned in "
                "tests/test_plans.py).",
)
def q_scan_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.text_formats import ensure_part_orc, read_part_orc

    path = ensure_part_orc(spark, sf_dir)
    return (
        read_part_orc(spark, path)
        .filter(F.col("p_size") > 25)
        .select("p_partkey", "p_name", "p_size", "p_retailprice")
    )


@register(
    "q_zorder_layout",
    oracle="""
    WITH b AS (
      SELECT min(user_id) AS lo_u, max(user_id) AS hi_u,
             min(date_part('day', ts)) AS lo_d, max(date_part('day', ts)) AS hi_d
      FROM events
    ),
    n AS (
      SELECT event_id,
             CAST(floor((user_id - b.lo_u) * 4095 / greatest(b.hi_u - b.lo_u, 1)) AS BIGINT) AS nu,
             CAST(floor((date_part('day', ts) - b.lo_d) * 4095 / greatest(b.hi_d - b.lo_d, 1)) AS BIGINT) AS nd
      FROM events, b
    )
    SELECT event_id,
           CAST((((nu >> 0) & 1) << 0) | (((nd >> 0) & 1) << 1) |
             (((nu >> 1) & 1) << 2) | (((nd >> 1) & 1) << 3) |
             (((nu >> 2) & 1) << 4) | (((nd >> 2) & 1) << 5) |
             (((nu >> 3) & 1) << 6) | (((nd >> 3) & 1) << 7) |
             (((nu >> 4) & 1) << 8) | (((nd >> 4) & 1) << 9) |
             (((nu >> 5) & 1) << 10) | (((nd >> 5) & 1) << 11) |
             (((nu >> 6) & 1) << 12) | (((nd >> 6) & 1) << 13) |
             (((nu >> 7) & 1) << 14) | (((nd >> 7) & 1) << 15) |
             (((nu >> 8) & 1) << 16) | (((nd >> 8) & 1) << 17) |
             (((nu >> 9) & 1) << 18) | (((nd >> 9) & 1) << 19) |
             (((nu >> 10) & 1) << 20) | (((nd >> 10) & 1) << 21) |
             (((nu >> 11) & 1) << 22) | (((nd >> 11) & 1) << 23) AS BIGINT) AS z
    FROM n
""",
    description="Z-order clustering key (operators/layout.py): user_id and "
                "day-of-month min/max-NORMALIZED into a shared 12-bit "
                "budget, then Morton-interleaved into one sort key — "
                "pure codegen bit arithmetic, no UDF. Normalization is "
                "the load-bearing step: unnormalized dims degenerate to "
                "a single-column sort (measured; see the module "
                "docstring). zorder_write clusters files on this key so "
                "parquet min/max stats prune file reads for predicates "
                "on EITHER column or boxes on both "
                "(tests/test_sinks.py pins the pruning ratios).",
)
def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.layout import with_zvalue

    ev = R.load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.dayofmonth("ts").alias("dom")
    )
    return with_zvalue(ev, ["user_id", "dom"]).select("event_id", "z")


@register(
    "q_gapfill_locf",
    oracle="""
    WITH bars AS (
      SELECT user_id, cast(ts AS DATE) AS day,
             last(value ORDER BY ts, event_id) AS close
      FROM events GROUP BY user_id, cast(ts AS DATE)
    ),
    span AS (SELECT user_id, min(day) AS d0, max(day) AS d1
             FROM bars GROUP BY user_id),
    cal AS (
      SELECT user_id, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
      FROM span
    ),
    j AS (
      SELECT c.user_id, c.day, b.close, (b.user_id IS NULL) AS miss
      FROM cal c LEFT JOIN bars b ON b.user_id = c.user_id AND b.day = c.day
    )
    SELECT user_id, day, miss AS is_gap,
           last_value(close IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY day) AS close
    FROM j
    """,
    description="Calendar gap-fill + LOCF (operators/windows.py::"
                "gapfill_locf) — the reference storage engine's "
                "time_bucket_gapfill + locf hypertable feature: each "
                "series gets one row per day of its own span, missing "
                "days are synthesized (is_gap) and carry the last close "
                "forward. Span agg is per-key, the calendar explode is "
                "calendar-bounded, the fill is one per-key window — a "
                "single series-key shuffle.",
)
def q_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = R.load_table(spark, sf_dir, "events")
    bars = ev.groupBy(
        "user_id", F.col("ts").cast("date").alias("day")
    ).agg(F.max_by("value", F.struct("ts", "event_id")).alias("close"))
    return W.gapfill_locf(bars, "user_id", "day", ["close"])


@register(
    "q_ewma_daily",
    oracle="""
    WITH bars AS (
      SELECT user_id, cast(ts AS DATE) AS day,
             last(value ORDER BY ts, event_id) AS close
      FROM events GROUP BY user_id, cast(ts AS DATE)
    ),
    wl AS (
      SELECT user_id, day, close,
             list(close) OVER (PARTITION BY user_id ORDER BY day
                               ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS l
      FROM bars
    )
    SELECT user_id, day, close,
           list_reduce(l, (a, b) -> a * CAST(0.9 AS DOUBLE)
                                  + b * CAST(0.1 AS DOUBLE)) AS ewma
    FROM wl
    """,
    description="Truncated per-series EWMA (operators/windows.py::ewma): "
                "fold acc*(1-a) + x*a over the last 10 daily closes — "
                "O(window) per row where the exact running EWMA is "
                "quadratic in a distributed formulation; pure fold "
                "arithmetic (no pow), identical left-to-right sequence "
                "in both engines, bit-exact with NO rounding. The "
                "smoothing complement of q_rolling_bollinger's "
                "equal-weight window.",
)
def q_ewma_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = R.load_table(spark, sf_dir, "events")
    bars = ev.groupBy(
        "user_id", F.col("ts").cast("date").alias("day")
    ).agg(F.max_by("value", F.struct("ts", "event_id")).alias("close"))
    return W.ewma(bars, "user_id", "day", "close", alpha=0.1, window=10)


@register(
    "q_dq_expectations",
    oracle="""
    WITH w AS (
      SELECT count(*) AS n,
             sum(CASE WHEN coalesce(l_quantity > 0, FALSE) THEN 0 ELSE 1 END) AS v_positive_qty,
             sum(CASE WHEN coalesce(l_extendedprice >= 0, FALSE) THEN 0 ELSE 1 END) AS v_nonneg_price,
             sum(CASE WHEN coalesce(l_shipdate IS NOT NULL, FALSE) THEN 0 ELSE 1 END) AS v_shipdate_present,
             sum(CASE WHEN coalesce(l_discount BETWEEN 0 AND 0.5, FALSE) THEN 0 ELSE 1 END) AS v_discount_range,
             sum(CASE WHEN coalesce(l_shipdate >= o_orderdate, FALSE) THEN 0 ELSE 1 END) AS v_ship_after_order
      FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
    )
    SELECT 'positive_qty' AS rule, n AS n_rows,
           CAST(v_positive_qty AS BIGINT) AS n_violations,
           round(v_positive_qty / n, 6) AS violation_rate FROM w
    UNION ALL SELECT 'nonneg_price', n, CAST(v_nonneg_price AS BIGINT),
           round(v_nonneg_price / n, 6) FROM w
    UNION ALL SELECT 'shipdate_present', n, CAST(v_shipdate_present AS BIGINT),
           round(v_shipdate_present / n, 6) FROM w
    UNION ALL SELECT 'discount_range', n, CAST(v_discount_range AS BIGINT),
           round(v_discount_range / n, 6) FROM w
    UNION ALL SELECT 'ship_after_order', n, CAST(v_ship_after_order AS BIGINT),
           round(v_ship_after_order / n, 6) FROM w
    """,
    description="Declarative data-quality audit (functions/quality.py): "
                "the reference's blind DELETE cleanups "
                "(etl/etl.py:817-823) as counted, auditable "
                "expectations — five rules (positivity, ranges, "
                "presence, cross-table ship-after-order) evaluated in "
                "ONE aggregate pass over the fact join (sum-of-case per "
                "rule, map-side partials): a 50-rule audit is still one "
                "scan at 100 TB. NULL predicate = violation; "
                "require_clean gates pipelines on the same report.",
)
def q_dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.quality import expectations_report

    li = R.load_table(spark, sf_dir, "lineitem")
    orders = R.load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    j = li.join(orders, li.l_orderkey == orders.o_orderkey, "left")
    rules = [
        ("positive_qty", F.col("l_quantity") > 0),
        ("nonneg_price", F.col("l_extendedprice") >= 0),
        ("shipdate_present", F.col("l_shipdate").isNotNull()),
        ("discount_range", F.col("l_discount").between(0, 0.5)),
        ("ship_after_order", F.col("l_shipdate") >= F.col("o_orderdate")),
    ]
    return expectations_report(j, rules)


# ---------------------------------------------------------------------------
# Recursive / multi-grouping / order-statistics additions (round 4)
# ---------------------------------------------------------------------------

@register(
    "q_recursive_ancestry",
    oracle="""
    WITH RECURSIVE walk AS (
      SELECT c_custkey, c_custkey AS cur, 0 AS depth, c_custkey AS path_sum
      FROM customer
      UNION ALL
      SELECT c_custkey, cur // 8 AS cur, depth + 1, path_sum + (cur // 8)
      FROM walk WHERE cur > 0
    )
    SELECT c_custkey, depth, path_sum
    FROM walk WHERE cur = 0
    ORDER BY c_custkey
    """,
    description="Recursive CTE hierarchy walk (Spark 4's native WITH "
                "RECURSIVE — the SQL surface's newest branch): every "
                "customer climbs a synthetic parent chain (parent = "
                "key div 8) to the root, returning depth and the sum "
                "of ancestor keys. Integer-only recursion terminates "
                "in O(log key) levels; both engines run the identical "
                "UNION ALL fixpoint, so the oracle is the same "
                "recursive query in DuckDB dialect (// for DIV).",
)
def q_recursive_ancestry(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = R.load_table(spark, sf_dir, "customer")
    # The default recursion-row guard (1M accumulated rows) trips at
    # sf1.0 (150k customers × ~7 levels). This recursion is provably
    # bounded (cur strictly shrinks by div 8), so raise the runaway
    # guard FOR THIS EXECUTION ONLY: the guard is read at runtime, so
    # the result is pinned eagerly (localCheckpoint) under the raised
    # limit and the session default is restored — a later genuinely
    # runaway recursion still fails fast at 1M rows.
    key = "spark.sql.cteRecursionRowLimit"
    old = spark.conf.get(key, None)
    spark.conf.set(key, str(1 << 30))
    try:
        out = spark.sql(
            """
            WITH RECURSIVE walk AS (
              SELECT c_custkey, c_custkey AS cur, 0 AS depth,
                     c_custkey AS path_sum
              FROM {c}
              UNION ALL
              SELECT c_custkey, cur DIV 8 AS cur, depth + 1,
                     path_sum + (cur DIV 8)
              FROM walk WHERE cur > 0
            )
            SELECT c_custkey, depth, path_sum
            FROM walk WHERE cur = 0
            """,
            c=cust,
        ).localCheckpoint()
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    return out.orderBy("c_custkey")


@register(
    "q_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag, l_linestatus) AS INTEGER) AS gid,
           round(sum(l_quantity), 2) AS sum_qty,
           count(*) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                            (l_returnflag), ())
    ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
    description="Explicit GROUPING SETS with grouping_id — the "
                "arbitrary-combination sibling of q_cube/q_rollup "
                "(which only cover the full lattice / prefix chain). "
                "One Expand + one aggregate; gid disambiguates real "
                "NULL keys from rolled-up ones, and both engines use "
                "the same MSB-first bitmask encoding.",
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = R.load_table(spark, sf_dir, "lineitem")
    return (
        li.groupingSets(
            [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
            "l_returnflag", "l_linestatus",
        )
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.count("*").alias("n"),
        )
        .orderBy(
            "gid",
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


@register(
    "q_median_mode",
    oracle="""
    WITH counts AS (
      SELECT l_returnflag, l_quantity, count(*) AS cnt
      FROM lineitem GROUP BY l_returnflag, l_quantity
    ),
    maxc AS (
      SELECT l_returnflag, max(cnt) AS max_cnt
      FROM counts GROUP BY l_returnflag
    ),
    modes AS (
      SELECT c.l_returnflag, min(c.l_quantity) AS mode_qty,
             max(c.cnt) AS mode_cnt
      FROM counts c JOIN maxc m
        ON m.l_returnflag = c.l_returnflag AND c.cnt = m.max_cnt
      GROUP BY c.l_returnflag
    ),
    med AS (
      SELECT l_returnflag, round(median(l_quantity), 6) AS median_qty
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT m.l_returnflag, m.median_qty, o.mode_qty, o.mode_cnt
    FROM med m JOIN modes o ON o.l_returnflag = m.l_returnflag
    ORDER BY m.l_returnflag
    """,
    description="Exact interpolated median + DETERMINISTIC mode per "
                "group. Engines' built-in mode() tie-breaks "
                "arbitrarily, so mode is computed as min(value) among "
                "the max-count ties — value-count aggregate, per-group "
                "max, tie join — identical policy in both engines; "
                "median uses the shared even-count interpolation.",
)
def q_median_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = R.load_table(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_returnflag", "l_quantity").agg(
        F.count("*").alias("cnt")
    )
    maxc = counts.groupBy("l_returnflag").agg(F.max("cnt").alias("max_cnt"))
    modes = (
        counts.join(F.broadcast(maxc), "l_returnflag")
        .filter(F.col("cnt") == F.col("max_cnt"))
        .groupBy("l_returnflag")
        .agg(F.min("l_quantity").alias("mode_qty"),
             F.max("cnt").alias("mode_cnt"))
    )
    med = li.groupBy("l_returnflag").agg(
        F.round(F.median("l_quantity"), 6).alias("median_qty")
    )
    return (
        med.join(modes, "l_returnflag")
        .select("l_returnflag", "median_qty", "mode_qty", "mode_cnt")
        .orderBy("l_returnflag")
    )


@register(
    "q_vwap_twap",
    oracle="""
    WITH t AS (
      SELECT user_id, cast(ts AS DATE) AS trade_date,
             CAST(round(value * ((event_id % 1000) + 1), 6)
                  AS DECIMAL(28,6)) AS pv,
             CAST((event_id % 1000) + 1 AS BIGINT) AS v,
             CAST(round(value * (CAST(date_diff('microsecond', ts,
                    lead(ts) OVER (PARTITION BY user_id, cast(ts AS DATE)
                                   ORDER BY ts, event_id)) AS DOUBLE)
                    / 1000000.0), 6) AS DECIMAL(28,6)) AS pdt,
             CAST(date_diff('microsecond', ts,
                  lead(ts) OVER (PARTITION BY user_id, cast(ts AS DATE)
                                 ORDER BY ts, event_id)) AS BIGINT) AS dt_us
      FROM events)
    SELECT user_id, trade_date,
           round(CAST(sum(pv) AS DOUBLE) / CAST(sum(v) AS DOUBLE), 6)
             AS vwap,
           round(CAST(sum(pdt) AS DOUBLE)
                 / nullif(CAST(sum(dt_us) AS DOUBLE) / 1000000.0, 0), 6)
             AS twap
    FROM t GROUP BY user_id, trade_date
    ORDER BY user_id, trade_date
    """,
    description="Daily VWAP + TWAP per series (operators/aggregates.py::"
                "vwap_twap_daily) — the execution-quality benchmarks "
                "beside the OHLCV bars (the reference dashboard's tick "
                "feed, dashboard/tabs/tab1.py). One series-day window "
                "for the forward tick gap (EXACT integer microseconds "
                "— second-granularity diffs truncate differently across "
                "engines), one grouped aggregate. Sums are ORDER-"
                "INDEPENDENT (quantized terms into DECIMAL, gaps as "
                "long micros) — the sf1.0 sweep caught the previous "
                "round-the-float-sum contract flipping one group on a "
                "2 dp boundary. 1-tick days report NULL TWAP.",
)
def q_vwap_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = R.events_with_volume(spark, sf_dir)
    return A.vwap_twap_daily(
        ev, key="user_id", ts="ts", price="value", volume="volume",
        tiebreak="event_id",
    ).orderBy("user_id", "trade_date")


@register(
    "q_up_streaks",
    oracle="""
    WITH bars AS (
      SELECT user_id, cast(ts AS DATE) AS d,
             first(value ORDER BY ts, event_id) AS open,
             last(value ORDER BY ts, event_id) AS close
      FROM events GROUP BY user_id, cast(ts AS DATE)),
    flags AS (
      SELECT user_id, d, (close > open) AS up,
             row_number() OVER (PARTITION BY user_id ORDER BY d) AS rn
      FROM bars),
    islands AS (
      SELECT user_id,
             rn - row_number() OVER (PARTITION BY user_id ORDER BY d) AS grp
      FROM flags WHERE up),
    streaks AS (
      SELECT user_id, grp, count(*) AS len
      FROM islands GROUP BY user_id, grp)
    SELECT user_id, max(len) AS longest_streak,
           count(*) AS n_streaks, CAST(sum(len) AS BIGINT) AS n_flagged
    FROM streaks GROUP BY user_id
    ORDER BY user_id
    """,
    description="Gaps-and-islands (operators/windows.py::"
                "longest_streaks): longest run of consecutive up-days "
                "(close > open) per series via the difference-of-row-"
                "numbers island id — the canonical consecutive-events "
                "SQL shape (win streaks, outage spans, login runs). "
                "Everything is series-partitioned windows + aggregates; "
                "up/down flags compare actual tick values (ordered "
                "aggregates), so no float-rounding hazard.",
)
def q_up_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = R.events_with_volume(spark, sf_dir)
    bars = A.ohlcv_daily(
        ev, key="user_id", ts="ts", price="value", volume="volume",
        day_alias="d", tiebreak="event_id",
    ).select("user_id", "d", "open", "close")
    flagged = bars.withColumn("up", F.col("close") > F.col("open"))
    return W.longest_streaks(
        flagged, key="user_id", order_col="d", flag_col="up"
    ).orderBy("user_id")


@register(
    "q_variant_extract",
    oracle="""
    SELECT event_type,
           CAST(CAST(json_extract_string(props, '$.k') AS BIGINT) // 10
                AS BIGINT) AS k_bucket,
           count(*) AS n,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS sum_k
    FROM events
    GROUP BY 1, 2
    ORDER BY event_type, k_bucket
    """,
    description="Spark 4 VARIANT path for semi-structured data: "
                "parse_json(props) ONCE into a typed variant, "
                "variant_get the field with a target type, aggregate — "
                "the 'parse once, reuse' pattern recommended over "
                "per-access get_json_object (q_json_extract is the "
                "string-path twin). Binary variant encoding makes "
                "repeated field access O(field), not O(re-parse).",
)
def q_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = R.load_table(spark, sf_dir, "events")
    k = F.variant_get(F.parse_json("props"), "$.k", "bigint")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type", F.expr("k div 10").alias("k_bucket"))
        .agg(F.count("*").alias("n"),
             F.sum("k").cast("long").alias("sum_k"))
        .orderBy("event_type", "k_bucket")
    )


@register(
    "q_time_travel",
    oracle="""
    SELECT 1 AS version, count(*) AS n, round(sum(o_totalprice), 2) AS total
    FROM orders WHERE o_orderdate < DATE '1998-01-01'
    UNION ALL
    SELECT 2, count(*), round(sum(o_totalprice), 2) FROM orders
    UNION ALL
    SELECT 3, count(*), round(sum(o_totalprice), 2)
    FROM orders WHERE o_custkey % 100 != 0
    ORDER BY version
    """,
    description="Time travel over the manifest-based snapshot store "
                "(sources/snapshot_store.py): three committed versions "
                "(append pre-1998 → append the rest → compliance-delete "
                "custkey%100=0), each read AS OF its version and "
                "aggregated. The oracle recomputes every version "
                "directly from `orders` — equality proves historical "
                "reads return exactly the as-committed data (immutable "
                "file groups + per-version manifests + an atomic "
                "pointer; readers resolve a manifest once, so committed "
                "writes never leak into a pinned snapshot).",
)
def q_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.snapshot_store import ensure_versioned_orders, read_snapshot

    root = ensure_versioned_orders(spark, sf_dir)
    parts = [
        read_snapshot(spark, root, version=v).agg(
            F.lit(v).alias("version"),
            F.count("*").alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        for v in (1, 2, 3)
    ]
    from functools import reduce

    return reduce(lambda a, b: a.unionByName(b), parts).orderBy("version")


@register(
    "q_dashboard_session",
    oracle="""
    WITH present AS (SELECT DISTINCT user_id FROM events),
    selected AS (
      SELECT c_custkey AS user_id, c_name AS name
      FROM customer JOIN present ON c_custkey = present.user_id
      ORDER BY c_name, c_custkey LIMIT 8
    ),
    rng AS (SELECT max(ts) AS end_ts FROM events),
    ev AS (
      SELECT e.event_id, e.user_id, e.ts, e.value
      FROM events e
      JOIN selected s ON e.user_id = s.user_id
      CROSS JOIN rng
      WHERE e.ts >= rng.end_ts - INTERVAL 20 DAY
    ),
    daystocks AS (
      SELECT user_id, cast(ts AS DATE) AS trade_date,
             first(value ORDER BY ts, event_id) AS open,
             last(value ORDER BY ts, event_id) AS close,
             max(value) AS high, min(value) AS low
      FROM ev WHERE user_id % 2 = 0
      GROUP BY user_id, cast(ts AS DATE)
    ),
    fallback AS (
      SELECT user_id, cast(ts AS DATE) AS trade_date,
             first(value ORDER BY ts, event_id) AS open,
             last(value ORDER BY ts, event_id) AS close,
             max(value) AS high, min(value) AS low
      FROM ev
      WHERE user_id NOT IN (SELECT DISTINCT user_id FROM daystocks)
      GROUP BY user_id, cast(ts AS DATE)
    ),
    bars AS (
      SELECT user_id, trade_date, open, close, high, low,
             'daystocks' AS src FROM daystocks
      UNION ALL
      SELECT user_id, trade_date, open, close, high, low,
             'fallback' AS src FROM fallback
    ),
    t AS (
      SELECT user_id, trade_date, open, close, high, low, src,
             count(close) OVER w AS cnt,
             avg(close) OVER w AS m,
             stddev_samp(close) OVER w AS s
      FROM bars
      WINDOW w AS (PARTITION BY user_id ORDER BY trade_date
                   ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
    )
    SELECT t.user_id, s.name, t.trade_date,
           t.open, t.high, t.low, t.close, t.src,
           round(CASE WHEN cnt >= 10 THEN m END, 6) AS boll_mean,
           round(CASE WHEN cnt >= 10 THEN s END, 6) AS boll_std,
           round(CASE WHEN cnt >= 10 THEN m + 2 * s END, 6) AS boll_upper,
           round(CASE WHEN cnt >= 10 THEN m - 2 * s END, 6) AS boll_lower
    FROM t JOIN selected s ON t.user_id = s.user_id
    ORDER BY t.user_id, t.trade_date
    """,
    description="The tab-1 dashboard session, end-to-end in ONE lazy plan "
                "(dashboard/tabs/tab1.py:180-300 + "
                "dashboard/timescaledb_model.py:460-572): (1) company "
                "list = customers that actually have tick data "
                "(join-distinct, get_companies), the user picks the "
                "first 8 alphabetically; (2) date range = max(ts) back "
                "20 days (get_date_range / update_date_picker), applied "
                "as a broadcast 1-row scalar join so the tick scan is "
                "filtered before any aggregation; (3) daily bars with "
                "the daystocks-else-resample fallback (get_company_data: "
                "even user_ids have precomputed bars, the rest aggregate "
                "raw ticks — one aggregate pass, src by key parity since "
                "round 11); (4) Bollinger bands "
                "(window 10, 2σ, NULL-until-full) over each series' "
                "daily closes (calculate_bollinger_bands). Exercises "
                "operator COMPOSITION: semi/anti joins, scalar-subquery "
                "broadcast, single-shuffle OHLCV, union, then a chained "
                "window — all lazily fused by Catalyst; only metadata "
                "(8-row company pick, 1-row range) is broadcast.",
)
def q_dashboard_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = R.load_table(spark, sf_dir, "events")
    cust = R.load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")

    # (1) the dropdown: companies that have data, alphabetical, pick 8.
    present = ev.select("user_id").distinct()
    selected = (
        cust.join(present, cust.c_custkey == present.user_id, "left_semi")
        # Tie-break on the key: synthetic scale-ups replicate names, and an
        # ORDER BY on a non-unique column under LIMIT is engine-dependent.
        .orderBy("c_name", "c_custkey")
        .limit(8)
        .select(F.col("c_custkey").alias("user_id"), F.col("c_name").alias("name"))
    )

    # (2) date picker: [max(ts) - 20 days, max(ts)] as a 1-row broadcast.
    rng = ev.agg(F.max("ts").alias("end_ts"))
    ev_sel = (
        ev.join(F.broadcast(selected.select("user_id")), "user_id", "left_semi")
        .crossJoin(F.broadcast(rng))
        .filter(F.col("ts") >= F.expr("end_ts - INTERVAL 20 DAYS"))
        .withColumn("volume", (F.col("event_id") % 1000 + 1).cast("long"))
    )

    # (3) daily bars: precomputed daystocks (even user_ids) else fallback
    # resample of raw ticks, served as one aggregate pass (round 11).
    def bars(df: DataFrame) -> DataFrame:
        return A.ohlcv_daily(
            df, key="user_id", ts="ts", price="value", volume="volume",
            day_alias="trade_date", tiebreak="event_id",
        ).select("user_id", "trade_date", "open", "close", "high", "low")

    # Round 11: ONE aggregate pass over ev_sel instead of two plus an
    # anti-join. The split is provably a partition by user parity:
    # covered = {even user_ids present in ev_sel}, so the anti-join kept
    # exactly the odd users' rows — and a union of per-branch OHLCV
    # aggregates over a partition of the rows by their own grouping key
    # is the one aggregate over all rows with src = CASE on the key.
    # Before, each branch re-ran the ev scan + semi-join + date filter
    # (ev_sel was unpinned): 2 corpus scans and 2 aggregates for one
    # result. Bit-equal by construction; oracle unchanged.
    all_bars = bars(ev_sel).withColumn(
        "src",
        F.when(F.col("user_id") % 2 == 0, F.lit("daystocks"))
        .otherwise(F.lit("fallback")),
    )

    # (4) Bollinger over the daily closes (window 10, 2 std, NULL-until-full).
    boll = W.rolling_bollinger(
        all_bars, key="user_id", ts="trade_date", price="close",
        window_size=10, num_std=2.0,
    )
    return (
        boll.join(F.broadcast(selected), "user_id", "inner")
        .select(
            "user_id", "name", "trade_date",
            "open", "high", "low", "close", "src",
            F.round("boll_mean", 6).alias("boll_mean"),
            F.round("boll_std", 6).alias("boll_std"),
            F.round("boll_upper", 6).alias("boll_upper"),
            F.round("boll_lower", 6).alias("boll_lower"),
        )
        .orderBy("user_id", "trade_date")
    )
