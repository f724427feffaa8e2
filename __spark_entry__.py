"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json). The gate samples the FIRST 50 entries
of ``queries()``, so ``queries()`` lists the least-recently-gated queries
first, computed from the CORRECTNESS_r*.json records beside this file:
every query is re-proven in turn, and a new query leads on its own.

All real logic lives in the ``real_big_data_project_spark`` package; this
module only adapts it to the driver contract.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SF0001 = "/root/testdata/sf0.001"
RECORDS_DIR = os.path.dirname(os.path.abspath(__file__))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: daily OHLCV bars + Bollinger bands over the tick
    feed (`events` plays the reference's `stocks` hypertable) — the
    dashboard tab-1 chart query end-to-end (SURVEY.md §3.2)."""
    from real_big_data_project_spark.operators.aggregates import ohlcv_daily
    from real_big_data_project_spark.operators.windows import rolling_bollinger
    from real_big_data_project_spark.sources.registry import events_with_volume

    ticks = events_with_volume(spark, SF0001)
    daily = ohlcv_daily(
        ticks, key="user_id", ts="ts", price="value", volume="volume",
        day_alias="trade_date", tiebreak="event_id",
    )
    bands = rolling_bollinger(
        daily, key="user_id", ts="trade_date", price="close",
        window_size=5, num_std=2.0,
    )
    return bands.orderBy("user_id", "trade_date")


def latest_green(records_dir: str) -> dict[str, int]:
    """name -> round of its latest green row over every CORRECTNESS_r*.json."""
    latest: dict[str, int] = {}
    for f in glob.glob(os.path.join(records_dir, "CORRECTNESS_r*.json")):
        m = re.search(r"_r(\d+)\.json$", f)
        if m is None:  # glob is looser than the name pattern
            continue
        rnd = int(m.group(1))
        with open(f) as fh:
            rows = json.load(fh)
        for q, r in rows.items():
            ok = (r.get("rows_match") and r.get("schema_match")
                  and r.get("hash_match") in (True, None))
            # rows-only queries (no oracle) count as gated when they ran
            if r.get("err") == "no_oracle" and r.get("spark_rows", -1) >= 0:
                ok = True
            if ok:
                latest[q] = max(latest.get(q, 0), rnd)
    return latest


def gate_order(names: Iterable[str], records_dir: str) -> list[str]:
    """``names`` by (round of the latest green row, name): never-gated
    queries (round 0) first, then the oldest green rows."""
    green = latest_green(records_dir)
    return sorted(names, key=lambda q: (green.get(q, 0), q))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from real_big_data_project_spark.plans import queries_map

    qmap = queries_map()
    return {name: qmap[name] for name in gate_order(qmap, RECORDS_DIR)}


def oracle_sql() -> dict[str, str]:
    from real_big_data_project_spark.plans import oracle_sql_map

    return oracle_sql_map()
