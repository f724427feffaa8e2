"""The four closed-loop, single-client workloads.

Each workload drives the engine only through its public functions and
hands back, per round, the ops it completed and whatever the output check
needs. Checks run after the timed loop (see checks.py).

    ingest     op = one full ingest pass           item = raw tick
    dashboard  op = one analyst request            item = request
    corpus     op = one corpus-build               item = document
    stream     op = one micro-batch                item = unique event
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np


@dataclass
class Round:
    """What one loop iteration did: its ops as (kind, seconds), the items
    it completed and the payload its output check needs."""

    ops: list[tuple[str, float]]
    items: int
    payload: object = None
    wall_s: float = 0.0
    ok: bool = True
    error: str = ""
    extra: dict = field(default_factory=dict)


def _count_files(path: str) -> tuple[int, int]:
    n = size = 0
    for d, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(d, f))
    return n, size


def _ingest(spark, tr, raw_path: str, tsv_path: str, out: str) -> None:
    """`cmd_ingest`'s flow: read the feeds, build the five engine tables,
    write them (dimension tables plain, facts date-partitioned)."""
    from real_big_data_project_spark.pipeline import run_pipeline
    from real_big_data_project_spark.sources.sinks import write_time_partitioned

    with tr.span("sources.read", "sources"):
        raw = spark.read.parquet(raw_path)
        eur = (spark.read.option("header", "true").option("sep", "\t")
               .option("mode", "DROPMALFORMED").csv(tsv_path))
    with tr.span("pipeline.build", "builder"):
        tables = run_pipeline(spark, raw, euronext=eur)
    with tr.span("sinks.write", "sinks"):
        for name in ("markets", "companies"):
            tables[name].write.mode("overwrite").parquet(os.path.join(out, name))
        for name in ("stocks", "daystocks", "stocks_compressed"):
            write_time_partitioned(tables[name], os.path.join(out, name))


class Workload:
    # nominal round wall on the reference box: a run makes
    # round(--seconds / ROUND_S) rounds whatever the host's speed
    ROUND_S: float

    def __init__(self, spark, tr, inputs: str, work: str, seed: int):
        self.spark, self.tr, self.inputs, self.work, self.seed = spark, tr, inputs, work, seed
        with open(os.path.join(inputs, "meta.json")) as f:
            self.meta = json.load(f)

    def setup(self) -> None:
        raise NotImplementedError

    def round(self, i: int) -> Round:
        raise NotImplementedError


class Ingest(Workload):
    ROUND_S = 10.0

    def setup(self) -> None:
        self.raw = os.path.join(self.inputs, "raw_snapshots.parquet")
        self.tsv = os.path.join(self.inputs, "euronext.tsv")
        self.in_bytes = os.path.getsize(self.raw) + os.path.getsize(self.tsv)
        # One warm-up pass pays class loading and codegen of every stage
        # (~20 s on the reference box whatever the input size). The JIT
        # keeps warming after it: the first timed pass runs ~7% slower
        # than a third pass would. The pass count is fixed, so that bias
        # is the same in every run.
        warm = os.path.join(self.work, "ingest-warmup")
        _ingest(self.spark, self.tr, self.raw, self.tsv, warm)
        shutil.rmtree(warm, ignore_errors=True)

    def round(self, i: int) -> Round:
        out = os.path.join(self.work, f"ingest-{i}")
        t0 = time.perf_counter()
        with self.tr.op("pass"):
            _ingest(self.spark, self.tr, self.raw, self.tsv, out)
        wall = time.perf_counter() - t0
        files, size = _count_files(out)
        return Round([("pass", wall)], self.meta["ticks"], payload=out, wall_s=wall,
                     extra={"files": files, "bytes_per_input_byte": size / self.in_bytes})


class Dashboard(Workload):
    """One analyst: tab-1 bars + Bollinger, tab-2 daily stats, tab-3 SQL
    over the warehouse an ingest writes during set-up."""

    ROUND_S = 0.6
    kinds = ("bars", "stats", "sql")
    MIX = (0.4, 0.3, 0.3)

    def setup(self) -> None:
        self.wh = os.path.join(self.work, "warehouse")
        shutil.rmtree(self.wh, ignore_errors=True)
        _ingest(self.spark, self.tr, os.path.join(self.inputs, "raw_snapshots.parquet"),
                os.path.join(self.inputs, "euronext.tsv"), self.wh)
        for name in ("markets", "companies", "stocks", "daystocks", "stocks_compressed"):
            self.spark.read.parquet(os.path.join(self.wh, name)).createOrReplaceTempView(name)
        self.n_cids = self.meta["symbols"]
        self.first = np.datetime64(self.meta["first_day"])
        self.rng = np.random.default_rng([self.seed, 10])
        for kind in self.kinds:  # warm-up: one request of each type
            self._run(self._request(kind))

    def _range(self) -> tuple[str, str]:
        days = self.meta["days"]
        span = int(self.rng.integers(7, days + 1))
        start = int(self.rng.integers(0, days - span + 1))
        return (str(self.first + start), str(self.first + start + span - 1))

    def _cid(self) -> int:
        # uneven interest: a few companies get most of the clicks
        return int((self.rng.zipf(1.3) - 1) % self.n_cids) + 1

    def _request(self, kind: str | None = None) -> dict:
        if kind is None:
            kind = self.kinds[int(self.rng.choice(3, p=self.MIX))]
        lo, hi = self._range()
        req = {"kind": kind, "lo": lo, "hi": hi}
        if kind == "bars":
            req["cid"] = self._cid()
        elif kind == "stats":
            req["cids"] = sorted({self._cid() for _ in range(int(self.rng.integers(1, 4)))})
        else:
            req["template"] = int(self.rng.integers(0, len(SQL_TEMPLATES)))
            req["n"] = int(self.rng.integers(5, 50))
            req["cid"] = self._cid()
        return req

    def _build(self, req: dict):
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from real_big_data_project_spark.functions.cleansing import pct_change
        from real_big_data_project_spark.operators.windows import rolling_bollinger

        spark = self.spark
        in_range = F.col("date").between(F.lit(req["lo"]).cast("date"),
                                         F.lit(req["hi"]).cast("date"))
        if req["kind"] == "bars":
            bars = spark.table("daystocks").filter(F.col("cid") == req["cid"]).filter(in_range)
            bars = rolling_bollinger(bars, key="cid", ts="date", price="close",
                                     window_size=20, num_std=2.0)
            return bars.orderBy("date")
        if req["kind"] == "stats":
            w = Window.partitionBy("cid").orderBy("date")
            d = spark.table("daystocks").filter(F.col("cid").isin(req["cids"])).filter(in_range)
            return (d.withColumn("pct", pct_change(F.col("close"), F.lag("close").over(w)))
                    .select("cid", "date", "open", "high", "low", "close", "volume", "pct",
                            ((F.col("open") + F.col("high") + F.col("low") + F.col("close"))
                             / 4).alias("ohlc_mean"))
                    .orderBy("cid", "date"))
        return spark.sql(sql_text(req))

    def _run(self, req: dict) -> list:
        with self.tr.span("operators.build", "builder"):
            df = self._build(req)
        with self.tr.span("execution.collect", "execution"):
            return [tuple(r) for r in df.collect()]

    def round(self, i: int) -> Round:
        req = self._request()
        t0 = time.perf_counter()
        with self.tr.op(req["kind"]):
            rows = self._run(req)
        wall = time.perf_counter() - t0
        return Round([(req["kind"], wall)], 1, payload=(req, rows), wall_s=wall,
                     extra={"rows_returned": len(rows)})


# tab-3 passthrough SELECTs: valid in both Spark SQL and DuckDB
SQL_TEMPLATES = (
    # top-N companies by traded volume
    """SELECT c.symbol, c.name, sum(d.volume) AS traded
       FROM daystocks d JOIN companies c ON c.id = d.cid
       WHERE d.date BETWEEN DATE '{lo}' AND DATE '{hi}'
       GROUP BY c.symbol, c.name ORDER BY traded DESC, c.symbol LIMIT {n}""",
    # per-market daily average close
    """SELECT m.alias, d.date, avg(d.close) AS avg_close, count(*) AS n
       FROM daystocks d JOIN companies c ON c.id = d.cid
       JOIN markets m ON m.id = c.mid
       WHERE d.date BETWEEN DATE '{lo}' AND DATE '{hi}'
       GROUP BY m.alias, d.date ORDER BY m.alias, d.date""",
    # one company's closes, looked up by symbol
    """SELECT c.name, d.date, d.close, d.high - d.low AS range
       FROM daystocks d JOIN companies c ON c.id = d.cid
       WHERE c.id = {cid} AND d.date BETWEEN DATE '{lo}' AND DATE '{hi}'
       ORDER BY d.date""",
)


def sql_text(req: dict) -> str:
    return SQL_TEMPLATES[req["template"]].format(**req)


class Corpus(Workload):
    ROUND_S = 11.0

    def setup(self) -> None:
        from real_big_data_project_spark.plans import queries_map

        self.builder = queries_map()["q_datapipe_e2e_v2"]
        self._build()  # warm-up build

    def _build(self) -> None:
        with self.tr.span("datapipe.build", "builder"):
            df = self.builder(self.spark, self.inputs)
        with self.tr.span("execution.noop_write", "execution"):
            df.write.format("noop").mode("overwrite").save()

    def round(self, i: int) -> Round:
        t0 = time.perf_counter()
        with self.tr.op("build"):
            self._build()
        wall = time.perf_counter() - t0
        return Round([("build", wall)], self.meta["docs"], wall_s=wall)


class Stream(Workload):
    """At-least-once landing dir drained one file per micro-batch through
    the streaming dedup, then one availableNow OHLCV drain of the
    deduplicated events."""

    ROUND_S = 14.0  # ~8 s on a calm host, ~14 s on a contended one

    def setup(self) -> None:
        self.listener = self.tr.stream_listener()
        # One untimed round pays the first-use costs of exactly the two
        # operators this workload runs and lets the JIT settle: batch
        # times still fall by a third over the first ten batches after
        # those first uses. `drain.warm_streaming` would add ~19 s of
        # warm-ups for operators it never uses (stream-stream join,
        # applyInPandasWithState) to every run, which the benchmark's time
        # budget (4 + 22 runs per workload in 3420 s) does not leave room
        # for.
        self.round(-1)

    def round(self, i: int) -> Round:
        from real_big_data_project_spark.streaming.dedup_stream import run_streaming_dedup
        from real_big_data_project_spark.streaming.ohlcv_stream import run_ohlcv_available_now

        sf = os.path.join(self.inputs, "sf")
        t0 = time.perf_counter()
        with self.tr.span("streaming.dedup_drain", "streaming"):
            dedup = run_streaming_dedup(self.spark, sf,
                                        landing=os.path.join(self.inputs, "landing"),
                                        max_files_per_trigger=1)
        with self.tr.span("streaming.ohlcv_drain", "streaming"):
            bars = run_ohlcv_available_now(self.spark, sf)
        wall = time.perf_counter() - t0
        self.tr.flush()
        progress = self.listener.take()
        if self.tr.enabled:
            self.tr.add_stream_round(progress, wall)
        ops = [(p["name"].removeprefix("drain_"), p["duration_ms"].get("triggerExecution", 0) / 1e3)
               for p in progress]
        return Round(ops, self.meta["events"], payload=(dedup, bars), wall_s=wall)


WORKLOADS = {"ingest": Ingest, "dashboard": Dashboard, "corpus": Corpus, "stream": Stream}
