"""Streaming deduplication: exactly-once semantics over an at-least-once
feed.

The reference assumes its scraper never re-delivers a snapshot file; a
real landing zone re-delivers constantly (retries, backfills, double
uploads). `dropDuplicatesWithinWatermark` on the event key makes ingestion
idempotent: the first arrival wins, re-deliveries within the watermark
horizon are dropped, and state is evicted as the watermark advances — so
dedup state is bounded by (arrival rate × watermark), not by history.

Locally the harness PLANTS the duplication: the landing directory holds
every event file twice, and draining it must yield each event exactly
once — which is why the DuckDB oracle for the catalog entry is simply
`SELECT ... FROM events` (the non-duplicated table).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .ohlcv_stream import EVENTS_RAW_SCHEMA


def duplicated_landing_dir(sf_dir: str) -> str:
    """A landing directory holding the events file TWICE (a
    registry.ensure_fixture dir) — the at-least-once delivery fixture."""
    from ..sources.registry import ensure_fixture

    def build_into(tmp: str) -> None:
        os.makedirs(tmp)
        for name in ("events_a.parquet", "events_b.parquet"):
            shutil.copyfile(os.path.join(sf_dir, "events.parquet"),
                            os.path.join(tmp, name))

    return ensure_fixture("dedup_landing", sf_dir, build_into)


def run_streaming_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the tick stream LEFT-joined to a static
    broadcast dimension (the reference's cid-stamping, etl/etl.py:326-328,
    under continuous arrival). Stream-static joins are stateless — each
    micro-batch joins against the current dim snapshot, no watermark, no
    state store — so this is the cheapest streaming operator there is;
    the static side re-resolves per batch, which is also how slowly-
    changing dims get picked up mid-stream."""
    from ..session import ensure_session_confs
    from ..sources.registry import load_table

    ensure_session_confs(spark)
    ticks = spark.readStream.schema(EVENTS_RAW_SCHEMA).option(
        "pathGlobFilter", "events.parquet"
    ).parquet(sf_dir)
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_name"
    )
    enriched = ticks.join(F.broadcast(dim), on="user_id", how="left").select(
        "event_id", "user_id", "c_name", "value"
    )
    from .drain import drain_available_now

    return drain_available_now(enriched, "append", "enrich")


def run_streaming_dedup(spark: SparkSession, sf_dir: str,
                        watermark: str = "3650 days",
                        landing: str | None = None,
                        max_files_per_trigger: int | None = None,
                        progress_sink: list | None = None) -> DataFrame:
    """Drain the doubled landing dir with availableNow through
    dropDuplicatesWithinWatermark(event_id) into a memory sink; returns
    each event exactly once.

    The wide local watermark keeps every key's state live for the whole
    drain (nothing is ever legitimately late here); production tightens
    it to the real re-delivery horizon to bound state — the eviction
    soak passes a tight ``watermark`` over a multi-day ``landing`` and
    asserts via ``progress_sink`` that the key store actually SHRINKS
    as the watermark passes (state = arrival rate x horizon, not
    history)."""
    from ..session import ensure_session_confs

    ensure_session_confs(spark)
    from ..sources.registry import events_ts_divisor

    if landing is None:
        landing = duplicated_landing_dir(sf_dir)
    d = events_ts_divisor(landing, glob_pat="*.parquet")
    reader = spark.readStream.schema(EVENTS_RAW_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.parquet(landing)
    events = raw.withColumn("ts", F.timestamp_micros(F.expr(f"ts div {d}")))
    deduped = (
        events.withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    from .drain import drain_available_now

    out = drain_available_now(deduped, "append", "dedup",
                              shuffle_partitions="16",
                              progress_sink=progress_sink,
                              no_data_microbatches=progress_sink is not None)
    # recover the engine's session-tz-independent NTZ timestamps
    return out.withColumn(
        "ts",
        F.expr(
            "timestampadd(MICROSECOND, unix_micros(ts),"
            " TIMESTAMP_NTZ '1970-01-01 00:00:00')"
        ),
    )
