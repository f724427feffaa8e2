"""Shared availableNow drain: foreachBatch → parquet, read back lazily.

Every local/test harness in this package drains a stream once and hands
the result to the correctness gate. The first implementation used the
``memory`` sink, which collects every output row into the DRIVER — fine
at sf0.01, an OOM by construction at production scale, and in the bench
it made each streaming query pay a full driver materialization that no
batch query pays.

This drain is the production shape instead: ``foreachBatch`` writes each
micro-batch with the normal distributed parquet writer (executors write,
the driver never holds rows), and the caller gets a lazy scan of the
drained directory. Output modes map to write modes: ``complete``
overwrites (last batch = full result), ``append``/``update`` append
(Structured Streaming emits each appended/updated row exactly once
across an availableNow drain with a fresh checkpoint).

State-store sizing: the drains pin ``spark.sql.shuffle.partitions`` for
the duration of the stream to ``min(requested, defaultParallelism)`` —
the drain's tuned store count (``DRAIN_SHUFFLE_PARTITIONS`` or its
per-drain override), capped at the session's task slots. Every state
store commits in every micro-batch, and stores beyond the slot count add
another wave of commits and no parallelism. On Hadoop's local filesystem
a store's commit took about 60-70 ms per batch on a 4-core box, whatever
the data and the disk: 16 `readlink` process starts per store per batch,
two per checkpoint-file rename (session.py's NioLocalFs removes them).
With the engine's filesystem a 2,500-event dedup batch on 4 slots sums
9-12 ms of commitTimeMs over 4 stores (2-3 ms a store) and 58-60 ms over
16 (about 4 ms a store, in four waves), and its trigger takes 196-230 ms
against 350-401 ms (on Hadoop's: 255-293 and 1,105-1,179 ms of commits,
405-464 and 1,006-1,034 ms of trigger). A box with at least as many slots
as the tuned count keeps it unchanged. A continuous production job sizes
this to its own state volume instead; results are
partition-count-independent either way (tests/test_stress.py runs the
catalog under a prime partition count), and every drain starts from a
fresh checkpoint, so no stored state carries an older count.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame

_ARTIFACTS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "_artifacts",
)


def _drain_root() -> str:
    """Drained-output parent dir: tmpfs when the host has one. The drain
    output is a local harness artifact read back once by the correctness
    gate — a production job's foreachBatch writes to the real durable
    sink instead. Falls back to the repo-local _artifacts dir."""
    if os.path.isdir("/dev/shm"):
        return "/dev/shm/rbds_stream_drains"
    return os.path.join(_ARTIFACTS, "stream_drains")


DRAIN_ROOT = _drain_root()

# Default state-store count for one-shot local drains, before the cap at
# the session's task slots (see module doc). Per-drain overrides were tuned
# by a store-count sweep on a 32-core box at sf0.1: Python-bound stateful
# work (applyInPandasWithState) scales to 16 stores (6.2 s → 2.2 s), while
# the state-volume-bound stream-stream join is fastest at 8 (2.6 s vs
# 5.3 s at 32).
DRAIN_SHUFFLE_PARTITIONS = "8"


def _checkpoint_root() -> str:
    """Checkpoint parent dir: tmpfs when the host has one. A one-shot
    drain's checkpoint (offset/commit logs, state snapshots) is write-once
    throwaway metadata, but every file is fsync'd — on tmpfs the fsyncs
    are free, which shaves a measurable slice of the per-stream fixed
    cost. A RESUMABLE production job must keep its checkpoint on durable
    shared storage instead; this root is only ever handed fresh per-drain
    dirs that are deleted on exit."""
    if os.path.isdir("/dev/shm"):
        return "/dev/shm/rbds_stream_ckpt"
    return os.path.join(_ARTIFACTS, "stream_ckpt")


def warm_streaming(spark) -> None:
    """One-time streaming-engine warmup: the FIRST started stream in a JVM
    pays ~2 s of class loading, execution-thread and state-store machinery
    setup that every later stream skips (measured: 3.5 s first drain vs
    1.1 s second for the identical query), and each stateful OPERATOR
    KIND pays its own first-use cost on top (join state format, Python
    worker pool for applyInPandasWithState, dedup key store). Draining a
    single-row file through one tiny query per operator family moves all
    of it out of whichever catalog query happens to run first — bench.py
    calls this right after its batch warmup so per-query streaming
    timings measure the query, not engine initialization. This is the
    shared warm engine all six catalog drains then reuse (fresh
    checkpoints per drain keep semantics untouched)."""
    import tempfile

    from pyspark.sql import functions as F
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupStateTimeout

    with tempfile.TemporaryDirectory(prefix="rbds_warm_") as d:
        src = os.path.join(d, "src")
        spark.range(2).select(
            F.current_timestamp().alias("ts"), F.col("id")
        ).write.parquet(src)

        def stream():
            return spark.readStream.schema("ts timestamp, id bigint").parquet(src)

        # windowed aggregation (state store save/restore) — includes a
        # min_by-on-struct aggregate so the ObjectHashAggregate streaming
        # path (sort-fallback buffers, a different exec than count/sum)
        # is also warmed: measured, the first complete-mode object
        # aggregate pays ~1.5 s the second one doesn't.
        agg = (
            stream().withWatermark("ts", "1 minute")
            .groupBy(F.window("ts", "1 minute"))
            .agg(F.count("*").alias("n"),
                 F.min_by("id", F.struct("ts", "id")).alias("first_id"))
        )
        drain_available_now(agg, "complete", "warm_agg").collect()
        # watermarked dedup (key store)
        ded = stream().withWatermark("ts", "1 minute").dropDuplicatesWithinWatermark(["id"])
        drain_available_now(ded, "append", "warm_dedup").collect()
        # stream-stream interval join (dual-sided state)
        a = stream().select(F.col("id").alias("ida"), F.col("ts").alias("tsa")) \
            .withWatermark("tsa", "1 minute")
        b = stream().select(F.col("id").alias("idb"), F.col("ts").alias("tsb")) \
            .withWatermark("tsb", "1 minute")
        j = a.join(b, (F.col("ida") == F.col("idb")) & (F.col("tsb") >= F.col("tsa")))
        drain_available_now(j, "append", "warm_join").collect()
        # applyInPandasWithState (Arrow + Python worker pool + group state)
        out_t = T.StructType([T.StructField("id", T.LongType())])
        st_t = T.StructType([T.StructField("n", T.LongType())])

        def fn(key, pdfs, state):
            for _ in pdfs:
                pass
            import pandas as pd

            yield pd.DataFrame({"id": [key[0]]})

        pys = stream().groupBy("id").applyInPandasWithState(
            fn, outputStructType=out_t, stateStructType=st_t,
            outputMode="append", timeoutConf=GroupStateTimeout.NoTimeout,
        )
        drain_available_now(pys, "append", "warm_pandas_state").collect()


def _prune_drain_root(max_age_s: int = 7200) -> None:
    """Drop drain outputs older than ``max_age_s``. Outputs are read back
    lazily, so they cannot be deleted at drain exit — but on tmpfs they
    are RAM, and unbounded accumulation across a long session would eat
    it. Two hours comfortably outlives any consumer (the gate reads the
    scan within seconds of the drain)."""
    import shutil
    import time

    if not os.path.isdir(DRAIN_ROOT):
        return
    cutoff = time.time() - max_age_s
    for name in os.listdir(DRAIN_ROOT):
        p = os.path.join(DRAIN_ROOT, name)
        try:
            if os.path.getmtime(p) < cutoff:
                shutil.rmtree(p, ignore_errors=True)
        except OSError:
            pass


def drain_available_now(
    df: DataFrame,
    output_mode: str,
    tag: str,
    timeout_s: int = 300,
    shuffle_partitions: str | None = None,
    progress_sink: list | None = None,
    no_data_microbatches: bool = False,
) -> DataFrame:
    """Run `df` (a streaming DataFrame) to completion with
    ``trigger(availableNow=True)``, writing every micro-batch to a fresh
    parquet directory via ``foreachBatch``; return a lazy batch scan of
    the drained output (empty-but-typed frame if the source was empty).

    ``shuffle_partitions``: the drain's tuned state-store count (default
    ``DRAIN_SHUFFLE_PARTITIONS``); the stream runs with the smaller of it
    and the session's ``defaultParallelism`` (see module doc).

    ``progress_sink``: a list that receives the query's per-microbatch
    StreamingQueryProgress dicts after termination — the state-store
    metrics (`stateOperators[].numRowsTotal/numRowsRemoved`) are how the
    eviction soak tests PROVE watermark-driven state cleanup instead of
    inferring it from output equality."""
    _prune_drain_root()
    spark = df.sparkSession
    run_id = f"{tag}_{uuid.uuid4().hex[:8]}"
    out_dir = os.path.join(DRAIN_ROOT, run_id)
    ckpt_dir = os.path.join(_checkpoint_root(), run_id)
    write_mode = "overwrite" if output_mode == "complete" else "append"

    def write_batch(batch_df: DataFrame, _batch_id: int) -> None:
        batch_df.write.mode(write_mode).parquet(out_dir)

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    prev_nodata = spark.conf.get("spark.sql.streaming.noDataMicroBatches.enabled")
    prev_nprog = spark.conf.get(
        "spark.sql.streaming.numRecentProgressUpdates", None)
    requested = int(shuffle_partitions or DRAIN_SHUFFLE_PARTITIONS)
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        str(min(requested, spark.sparkContext.defaultParallelism)),
    )
    if progress_sink is not None:
        # recentProgress keeps only the last N updates (default 100) —
        # a >100-microbatch drain would silently truncate the
        # per-microbatch contract the soak assertions sum over
        spark.conf.set(
            "spark.sql.streaming.numRecentProgressUpdates", "100000")
    # One-shot drains emit every row in the data batches themselves; the
    # trailing no-data micro-batch only advances watermarks/evicts state,
    # which a terminating drain doesn't need — skip its fixed cost.
    # (The eviction soak tests pass no_data_microbatches=True: there the
    # trailing batch IS the subject under test.)
    spark.conf.set(
        "spark.sql.streaming.noDataMicroBatches.enabled",
        "true" if no_data_microbatches else "false",
    )
    try:
        q = (
            df.writeStream.foreachBatch(write_batch)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt_dir)  # fresh per drain
            .trigger(availableNow=True)
            .queryName(f"drain_{tag}")
            .start()
        )
        try:
            # availableNow drains finish in seconds; cap the wait so a
            # stalled source fails loudly instead of hanging the harness
            if not q.awaitTermination(timeout_s):
                raise TimeoutError(f"streaming drain {tag!r} exceeded {timeout_s}s")
            if progress_sink is not None:
                progress_sink.extend(q.recentProgress)
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        spark.conf.set(
            "spark.sql.streaming.noDataMicroBatches.enabled", prev_nodata
        )
        if progress_sink is not None:
            if prev_nprog is None:
                spark.conf.unset(
                    "spark.sql.streaming.numRecentProgressUpdates")
            else:
                spark.conf.set(
                    "spark.sql.streaming.numRecentProgressUpdates",
                    prev_nprog)
        import shutil

        shutil.rmtree(ckpt_dir, ignore_errors=True)

    if not os.path.isdir(out_dir):
        return spark.createDataFrame([], df.schema)
    # schema is known — skip the footer-sampling inference job
    return spark.read.schema(df.schema).parquet(out_dir)


def idempotent_parquet_sink(path: str):
    """Replay-safe exactly-once foreachBatch writer.

    Structured Streaming's foreachBatch contract is AT-LEAST-once: after
    a failure the restarted query re-invokes the function with the SAME
    batchId it last attempted, so a naive append sink duplicates that
    batch's rows. This writer makes the sink idempotent, which upgrades
    the end-to-end guarantee to exactly-once (the documented
    batchId-dedup pattern): each batch writes to its own
    ``_sbatch=<id>`` subdirectory and commits by creating a marker file;
    a replayed batchId whose marker exists is skipped entirely, and an
    uncommitted partial write is overwritten by the replay.

    The marker is created AFTER the parquet write completes, so the
    visible state transitions are only ever absent → committed-complete.
    Readers scan ``path`` recursively; subdirectory layout is an
    implementation detail (use read_idempotent_sink).
    """

    def write(df: DataFrame, batch_id: int) -> None:
        sub = os.path.join(path, f"_sbatch={batch_id}")
        marker = os.path.join(path, f"_committed_{batch_id}")
        if os.path.exists(marker):
            return  # replayed batch: already fully committed
        df.write.mode("overwrite").parquet(sub)
        with open(marker, "w") as fh:
            fh.write("ok\n")

    return write


def read_idempotent_sink(spark, path: str) -> DataFrame:
    """Scan of every COMMITTED batch directory of an idempotent sink."""
    committed = sorted(
        os.path.join(path, d)
        for d in os.listdir(path)
        if d.startswith("_sbatch=")
        and os.path.exists(
            os.path.join(path, "_committed_" + d.split("=", 1)[1])
        )
    )
    if not committed:
        raise FileNotFoundError(f"no committed batches under {path!r}")
    return spark.read.parquet(*committed)
