"""Per-layer metrics of a traced run.

Every figure is a mean per traced op unless its name says otherwise
(streaming.batches, the state high-water marks, trace.*). A metric of a
layer a workload does not touch reads 0.
"""

from __future__ import annotations

import statistics

from tracing import LAYERS

SPEC = {
    # name: unit
    "session.start_s": "s",
    "pipeline.build_s": "s", "pipeline.build_jobs": "count",
    "datapipe.build_s": "s", "datapipe.build_jobs": "count",
    "operators.build_s": "s",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s", "catalyst.planning_s": "s",
    "execution.wall_s": "s", "execution.jobs": "count", "execution.stages": "count",
    "execution.tasks": "count", "execution.executor_run_s": "s",
    "execution.executor_cpu_s": "s", "execution.gc_s": "s",
    "execution.shuffle_read_bytes": "bytes", "execution.shuffle_write_bytes": "bytes",
    "execution.spill_bytes": "bytes", "execution.cpu_util": "ratio",
    "sources.input_rows": "count", "sources.input_bytes": "bytes",
    "sources.rows_examined_per_row_returned": "ratio",
    "sinks.write_s": "s", "sinks.files_written": "count",
    "sinks.bytes_written_per_input_byte": "ratio",
    "streaming.trigger_s": "s", "streaming.add_batch_s": "s",
    "streaming.query_planning_s": "s", "streaming.wal_commit_s": "s",
    "streaming.commit_offsets_s": "s", "streaming.latest_offset_s": "s",
    "streaming.outside_trigger_s": "s", "streaming.batches": "count",
    "streaming.state_rows_total": "count", "streaming.state_memory_bytes": "bytes",
    **{f"self.{layer}_s": "s" for layer in LAYERS if layer != "session"},
    "self.unattributed_s": "s",
    **{f"self.{layer}_share": "ratio" for layer in LAYERS if layer != "session"},
    "trace.ops": "count", "trace.unreconciled_ops": "count", "trace.overhead_s": "s",
}

# The JSON line of a traced run. A layer time that one workload never
# touches (pipeline.build_s on stream, streaming.* on ingest) would read
# 0.0 on every run of it, so the line carries the times every workload
# measures, the counts, and each layer's share of op wall; every metric
# in SPEC is printed above it.
REPORTED = (
    "session.start_s", "pipeline.build_jobs",
    "execution.wall_s", "execution.jobs", "execution.stages", "execution.tasks",
    "execution.executor_run_s", "execution.executor_cpu_s", "execution.gc_s",
    "execution.shuffle_read_bytes", "execution.shuffle_write_bytes",
    "execution.spill_bytes", "execution.cpu_util",
    "sources.input_rows", "sources.input_bytes",
    "sinks.files_written", "sinks.bytes_written_per_input_byte",
    "streaming.batches", "streaming.state_rows_total", "streaming.state_memory_bytes",
    *(f"self.{layer}_share" for layer in LAYERS if layer != "session"),
    "self.unattributed_s", "trace.ops", "trace.unreconciled_ops", "trace.overhead_s",
)

# streaming.<metric> -> durationMs key
_STREAM_PHASES = {"add_batch_s": "addBatch", "query_planning_s": "queryPlanning",
                  "wal_commit_s": "walCommit", "commit_offsets_s": "commitOffsets",
                  "latest_offset_s": "latestOffset"}

# Python span whose wall is each workload's builder figure
_BUILDER_SPAN = {"pipeline": "pipeline.build", "datapipe": "datapipe.build",
                 "operators": "operators.build"}


def per_layer(tr, untraced, traced, session_start_s: float) -> dict:
    ops = tr.ops
    n = max(1, len(ops))

    def mean(key: str) -> float:
        return sum(o.get(key, 0) for o in ops) / n

    m = {"session.start_s": session_start_s}
    for layer, span in _BUILDER_SPAN.items():
        m[f"{layer}.build_s"] = mean(f"span:{span}")
        if layer != "operators":
            m[f"{layer}.build_jobs"] = mean(f"jobs:{span}")
    for phase in ("analysis", "optimization", "planning"):
        m[f"catalyst.{phase}_s"] = mean(f"catalyst_{phase}_s")
    for name, key in (("wall_s", "exec_wall_s"), ("jobs", "jobs"), ("stages", "stages"),
                      ("tasks", "tasks"), ("executor_run_s", "run_s"),
                      ("executor_cpu_s", "cpu_s"), ("gc_s", "gc_s"),
                      ("shuffle_read_bytes", "shuffle_read"),
                      ("shuffle_write_bytes", "shuffle_write"), ("spill_bytes", "spill")):
        m[f"execution.{name}"] = mean(key)
    exec_wall = sum(o.get("exec_wall_s", 0) for o in ops)
    m["execution.cpu_util"] = (sum(o.get("cpu_s", 0) for o in ops) / (exec_wall * tr.cores)
                               if exec_wall else 0.0)
    m["sources.input_rows"] = mean("in_rows")
    m["sources.input_bytes"] = mean("in_bytes")
    returned = sum(r.extra.get("rows_returned", 0) for r in traced if r.ok)
    m["sources.rows_examined_per_row_returned"] = (
        sum(o.get("in_rows", 0) for o in ops) / returned if returned else 0.0)
    m["sinks.write_s"] = mean("span:sinks.write")
    done = [r for r in traced if r.ok and "files" in r.extra]
    m["sinks.files_written"] = statistics.fmean(r.extra["files"] for r in done) if done else 0.0
    m["sinks.bytes_written_per_input_byte"] = (
        statistics.fmean(r.extra["bytes_per_input_byte"] for r in done) if done else 0.0)

    batches = [o for o in ops if "streaming" in o]
    nb = max(1, len(batches))
    m["streaming.trigger_s"] = sum(o["wall_s"] for o in batches) / nb
    for name, key in _STREAM_PHASES.items():
        m[f"streaming.{name}"] = sum(o["streaming"].get(key, 0) for o in batches) / nb
    # per drain round, not per batch
    m["streaming.outside_trigger_s"] = (sum(o["outside_trigger_s"] for o in batches)
                                        / max(1, sum(1 for r in traced if r.ok)))
    m["streaming.batches"] = len(batches)
    m["streaming.state_rows_total"] = max((o["state_rows"] for o in batches), default=0)
    m["streaming.state_memory_bytes"] = max((o["state_bytes"] for o in batches), default=0)

    op_wall = sum(o["wall_s"] for o in ops)
    for layer in LAYERS:
        if layer != "session":
            m[f"self.{layer}_s"] = sum(o["self"][layer] for o in ops) / n
            m[f"self.{layer}_share"] = m[f"self.{layer}_s"] * n / op_wall if op_wall else 0.0
    m["self.unattributed_s"] = mean("unattributed_s")
    m["trace.ops"] = len(ops)
    m["trace.unreconciled_ops"] = sum(1 for o in ops if not o["reconciled"])

    def p50(rounds) -> float:
        durs = [d for r in rounds if r.ok for _, d in r.ops]
        return statistics.median(durs) if durs else 0.0

    m["trace.overhead_s"] = p50(traced) - p50(untraced)
    return {k: {"value": float(m[k]), "unit": SPEC[k]} for k in SPEC}
