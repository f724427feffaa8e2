#!/usr/bin/env python3
"""One measurement CLI for the engine: profile, ab, sweep and oracle.

    python3 tools/measure.py profile NAME... [--sf-dir D] [--reps N] [--conf K=V]
    python3 tools/measure.py ab --leg A=TREE[:ENV=V,...] --leg B=TREE... \\
        [--pairs N] --metric KEY [--metric KEY...] -- CMD...
    python3 tools/measure.py sweep {sf1,sf10,organic,organic_sf100} \\
        [--names a,b] [--base D --target D] [--resume]
    python3 tools/measure.py oracle duckdb [--sf-dir D]
    python3 tools/measure.py oracle {dump,check} NAME... [--sf-dir D]

Spark runs on ``session.get_spark`` only (size the heap with
SPARK_GRAFT_DRIVER_MEM). One timer: a GC barrier, then the noop writer, not
count(), under which Catalyst drops cardinality-preserving marker joins and
everything behind them. Execution metrics come from the live status store
over py4j, which answers with the UI off.

``profile`` splits a query into builder (driver-side Python plus the eager
jobs it runs), Catalyst (phases from the query's own QueryExecution) and
execution (rep walls of the built DataFrame, rep 1's jobs, tasks, executor
time, shuffle and spill), counts the classes codegen compiled for it
(build and reps, ``codegen_compiles`` / ``codegen_s``), and dumps its plan to
``plans/<git short sha>[-dirty]/<name>.txt`` so no change's dump overwrites
another's; its summary line counts the sessions that fell back to Hadoop's
local filesystem (``nio_fs_fallbacks``) and gives the driver JVM's
class-data-sharing state (``cds``: mapped, dumping, or the fallback
cause; ``cds_fallbacks``; ``shared_loaded_classes``). ``ab`` runs any command whose
stdout ends in a JSON row from each leg's tree in a fresh process,
alternating leg order per pair, with a fixed-work host-speed probe per leg
(a shared host drifts several-fold in speed across hours). ``sweep``
prices a pick list at two scales with one fresh JVM per pick: a shared
session accumulates localCheckpoint blocks and GC debt from heavy picks
and inflates later ones. ``oracle`` checks results on one session in the
stress suite's hostile timezone: ``duckdb`` runs every catalog query
against its DuckDB oracle (the driver gate's comparator) and writes
``_artifacts/oracle_full.json``; ``dump`` stores named queries' results
and ``check`` re-runs them and passes only when every value is bit-equal
to the dump, the Spark-vs-Spark proof that an optimization kept the
computation.
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import shutil
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ARTIFACTS = os.path.join(REPO, "_artifacts")
LEG_TIMEOUT_S = 3600
ORACLE_SF_DIR = "/root/testdata/sf0.01"  # the driver gate's scale
ORACLE_TIMEZONE = "America/New_York"  # the stress suite's hostile zone

# Each row keeps the protocol its committed record depends on. Row keys:
# t_<label> (best warm rep, else the one cold pass), t_<label>_cold (first
# pass in the JVM), rows_<label>. reps: warm timed passes per leg after the
# first. single_pass: picks whose localCheckpoint blocks pile up across
# repeat runs in one session (7 s -> 20 s second pass), so they run once
# per leg into a parquet sink and are counted from it. matched: ratio uses
# the cold base pass, after a read-path scan on every leg (warm/cold
# asymmetry measured ~x1.4). jvm_warmup: bench.py's untimed q_scan_parquet
# pass first, or a single-pass base leg would price JVM start-up. require:
# keys a row needs to be carried by --resume. partitions: the shuffle
# partition count the committed record ran with, set at runtime.
SWEEPS: dict[str, dict] = {
    # replicated corpus (tools/make_sf1.py), every query; the skipped three
    # have quadratic or ground-truth-rebuilding DuckDB mirrors at sf1.0;
    # base None is the driver's sf0.1 testdata; 32 partitions as its record
    "sf1": dict(
        scales=(("sf01", None), ("sf1", "_artifacts/sf1.0")),
        picks=None,
        skip=("q_semantic_dedup", "q_simjoin_prefix", "q_dedup_recall"),
        reps=(0, 0), jvm_warmup=True, partitions=32, oracle_at=1, flag=15.0,
        timeout_s=1800),
    # row-bound plans only: replication inflates true pairs ~110x a decade.
    # 64 partitions ~ 64 MB each at these <=1.5 GB corpora; 512 regressed
    # this sweep and organic 2-9x on iterative and window plans
    "sf10": dict(
        scales=(("sf1", "_artifacts/sf1.0"), ("sf10", "_artifacts/sf10")),
        picks=(
            ("q_ann_recall", False), ("q_knn_graph", False),
            ("q_doc_fingerprint", False), ("q_corpus_select", True),
            ("q_datapipe_e2e", False), ("q_token_budget_select", True),
            ("q_pagerank", False), ("q_dedup_exact", True),
            ("q_dedup_simhash", False), ("q_sequence_packing", True),
            ("q_bm25", True), ("q_ohlcv_daily", True),
            ("q_join_distinct_orderby", True), ("q_topk", True),
            ("q_lag_pct_change", True), ("q_rolling_bollinger", True),
            ("q_first_last_per_group", True), ("q_dashboard_session", True),
            ("q_pipeline_e2e", False), ("q_top_revenue_supplier", True),
            ("q_profit_by_nation_year", True),
        ),
        reps=(1, 1), partitions=64, oracle_at=1, flag=10.0, timeout_s=2400),
    # pair-bound family on the fresh-entropy corpus
    # (tools/make_organic_corpus.py); semantic as the production k='auto';
    # 64 partitions for sf10's reason
    "organic": dict(
        scales=(("sf1", "_artifacts/organic_sf1"),
                ("sf10", "_artifacts/organic_sf10")),
        picks=(
            ("q_dedup_exact", True), ("q_doc_fingerprint", True),
            ("q_dedup_minhash_lsh", True), ("q_dedup_ngram_jaccard", True),
            ("q_dedup_simhash", True), ("q_dedup_embedding", True),
            ("q_dedup_components", False), ("q_semantic_dedup", False),
            ("q_knn_graph", False), ("q_ann_recall", False),
        ),
        reps=(2, 2), single_pass=("q_semantic_dedup",), organic_overrides=True,
        partitions=64, oracle_at=0, flag=12.0, timeout_s=1800),
    # third organic decade; 512 partitions + AQE fix partition SIZE (at 64
    # the heavy shuffles spilled; on smaller sweeps 512 regressed 2-9x)
    "organic_sf100": dict(
        scales=(("sf10", "_artifacts/organic_sf10"),
                ("sf100", "_artifacts/organic_sf100")),
        picks=(
            ("q_dedup_exact", True), ("q_dedup_minhash_lsh", True),
            ("q_dedup_ngram_jaccard", True), ("q_dedup_simhash", False),
            ("q_dedup_components", False), ("q_dedup_canonical", False),
            ("q_semantic_dedup_autok", True),
        ),
        reps=(2, 0), single_pass=("q_semantic_dedup_autok",), matched=True,
        partitions=512, oracle_at=0, flag=12.0, timeout_s=10800,
        require=("t_sf10_cold",)),
}


def driver_sf01() -> str:
    """The driver's sf0.1 testdata, beside the contract's SF0001 dir."""
    import __spark_entry__

    return os.path.join(os.path.dirname(__spark_entry__.SF0001), "sf0.1")


def timed(spark, make_df, sink: str | None = None) -> float:
    """Wall seconds to build and force ``make_df()`` after a GC barrier:
    the noop writer, or a parquet write to ``sink`` for single-pass picks."""
    spark._jvm.System.gc()
    t0 = time.perf_counter()
    df = make_df()
    if sink:
        df.write.mode("overwrite").parquet(sink)
    else:
        df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def group_metrics(spark, group: str) -> dict:
    """Totals over the completed stages of a job group, from the status
    store."""
    from py4j.protocol import Py4JJavaError

    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    tot = {"jobs": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0,
           "shuffle_read": 0, "shuffle_write": 0, "spill": 0}
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        tot["jobs"] += 1
        for sid in str(store.job(jid).stageIds().mkString(",")).split(","):
            if not sid:
                continue
            try:
                st = store.lastStageAttempt(int(sid))
            except Py4JJavaError:  # NoSuchElementException: never attempted
                continue
            if str(st.status().toString()) == "SKIPPED":
                continue
            tot["tasks"] += st.numTasks()
            tot["run_s"] += st.executorRunTime() / 1e3
            tot["cpu_s"] += st.executorCpuTime() / 1e9
            tot["shuffle_read"] += st.shuffleReadBytes()
            tot["shuffle_write"] += st.shuffleWriteBytes()
            tot["spill"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
    tot["run_s"] = round(tot["run_s"], 3)
    tot["cpu_s"] = round(tot["cpu_s"], 3)
    return tot


def catalyst_phases(df) -> dict:
    """Seconds per Catalyst phase of ``df``'s own QueryExecution. Analysis
    ran inside the builder; forcing ``executedPlan`` records optimization
    and planning (the noop write plans again inside each rep wall)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    it = qe.tracker().phases().iterator()
    out = {}
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = round((kv._2().endTimeMs() - kv._2().startTimeMs()) / 1e3, 3)
    return out


def codegen_totals(spark) -> tuple[int, float]:
    """JVM-wide generated-code totals so far: classes compiled
    (CodegenMetrics' compilation-time histogram count) and compile seconds
    (CodeGenerator's compile-time accumulator). A query's delta shows
    codegen cache thrash: a warm repeat should compile nothing."""
    jvm = spark._jvm
    n = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
    ns = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    return n, ns / 1e9


def change_id() -> str:
    def git(*args):
        return subprocess.run(["git", *args], cwd=REPO, capture_output=True,
                              text=True, check=True).stdout.strip()

    dirty = git("status", "--porcelain", "--untracked-files=no")
    return git("rev-parse", "--short", "HEAD") + ("-dirty" if dirty else "")


def cmd_profile(a) -> int:
    from real_big_data_project_spark import session
    from real_big_data_project_spark.plans import queries_map

    spark = session.get_spark("rbds-measure-profile")
    for kv in a.conf:
        k, v = kv.split("=", 1)
        spark.conf.set(k, v)
    sc = spark.sparkContext
    qmap = queries_map()
    sf_dir = a.sf_dir or os.environ.get("SPARK_GRAFT_SF_DIR") or driver_sf01()
    timed(spark, lambda: qmap["q_scan_parquet"](spark, sf_dir))  # warmup, as bench.py
    if any("stream" in n for n in a.names):
        from real_big_data_project_spark.streaming.drain import warm_streaming

        warm_streaming(spark)
    plans = os.path.join(REPO, "plans", change_id())
    os.makedirs(plans, exist_ok=True)
    rows = []
    for i, name in enumerate(a.names):
        group = f"measure-{i}-{name}"
        cg0 = codegen_totals(spark)
        sc.setJobGroup(f"{group}-build", name)
        t0 = time.perf_counter()
        df = qmap[name](spark, sf_dir)
        build_s = time.perf_counter() - t0
        phases = catalyst_phases(df)
        walls = []
        for r in range(a.reps):
            sc.setJobGroup(f"{group}-rep{r}", name)
            walls.append(round(timed(spark, lambda: df), 4))
        sc._jsc.clearJobGroup()
        cg1 = codegen_totals(spark)
        row = {"query": name, "build_s": round(build_s, 4),
               "build_jobs": group_metrics(spark, f"{group}-build")["jobs"],
               "catalyst_s": phases, "reps": walls,
               "codegen_compiles": cg1[0] - cg0[0],
               "codegen_s": round(cg1[1] - cg0[1], 3),
               **group_metrics(spark, f"{group}-rep0")}
        plan = sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        with open(os.path.join(plans, f"{name}.txt"), "w") as f:
            f.write(plan)
        rows.append(row)
        print(json.dumps(row), flush=True)
    print(json.dumps({
        "n": len(rows), "plans": os.path.relpath(plans, REPO),
        "build_s": round(sum(r["build_s"] for r in rows), 4),
        "rep1_s": round(sum(r["reps"][0] for r in rows if r["reps"]), 4),
        "min_s": round(sum(min(r["reps"]) for r in rows if r["reps"]), 4),
        # sessions on Hadoop's local filesystem (no javac): a shell
        # process per chmod and readlink in every write and micro-batch
        "nio_fs_fallbacks": session.nio_fs_fallbacks,
        # the driver JVM's class-data-sharing archive: mapped, dumping,
        # or why it has none; classes it took from archives (jcmd)
        "cds": session.cds_state,
        "cds_fallbacks": session.cds_fallbacks,
        "shared_loaded_classes": session.driver_shared_classes(spark),
    }))
    return 0


def parse_row(stdout: str) -> dict:
    """The child prints its result row as a JSON object on the last line
    it controls, but a library or atexit hook can append stray stdout
    after it, so scan backwards for the first parseable JSON object (a
    stray line must not turn a completed multi-minute pick into an error
    row)."""
    for ln in reversed([ln for ln in stdout.strip().splitlines() if ln]):
        try:
            row = json.loads(ln)
        except ValueError:
            continue
        if isinstance(row, dict):
            return row
    raise RuntimeError("no JSON row found in child stdout")


def run_child(argv: list[str], timeout_s: float, cwd: str = REPO,
              env: dict | None = None) -> dict:
    """Run one leg in a fresh process; its JSON row, or RuntimeError with
    the exception lines of its stderr (Spark buries the cause thousands of
    lines above a tail of progress-bar redraws)."""
    p = subprocess.run(argv, capture_output=True, text=True,
                       timeout=timeout_s, cwd=cwd,
                       env={**os.environ, **(env or {})})
    if p.returncode != 0:
        exc_lines = [ln.strip() for ln in p.stderr.splitlines()
                     if "Exception" in ln or "Error" in ln
                     or ln.startswith("Caused by")][:6]
        raise RuntimeError(f"rc={p.returncode} exc={exc_lines!r} "
                           f"tail={p.stderr.strip()[-200:]!r}")
    return parse_row(p.stdout)


def drive_picks(names, argv_of, out_path: str, ratio_flag: float,
                timeout_s: float, summary_extra: dict | None = None,
                resume: bool = False, carried_require=()) -> int:
    """Run every pick as the fresh process ``argv_of(name)``, collect rows,
    flag ratios above ``ratio_flag``, write the record, and return non-zero
    if any pick mismatched or errored.

    The record is rewritten after every pick with ``"complete": false``
    until the sweep finishes: a sweep killed mid-run must not leave a prior
    run's stale record in place presenting itself as current.

    ``resume=True`` reloads an interrupted record and re-runs only the
    picks without a clean prior row (missing, errored, mismatched, or
    missing a ``carried_require`` key, so one record never mixes timing
    protocols). Carried rows are re-accounted against the current pick
    list, so a carried error still fails the sweep until it re-runs."""
    report: dict[str, dict] = {}
    carried: dict[str, dict] = {}
    mismatches, errors, superlinear = [], [], []
    if resume and os.path.exists(out_path):
        with open(out_path) as f:
            prior = json.load(f).get("queries", {})
        carried = {n: r for n, r in prior.items()
                   if n in names and "error" not in r and r.get("ok") is not False
                   and all(k in r for k in carried_require)}

    def write(complete: bool) -> dict:
        summary = {
            "n": len(names), "n_run": len(report), "complete": complete,
            "isolation": "one subprocess (fresh JVM) per pick",
            **(summary_extra or {}),
            "mismatches": mismatches, "errors": errors,
            f"superlinear_gt{int(ratio_flag)}x": superlinear,
        }
        with open(out_path, "w") as f:
            json.dump({"summary": summary, "queries": report}, f, indent=1)
        return summary

    for i, name in enumerate(names):
        if name in carried:
            row = carried[name]
            status = "carried from prior run"
        else:
            try:
                row = run_child(argv_of(name), timeout_s)
            except Exception as exc:  # noqa: BLE001 — record and continue
                row = {"error": f"{type(exc).__name__}: {exc}"[:300]}
                errors.append(name)
            if row.get("ok") is False:
                mismatches.append(name)
            legs = " ".join(f"{k}={row[k]}s" for k in sorted(row)
                            if k.startswith("t_"))
            status = (f"{legs} x{row.get('ratio')} " + (row.get("error") or (
                "MISMATCH" if name in mismatches else "OK")))
        if row.get("ratio", 0) > ratio_flag:
            superlinear.append(name)
        report[name] = row
        write(complete=False)
        print(f"[{i + 1}/{len(names)}] {name}: {status}", flush=True)
    print(json.dumps(write(complete=True)))
    return 1 if (mismatches or errors) else 0


def _picks(spec: dict) -> dict[str, bool]:
    if spec["picks"] is not None:
        return dict(spec["picks"])
    from real_big_data_project_spark.plans import catalog as C

    C._load_all()
    return {n: True for n in C.QUERIES if n not in spec["skip"]}


def run_pick(spec: dict, name: str, dirs: list[str]) -> int:
    """Time ONE pick at both scales in this fresh process and print its
    row as the last stdout line."""
    from pyspark.sql import functions as F

    from real_big_data_project_spark.plans import catalog as C
    from real_big_data_project_spark.plans.oracle_check import check_query
    from real_big_data_project_spark.session import get_spark
    from real_big_data_project_spark.sources import registry as R

    spark = get_spark(f"rbds-measure-sweep-{name}")
    if spec.get("partitions"):
        spark.conf.set("spark.sql.shuffle.partitions", str(spec["partitions"]))
    C._load_all()
    build = C.QUERIES[name].builder
    if spec.get("organic_overrides"):
        import bench

        build = bench.ORGANIC_OVERRIDES.get(name, build)
    if spec.get("jvm_warmup"):
        timed(spark, lambda: C.QUERIES["q_scan_parquet"].builder(spark, dirs[0]))
    if "stream" in name:
        from real_big_data_project_spark.streaming.drain import warm_streaming

        warm_streaming(spark)
    single = name in spec.get("single_pass", ())
    sink = os.path.join(ARTIFACTS, f"_sweep_tmp_{name}") if single else None
    row: dict = {}
    for (label, _), sf_dir, reps in zip(spec["scales"], dirs, spec["reps"]):
        if spec.get("matched"):
            # JIT the parquet/vector read path without running the plan
            R.load_table(spark, sf_dir, "documents").select(
                F.sum(F.length("text"))).collect()
            R.load_table(spark, sf_dir, "embeddings").select(
                F.sum(F.size("embedding"))).collect()
        walls = []
        for i in range(1 + (0 if single else reps)):
            if i:
                time.sleep(2)  # let the ContextCleaner drain the last pass
            walls.append(timed(spark, lambda: build(spark, sf_dir), sink))
        row[f"t_{label}_cold"] = round(walls[0], 2)
        row[f"t_{label}"] = round(min(walls[1:] or walls), 2)
        # untimed accounting; a keep flag gives dups (the recall check)
        res = spark.read.parquet(sink) if single else build(spark, sf_dir)
        if "keep" in res.columns:
            acc = res.agg(F.count("*").alias("n"),
                          F.sum(F.when(~F.col("keep"), 1).otherwise(0)).alias("d")
                          ).collect()[0]
            row[f"rows_{label}"], row[f"dups_{label}"] = acc["n"], acc["d"]
        else:
            row[f"rows_{label}"] = res.count()
    (b, _), (t, _) = spec["scales"]
    row["ratio"] = round(row[f"t_{t}"] / max(
        row[f"t_{b}_cold" if spec.get("matched") else f"t_{b}"], 0.05), 1)
    if spec.get("matched"):
        row[f"ratio_vs_warm_{b}"] = round(row[f"t_{t}"] / max(row[f"t_{b}"], 0.05), 1)
    if _picks(spec)[name] and C.QUERIES[name].oracle is not None:
        t0 = time.time()
        try:
            res = check_query(spark, name, dirs[spec["oracle_at"]])
            row.update(ok=bool(res.ok), bit_equal=bool(res.values_bit_equal))
            if not res.ok:
                row["detail"] = res.detail[:300]
        except Exception as exc:  # noqa: BLE001
            # an oracle crash must not discard the timed legs; ok=False
            # keeps the pick re-runnable under --resume
            row.update(ok=False, detail=f"oracle crashed: {type(exc).__name__}: {exc}"[:300])
        row["oracle_s"] = round(time.time() - t0, 2)
    if sink:
        shutil.rmtree(sink, ignore_errors=True)
    print(json.dumps(row))
    return 0


def cmd_sweep(a) -> int:
    spec = SWEEPS[a.sweep]
    table = [os.path.join(REPO, s) if s else driver_sf01()
             for _, s in spec["scales"]]
    dirs = [os.path.abspath(d) if d else t for d, t in zip((a.base, a.target), table)]
    if a.single:
        return run_pick(spec, a.single, dirs)
    picks = _picks(spec)
    names = a.names.split(",") if a.names else list(picks)
    unknown = [n for n in names if n not in picks]
    if unknown:
        raise SystemExit(f"not in the {a.sweep} pick list: {unknown}")
    missing = [d for d in dirs if not os.path.isdir(d)]
    if missing:
        raise SystemExit(f"missing {missing}: build them with tools/make_sf1.py "
                         "or tools/make_organic_corpus.py")
    protocol = {k: v for k, v in spec.items() if k not in ("picks", "skip")}
    protocol["scales"] = [[lab, d] for (lab, _), d in zip(spec["scales"], dirs)]
    # the heap get_spark gives each pick (None: its default)
    protocol["driver_mem"] = os.environ.get("SPARK_GRAFT_DRIVER_MEM")

    def argv_of(name: str) -> list[str]:
        return [sys.executable, os.path.abspath(__file__), "sweep", a.sweep,
                "--single", name, "--base", dirs[0], "--target", dirs[1]]

    # a subset or rescaled run must not overwrite the committed record
    full = names == list(picks) and dirs == table
    out = os.path.join(ARTIFACTS, ("" if full else "_sweep_tmp_") + f"sweep_{a.sweep}.json")
    print(f"record: {os.path.relpath(out, REPO)}", flush=True)
    return drive_picks(names, argv_of, out, spec["flag"], spec["timeout_s"],
                       {"protocol": protocol}, a.resume, spec.get("require", ()))


def cmd_oracle(a) -> int:
    from real_big_data_project_spark.plans import catalog as C
    from real_big_data_project_spark.session import get_spark

    if (a.mode == "duckdb") == bool(a.names):
        raise SystemExit("oracle: duckdb takes no names; dump and check need them")
    spark = get_spark(f"rbds-measure-oracle-{a.mode}")
    # a query whose result depends on the session zone fails here, not at
    # a driver whose zone is not ours to choose
    spark.conf.set("spark.sql.session.timeZone", ORACLE_TIMEZONE)
    spark.sparkContext.setLogLevel("ERROR")
    C._load_all()
    if a.mode == "duckdb":
        return oracle_duckdb(spark, C.QUERIES, a.sf_dir or ORACLE_SF_DIR)
    return oracle_diff(spark, C.QUERIES, a.mode, a.names, a.sf_dir or driver_sf01())


def oracle_duckdb(spark, queries: dict, sf_dir: str) -> int:
    """Every registered query through the driver gate's comparator; the
    record goes to ``_artifacts/oracle_full.json``."""
    from real_big_data_project_spark.plans.oracle_check import check_query

    rows: dict[str, dict] = {}
    names = sorted(queries)
    t_start = time.time()
    for i, name in enumerate(names):
        t0 = time.time()
        try:
            res = check_query(spark, name, sf_dir)
            row = {"ok": bool(res.ok), "bit_equal": bool(res.values_bit_equal)}
            if not res.ok:
                row["detail"] = res.detail[:300]
        except Exception as exc:  # noqa: BLE001 — record and continue
            row = {"ok": False, "detail": f"{type(exc).__name__}: {exc}"[:300]}
        row["s"] = round(time.time() - t0, 2)
        rows[name] = row
        print(f"[{i + 1}/{len(names)}] {name}: "
              f"{'ok' if row['ok'] else 'FAIL'} ({row['s']}s)", flush=True)
    record = {
        "sf_dir": sf_dir,
        "session_timezone": ORACLE_TIMEZONE,
        "comparator": "plans/oracle_check.py::check_query (the driver "
                      "gate's comparator: rows + columns + "
                      "order-insensitive values; bit_equal flagged)",
        "n": len(names),
        "n_ok": sum(r["ok"] for r in rows.values()),
        "n_bit_equal": sum(r.get("bit_equal", False) for r in rows.values()),
        "n_rows_only": sum(queries[n].oracle is None for n in names),
        "failures": sorted(n for n, r in rows.items() if not r["ok"]),
        "wall_s": round(time.time() - t_start, 1),
        "queries": rows,
    }
    with open(os.path.join(ARTIFACTS, "oracle_full.json"), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps({k: v for k, v in record.items() if k != "queries"}))
    return 1 if record["failures"] else 0


def oracle_diff(spark, queries: dict, mode: str, names: list[str], sf_dir: str) -> int:
    """``dump``: pickle each query's result under
    ``_artifacts/diff_baseline/<sf>/``. ``check``: re-run each and compare
    it with its dump (order-insensitive); only bit-equal values pass."""
    from real_big_data_project_spark.plans.oracle_check import compare_frames

    sf_tag = os.path.basename(sf_dir.rstrip("/"))
    out_dir = os.path.join(ARTIFACTS, "diff_baseline", sf_tag)
    os.makedirs(out_dir, exist_ok=True)
    bad = []
    for name in names:
        got = queries[name].builder(spark, sf_dir).toPandas()
        path = os.path.join(out_dir, f"{name}.pkl")
        if mode == "dump":
            with open(path, "wb") as f:
                pickle.dump(got, f)
            print(json.dumps({"query": name, "rows": len(got), "dumped": path}),
                  flush=True)
            continue
        with open(path, "rb") as f:
            res = compare_frames(name, got, pickle.load(f))
        if not res.values_bit_equal:
            bad.append(name)
        print(json.dumps({"query": name, "rows": len(got),
                          "bit_equal": res.values_bit_equal,
                          "detail": res.detail[:300]}), flush=True)
    print(json.dumps({"mode": mode, "sf": sf_tag, "n": len(names),
                      "mismatches": bad}))
    return 1 if bad else 0


def probe_s() -> float:
    """Fixed-work host-speed probe: seconds for 40 512x512 matmuls."""
    import numpy as np

    rng = np.random.default_rng(0)
    x, y = rng.standard_normal((512, 512)), rng.standard_normal((512, 512))
    t0 = time.perf_counter()
    for _ in range(40):
        x @ y
    return round(time.perf_counter() - t0, 3)


def _dig(row: dict, key: str):
    for part in key.split("."):
        row = row[part]
    return row


def ab_summary(metric: str, base: str, name: str, xs_all: list, ys_all: list,
               n_pairs: int) -> dict:
    """One metric's verdict over the pairs where both legs ran."""
    pairs = [(x, y) for x, y in zip(xs_all, ys_all) if x is not None and y is not None]
    if not pairs:
        raise SystemExit(f"ab: no pair where both {base} and {name} ran")
    xs, ys = [x for x, _ in pairs], [y for _, y in pairs]
    q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (0, 0, 0)
    wins = sum(y < x for x, y in pairs)
    med_a, med_b = (round(statistics.median(v), 4) for v in (xs, ys))
    fail_a, fail_b = xs_all.count(None), ys_all.count(None)
    # the gain bar: B wins 9 in 10 of all pairs run, its median beats A's
    # by more than A's interquartile spread, and it fails no more than A
    return {
        "metric": metric, "A": base, "B": name, "pairs": n_pairs,
        f"failed_{base}": fail_a, f"failed_{name}": fail_b,
        f"wins_{name}": wins, f"median_{base}": med_a,
        f"median_{name}": med_b, f"iqr_{base}": round(q3 - q1, 4),
        "gain": (wins >= 0.9 * n_pairs and med_a - med_b > q3 - q1
                 and fail_b <= fail_a),
    }


def cmd_ab(a) -> int:
    cmd = a.cmd[1:] if a.cmd[:1] == ["--"] else a.cmd
    if not cmd:
        raise SystemExit("ab: give the command after --")
    legs = []
    for spec in a.leg:
        name, rest = spec.split("=", 1)
        tree, _, envs = rest.partition(":")
        env = dict(kv.split("=", 1) for kv in envs.split(",") if kv)
        legs.append((name, os.path.abspath(tree), env))
    values: dict[str, dict[str, list]] = {
        name: {m: [] for m in a.metric} for name, _, _ in legs}
    for pair in range(a.pairs):
        for name, tree, env in (legs if pair % 2 == 0 else legs[::-1]):
            row = {"pair": pair, "leg": name, "probe_s": probe_s()}
            try:
                result = run_child(cmd, LEG_TIMEOUT_S, tree, env)
                row.update({m: _dig(result, m) for m in a.metric})
            except Exception as exc:  # noqa: BLE001 — record and continue
                row["error"] = f"{type(exc).__name__}: {exc}"[:300]
            for m in a.metric:
                values[name][m].append(row.get(m))
            print(json.dumps(row), flush=True)
    base = legs[0][0]
    for metric in a.metric:
        for name, _, _ in legs[1:]:
            print(json.dumps(ab_summary(metric, base, name,
                                        values[base][metric], values[name][metric],
                                        a.pairs)))
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = p.add_subparsers(dest="cmd_name", required=True)
    pp = sub.add_parser("profile", help="builder/Catalyst/execution split per query")
    pp.add_argument("names", nargs="+")
    pp.add_argument("--sf-dir", help="default $SPARK_GRAFT_SF_DIR, else sf0.1")
    pp.add_argument("--reps", type=int, default=3)
    pp.add_argument("--conf", action="append", default=[], metavar="K=V")
    pa = sub.add_parser("ab", help="paired fresh-process A/B; the first leg is A")
    pa.add_argument("--leg", action="append", required=True, metavar="NAME=TREE[:ENV=V,...]")
    pa.add_argument("--pairs", type=int, default=10)
    pa.add_argument("--metric", action="append", required=True,
                    help="dotted key; lower is better. Repeat it to read more "
                         "metrics off the same runs: one summary line each, "
                         "in the order given")
    pa.add_argument("cmd", nargs=argparse.REMAINDER)
    ps = sub.add_parser("sweep", help="two-scale sweep, one fresh JVM per pick")
    ps.add_argument("sweep", choices=SWEEPS)
    ps.add_argument("--names", help="comma-separated subset of the pick list")
    ps.add_argument("--base")
    ps.add_argument("--target")
    ps.add_argument("--resume", action="store_true", help="re-run only unclean rows")
    ps.add_argument("--single", help=argparse.SUPPRESS)
    po = sub.add_parser("oracle", help="DuckDB oracle pass, or Spark-vs-Spark "
                                       "dump and bit-equal check")
    po.add_argument("mode", choices=("duckdb", "dump", "check"))
    po.add_argument("names", nargs="*", help="queries to dump or check")
    po.add_argument("--sf-dir", help=f"default {ORACLE_SF_DIR} for duckdb, "
                                     "the driver's sf0.1 for dump and check")
    a = p.parse_args(argv)
    sys.path.insert(0, REPO)
    return {"profile": cmd_profile, "ab": cmd_ab, "sweep": cmd_sweep,
            "oracle": cmd_oracle}[a.cmd_name](a)


if __name__ == "__main__":
    raise SystemExit(main())
