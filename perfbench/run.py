"""Seeded, closed-loop, single-client benchmark of the engine.

    python3 perfbench/run.py --workload {ingest,dashboard,corpus,stream} \
        --seed N --seconds S --trace {0,1} [--size full|tiny] [--inject-failure K]

Generates the workload's inputs from the seed (cached, outside set-up),
starts the engine with `session.get_spark`, runs the workload's set-up
and warm-ups, then runs rounds back to back. The number of rounds is
fixed by S alone: S over the workload's nominal round wall on the
reference box (`Workload.ROUND_S`), so a slow host gets as many samples
as a fast one and S seconds are measured on the reference box.
Outputs are checked against DuckDB after the loop. Human-readable lines
first, then ONE JSON line:

    {"correct": bool, "attempted": ops, "failed": ops, "metrics": {...}}

`--trace 0` reports the end-to-end metrics. `--trace 1` alternates
untraced and traced rounds (at least one of each) and reports the
per-layer metrics, the tracing overhead (traced minus untraced median op
time) and the ops whose layer self times do not reconcile with their
wall; the spans go to `.bench_build/perfbench/trace-<workload>-s<seed>.json`.

`--inject-failure K` makes every K-th round raise before doing any work
(the self-test uses it: a fast failing op must raise failed_frac, never
lower the latency figures).
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
PACKAGE = "real_big_data_project_spark"

UNITS = {"setup_s": "s", "op_p50_s": "s", "op_p90_s": "s", "items_per_s": "1/s",
         "bars_p50_s": "s", "stats_p50_s": "s", "sql_p50_s": "s",
         "peak_rss_mb": "MB", "failed_frac": "ratio"}
# The end-to-end metrics of the JSON line, reported by every workload.
# peak_rss_mb is printed but not gated: G1's adaptive heap sizing makes
# the JVM's resident peak bimodal from run to run (1.1 vs 1.8 GB on the
# stream workload, same inputs). failed_frac is `failed / attempted`.
END_TO_END = ("setup_s", "op_p50_s", "items_per_s")


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _environment(cores: int) -> None:
    """Engine settings for the run, and every scratch path inside the
    checkout (Spark local dirs, JVM and Python temp dirs, warehouse)."""
    for d in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    tmp = os.path.join(WORK, "tmp")
    # -UsePerfData: no hsperfdata file under /tmp, for spark-submit's
    # launcher JVM and the driver JVM alike
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf 'spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
        f"--conf spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")


def _keep_drains_inside(work: str) -> None:
    """The streaming drains default to /dev/shm; point them at the
    checkout so the benchmark writes nowhere else. The engine has no
    public setting for these roots. Measured against the defaults on
    `stream` (README, "Deviations"), the move changes no figure beyond
    run-to-run noise."""
    from real_big_data_project_spark.streaming import drain

    drain.DRAIN_ROOT = os.path.join(work, "stream_drains")
    drain._checkpoint_root = lambda: os.path.join(work, "stream_ckpt")


def run_loop(wl, n: int, inject: int, tr=None):
    """Closed loop of `n` rounds: the next starts when the previous one
    ends. With a tracer, odd rounds are traced and even rounds are not,
    so host drift falls on both alike."""
    from workloads import Round

    rounds = []
    for i in range(n):
        if tr is not None:
            tr.enable() if i % 2 else tr.disable()
        t0 = time.perf_counter()
        try:
            if inject and i % inject == 0:
                raise RuntimeError("injected failure")
            r = wl.round(i)
        except Exception as e:  # a failed op is counted, never retried
            traceback.print_exc()
            r = Round([("error", time.perf_counter() - t0)], 0, ok=False,
                      wall_s=time.perf_counter() - t0, error=f"{type(e).__name__}: {e}")
        rounds.append(r)
    if tr is not None:
        tr.disable()
    return rounds


def check(name: str, wl, spark, inputs: str, rounds) -> None:
    """Mark rounds whose outputs disagree with DuckDB as failed."""
    import checks

    live = [r for r in rounds if r.ok]
    if name == "ingest":
        oks = checks.check_ingest(inputs, [r.payload for r in live])
    elif name == "dashboard":
        oks = checks.check_dashboard(wl.wh, [r.payload for r in live])
    elif name == "corpus":
        oks = [checks.check_corpus(spark, inputs)] * len(live)
    else:
        oks = checks.check_stream(inputs, [r.payload for r in live])
    for r, ok in zip(live, oks):
        if not ok:
            r.ok, r.error = False, "output check failed"


def summarize(rounds, setup_s: float, rss_mb: float) -> tuple[dict, int, int]:
    """End-to-end metrics. Failed ops count in failed_frac and are left
    out of every latency figure; their wall still counts against
    items_per_s."""
    attempted = sum(len(r.ops) for r in rounds)
    failed = sum(len(r.ops) for r in rounds if not r.ok)
    good = [(k, d) for r in rounds if r.ok for k, d in r.ops]
    durs = [d for _, d in good]
    wall = sum(r.wall_s for r in rounds)
    m = {"setup_s": setup_s,
         "op_p50_s": statistics.median(durs) if durs else 0.0,  # 0: none succeeded
         "items_per_s": sum(r.items for r in rounds if r.ok) / wall,
         "peak_rss_mb": rss_mb,
         "failed_frac": failed / attempted}
    if len(durs) >= 100:  # at least ten samples beyond the p90
        m["op_p90_s"] = statistics.quantiles(durs, n=10, method="inclusive")[8]
    for kind in ("bars", "stats", "sql"):
        ks = [d for k, d in good if k == kind]
        if ks:
            m[f"{kind}_p50_s"] = statistics.median(ks)
    return m, attempted, failed


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("ingest", "dashboard", "corpus", "stream"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    ap.add_argument("--inject-failure", type=int, default=0, dest="inject")
    a = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: engine package {PACKAGE!r} not found next to "
              f"{os.path.relpath(HERE, ROOT)}/", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    cores = len(os.sched_getaffinity(0))
    _environment(cores)

    t = time.perf_counter()
    import gen

    inputs = gen.input_dir(a.workload, a.seed, a.size)
    gen_s = time.perf_counter() - t
    work = os.path.join(WORK, f"run-{a.workload}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    from pyspark import SparkContext

    from real_big_data_project_spark.session import get_spark
    from tracing import Tracer
    from workloads import WORKLOADS

    _keep_drains_inside(work)
    spark = None
    try:
        t = time.perf_counter()
        spark = get_spark("perfbench")
        session_start_s = time.perf_counter() - t
        tr = Tracer(spark, cores)
        wl = WORKLOADS[a.workload](spark, tr, inputs, work, a.seed)
        wl.setup()
        setup_s = time.perf_counter() - T_START - gen_s

        n = max(1, round(a.seconds / wl.ROUND_S))
        if a.trace:
            rounds = run_loop(wl, max(2, n), a.inject, tr)
            untraced, traced = rounds[0::2], rounds[1::2]
        else:
            rounds = run_loop(wl, n, a.inject)
        # before the checks: DuckDB's memory is not the engine's
        rss_py, rss_jvm = _vm_hwm_mb("self"), _vm_hwm_mb(SparkContext._gateway.proc.pid)
        rss = rss_py + rss_jvm
        t = time.perf_counter()
        check(a.workload, wl, spark, inputs, rounds)
        check_s = time.perf_counter() - t
        m, attempted, failed = summarize(rounds, setup_s, rss)
        if a.trace:
            import layers

            report = layers.per_layer(tr, untraced, traced, session_start_s)
            metrics = {k: report[k] for k in layers.REPORTED}
            path = os.path.join(WORK, f"trace-{a.workload}-s{a.seed}.json")
            with open(path, "w") as f:
                json.dump({"ops": tr.ops, "spans": tr.spans_json()}, f, default=str)
            print(f"spans: {os.path.relpath(path, ROOT)}")
        else:
            metrics = {k: {"value": m[k], "unit": UNITS[k]} for k in END_TO_END}
    finally:
        if spark is not None:
            spark.stop()
            gw = SparkContext._gateway
            gw.shutdown()
            gw.proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                gw.proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                gw.proc.kill()
                gw.proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    print(f"workload={a.workload} seed={a.seed} size={a.size} cores={cores} "
          f"loop=closed clients=1 rounds={len(rounds)} ops={attempted} "
          f"input_generation_s={gen_s:.3f} check_s={check_s:.3f} peak_rss_python_mb={rss_py:.0f} "
          f"peak_rss_jvm_mb={rss_jvm:.0f}")
    print("round_wall_s = " + " ".join(f"{r.wall_s:.3f}" for r in rounds))
    print("op_wall_s: " + " ".join(f"{d:.3f}" for r in rounds for _, d in r.ops))
    for k, v in m.items():
        print(f"{k} = {v:.6g} {UNITS[k]}")
    if "op_p90_s" not in m:
        print(f"op_p90_s not reported: {attempted - failed} successful ops, needs 100")
    for r in rounds:
        if not r.ok:
            print(f"failed round: {r.wall_s:.6f} s {r.error}")
    if a.trace:
        for k, v in report.items():
            print(f"{k} = {v['value']:.6g} {v['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
