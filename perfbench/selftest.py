"""Tiny-size self-test of the benchmark itself.

    python3 perfbench/selftest.py [workload ...]

1. `summarize` on synthetic rounds: failed ops count in failed_frac and
   never in the latency median.
2. Each workload (default: all four) on its tiny inputs: exit 0, outputs
   correct, every end-to-end metric printed with its unit.
3. One traced tiny ingest: every per-layer metric printed with its unit,
   the JSON line carries `layers.REPORTED`, and every op's layer self
   times reconcile with its wall.
4. A tiny dashboard with every second round failing on purpose:
   failed_frac rises, op_p50_s stays the median of the successful ops.

Takes a few minutes: every run starts its own engine.
"""

from __future__ import annotations

import json
import math
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import layers  # noqa: E402
import run  # noqa: E402
from workloads import Round, WORKLOADS  # noqa: E402


def bench(*args: str) -> tuple[dict, str]:
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--size", "tiny",
                        "--seconds", "3", *args], capture_output=True, text=True,
                       timeout=600)
    assert p.returncode == 0, f"{args}: exit {p.returncode}\n{p.stderr[-3000:]}"
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-1]), p.stdout


def printed(out: str) -> dict[str, tuple[float, str]]:
    """`name = value unit` lines of the human-readable report."""
    return {m[1]: (float(m[2]), m[3])
            for m in re.finditer(r"^(\S+) = (\S+) (\S+)$", out, re.M)}


def test_summarize() -> None:
    rounds = [Round([("pass", d)], 10, wall_s=d) for d in (1.0, 1.2, 1.4)]
    rounds += [Round([("error", 0.001)], 0, ok=False, wall_s=0.001) for _ in range(2)]
    m, attempted, failed = run.summarize(rounds, 1.0, 1.0)
    assert (attempted, failed) == (5, 2)
    assert m["failed_frac"] == 0.4
    assert m["op_p50_s"] == 1.2, m
    assert math.isclose(m["items_per_s"], 30 / 3.602)


def test_workload(name: str) -> None:
    res, out = bench("--workload", name, "--seed", "1", "--trace", "0")
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, res
    assert set(res["metrics"]) == set(run.END_TO_END), res["metrics"]
    shown = printed(out)
    for k in (*run.END_TO_END, "failed_frac", "peak_rss_mb"):
        assert shown[k][1] == run.UNITS[k], (k, shown.get(k))
        if k in run.END_TO_END:
            assert res["metrics"][k]["unit"] == run.UNITS[k]
            assert res["metrics"][k]["value"] > 0, (k, res["metrics"][k])
    if name == "dashboard":  # per-type medians of the request types drawn
        kinds = [k for k in ("bars_p50_s", "stats_p50_s", "sql_p50_s") if k in shown]
        assert kinds and all(shown[k][1] == "s" for k in kinds), shown


def test_traced() -> None:
    res, out = bench("--workload", "ingest", "--seed", "1", "--trace", "1")
    assert res["correct"], res
    got = res["metrics"]
    assert set(got) == set(layers.REPORTED), set(layers.REPORTED) ^ set(got)
    shown = printed(out)
    for k, unit in layers.SPEC.items():
        assert shown[k][1] == unit, (k, shown.get(k))
        if k in got:
            assert got[k]["unit"] == unit, k
    shares = sum(v["value"] for k, v in got.items() if k.endswith("_share"))
    assert math.isclose(shares, 1.0, abs_tol=0.05), shares
    got = {k: {"value": v[0]} for k, v in shown.items()}
    assert got["trace.ops"]["value"] >= 1
    assert got["trace.unreconciled_ops"]["value"] == 0, got
    assert got["pipeline.build_s"]["value"] > 0 and got["sinks.write_s"]["value"] > 0


def test_injected_failure() -> None:
    res, out = bench("--workload", "dashboard", "--seed", "1", "--trace", "0",
                     "--inject-failure", "2")
    assert not res["correct"] and 0 < res["failed"] < res["attempted"], res
    shown = printed(out)
    assert math.isclose(shown["failed_frac"][0], res["failed"] / res["attempted"],
                        rel_tol=1e-5)
    failed_walls = [float(w) for w in re.findall(r"^failed round: (\S+) s", out, re.M)]
    assert len(failed_walls) == res["failed"]
    # the instant failures would drag the median down if they counted
    assert res["metrics"]["op_p50_s"]["value"] > 10 * max(failed_walls), (res, failed_walls)


def main(argv: list[str]) -> int:
    test_summarize()
    print("ok summarize", flush=True)
    for name in argv or list(WORKLOADS):
        test_workload(name)
        print(f"ok {name}", flush=True)
    test_traced()
    print("ok traced ingest", flush=True)
    test_injected_failure()
    print("ok injected failure", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
