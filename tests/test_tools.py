"""tools/measure.py's fresh-process leg driver, run against fake child
commands that print JSON rows. No Spark session is started."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MEASURE = os.path.join(REPO, "tools", "measure.py")
sys.path.insert(0, os.path.dirname(MEASURE))

import measure  # noqa: E402


def _child(code: str) -> list[str]:
    return [sys.executable, "-c", "import json, sys\n" + code]


def test_record_written_mid_run_says_incomplete(tmp_path):
    out = str(tmp_path / "sweep.json")
    argv = {
        "first": _child('print(json.dumps({"t_a": 1.0, "ratio": 2.0}))'),
        # the second pick reads the record the driver wrote after the first
        "second": _child(f"r = json.load(open({out!r}))\n"
                         'print(json.dumps({"seen": r["summary"]["complete"], '
                         '"seen_n_run": r["summary"]["n_run"]}))'),
    }
    rc = measure.drive_picks(list(argv), argv.__getitem__, out, 10.0, 60)
    assert rc == 0
    rec = json.load(open(out))
    assert rec["queries"]["second"] == {"seen": False, "seen_n_run": 1}
    assert rec["summary"]["complete"] is True
    assert rec["summary"]["n_run"] == 2


def test_resume_reruns_only_missing_errored_or_mismatched_rows(tmp_path):
    out = str(tmp_path / "sweep.json")
    prior = {
        "clean": {"t_a": 1.0, "t_a_cold": 1.5, "ok": True},
        "errored": {"error": "RuntimeError: rc=1"},
        "mismatched": {"t_a": 1.0, "ok": False},
        "old_protocol": {"t_a": 1.0},  # lacks the required key
        "dropped": {"t_a": 1.0},  # no longer in the pick list
    }
    with open(out, "w") as f:
        json.dump({"summary": {"complete": False}, "queries": prior}, f)
    ran = []

    def argv_of(name):
        ran.append(name)
        return _child('print(json.dumps({"t_a": 2.0, "t_a_cold": 3.0, '
                      '"ok": True}))')

    names = ["clean", "errored", "mismatched", "old_protocol", "missing"]
    rc = measure.drive_picks(names, argv_of, out, 10.0, 60, resume=True,
                             carried_require=("t_a_cold",))
    assert rc == 0
    assert ran == ["errored", "mismatched", "old_protocol", "missing"]
    rec = json.load(open(out))
    assert rec["queries"]["clean"] == prior["clean"]
    assert set(rec["queries"]) == set(names)
    assert rec["summary"]["errors"] == rec["summary"]["mismatches"] == []


def test_failing_child_is_an_error_row_and_fails_the_sweep(tmp_path):
    out = str(tmp_path / "sweep.json")
    argv = {"boom": _child('sys.stderr.write("java.lang.OutOfMemoryError: x\\n")'
                           "\nsys.exit(3)"),
            "slow": _child('print(json.dumps({"ratio": 30.0, "ok": False}))')}
    rc = measure.drive_picks(list(argv), argv.__getitem__, out, 12.0, 60)
    assert rc == 1
    s = json.load(open(out))["summary"]
    assert s["errors"] == ["boom"] and s["mismatches"] == ["slow"]
    assert s["superlinear_gt12x"] == ["slow"]
    err = json.load(open(out))["queries"]["boom"]["error"]
    assert "rc=3" in err and "OutOfMemoryError" in err


def test_parse_row_skips_stray_stdout_after_the_row(tmp_path):
    assert measure.parse_row('noise\n{"a": 1}\natexit chatter\n[1, 2]\n\n') == {"a": 1}
    with pytest.raises(RuntimeError):
        measure.parse_row("no json here\n")
    out = str(tmp_path / "sweep.json")
    argv = _child('print(json.dumps({"t_a": 1.0}))\nprint("stray line")')
    assert measure.drive_picks(["p"], lambda _: argv, out, 10.0, 60) == 0
    assert json.load(open(out))["queries"]["p"] == {"t_a": 1.0}


def test_ab_reports_wins_medians_and_spread(tmp_path, capsys):
    # leg B is a constant 1.0 against A's 2.0: B wins every pair
    tree = str(tmp_path)
    code = ('import json, os; '
            'print(json.dumps({"r": {"sec": float(os.environ["SEC"])}}))')
    measure.main(["ab", "--leg", f"A={tree}:SEC=2.0", "--leg", f"B={tree}:SEC=1",
                  "--pairs", "3", "--metric", "r.sec", "--",
                  sys.executable, "-c", code])
    lines = [json.loads(ln) for ln in capsys.readouterr().out.splitlines()]
    legs = [ln["leg"] for ln in lines if "pair" in ln]
    assert legs == ["A", "B", "B", "A", "A", "B"]  # order alternates per pair
    assert all(ln["probe_s"] > 0 for ln in lines if "pair" in ln)
    summary = lines[-1]
    assert summary["wins_B"] == 3 and summary["pairs"] == 3
    assert summary["median_A"] == 2.0 and summary["median_B"] == 1.0
    assert summary["iqr_A"] == 0.0 and summary["gain"] is True
    assert summary["failed_A"] == summary["failed_B"] == 0


def test_ab_reads_every_metric_off_the_same_runs(tmp_path, capsys, monkeypatch):
    monkeypatch.setattr(measure, "probe_s", lambda: 0.001)
    code = ('import json, os; sec = float(os.environ["SEC"]); '
            'print(json.dumps({"sec": sec, "rate": 1 / sec}))')
    measure.main(["ab", "--leg", f"A={tmp_path}:SEC=2", "--leg", f"B={tmp_path}:SEC=1",
                  "--pairs", "2", "--metric", "sec", "--metric", "rate", "--",
                  sys.executable, "-c", code])
    lines = [json.loads(ln) for ln in capsys.readouterr().out.splitlines()]
    runs = [ln for ln in lines if "pair" in ln]
    assert len(runs) == 4 and all({"sec", "rate"} <= set(ln) for ln in runs)
    sec, rate = lines[-2:]
    assert (sec["metric"], sec["median_B"], sec["wins_B"]) == ("sec", 1.0, 2)
    assert (rate["metric"], rate["median_A"], rate["median_B"]) == ("rate", 0.5, 1.0)


@pytest.mark.parametrize("fails, wins", [(1, 9), (5, 5)])
def test_ab_failed_b_legs_count_against_the_gain(tmp_path, capsys, monkeypatch,
                                                 fails, wins):
    # B is faster whenever it runs, but its first `fails` runs exit
    # non-zero: 9 wins of 10 still is no gain when B fails more than A
    monkeypatch.setattr(measure, "probe_s", lambda: 0.001)
    count = tmp_path / "count"
    count.write_text("0")
    code = ("import json, os, sys\n"
            "sec = float(os.environ['SEC'])\n"
            "if sec < 2:\n"
            f"    n = int(open({str(count)!r}).read())\n"
            f"    open({str(count)!r}, 'w').write(str(n + 1))\n"
            f"    if n < {fails}: sys.exit(1)\n"
            "print(json.dumps({'sec': sec}))")
    measure.main(["ab", "--leg", f"A={tmp_path}:SEC=2", "--leg",
                  f"B={tmp_path}:SEC=1", "--pairs", "10", "--metric", "sec",
                  "--", sys.executable, "-c", code])
    summary = json.loads(capsys.readouterr().out.splitlines()[-1])
    assert summary["pairs"] == 10 and summary["wins_B"] == wins
    assert summary["failed_A"] == 0 and summary["failed_B"] == fails
    assert summary["median_B"] == 1.0 and summary["gain"] is False


def test_partial_or_rescaled_sweep_never_writes_the_committed_record(
        tmp_path, monkeypatch):
    seen = []
    monkeypatch.setattr(measure, "drive_picks",
                        lambda names, argv_of, out, *rest: seen.append(out) or 0)
    full = [os.path.join(measure.REPO, s) for _, s in measure.SWEEPS["sf10"]["scales"]]
    monkeypatch.setattr(os.path, "isdir", lambda _: True)  # no corpora needed
    measure.main(["sweep", "sf10"])
    measure.main(["sweep", "sf10", "--names", "q_topk,q_bm25"])
    measure.main(["sweep", "sf10", "--base", str(tmp_path)])
    measure.main(["sweep", "sf10", "--base", full[0], "--target", full[1]])
    committed = os.path.join(measure.ARTIFACTS, "sweep_sf10.json")
    scratch = os.path.join(measure.ARTIFACTS, "_sweep_tmp_sweep_sf10.json")
    assert seen == [committed, scratch, scratch, committed]


@pytest.mark.parametrize("sub", ["profile", "ab", "sweep", "oracle"])
def test_subcommand_help_exits_zero(sub):
    p = subprocess.run([sys.executable, MEASURE, sub, "--help"],
                       capture_output=True, text=True, timeout=60)
    assert p.returncode == 0, p.stderr
    assert "usage:" in p.stdout


def test_compare_frames_ignores_row_order_but_not_one_ulp_or_a_string():
    import numpy as np
    import pandas as pd

    from real_big_data_project_spark.plans.oracle_check import compare_frames

    want = pd.DataFrame({"k": [1, 2, 3], "s": ["a", "b", "c"],
                         "x": [0.1, 0.2, 0.3]})
    res = compare_frames("q", want.iloc[::-1].reset_index(drop=True), want)
    assert res.ok and res.values_bit_equal
    ulp = want.assign(x=[0.1, np.nextafter(0.2, 1.0), 0.3])
    res = compare_frames("q", ulp, want)
    assert res.ok and not res.values_bit_equal and "col x not bit-equal" in res.detail
    res = compare_frames("q", want.assign(s=["a", "B", "c"]), want)
    assert not res.ok and not res.values_bit_equal
