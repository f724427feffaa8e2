"""Spark-vs-Spark result equivalence for optimization work.

Dump mode writes each named query's sf-dir output as a canonicalized
pickle under ``_artifacts/diff_baseline/<sf>/<name>.pkl``; check mode
re-runs the query with the CURRENT code and compares against the stored
dump with the same canonical ordering the driver's oracle comparator
uses (plans/oracle_check.py::_canonicalize) — bit-exact by default,
because an optimization that preserves the computation must reproduce
the same doubles, not merely close ones.

    python tools/diff_results.py dump  q_a q_b ...     # before changing
    python tools/diff_results.py check q_a q_b ...     # after changing
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 python tools/diff_results.py ...
"""

from __future__ import annotations

import json
import os
import pickle
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    mode = sys.argv[1]
    names = sys.argv[2:]
    assert mode in ("dump", "check") and names
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf_tag = os.path.basename(sf_dir.rstrip("/"))
    out_dir = os.path.join(REPO, "_artifacts", "diff_baseline", sf_tag)
    os.makedirs(out_dir, exist_ok=True)

    from real_big_data_project_spark.plans import queries_map
    from real_big_data_project_spark.plans.oracle_check import _canonicalize
    from real_big_data_project_spark.session import get_spark

    spark = get_spark("rbds-diff")
    qmap = queries_map()
    bad = []
    for name in names:
        df = qmap[name](spark, sf_dir)
        got = _canonicalize(df.toPandas())
        path = os.path.join(out_dir, f"{name}.pkl")
        if mode == "dump":
            with open(path, "wb") as f:
                pickle.dump(got, f)
            print(json.dumps({"query": name, "rows": len(got),
                              "dumped": path}), flush=True)
            continue
        with open(path, "rb") as f:
            want = pickle.load(f)
        ok = got.shape == want.shape and list(got.columns) == list(want.columns)
        detail = ""
        if ok:
            for c in got.columns:
                a, b = got[c], want[c]
                eq = a.equals(b)
                if not eq:
                    ok = False
                    neq = (a != b) & ~(a.isna() & b.isna())
                    if neq.any():
                        i = int(neq.idxmax())
                        detail += (f" col {c} row {i}: "
                                   f"{a.iloc[i]!r} vs {b.iloc[i]!r};")
                    else:
                        detail += f" col {c}: dtype {a.dtype} vs {b.dtype};"
        else:
            detail = (f"shape {got.shape} vs {want.shape}; "
                      f"cols {list(got.columns)} vs {list(want.columns)}")
        if not ok:
            bad.append(name)
        print(json.dumps({"query": name, "rows": len(got), "bit_equal": ok,
                          "detail": detail[:300]}), flush=True)
    print(json.dumps({"mode": mode, "sf": sf_tag, "n": len(names),
                      "mismatches": bad}))
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
