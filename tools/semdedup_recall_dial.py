"""Measure the SemDeDup recall-vs-cost dial (VERDICT r10 item 5).

The production q_semantic_dedup_autok sizes k ≈ n / SEMDEDUP_TARGET_CLUSTER
(=64). The within-cluster scoring is O(n·target/2) pairs — linear in the
dial — while recall against planted ε-perturbed copies falls as clusters
shrink, because a copy and its original land in DIFFERENT fine clusters
more often when there are more, smaller clusters (the sf100 sweep measured
97.9% at target=64). This tool measures BOTH sides of that trade at
organic_sf10 (200k base vectors, 100k planted copies) for
target_cluster ∈ {64, 128, 256}, so a deployment chooses the dial on
data, not on the docstring.

Protocol (matches `measure.py sweep organic_sf100`'s single-pass picks):
one subprocess (fresh JVM) per leg — semantic_dedup localCheckpoints its
labeled-vector frame and those blocks accumulate across executions in
one session — fixture-touching warm scan, ONE timed pass writing real
parquet (result-sized), recall accounted from the written parquet.

    python tools/semdedup_recall_dial.py            # all three legs
    python tools/semdedup_recall_dial.py --single 128  # one leg (child)

Output: _artifacts/semdedup_dial.json + a PERF_NOTES-ready table on
stdout.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

CORPUS = os.path.join(REPO, "_artifacts", "organic_sf10")
OUT = os.path.join(REPO, "_artifacts", "semdedup_dial.json")
TARGETS = (64, 128, 256)
TIMEOUT_S = 3600


def run_single(target: int) -> int:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.master("local[32]")
        .appName(f"semdedup-dial-{target}")
        .config("spark.sql.shuffle.partitions", "512")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "64g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from real_big_data_project_spark.datapipe.similarity import (
        auto_semdedup_k, semantic_dedup)
    from real_big_data_project_spark.sources import registry as R

    emb = R.load_table(spark, CORPUS, "embeddings")
    # fixture-touching warm scan (read-path JIT, not the pick's plan)
    emb.select(F.sum(F.size("embedding"))).collect()
    n_base = emb.count()
    # with_perturbed_copies plants one ε-copy per even base id — every
    # copy SHOULD be dropped (keep=False); recall = dropped / planted.
    planted = emb.filter(F.col("vec_id") % 2 == 0).count()

    sink = os.path.join(REPO, "_artifacts", f"_dial_tmp_{target}")
    t0 = time.time()
    semantic_dedup(emb, k="auto", threshold=0.9, target_cluster=target
                   ).write.mode("overwrite").parquet(sink)
    t = round(time.time() - t0, 2)
    res = spark.read.parquet(sink)
    acc = res.agg(
        F.count("*").alias("n"),
        F.sum(F.when(~F.col("keep"), 1).otherwise(0)).alias("dropped"),
    ).collect()[0]
    row = {
        "target_cluster": target,
        "k": auto_semdedup_k(n_base + planted, target_cluster=target),
        "t_s": t,
        "rows": acc["n"],
        "planted": planted,
        "dropped": int(acc["dropped"]),
        "recall_pct": round(100.0 * acc["dropped"] / max(planted, 1), 2),
    }
    import shutil

    shutil.rmtree(sink, ignore_errors=True)
    print(json.dumps(row))
    return 0


def main() -> int:
    rows = []
    for t in TARGETS:
        p = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--single", str(t)],
            capture_output=True, text=True, timeout=TIMEOUT_S,
            env=os.environ.copy(), cwd=REPO,
        )
        if p.returncode != 0:
            exc = [ln.strip() for ln in p.stderr.splitlines()
                   if "Exception" in ln or "Error" in ln][:4]
            rows.append({"target_cluster": t,
                         "error": f"rc={p.returncode} {exc!r}"[:300]})
            continue
        for ln in reversed(p.stdout.strip().splitlines()):
            try:
                rows.append(json.loads(ln))
                break
            except ValueError:
                continue
        print(f"target={t}: {rows[-1]}", flush=True)
    record = {"corpus": CORPUS, "threshold": 0.9,
              "protocol": "fresh JVM per leg, fixture-warmed, single "
                          "plan-cold pass writing parquet", "legs": rows}
    with open(OUT, "w") as f:
        json.dump(record, f, indent=1)
    print("| target_cluster | k | t (s) | recall vs planted |")
    print("|---|---|---|---|")
    for r in rows:
        if "error" in r:
            print(f"| {r['target_cluster']} | — | — | ERROR {r['error']} |")
        else:
            print(f"| {r['target_cluster']} | {r['k']} | {r['t_s']} "
                  f"| {r['recall_pct']}% ({r['dropped']}/{r['planted']}) |")
    return 0


if __name__ == "__main__":
    if len(sys.argv) == 3 and sys.argv[1] == "--single":
        raise SystemExit(run_single(int(sys.argv[2])))
    raise SystemExit(main())
