#!/usr/bin/env python3
"""Benchmark harness — times every registered catalog query end-to-end.

Runs at ``$SPARK_GRAFT_SF_DIR`` (default ``/root/testdata/sf0.1``) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line::

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced with the ``noop`` writer so the whole plan executes
JVM-side (no Python/Arrow transfer in the timed path, and — unlike
``count()`` — no column pruning of the projected output). A warmup query
runs first so JVM/codegen startup is not charged to the first query.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _sf_from_dir(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)/?$", sf_dir)
    return float(m.group(1)) if m else -1.0


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run_single(name: str) -> int:
    """Time ONE query in this (fresh) process — the `fresh_top5` probe.
    Warmups run first so the number isolates the query from JVM/codegen
    startup, exactly like the main loop does."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from real_big_data_project_spark.plans import queries_map
    from real_big_data_project_spark.session import get_spark

    spark = get_spark("rbds-bench-single")
    qmap = queries_map()
    force(qmap["q_scan_parquet"](spark, sf_dir))
    if "stream" in name:
        from real_big_data_project_spark.streaming.drain import warm_streaming

        warm_streaming(spark)
    t0 = time.perf_counter()
    force(qmap[name](spark, sf_dir))
    print(json.dumps({"query": name, "sec": round(time.perf_counter() - t0, 4)}))
    return 0


def _fresh_top5(
    timings: dict[str, float],
) -> tuple[dict[str, float | None], dict[str, str]]:
    """Re-time the 5 slowest in-bench queries, each in its OWN process
    (fresh JVM + session): in-bench times inflate 2-8x for some families
    from session GC/codegen debt (PERF_NOTES), so the in-bench ranking
    alone misleads. Returns (seconds, failures): a probe that timed out
    or printed no result reads None, and its reason lands in failures."""
    import subprocess

    top5 = sorted(
        (n for n, v in timings.items() if v >= 0),
        key=lambda n: -timings[n],
    )[:5]
    out: dict[str, float | None] = {}
    failures: dict[str, str] = {}
    for name in top5:
        out[name] = None
        try:
            p = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--single", name],
                capture_output=True, text=True, timeout=240,
                env=os.environ.copy(),
            )
        except subprocess.TimeoutExpired as exc:
            failures[name] = type(exc).__name__
        else:
            lines = p.stdout.strip().splitlines()
            try:
                out[name] = json.loads(lines[-1])["sec"]
            except (IndexError, ValueError, KeyError) as exc:
                failures[name] = f"{type(exc).__name__} (rc={p.returncode})"
        if name in failures:
            print(f"bench: fresh_top5 {name} FAILED: {failures[name]}",
                  file=sys.stderr)
    return out, failures


def _warm_fixtures(spark, qmap, sf_dir: str) -> dict[str, str]:
    """Untimed full-catalog pre-pass, run ONCE per testdata generation.

    When the driver regenerates the testdata (new fixture tag), every
    derived fixture (dedup truth, IVF lists, tick store, Derby, xlsx/tsv/
    jsonl scans, snapshot store, ...) rebuilds on first use — ~40 s of
    one-time construction that round 8 charged to rep 1 of whichever
    query triggered it, inflating the headline by +46.7 s of pure
    artifact (VERDICT r8 'What's wrong' 3). Running the catalog once off
    the clock warms every fixture BY CONSTRUCTION — no hand-maintained
    query→fixture mapping to rot — and a tag-keyed marker file makes the
    pass free on every later bench of the same generation. Disable with
    SPARK_GRAFT_BENCH_WARMUP=0 for quick iteration. Returns the queries
    that failed in the pass, with their exception type."""
    failures: dict[str, str] = {}
    if os.environ.get("SPARK_GRAFT_BENCH_WARMUP", "1") == "0":
        return failures
    from real_big_data_project_spark.sources.registry import fixture_tag

    art = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "_artifacts")
    os.makedirs(art, exist_ok=True)
    marker = os.path.join(art, f".bench_warmed_{fixture_tag(sf_dir)}")
    if os.path.exists(marker):
        return failures
    t0 = time.perf_counter()
    for name in sorted(qmap):
        try:
            force(qmap[name](spark, sf_dir))
        except Exception as exc:  # one broken query must not stop the pass
            failures[name] = type(exc).__name__
            print(f"bench: warmup {name} FAILED: {failures[name]}",
                  file=sys.stderr)
    with open(marker, "w") as f:
        f.write(f"{time.perf_counter() - t0:.1f}\n")
    print(f"bench: fixture warmup pass took "
          f"{time.perf_counter() - t0:.1f}s (untimed)", file=sys.stderr)
    return failures


# The pair-bound dedup/ANN family, priced on the ORGANIC corpus
# (VERDICT r8 item 7): the sf0.1 bench prices these on the replicated-
# fixture corpus whose planted pair density the scale sweeps showed is
# unrepresentative; the organic_sf1 leg (50k fresh-entropy docs / 20k
# embeddings, true pairs linear) is the number that tracks what matters
# at scale. Kept OUT of the headline total for cross-round comparability.
ORGANIC_PICKS = (
    "q_dedup_exact", "q_doc_fingerprint", "q_dedup_minhash_lsh",
    "q_dedup_ngram_jaccard", "q_dedup_simhash", "q_dedup_embedding",
    "q_dedup_components", "q_dedup_canonical", "q_semantic_dedup",
    "q_knn_graph",
)

# Per-pick overrides for the organic leg. q_semantic_dedup's catalog
# registration pins k=SEMDEDUP_K (=16) so its DuckDB oracle can unroll
# the clustering at driver scale — but a FIXED k is quadratic in cluster
# size, and at organic_sf1 (30k vectors → ~1.9k-vector clusters) the
# within-cluster scoring costs ~270 s vs ~7 s for the production
# k='auto' path (round-9 measurement). The leg prices the PRODUCTION
# configuration, same as `tools/measure.py sweep organic_sf100`.
# The pick also runs SINGLE-PASS: semantic_dedup localCheckpoints its
# labeled-vector frame, and those blocks accumulate across repeated
# executions in one session (measured 7 s first pass → 20 s second at
# organic_sf1) — a warm-then-time protocol would price block-manager
# residency, not the plan.
def _organic_semantic_auto(spark, sf_dir):
    from real_big_data_project_spark.datapipe import similarity as SIM
    from real_big_data_project_spark.sources.registry import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    return SIM.semantic_dedup(emb, k="auto", threshold=0.9)


ORGANIC_OVERRIDES = {"q_semantic_dedup": _organic_semantic_auto}
ORGANIC_SINGLE_PASS = {"q_semantic_dedup"}

def pinned_report() -> tuple[str, ...]:
    """The compact line's report set never shrinks round-over-round: every
    query the newest committed BENCH_r<N>.json reported stays pinned
    alongside the current top 10 (the _c<cores> variants are core-count
    probes, not the round's record)."""
    here = os.path.dirname(os.path.abspath(__file__))
    records = [(int(m.group(1)), f) for f in os.listdir(here)
               if (m := re.fullmatch(r"BENCH_r(\d+)\.json", f))]
    if not records:
        return ()
    with open(os.path.join(here, max(records)[1])) as f:
        parsed = json.load(f).get("parsed") or {}
    return tuple(parsed.get("queries") or ())


def run_organic_leg() -> int:
    """Child-process body of the organic leg: own (fresh) session, an
    untimed warm pass then one timed pass per pick (multi-second picks —
    a single post-warm rep is stable), one JSON line on stdout."""
    from real_big_data_project_spark.plans import queries_map
    from real_big_data_project_spark.session import get_spark

    repo = os.path.dirname(os.path.abspath(__file__))
    sf_dir = os.path.join(repo, "_artifacts", "organic_sf1")
    if not all(os.path.exists(os.path.join(sf_dir, t))
               for t in ("documents.parquet", "embeddings.parquet")):
        sys.path.insert(0, os.path.join(repo, "tools"))
        from make_organic_corpus import SCALES, build_scale

        build_scale(*SCALES[0])
    spark = get_spark("rbds-bench-organic")
    qmap = queries_map()
    leg: dict = {"sf_dir": "_artifacts/organic_sf1", "queries": {}}
    total = 0.0
    for name in ORGANIC_PICKS:
        builder = ORGANIC_OVERRIDES.get(name, qmap[name])
        try:
            if name not in ORGANIC_SINGLE_PASS:
                force(builder(spark, sf_dir))  # warm (fixtures, JIT)
                spark._jvm.System.gc()
            t0 = time.perf_counter()
            force(builder(spark, sf_dir))
            dt = time.perf_counter() - t0
        except Exception as exc:
            print(f"bench: organic {name} FAILED: {exc}", file=sys.stderr)
            leg["queries"][name] = -1.0
            continue
        leg["queries"][name] = round(dt, 4)
        total += dt
        spark._jvm.System.gc()
    leg["total"] = round(total, 4)
    print(json.dumps(leg))
    return 0


def _organic_leg() -> dict:
    """Time ORGANIC_PICKS at _artifacts/organic_sf1 in a FRESH
    subprocess. The leg used to share the main bench session and ran
    LAST, after ~170 queries × 3 reps — the accumulated session debt
    inflated q_semantic_dedup from its ~6 s standalone cost to 252 s in
    the round-9 record (3-rep standalone probe: 14.6/6.9/5.8 s), which
    would misread as a 40× scale regression. A fresh JVM prices the
    plan, not the session's history (the fresh_top5 rationale).
    Regenerates the sf1 corpus if missing (deterministic, seed 777,
    ~5 s). SPARK_GRAFT_BENCH_ORGANIC=0 skips the leg."""
    if os.environ.get("SPARK_GRAFT_BENCH_ORGANIC", "1") == "0":
        return {}
    import subprocess

    try:
        p = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--organic-leg"],
            capture_output=True, text=True, timeout=900,
            env=os.environ.copy(),
        )
        # Forward the child's failure diagnostics (ADVICE r9: a failed
        # pick's 'organic <name> FAILED: <exc>' line was silently
        # discarded and the record showed only -1.0).
        child_fails = [ln for ln in p.stderr.splitlines() if "FAILED" in ln]
        for ln in child_fails:
            print(f"bench: organic leg child: {ln}", file=sys.stderr)
        if p.returncode != 0 or not p.stdout.strip():
            print(f"bench: organic leg child rc={p.returncode}; stderr "
                  f"tail:\n{p.stderr.strip()[-2000:]}", file=sys.stderr)
        line = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
        try:
            return json.loads(line)
        except ValueError:
            print(f"bench: organic leg stdout not JSON "
                  f"(last line {line[:200]!r}); stderr tail:\n"
                  f"{p.stderr.strip()[-2000:]}", file=sys.stderr)
            return {}
    except Exception as exc:
        print(f"bench: organic leg skipped ({exc})", file=sys.stderr)
        return {}


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from real_big_data_project_spark.plans import queries_map
    from real_big_data_project_spark.session import get_spark

    spark = get_spark("rbds-bench")
    qmap = queries_map()

    # Warmup: JVM + parquet footer reads off the clock.
    force(qmap["q_scan_parquet"](spark, sf_dir))
    # Streaming-engine warmup: the first started stream pays ~2 s of
    # one-time machinery setup — pay it here, not inside a timed query.
    from real_big_data_project_spark.streaming.drain import warm_streaming

    warm_streaming(spark)
    # Fixture warmup: one-time fixture builds off the clock (once per
    # testdata generation, marker-keyed).
    warmup_failed = _warm_fixtures(spark, qmap, sf_dir)

    # Rep-spread protocol (VERDICT r7 item 8): BENCH totals drift ±8-15%
    # with machine state for identical code, so a future reader needs the
    # per-query noise band IN the committed record to separate plan
    # regressions from environment noise. Queries whose first rep costs
    # >= 1 s (they carry ~70% of the total) get REPS timed passes; the
    # HEADLINE value stays rep 1 — unchanged protocol, comparable across
    # rounds — and min/max land in `rep_spread`. Sub-second queries'
    # noise can't move the total and stay single-rep.
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    rep_floor_s = 1.0
    timings: dict[str, float] = {}
    rep_spread: dict[str, dict[str, float]] = {}
    failed: list[str] = []
    total = 0.0
    for name in sorted(qmap):
        t0 = time.perf_counter()
        try:
            force(qmap[name](spark, sf_dir))
            dt = time.perf_counter() - t0
        except Exception as exc:  # a broken query must not sink the bench...
            dt = time.perf_counter() - t0
            print(f"bench: {name} FAILED after {dt:.2f}s: {exc}", file=sys.stderr)
            timings[name] = -1.0
            failed.append(name)
            continue
        timings[name] = round(dt, 4)
        total += dt
        # Untimed GC barrier: without it, heap debt from allocation-heavy
        # queries (shingle sets, collect_list) lands as GC pauses inside
        # whichever query runs NEXT — per-query isolation, not a speedup.
        spark._jvm.System.gc()
        if dt >= rep_floor_s and reps > 1:
            samples = [dt]
            rep_failed = False
            for _ in range(reps - 1):
                r0 = time.perf_counter()
                try:
                    force(qmap[name](spark, sf_dir))
                    samples.append(time.perf_counter() - r0)
                except Exception as exc:  # spread is best-effort diagnostics
                    # ...but a query that passes rep 1 and CRASHES on
                    # re-execution (state leakage, non-idempotent fixture)
                    # is exactly the case worth surfacing — mark it so a
                    # reader can tell it from a healthy single-sample
                    # entry (ADVICE r8).
                    rep_failed = True
                    print(f"bench: {name} rep {len(samples) + 1} FAILED: "
                          f"{exc}", file=sys.stderr)
                    break
                spark._jvm.System.gc()
            rep_spread[name] = {
                "n": len(samples),
                "min": round(min(samples), 4),
                "max": round(max(samples), 4),
            }
            if rep_failed:
                rep_spread[name]["rep_failed"] = True

    # ...but it must not make the headline metric look FASTER either:
    # a failure reads as the full bench timeout, never as saved time.
    if failed:
        total += 600.0 * len(failed)
    fresh, fresh_failed = (
        _fresh_top5(timings)
        if os.environ.get("SPARK_GRAFT_FRESH_TOP5", "1") != "0"
        else ({}, {})
    )
    # Warm-plan total: rep-spread min where multi-rep samples exist, rep 1
    # otherwise — the number that tracks PLAN cost across rounds even when
    # rep 1 absorbed residual first-use costs (VERDICT r8 item 4).
    warm_total = sum(
        rep_spread[n]["min"] if n in rep_spread else v
        for n, v in timings.items() if v >= 0
    ) + (600.0 * len(failed))
    organic = _organic_leg()
    payload = {
        "metric": "catalog_total_wall",
        "value": round(total, 4),
        "value_warm": round(warm_total, 4),
        "unit": "sec",
        "queries": timings,
        "failed": failed,
        "warmup_failed": warmup_failed,
        "fresh_top5": fresh,
        "fresh_top5_failed": fresh_failed,
        "rep_spread": rep_spread,
        "organic": organic,
        "sf": _sf_from_dir(sf_dir),
    }
    # The driver truncates the stdout line to a 2000-char tail, losing the
    # first half of the per-query alphabet; persist the FULL result so
    # cross-round per-query comparison reads a committed file instead
    # (VERDICT r5 item 3).
    try:
        art = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "_artifacts")
        os.makedirs(art, exist_ok=True)
        with open(os.path.join(art, "bench_full.json"), "w") as f:
            json.dump(payload, f, indent=1, sort_keys=True)
    except OSError as exc:
        print(f"bench: could not write bench_full.json: {exc}", file=sys.stderr)
    print(json.dumps(payload))
    # Every recorded BENCH_r{N}.json so far has "parsed": null — the full
    # line above is ~4-6 KB, so the driver's 2000-char tail cuts it mid-dict
    # and no line in the tail parses. Emit a LAST line guaranteed under the
    # tail budget (headline metric + slowest rows + artifact pointer) so a
    # last-line/any-line JSON scan in the tail succeeds; the full per-query
    # dict stays in the committed artifact.
    slowest = dict(sorted(
        ((n, v) for n, v in timings.items() if v >= 0),
        key=lambda kv: -kv[1],
    )[:10])
    # Pinned report rows (round 12, VERDICT r11 item 8): the driver's PERF
    # comparator reads THIS map, so a query that rotates out of the top 10
    # — often because it got FASTER — reads as "dropped_from_bench"
    # (PERF_r11 flagged three improved queries that way). Keep every
    # query the previous round's compact line reported; entries are only
    # ever ADDED to `queries`, never removed or renamed.
    for n in pinned_report():
        if n in timings and timings[n] >= 0:
            slowest.setdefault(n, timings[n])
    compact = {
        "metric": "catalog_total_wall",
        "value": round(total, 4),
        "value_warm": round(warm_total, 4),
        "organic_total": organic.get("total"),
        "unit": "sec",
        "sf": _sf_from_dir(sf_dir),
        "n_queries": len(timings),
        "failed": failed,
        "queries": slowest,
        "queries_full": "_artifacts/bench_full.json",
    }
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) > 1900:  # never emit a truncated (unparseable) line
        compact.pop("queries", None)
        compact["failed"] = compact["failed"][:20]
        compact["n_failed"] = len(failed)
        line = json.dumps(compact, separators=(",", ":"))
    print(line)
    return 0


if __name__ == "__main__":
    if len(sys.argv) == 3 and sys.argv[1] == "--single":
        raise SystemExit(run_single(sys.argv[2]))
    if len(sys.argv) == 2 and sys.argv[1] == "--organic-leg":
        raise SystemExit(run_organic_leg())
    raise SystemExit(main())
