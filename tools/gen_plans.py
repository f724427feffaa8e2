#!/usr/bin/env python3
"""Regenerate PLANS.md: formatted physical plans of the headline queries,
the evidence behind PERF_NOTES.md's plan-shape invariants. Run from the
repo root: python tools/gen_plans.py"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.01"

# query -> what the plan proves
HEADLINERS = {
    "q_partition_prune": "date predicate reaches the scan (PushedFilters), "
                         "2-column ReadSchema — row-group min/max skipping",
    "q_dashboard_session": "the tab-1 composite fuses company pick, "
                           "1-row date-range scalar, bars-with-fallback "
                           "and Bollinger into one lazy plan: dims and "
                           "scalars broadcast, no CartesianProduct, the "
                           "tick scan filtered before any aggregate",
    "q_broadcast_lookup": "dimension lookup is a BroadcastHashJoin; the fact "
                          "side never shuffles",
    "q_ohlcv_daily": "single Exchange with map-side partial HashAggregate "
                     "pairs (the one-shuffle OHLCV contract)",
    "q_topk": "TakeOrderedAndProject — top-k without a global sort",
    "q_interval_join": "BETWEEN join restated as an equi BroadcastHashJoin "
                       "on the day bin, range predicate as join residual — "
                       "no cartesian",
    "q_fuzzy_match": "Levenshtein verify sits behind a block-key equi join, "
                     "never a nested loop over |probes|x|dim|",
    "q_dedup_minhash_lsh": "one shuffle on the band key for candidate "
                           "generation; signature build is explode + "
                           "codegen'd min aggregate",
    "q_customer_revenue": "multi-way star join: dims broadcast, fact joins "
                          "shuffle on keys, selective filter pushed to the "
                          "lineitem scan, TakeOrdered top-20",
    "q_pricing_summary": "TPC-H Q1 shape: one Exchange, WholeStageCodegen "
                         "spans the scan-filter-partial-agg pipeline",
    "q_kmeans": "centroids broadcast into the assignment pass — the corpus "
                "is never shuffled by the iteration",
    "q_decontaminate": "train/eval shingle containment: one shuffle on the "
                       "shingle key, eval side deduplicated before the join",
    "q_quantile_bucket": "equi-depth bucketing without a global sort: 1-row "
                         "cutpoint aggregate broadcast into a map-side "
                         "comparison",
    "q_ntile_deciles": "exact NTILE without a global-order window: range "
                       "repartition + map-side position stamp, pinned by "
                       "localCheckpoint (Scan ExistingRDD), broadcast "
                       "<=32-row prefix-sum offsets (operators/"
                       "windows.py::exact_ntile)",
    "q_corpus_shuffle": "deterministic md5-keyed permutation with exact "
                        "global position — pinned range rank, no "
                        "single-task window",
    "q_knn_graph": "all-pairs kNN graph stays an equi hash join on the "
                   "LSH cell key — never BroadcastNestedLoopJoin or a "
                   "cartesian product",
    "q_incremental_ohlcv": "continuous-aggregate refresh: static partition "
                           "pruning on the batch scan, dynamic partition "
                           "pruning (SubqueryAdaptiveBroadcast) on the "
                           "re-aggregation scan, broadcast LeftAnti merge "
                           "— cost scales with the increment",
    "q_merge_upsert": "CDC apply: one max_by hash-aggregate resolves the "
                      "change log, one full-outer join rewrites — no "
                      "window, nothing collects",
    "q_heavy_hitters": "two-pass local-threshold heavy hitters: candidates "
                       "from a shuffle-free Arrow pass, broadcast semi "
                       "join filters the stream map-side, final aggregate "
                       "sees candidates only",
    "q_zorder_layout": "Morton key is pure codegen bit arithmetic over a "
                       "broadcast 1-row bounds aggregate — no UDF, no "
                       "extra shuffle",
    "q_supplier_wait_fault": "the EXISTS/NOT-EXISTS pair collapses to ONE "
                             "per-order count-distinct aggregate — two "
                             "lineitem scans total, no correlated re-scans "
                             "(plans/queries_subquery.py)",
    "q_market_share": "nation joins in two roles; every dimension rides a "
                      "BroadcastHashJoin, only the lineitem⋈orders edge "
                      "sort-merges",
    "q_token_budget_select": "exact global cumsum without a single-task "
                             "window: range partitioning pinned by "
                             "localCheckpoint, per-range windows behind a "
                             "hash Exchange on the range id, broadcast "
                             "prefix bases",
    "q_simjoin_prefix": "exact similarity join: candidates from a prefix-"
                        "shingle equi join with length + positional pruning "
                        "in the join condition — no cartesian, no nested "
                        "loop",
    "q_recursive_ancestry": "Spark 4 native recursive CTE: the fixpoint "
                            "loop (UnionLoop) runs inside the engine, not "
                            "as a driver-side iteration",
}


def main() -> None:
    from real_big_data_project_spark.session import get_spark

    # the engine's own session, static confs included; 8 cores and so 8
    # shuffle partitions, whatever the box
    spark = get_spark("gen-plans", cpus=8)
    spark.sparkContext.setLogLevel("ERROR")
    from real_big_data_project_spark.plans import queries_map

    qmap = queries_map()
    out = [
        "# Physical plans — headline queries",
        "",
        f"Executed physical plans at {SF_DIR}, GENERATED by "
        "`python tools/gen_plans.py` — do not edit by hand. Each plan is "
        "the evidence for a PERF_NOTES.md invariant (also asserted in "
        "tests/test_plans.py).",
        "",
    ]
    for name, why in HEADLINERS.items():
        df = qmap[name](spark, SF_DIR)
        # executedPlan string keeps PushedFilters/ReadSchema/join build
        # sides inline on each node; trim very long lines for readability
        tree = "\n".join(
            (ln[:500] + " …" if len(ln) > 500 else ln)
            for ln in df._jdf.queryExecution().executedPlan()
            .toString().splitlines()
        )
        out += [f"## {name}", "", f"*{why}*", "", "```", tree, "```", ""]
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"PLANS.md: {len(HEADLINERS)} plans")


if __name__ == "__main__":
    main()
