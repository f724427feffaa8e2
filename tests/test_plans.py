"""Plan-shape regression tests: the physical plans the 100 TB design
depends on must not silently degrade (PERF_NOTES.md invariants). These
assert on `executedPlan` strings — cheap, no data execution."""

from __future__ import annotations

import json
import re

import pytest
from pyspark.sql import functions as F

from real_big_data_project_spark.plans import queries_map
from real_big_data_project_spark.sources.registry import load_table


@pytest.fixture(scope="module")
def qmap():
    return queries_map()


def plan_of(qmap, spark, sf_dir, name: str) -> str:
    return qmap[name](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(qmap, spark, sf_dir):
    plan = plan_of(qmap, spark, sf_dir, "q_partition_prune")
    assert "PushedFilters: [IsNotNull(o_orderdate)" in plan
    # column pruning: only the 3 projected columns are read
    assert "ReadSchema: struct<o_orderkey:bigint,o_totalprice:double,o_orderdate" in plan


def test_dim_lookup_broadcasts(qmap, spark, sf_dir):
    assert "BroadcastHashJoin" in plan_of(qmap, spark, sf_dir, "q_broadcast_lookup")


def test_topk_avoids_global_sort(qmap, spark, sf_dir):
    assert "TakeOrderedAndProject" in plan_of(qmap, spark, sf_dir, "q_topk")


def test_ann_brute_force_has_no_corpus_shuffle(qmap, spark, sf_dir):
    plan = plan_of(qmap, spark, sf_dir, "q_ann_topk")
    assert "BroadcastNestedLoopJoin" in plan


def test_ohlcv_single_shuffle(qmap, spark, sf_dir):
    plan = plan_of(qmap, spark, sf_dir, "q_ohlcv_daily")
    assert plan.count("Exchange") == 1


def test_ohlcv_hash_aggregates_without_tiebreak(spark, sf_dir):
    """Bare-ts ordering key must keep the cheap HashAggregate path
    (operators/aggregates.py docstring contract)."""
    from real_big_data_project_spark.operators.aggregates import ohlcv_daily
    from real_big_data_project_spark.sources.registry import events_with_volume

    df = ohlcv_daily(events_with_volume(spark, sf_dir), key="user_id",
                     ts="ts", price="value", volume="volume")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" in plan and "SortAggregate" not in plan


def test_simhash_join_is_codegen_bit_ops(qmap, spark, sf_dir):
    plan = plan_of(qmap, spark, sf_dir, "q_dedup_simhash")
    assert "bit_count" in plan
    assert "ArrayAggregate" not in plan  # no interpreted fold anywhere


def test_salted_agg_equals_direct(spark, sf_dir):
    from real_big_data_project_spark.operators.skew import salted_sum_count

    ev = load_table(spark, sf_dir, "events")
    salted = {r.user_id: r for r in salted_sum_count(
        ev, keys=["user_id"], value="value").collect()}
    direct = {r.user_id: r for r in ev.groupBy("user_id").agg(
        F.sum("value").alias("s"), F.count("value").alias("c"),
        F.min("value").alias("mn"), F.max("value").alias("mx")).collect()}
    assert set(salted) == set(direct)
    for k, d in direct.items():
        s = salted[k]
        assert s.count_value == d.c and s.min_value == d.mn and s.max_value == d.mx
        assert s.sum_value == pytest.approx(d.s, rel=1e-12)


def test_salted_join_equals_plain_join(spark, sf_dir):
    from real_big_data_project_spark.operators.skew import salted_equi_join

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    dim = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id").agg(F.count("*").alias("n_ev"))
    )
    salted = salted_equi_join(ev, dim, on="user_id",
                              big_row_unique="event_id", n_salts=8)
    plain = ev.join(dim, on="user_id")
    s = sorted(salted.select("event_id", "n_ev").collect())
    p = sorted(plain.select("event_id", "n_ev").collect())
    assert s == p and len(s) > 0


def test_approx_distinct_within_tolerance(qmap, spark, sf_dir):
    # The query now EMITS the tolerance verdict (oracle-checkable,
    # VERDICT r6 item 6); this test pins that both flags actually hold.
    row = qmap["q_approx_distinct"](spark, sf_dir).collect()[0]
    assert row.approx_users_ok and row.approx_types_ok
    # and the raw sketch (pre-flag) stays inside the budget too
    from pyspark.sql import functions as F

    from real_big_data_project_spark.plans.queries_core import (
        APPROX_DISTINCT_RSD,
        APPROX_DISTINCT_TOL,
    )
    from real_big_data_project_spark.sources import registry as R

    raw = R.load_table(spark, sf_dir, "events").agg(
        F.countDistinct("user_id").alias("e"),
        F.approx_count_distinct("user_id", APPROX_DISTINCT_RSD).alias("a"),
    ).first()
    assert abs(raw.a - raw.e) <= max(1, APPROX_DISTINCT_TOL * raw.e)


def test_excel_source_contract(spark):
    """S3: the stdlib zip+XML codec is always available (no openpyxl
    gate); full behavior is covered in tests/test_excel.py."""
    from real_big_data_project_spark.sources import excel_source as X

    assert X.HAS_EXCEL


def test_file_ledger_incremental_gate(spark):
    from real_big_data_project_spark.pipeline import files_to_process, mark_files_done

    disc = spark.createDataFrame([("a",), ("b",), ("c",)], "name string")
    ledger = None
    first = files_to_process(disc, ledger)
    assert first.count() == 3
    ledger = mark_files_done(ledger, first)
    again = files_to_process(disc, ledger)
    assert again.count() == 0  # nothing re-ingested
    more = spark.createDataFrame([("c",), ("d",)], "name string")
    assert files_to_process(more, ledger).count() == 1


def test_interval_join_is_equi_not_cartesian(qmap, spark, sf_dir):
    """The binned interval join must plan as an EQUI join on the day bin
    (broadcast here), never the BroadcastNestedLoopJoin cartesian Spark
    gives a raw BETWEEN join."""
    plan = plan_of(qmap, spark, sf_dir, "q_interval_join")
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_sampling_is_map_only(qmap, spark, sf_dir):
    """Stratified sampling and PII scrubbing are full-corpus passes: the
    plan must contain no Exchange at all."""
    for q in ("q_stratified_sample", "q_pii_scrub"):
        assert "Exchange" not in plan_of(qmap, spark, sf_dir, q), q


def test_pricing_summary_single_shuffle_with_pushdown(qmap, spark, sf_dir):
    plan = plan_of(qmap, spark, sf_dir, "q_pricing_summary")
    assert plan.count("Exchange") == 1          # map-side partials, one shuffle
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan


def test_customer_revenue_broadcasts_the_dim(qmap, spark, sf_dir):
    plan = plan_of(qmap, spark, sf_dir, "q_customer_revenue")
    assert "BroadcastHashJoin" in plan           # nation never shuffles
    assert "TakeOrderedAndProject" in plan       # top-20 without global sort


def test_exists_plans_as_semi_join(qmap, spark, sf_dir):
    plan = plan_of(qmap, spark, sf_dir, "q_exists_late_orders")
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_fuzzy_match_blocks_before_levenshtein(qmap, spark, sf_dir):
    """The levenshtein verify must sit on a block-key EQUI join, never a
    nested-loop over |probes|×|dim| (the 20× regression guard)."""
    plan = plan_of(qmap, spark, sf_dir, "q_fuzzy_match")
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_operators_tolerate_degenerate_inputs(spark):
    """Empty and single-row inputs must flow through the semantic
    operators without errors or phantom rows."""
    from pyspark.sql import functions as F

    from real_big_data_project_spark.datapipe.components import dedup_components
    from real_big_data_project_spark.operators.aggregates import ohlcv_daily
    from real_big_data_project_spark.operators.dedup import (
        dedup_by_keys, tick_compression,
    )

    empty = spark.createDataFrame(
        [], "cid int, date timestamp_ntz, value double, volume double")
    one = spark.createDataFrame(
        [(1, __import__("datetime").datetime(2024, 1, 2, 9, 30), 10.0, 5.0)],
        "cid int, date timestamp_ntz, value double, volume double")

    assert tick_compression(empty, key="cid", ts="date", price="value").count() == 0
    assert ohlcv_daily(empty, key="cid", ts="date", price="value",
                       volume="volume").count() == 0
    assert dedup_by_keys(empty, ["cid"], order=["date"]).count() == 0

    kept = tick_compression(one, key="cid", ts="date", price="value").collect()
    assert len(kept) == 1  # a lone tick is its own day endpoint
    bars = ohlcv_daily(one, key="cid", ts="date", price="value",
                       volume="volume").collect()
    assert len(bars) == 1 and bars[0].open == bars[0].close == 10.0

    no_pairs = spark.createDataFrame([], "doc_a long, doc_b long")
    assert dedup_components(no_pairs).count() == 0


def test_tick_compression_plans_one_sort(qmap, spark, sf_dir):
    """Every mask term of the compression is a lag/lead over one
    (key ORDER BY ts, tiebreak) window: one Window over one Sort."""
    plan = plan_of(qmap, spark, sf_dir, "q_tick_compression")
    assert len(re.findall(r"(?m)^\W*Window \[", plan)) == 1, plan
    assert len(re.findall(r"(?m)^\W*Sort \[", plan)) == 1, plan


def test_price_scrub_replaces_without_translate(spark):
    """The clean stage's ',' -> '.' is a byte search (`replace`), not
    `translate`, which decodes every tick's string and looks each of its
    characters up in a HashMap."""
    from real_big_data_project_spark.pipeline import clean_snapshots

    raw = spark.range(3).selectExpr(
        "'SRD ACME' AS name", "concat(CAST(id AS STRING), ',5') AS last",
        "'1rPACME' AS symbol", "id + 1 AS volume")
    plan = clean_snapshots(raw)._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"(?<!regexp_)replace\(", plan) and "translate(" not in plan, plan


def test_markets_dim_is_a_local_table_scan(spark):
    """The seed rows plan as a LocalTableScan (no Python worker) with the
    declared schema."""
    from real_big_data_project_spark.pipeline import markets_dim
    from real_big_data_project_spark.schemas import MARKETS_SCHEMA

    df = markets_dim(spark)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.lstrip().startswith("LocalTableScan"), plan
    assert df.schema == MARKETS_SCHEMA


def test_sequence_packing_has_no_global_corpus_window(qmap, spark, sf_dir):
    """The packing prefix sum must shard: the corpus-sized Window is
    partitioned by the shard key (hash Exchange), never a SinglePartition
    global sort. The only un-partitioned windowspec allowed is the
    exclusive base-offset sum over the <= n_shards aggregate rows."""
    plan = plan_of(qmap, spark, sf_dir, "q_sequence_packing")
    # the big prefix sum: windowspecdefinition(_shard, doc_id ASC ...)
    assert "windowspecdefinition(_shard" in plan
    # no window ordered by doc_id WITHOUT the shard partition key
    assert "windowspecdefinition(doc_id" not in plan
    # the per-shard prefix sum runs behind a hash Exchange
    assert "hashpartitioning(_shard" in plan


def test_trend_slope_sql_single_aggregate_exchange(qmap, spark, sf_dir):
    """The production OLS slope is ONE hash aggregate with map-side
    partials: exactly one Exchange, no Arrow/Python evaluation."""
    plan = plan_of(qmap, spark, sf_dir, "q_trend_slope_sql")
    assert plan.count("Exchange") == 1
    assert plan.count("HashAggregate") == 2     # partial + final
    assert "ArrowEvalPython" not in plan and "FlatMapGroupsInPandas" not in plan


def test_multimodal_decode_is_shuffle_free(qmap, spark, sf_dir):
    """BMP encode and decode are two chained mapInPandas stages over the
    same partitioning — a pure map pipeline, no Exchange anywhere."""
    plan = plan_of(qmap, spark, sf_dir, "q_multimodal_decode")
    assert "Exchange" not in plan
    assert plan.count("MapInPandas") == 2


def test_ntile_never_single_partitions_the_fact(qmap, spark, sf_dir):
    """q_ntile_deciles must rank via exact_ntile (range repartition pinned
    by localCheckpoint, ranks joined back map-side), not a global-order
    window that funnels orders through one task. The checkpoint shows as
    a Scan ExistingRDD; the fact side re-enters the plan through a
    BroadcastHashJoin on the partition id; the only SinglePartition
    structures allowed are aggregate-sized (the <=32-row offsets frame
    and the scalar total)."""
    plan = plan_of(qmap, spark, sf_dir, "q_ntile_deciles")
    assert "ExistingRDD" in plan          # pinned range partitioning
    assert "ntile(" not in plan.lower()   # window-function ntile never appears
    assert "BroadcastHashJoin" in plan    # offsets join is broadcast


def test_corpus_shuffle_uses_pinned_range_rank(qmap, spark, sf_dir):
    plan = plan_of(qmap, spark, sf_dir, "q_corpus_shuffle")
    assert "ExistingRDD" in plan
    assert "BroadcastHashJoin" in plan


def test_jdbc_scan_is_ranged_parallel(qmap, spark, sf_dir):
    """The JDBC read must split into multiple range-predicate partitions
    (VERDICT r3 item 9) — a single-connection scan is the classic
    one-task bottleneck the ranged read exists to avoid. Asserted on the
    scan relation itself: numPartitions from the JDBCRelation and the
    actual RDD partition count."""
    df = qmap["q_scan_jdbc"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "JDBCRelation" in plan and "numPartitions=4" in plan
    assert df.rdd.getNumPartitions() > 1


def test_knn_graph_is_bucket_equi_join(qmap, spark, sf_dir):
    """The all-pairs kNN graph must join on the LSH cell key (hash/merge
    equi-join) — a BroadcastNestedLoopJoin or cartesian product here is
    the O(n^2) shape the operator exists to avoid. Multi-probe must keep
    the same shape: the probe fan-out rides the query side, the neighbor
    side is still hashed once on the bucket key."""
    plan = plan_of(qmap, spark, sf_dir, "q_knn_graph")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert ("SortMergeJoin" in plan or "ShuffledHashJoin" in plan
            or "BroadcastHashJoin" in plan)

    from real_big_data_project_spark.datapipe.similarity import knn_graph
    from real_big_data_project_spark.sources.registry import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    mp = knn_graph(emb, k=3, n_probe=2)
    mplan = mp._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in mplan
    assert "CartesianProduct" not in mplan


def test_incremental_ohlcv_prunes_partitions(qmap, spark, sf_dir):
    """The refresh must touch only invalidated day partitions: static
    pruning on the batch-discovery scan, DYNAMIC partition pruning on the
    re-aggregation scan, and a broadcast anti-join for the merge — never
    a shuffle of the stored-bars majority (operators/incremental.py)."""
    plan = plan_of(qmap, spark, sf_dir, "q_incremental_ohlcv")
    assert "dynamicpruning" in plan  # refresh scan prunes via the day set
    assert "LeftAnti, BuildRight" in plan  # stored side keeps its layout
    # batch discovery is a static range over the late window + new days
    assert "PartitionFilters: [((day" in plan


def test_orc_scan_pushes_the_filter(qmap, spark, sf_dir):
    plan = plan_of(qmap, spark, sf_dir, "q_scan_orc")
    assert "PushedFilters: [IsNotNull(p_size), GreaterThan(p_size,25)]" in plan


def test_heavy_hitters_candidates_broadcast(qmap, spark, sf_dir):
    """Pass 2 must be a broadcast semi join (candidates are small by the
    local-threshold guarantee) feeding one hash aggregate — the long
    tail is filtered map-side, never shuffled."""
    plan = plan_of(qmap, spark, sf_dir, "q_heavy_hitters")
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "MapInPandas" in plan  # the shuffle-free local-count pass


def test_merge_upsert_single_resolve_aggregate(qmap, spark, sf_dir):
    """The change-log resolve is ONE max_by hash aggregate (no window),
    and the apply is a single full-outer join."""
    plan = plan_of(qmap, spark, sf_dir, "q_merge_upsert")
    assert "FullOuter" in plan
    assert "Window" not in plan


def test_wait_fault_collapses_exists_pair_to_one_aggregate(qmap, spark, sf_dir):
    """q_supplier_wait_fault: the EXISTS/NOT-EXISTS pair must come from
    ONE per-order lineitem aggregate — two lineitem scans total (l1 +
    stats), never the three the textbook correlated form implies."""
    plan = plan_of(qmap, spark, sf_dir, "q_supplier_wait_fault")
    assert plan.count("lineitem.parquet") == 2


def test_market_share_shuffles_only_the_fact_edge(qmap, spark, sf_dir):
    """q_market_share: both nation roles, region, customer and supplier
    ride broadcast joins; at most the lineitem⋈orders edge sort-merges."""
    plan = plan_of(qmap, spark, sf_dir, "q_market_share")
    assert plan.count("SortMergeJoin") <= 1
    assert plan.count("BroadcastHashJoin") >= 2


def test_profit_join_shuffles_only_the_fact_edge(qmap, spark, sf_dir):
    """q_profit_by_nation_year: widest unfiltered join in the catalog —
    part/supplier/nation broadcast, only lineitem⋈orders may shuffle."""
    plan = plan_of(qmap, spark, sf_dir, "q_profit_by_nation_year")
    assert plan.count("SortMergeJoin") <= 1
    assert plan.count("BroadcastHashJoin") >= 2


def test_promo_revenue_pushes_shipdate_range(qmap, spark, sf_dir):
    plan = plan_of(qmap, spark, sf_dir, "q_promo_revenue")
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "LessThan(l_shipdate" in plan


def test_token_budget_cumsum_is_range_sharded(qmap, spark, sf_dir):
    """global_running_sum: the corpus-sized window partitions on the
    stamped range id (hash Exchange over _gpid); the only un-partitioned
    window is the <= num_ranges base-offset prefix sum."""
    plan = plan_of(qmap, spark, sf_dir, "q_token_budget_select")
    assert "windowspecdefinition(_gpid" in plan
    assert "hashpartitioning(_gpid" in plan


def test_simjoin_prefix_never_goes_all_pairs(qmap, spark, sf_dir):
    """Exact similarity join: candidates come from the prefix-token
    equi-join — no cartesian/nested-loop product anywhere in the plan."""
    plan = plan_of(qmap, spark, sf_dir, "q_simjoin_prefix")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def _write_record(records_dir, rnd, green=(), red=()):
    row = {"rows_match": True, "schema_match": True, "hash_match": True}
    rows = {q: row for q in green}
    rows.update({q: {**row, "hash_match": False} for q in red})
    with open(records_dir / f"CORRECTNESS_r{rnd:02d}.json", "w") as f:
        json.dump(rows, f)


def test_gate_order_lists_every_registered_query_by_name_without_records(
        monkeypatch, tmp_path):
    import __spark_entry__ as e

    monkeypatch.setattr(e, "RECORDS_DIR", str(tmp_path))
    qs = e.queries()
    assert len(qs) == 175
    assert list(qs) == sorted(queries_map())


def test_gate_order_leads_with_a_never_gated_query(tmp_path):
    import __spark_entry__ as e

    names = sorted(queries_map())
    _write_record(tmp_path, 1, green=names[:-1])
    assert e.gate_order(names, str(tmp_path))[0] == names[-1]


def test_gate_order_puts_the_newest_greens_behind_older_ones(tmp_path):
    import __spark_entry__ as e

    names = sorted(queries_map())
    newest = names[::3][:50]
    older = [q for q in names if q not in newest]
    assert len(older) >= 50
    _write_record(tmp_path, 1, green=names)
    # a red row in the newest record leaves its query's older green round
    _write_record(tmp_path, 2, green=newest, red=older[:1])
    order = e.gate_order(names, str(tmp_path))
    assert not set(order[:50]) & set(newest)
    assert order == older + newest
    # a newer record moves its queries to the back
    _write_record(tmp_path, 3, green=older[:5])
    assert e.gate_order(names, str(tmp_path)) == older[5:] + newest + older[:5]


def test_dashboard_session_composes_lazily(qmap, spark, sf_dir):
    # The tab-1 session composite: one lazy plan, dims broadcast, no
    # cartesian product on the fact side (the only nested-loop join is
    # the 1-row date-range scalar broadcast).
    plan = plan_of(qmap, spark, sf_dir, "q_dashboard_session")
    assert "BroadcastHashJoin" in plan  # company pick joins broadcast
    assert "CartesianProduct" not in plan


def test_ivf_recall_sweep_is_one_window_pass(qmap, spark, sf_dir):
    # Round-7 fused sweep contract: ALL probe settings rank through ONE
    # window over one candidate scan (conditional running counts), not
    # a per-setting plan fan-out — the predecessor re-ranked and
    # re-joined per n_probe. Exactly two Window exec nodes: probe
    # selection's row_number and the fused running-count pass (a third
    # means the per-setting fan-out regressed). WindowGroupLimit nodes
    # are the rank-limit pushdown, not extra passes.
    import re

    plan = plan_of(qmap, spark, sf_dir, "q_ann_recall_ivf")
    n_window = len(re.findall(r"\bWindow \[", plan))
    assert n_window == 2, f"{n_window} Window exec nodes"
    assert "CartesianProduct" not in plan


def test_sweep_tools_time_with_noop_writer_not_count():
    """Round-9 regression guard: timing with .count() lets Catalyst
    eliminate cardinality-preserving marker joins and everything behind
    them — the organic sweep recorded q_semantic_dedup at 6.3s where
    the honest noop-forced cost was ~270s (k-means alone vs the full
    plan). Every sweep tool and the bench must force with the noop
    writer; count() is allowed only for untimed row-count capture."""
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for tool in ("bench.py", "tools/measure.py"):
        src = open(os.path.join(repo, tool)).read()
        assert 'format("noop")' in src, f"{tool}: no noop forcing"


def test_count_plan_elimination_is_the_documented_three(qmap, spark, sf_dir):
    """The marker-join queries whose count() plans drop work must stay
    exactly the documented set — a NEW query joining this list means a
    NEW sweep/bench blind spot if anything ever times it via count().
    (Full-materialization plans keep all joins; count() plans may not.)"""
    known_loses_work = {"q_semantic_dedup", "q_doc_fingerprint",
                        "q_ann_recall"}
    for name in sorted(known_loses_work):
        df = qmap[name](spark, sf_dir)
        full = df._jdf.queryExecution().executedPlan().toString()
        cnt = df.groupBy().count()._jdf.queryExecution().executedPlan().toString()
        assert cnt.count("Join") < full.count("Join"), (
            f"{name}: count() no longer eliminates joins — update the "
            "documented set (PERF_NOTES round 9) either way")
