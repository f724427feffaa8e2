"""Named query catalog — the driver contract.

Every operator in SURVEY.md §2 is exercised by a named query over the
synthetic testdata (FIXTURES.md §B mapping), paired with an ANSI-SQL oracle
string that DuckDB runs on the same parquet for the correctness gate.

Cross-engine conventions (SURVEY.md §7 risk register):
- `min_by`/`max_by` instead of first/last (order-deterministic, exists in
  both engines);
- every ORDER BY / row_number ordering is total (tiebreak columns);
- every computed column is aliased identically on both sides;
- floating aggregates whose summation order differs between engines
  (big sums, windowed avg/stddev) are ROUNDed identically on both sides;
  pure elementwise arithmetic is left unrounded (IEEE ops are
  deterministic given identical expression trees).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

Builder = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    name: str
    builder: Builder
    oracle: str | None  # ANSI SQL for DuckDB; None → rows-only check
    description: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


QUERIES: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None, description: str = "",
             tags: tuple[str, ...] = ()) -> Callable[[Builder], Builder]:
    def deco(fn: Builder) -> Builder:
        QUERIES[name] = QuerySpec(name, fn, oracle, description, tags)
        return fn
    return deco


# The driver's CORRECTNESS gate samples the FIRST 50 entries of
# ``queries()``, so exposure order is risk order, not registration order.
# The priority prefix rotates each round: new/changed queries lead (a green
# prior-round row does not certify new output), then the LEAST-recently
# gated queries, so every catalog entry is periodically re-proven on
# current-generation testdata.
#
# GENERATED — do not hand-edit.  Regenerate with
#     python tools/gen_rotation.py [pinned new/changed query names...]
# and paste the _ROTATION_VINTAGE/_PINNED/_RISKIEST block below verbatim.
# tests/test_plans.py::test_rotation_prefix_is_generated recomputes
# compute_prefix(_PINNED) from the live CORRECTNESS_r*.json set and fails
# the suite if this block is stale (VERDICT r8 item 1: round 8 silently
# re-proved the identical r7 sample; a hand-maintained prefix cannot be
# trusted to rotate).  Vintage-12 prefix: _PINNED is empty (no new
# queries, no output changes); the staleness-first fill leads with the
# r09-vintage rows, then r10.
# rotation prefix (50 of 175 queries; staleness from 175 gated)
_ROTATION_VINTAGE = 12
_PINNED: tuple[str, ...] = ()
_RISKIEST: tuple[str, ...] = (
    "q_pivot_wide",  # last green r09
    "q_quantile_bucket",  # last green r09
    "q_rank_functions",  # last green r09
    "q_recursive_ancestry",  # last green r09
    "q_scan_csv_quarantine",  # last green r09
    "q_scan_jsonl",  # last green r09
    "q_scan_mixed_dir",  # last green r09
    "q_scan_orc",  # last green r09
    "q_scd2_intervals",  # last green r09
    "q_sessionize",  # last green r09
    "q_snapshot_diff",  # last green r09
    "q_source_overlap",  # last green r09
    "q_span_dedup",  # last green r09
    "q_sql_passthrough",  # last green r09
    "q_streaming_stateful_pct",  # last green r09
    "q_supplier_wait_fault",  # last green r09
    "q_svm_train",  # last green r09
    "q_time_travel",  # last green r09
    "q_trend_slope",  # last green r09
    "q_udtf_chunks",  # last green r09
    "q_unpivot",  # last green r09
    "q_value_histogram",  # last green r09
    "q_vocab_coverage",  # last green r09
    "q_vwap_twap",  # last green r09
    "q_zorder_layout",  # last green r09
    "q_above_avg",  # last green r10
    "q_anti_join_new_keys",  # last green r10
    "q_array_ops",  # last green r10
    "q_asof_join",  # last green r10
    "q_bpe_encode",  # last green r10
    "q_bpe_vocab",  # last green r10
    "q_broadcast_lookup",  # last green r10
    "q_case_market_map",  # last green r10
    "q_case_when_clamp",  # last green r10
    "q_company_timeseries",  # last green r10
    "q_counts",  # last green r10
    "q_customer_revenue",  # last green r10
    "q_daily_bars_fallback",  # last green r10
    "q_dashboard_session",  # last green r10
    "q_dedup_keys",  # last green r10
    "q_doc_tokens",  # last green r10
    "q_event_transitions",  # last green r10
    "q_exists_late_orders",  # last green r10
    "q_filter_outliers",  # last green r10
    "q_filter_positive",  # last green r10
    "q_first_last_per_group",  # last green r10
    "q_fuzzy_match",  # last green r10
    "q_group_count",  # last green r10
    "q_lang_id",  # last green r10
    "q_market_share",  # last green r10
)


def _family_rank(name: str, spec: QuerySpec) -> tuple[int, int]:
    if name in _RISKIEST:
        return (0, _RISKIEST.index(name))
    mod = spec.builder.__module__
    if mod.endswith("queries_datapipe"):
        return (1, 0)
    if mod.endswith("queries_streaming"):
        return (2, 0)
    return (3, 0)


def _ordered_specs() -> list[tuple[str, QuerySpec]]:
    _load_all()
    # Phantom prefix entries fail loudly: a _RISKIEST name that no
    # queries_* module registers would silently waste a gate slot.
    missing = [n for n in _RISKIEST if n not in QUERIES]
    if missing:
        raise AssertionError(
            f"_RISKIEST names not registered in QUERIES: {missing}"
        )
    # sorted() is stable: within a family, registration order is kept.
    return sorted(QUERIES.items(), key=lambda kv: _family_rank(*kv))


def queries_map() -> dict[str, Builder]:
    return {name: spec.builder for name, spec in _ordered_specs()}


def oracle_sql_map() -> dict[str, str]:
    return {name: spec.oracle for name, spec in _ordered_specs() if spec.oracle}


_loaded = False


def _load_all() -> None:
    """Import the query modules (registration side effect), once."""
    global _loaded
    if not _loaded:
        from . import queries_core  # noqa: F401
        from . import queries_datapipe  # noqa: F401
        from . import queries_streaming  # noqa: F401
        from . import queries_subquery  # noqa: F401
        from . import queries_tokenizer  # noqa: F401
        _loaded = True
