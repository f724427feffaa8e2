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

``queries_map()`` lists the queries in registration order. The order the
driver's gate samples them in (least-recently-gated first) is computed at
call time by ``__spark_entry__.queries()`` from the CORRECTNESS_r*.json
records beside it.
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


def queries_map() -> dict[str, Builder]:
    _load_all()
    return {name: spec.builder for name, spec in QUERIES.items()}


def oracle_sql_map() -> dict[str, str]:
    _load_all()
    return {name: spec.oracle for name, spec in QUERIES.items() if spec.oracle}


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
