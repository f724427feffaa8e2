"""Scalar cleansing expressions (SURVEY.md §2.2 P-series, §2.3 F-series).

Everything here is a pure Column expression — JVM-side, whole-stage-codegen
friendly. The reference implements these as row-wise python functions with
memo caches (etl/etl.py:66-101, :557-564); vectorized CASE/regexp
expressions make the caches unnecessary (SURVEY.md §4).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..schemas import DEFAULT_MARKET_ID, MARKET_PREFIXES, MARKET_SUBSTRINGS


def strip_srd_prefix(col: Column | str) -> Column:
    """F1 — remove the 'SRD' marker prefix from company names
    (etl/etl.py:187, :526)."""
    return F.regexp_replace(col, r"^SRD\s*", "")


def clean_price_string(col: Column | str) -> Column:
    """F2/P5 — scrub locale-dirty price strings to DOUBLE, NULL on failure
    (etl/etl.py:189-193, :529): ',' decimal → '.', keep only [0-9.-],
    then try_cast.

    The reference's chain first drops '(c)'-style markers and whitespace;
    those steps delete only '()', ASCII letters and whitespace, none of
    which is ',' or survives the keep-set filter, so one regex gives the
    same string. It matters per tick: Catalyst pushes the `value > 0` and
    inferred `isnotnull` filters through the projection, so the scrub runs
    three times per raw tick. `replace` searches the bytes; `translate`
    decodes each string to a Java String and looks every character up in
    a HashMap (7% of an ingest pass's executor samples under JFR)."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.replace(c.cast("string"), F.lit(","), F.lit("."))
    c = F.regexp_replace(c, r"[^0-9.\-]", "")
    return c.try_cast("double")


def clean_volume_string(col: Column | str) -> Column:
    """Digits-with-separators volume strings → BIGINT (etl/etl.py:531)."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.regexp_replace(c.cast("string"), r"[^0-9\-]", "")
    return c.try_cast("bigint")


def normalized_symbol(col: Column | str) -> Column:
    """F3 (symbol half) — strip the Boursorama market prefix
    (etl/etl.py:66-101). Chained CASE on startswith; first match wins,
    mirroring the reference's ordered dict iteration."""
    c = F.col(col) if isinstance(col, str) else col
    expr = None
    for prefix, _mid in MARKET_PREFIXES:
        cond = c.startswith(prefix)
        val = c.substr(F.lit(len(prefix) + 1), F.length(c))
        expr = F.when(cond, val) if expr is None else expr.when(cond, val)
    return expr.otherwise(c)


def market_id_from_symbol(col: Column | str, default: int = DEFAULT_MARKET_ID) -> Column:
    """F3 (market half) — derive the market id from the symbol prefix."""
    c = F.col(col) if isinstance(col, str) else col
    expr = None
    for prefix, mid in MARKET_PREFIXES:
        cond = c.startswith(prefix)
        expr = F.when(cond, F.lit(mid)) if expr is None else expr.when(cond, F.lit(mid))
    return expr.otherwise(F.lit(default)).cast("int")


def market_id_from_text(col: Column | str, default: int = DEFAULT_MARKET_ID) -> Column:
    """F4 — classify a free-text market string by substring containment
    (etl/etl.py:546-564); replaces the reference's row-wise `.apply` UDF
    with a native CASE chain (codegen, no python)."""
    c = F.lower(F.col(col) if isinstance(col, str) else col)
    expr = None
    for name, mid in MARKET_SUBSTRINGS:
        cond = c.contains(name)
        expr = F.when(cond, F.lit(mid)) if expr is None else expr.when(cond, F.lit(mid))
    return expr.otherwise(F.lit(default)).cast("int")


def clamp_nonnegative(col: Column | str) -> Column:
    """P8 — `UPDATE … SET volume=0 WHERE volume<0` as an expression
    (etl/etl.py:820)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(c < 0, F.lit(0)).otherwise(c)


def pct_change(cur: Column, prev: Column) -> Column:
    """F9 — (cur−prev)/|prev| with ÷0→0 and first-row→0 guards, matching
    pandas `pct_change().fillna(0)` (etl/etl.py:388-395)."""
    return F.when(
        prev.isNull() | (prev == 0), F.lit(0.0)
    ).otherwise((cur - prev) / F.abs(prev))
