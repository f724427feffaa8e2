"""Domain data model: schemas + seed dimension data.

Mirrors the reference DDL (etl/timescaledb_model.py:218-294) with Spark
StructTypes. Narrow types are kept deliberately (FLOAT4→FloatType,
markets SMALLINT→ShortType) for schema fidelity and scan-width economy
at 100 TB — see SURVEY.md §1.2 — with ONE deviation: company/cid ids are
int32, not the reference's int16, after the sf10 scale sweep overflowed
the 32k id ceiling (see COMPANIES_SCHEMA note).
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- markets dimension (seed rows, etl/timescaledb_model.py:16-27) --------
MARKETS_SCHEMA = T.StructType([
    T.StructField("id", T.ShortType(), False),
    T.StructField("name", T.StringType(), True),
    T.StructField("alias", T.StringType(), True),
    T.StructField("boursorama", T.StringType(), True),
    T.StructField("sws", T.StringType(), True),
    T.StructField("euronext", T.StringType(), True),
])

MARKETS_SEED = [
    (1, "New York", "nyse", "", "NYSE", ""),
    (2, "London Stock Exchange", "lse", "1u*.L", "LSE", ""),
    (3, "Bourse de Milan", "milano", "1g", "", ""),
    (4, "Mercados Espanoles", "mercados", "FF55-", "", ""),
    (5, "Amsterdam", "amsterdam", "1rA", "", "Amsterdam"),
    (6, "Paris", "paris", "1rP", "ENXTPA", "Paris"),
    (7, "Deutsche Borse", "xetra", "1z", "", ""),
    (8, "Bruxelle", "bruxelle", "FF11_", "", "Brussels"),
    (9, "Australie", "asx", "", "ASX", ""),
    (100, "International", "int", "", "", ""),
]

COMPANIES_SCHEMA = T.StructType([
    # Company id is deliberately ONE notch wider than the reference DDL's
    # SMALLINT: the sf10 sweep hit 65k+ distinct companies and overflowed
    # the int16 cast (ANSI CAST_OVERFLOW) — a dimension-id ceiling a
    # 100 TB engine must not inherit. 2 bytes/row wider on the fact side;
    # markets (`mid`, ≤100 rows by construction) keep SMALLINT fidelity.
    T.StructField("id", T.IntegerType(), False),
    T.StructField("name", T.StringType(), True),
    T.StructField("mid", T.ShortType(), True),
    T.StructField("symbol", T.StringType(), True),
    T.StructField("isin", T.StringType(), True),
    T.StructField("boursorama", T.StringType(), True),
    T.StructField("euronext", T.StringType(), True),
    T.StructField("pea", T.BooleanType(), True),
    T.StructField("sector1", T.StringType(), True),
    T.StructField("sector2", T.StringType(), True),
    T.StructField("sector3", T.StringType(), True),
])

# --- symbol / market normalization constants -------------------------------
# Boursorama symbol prefixes → market id (etl/etl.py:55-64). Order matters:
# longer prefixes must be tested first so '1rP' wins over '1r…' lookalikes.
MARKET_PREFIXES: list[tuple[str, int]] = [
    ("1rP", 6),    # Paris
    ("1rA", 5),    # Amsterdam
    ("1u", 2),     # London
    ("1g", 3),     # Milan
    ("FF55-", 4),  # Mercados Espanoles
    ("1z", 7),     # Xetra
    ("FF11_", 8),  # Brussels
    ("1b", 8),     # Brussels (alternate)
]

# Market free-text substring → id (etl/etl.py:546-555); first match wins,
# default Paris (6).
MARKET_SUBSTRINGS: list[tuple[str, int]] = [
    ("paris", 6),
    ("amsterdam", 5),
    ("london", 2),
    ("milan", 3),
    ("madrid", 4),
    ("brussels", 8),
    ("xetra", 7),
]
DEFAULT_MARKET_ID = 6
