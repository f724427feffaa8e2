"""JSON-lines and ORC sources (SURVEY.md §2.1 S-family widening).

The reference's ingest surface is csv/tsv/xlsx/pickle (etl/etl.py:500-520);
real feeds also arrive as JSONL event dumps and columnar ORC exports, so
the engine exposes both with the same discipline as csv_source.py:
schema-on-read with DECLARED types (never inference — inference reads the
data twice and types drift between runs), malformed lines dropped
explicitly, fixtures materialized once per testdata generation through
``registry.ensure_fixture`` and verified against the parquet originals by
the DuckDB oracle.

Scale notes: both readers are splittable distributed scans. JSONL decodes
JVM-side (Jackson) — fine for landing zones, but convert to parquet/ORC
at the first hop: a 100 TB corpus should not pay per-row JSON parse twice.
ORC carries min/max stripe statistics, so predicate pushdown prunes
stripes exactly like parquet row groups (the q_scan_orc plan asserts the
filter reaches the scan).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

SUPPLIER_SCHEMA = T.StructType([
    T.StructField("s_suppkey", T.LongType(), True),
    T.StructField("s_name", T.StringType(), True),
    T.StructField("s_nationkey", T.IntegerType(), True),
    T.StructField("s_acctbal", T.DoubleType(), True),
])

MALFORMED_JSONL = (
    '{"s_suppkey": "not_an_int", "s_name": 12}\n'
    "this is not json at all\n"
    '{"truncated": \n'
)


def ensure_supplier_jsonl(spark: SparkSession, sf_dir: str) -> str:
    """Materialize supplier as a JSONL directory (once per sf), plus a
    file of malformed lines the reader must drop. Doubles round-trip
    losslessly: Spark writes shortest-roundtrip representations."""
    from .registry import ensure_fixture

    def build_into(tmp: str) -> None:
        sup = spark.read.parquet(f"{sf_dir}/supplier.parquet").select(
            [f.name for f in SUPPLIER_SCHEMA.fields]
        )
        sup.coalesce(1).write.json(tmp)
        with open(os.path.join(tmp, "zz_malformed.json"), "w") as fh:
            fh.write(MALFORMED_JSONL)

    return ensure_fixture("supplier_jsonl", sf_dir, build_into)


def read_supplier_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """S2-for-JSON: explicit-schema JSONL scan, malformed lines dropped
    (DROPMALFORMED — the on_bad_lines='skip' contract of the csv leg)."""
    return (
        spark.read.schema(SUPPLIER_SCHEMA)
        .option("mode", "DROPMALFORMED")
        .json(path)
    )


def ensure_part_orc(spark: SparkSession, sf_dir: str) -> str:
    """Materialize part as ORC (once per sf) — the columnar-interchange
    twin of the parquet substrate."""
    from .registry import ensure_fixture

    return ensure_fixture(
        "part_orc", sf_dir,
        lambda tmp: spark.read.parquet(f"{sf_dir}/part.parquet").write.orc(tmp),
    )


def read_part_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)
