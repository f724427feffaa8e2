"""CSV/TSV source with skip-bad-lines semantics (SURVEY.md §2.1 S2).

The reference reads Euronext daily TSVs with
``pd.read_csv(sep='\\t', on_bad_lines='skip')`` (etl/etl.py:507-509); the
Spark restatement is an explicit-schema csv scan with
``mode=DROPMALFORMED``. Schema-on-read with declared types — never
inference — per the engine's type discipline (SURVEY.md §1.2).

For the driver queries the TSV input is materialized once from the
parquet testdata (int/string columns only — lossless roundtrip) as a
``registry.ensure_fixture`` dir, with deliberately malformed lines
appended to prove the DROPMALFORMED path.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

NATION_SCHEMA = T.StructType([
    T.StructField("n_nationkey", T.LongType(), True),
    T.StructField("n_name", T.StringType(), True),
    T.StructField("n_regionkey", T.LongType(), True),
])

MALFORMED_LINES = (
    "this line has no tabs at all\n"
    "not_an_int\tX\talso_not_an_int\n"
)


def ensure_nation_tsv(spark: SparkSession, sf_dir: str) -> str:
    """Materialize nation as a TSV directory (once per sf), plus a file
    of malformed lines the reader must skip."""
    from .registry import ensure_fixture

    def build_into(tmp: str) -> None:
        nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
        nation.coalesce(1).write.option("sep", "\t").option(
            "header", True
        ).csv(tmp)
        # first line of every file is consumed as a header, so lead with one
        with open(os.path.join(tmp, "zz_malformed.csv"), "w") as fh:
            fh.write("h1\th2\th3\n")
            fh.write(MALFORMED_LINES)

    return ensure_fixture("nation_tsv", sf_dir, build_into)


def read_nation_tsv(spark: SparkSession, path: str) -> DataFrame:
    """S2 — explicit-schema TSV scan, malformed rows dropped (the
    pd.read_csv(on_bad_lines='skip') contract)."""
    return (
        spark.read.schema(NATION_SCHEMA)
        .option("sep", "\t")
        .option("header", True)
        .option("mode", "DROPMALFORMED")
        .csv(path)
    )


def read_nation_tsv_with_quarantine(
    spark: SparkSession, path: str
) -> tuple[DataFrame, DataFrame]:
    """S2 + the `error_dates` quarantine concept
    (etl/timescaledb_model.py:279 — declared, never used): PERMISSIVE
    parse capturing unparseable lines in a corrupt-record column instead
    of silently dropping them. Returns (clean, quarantine) — at scale the
    quarantine side is written next to the table so bad feeds are
    auditable and replayable, which DROPMALFORMED forfeits."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    schema = T.StructType(
        NATION_SCHEMA.fields
        + [T.StructField("_corrupt_record", T.StringType(), True)]
    )
    raw = (
        spark.read.schema(schema)
        .option("sep", "\t")
        .option("header", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
        # Spark refuses scans whose only referenced column is the internal
        # corrupt-record column (count()/filter prune to exactly that);
        # caching the parsed result is the documented escape hatch — and
        # the right call anyway, since clean and quarantine both consume it.
        .cache()
    )
    clean = raw.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    quarantine = raw.filter(F.col("_corrupt_record").isNotNull()).select(
        "_corrupt_record"
    )
    return clean, quarantine
