"""Mixed-format feed directory: per-file csv/xlsx dispatch (SURVEY §2.1).

The reference's Euronext loop walks one directory and dispatches per file
extension — ``.csv`` → ``pd.read_csv(sep='\\t', on_bad_lines='skip')``,
``.xlsx`` → ``pd.read_excel`` (etl/etl.py:507-511). The Spark restatement
dispatches with ``pathGlobFilter`` instead of a driver loop: one
schema'd DROPMALFORMED csv scan over ``*.csv`` plus one
binaryFile+mapInPandas xlsx scan over ``*.xlsx``, unioned by name. Both
legs are distributed file scans — a directory of 10 000 mixed daily
feeds stays #files-parallel with no driver-side file handling.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .csv_source import MALFORMED_LINES, NATION_SCHEMA
from .excel_source import read_excel_dir, write_xlsx


def _sniff_string_schema(path: str, sep: str) -> T.StructType:
    """Header-only schema sniff for schemaless calls: read ONE file's
    header line (csv preferred, else xlsx) driver-side — metadata-sized
    work; the data scans below stay distributed."""
    names = sorted(os.listdir(path))
    for n in names:
        if n.endswith(".csv"):
            with open(os.path.join(path, n)) as fh:
                header = fh.readline().rstrip("\n").split(sep)
            return T.StructType(
                [T.StructField(h, T.StringType(), True) for h in header]
            )
    for n in names:
        if n.endswith(".xlsx"):
            from .excel_source import decode_xlsx_bytes

            with open(os.path.join(path, n), "rb") as fh:
                header, _ = decode_xlsx_bytes(fh.read())
            return T.StructType(
                [T.StructField(h, T.StringType(), True) for h in header]
            )
    raise FileNotFoundError(f"no .csv or .xlsx files under {path}")


def read_mixed_dir(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    sep: str = "\t",
    sheet: str | None = None,
) -> DataFrame:
    """One entry point for a directory holding BOTH ``.csv`` (TSV) and
    ``.xlsx`` daily files (reference etl/etl.py:507-511): each format gets
    its native distributed reader, rows union by name. Malformed csv
    lines are dropped (the ``on_bad_lines='skip'`` contract); xlsx files
    decode executor-side (read_excel_dir). Without a schema, columns are
    sniffed from one header and typed StringType — schema-on-read callers
    coerce, matching the engine's type discipline."""
    if schema is None:
        schema = _sniff_string_schema(path, sep)
    csv_leg = (
        spark.read.schema(schema)
        .option("sep", sep)
        .option("header", True)
        .option("mode", "DROPMALFORMED")
        .option("pathGlobFilter", "*.csv")
        .csv(path)
    )
    xlsx_leg = read_excel_dir(spark, path, schema, sheet=sheet)
    return csv_leg.unionByName(xlsx_leg)


def ensure_nation_mixed(spark: SparkSession, sf_dir: str) -> str:
    """Fixture: `nation` split across ONE tsv-csv file and ONE xlsx file
    in the same directory, plus a malformed csv the reader must skip —
    the reference's real Euronext layout (mixed formats accumulating in
    one feed dir)."""
    from .registry import ensure_fixture

    def build_into(tmp: str) -> None:
        os.makedirs(tmp)
        nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
        rows = sorted(
            (r["n_nationkey"], r["n_name"], r["n_regionkey"])
            for r in nation.select(
                "n_nationkey", "n_name", "n_regionkey"
            ).collect()
        )
        mid = max(1, len(rows) // 2)
        fields = [f.name for f in NATION_SCHEMA.fields]
        with open(os.path.join(tmp, "nation_part1.csv"), "w") as fh:
            fh.write("\t".join(fields) + "\n")
            for r in rows[:mid]:
                fh.write(f"{r[0]}\t{r[1]}\t{r[2]}\n")
        write_xlsx(os.path.join(tmp, "nation_part2.xlsx"), fields, rows[mid:])
        with open(os.path.join(tmp, "zz_malformed.csv"), "w") as fh:
            fh.write("h1\th2\th3\n")
            fh.write(MALFORMED_LINES)

    return ensure_fixture("nation_mixed", sf_dir, build_into)
