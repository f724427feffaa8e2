"""Pickled-DataFrame snapshot source (SURVEY.md §2.1 S1/S4/S5/F6).

The reference's primary feed is one pickled pandas DataFrame per scrape,
optionally bz2-compressed, whose FILENAME carries the market alias and the
timestamp with ``_`` instead of ``:`` in the hour part
(etl/etl.py:139-170). Spark has no pickle source, so the adapter is:

    binaryFile scan → mapInPandas unpickle (the sanctioned Python path)
    → filename metadata injected with regexp_extract on `_path`
    → timestamp repaired with the `_`→`:` substitution (F6), parsed as
      TIMESTAMP_NTZ (session-tz independent).

Everything after the decode row-batch is ordinary Catalyst territory —
the decoder is deliberately the ONLY place pickle exists.

For the driver query the fixture snapshots are derived deterministically
from the parquet `nation` table (one snapshot file per region, reference
filename grammar), cached through ``registry.ensure_fixture``.
"""

from __future__ import annotations

import bz2
import os
import pickle
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

SNAPSHOT_SCHEMA = T.StructType([
    T.StructField("n_nationkey", T.LongType(), True),
    T.StructField("n_name", T.StringType(), True),
    T.StructField("n_regionkey", T.LongType(), True),
    T.StructField("_path", T.StringType(), True),
])

# filename grammar: "<alias> YYYY-MM-DD HH_MM_SS.bz2" (etl/etl.py:139-159)
_FILENAME_RE = r"([^/]+) (\d{4}-\d{2}-\d{2}) (\d{2}_\d{2}_\d{2})\.bz2$"


def ensure_snapshot_fixture(sf_dir: str) -> str:
    """One bz2-pickled pandas DataFrame per region, named with the
    reference's filename grammar (alias = 'region<k>', date advances with
    the region key, '_'-mangled time part)."""
    from .registry import ensure_fixture

    def build_into(tmp: str) -> None:
        os.makedirs(tmp)
        nation = pd.read_parquet(f"{sf_dir}/nation.parquet")
        for r, grp in nation.groupby("n_regionkey"):
            day = int(r) + 1
            name = f"region{int(r)} 2024-01-{day:02d} 09_30_00.bz2"
            payload = grp[["n_nationkey", "n_name", "n_regionkey"]].reset_index(drop=True)
            with bz2.open(os.path.join(tmp, name), "wb") as fh:
                pickle.dump(payload, fh)

    return ensure_fixture("snapshots", sf_dir, build_into)


def read_snapshots(spark: SparkSession, path: str) -> DataFrame:
    """binaryFile scan + mapInPandas unpickle → typed rows + filename
    metadata columns (src_alias, src_ts)."""
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bz2")
        .load(path)
        .select("path", "content")
    )

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for _, row in pdf.iterrows():
                snap = pickle.loads(bz2.decompress(row["content"]))
                snap = snap.copy()
                snap["_path"] = row["path"]
                yield snap

    decoded = files.mapInPandas(decode, schema=SNAPSHOT_SCHEMA)
    date_part = F.regexp_extract("_path", _FILENAME_RE, 2)
    time_part = F.regexp_replace(F.regexp_extract("_path", _FILENAME_RE, 3), "_", ":")
    return decoded.select(
        "n_nationkey", "n_name", "n_regionkey",
        F.regexp_extract("_path", _FILENAME_RE, 1).alias("src_alias"),
        F.concat(date_part, F.lit(" "), time_part)
        .cast("timestamp_ntz")
        .alias("src_ts"),
    )
