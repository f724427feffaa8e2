"""Local replica of the driver's correctness gate.

Runs a catalog query on Spark and its oracle SQL on DuckDB over the same
parquet tables, then compares row count, column names, and an
order-insensitive value comparison. Used by the test suite so every
registered query is validated locally *before* the driver sees it.

The comparison is stricter than "approximately equal": after sorting rows
canonically it requires exact equality for non-floats and bit-or-near
equality (rtol=1e-12) for floats, and WARNS (fails the strict flag) when
floats are not bit-identical — a bit mismatch here means the driver's
value-hash may disagree even if values are numerically close.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession

from ..sources.registry import TABLES


@dataclass
class CompareResult:
    name: str
    row_count_match: bool
    columns_match: bool
    values_close: bool
    values_bit_equal: bool
    detail: str = ""

    @property
    def ok(self) -> bool:
        return self.row_count_match and self.columns_match and self.values_close


def duckdb_oracle(sql: str, sf_dir: str) -> pd.DataFrame:
    import duckdb

    import os as _os

    con = duckdb.connect()
    try:
        # Partial dirs (the organic corpus ships documents+embeddings
        # only) register just the tables present; a query that needs a
        # missing one fails loudly at bind time with "view not found"
        # instead of DuckDB's late file-pattern IOException.
        for t in TABLES:
            if _os.path.exists(f"{sf_dir}/{t}.parquet"):
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
                )
        return con.execute(sql).df()
    finally:
        con.close()


def _canonicalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.copy()
    df = df[sorted(df.columns)]
    for c in df.columns:
        col = df[c]
        if pd.api.types.is_datetime64_any_dtype(col):
            df[c] = pd.to_datetime(col).astype("datetime64[us]")
        elif col.dtype == object:
            import datetime as _dt

            non_null = col.dropna()
            if len(non_null) and all(
                isinstance(v, (_dt.date, _dt.datetime)) for v in non_null.head(50)
            ):
                df[c] = pd.to_datetime(col).astype("datetime64[us]")
            else:
                df[c] = col.astype(str)
        elif pd.api.types.is_bool_dtype(col):
            df[c] = col.astype(bool)
        elif pd.api.types.is_integer_dtype(col):
            df[c] = col.astype("int64")
    # Row alignment: sort on non-float columns first so a last-ulp
    # cross-engine float difference in a sort-prefix column can't align
    # the two frames differently; floats participate as tiebreaks,
    # rounded to a coarse bucket FIRST (so near-equal values stay
    # adjacent regardless of ulp noise), then raw as the final key (so
    # rows that tie on every exact column and rounding bucket still get
    # a deterministic order per-engine instead of input order — two
    # rows whose floats differ by more than rtol but round alike would
    # otherwise align arbitrarily and flag a spurious mismatch).
    exact_cols = [c for c in df.columns if not pd.api.types.is_float_dtype(df[c])]
    float_cols = [c for c in df.columns if pd.api.types.is_float_dtype(df[c])]
    rounded = {f"_sort_{c}": df[c].round(6) for c in float_cols}
    for k, v in rounded.items():
        df[k] = v
    sort_cols = exact_cols + list(rounded) + float_cols
    out = df.sort_values(sort_cols, kind="mergesort").reset_index(drop=True)
    return out.drop(columns=list(rounded))


def compare_frames(name: str, got: pd.DataFrame, want: pd.DataFrame) -> CompareResult:
    """Compare two result frames order-insensitively: row count, column
    names, then values (floats close within rtol=1e-9, bit-equal flagged)."""
    rc = len(got) == len(want)
    cols_got, cols_want = sorted(got.columns), sorted(want.columns)
    cm = cols_got == cols_want
    if not (rc and cm):
        return CompareResult(
            name, rc, cm, False, False,
            detail=f"rows {len(got)} vs {len(want)}; cols {cols_got} vs {cols_want}",
        )
    a, b = _canonicalize(got), _canonicalize(want)
    close = True
    bit_equal = True
    detail = ""
    for c in a.columns:
        av, bv = a[c], b[c]
        if pd.api.types.is_float_dtype(av) or pd.api.types.is_float_dtype(bv):
            avf = av.astype(float).to_numpy()
            bvf = bv.astype(float).to_numpy()
            both_nan = np.isnan(avf) & np.isnan(bvf)
            eq = (avf == bvf) | both_nan
            if not eq.all():
                bit_equal = False
                near = np.isclose(avf, bvf, rtol=1e-9, atol=1e-12) | both_nan
                if not near.all():
                    close = False
                    i = int(np.argmax(~near))
                    detail += f" col {c} differs at sorted row {i}: {avf[i]!r} vs {bvf[i]!r};"
                else:
                    i = int(np.argmax(~eq))
                    detail += (f" col {c} not bit-equal at sorted row {i}: "
                               f"{avf[i]!r} vs {bvf[i]!r};")
        else:
            if not av.equals(bv):
                neq = av != bv
                close = False
                bit_equal = False
                i = int(np.argmax(neq.to_numpy()))
                detail += f" col {c} differs at sorted row {i}: {av.iloc[i]!r} vs {bv.iloc[i]!r};"
    return CompareResult(name, rc, cm, close, bit_equal, detail=detail)


def check_query(spark: SparkSession, name: str, sf_dir: str) -> CompareResult:
    from .catalog import QUERIES, queries_map

    queries_map()
    spec = QUERIES[name]
    if spec.oracle is None:
        df = spec.builder(spark, sf_dir)
        n = df.count()
        # Match the driver's rows>0 smoke semantics: an oracle-less query
        # that returns nothing is a failure, not a pass.
        return CompareResult(name, True, True, n > 0, True, detail=f"rows-only: {n}")
    sdf = spec.builder(spark, sf_dir)
    odf = duckdb_oracle(spec.oracle, sf_dir)
    return compare_frames(name, sdf.toPandas(), odf)
