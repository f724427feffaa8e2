"""Output checks against DuckDB, run after the timed loop.

Each check returns one bool per round; a round that fails its check
counts all of its ops as failed.

* ingest: hand SQL over the raw feed recomputes daystocks (cleansing,
  dense company ids, OHLCV, std) and the table row counts;
* dashboard: every request is re-asked of DuckDB over the warehouse
  parquet (the tab-3 SQL verbatim, hand SQL for bars and stats);
* corpus: the catalog's own oracle SQL for q_datapipe_e2e_v2 over the
  generated documents, against one more (untimed) build. The build is
  deterministic in its input, so a mismatch fails every timed build;
* stream: the drained dedup output must equal the once-delivered events
  exactly, and the OHLCV drain must equal the catalog's
  q_streaming_ohlcv oracle SQL.
"""

from __future__ import annotations

import math
import os

import duckdb

from gen import _PREFIXES

RTOL = 1e-5  # daystocks prices are float32


def rows_match(got: list[tuple], want: list[tuple], rtol: float = RTOL) -> bool:
    """Order-insensitive row equality; floats within `rtol`."""
    if len(got) != len(want):
        return False

    def key(row):
        return tuple((v is None, round(v, 4) if isinstance(v, float) else v)
                     for v in row)

    for a, b in zip(sorted(got, key=key), sorted(want, key=key)):
        if len(a) != len(b):
            return False
        for x, y in zip(a, b):
            if isinstance(x, float) or isinstance(y, float):
                if x is None or y is None:
                    if x is not y:
                        return False
                elif not math.isclose(x, y, rel_tol=rtol, abs_tol=1e-9):
                    return False
            elif x != y:
                return False
    return True


def _hive(path: str) -> str:
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning = true)"


def _clean_sql(raw: str) -> str:
    """The engine's snapshot cleansing, restated in DuckDB."""
    norm = "CASE " + " ".join(
        f"WHEN starts_with(symbol, '{p}') THEN substr(symbol, {len(p) + 1})"
        for p in _PREFIXES if p) + " ELSE symbol END"
    price = "CAST(\"last\" AS VARCHAR)"
    for pat, rep in ((r"\([a-zA-Z ]*\)", ""), (r"\s+", ""), (",", "."), (r"[^0-9.\-]", "")):
        price = f"regexp_replace({price}, '{pat}', '{rep}', 'g')"
    return f"""
      WITH parsed AS (
        SELECT {norm} AS norm_symbol, ts, volume, TRY_CAST({price} AS DOUBLE) AS value
        FROM read_parquet('{raw}')),
      clean AS (SELECT * FROM parsed WHERE value > 0 AND volume > 0),
      comp AS (SELECT norm_symbol, row_number() OVER (ORDER BY norm_symbol) AS cid
               FROM (SELECT DISTINCT norm_symbol FROM clean))
    """


def check_ingest(inputs: str, out_dirs: list[str]) -> list[bool]:
    raw = os.path.join(inputs, "raw_snapshots.parquet")
    con = duckdb.connect()
    want = con.execute(_clean_sql(raw) + """
      SELECT cid, CAST(ts AS DATE) AS date, arg_min(v, ts), arg_max(v, ts), max(v), min(v),
             sum(vol), stddev_samp(v)
      FROM (SELECT c.cid, s.ts, CAST(s.value AS FLOAT) AS v, CAST(s.volume AS FLOAT) AS vol
            FROM clean s JOIN comp c USING (norm_symbol))
      GROUP BY ALL""").fetchall()
    want = [r[:7] + ((r[2] + r[3] + r[4] + r[5]) / 4, r[7]) for r in want]
    n_clean, n_comp = con.execute(
        _clean_sql(raw) + "SELECT (SELECT count(*) FROM clean), (SELECT count(*) FROM comp)"
    ).fetchone()
    with open(os.path.join(inputs, "euronext.tsv")) as f:
        n_listings = sum(1 for _ in f) - 1
    ok = []
    for out in out_dirs:
        got = con.execute(f"""SELECT cid, date, open, close, high, low, volume, mean, std
                              FROM {_hive(out + '/daystocks')}""").fetchall()
        counts = con.execute(f"""SELECT
            (SELECT count(*) FROM {_hive(out + '/stocks')}),
            (SELECT count(*) FROM read_parquet('{out}/companies/*.parquet')),
            (SELECT count(*) FROM {_hive(out + '/stocks_compressed')})""").fetchone()
        ok.append(rows_match(got, want, rtol=1e-6) and counts[0] == n_clean
                  and counts[1] == n_comp + n_listings and 0 < counts[2] <= n_clean)
    con.close()
    return ok


def _dashboard_sql(req: dict) -> str:
    from workloads import sql_text

    rng = f"date BETWEEN DATE '{req['lo']}' AND DATE '{req['hi']}'"
    if req["kind"] == "bars":
        w = "OVER (PARTITION BY cid ORDER BY date ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)"
        full = f"count(close) {w} >= 20"
        return f"""SELECT *,
            CASE WHEN {full} THEN avg(close) {w} END AS boll_mean,
            CASE WHEN {full} THEN stddev_samp(close) {w} END AS boll_std,
            CASE WHEN {full} THEN avg(close) {w} + 2.0 * stddev_samp(close) {w} END,
            CASE WHEN {full} THEN avg(close) {w} - 2.0 * stddev_samp(close) {w} END
            FROM daystocks WHERE cid = {req['cid']} AND {rng}"""
    if req["kind"] == "stats":
        prev = "lag(close) OVER (PARTITION BY cid ORDER BY date)"
        return f"""SELECT cid, date, open, high, low, close, volume,
            CASE WHEN {prev} IS NULL OR {prev} = 0 THEN 0.0
                 ELSE CAST(close - {prev} AS DOUBLE) / abs({prev}) END,
            (open + high + low + close) / 4
            FROM daystocks WHERE cid IN ({', '.join(map(str, req['cids']))}) AND {rng}"""
    return sql_text(req)


def check_dashboard(warehouse: str, results: list[tuple[dict, list]]) -> list[bool]:
    con = duckdb.connect()
    for name in ("daystocks", "stocks"):
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM {_hive(os.path.join(warehouse, name))}")
    for name in ("companies", "markets"):
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{warehouse}/{name}/*.parquet')")
    ok = [rows_match(rows, con.execute(_dashboard_sql(req)).fetchall())
          for req, rows in results]
    con.close()
    return ok


def check_corpus(spark, inputs: str) -> bool:
    from real_big_data_project_spark.plans import oracle_sql_map, queries_map

    got = [tuple(r) for r in queries_map()["q_datapipe_e2e_v2"](spark, inputs)
           .select("doc_id", "chunk_idx", "n_chunk_tokens", "chunk_md5").collect()]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{inputs}/documents.parquet')")
    want = con.execute(f"SELECT doc_id, chunk_idx, n_chunk_tokens, chunk_md5 FROM "
                       f"({oracle_sql_map()['q_datapipe_e2e_v2']})").fetchall()
    con.close()
    return bool(got) and rows_match(got, want)


def check_stream(inputs: str, payloads: list) -> list[bool]:
    from real_big_data_project_spark.plans import oracle_sql_map

    events = os.path.join(inputs, "sf", "events.parquet")
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{events}')")
    want_bars = con.execute(oracle_sql_map()["q_streaming_ohlcv"]).fetchall()
    cols = "event_id, CAST(ts AS TIMESTAMP), user_id, event_type, value"
    ok = []
    for dedup, bars in payloads:
        files = [f.removeprefix("file:") for f in dedup.inputFiles()]
        diff = con.execute(f"""SELECT
            (SELECT count(*) FROM read_parquet({files!r})),
            (SELECT count(*) FROM events),
            (SELECT count(*) FROM (SELECT {cols} FROM read_parquet({files!r})
                                   EXCEPT ALL SELECT {cols} FROM events))""").fetchone()
        got_bars = [(r.user_id, r.trade_date, r.open, r.close, r.high, r.low, int(r.volume),
                     r.mean) for r in bars.collect()]
        ok.append(diff[0] == diff[1] and diff[2] == 0 and rows_match(got_bars, want_bars))
    con.close()
    return ok
