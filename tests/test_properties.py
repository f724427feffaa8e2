"""Hypothesis property tests for the scalar cleansing layer (SURVEY §5.3):
the Column expressions must agree with straightforward Python reference
implementations on arbitrary dirty inputs. Each property runs a small
number of examples, but each example is a LIST of strings evaluated in
one Spark job — property coverage without per-example JVM round-trips."""

from __future__ import annotations

import re

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from real_big_data_project_spark.functions import cleansing as C
from real_big_data_project_spark.schemas import MARKET_PREFIXES

SET = settings(max_examples=8, deadline=None,
               suppress_health_check=[HealthCheck.function_scoped_fixture])

# locale-dirty price strings: digits, comma/dot decimals, (c)-style
# markers, whitespace, stray junk
dirty_price = st.one_of(
    st.from_regex(r"\d{1,6}([.,]\d{1,4})?( ?\([a-zA-Z ]{0,3}\))?", fullmatch=True),
    st.text(alphabet="0123456789.,() abcdef-", min_size=0, max_size=12),
)


def _py_clean_price(s: str) -> float | None:
    s = re.sub(r"\([a-zA-Z ]*\)", "", s)
    s = re.sub(r"\s+", "", s)
    s = s.replace(",", ".")
    s = re.sub(r"[^0-9.\-]", "", s)
    try:
        return float(s)
    except ValueError:
        return None


@given(st.lists(dirty_price, min_size=1, max_size=60))
@example(["1\t234,5", "12\n,5", "1\u00a0234,50", " \t\r\n7 "])  # whitespace
@example(["10,5 (c(d))", "(c)(d)12,3", "3,1 (c) (nd)", "(c)", "( )"])  # markers
@example(["-", "1,2,3", "-1,5 (c)", "1-2", ",", "5,"])  # signs, separators
@SET
def test_clean_price_string_matches_python_reference(spark, values):
    df = spark.createDataFrame([(v,) for v in values], "raw string")
    got = [r.x for r in
           df.select(C.clean_price_string(F.col("raw")).alias("x")).collect()]
    expected = [_py_clean_price(v) for v in values]
    for g, e, v in zip(got, expected, values):
        if e is None or (e != e):  # unparsable or Python-side NaN
            assert g is None or g != g, (v, g, e)
        else:
            assert g == e, (v, g, e)


symbols = st.one_of(
    st.text(alphabet="ABCDEFGHIJKLMNOPQRSTUVWXYZ", min_size=1, max_size=6),
    st.builds(lambda p, s: p + s,
              st.sampled_from([p for p, _ in MARKET_PREFIXES]),
              st.text(alphabet="ABCDEFGHIJKLMNOPQRSTUVWXYZ", min_size=1, max_size=6)),
)


def _py_normalize(sym: str) -> tuple[str, int]:
    for prefix, mid in MARKET_PREFIXES:
        if sym.startswith(prefix):
            return sym[len(prefix):], mid
    return sym, 6


@given(st.lists(symbols, min_size=1, max_size=60))
@SET
def test_symbol_normalization_matches_python_reference(spark, values):
    df = spark.createDataFrame([(v,) for v in values], "sym string")
    rows = df.select(
        "sym",
        C.normalized_symbol(F.col("sym")).alias("norm"),
        C.market_id_from_symbol(F.col("sym")).alias("mid"),
    ).collect()
    for r in rows:
        norm, mid = _py_normalize(r.sym)
        assert (r.norm, r.mid) == (norm, mid), r.sym


@given(st.lists(
    st.tuples(st.floats(-1e6, 1e6), st.floats(-1e6, 1e6)),
    min_size=1, max_size=60,
))
@SET
def test_pct_change_guards(spark, pairs):
    df = spark.createDataFrame(
        [(float(c), float(p)) for c, p in pairs], "cur double, prev double"
    )
    rows = df.select(
        "cur", "prev",
        C.pct_change(F.col("cur"), F.col("prev")).alias("pc"),
    ).collect()
    for r in rows:
        if r.prev == 0:
            assert r.pc == 0.0
        else:
            assert r.pc == (r.cur - r.prev) / abs(r.prev)


@given(
    st.lists(
        st.tuples(st.integers(0, 40), st.integers(-2, 6)),  # (start_day, len; negative = inverted)
        min_size=1, max_size=8,
    ),
    st.lists(st.integers(0, 45), min_size=1, max_size=60),  # probe days
)
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_interval_join_binned_equals_naive(spark, intervals, probes):
    """The binned equi-join restatement must equal the naive cross-join
    BETWEEN filter on arbitrary interval layouts (overlaps, duplicates,
    zero-length, containment)."""
    import datetime as dt

    from pyspark.sql import functions as F

    from real_big_data_project_spark.operators.joins import interval_join_binned

    base = dt.datetime(2020, 1, 1)
    iv = spark.createDataFrame(
        [(i, base + dt.timedelta(days=s), base + dt.timedelta(days=s + l))
         for i, (s, l) in enumerate(intervals)],
        "window_id int, w_start timestamp_ntz, w_end timestamp_ntz",
    )
    pr = spark.createDataFrame(
        [(j, base + dt.timedelta(days=d, hours=j % 24))
         for j, d in enumerate(probes)],
        "probe_id int, ts timestamp_ntz",
    )
    got = {
        (r.probe_id, r.window_id)
        for r in interval_join_binned(pr, iv, "ts", "w_start", "w_end").collect()
    }
    naive = {
        (r.probe_id, r.window_id)
        for r in pr.crossJoin(iv)
        .filter(F.col("ts").between(F.col("w_start"), F.col("w_end")))
        .collect()
    }
    assert got == naive


@given(
    st.lists(st.tuples(st.integers(0, 2), st.integers(0, 50), st.integers(0, 500)),
             min_size=1, max_size=25),  # left rows: (key, t, id-ish)
    st.lists(st.tuples(st.integers(0, 2), st.integers(0, 50), st.integers(0, 500)),
             min_size=0, max_size=25),  # right rows: (key, t, payload)
)
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_asof_join_matches_naive(spark, left_rows, right_rows):
    """asof_join_backward == the naive per-left-row 'latest right with
    rt <= lt' rule, including duplicate timestamps on the right (max
    payload wins per the operator's total ordering)."""
    import datetime as dt

    from real_big_data_project_spark.operators.joins import asof_join_backward

    base = dt.datetime(2020, 1, 1)
    # event_id is the row's IDENTITY in the got/want comparison, so it
    # must be collision-free: i*10+n collided for (i=383, n=0) vs
    # (i=382, n=10) and the two dicts then disagreed on last-write-wins
    # (found by hypothesis). n < 25 ≪ 1000, so n*1000 + i is unique
    # while keeping i's variety in the tiebreak column.
    lid = [(k, base + dt.timedelta(minutes=t), n * 1000 + i)
           for n, (k, t, i) in enumerate(left_rows)]
    rid = [(k, base + dt.timedelta(minutes=t), float(p))
           for k, t, p in right_rows]
    left = spark.createDataFrame(lid, "key int, ts timestamp_ntz, event_id int")
    right = spark.createDataFrame(rid, "key int, ts timestamp_ntz, value double")
    out = asof_join_backward(left, right, key="key", ts="ts",
                             right_values=["value"], tiebreak="event_id")
    got = {(r.event_id): r.asof_value for r in out.collect()}

    want = {}
    for k, lt, eid in lid:
        cands = [(rt, p) for (rk, rt, p) in rid if rk == k and rt <= lt]
        # operator contract: latest ts wins; among duplicate ts, max payload
        want[eid] = max(cands)[1] if cands else None
    assert got == want


@given(st.lists(st.tuples(st.integers(0, 30), st.integers(0, 30)),
                min_size=0, max_size=40))
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_connected_components_matches_union_find(spark, pairs):
    """Star-rounds connected components == a plain Python union-find on
    arbitrary small graphs (self-loops, duplicate edges, both
    orientations all allowed)."""
    from real_big_data_project_spark.datapipe.components import connected_components

    edges = spark.createDataFrame(
        pairs or [(0, 0)], "src long, dst long"
    )
    got = {
        (r.node, r.component_id)
        for r in connected_components(edges, "src", "dst").collect()
    }

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in (pairs or [(0, 0)]):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {(n, find(n)) for n in parent}
    assert got == want


@given(
    st.lists(st.tuples(st.integers(0, 8), st.floats(0, 100, width=16)),
             min_size=0, max_size=20),
    st.lists(st.tuples(st.integers(0, 10), st.sampled_from(["U", "D", "I"]),
                       st.integers(1, 5), st.floats(0, 100, width=16)),
             min_size=0, max_size=25),
)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_merge_upsert_matches_dict_reference(spark, snap_rows, log_rows):
    """merge_upsert == a plain Python dict apply for arbitrary snapshots
    and change logs (duplicate seqs resolved by the (seq, op) order)."""
    from real_big_data_project_spark.operators.merge import (
        merge_upsert, resolve_change_log)

    snap_rows = list({k: (k, v) for k, v in snap_rows}.values())  # unique keys
    snap = spark.createDataFrame(snap_rows or [(99, 0.0)], "k long, v double")
    log = spark.createDataFrame(
        log_rows or [(99, "D", 1, 0.0)], "k long, op string, seq int, v double"
    )
    got = {r.k: r.v for r in
           merge_upsert(snap, resolve_change_log(log, "k"), "k").collect()}

    state = dict(snap_rows or [(99, 0.0)])
    winners: dict[int, tuple] = {}
    for k, op, seq, v in (log_rows or [(99, "D", 1, 0.0)]):
        cur = winners.get(k)
        if cur is None or (seq, op, v) > cur:
            winners[k] = (seq, op, v)
    for k, (seq, op, v) in winners.items():
        if op == "D":
            state.pop(k, None)
        else:
            state[k] = v
    assert got == state


@given(st.lists(st.floats(-50, 50, width=16), min_size=1, max_size=12))
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_ewma_matches_pandas_ewm(spark, values):
    """For series no longer than the window, the truncated EWMA equals
    pandas ewm(alpha, adjust=False) exactly (same recurrence, same
    seed)."""
    import pandas as pd
    import pytest

    from real_big_data_project_spark.operators.windows import ewma

    df = spark.createDataFrame(
        [(1, i, float(v)) for i, v in enumerate(values)],
        "k long, i long, v double",
    )
    got = {r.i: r.ewma
           for r in ewma(df, "k", "i", "v", alpha=0.1, window=12).collect()}
    want = pd.Series(values).ewm(alpha=0.1, adjust=False).mean()
    for i, w in enumerate(want):
        assert got[i] == pytest.approx(w, rel=1e-12)
