"""Seeded input generators for the four benchmark workloads.

Every generator is a pure function of (seed, size): the same pair always
writes the same bytes, so a generated input directory is cached under
``.bench_build/perfbench/inputs/<workload>-s<seed>-<size>-v<N>`` and reused.
The engine only ever sees the files written here.

    python3 perfbench/gen.py --workload ingest --seed 7 --size full

prints the input directory (generating it first when it is missing).
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
INPUTS = os.path.join(WORK, "inputs")

# Bumped whenever a generator's output changes, so stale cached inputs
# are never reused.
GEN_VERSION = 4

# Per-workload input sizes. `full` is what the timed runs use; `tiny` is
# the self-test's. Keys are the generator keyword arguments.
SIZES = {
    "ingest": {
        "full": dict(n_ticks=400_000, n_symbols=200, n_days=20, n_listings=20),
        "tiny": dict(n_ticks=3_000, n_symbols=20, n_days=5, n_listings=4),
    },
    "dashboard": {
        "full": dict(n_ticks=60_000, n_symbols=150, n_days=120, n_listings=10),
        "tiny": dict(n_ticks=3_000, n_symbols=10, n_days=30, n_listings=2),
    },
    "corpus": {
        "full": dict(n_docs=10_000),
        "tiny": dict(n_docs=600),
    },
    "stream": {
        "full": dict(n_chunks=8, events_per_chunk=1_250, n_users=150, n_days=10),
        "tiny": dict(n_chunks=3, events_per_chunk=200, n_users=20, n_days=3),
    },
}

# --- market feed (ingest, dashboard) ---------------------------------------

# Boursorama symbol prefixes the engine strips (schemas.MARKET_PREFIXES)
# plus bare symbols; drawn unevenly like a real scrape.
_PREFIXES = np.array(["1rP", "1rA", "1u", "1g", "FF55-", "1z", "FF11_", "1b", ""])
_ALIASES = np.array(["paris", "amsterdam", "lse", "milano", "mercados", "xetra",
                     "bruxelle", "bruxelle", "paris"])
_PREFIX_P = np.array([0.40, 0.12, 0.10, 0.08, 0.06, 0.06, 0.06, 0.02, 0.10])
_EPOCH = dt.datetime(2024, 1, 1)
_OPEN_S, _SESSION_S = 9 * 3600, 8 * 3600 + 1800


def _letters(i: int) -> str:
    s = ""
    for _ in range(4):
        s = chr(65 + i % 26) + s
        i //= 26
    return s


def _price_strings(values: np.ndarray, rng: np.random.Generator) -> list[str]:
    """Locale-dirty price strings that all scrub back to `values`
    ('12,34', '12.34', '12,34 (c)', ' 12.34')."""
    kind = rng.integers(0, 4, size=len(values))
    out = []
    for v, k in zip(values.tolist(), kind.tolist()):
        s = f"{v:.2f}"
        if k == 0:
            s = s.replace(".", ",")
        elif k == 2:
            s = s.replace(".", ",") + " (c)"
        elif k == 3:
            s = " " + s
        out.append(s)
    return out


def market_feed(out: str, seed: int, n_ticks: int, n_symbols: int,
                n_days: int, n_listings: int) -> dict:
    """raw_snapshots.parquet (symbol, name, last, volume, isin, alias, ts)
    and euronext.tsv. (symbol, ts) is unique, normalized symbols are
    unique, and about 1.5% of rows carry a bad price, a negative price or
    a zero volume that cleansing must drop."""
    rng = np.random.default_rng([seed, 1])
    market = rng.choice(len(_PREFIXES), size=n_symbols, p=_PREFIX_P)
    prefix = _PREFIXES[market]
    suffix = [_letters(i) for i in range(n_symbols)]
    symbols = np.array([p + s for p, s in zip(prefix, suffix)])
    srd = rng.random(n_symbols) < 0.3
    names = np.array([("SRD " if r else "") + f"Company {s}"
                      for r, s in zip(srd, suffix)])
    isins = np.array([f"FR{i:010d}" for i in range(n_symbols)])
    # uneven activity: a few symbols tick far more than the rest
    weight = rng.pareto(1.5, size=n_symbols) + 1.0
    per_sd = weight[:, None] * np.ones((1, n_days))
    per_sd = np.maximum(1, np.round(per_sd / per_sd.sum() * n_ticks)).astype(int)
    per_sd = np.minimum(per_sd, _SESSION_S)
    sym_idx = np.repeat(np.repeat(np.arange(n_symbols), n_days), per_sd.ravel())
    day_idx = np.repeat(np.tile(np.arange(n_days), n_symbols), per_sd.ravel())
    n = len(sym_idx)
    # j-th tick of k in a (symbol, day): evenly spaced slot + jitter inside
    # the slot -> strictly increasing, unique timestamps per symbol
    k = np.repeat(per_sd.ravel(), per_sd.ravel())
    starts = np.repeat(np.cumsum(per_sd.ravel()) - per_sd.ravel(), per_sd.ravel())
    j = np.arange(n) - starts
    slot = _SESSION_S // k
    sec = _OPEN_S + j * slot + (rng.random(n) * slot).astype(int)
    us = (day_idx * 86400 + sec) * 1_000_000
    ts = np.datetime64(_EPOCH, "us") + us.astype("timedelta64[us]")
    # per-symbol multiplicative random walk, 2-dp prices
    base = np.exp(rng.uniform(np.log(5), np.log(500), size=n_symbols))
    steps = rng.normal(0, 0.002, size=n)
    walk = np.cumsum(steps)
    first = np.searchsorted(sym_idx, np.arange(n_symbols))
    walk -= np.repeat(walk[first] - steps[first], np.bincount(sym_idx, minlength=n_symbols))
    price = np.round(base[sym_idx] * np.exp(walk), 2).clip(0.01)
    last = _price_strings(price, rng)
    volume = rng.integers(1, 5000, size=n).astype(np.int64)
    bad = rng.random(n)
    for i in np.flatnonzero(bad < 0.005):
        last[i] = "n/a"
    for i in np.flatnonzero((bad >= 0.005) & (bad < 0.008)):
        last[i] = "-" + last[i].strip()
    volume[(bad >= 0.008) & (bad < 0.015)] = 0
    alias = _ALIASES[market]
    order = np.argsort(us, kind="stable")  # the feed arrives snapshot by snapshot
    table = pa.table({
        "symbol": pa.array(symbols[sym_idx][order]),
        "name": pa.array(names[sym_idx][order]),
        "last": pa.array(np.array(last, dtype=object)[order], pa.string()),
        "volume": pa.array(volume[order], pa.int64()),
        "isin": pa.array(isins[sym_idx][order]),
        "alias": pa.array(alias[sym_idx][order]),
        "ts": pa.array(ts[order], pa.timestamp("us")),
    })
    pq.write_table(table, os.path.join(out, "raw_snapshots.parquet"),
                   row_group_size=16_384)
    markets = ["Euronext Paris", "Euronext Amsterdam", "Euronext Brussels"]
    with open(os.path.join(out, "euronext.tsv"), "w") as f:
        f.write("Symbol\tName\tLast\tVolume\tISIN\tMarket\n")
        for i in range(n_listings):
            price = f"{rng.uniform(5, 90):.2f}".replace(".", ",")
            volume = f"{int(rng.integers(1_000, 900_000)):,}".replace(",", " ")
            f.write(f"EN{i:04d}\tSRD Listed {i}\t{price}\t{volume}"
                    f"\tNL{i:010d}\t{markets[i % 3]}\n")
    return {"ticks": n, "symbols": n_symbols, "days": n_days,
            "first_day": str(_EPOCH.date()), "listings": n_listings}


# --- organic corpus ------------------------------------------------------------

_CONS, _VOW = "bcdfghjklmnpqrstvwz", "aeiou"
_LANGS = np.array(["en", "zh", "fr", "es", "de"])
_LANG_P = np.array([0.40, 0.15, 0.15, 0.15, 0.15])
# function words of each language (the engine's language guess keys on
# them), sprinkled into a document at _MARKER_RATE of its token positions
_MARKERS = np.array([["the", "of", "and"], ["的", "了", "是"], ["le", "de", "et"],
                     ["el", "de", "y"], ["der", "und", "die"]])
_MARKER_RATE = 0.08


def _vocab(seed: int, n: int = 4096) -> np.ndarray:
    """4096 pronounceable 4-8 letter words: large enough that two random
    documents share almost no 3-shingles, so the only near-duplicates
    are the ones the capstone plants."""
    rng = np.random.default_rng([seed, 4096])
    words, seen = [], set()
    while len(words) < n:
        w = "".join(_CONS[rng.integers(0, len(_CONS))] + _VOW[rng.integers(0, len(_VOW))]
                    for _ in range(int(rng.integers(2, 4))))
        if rng.integers(0, 2):
            w += _CONS[rng.integers(0, len(_CONS))]
        if w not in seen:
            seen.add(w)
            words.append(w)
    return np.array(words)


def corpus(out: str, seed: int, n_docs: int) -> dict:
    """documents.parquet (doc_id, text, lang, source, n_chars): 10-100
    i.i.d. tokens per document plus the function words of its language,
    40% `en`."""
    rng = np.random.default_rng([seed, 2])
    vocab = _vocab(seed)
    lens = rng.integers(10, 101, size=n_docs)
    lang = rng.choice(len(_LANGS), size=n_docs, p=_LANG_P)
    toks = vocab[rng.integers(0, len(vocab), size=int(lens.sum()))].astype(object)
    tok_lang = np.repeat(lang, lens)
    hit = rng.random(len(toks)) < _MARKER_RATE
    toks[hit] = _MARKERS[tok_lang[hit], rng.integers(0, 3, size=int(hit.sum()))]
    texts = [" ".join(d) for d in np.split(toks, np.cumsum(lens)[:-1])]
    table = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(_LANGS[lang], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(table, os.path.join(out, "documents.parquet"), row_group_size=2048)
    return {"docs": n_docs, "tokens": int(lens.sum())}


# --- at-least-once event landing dir -------------------------------------------

_EVENT_TYPES = np.array(["view", "click", "cart", "buy", "error"])


def events(out: str, seed: int, n_chunks: int, events_per_chunk: int,
           n_users: int, n_days: int) -> dict:
    """An at-least-once landing dir: every event arrives twice. Landing
    file k (ordered by mtime) carries chunk k's events and a late
    re-delivery of chunk k-1's, so each micro-batch of one file mixes new
    events with duplicates the same way. `sf/events.parquet` holds each
    event once; event times advance chunk by chunk over `n_days` days."""
    rng = np.random.default_rng([seed, 3])
    n = n_chunks * events_per_chunk
    span_us = n_days * 86400 * 1_000_000
    ts_us = np.sort(rng.integers(0, span_us, size=n))
    user = (rng.zipf(1.6, size=n) - 1) % n_users
    table = pa.table({
        "event_id": pa.array(rng.permutation(n).astype(np.int64)),
        "ts": pa.array(np.datetime64(_EPOCH, "us") + ts_us.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(user.astype(np.int64)),
        "event_type": pa.array(rng.choice(_EVENT_TYPES, size=n), pa.string()),
        "value": pa.array(np.round(rng.uniform(1, 500, size=n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)],
                          pa.string()),
    })
    for d in ("sf", "landing"):
        os.makedirs(os.path.join(out, d))
    pq.write_table(table, os.path.join(out, "sf", "events.parquet"))
    t0 = 1_700_000_000
    for k in range(n_chunks + 1):
        lo = max(0, k - 1) * events_per_chunk
        hi = min(k + 1, n_chunks) * events_per_chunk
        p = os.path.join(out, "landing", f"events-{k:04d}.parquet")
        pq.write_table(table.slice(lo, hi - lo), p)
        os.utime(p, (t0 + k, t0 + k))
    return {"events": n, "chunks": n_chunks, "files": n_chunks + 1,
            "users": n_users, "days": n_days}


_GENERATORS = {"ingest": market_feed, "dashboard": market_feed,
               "corpus": corpus, "stream": events}


def input_dir(workload: str, seed: int, size: str) -> str:
    """Generate (once) and return the cached input dir for (seed, size).
    A `meta.json` written last marks the directory complete."""
    key = f"{workload}-s{seed}-{size}-v{GEN_VERSION}"
    out = os.path.join(INPUTS, key)
    if os.path.exists(os.path.join(out, "meta.json")):
        return out
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    meta = _GENERATORS[workload](tmp, seed, **SIZES[workload][size])
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--size", default="full", choices=("full", "tiny"))
    a = ap.parse_args()
    print(input_dir(a.workload, a.seed, a.size))
    return 0


if __name__ == "__main__":
    sys.exit(main())
