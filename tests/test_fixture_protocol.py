"""Direct tests of the shared fixture-caching protocol
(registry.ensure_fixture and its parquet wrapper ensure_parquet_fixture)
— cache hit, params keying, corpse recovery, the concurrent-winner
interleave the round-7 review hardened (cleanup must never delete a
winner's valid publish), and builds that fail part-way."""

from __future__ import annotations

import hashlib
import os
import shutil

import pytest

from real_big_data_project_spark.sources.registry import (
    ARTIFACTS,
    ensure_fixture,
    ensure_parquet_fixture,
    fixture_tag,
)


def _fixture_path(name: str, sf_dir: str, params: str) -> str:
    sig = hashlib.sha1(params.encode()).hexdigest()[:10]
    return os.path.join(ARTIFACTS, f"{name}_{fixture_tag(sf_dir)}_{sig}")


@pytest.fixture()
def clean(sf_dir):
    """Remove any prior test-fixture dirs for a clean slate."""
    def _clean():
        for n in os.listdir(ARTIFACTS):
            if n.startswith("fxtest_"):
                shutil.rmtree(os.path.join(ARTIFACTS, n), ignore_errors=True)
    _clean()
    yield
    _clean()


def test_fixture_builds_once_then_serves_cache(spark, sf_dir, clean):
    calls = []

    def build():
        calls.append(1)
        return spark.range(7).toDF("v")

    params = "a=1|b=2"
    df1 = ensure_parquet_fixture(spark, "fxtest_basic", sf_dir, params, build)
    df2 = ensure_parquet_fixture(spark, "fxtest_basic", sf_dir, params, build)
    assert len(calls) == 1  # second call was a cache hit
    assert df1.count() == df2.count() == 7


def test_fixture_params_change_rebuilds_at_new_path(spark, sf_dir, clean):
    mk = lambda n: (lambda: spark.range(n).toDF("v"))  # noqa: E731
    a = ensure_parquet_fixture(spark, "fxtest_key", sf_dir, "thr=0.6", mk(3))
    b = ensure_parquet_fixture(spark, "fxtest_key", sf_dir, "thr=0.7", mk(5))
    # retuned grading constant -> different dir, both readable
    assert a.count() == 3 and b.count() == 5
    assert os.path.isdir(_fixture_path("fxtest_key", sf_dir, "thr=0.6"))
    assert os.path.isdir(_fixture_path("fxtest_key", sf_dir, "thr=0.7"))


def test_fixture_corpse_dir_is_recovered(spark, sf_dir, clean):
    """A dir at the final path WITHOUT _SUCCESS (pre-hardening race
    leftovers, or success markers disabled) must be replaced by a fresh
    build — not read forever, not ENOTEMPTY-fail forever."""
    params = "x=1"
    out = _fixture_path("fxtest_corpse", sf_dir, params)
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "part-stale.parquet"), "w") as f:
        f.write("not parquet at all")  # a torn partial write
    got = ensure_parquet_fixture(
        spark, "fxtest_corpse", sf_dir, params,
        lambda: spark.range(4).toDF("v"),
    )
    assert got.count() == 4
    assert os.path.exists(os.path.join(out, "_SUCCESS"))
    assert not os.path.exists(os.path.join(out, "part-stale.parquet"))


def test_fixture_loser_defers_to_winner_and_never_deletes_it(
        spark, sf_dir, clean):
    """Deterministic concurrent-winner interleave: the winner publishes
    while the loser is still building. The loser's rename fails, it must
    read the winner's copy — and crucially must NOT delete it (the
    round-7 review found the pre-build cleanup could)."""
    params = "race=1"
    out = _fixture_path("fxtest_race", sf_dir, params)

    def build_and_lose():
        # winner publishes first, mid-"build" of the loser
        winner_tmp = f"{out}.winner"
        spark.range(9).toDF("v").write.mode("error").parquet(winner_tmp)
        os.rename(winner_tmp, out)
        return spark.range(2).toDF("v")  # the loser's (smaller) frame

    got = ensure_parquet_fixture(
        spark, "fxtest_race", sf_dir, params, build_and_lose)
    # the WINNER's 9-row copy survives and is what everyone reads
    assert got.count() == 9
    assert os.path.exists(os.path.join(out, "_SUCCESS"))


def test_fixture_stale_recovery_lock_is_stolen(spark, sf_dir, clean):
    """A .recovery.lock leaked by a killed process (e.g. bench's
    fresh-top5 children die at a 240 s subprocess timeout) must not wedge
    the cache key forever: a builder that finds a lock older than the TTL
    steals it, completes the recovery, and publishes (ADVICE r8)."""
    import real_big_data_project_spark.sources.registry as reg

    params = "stale=1"
    out = _fixture_path("fxtest_stalelock", sf_dir, params)
    # plant a corpse dir (no _SUCCESS) so the recovery path engages...
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "part-stale.parquet"), "w") as f:
        f.write("torn write")
    # ...and a leaked lock whose holder died long ago
    lock = f"{out}.recovery.lock"
    with open(lock, "w"):
        pass
    old = os.stat(lock).st_mtime - (reg._RECOVERY_LOCK_TTL + 60)
    os.utime(lock, (old, old))

    got = ensure_parquet_fixture(
        spark, "fxtest_stalelock", sf_dir, params,
        lambda: spark.range(6).toDF("v"),
    )
    assert got.count() == 6
    assert os.path.exists(os.path.join(out, "_SUCCESS"))
    assert not os.path.exists(lock)  # stolen and released, not leaked


def test_fixture_fresh_recovery_lock_is_respected(spark, sf_dir, clean):
    """A lock NEWER than the TTL must not be stolen: the waiter defers to
    the (apparently live) holder — here the 'holder' publishes a valid
    fixture mid-wait, and the waiter reads it instead of clobbering."""
    import threading

    params = "fresh=1"
    out = _fixture_path("fxtest_freshlock", sf_dir, params)
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "part-stale.parquet"), "w") as f:
        f.write("torn write")
    lock = f"{out}.recovery.lock"
    with open(lock, "w"):
        pass  # fresh mtime — a live recoverer

    def holder_publishes():
        # Simulate the live lock holder finishing its recovery — but only
        # once the waiter is provably IN its wait loop (its .build.* tmp
        # dir appeared, then was discarded by the waiter branch), so the
        # publish cannot race the waiter's own rename attempt.
        import glob as _g
        import time as _t

        seen_tmp = False
        deadline = _t.monotonic() + 60
        while _t.monotonic() < deadline:
            if _g.glob(f"{out}.build.*"):
                seen_tmp = True
            elif seen_tmp:
                break  # tmp created then removed -> waiter is waiting
            _t.sleep(0.05)
        shutil.rmtree(out, ignore_errors=True)
        tmp = f"{out}.holder"
        spark.range(11).toDF("v").write.mode("error").parquet(tmp)
        os.rename(tmp, out)
        os.unlink(lock)

    t = threading.Thread(target=holder_publishes)
    t.start()
    try:
        got = ensure_parquet_fixture(
            spark, "fxtest_freshlock", sf_dir, params,
            lambda: spark.range(2).toDF("v"),
        )
    finally:
        t.join()
    assert got.count() == 11  # the holder's publish won; no steal


class _Cut(Exception):
    """Stands in for a process killed part-way through a fixture build."""


def test_failed_build_leaves_nothing_and_next_call_builds(
        spark, sf_dir, clean):
    """A build_into that raises must leave neither the final dir nor a
    .build.* sibling behind, and the next call must build the fixture."""
    out = _fixture_path("fxtest_fail", sf_dir, "")

    def build_then_fail(tmp):
        spark.range(3).toDF("v").write.parquet(tmp)
        raise _Cut

    with pytest.raises(_Cut):
        ensure_fixture("fxtest_fail", sf_dir, build_then_fail)
    assert not os.path.exists(out)
    assert not [n for n in os.listdir(ARTIFACTS)
                if n.startswith(os.path.basename(out) + ".build.")]

    got = ensure_fixture(
        "fxtest_fail", sf_dir,
        lambda tmp: spark.range(5).toDF("v").write.parquet(tmp),
    )
    assert got == out
    assert spark.read.parquet(got).count() == 5


def test_interrupted_tsv_build_is_rebuilt_with_its_malformed_lines(
        spark, sf_dir, tmp_path, monkeypatch):
    """Cut ensure_nation_tsv off after Spark's CSV write, with the
    malformed-lines file only half written. The next call must not serve
    that fixture: the quarantine has to capture both malformed lines.
    Runs on a private copy of the sf dir, so the shared fixture is not
    touched."""
    from real_big_data_project_spark.sources import csv_source

    private = tmp_path / "sf_private"
    private.mkdir()
    shutil.copyfile(os.path.join(sf_dir, "nation.parquet"),
                    private / "nation.parquet")
    prefix = f"nation_tsv_{fixture_tag(str(private))}"

    class _TornFile:
        """Lets the header line through, then dies mid-file."""

        def __init__(self, fh):
            self.fh = fh

        def __enter__(self):
            return self

        def __exit__(self, *exc):
            self.fh.close()

        def write(self, text):
            if self.fh.tell():
                raise _Cut
            self.fh.write(text)

    def torn_open(path, *args, **kwargs):
        fh = open(path, *args, **kwargs)
        if os.path.basename(path) == "zz_malformed.csv":
            return _TornFile(fh)
        return fh

    monkeypatch.setattr(csv_source, "open", torn_open, raising=False)
    try:
        with pytest.raises(_Cut):
            csv_source.ensure_nation_tsv(spark, str(private))
        monkeypatch.undo()
        path = csv_source.ensure_nation_tsv(spark, str(private))
        _clean, quarantine = csv_source.read_nation_tsv_with_quarantine(
            spark, path)
        bad = [r._corrupt_record for r in quarantine.collect()]
        assert len(bad) == 2
        assert any("no tabs" in b for b in bad)
    finally:
        for n in os.listdir(ARTIFACTS):
            if n.startswith(prefix):
                shutil.rmtree(os.path.join(ARTIFACTS, n), ignore_errors=True)


def test_snapshot_store_many_writer_cas(spark, tmp_path):
    """N racing appends through the optimistic CAS: every commit lands,
    serialized — the bounded-retry loop converges with real contention,
    not just the 2-writer case."""
    import threading

    from real_big_data_project_spark.sources.snapshot_store import (
        latest_version, read_snapshot, snapshot_append,
    )

    root = str(tmp_path / "many_cas")
    n_writers = 6
    barrier = threading.Barrier(n_writers)
    errors: list[Exception] = []

    def writer(i: int) -> None:
        df = spark.createDataFrame([(i, j) for j in range(5)],
                                   "writer int, j int")
        try:
            barrier.wait(timeout=60)
            snapshot_append(df, root)
        except Exception as exc:  # surfaces in the main thread
            errors.append(exc)

    threads = [threading.Thread(target=writer, args=(i,))
               for i in range(n_writers)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
        assert not t.is_alive()
    assert not errors, errors
    assert latest_version(root) == n_writers  # all serialized, none lost
    rows = read_snapshot(spark, root).collect()
    per = {i: len([r for r in rows if r.writer == i])
           for i in range(n_writers)}
    assert per == {i: 5 for i in range(n_writers)}
