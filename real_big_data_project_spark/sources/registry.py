"""Testdata table registry: parquet scans + temp-view registration.

Mirrors the reference's source layer (SQL source ``df_query``,
etl/timescaledb_model.py:378-398) — here every table is a lazy parquet scan
registered as a temp view so the full Catalyst SQL surface works over it.

The ``events`` table plays the reference's tick table ``stocks``
(etl/timescaledb_model.py:256-263): user_id ⇒ cid, value ⇒ price, and a
deterministic synthetic volume ``(event_id % 1000) + 1`` (the raw feed has a
volume column; the synthetic testdata does not, so we derive one — see
FIXTURES.md §B).
"""

from __future__ import annotations

import glob as _glob
import hashlib
import os
import time
from functools import lru_cache as _lru_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import ensure_session_confs

# The repo-local cache root every derived fixture lives under.
ARTIFACTS = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))), "_artifacts")


def fixture_tag(sf_dir: str) -> str:
    """Artifact-cache tag for a scale-factor dir: readable basename plus a
    short hash of the ABSOLUTE path and a stat signature (relative path,
    mtime, size) of EVERY file under the dir, recursively, prefixed with
    the file count. Two sf dirs sharing a basename can never collide, and
    a driver REGENERATION of the testdata in place (same path, new files —
    it happens every round) invalidates every derived fixture instead of
    silently serving stale copies — including regenerations that switch to
    directory-shaped parquet datasets, add non-parquet inputs, or rewrite
    a file preserving mtime+size (the count and path set still shift)."""
    norm = os.path.normpath(os.path.abspath(sf_dir))
    h = hashlib.sha1(norm.encode())
    files = sorted(
        p
        for p in _glob.glob(os.path.join(norm, "**", "*"), recursive=True)
        if os.path.isfile(p)
    )
    h.update(f"n={len(files)}".encode())
    for p in files:
        st = os.stat(p)
        rel = os.path.relpath(p, norm)
        h.update(f"{rel}:{st.st_mtime_ns}:{st.st_size}".encode())
    return f"{os.path.basename(norm)}_{h.hexdigest()[:10]}"


# Recovery-lock staleness TTL. The lock guards only renames/rmtrees (no
# builds happen inside it), so a healthy holder releases in well under a
# second; a lock this old means its holder was killed (bench fresh-top5
# children die at a 240 s subprocess timeout) and must be stolen, or the
# cache key would stay wedged forever (ADVICE r8).
_RECOVERY_LOCK_TTL = 120.0


def _try_recovery_lock(lock: str) -> int | None:
    try:
        return os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except OSError:
        return None  # another recoverer owns the window


def _recovery_lock_age(lock: str) -> float:
    """Seconds since the lock file was created, or -1 if it is gone
    (a vanished lock is a released one, never 'stale')."""
    try:
        return time.time() - os.stat(lock).st_mtime
    except OSError:
        return -1.0


def fixture_path(name: str, sf_dir: str, params: str = "") -> str:
    """Where ``ensure_fixture`` publishes ``name`` for these inputs."""
    sig = hashlib.sha1(params.encode()).hexdigest()[:10]
    return os.path.join(ARTIFACTS, f"{name}_{fixture_tag(sf_dir)}_{sig}")


def ensure_fixture(name: str, sf_dir: str, build_into, params: str = "") -> str:
    """The ONE publish path for every derived fixture dir under
    ``ARTIFACTS`` (source-format scans, ground-truth and index tables,
    the snapshot store, the tick store, the streaming landing dir) —
    the Derby database of ``sinks.ensure_nation_jdbc`` is the only
    in-place build. Returns the published dir. Two invariants:

    * **Full cache key.** Path = ``<name>_<fixture_tag(sf_dir)>_<sha1 of
      params>``: ``params`` must fold in EVERY constant the contents
      depend on (thresholds, rounding dp, probe strides, seeds), so
      changing a grading constant rebuilds the fixture instead of
      silently serving truth computed under the old constant while the
      inline oracle recomputes under the new one.
    * **Atomic publish.** ``build_into(tmp)`` writes the WHOLE fixture
      into a unique sibling dir that does not exist yet (Spark's default
      error mode refuses an existing one); only after it returns is
      ``_SUCCESS`` written and the dir ``os.rename``d into place. A build
      that raises is removed, so a fixture cut short between two of its
      writes (Spark's output, then a hand-written file) is never served.
      Concurrent builders (pytest + bench, or bench's fresh-top5 child
      processes) cannot mix part files in one dir: the loser's rename
      fails (target exists), its temp dir is discarded, and it reads the
      winner's complete copy.

    ``build_into`` is only invoked on a cache miss.
    """
    import shutil
    import uuid as _uuid

    out = fixture_path(name, sf_dir, params)
    success = os.path.join(out, "_SUCCESS")
    if not os.path.exists(success):
        tmp = f"{out}.build.{_uuid.uuid4().hex}"
        try:
            build_into(tmp)
            open(os.path.join(tmp, "_SUCCESS"), "w").close()
        except BaseException:
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        try:
            os.rename(tmp, out)
        except OSError:
            if os.path.exists(success):
                # a concurrent builder published first; ours is redundant
                shutil.rmtree(tmp, ignore_errors=True)
            else:
                # A dir at `out` WITHOUT _SUCCESS is a corpse
                # (pre-hardening overwrite race, or markers disabled):
                # left in place it would fail every rename with
                # ENOTEMPTY and the stale possibly-partial dir would be
                # read forever. Handled HERE, not before the build —
                # a pre-build existence check followed by rmtree would
                # race the whole build duration against a concurrent
                # winner and could delete its valid publish (review
                # finding, round 7). Recovery is SERIALIZED by an
                # O_CREAT|O_EXCL lock file (round-7 advice: two
                # concurrent recoverers could otherwise rename-aside and
                # delete each other's just-published valid fixture), and
                # a renamed-aside dir that turns out to carry _SUCCESS —
                # a winner that published between our marker check and
                # the aside rename — is renamed BACK, never deleted.
                lock = f"{out}.recovery.lock"
                lock_fd = _try_recovery_lock(lock)
                if (lock_fd is None
                        and _recovery_lock_age(lock) > _RECOVERY_LOCK_TTL):
                    # The holder died mid-recovery (e.g. a bench
                    # fresh-top5 child killed at its subprocess timeout).
                    # The critical section is sub-second renames with no
                    # builds inside, so a lock this old is a corpse, not
                    # a slow worker — steal it so one crash cannot
                    # permanently wedge this cache key (ADVICE r8).
                    try:
                        os.unlink(lock)
                    except OSError:
                        pass  # holder released or another stealer won
                    lock_fd = _try_recovery_lock(lock)
                if lock_fd is None:
                    # The lock holder will either republish or expose a
                    # winner; our copy is redundant. Wait (bounded) for
                    # their _SUCCESS rather than failing spuriously.
                    shutil.rmtree(tmp, ignore_errors=True)
                    deadline = time.monotonic() + 120.0
                    while (not os.path.exists(success)
                           and time.monotonic() < deadline):
                        time.sleep(0.1)
                    if (not os.path.exists(success)
                            and _recovery_lock_age(lock)
                            > _RECOVERY_LOCK_TTL):
                        # The holder crashed AFTER we chose to wait: we
                        # already dropped our tmp so we cannot publish,
                        # but unlinking the corpse lock lets the NEXT
                        # builder recover instead of inheriting the
                        # wedge (ADVICE r8).
                        try:
                            os.unlink(lock)
                        except OSError:
                            pass
                else:
                    try:
                        if os.path.exists(success):
                            # winner published while we queued for the
                            # lock — ours is redundant
                            shutil.rmtree(tmp, ignore_errors=True)
                        else:
                            aside = f"{out}.corpse.{_uuid.uuid4().hex}"
                            try:
                                os.rename(out, aside)
                            except OSError:
                                pass  # vanished meanwhile — retry decides
                            if os.path.exists(
                                    os.path.join(aside, "_SUCCESS")):
                                # not a corpse: a valid publish landed in
                                # the check->rename window. Restore it.
                                shutil.rmtree(tmp, ignore_errors=True)
                                try:
                                    os.rename(aside, out)
                                except OSError:
                                    # out reappeared (third publisher) —
                                    # theirs wins, drop our aside copy
                                    shutil.rmtree(
                                        aside, ignore_errors=True)
                            else:
                                shutil.rmtree(aside, ignore_errors=True)
                                try:
                                    os.rename(tmp, out)
                                except OSError:
                                    # a winner slipped in between aside
                                    # and retry — ours is redundant;
                                    # anything else (EACCES, EXDEV, ...)
                                    # must surface, not a later
                                    # path-not-found
                                    shutil.rmtree(tmp, ignore_errors=True)
                                    if not os.path.exists(success):
                                        raise
                    finally:
                        os.close(lock_fd)
                        try:
                            os.unlink(lock)
                        except OSError:
                            pass
    if not os.path.exists(success):
        raise RuntimeError(
            f"fixture publish left no _SUCCESS marker at {out!r}"
        )
    return out


def ensure_parquet_fixture(
    spark: SparkSession,
    name: str,
    sf_dir: str,
    params: str,
    build,
) -> DataFrame:
    """``ensure_fixture`` for one DataFrame: ``build`` is a zero-arg
    callable returning the frame to persist as parquet (invoked only on a
    cache miss); returns the cached copy read back."""
    out = ensure_fixture(
        name, sf_dir, lambda tmp: build().write.parquet(tmp), params
    )
    return spark.read.parquet(out)


TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# events.ts has shipped as parquet TIMESTAMP(NANOS) in some rounds of the
# driver-generated testdata (scanned as an epoch-nanos bigint under
# nanosAsLong) and TIMESTAMP(MICROS) in others. Sniff the footer once per
# path instead of hard-coding a unit: a raw int64 scan divided by the
# sniffed divisor yields epoch-micros either way, and the NTZ rebuild is
# purely arithmetic (no session-timezone involvement). The generator only
# emits whole microseconds, so the ns->us division is lossless.


def events_ts_divisor(path: str, glob_pat: str = "events.parquet") -> int:
    """Divisor turning a raw int64 `ts` scan into epoch-MICROseconds:
    1000 for a TIMESTAMP(NANOS) file, 1 for TIMESTAMP(MICROS).

    `path` is the events parquet file, a scale-factor dir containing
    `events.parquet`, or a landing dir of copies of it (first parquet in
    sorted order decides — landing fixtures replicate one source file, so
    units never mix within a dir).

    Fails LOUDLY on any physical type other than TIMESTAMP(NANOS/MICROS)
    — a silent default here would mean silently 1000x-wrong timestamps in
    every events query if a future round ships a new shape. Memoized on
    the resolved file's (path, mtime, size) so the per-call cost is a
    dict lookup, while an in-place testdata regeneration still re-sniffs.
    """
    if os.path.isfile(path):
        f = path
    else:
        cands = sorted(_glob.glob(os.path.join(path, glob_pat))) or sorted(
            _glob.glob(os.path.join(path, "*.parquet"))
        )
        if not cands:
            raise FileNotFoundError(f"no parquet files under {path!r}")
        f = cands[0]
    st = os.stat(f)
    return _sniff_ts_unit(f, st.st_mtime_ns, st.st_size)


@_lru_cache(maxsize=64)
def _sniff_ts_unit(f: str, mtime_ns: int, size: int) -> int:
    import pyarrow.parquet as pq

    t = pq.read_schema(f).field("ts").type
    unit = getattr(t, "unit", None)
    if unit not in ("ns", "us"):
        raise TypeError(
            f"events.ts in {f!r} has physical type {t!r} (unit {unit!r}); "
            "only TIMESTAMP(NANOS) and TIMESTAMP(MICROS) are understood — "
            "refusing to guess a divisor"
        )
    return {"ns": 1000, "us": 1}[unit]


def ts_long_to_ntz(divisor: int, col: str = "ts") -> str:
    """SQL expr rebuilding TIMESTAMP_NTZ from a raw int64 epoch scan."""
    return (
        f"timestampadd(MICROSECOND, {col} div {divisor},"
        " TIMESTAMP_NTZ '1970-01-01 00:00:00')"
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy scan of one testdata table, with type repairs applied."""
    ensure_session_confs(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn(
            "ts", F.expr(ts_long_to_ntz(events_ts_divisor(sf_dir)))
        )
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every table as a temp view — the engine's catalog.

    This is the Spark restatement of the reference's "connect + DDL" step
    (etl/timescaledb_model.py:218-294): instead of CREATE TABLE + hypertable
    DDL, views over columnar parquet; Catalyst provides pruning/pushdown.
    """
    tables = load_tables(spark, sf_dir)
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    return tables


def events_with_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events + derived positive volume (FIXTURES.md §B convention)."""
    return load_table(spark, sf_dir, "events").withColumn(
        "volume", (F.col("event_id") % 1000 + 1).cast("long")
    )
