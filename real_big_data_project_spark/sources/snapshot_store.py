"""Manifest-based snapshot table: versioned commits, snapshot-isolated
reads, and time travel over plain parquet — the minimal transactional-
table pattern (the Iceberg/Delta shape) built from immutable files plus
an atomically-flipped pointer. The reference's storage engine keeps
history via hypertables + continuous aggregates; this is the missing
"read the table as it was before last night's load" capability, and the
substrate that makes compaction/deletes SAFE under concurrent readers
(sources/sinks.py rewrites partitions in place — correct for a single
writer, but a reader racing the rewrite can see a partition half-old,
half-new; here a reader pinned to version v never can).

Layout (everything under one root):
  data/c{N}-{uuid}/part-*.parquet   immutable per-commit file groups
  manifests/v{N}.json               snapshot N = ordered list of groups
  _latest                           current version (atomic os.replace)

Invariants:
  * data files are NEVER mutated or deleted by commits — a commit only
    ADDS a file group and writes the next manifest (append: old list +
    new group; delete/compact: a single replacement group);
  * readers resolve a manifest ONCE and read exactly its groups —
    snapshot isolation for free, any historical version stays readable
    until `expire_snapshots` garbage-collects unreferenced groups;
  * commits are OPTIMISTIC compare-and-swap on the manifest file itself
    (round 7, closing the single-writer caveat): the fully-written
    manifest is published via os.link(temp, manifests/v{N}.json), which
    is atomic AND fails with EEXIST if version N was already committed —
    exactly one of any number of racing writers wins a version; losers
    raise CommitConflict and the public ops retry against the new
    current version, so BOTH racing appends land (serialized), no lost
    update. `_latest` is a best-effort HINT for humans/tools;
    `latest_version` derives truth from the manifest directory scan
    (metadata-sized), so a stale or racing hint can never roll the
    table back. A crashed writer leaves at most an unreferenced temp
    manifest / data group — invisible to readers, GC'd by
    `expire_snapshots`.

Driver-side file IO touches ONLY manifest-sized metadata (file-group
names, a version int); row data moves through executor-side
DataFrame reads/writes.

Filesystem assumption: the store root must live on a LOCAL POSIX
filesystem with atomic rename and hard-link support — the CAS commit is
os.link, and rename-atomicity backs `_latest`. Filesystems without hard
links (some network mounts, FUSE object-store shims, exFAT) fail the
commit with a clear OSError naming this requirement, distinguished from
CommitConflict (real contention). An object-store deployment would swap
`_commit` for the store's own conditional-put (S3 If-None-Match, GCS
generation-match) — the manifest protocol above it is unchanged.
"""

from __future__ import annotations

import errno
import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _manifest_path(root: str, version: int) -> str:
    return os.path.join(root, "manifests", f"v{version}.json")


def _read_manifest(root: str, version: int) -> list[str]:
    with open(_manifest_path(root, version)) as f:
        return json.load(f)["groups"]


class CommitConflict(RuntimeError):
    """Another writer committed this version first — re-read the current
    snapshot and retry (the public ops do this automatically)."""


COMMIT_RETRIES = 20  # racing writers on one host settle in 1-2 rounds


def latest_version(root: str) -> int:
    """Current committed version; 0 = empty table (no commits yet).
    Authoritative source = the manifest directory (a manifest file
    exists iff its version committed — see `_commit`); the `_latest`
    hint is never trusted, so a racing writer's stale hint can neither
    hide a commit nor roll the table back."""
    mdir = os.path.join(root, "manifests")
    try:
        names = os.listdir(mdir)
    except FileNotFoundError:
        return 0
    best = 0
    for n in names:
        if n.startswith("v") and n.endswith(".json"):
            try:
                best = max(best, int(n[1:-5]))
            except ValueError:
                continue  # temp files don't parse — not manifests
    return best


def _commit(root: str, version: int, groups: list[str]) -> int:
    """Optimistic CAS commit of manifest ``version + 1``.

    The fully-written manifest is published with os.link(temp, final):
    atomic (the final name appears with complete content or not at all —
    never torn JSON) and EXCLUSIVE (EEXIST if any other writer already
    committed this version). Exactly one racing writer wins;
    the rest get CommitConflict and must rebuild against the NEW current
    version (public ops retry). The `_latest` hint is then refreshed
    best-effort via atomic replace, forward-only no matter the
    interleaving because readers derive truth from the manifest scan.
    tests/test_sinks.py::test_snapshot_store_concurrent_appends_serialize
    pins the behavior (both racing appends land, no lost commit)."""
    os.makedirs(os.path.join(root, "manifests"), exist_ok=True)
    new_v = version + 1
    final = _manifest_path(root, new_v)
    mtmp = final + f".tmp.{uuid.uuid4().hex}"
    with open(mtmp, "w") as f:
        json.dump({"groups": groups}, f)
    try:
        os.link(mtmp, final)  # the CAS: atomic publish, EEXIST on loss
    except FileExistsError:
        raise CommitConflict(
            f"version {new_v} already committed at {root!r}"
        ) from None
    except OSError as exc:
        if exc.errno in (errno.EPERM, errno.EOPNOTSUPP, errno.ENOTSUP,
                         errno.ENOSYS, errno.EXDEV):
            # Filesystem can't hard-link (network mounts, FUSE
            # object-store shims, exFAT): NOT a commit conflict —
            # surface the store's POSIX-local-FS requirement instead of
            # a bare errno a caller would misread as contention
            # (round-7 advice). EACCES is deliberately NOT in this
            # list: from os.link it almost always means plain permission
            # denial on a perfectly capable filesystem, and the
            # 'place the store on a local POSIX filesystem' advice
            # would mislead that caller (ADVICE r8) — let it surface
            # as the ordinary PermissionError it is.
            raise OSError(
                exc.errno,
                "snapshot store CAS commit requires hard-link support "
                f"(os.link failed on {root!r}: {exc.strerror}); place "
                "the store root on a local POSIX filesystem",
            ) from exc
        raise
    finally:
        os.unlink(mtmp)
    tmp = os.path.join(root, f"_latest.tmp.{uuid.uuid4().hex}")
    with open(tmp, "w") as f:
        f.write(str(new_v))
    os.replace(tmp, os.path.join(root, "_latest"))  # hint only
    return new_v


def _write_group(df: DataFrame, root: str, version: int) -> str:
    group = f"c{version + 1}-{uuid.uuid4().hex[:8]}"
    df.write.mode("error").parquet(os.path.join(root, "data", group))
    return group


def append_group(root: str, group: str) -> int:
    """Commit an ALREADY-WRITTEN data group as an append (the OCC retry
    loop of `snapshot_append`, factored out). Public so the commit path
    can be driven without a SparkSession — real multi-job deployments
    race this from distinct OS processes, and the cross-process CAS test
    (tests/test_sinks.py) exercises exactly this function from spawned
    PIDs. Append retries are CHEAP under conflict: the immutable file
    group already exists; only the manifest list is rebuilt against the
    new current version (appends commute, so no recomputation is needed
    — the OCC fast path)."""
    v = latest_version(root)
    for _ in range(COMMIT_RETRIES):
        try:
            groups = (_read_manifest(root, v) if v else []) + [group]
            return _commit(root, v, groups)
        except CommitConflict:
            v = latest_version(root)
    raise CommitConflict(
        f"append to {root!r} lost {COMMIT_RETRIES} CAS rounds"
    )


def snapshot_append(df: DataFrame, root: str) -> int:
    """Commit an append: new file group + manifest (old groups + new).
    Returns the new version."""
    group = _write_group(df, root, latest_version(root))
    return append_group(root, group)


def snapshot_delete_keys(
    spark: SparkSession, root: str, keys: DataFrame, key_col: str
) -> int:
    """Commit a delete: anti-join the CURRENT snapshot against the key
    set into one replacement group. Prior versions keep the rows —
    compliance deletes that must destroy history additionally need
    `expire_snapshots` down to the new version.

    Unlike appends, a delete does NOT commute with concurrent commits:
    its replacement group snapshots the version it read, so on conflict
    the kept-set is RECOMPUTED from the new current version (the orphan
    group stays unreferenced until expire_snapshots collects it) — the
    standard OCC validate-and-reexecute path."""
    for _ in range(COMMIT_RETRIES):
        v = latest_version(root)
        cur = read_snapshot(spark, root, version=v)
        kept = cur.join(F.broadcast(keys), on=key_col, how="left_anti")
        group = _write_group(kept, root, v)
        try:
            return _commit(root, v, [group])
        except CommitConflict:
            continue
    raise CommitConflict(
        f"delete on {root!r} lost {COMMIT_RETRIES} CAS rounds"
    )


def snapshot_compact(spark: SparkSession, root: str) -> int:
    """Commit a compaction: rewrite the current snapshot as one group.
    Old versions stay readable (their groups remain until expired).
    Conflict handling mirrors snapshot_delete_keys (recompute against
    the new version — a compaction must not drop a racing append)."""
    for _ in range(COMMIT_RETRIES):
        v = latest_version(root)
        cur = read_snapshot(spark, root, version=v)
        group = _write_group(cur, root, v)
        try:
            return _commit(root, v, [group])
        except CommitConflict:
            continue
    raise CommitConflict(
        f"compact on {root!r} lost {COMMIT_RETRIES} CAS rounds"
    )


def read_snapshot(
    spark: SparkSession, root: str, version: int | None = None
) -> DataFrame:
    """Read the table AS OF ``version`` (default: latest). The file list
    is resolved HERE, once — the returned DataFrame keeps seeing exactly
    this snapshot no matter what is committed afterwards."""
    latest = latest_version(root)
    v = latest if version is None else version
    if latest == 0:
        raise ValueError(f"snapshot store {root!r} has no commits")
    if not (1 <= v <= latest) or not os.path.exists(_manifest_path(root, v)):
        raise ValueError(
            f"snapshot store {root!r} has no version {v} "
            f"(latest is {latest}; earlier versions may be expired)"
        )
    groups = _read_manifest(root, v)
    return spark.read.parquet(
        *[os.path.join(root, "data", g) for g in groups]
    )


def expire_snapshots(root: str, keep_from: int) -> list[str]:
    """Garbage-collect: drop manifests below ``keep_from`` and delete
    file groups no surviving manifest references. Returns the removed
    group names. The one destructive operation — callers choose the
    retention horizon (and compliance deletes pass the deleting
    version)."""
    import shutil

    latest = latest_version(root)
    if latest == 0:
        return []
    keep_from = max(1, min(keep_from, latest))
    live: set[str] = set()
    for v in range(keep_from, latest + 1):
        live.update(_read_manifest(root, v))
    removed = []
    data_dir = os.path.join(root, "data")
    for g in sorted(os.listdir(data_dir)):
        if g not in live:
            shutil.rmtree(os.path.join(data_dir, g))
            removed.append(g)
    for v in range(1, keep_from):
        p = _manifest_path(root, v)
        if os.path.exists(p):
            os.remove(p)
    return removed


def ensure_versioned_orders(spark: SparkSession, sf_dir: str) -> str:
    """Idempotent three-version fixture for the time-travel oracle:
    v1 = pre-1998 orders, v2 = append the rest, v3 = compliance-delete
    every o_custkey divisible by 100. Manifests list group names relative
    to the root, so the store is built in a temp dir and renamed into
    place by registry.ensure_fixture."""
    from .registry import ensure_fixture, load_table

    def build_into(root: str) -> None:
        orders = load_table(spark, sf_dir, "orders")
        snapshot_append(
            orders.filter(F.col("o_orderdate") < F.lit("1998-01-01")), root
        )
        snapshot_append(
            orders.filter(F.col("o_orderdate") >= F.lit("1998-01-01")), root
        )
        del_keys = (
            orders.filter(F.col("o_custkey") % 100 == 0)
            .select("o_custkey").distinct()
        )
        snapshot_delete_keys(spark, root, del_keys, "o_custkey")

    return ensure_fixture("snapstore_orders", sf_dir, build_into)
