"""The engine's local filesystem (jvm/NioLocalFs.java): no shell process
per permission change or link check, and the same files, modes, .crc
sidecars and rename semantics as Hadoop's."""

from __future__ import annotations

import os
import shutil
import stat
import subprocess
import sys
import textwrap
import warnings

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from real_big_data_project_spark import session as S

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# without a JDK compiler the engine runs on Hadoop's classes by design
# (the fallback has its own test below)
needs_javac = pytest.mark.skipif(shutil.which("javac") is None,
                                 reason="no javac: NioLocalFs is not compiled")


def _landing(path: str, files: int = 2, rows: int = 200) -> str:
    """`files` raw-event parquet files, each also re-delivering the
    previous file's rows (at-least-once), in mtime order."""
    os.makedirs(path)
    base = 1_704_096_000_000_000  # 2024-01-01 08:00 UTC, in microseconds
    for i in range(files):
        ids = list(range(max(0, i - 1) * rows, (i + 1) * rows))
        pq.write_table(pa.table({
            "event_id": pa.array(ids, pa.int64()),
            "ts": pa.array([base + e * 1_000_000 for e in ids], pa.timestamp("us")),
            "user_id": pa.array([e % 7 for e in ids], pa.int64()),
            "event_type": ["tick"] * len(ids),
            "value": [100.0 + e for e in ids],
            "props": ["{}"] * len(ids),
        }), os.path.join(path, f"part{i}.parquet"))
        os.utime(os.path.join(path, f"part{i}.parquet"),
                 (1_700_000_000 + i * 100,) * 2)
    return path


_CHILD = textwrap.dedent("""
    import sys
    sys.path.insert(0, {repo!r})
    from real_big_data_project_spark.session import get_spark
    from real_big_data_project_spark.sources.sinks import write_time_partitioned
    from real_big_data_project_spark.streaming.dedup_stream import run_streaming_dedup

    spark = get_spark("rbds-spawns", cpus=2)
    bars = spark.range(400).selectExpr(
        "id % 7 AS cid", "timestamp_seconds(1704096000 + id * 3600) AS date")
    write_time_partitioned(bars, {table!r})
    out = run_streaming_dedup(spark, {landing!r}, landing={landing!r},
                              max_files_per_trigger=1)
    print(out.count())
    spark.stop()
""")


@needs_javac
def test_engine_session_starts_no_chmod_or_readlink(tmp_path):
    # Every spawn Hadoop's shell fallback makes goes through PATH: logging
    # stand-ins first on it record each one, then run the real command.
    bin_dir, log = tmp_path / "bin", tmp_path / "spawns.log"
    bin_dir.mkdir()
    for cmd in ("chmod", "readlink"):
        real = shutil.which(cmd)
        script = bin_dir / cmd
        script.write_text(f'#!/bin/sh\necho "{cmd} $*" >> {log}\nexec {real} "$@"\n')
        script.chmod(0o755)
    landing = _landing(str(tmp_path / "landing"))
    code = _CHILD.format(repo=REPO, table=str(tmp_path / "bars"), landing=landing)
    env = dict(os.environ, PATH=f"{bin_dir}{os.pathsep}{os.environ['PATH']}",
               SPARK_GRAFT_DRIVER_MEM="1g")
    res = subprocess.run([sys.executable, "-c", code], env=env, cwd=REPO,
                         capture_output=True, text=True, timeout=600)
    assert res.returncode == 0, res.stderr[-3000:]
    assert res.stdout.split()[-1] == "400"  # 200 unique events per file
    assert len(os.listdir(tmp_path / "bars")) > 2  # partitioned, as written
    spawns = log.read_text().splitlines() if log.exists() else []
    assert spawns == [], f"{len(spawns)} spawns, first: {spawns[:3]}"


@needs_javac
def test_engine_session_uses_nio_local_fs(spark):
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(jvm.java.net.URI("file:///"), conf)
    assert fs.getClass().getName() == S.NIO_FS + "$Local"
    assert fs.getRawFileSystem().getClass().getName() == S.NIO_FS + "$Raw"
    fc = jvm.org.apache.hadoop.fs.FileContext.getLocalFSFileContext(conf)
    assert fc.getDefaultFileSystem().getClass().getName() == S.NIO_FS


def test_written_modes_follow_umask_and_crc_sidecars_exist(spark, tmp_path):
    umask = os.umask(0)
    os.umask(umask)
    out = str(tmp_path / "t")
    spark.range(40).selectExpr("id", "id % 3 AS d").write.partitionBy("d") \
        .parquet(out)
    dirs, files = [], []
    for root, ds, fs in os.walk(out):
        dirs += [os.path.join(root, d) for d in ds]
        files += [os.path.join(root, f) for f in fs]
    parts = [f for f in files if os.path.basename(f).startswith("part-")]
    assert len(dirs) == 3 and len(parts) >= 3
    for d in dirs:
        assert stat.S_IMODE(os.stat(d).st_mode) == 0o777 & ~umask, d
    for f in files:
        assert stat.S_IMODE(os.stat(f).st_mode) == 0o666 & ~umask, f
    for f in parts:
        head, name = os.path.split(f)
        assert os.path.exists(os.path.join(head, f".{name}.crc")), f


def test_file_context_rename_keeps_overwrite_semantics(spark, tmp_path):
    from py4j.protocol import Py4JJavaError

    gw, jvm = spark.sparkContext._gateway, spark.sparkContext._jvm
    hfs = jvm.org.apache.hadoop.fs
    fc = hfs.FileContext.getLocalFSFileContext(
        spark.sparkContext._jsc.hadoopConfiguration())
    src, dst = hfs.Path(f"file:{tmp_path}/src"), hfs.Path(f"file:{tmp_path}/dst")
    for path, data in ((src, b"new"), (dst, b"old")):
        out = fc.create(path, jvm.java.util.EnumSet.of(hfs.CreateFlag.CREATE),
                        gw.new_array(hfs.Options.CreateOpts, 0))
        out.write(bytearray(data))
        out.close()
    with pytest.raises(Py4JJavaError, match="FileAlreadyExistsException"):
        fc.rename(src, dst, gw.new_array(hfs.Options.Rename, 0))
    assert (tmp_path / "dst").read_bytes() == b"old"
    overwrite = gw.new_array(hfs.Options.Rename, 1)
    overwrite[0] = hfs.Options.Rename.OVERWRITE
    fc.rename(src, dst, overwrite)
    assert (tmp_path / "dst").read_bytes() == b"new"
    assert not (tmp_path / "src").exists()
    # the checksum sidecar moved with its file
    assert (tmp_path / ".dst.crc").exists() and not (tmp_path / ".src.crc").exists()


@needs_javac
def test_file_link_status_on_symlink_matches_hadoop(spark, tmp_path):
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    (tmp_path / "target").write_text("x")
    os.symlink(tmp_path / "target", tmp_path / "link")
    uri = jvm.java.net.URI("file:///")
    ours = jvm.real_big_data_project_spark.jvm.NioLocalFs.Raw()
    hadoops = jvm.org.apache.hadoop.fs.RawLocalFileSystem()
    for fs in (ours, hadoops):
        fs.initialize(uri, conf)

    def answer(fs, name):
        st = fs.getFileLinkStatus(jvm.org.apache.hadoop.fs.Path(f"file:{tmp_path}/{name}"))
        return (st.getPath().toString(), st.isSymlink(), st.isDirectory(),
                st.getLen(), st.getModificationTime(),
                st.getSymlink().toString() if st.isSymlink() else None)

    for name in ("link", "target"):
        assert answer(ours, name) == answer(hadoops, name), name


def test_missing_javac_falls_back_warns_once_and_counts(spark, tmp_path, monkeypatch):
    # A source the cache has not seen, and no javac: get_spark still hands
    # out a working session, on Hadoop's classes, warned once and counted.
    src = tmp_path / "NioLocalFs.java"
    src.write_text(open(S.NIO_FS_SOURCE).read() + "// fallback test\n")
    monkeypatch.setattr(S, "NIO_FS_SOURCE", str(src))
    monkeypatch.setattr(S, "nio_fs_fallbacks", 0)
    which = shutil.which
    monkeypatch.setattr(S.shutil, "which",
                        lambda cmd, *a, **k: None if cmd == "javac" else which(cmd, *a, **k))
    with pytest.warns(RuntimeWarning, match="NioLocalFs not compiled.*no javac") as rec:
        s = S.get_spark("rbds-tests", cpus=int(os.environ.get("SPARK_GRAFT_TEST_CPUS", "8")))
    assert len([w for w in rec if "NioLocalFs" in str(w.message)]) == 1
    assert S.nio_fs_fallbacks == 1
    assert s.range(5).count() == 5
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        S.get_spark("rbds-tests", cpus=int(os.environ.get("SPARK_GRAFT_TEST_CPUS", "8")))
    assert S.nio_fs_fallbacks == 2


@needs_javac
def test_hadoop_local_fs_in_foreign_session_warns_once(spark, monkeypatch):
    # The classpath is fixed when a JVM starts: a session the engine did
    # not build keeps Hadoop's local filesystem, reported once.
    class _Conf(dict):
        def set(self, k, v):
            self[k] = v

    class _Fake:
        version = "4.1.2"
        conf = _Conf({S.CODEGEN_CACHE: S.CODEGEN_CACHE_ENTRIES})

    monkeypatch.setattr(S, "_local_fs_warned", False)
    monkeypatch.setattr(S, "nio_fs_fallbacks", 0)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        S.ensure_session_confs(spark)  # the engine's own session: silent
    with pytest.warns(RuntimeWarning, match="fs.file.impl=None: this session uses Hadoop's"):
        S.ensure_session_confs(_Fake())
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        S.ensure_session_confs(_Fake())  # once per process

