"""The driver JVM's class-data-sharing archive: the first session per key
records the classes its JVM loads, its exit hook dumps, checks and
publishes the archive, later sessions map it, and every path without an
archive is warned and counted.

The lifecycle tests run each session in a child process on a private
``registry.ARTIFACTS``; they judge mapping by the JVM's own counter
(``java.cls.sharedLoadedClasses`` from ``jcmd``), never by timing."""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys
import textwrap
import zipfile

import pytest

from real_big_data_project_spark import session as S
from real_big_data_project_spark.sources import registry

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

needs_jdk_tools = pytest.mark.skipif(
    shutil.which("javac") is None or shutil.which("jcmd") is None,
    reason="no javac or jcmd: the lifecycle tests need the JDK's tools")

_CHILD = textwrap.dedent("""
    import json, os, signal, sys, threading, time, warnings
    sys.path.insert(0, {repo!r})
    from real_big_data_project_spark.sources import registry
    registry.ARTIFACTS = {artifacts!r}
    from pyspark import SparkContext
    from real_big_data_project_spark import session as S

    conf_dir = os.environ.get("SPARK_CONF_DIR")
    {before}
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        spark = S.get_spark("rbds-cds", cpus=1)
    rows = spark.range(5).count()
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    print(json.dumps({{
        "rows": rows, "pid": pid, "state": S.cds_state,
        "fallbacks": S.cds_fallbacks, "shared": S.driver_shared_classes(spark),
        "warnings": [str(w.message) for w in caught
                     if "class-data-sharing" in str(w.message)],
        "conf_dir_unchanged": os.environ.get("SPARK_CONF_DIR") == conf_dir,
        "probe": spark.conf.get("spark.rbds.probe", None)}}), flush=True)
    {after}
""")

# Kill the -Xshare:dump JVM the exit hook starts, once it has run 1 s.
_KILL_IN_DUMP = """
def kill_dump():
    while True:
        for p in filter(str.isdigit, os.listdir("/proc")):
            try:
                with open(f"/proc/{p}/cmdline", "rb") as f:
                    cmd = f.read()
            except OSError:
                continue
            argv = cmd.split(b"\\0")
            if (argv[0].endswith(b"/java") and b"-Xshare:dump" in argv
                    and registry.ARTIFACTS.encode() in cmd):
                time.sleep(1)
                os.kill(int(p), signal.SIGKILL)
                print("killed in dump: True", flush=True)
                return
        time.sleep(0.02)
threading.Thread(target=kill_dump, daemon=True).start()
"""


def _run_child(artifacts: str, cwd: str, after: str = "", before: str = "",
               **env: str) -> tuple[dict, str]:
    code = _CHILD.format(repo=REPO, artifacts=artifacts, after=after, before=before)
    res = subprocess.run([sys.executable, "-c", code], cwd=cwd,
                         env=dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g", **env),
                         capture_output=True, text=True, timeout=600)
    assert res.returncode == 0, res.stderr[-3000:]
    line = next(ln for ln in res.stdout.splitlines() if ln.startswith("{"))
    return json.loads(line), res.stdout + res.stderr


def _published(artifacts: str) -> list[str]:
    return glob.glob(os.path.join(artifacts, "cds_jars_*", S.CDS_ARCHIVE))


def _leftovers(artifacts: str) -> list[str]:
    return [d for d in os.listdir(artifacts) if ".dump." in d or ".build." in d]


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    return True


@pytest.fixture(scope="module")
def fresh(tmp_path_factory):
    """A private artifacts dir after one session on a key nobody has
    dumped: that session's report and the dir."""
    root = tmp_path_factory.mktemp("cds")
    artifacts = str(root / "_artifacts")
    os.makedirs(artifacts)
    report, _ = _run_child(artifacts, str(root))
    return artifacts, report


@needs_jdk_tools
def test_fresh_key_publishes_one_archive_that_the_next_session_maps(fresh, tmp_path):
    artifacts, first = fresh
    assert first["rows"] == 5 and first["state"].startswith("dumping ")
    assert first["fallbacks"] == 0 and first["warnings"] == []
    # the exit hook waited: the dumping JVM is gone, its archive published
    assert not _alive(first["pid"])
    assert len(_published(artifacts)) == 1
    assert _leftovers(artifacts) == []

    second, _ = _run_child(artifacts, str(tmp_path))
    assert second["rows"] == 5 and second["state"].startswith("mapped ")
    assert second["fallbacks"] == 0 and second["warnings"] == []
    # the JDK's own base archive serves ~1.2k classes; ours ~10k more
    assert second["shared"] > 4 * first["shared"], (first["shared"], second["shared"])
    assert len(_published(artifacts)) == 1


@needs_jdk_tools
def test_cut_archive_is_removed_and_counted(fresh, tmp_path):
    # HotSpot runs without a cut archive under the default -Xshare:auto,
    # without a word; the session reports it and removes the archive.
    artifacts, first = fresh
    (good,) = _published(artifacts)
    out = os.path.dirname(good)
    kept = str(tmp_path / "kept")
    os.rename(out, kept)
    try:
        shutil.copytree(kept, out)
        with open(os.path.join(kept, S.CDS_ARCHIVE), "rb") as src, \
                open(good, "wb") as dst:
            dst.write(src.read(1 << 20))
        report, _ = _run_child(artifacts, str(tmp_path))
        assert report["rows"] == 5
        assert report["fallbacks"] == 1 and len(report["warnings"]) == 1
        assert "did not map" in report["state"], report["state"]
        assert "the archive was removed: does not map" in report["state"], report["state"]
        assert report["shared"] < 2 * first["shared"], (first["shared"], report["shared"])
        assert not os.path.exists(out)
        assert glob.glob(out + ".bad.*") == []
    finally:
        shutil.rmtree(out, ignore_errors=True)
        os.rename(kept, out)


# The archive's flags make the JVM exit at start (a stack too small to
# run; Spark's launcher adds -XX:+IgnoreUnrecognizedVMOptions, so an
# unknown flag would not do), with the archive itself sound: a stand-in
# for a JVM that dies for reasons of its own.
_BAD_FLAG = """
real_options = S._Cds.java_options
def bad_options(self):
    real_options(self)
    self.flags = ["-Xss1k"]
    return self.flags[0]
S._Cds.java_options = bad_options
"""


@needs_jdk_tools
def test_failed_start_retries_without_and_keeps_an_archive_that_maps(fresh, tmp_path):
    artifacts, _ = fresh
    (good,) = _published(artifacts)
    report, _ = _run_child(artifacts, str(tmp_path), before=_BAD_FLAG)
    assert report["rows"] == 5
    assert report["fallbacks"] == 1 and len(report["warnings"]) == 1
    assert report["state"].endswith(
        "exited at start with -Xss1k; the archive still maps and was kept"), report["state"]
    assert _published(artifacts) == [good]
    assert glob.glob(os.path.dirname(good) + ".bad.*") == []


@needs_jdk_tools
def test_classpath_outside_the_key_is_counted_not_reported_mapped(fresh, tmp_path):
    # HotSpot silently skips an archive dumped with another classpath. A
    # classpath source the key does not cover must show as a fallback,
    # and the JVM's own counter must agree that nothing was mapped.
    artifacts, first = fresh
    extra = str(tmp_path / "extra.jar")
    with zipfile.ZipFile(extra, "w") as jar:
        jar.writestr("extra.txt", "x")
    before = (
        "S._caller_classpath = lambda: ''\n"
        "os.environ['PYSPARK_SUBMIT_ARGS'] = ("
        f"'--driver-class-path ' + S._nio_fs_jar() + os.pathsep + {extra!r}"
        " + ' pyspark-shell')")
    report, _ = _run_child(artifacts, str(tmp_path), before=before)
    assert report["rows"] == 5
    assert report["fallbacks"] == 1 and len(report["warnings"]) == 1
    assert "did not map" in report["state"], report["state"]
    assert report["state"].endswith("the archive still maps and was kept"), report["state"]
    assert report["shared"] < 2 * first["shared"], (first["shared"], report["shared"])
    assert len(_published(artifacts)) == 1


@needs_jdk_tools
def test_killed_dump_publishes_nothing(tmp_path):
    artifacts = str(tmp_path / "_artifacts")
    os.makedirs(artifacts)
    report, output = _run_child(artifacts, str(tmp_path), after=_KILL_IN_DUMP)
    assert report["state"].startswith("dumping ")
    assert "killed in dump: True" in output
    assert "the archive dump exited with code -9" in output
    assert _published(artifacts) == [] and _leftovers(artifacts) == []


@needs_jdk_tools
def test_conf_dir_with_a_real_file_runs_without_cds(tmp_path):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.rbds.probe 42\n")
    artifacts = str(tmp_path / "_artifacts")
    os.makedirs(artifacts)
    report, _ = _run_child(artifacts, str(tmp_path), SPARK_CONF_DIR=str(conf))
    assert report["rows"] == 5 and report["probe"] == "42"  # the conf was read
    assert report["fallbacks"] == 1 and len(report["warnings"]) == 1
    assert "spark-defaults.conf" in report["state"], report["state"]
    assert report["conf_dir_unchanged"]
    assert [d for d in os.listdir(artifacts) if d.startswith("cds_jars_")] == []


@pytest.mark.parametrize("var", ["HADOOP_CONF_DIR", "YARN_CONF_DIR"])
def test_hadoop_or_yarn_conf_dir_rules_cds_out(var, tmp_path, monkeypatch):
    monkeypatch.setattr(registry, "ARTIFACTS", str(tmp_path))
    monkeypatch.setenv(var, str(tmp_path))
    with pytest.raises(S._NoCds, match=f"{var} is set"):
        S._Cds("3g", None)


def test_cds_key_covers_the_compressed_oops_mode_without_a_jvm(tmp_path, monkeypatch):
    # A heap of 32g or more turns compressed oops off, and the JDK starts
    # from its other base archive; the key is computed from files alone.
    monkeypatch.setattr(registry, "ARTIFACTS", str(tmp_path))
    for var in ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_CONF_DIR"):
        monkeypatch.delenv(var, raising=False)
    try:
        small, large = S._Cds("3g", None), S._Cds("33g", None)
    except S._NoCds as exc:
        pytest.skip(f"no archive on this box: {exc}")
    assert small.out != large.out
    assert S._Cds("16g", None).out == small.out
    assert os.listdir(tmp_path) == ["cds_conf"]  # nothing dumped, no JVM


def test_cds_key_covers_what_a_caller_adds_to_the_classpath(tmp_path, monkeypatch):
    monkeypatch.setattr(registry, "ARTIFACTS", str(tmp_path))
    for var in ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_CONF_DIR",
                "SPARK_DIST_CLASSPATH"):
        monkeypatch.delenv(var, raising=False)
    monkeypatch.setenv("PYSPARK_SUBMIT_ARGS", "--conf spark.ui.enabled=false pyspark-shell")
    try:
        plain = S._Cds("3g", None).out
    except S._NoCds as exc:
        pytest.skip(f"no archive on this box: {exc}")
    keys = {plain}
    monkeypatch.setenv("SPARK_DIST_CLASSPATH", "/opt/extra.jar")
    keys.add(S._Cds("3g", None).out)
    monkeypatch.delenv("SPARK_DIST_CLASSPATH")
    for args in ("--driver-class-path /opt/extra.jar pyspark-shell",
                 "--conf spark.driver.extraClassPath=/opt/extra.jar pyspark-shell"):
        monkeypatch.setenv("PYSPARK_SUBMIT_ARGS", args)
        keys.add(S._Cds("3g", None).out)
    assert len(keys) == 4


def test_dump_dirs_of_dead_processes_are_swept(tmp_path, monkeypatch):
    # A Python process killed before its exit hook ran leaves its dump
    # dir (and the class list its JVM may still write); the next session
    # that records on the key removes it. A live process's dump dir stays.
    monkeypatch.setattr(registry, "ARTIFACTS", str(tmp_path))
    for var in ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_CONF_DIR"):
        monkeypatch.delenv(var, raising=False)
    try:
        cds = S._Cds("3g", None)
    except S._NoCds as exc:
        pytest.skip(f"no archive on this box: {exc}")
    gone = subprocess.Popen(["true"])
    gone.wait()
    dead = f"{cds.out}.dump.{gone.pid}.0"
    live = f"{cds.out}.dump.{os.getppid()}.0"
    for d in (dead, live):
        os.makedirs(d)
        open(os.path.join(d, S.CDS_ARCHIVE), "w").close()
    assert "-XX:DumpLoadedClassList=" in cds.java_options()
    assert not os.path.exists(dead) and os.path.exists(live)
    assert os.path.isdir(cds.dump) and os.listdir(cds.dump) == []
