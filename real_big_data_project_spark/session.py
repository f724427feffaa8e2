"""SparkSession construction and engine-wide configuration.

Local testing runs ``local[N]`` (one JVM); the configuration is written so
the same code scales to a multi-executor cluster: AQE on (runtime shuffle
re-planning + skew-join handling), shuffle partitions sized to the
parallelism, UTC session timezone (oracle comparability), Arrow enabled for
the Pandas-UDF slow path.
"""

from __future__ import annotations

import atexit
import contextlib
import glob
import os
import re
import shlex
import shutil
import subprocess
import uuid
import warnings
import zipfile

from pyspark.sql import SparkSession

# Some rounds of the driver-generated testdata store events.ts as parquet
# TIMESTAMP(NANOS), which Spark only reads with this legacy conf (as a
# nanosecond long); other rounds ship TIMESTAMP(MICROS), where the conf is
# inert. sources.registry sniffs the footer and rebuilds a timestamp column
# with the right divisor either way. Runtime-settable.
NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"

# ObjectHashAggregate (collect_set/collect_list — the shingle-set builds
# every text-dedup plan shares) falls back to SORT-based aggregation after
# this many distinct keys per task; Spark's default of 128 makes corpus-
# scale set-builds permanently sort+spill. Measured on the ngram doc-key
# shingle build at organic_sf10 (500k docs, fresh JVM per leg, executor
# CPU from the status API): default 128 → 3361 CPU-s with 37.6 GB spilled;
# raised → 1833 CPU-s, ZERO spill (~1.9x); at organic_sf100 the same
# fallback spilled 0.5 TB (memory) / 29 GB (disk) per pass. 2^18 keys
# bounds a pathological task's hash map at ~256 MB for fat set rows while
# sitting far above the per-task key counts AQE's 64 MB advisory target
# yields at ANY corpus scale (~15k keys/task at both measured decades —
# partition count grows with the data, per-task keys stay flat).
OBJ_AGG_FALLBACK = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
OBJ_AGG_FALLBACK_KEYS = str(1 << 18)

# Scan-split parallelism floor (round 12, VERDICT r11 item 1). The round-11
# shuffle removals made the shingle/k-means pipelines map-only up to their
# first aggregate, so they run at FILE-SPLIT parallelism — and Spark's
# maxSplitBytes = min(maxPartitionBytes, max(openCostInBytes, bytes/cores))
# floors at openCostInBytes (default 4 MB), capping a small input at
# input_bytes/4MB tasks no matter the core count (the 14.8 MB organic
# corpus: 4 tasks on 32 cores — the mechanism behind the r11 organic-leg
# regression and the ≈1 low-core/32-core scaling ratios). Lowering the
# per-file open cost lets the bytes/cores term bind instead, so a small
# input splits to ≈ one split per core — scale-adaptive by construction
# (the term derives from the session's parallelism, not a tuned constant).
# At production scale the conf is inert for split sizing (bytes/cores ≫
# maxPartitionBytes ⇒ splits are maxPartitionBytes regardless); its only
# large-scale effect is the padding charged per file when packing many
# SMALL files into one split, where a lower charge packs more files per
# task — the direction guide §2.2/§6 wants (fewer, larger map tasks).
# Parquet can only split at row-group boundaries, so the floor is
# additionally bounded by the writer's row-group count; the conf makes
# every available row group schedulable instead of ~4 per 16 MB.
OPEN_COST = "spark.sql.files.openCostInBytes"
OPEN_COST_BYTES = os.environ.get("SPARK_GRAFT_OPEN_COST_BYTES",
                                 str(256 * 1024))


# Whole-stage codegen compiles every plan stage to a JVM class and keeps
# the classes in one JVM-wide cache of this many entries (Spark's default
# is 100), keyed by the generated source. An ingest pass (run_pipeline and
# its five table writes) compiles ~95-120 classes, one `stream` round 40.
# At 100 every repeated ingest pass recompiled 91-94 of them with Janino
# (~10 ms each) and the JIT then compiled the new classes again; at 1000 a
# repeated pass compiles none. Metaspace after a warm-up and three passes
# (4 cores): 160.4 MB at 100, 161.8 MB at 1000. Static: it takes effect
# only when the session's JVM is built.
CODEGEN_CACHE = "spark.sql.codegen.cache.maxEntries"
CODEGEN_CACHE_ENTRIES = "1000"

# By default a generated class is named after its codegen stage id, and
# the name is part of the cached source. AQE assigns the ids as it plans
# each query stage at run time, so one query's ids can differ from run to
# run and the same stage compiles again under a new name: 12 of an ingest
# pass's classes after the warm-up even with the cache above. Without the id the
# repeated pass compiles none. The plan still shows the id (`*(12)`);
# only stack traces and profiles lose it. Runtime-settable.
CODEGEN_ID_IN_NAME = "spark.sql.codegen.useIdInClassName"


# Hadoop's local filesystem starts a shell process for every permission
# change (`chmod`) and two for every FileContext rename (`readlink`) when
# libhadoop is not loaded, as in a pip-installed pyspark: ~40 `chmod` and
# ~90 `readlink` per dedup micro-batch, 237 `chmod` per ingest pass, and
# each state store's commit waited on 16 of the `readlink`s per batch.
# jvm/NioLocalFs.java does both calls in the JVM (java.nio.file) with the
# same files, modes and .crc sidecars. get_spark compiles it once per
# source and Hadoop jar set and loads it under both Hadoop APIs: FileSystem
# (parquet writers, committers) and FileContext (streaming checkpoints,
# state stores). Static: the classpath is fixed when the JVM starts. The
# driver's classpath is enough because get_spark's local[N] sessions run
# their tasks in the driver JVM.
NIO_FS_SOURCE = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "jvm", "NioLocalFs.java")
NIO_FS = "real_big_data_project_spark.jvm.NioLocalFs"
FILE_IMPL = "spark.hadoop.fs.file.impl"
NIO_FS_CONFS = {FILE_IMPL: NIO_FS + "$Local",
                "spark.hadoop.fs.AbstractFileSystem.file.impl": NIO_FS}

# sessions get_spark built on Hadoop's classes because the source could
# not be compiled; the first one in a process warns, later ones only count
nio_fs_fallbacks = 0
NIO_FS_JAR = "NioLocalFs.jar"


def _nio_fs_jar() -> str | None:
    """NioLocalFs's compiled classes packed into one jar, published
    through ``registry.ensure_fixture`` (keyed on the jars of the Spark
    home the gateway launches and on the source, build-then-rename). A
    jar, not a classes dir: a class-data-sharing archive refuses a
    classpath that holds a non-empty directory. None when there is no
    ``javac`` or it fails: the session then runs on Hadoop's classes."""
    global nio_fs_fallbacks
    from pyspark.find_spark_home import _find_spark_home

    from .sources.registry import ensure_fixture

    jars = os.path.join(_find_spark_home(), "jars")

    def build_into(tmp: str) -> None:
        javac = shutil.which("javac")
        api = glob.glob(os.path.join(jars, "hadoop-client-api-*.jar"))
        if javac is None or not api:
            raise FileNotFoundError("no javac on PATH" if javac is None
                                    else f"no hadoop-client-api jar in {jars}")
        classes = os.path.join(tmp, "classes")
        subprocess.run([javac, "-nowarn", "-cp", api[0], "-d", classes,
                        NIO_FS_SOURCE], check=True, capture_output=True,
                       text=True)
        with zipfile.ZipFile(os.path.join(tmp, NIO_FS_JAR), "w") as jar:
            for root, _, files in os.walk(classes):
                for name in sorted(files):
                    path = os.path.join(root, name)
                    jar.write(path, os.path.relpath(path, classes))
        shutil.rmtree(classes)

    with open(NIO_FS_SOURCE) as f:
        source = f.read()
    try:
        return os.path.join(ensure_fixture("jvm", jars, build_into,
                                           params=NIO_FS_JAR + "\n" + source),
                            NIO_FS_JAR)
    except (OSError, subprocess.CalledProcessError) as exc:
        nio_fs_fallbacks += 1
        if nio_fs_fallbacks == 1:
            detail = ((getattr(exc, "stderr", None) or "").strip()
                      or str(exc)).splitlines()[0]
            warnings.warn(
                "NioLocalFs not compiled, the session uses Hadoop's local "
                f"filesystem (a shell process per chmod and readlink): {detail}",
                RuntimeWarning, stacklevel=3)
        return None


# Class-data sharing (CDS). Nearly half of a driver JVM's start is class
# loading: Spark SQL's ~22k classes are read from the Spark home's jars,
# parsed and verified again in every process (`sun.cls.time` 4.4-5.2 s of
# a 5.7-6.8 s get_spark on 4 cores). The first session per key runs with
# -XX:DumpLoadedClassList, so its JVM writes the name of every class it
# loads to a file, which costs the session no measurable time. Its exit
# hook waits for that JVM to exit, dumps a static archive of the listed
# classes with a -Xshare:dump JVM, checks the archive and publishes it
# under _artifacts/ (build-then-rename). Later sessions map it with
# -XX:SharedArchiveFile in place of the JDK's own archive and get those
# classes pre-parsed and pre-verified: a `stream` run's set-up is about a
# third shorter (PERF_NOTES "JVM start from a class-data-sharing
# archive"). Not a dynamic archive (-XX:ArchiveClassesAtExit): the JVM
# that records one runs slower throughout, and `stream` runs that did
# took 13-55% longer to set up than without it (5 runs). CDS is
# transparent to the classes it serves, so no plan, file or row changes.
# The flags go in spark.driver.defaultJavaOptions, which leaves a
# caller's spark.driver.extraJavaOptions alone. Static: fixed when the
# JVM starts.
CDS_JAVA_OPTS = "spark.driver.defaultJavaOptions"
CDS_ARCHIVE = "driver.jsa"
CDS_CLASS_LIST = "classes.lst"
# the recording JVM's java.class.path, published beside the archive:
# HotSpot maps the archive only into a JVM whose classpath starts with it
CDS_CLASSPATH = "classpath"
# the -Xshare:dump JVM takes 37-66 s on 4 cores; a slower one (or a
# recording JVM that does not exit) is killed
CDS_DUMP_WAIT_S = 300
# HotSpot turns compressed oops off for a heap this large, and an archive
# dumped in one mode does not map in the other
NO_COOPS_HEAP = 32 << 30

# sessions get_spark started without an archive (the cause is in
# cds_state); the first one in a process warns, later ones only count
cds_fallbacks = 0
# "mapped <archive>", "dumping <archive>" (at exit), or why the last
# driver JVM get_spark started has no archive
cds_state = "no driver JVM started"


class _NoCds(Exception):
    """Why a driver JVM starts without a class-data-sharing archive."""


def _cds_fallback(cause: str) -> None:
    global cds_fallbacks, cds_state
    cds_fallbacks += 1
    cds_state = f"fallback: {cause}"
    if cds_fallbacks == 1:
        warnings.warn(
            "the driver JVM runs without the engine's class-data-sharing "
            f"archive (it loads every class from the jars again): {cause}",
            RuntimeWarning, stacklevel=4)


def _heap_bytes(memory: str) -> int:
    m = re.fullmatch(r"(\d+)([kmgt])b?", memory.strip().lower())
    if m is None:
        raise _NoCds(f"driver memory {memory!r} is not a JVM heap size")
    return int(m[1]) << {"k": 10, "m": 20, "g": 30, "t": 40}[m[2]]


def _stat(path: str) -> str:
    st = os.stat(path)
    return f"{path}:{st.st_mtime_ns}:{st.st_size}"


def _caller_classpath() -> str:
    """What a caller adds to the driver JVM's classpath: SPARK_DIST_CLASSPATH
    and the driver classpath options in PYSPARK_SUBMIT_ARGS."""
    args = shlex.split(os.environ.get("PYSPARK_SUBMIT_ARGS", ""))
    given = [v for k, v in zip(args, args[1:]) if k == "--driver-class-path"]
    given += [a for a in args if a.startswith("spark.driver.extraClassPath=")]
    return "\n".join([os.environ.get("SPARK_DIST_CLASSPATH", "")] + given)


def _first_line(text: str) -> str:
    return next(filter(None, (ln.strip("# ") for ln in text.splitlines())), "")


class _Cds:
    """The archive a driver JVM with this heap and NioLocalFs jar maps,
    or records the classes for when it is not published yet, keyed on
    everything the archive depends on: the JDK (home, version, the files
    under lib/server), the Spark jars, the NioLocalFs jar, the conf dir,
    what the caller adds to the classpath and the compressed-oops mode.
    Raises _NoCds when the classpath cannot be archived or the JDK has
    no archive of its own for this heap."""

    def __init__(self, memory: str, jar: str | None):
        from pyspark.find_spark_home import _find_spark_home

        from .sources import registry

        for var in ("HADOOP_CONF_DIR", "YARN_CONF_DIR"):
            if os.environ.get(var):
                raise _NoCds(f"{var} is set (it adds its dir to the classpath)")
        # the launcher puts the conf dir first on the classpath; Spark
        # reads nothing from one that holds only *.template files, so the
        # gateway may start from an empty one instead
        spark_home = _find_spark_home()
        conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
        real = sorted(n for n in (os.listdir(conf) if os.path.isdir(conf) else ())
                      if not n.endswith(".template"))
        if real:
            raise _NoCds(f"the Spark conf dir {conf} holds {real[0]}")
        self.conf_dir = os.path.join(registry.ARTIFACTS, "cds_conf")
        os.makedirs(self.conf_dir, exist_ok=True)
        if os.listdir(self.conf_dir):
            raise _NoCds(f"{self.conf_dir} is not empty")

        # the JDK spark-class runs
        home = os.environ.get("JAVA_HOME")
        if not home:
            java = shutil.which("java")
            if java is None:
                raise _NoCds("no java on PATH")
            home = os.path.dirname(os.path.dirname(os.path.realpath(java)))
        self.java = os.path.join(home, "bin", "java")
        self.memory = memory
        coops = _heap_bytes(memory) < NO_COOPS_HEAP
        server = os.path.join(home, "lib", "server")
        if not os.path.isfile(os.path.join(
                server, "classes.jsa" if coops else "classes_nocoops.jsa")):
            raise _NoCds(f"the JDK at {home} has no archive of its own for this heap")
        vm = ""
        if os.path.isfile(os.path.join(home, "release")):
            with open(os.path.join(home, "release")) as f:
                vm = f.read()
        self.jars = os.path.join(spark_home, "jars")
        self.params = "\n".join(
            [f"java.home={os.path.realpath(home)}", vm, f"coops={coops}",
             f"conf={self.conf_dir}", f"jar={jar and _stat(jar)}",
             f"caller classpath={_caller_classpath()}"]
            + [_stat(p) for p in sorted(glob.glob(os.path.join(server, "*")))])
        self.out = registry.fixture_path("cds", self.jars, self.params)
        self.dump = self.classpath = None

    def java_options(self) -> str:
        """The flags that map the published archive, or else record the
        names of the classes the JVM loads into a fresh dump dir."""
        if os.path.exists(os.path.join(self.out, "_SUCCESS")):
            with contextlib.suppress(OSError), \
                    open(os.path.join(self.out, CDS_CLASSPATH)) as f:
                self.classpath = f.read()
            self.flags = [f"-XX:SharedArchiveFile={os.path.join(self.out, CDS_ARCHIVE)}"]
        else:
            self._sweep_dead_dumps()
            self.dump = f"{self.out}.dump.{os.getpid()}.{uuid.uuid4().hex}"
            os.makedirs(self.dump)
            self.flags = [f"-XX:DumpLoadedClassList={os.path.join(self.dump, CDS_CLASS_LIST)}"]
        return " ".join(shlex.quote(f) for f in self.flags)

    def _sweep_dead_dumps(self) -> None:
        """Dump dirs whose Python process died before it could publish
        (a killed run; its JVMs may still be writing there)."""
        for d in glob.glob(f"{self.out}.dump.*"):
            try:
                os.kill(int(d.rsplit(".", 2)[1]), 0)
            except ProcessLookupError:
                shutil.rmtree(d, ignore_errors=True)
            except (ValueError, PermissionError):
                pass

    def discard(self) -> str:
        """After a failed start or an archive the JVM did not map: drop
        the dump dir, or else check the published archive and remove it
        if it does not map (the JVM may have died or skipped it for
        another reason, and then the archive is kept). Returns what was
        done."""
        if self.dump is not None:
            shutil.rmtree(self.dump, ignore_errors=True)
            return "no archive was mapped"
        # checked under another name, so no other session maps it meanwhile
        aside = f"{self.out}.bad.{uuid.uuid4().hex}"
        try:
            os.rename(self.out, aside)
        except OSError as exc:
            return f"moving {self.out} aside failed: {exc}"
        why = self._unmappable(os.path.join(aside, CDS_ARCHIVE), self.classpath or "", aside)
        if why is None:
            with contextlib.suppress(OSError):
                os.rename(aside, self.out)
            shutil.rmtree(aside, ignore_errors=True)  # another session published one
            return "the archive still maps and was kept"
        shutil.rmtree(aside, ignore_errors=True)
        return f"the archive was removed: {why}"

    def finish_dump(self, proc, classpath: str) -> None:
        """The exit hook of a recording session: let its JVM exit, so the
        class list is complete and no JVM outlives its Python process,
        then dump the listed classes and publish the archive if it maps."""
        from pyspark import SparkContext

        from .sources.registry import ensure_fixture

        try:
            try:
                if SparkContext._active_spark_context is not None:
                    SparkContext._active_spark_context.stop()
            finally:
                proc.stdin.close()  # the gateway JVM exits when its stdin closes
                try:
                    rc = proc.wait(CDS_DUMP_WAIT_S)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    rc = proc.wait()
            cause = (f"the recording driver JVM exited with code {rc}" if rc != 0
                     else self._dump(classpath))
            if cause is not None:
                _cds_fallback(cause)
                return
            with open(os.path.join(self.dump, CDS_CLASSPATH), "w") as f:
                f.write(classpath)
            ensure_fixture("cds", self.jars,
                           lambda tmp: os.rename(self.dump, tmp), self.params)
        finally:
            shutil.rmtree(self.dump, ignore_errors=True)

    def _jvm_flags(self, scratch: str) -> list[str]:
        """Flags of the helper JVMs: the session's heap (its compressed-oops
        mode), no perf data file, a crash report inside ``scratch``."""
        return [f"-Xmx{self.memory}", "-XX:-UsePerfData",
                f"-XX:ErrorFile={scratch}/hs_err_pid%p.log"]

    def _dump(self, classpath: str) -> str | None:
        """Why the recorded classes gave no archive that may be published,
        or None. A -Xshare:dump JVM with the session's classpath and heap
        writes the archive; only one a -Xshare:on JVM then maps is kept."""
        jsa = os.path.join(self.dump, CDS_ARCHIVE)
        try:
            res = subprocess.run(
                [self.java, "-Xshare:dump",
                 f"-XX:SharedClassListFile={os.path.join(self.dump, CDS_CLASS_LIST)}",
                 f"-XX:SharedArchiveFile={jsa}", *self._jvm_flags(self.dump),
                 "-cp", classpath],
                cwd=self.dump, capture_output=True, text=True, timeout=CDS_DUMP_WAIT_S)
        except subprocess.TimeoutExpired:
            return f"the archive dump took over {CDS_DUMP_WAIT_S} s"
        if res.returncode != 0:
            # it prints a warning per listed class it cannot archive first
            said = "\n".join(ln for ln in (res.stdout + res.stderr).splitlines()
                              if "Preload Warning" not in ln and "Skipping" not in ln)
            return (f"the archive dump exited with code {res.returncode}: "
                    f"{_first_line(said)}")
        why = self._unmappable(jsa, classpath, self.dump)
        return None if why is None else f"the dumped archive {why}"

    def _unmappable(self, jsa: str, classpath: str, scratch: str) -> str | None:
        """Why a -Xshare:on JVM with this classpath and heap does not map
        ``jsa``, or None."""
        res = subprocess.run(
            [self.java, "-Xshare:on", f"-XX:SharedArchiveFile={jsa}",
             *self._jvm_flags(scratch), "-cp", classpath, "-version"],
            cwd=scratch, capture_output=True, text=True)
        if res.returncode == 0:
            return None
        return (f"does not map (-Xshare:on exit {res.returncode}): "
                f"{_first_line(res.stdout + res.stderr)}")


@contextlib.contextmanager
def _env(name: str, value: str):
    old = os.environ.get(name)
    os.environ[name] = value
    try:
        yield
    finally:
        if old is None:
            del os.environ[name]
        else:
            os.environ[name] = old


def _start_with_cds(build, memory: str, jar: str | None) -> SparkSession:
    """``build(**confs)`` with the class-data-sharing flags when this
    call starts the driver JVM. A JVM that dies before the gateway
    connects with an archive mapped is retried once without them, after
    the archive is removed if it does not map."""
    global cds_state
    from pyspark import SparkContext
    from pyspark.errors import PySparkRuntimeError

    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return build()  # the driver JVM runs already; its flags are fixed
    try:
        cds = _Cds(memory, jar)
    except _NoCds as exc:
        _cds_fallback(str(exc))
        return build()
    try:
        with _env("SPARK_CONF_DIR", cds.conf_dir):
            spark = build(**{CDS_JAVA_OPTS: cds.java_options()})
    except PySparkRuntimeError as exc:
        if exc.getCondition() != "JAVA_GATEWAY_EXITED":
            raise
        _cds_fallback(f"the driver JVM exited at start with {cds.flags[0]}; "
                      f"{cds.discard()}")
        return build()
    if cds.dump is None:
        # the engine's archive replaces the JDK's, so the JVM reports
        # sharing only when it mapped ours; under the default -Xshare:auto
        # it runs without a word when it cannot (another classpath, a
        # damaged file)
        info = spark.sparkContext._jvm.System.getProperty("java.vm.info")
        if "sharing" in info:
            cds_state = f"mapped {cds.out}"
        else:
            _cds_fallback(f"the driver JVM did not map {cds.flags[0]} "
                          f"({info}); {cds.discard()}")
    else:
        cds_state = f"dumping {cds.out}"
        atexit.register(cds.finish_dump, SparkContext._gateway.proc,
                        spark.sparkContext._jvm.System.getProperty("java.class.path"))
    return spark


def driver_shared_classes(spark: SparkSession) -> int | None:
    """How many classes the driver JVM took from class-data-sharing
    archives (`java.cls.sharedLoadedClasses`, read with `jcmd`): about
    1.2k from the JDK's own archive, 12k and more with the engine's.
    None without `jcmd` or when the JVM keeps no perf data."""
    jcmd = shutil.which("jcmd")
    if jcmd is None:
        return None
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    out = subprocess.run([jcmd, str(pid), "PerfCounter.print"],
                         capture_output=True, text=True).stdout
    for line in out.splitlines():
        if line.startswith("java.cls.sharedLoadedClasses="):
            return int(line.split("=", 1)[1])
    return None


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(app_name: str = "real_big_data_project_spark",
              cpus: int | None = None) -> SparkSession:
    """Build (or reuse) the engine session.

    Shuffle partitions ≈ cores for local mode; on a real cluster this would
    be executors×cores×2-3, but AQE coalescing makes the initial number far
    less critical than it used to be.
    """
    n = cpus or default_parallelism()
    memory = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
    confs = {
        "spark.sql.shuffle.partitions": str(n),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        NANOS_AS_LONG: "true",
        OBJ_AGG_FALLBACK: OBJ_AGG_FALLBACK_KEYS,
        OPEN_COST: OPEN_COST_BYTES,
        CODEGEN_CACHE: CODEGEN_CACHE_ENTRIES,
        CODEGEN_ID_IN_NAME: "false",
        "spark.ui.enabled": "false",
        "spark.driver.memory": memory,
    }
    jar = _nio_fs_jar()
    if jar is not None:
        confs = {**confs, "spark.driver.extraClassPath": jar, **NIO_FS_CONFS}

    def build(**extra: str) -> SparkSession:
        return (SparkSession.builder.master(f"local[{n}]").appName(app_name)
                .config(map={**confs, **extra}).getOrCreate())

    spark = _start_with_cds(build, memory, jar)
    require_min_spark(spark)
    spark.sparkContext.setLogLevel("WARN")
    return spark


MIN_SPARK = (4, 0)

# Engine surfaces with a hard Spark-4 dependency (the README compatibility
# matrix mirrors this list): WITH RECURSIVE (q_recursive_ancestry), the
# VARIANT type (q_variant_extract), Python @udtf + LATERAL
# (q_udtf_chunks), timestamp_ntz-first semantics, and the
# parquet-nanos-as-long legacy conf the testdata reader relies on.


def require_min_spark(spark: SparkSession) -> None:
    """Fail fast with an actionable error on unsupported Spark versions
    instead of leaking raw AnalysisExceptions from Spark-4-only surfaces
    (recursive CTEs, VARIANT, @udtf, ntz-first timestamps)."""
    ver = tuple(int(x) for x in spark.version.split(".")[:2])
    if ver < MIN_SPARK:
        raise RuntimeError(
            f"real_big_data_project_spark requires Spark "
            f">= {'.'.join(map(str, MIN_SPARK))} (found {spark.version}): "
            "the engine uses recursive CTEs, the VARIANT type, Python "
            "UDTFs and timestamp_ntz-first semantics that older releases "
            "reject with opaque AnalysisExceptions. See README "
            "'Spark compatibility'."
        )


def ensure_session_confs(spark: SparkSession) -> None:
    """Apply runtime-settable confs the engine depends on to a session we
    did not build (e.g. the verification driver's), warn about the static
    ones it cannot (the codegen cache size, the local filesystem), and pin
    the minimum Spark version while we're at it — this is the one hook
    every entry path (our own get_spark, the grading driver via
    sources.registry, the streaming readers) funnels through."""
    require_min_spark(spark)
    spark.conf.set(NANOS_AS_LONG, "true")
    spark.conf.set(OBJ_AGG_FALLBACK, OBJ_AGG_FALLBACK_KEYS)
    spark.conf.set(OPEN_COST, OPEN_COST_BYTES)
    spark.conf.set(CODEGEN_ID_IN_NAME, "false")
    _warn_small_codegen_cache(spark)
    _warn_hadoop_local_fs(spark)


_codegen_cache_warned = False


def _warn_small_codegen_cache(spark: SparkSession) -> None:
    """The codegen cache size is static, so a session the engine did not
    build keeps whatever its builder chose. Warn once per process when
    that is below CODEGEN_CACHE_ENTRIES: repeated passes then recompile
    their stages instead of reusing them."""
    global _codegen_cache_warned
    have = int(spark.conf.get(CODEGEN_CACHE, "100"))
    if _codegen_cache_warned or have >= int(CODEGEN_CACHE_ENTRIES):
        return
    _codegen_cache_warned = True
    warnings.warn(
        f"{CODEGEN_CACHE}={have} is below the engine's "
        f"{CODEGEN_CACHE_ENTRIES}; it is static, so repeated ingest passes "
        "in this session recompile their generated classes. Build the "
        "session with session.get_spark or set the conf at build time.",
        RuntimeWarning, stacklevel=2)


_local_fs_warned = False


def _warn_hadoop_local_fs(spark: SparkSession) -> None:
    """A session the engine did not build runs Hadoop's local filesystem,
    and the classpath is fixed when its JVM starts, so the engine cannot
    swap NioLocalFs in. Warn once per process (get_spark's own fallback
    has warned already)."""
    global _local_fs_warned
    have = spark.conf.get(FILE_IMPL, None)
    if _local_fs_warned or nio_fs_fallbacks or have == NIO_FS_CONFS[FILE_IMPL]:
        return
    _local_fs_warned = True
    warnings.warn(
        f"{FILE_IMPL}={have}: this session uses Hadoop's local filesystem, "
        "which starts a shell process per chmod and per readlink (streaming "
        "micro-batches and table writes pay for them). It is fixed when the "
        "JVM starts: build the session with session.get_spark.",
        RuntimeWarning, stacklevel=2)
