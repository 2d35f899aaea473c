"""SparkSession factory and per-session configuration.

Two kinds of conf, applied on two paths:
- ``BUILD_CONFS`` are set when ``get_spark()`` builds a local session
  (tests, bench, the CLI).  Some of them are *static*: Spark reads them
  once at session build and ignores a later ``spark.conf.set``.  An
  externally built session keeps whatever its builder set for these.
- ``RUNTIME_CONFS`` are applied by ``ensure_runtime_confs(spark)``, which
  every query calls on whatever session the driver hands us.  They are
  all *runtime-settable*, and correctness depends on them (ns-parquet
  mitigation, UTC session tz).  This is what makes the engine work on a
  SparkSession we didn't build.

``spark.sql.codegen.cache.maxEntries`` (static) is 1000, ten times
Spark's default of 100.  The default is smaller than the engine's working
set of generated classes: ``dedup_keep_cluster_canonical`` alone
generates 110–120 distinct classes, one pass of the benchmark's
curation-plus-query mix 221–231, and a sweep of ``DRIVER_WINDOW``
721–814.  With an LRU cache of 100 every warm call then misses on every
class and pays a Janino compile plus a fresh HotSpot JIT again; with
1000, a warm call compiles nothing.

``DRIVER_JAVA_OPTIONS`` is the engine JVM's option string.  migbq runs
each ``run``/``sync``/``check`` as its own short process, started by
cron, and a per-thread profile found most of its JVM CPU in HotSpot's
optimizing compiler (C2), recompiling Catalyst, planner and driver code
that a call runs only a few thousand times.  The string raises the four
tier-4 (C2) thresholds to 3× HotSpot 17's defaults and leaves tiered C1
alone, so code below them runs as compiled C1 code, not interpreted.
Hot executor loops cross the 120 000 back-edge threshold within
milliseconds on a real partition and still reach C2.  Measured on a
4-CPU VM (``perfbench``, interleaved pairs, medians per batch of 8–10
pairs): JIT compile time per warm pass fell 20–45 %, ``migrate`` pass
CPU 13–22 % and ``curate_query``'s 6–11 %, and wall per pass stayed
inside the parent's run-to-run spread on both.
C1-only cut more CPU but cost 6–18 % wall per pass, and ×10 cost 9 % on
``migrate``; ×3 was the only multiplier measured that cut CPU at flat
wall.  ``-Xss4m`` gives py4j gateway threads room for
parsers that recurse once per row: Derby's parser overflows the default
1 MB stack on a single-statement ``INSERT … VALUES`` of 3 000 rows, and
how deep it gets depends on JIT state.

The string goes in ``spark.driver.defaultJavaOptions``, not
``extraJavaOptions``: Spark puts a deployer's ``extraJavaOptions`` after
the defaults and HotSpot keeps the last value of a flag, so a
deployer's own setting still wins.  Like the static confs, it reaches
only a JVM that ``get_spark()`` launches; a session built elsewhere
keeps its own JVM flags.

Scale notes (100 TB): shuffle.partitions here is sized for local[32]; on a
real cluster set spark.sql.shuffle.partitions ≈ 2-3× total cores and rely
on AQE coalescing — every operator in this repo is declarative, so the
same plans re-optimize under AQE at any scale.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession

#: Confs set at session build.  ``session_builder`` adds the
#: environment-dependent ones (shuffle partitions, driver memory).
BUILD_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # static; sized in the module docstring
    "spark.sql.codegen.cache.maxEntries": "1000",
    "spark.ui.enabled": "false",
}

#: JVM flags of a session ``get_spark()`` launches (module docstring):
#: C2 thresholds at 3× HotSpot 17's defaults, and a 4 MB thread stack.
DRIVER_JAVA_OPTIONS = " ".join([
    "-XX:Tier4InvocationThreshold=15000",
    "-XX:Tier4MinInvocationThreshold=1800",
    "-XX:Tier4CompileThreshold=45000",
    "-XX:Tier4BackEdgeThreshold=120000",
    "-Xss4m",
])

#: Confs that must hold on ANY session running our queries (all are
#: runtime-settable; verified on pyspark 4.1.2).
RUNTIME_CONFS: dict[str, str] = {
    # events.ts is ns-precision parquet; Spark 4.x refuses TIMESTAMP(NANOS)
    # unless this legacy conf maps it to LongType.  catalog.load() then
    # converts with timestamp_micros(ts div 1000).  (FIXTURES.md, SURVEY §7.4.5)
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # DuckDB timestamps are naive; pin Spark's session tz so TimestampType
    # renders/derives identically on both sides.
    "spark.sql.session.timeZone": "UTC",
    # Arrow transfer for the pandas-UDF surface (§2.J).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def ensure_runtime_confs(spark: SparkSession) -> SparkSession:
    """Idempotently apply RUNTIME_CONFS to an externally-built session."""
    for k, v in RUNTIME_CONFS.items():
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception:
            # Non-settable on some build => best effort; queries that need
            # it will raise a clear AnalysisException at scan time.
            pass
    _ship_package(spark)
    return spark


def _ship_package(spark: SparkSession) -> None:
    """Make migbq_spark importable inside Python worker processes.

    cloudpickle serializes module-level functions referenced by UDFs *by
    reference*; an externally-built session's workers don't have this
    repo on sys.path, so without this every such UDF dies with
    ModuleNotFoundError.  Shipping the package once via addPyFile fixes
    all of them (and matches how a real cluster would deploy the code)."""
    sc = spark.sparkContext
    if getattr(sc, "_migbq_pkg_shipped", False):
        return
    import tempfile
    import zipfile

    pkg_dir = Path(__file__).resolve().parent
    fd, tmp = tempfile.mkstemp(suffix=".zip", prefix="migbq_spark_pkg_")
    os.close(fd)
    with zipfile.ZipFile(tmp, "w") as zf:
        for py in sorted(pkg_dir.rglob("*.py")):
            zf.write(py, arcname=str(Path("migbq_spark") / py.relative_to(pkg_dir)))
    zpath = Path(tmp).with_name("migbq_spark_pkg.zip")
    os.replace(tmp, zpath)
    sc.addPyFile(str(zpath))
    # Runtime repair for the transformWithState DRIVER-side transport:
    # StreamingPythonRunner spawns its worker via PythonWorkerFactory,
    # whose PYTHONPATH merge reads the pickled function's envVars — which
    # is ``sc.environment``, a plain Python dict consulted at UDF-WRAP
    # time (udf._wrap_function -> _prepare_for_python_RDD ->
    # sc.environment).  addPyFile includes do NOT reach that spawned
    # process, and the JVM's inherited PYTHONPATH is frozen at launch —
    # but mutating sc.environment here works on an already-launched bare
    # session because the merge happens when the worker spawns.  Measured
    # this round: a bare local[4] session that previously warned
    # STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE takes the REAL
    # transport with this set (_TWS_LAST_PATH == "real"). Executor-side
    # workers also see the entry; a nonexistent path on a real cluster's
    # workers is inert (addPyFile still ships the pkg).
    repo_root = str(Path(__file__).resolve().parent.parent)
    env_pp = sc.environment.get("PYTHONPATH", "")
    if repo_root not in env_pp.split(os.pathsep):
        sc.environment["PYTHONPATH"] = (
            repo_root + (os.pathsep + env_pp if env_pp else "")
        )
    sc._migbq_pkg_shipped = True


def session_builder(
    app_name: str,
    cpus: str | int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession.Builder:
    """A local-session builder carrying BUILD_CONFS and RUNTIME_CONFS."""
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("MIGBQ_SHUFFLE_PARTITIONS", "32")
    )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("MIGBQ_DRIVER_MEM", "8g"))
        .config("spark.driver.defaultJavaOptions", DRIVER_JAVA_OPTIONS)
    )
    for k, v in {**BUILD_CONFS, **RUNTIME_CONFS}.items():
        builder = builder.config(k, v)
    return builder


def get_spark(
    app_name: str = "migbq-spark",
    cpus: str | int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build a local SparkSession with the engine's standard configuration."""
    # transformWithState's driver-side StreamingPythonRunner spawns a
    # fresh python process whose sys.path comes from the JVM's inherited
    # PYTHONPATH, NOT from addPyFile includes — so the repo root must be
    # on PYTHONPATH before the JVM launches for the real TWS transport
    # to unpickle our StatefulProcessor (no-op if the JVM already
    # exists; externally-built sessions rely on the operator's runtime
    # fallback instead).
    repo_root = str(Path(__file__).resolve().parent.parent)
    existing = os.environ.get("PYTHONPATH", "")
    if repo_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            repo_root + (os.pathsep + existing if existing else "")
        )
    return session_builder(app_name, cpus, shuffle_partitions).getOrCreate()
