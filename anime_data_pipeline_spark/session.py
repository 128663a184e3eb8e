"""SparkSession factory tuned for both local testing and cluster scale.

Local mode is a single JVM (``local[N]``); on a real cluster the same
settings hold except memory sizing. Every knob here is scale-motivated:

- AQE on: runtime partition coalescing + skew-join splitting, so plans
  survive skewed keys (e.g. bucket resolutions cluster on few ARs).
- shuffle.partitions sized to cores locally; on a 1000-executor cluster
  AQE's coalescePartitions makes the static number mostly irrelevant.
- Arrow on: every pandas_udf / mapInPandas crossing is vectorized.
- UTC session timezone: parquet timestamps compare bit-identically with
  the DuckDB oracle (DuckDB is UTC-naive).

The driver JVM starts from an AppCDS (class-data sharing) archive: the
classes it loaded in an earlier session are memory-mapped instead of
parsed and verified again, which halves the time to a first job (about
10 → 5 s on 4 vCPUs). ``get_spark`` owns the archive and has no setting
for it:

- It lives in ``$XDG_CACHE_HOME/anime_data_pipeline_spark/cds/``
  (``~/.cache/...`` by default), one ``<key>.jsa`` per Java build and
  Spark jar list. ``rm -rf`` that directory to clear it.
- The first session after a JDK or jar change runs in dump mode and
  pays one ~10 s archive dump when its process exits; an ``atexit``
  hook closes the JVM's stdin, waits for it and renames the finished
  ``<key>.<pid>.part`` to ``<key>.jsa`` only on a clean exit.
- The rename must stay atomic: on JDK 17 a truncated archive at the
  live path crashes the JVM with SIGBUS, while a garbage or missing one
  is only ignored.
- CDS refuses a non-empty directory on the classpath, so the archive is
  used only when ``SPARK_CONF_DIR`` is unset and Spark's conf dir holds
  nothing but ``*.template`` files (it then points ``SPARK_CONF_DIR`` at
  an empty directory in the cache, which changes no setting). Otherwise,
  or when the cache is not writable, the JVM starts as it always did.
"""

from __future__ import annotations

import atexit
import glob
import hashlib
import os
import shutil
import subprocess

from pyspark import SparkContext
from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

_JAVA_OPTS = "spark.driver.extraJavaOptions"
# a dump warns once per signed jar on stdout, which harnesses parse
_QUIET_CDS = "-Xlog:cds=off,cds+dynamic=off"
# launcher inputs that put a directory on the driver's classpath
_CLASSPATH_ENV = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")


def get_spark(
    app_name: str = "anime_data_pipeline_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``getOrCreate`` semantics: safe to call from tests, bench, and the
    driver harness alike — the first caller wins on the config.
    """
    cpus = cpus or DEFAULT_CPUS
    # Python workers deserialize mapInPandas/UDF closures that reference
    # this package; make it importable regardless of the caller's cwd
    # (the driver harness runs from a neutral directory). Must happen
    # BEFORE the JVM launches so spawned workers inherit it.
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if repo_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{repo_root}{os.pathsep}{existing}" if existing else repo_root
        )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # InferFiltersFromGenerate turns explode(computed_array) into a
        # pushed-down size()>0 filter whose predicate INLINES the whole
        # array expression once per element_at reference — measured 16×
        # recompute of the tokenize→hash→shingle chain on the dedup/
        # contamination paths (10.5 s → 2.1 s for the q78 universe at
        # sf0.1 with the rule off). The rule only pre-skips empty-array
        # rows, which the generator drops anyway.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
    )
    conf = dict(extra_conf or {})
    if SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        conf = _with_class_archive(conf)  # only a JVM about to launch reads it
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _archive_key(spark_home: str) -> str | None:
    """Digest of the Java build and the launcher's jar list: an archive
    is valid only for the JDK and the classpath that dumped it."""
    java_home = os.environ.get("JAVA_HOME")
    if not java_home:  # spark-class then runs the java on PATH
        java = shutil.which("java")
        if not java:
            return None
        java_home = os.path.dirname(os.path.dirname(os.path.realpath(java)))
    h = hashlib.sha256()
    try:
        with open(os.path.join(java_home, "release"), "rb") as f:
            h.update(f.read())
        jvm = os.stat(os.path.join(java_home, "lib", "server", "libjvm.so"))
        h.update(f"{jvm.st_size}:{jvm.st_mtime_ns}".encode())
        for jar in sorted(glob.glob(os.path.join(spark_home, "jars", "*.jar"))):
            st = os.stat(jar)
            h.update(f"{os.path.basename(jar)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    except OSError:
        return None
    return h.hexdigest()[:16]


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except OSError:
        pass
    return True


def _remove(path: str) -> None:
    try:
        os.remove(path)
    except OSError:
        pass


def _promote(part: str, jsa: str) -> None:
    """At exit: end the gateway JVM (it exits on stdin EOF and dumps the
    archive on the way out) and publish the dump only if it completed."""
    proc = getattr(SparkContext._gateway, "proc", None)
    code = None
    if proc is not None:
        try:
            proc.stdin.close()
            code = proc.wait(timeout=300)
        except (OSError, subprocess.TimeoutExpired):  # gone or stuck: keep no dump
            pass
    try:
        if code == 0 and os.path.getsize(part) > 0:
            os.replace(part, jsa)
    except OSError:
        pass
    _remove(part)


def _with_class_archive(conf: dict[str, str]) -> dict[str, str]:
    """``conf`` plus the AppCDS flags for a JVM about to launch, appended
    to the caller's ``spark.driver.extraJavaOptions``; ``conf`` itself
    when the archive cannot apply."""
    from pyspark.find_spark_home import _find_spark_home

    cache = os.path.join(
        os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache"),
        "anime_data_pipeline_spark", "cds",
    )
    empty_conf = os.path.join(cache, "conf")
    if os.environ.get("SPARK_CONF_DIR", empty_conf) != empty_conf or any(
        os.environ.get(v) for v in _CLASSPATH_ENV
    ):
        return conf
    spark_home = _find_spark_home()
    try:
        conf_dir = os.path.join(spark_home, "conf")
        key = _archive_key(spark_home)
        if key is None or any(not n.endswith(".template") for n in os.listdir(conf_dir)):
            return conf
        os.makedirs(empty_conf, exist_ok=True)
        if not os.access(cache, os.W_OK):
            return conf
    except OSError:
        return conf
    jsa = os.path.join(cache, f"{key}.jsa")
    if os.path.isfile(jsa):
        flags = f"-XX:SharedArchiveFile={jsa}"
    else:
        for old in glob.glob(os.path.join(cache, "*.part")):  # dumps whose owner died
            pid = old.rsplit(".", 2)[1]
            if pid.isdigit() and not _alive(int(pid)):
                _remove(old)
        part = os.path.join(cache, f"{key}.{os.getpid()}.part")
        flags = f"-XX:ArchiveClassesAtExit={part}"
        atexit.register(_promote, part, jsa)
    os.environ["SPARK_CONF_DIR"] = empty_conf
    caller = conf.get(_JAVA_OPTS, "")
    return {**conf, _JAVA_OPTS: f"{caller} {flags} {_QUIET_CDS}".lstrip()}
