"""SparkSession factory with the engine's standard configuration.

Scale notes (design target: 10^12 docs on a 1000-executor cluster):
- AQE on: runtime coalescing + skew-join splitting replace hand-tuned
  shuffle partition counts at any scale.
- Arrow on: every Python-side rule crosses the JVM boundary in columnar
  batches, never per row.
- shuffle.partitions is a local-mode default only; on a real cluster AQE
  derives post-shuffle parallelism from advisoryPartitionSizeInBytes.

Cold start: a driver JVM this module launches maps a class-data archive
(JEP 350) from ``cache_dir()``, and Python workers fork from
``luzzu_spark.daemon``, which loads the plugin models before it forks.
"""

from __future__ import annotations

import glob
import hashlib
import os
import subprocess
import tempfile

from pyspark.sql import SparkSession

DEFAULT_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.sql.shuffle.partitions": "32",
    # fixture-scale scan granularity: a few hundred MB of parquet must
    # still fan out across all cores (128m default packs it into ~3
    # splits). On a real cluster reading 100 TB, raise back to 128-256m
    # so task count stays ~1e6, not 1e7.
    "spark.sql.files.maxPartitionBytes": "16m",
    "spark.sql.session.timeZone": "UTC",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
    "spark.python.daemon.module": "luzzu_spark.daemon",
}

JAVA_OPTS = "spark.driver.defaultJavaOptions"
# silence the JVM's per-class "skipping" notes while it dumps the archive
_QUIET_CDS = "-Xlog:cds=off,cds+dynamic=off"
# settings that make the driver classpath differ from what _classpath() builds
_CLASSPATH_ENV = ("SPARK_CONF_DIR", "PYSPARK_SUBMIT_ARGS", "HADOOP_CONF_DIR",
                  "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH", "SPARK_CLASSPATH")


def default_cpus() -> int:
    """Local-mode thread count: ``SPARK_GRAFT_CPUS`` if set, else the
    CPUs this process may run on (its affinity mask, not the host's
    core count)."""
    return int(os.environ.get("SPARK_GRAFT_CPUS")
               or len(os.sched_getaffinity(0)))


def cache_dir() -> str:
    """Where the class-data archive lives: outside any checkout and any
    run's TMPDIR, so every later run on the box finds it. Deleting the
    directory resets it."""
    base = (os.environ.get("XDG_CACHE_HOME")
            or os.path.join(os.path.expanduser("~"), ".cache"))
    return os.path.join(base, "luzzu_spark")


def _java() -> str:
    """The java binary Spark's launcher runs."""
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def _classpath(spark_home: str, conf_dir: str) -> str:
    """The driver classpath Spark's launcher builds when nothing adds to
    it: the conf directory, the slf4j-api jar, then every jar."""
    jars = os.path.join(spark_home, "jars")
    slf4j = sorted(glob.glob(os.path.join(jars, "slf4j-api-*")))
    return os.pathsep.join([conf_dir + os.sep, *slf4j,
                            os.path.join(jars, "*")])


def _archive_key(spark_home: str, classpath: str) -> str:
    """Hash of ``java -version`` and the classpath, its jars' sizes and
    mtimes included: an archive only maps into the JVM and jars that
    wrote it."""
    h = hashlib.sha256(subprocess.run(
        [_java(), "-version"], capture_output=True, check=True,
        timeout=60).stderr)
    h.update(classpath.encode())
    with os.scandir(os.path.join(spark_home, "jars")) as it:
        for e in sorted(it, key=lambda e: e.name):
            st = e.stat()
            h.update(f"{e.name}:{st.st_size}:{st.st_mtime_ns};".encode())
    return h.hexdigest()[:16]


def _mappable(archive: str, classpath: str) -> bool:
    """True when a JVM maps ``archive``. JDK 17 does not fall back on a
    truncated archive: it dies with SIGBUS. So the check runs in a
    throwaway JVM that must map it (``-Xshare:on``) and leaves no crash
    log or core file behind."""
    try:
        return subprocess.run(
            [_java(), "-Xshare:on", f"-XX:SharedArchiveFile={archive}",
             "-XX:ErrorFile=/dev/null", "-XX:-CreateCoredumpOnCrash",
             _QUIET_CDS, "-cp", classpath, "-version"],
            stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
            timeout=120).returncode == 0
    except subprocess.TimeoutExpired:
        return False


def _publish(archive: str, classpath: str) -> None:
    """Move the first dump for this key that a JVM maps into place with
    an atomic rename; delete every other dump. A dump cut short (a
    killed JVM, or one still writing) fails the check, so the archive
    path only ever names a complete file."""
    for dump in sorted(glob.glob(archive[:-len(".jsa")] + ".*.dump")):
        try:
            if not os.path.exists(archive) and _mappable(dump, classpath):
                os.replace(dump, archive)
            else:
                os.unlink(dump)
        except OSError:
            pass  # a concurrent start took or removed it


def archive_options(spark_home: str) -> tuple[str, dict[str, str]]:
    """JVM options and environment that give a driver JVM launched here
    the class-data archive: map it if one is published, else dump one
    at exit under a private temp name for the next start to check and
    publish. The JVM only archives with an empty conf directory on its
    classpath, so ``SPARK_CONF_DIR`` points at an empty directory in the
    cache; that is only done when it changes no configuration (the user
    set no ``SPARK_CONF_DIR`` and ``$SPARK_HOME/conf`` holds only
    ``*.template`` files). Anything else, an unwritable cache included,
    yields ``("", {})``: a plain start."""
    if any(os.environ.get(v) for v in _CLASSPATH_ENV):
        return "", {}
    try:
        if not all(n.endswith(".template") for n in
                   os.listdir(os.path.join(spark_home, "conf"))):
            return "", {}
    except FileNotFoundError:
        pass
    cache = cache_dir()
    conf_dir = os.path.join(cache, "conf")
    try:
        os.makedirs(conf_dir, exist_ok=True)
        if os.listdir(conf_dir):
            return "", {}
        classpath = _classpath(spark_home, conf_dir)
        archive = os.path.join(cache, _archive_key(spark_home, classpath)
                               + ".jsa")
        _publish(archive, classpath)
        if os.path.exists(archive):
            opt = f"-XX:SharedArchiveFile={archive}"
        else:
            fd, dump = tempfile.mkstemp(prefix=archive[:-len("jsa")],
                                        suffix=".dump", dir=cache)
            os.close(fd)
            os.unlink(dump)
            opt = f"-XX:ArchiveClassesAtExit={dump}"
    except (OSError, subprocess.SubprocessError):
        return "", {}
    return f"{opt} {_QUIET_CDS}", {"SPARK_CONF_DIR": conf_dir}


def session_settings(master: str | None, extra_conf: dict[str, str] | None
                     ) -> tuple[str | None, dict[str, str], dict[str, str]]:
    """(master, confs, launch environment) for ``get_spark``. Under
    spark-submit (``PYSPARK_GATEWAY_PORT`` set) the JVM is already up:
    only an explicit master applies and no archive option is added.
    Otherwise the master defaults to ``local[default_cpus()]``, and a
    JVM this call launches gets ``archive_options`` in front of any
    ``spark.driver.defaultJavaOptions`` of the caller."""
    from pyspark import SparkContext
    from pyspark.find_spark_home import _find_spark_home
    confs = {**DEFAULT_CONFS, **(extra_conf or {})}
    if "PYSPARK_GATEWAY_PORT" in os.environ:
        return master, confs, {}
    env = {}
    if SparkContext._gateway is None and "spark.driver.extraClassPath" \
            not in confs:
        opts, env = archive_options(_find_spark_home())
        if opts:
            confs[JAVA_OPTS] = f"{opts} {confs.get(JAVA_OPTS, '')}".strip()
    return master or f"local[{default_cpus()}]", confs, env


def get_spark(app_name: str = "luzzu_spark", master: str | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine defaults; see
    ``session_settings`` for the master and the class-data archive."""
    master, confs, env = session_settings(master, extra_conf)
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    for k, v in confs.items():
        builder = builder.config(k, v)
    os.environ.update(env)  # only names the user left unset
    try:
        return builder.getOrCreate()
    finally:
        for k in env:
            del os.environ[k]


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine confs to an externally-created
    session (the driver passes its own session into ``queries()``
    callables). Attempt EVERY default conf and let the except skip the
    genuinely non-runtime ones (review r05: the old adaptive/arrow
    prefix filter silently skipped session.timeZone=UTC, which the
    streaming/fixture TIMESTAMP_NTZ→TIMESTAMP casts depend on — a
    non-UTC driver JVM would shift every window epoch by its zone
    offset)."""
    for k, v in DEFAULT_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-runtime conf on this build — defaults still fine
    return spark
