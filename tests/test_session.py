"""Cold-start settings of `session.get_spark`: the class-data archive
and the master. The unit tests run no SparkSession (they call
`archive_options` and `session_settings` directly, with small archives
the JVM dumps in a fraction of a second); one subprocess test starts a
real session against a truncated dump and a foreign archive."""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys

import pytest
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home

from luzzu_spark import session

SPARK_HOME = _find_spark_home()
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TEMPLATES_ONLY = all(n.endswith(".template") for n in
                     os.listdir(os.path.join(SPARK_HOME, "conf")))
needs_default_conf = pytest.mark.skipif(
    not TEMPLATES_ONLY, reason="$SPARK_HOME/conf holds a live file")


def _dump(path: str, classpath: str) -> str:
    """A small real archive: a JVM loads Spark's launcher classes from
    `classpath` and dumps them at exit."""
    subprocess.run([session._java(), f"-XX:ArchiveClassesAtExit={path}",
                    session._QUIET_CDS, "-cp", classpath,
                    "org.apache.spark.launcher.Main"],
                   stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    assert os.path.getsize(path) > 0
    return path


@pytest.fixture(scope="module")
def archives(tmp_path_factory):
    """XDG_CACHE_HOME, the classpath a launch under it gets, and two
    archives: one for that classpath, one for another."""
    xdg = tmp_path_factory.mktemp("xdg")
    os.makedirs(xdg / "luzzu_spark" / "conf")
    cp = session._classpath(SPARK_HOME, str(xdg / "luzzu_spark" / "conf"))
    store = tmp_path_factory.mktemp("archives")
    return {"xdg": str(xdg), "cp": cp,
            "good": _dump(str(store / "good.jsa"), cp),
            "foreign": _dump(str(store / "foreign.jsa"),
                             os.path.join(SPARK_HOME, "jars", "*"))}


@pytest.fixture
def cache(archives, monkeypatch):
    """An empty archive cache; nothing in the environment adds to the
    driver classpath. Yields (cache dir, path the archive is published
    at)."""
    monkeypatch.setenv("XDG_CACHE_HOME", archives["xdg"])
    for v in session._CLASSPATH_ENV + ("PYSPARK_GATEWAY_PORT",):
        monkeypatch.delenv(v, raising=False)
    d = session.cache_dir()
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(os.path.join(d, "conf"))
    key = session._archive_key(SPARK_HOME, archives["cp"])
    yield d, os.path.join(d, key + ".jsa")
    assert not glob.glob("hs_err_pid*.log")
    assert not glob.glob(os.path.join(d, "**", "hs_err*"), recursive=True)


def _write_dump(archive: str, data: bytes, tag: str) -> str:
    dump = f"{archive[:-len('jsa')]}{tag}.dump"
    with open(dump, "wb") as f:
        f.write(data)
    return dump


def _dumps_at_exit(opts: str, d: str, archive: str) -> bool:
    """The options dump a new archive under a private name for this key."""
    name = opts.split()[0].partition("-XX:ArchiveClassesAtExit=")[2]
    return (os.path.dirname(name) == d and not os.path.exists(name)
            and os.path.basename(name).startswith(
                os.path.basename(archive)[:-len("jsa")]))


@needs_default_conf
@pytest.mark.parametrize("cut", ["empty", "header", "half", "foreign"])
def test_unmappable_dump_is_deleted_never_mapped(cache, archives, cut):
    d, archive = cache
    with open(archives["foreign" if cut == "foreign" else "good"],
              "rb") as f:
        data = f.read()
    data = {"empty": b"", "header": data[:3000], "half":
            data[:len(data) // 2], "foreign": data}[cut]
    dump = _write_dump(archive, data, cut)
    opts, env = session.archive_options(SPARK_HOME)
    assert "SharedArchiveFile" not in opts
    assert _dumps_at_exit(opts, d, archive)
    assert env == {"SPARK_CONF_DIR": os.path.join(d, "conf")}
    assert not os.path.exists(dump) and not os.path.exists(archive)


@needs_default_conf
def test_validated_dump_is_published_and_selected(cache, archives):
    d, archive = cache
    with open(archives["good"], "rb") as f:
        data = f.read()
    dumps = [_write_dump(archive, data, t) for t in ("a", "b")]
    for _ in range(2):
        opts, env = session.archive_options(SPARK_HOME)
        assert opts == f"-XX:SharedArchiveFile={archive} " \
                       f"{session._QUIET_CDS}"
        assert env == {"SPARK_CONF_DIR": os.path.join(d, "conf")}
    with open(archive, "rb") as f:
        assert f.read() == data
    assert not any(os.path.exists(p) for p in dumps)


@needs_default_conf
@pytest.mark.parametrize("case", ["user_conf_dir", "live_spark_conf",
                                  "live_cache_conf", "unwritable_cache"])
def test_plain_start(cache, tmp_path, monkeypatch, case):
    d, archive = cache
    spark_home = SPARK_HOME
    if case == "user_conf_dir":
        monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path))
    elif case == "live_spark_conf":
        spark_home = str(tmp_path)
        os.makedirs(tmp_path / "conf")
        (tmp_path / "conf" / "spark-defaults.conf").write_text("\n")
    elif case == "live_cache_conf":
        with open(os.path.join(d, "conf", "log4j2.properties"), "w"):
            pass
    else:
        (tmp_path / "file").write_text("")
        monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "file"))
    assert session.archive_options(spark_home) == ("", {})
    assert not glob.glob(os.path.join(d, "*.*"))


def test_spark_submit_leaves_master_and_options_alone(monkeypatch):
    monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "1")
    monkeypatch.setattr(session, "archive_options", pytest.fail)
    master, confs, env = session.session_settings(None, {"k": "v"})
    assert master is None and env == {}
    assert session.JAVA_OPTS not in confs and confs["k"] == "v"
    assert session.session_settings("yarn", None)[0] == "yarn"


@pytest.mark.parametrize("jvm_up", [False, True])
def test_launch_adds_archive_options(monkeypatch, jvm_up):
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    monkeypatch.setattr(SparkContext, "_gateway", object() if jvm_up
                        else None)
    monkeypatch.setattr(session, "archive_options",
                        lambda home: ("-XX:A", {"SPARK_CONF_DIR": "/c"}))
    master, confs, env = session.session_settings(
        None, {session.JAVA_OPTS: "-Dx=1"})
    assert master == f"local[{session.default_cpus()}]"
    if jvm_up:   # getOrCreate reuses the running JVM: nothing to add
        assert confs[session.JAVA_OPTS] == "-Dx=1" and env == {}
    else:
        assert confs[session.JAVA_OPTS] == "-XX:A -Dx=1"
        assert env == {"SPARK_CONF_DIR": "/c"}


_JOB = """
import json, sys
from pyspark import SparkContext
from luzzu_spark.rules.plugins import plugin_bundle_udf
from luzzu_spark.session import JAVA_OPTS, get_spark
spark = get_spark("archive-probe", master="local[2]")
n = (spark.range(50).selectExpr("concat('the cat ', id) AS t")
     .select(plugin_bundle_udf("t").alias("b"))
     .selectExpr("count(b.ppl) AS n").collect()[0].n)
opts = spark.sparkContext.getConf().get(JAVA_OPTS)
gateway = SparkContext._gateway
spark.stop()
gateway.shutdown()
gateway.proc.stdin.close()
gateway.proc.wait(timeout=120)
print(json.dumps({"n": n, "opts": opts}))
"""


@needs_default_conf
@pytest.mark.parametrize("bad", ["truncated_dump", "foreign_archive"])
def test_session_starts_against_a_bad_archive(cache, archives, tmp_path,
                                              bad):
    """A real session starts and runs a pandas UDF job: a truncated dump
    is deleted and the session dumps a fresh archive at exit; an archive
    published for another classpath is ignored by the JVM."""
    d, archive = cache
    with open(archives["good" if bad == "truncated_dump" else "foreign"],
              "rb") as f:
        data = f.read()
    if bad == "truncated_dump":
        dump = _write_dump(archive, data[:len(data) // 2], "cut")
    else:
        shutil.copy(archives["foreign"], archive)
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("PYSPARK_GATEWAY")}
    env["PYTHONPATH"] = REPO
    r = subprocess.run([sys.executable, "-c", _JOB], cwd=tmp_path, env=env,
                       capture_output=True, text=True, timeout=300)
    assert r.returncode == 0, r.stderr[-3000:]
    out = json.loads(r.stdout.strip().splitlines()[-1])
    assert out["n"] == 50
    assert not glob.glob(str(tmp_path / "hs_err_pid*.log"))
    if bad == "truncated_dump":
        assert not os.path.exists(dump) and not os.path.exists(archive)
        (fresh,) = glob.glob(archive[:-len("jsa")] + "*.dump")
        assert out["opts"].startswith(f"-XX:ArchiveClassesAtExit={fresh} ")
        assert session._mappable(fresh, archives["cp"])
    else:
        assert out["opts"].startswith(f"-XX:SharedArchiveFile={archive} ")
