"""The driver JVM's AppCDS archive, owned by ``session.get_spark``.

The lifecycle test starts three fresh driver processes (a miss that
dumps, a hit, a garbage archive) against a temporary
``XDG_CACHE_HOME``; the rest check, without starting a JVM, that the
archive stays out of the way whenever it cannot apply.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

import pytest

from anime_data_pipeline_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PROBE = r"""
import json
from anime_data_pipeline_spark.session import get_spark

spark = get_spark(
    app_name="cds", cpus=2,
    extra_conf={"spark.driver.extraJavaOptions": "-XX:-UsePerfData"},
)
n = spark.range(10).filter("id % 2 = 0").count()
mx = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
print(json.dumps({"n": n, "args": list(mx.getInputArguments())}))
"""


def _cds_dir(cache: str) -> str:
    return os.path.join(cache, "anime_data_pipeline_spark", "cds")


def _launch(cache: str) -> dict:
    env = dict(os.environ, XDG_CACHE_HOME=cache, SPARK_GRAFT_DRIVER_MEM="1g", PYTHONPATH=REPO)
    env.pop("SPARK_CONF_DIR", None)  # the parent session may have set its own
    out = subprocess.run(
        [sys.executable, "-c", PROBE], env=env, cwd=cache,
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert res["n"] == 5
    return res


def _applies() -> bool:
    from pyspark.find_spark_home import _find_spark_home

    conf_dir = os.path.join(_find_spark_home(), "conf")
    return (
        os.path.isdir(conf_dir)
        and all(n.endswith(".template") for n in os.listdir(conf_dir))
        and not any(os.environ.get(v) for v in session._CLASSPATH_ENV)
    )


@pytest.mark.skipif(not _applies(), reason="Spark's conf dir holds real settings")
def test_archive_lifecycle_miss_hit_garbage(tmp_path):
    cache = str(tmp_path)
    from pyspark.find_spark_home import _find_spark_home

    key = session._archive_key(_find_spark_home())
    assert key
    cds = _cds_dir(cache)
    os.makedirs(cds)
    # a truncated dump left by a process that died mid-write
    dead = subprocess.Popen(["true"])
    dead.wait()
    stale = os.path.join(cds, f"{key}.{dead.pid}.part")
    with open(stale, "wb") as f:
        f.write(b"\0" * 4096)

    # miss: dump mode, then the finished archive is promoted at exit
    args = _launch(cache)["args"]
    assert "-XX:-UsePerfData" in args
    assert any(a.startswith("-XX:ArchiveClassesAtExit=") for a in args)
    assert not any(stale in a for a in args)
    assert set(os.listdir(cds)) == {"conf", f"{key}.jsa"}
    assert os.path.getsize(os.path.join(cds, f"{key}.jsa")) > 1 << 20

    # hit: the caller's flags survive the merge
    args = _launch(cache)["args"]
    assert f"-XX:SharedArchiveFile={os.path.join(cds, key)}.jsa" in args
    assert "-XX:-UsePerfData" in args
    assert not glob.glob(os.path.join(cds, "*.part"))

    # a garbage archive costs the speed-up, not the session
    jsa = os.path.join(cds, f"{key}.jsa")
    os.remove(jsa)
    with open(jsa, "wb") as f:
        f.write(b"not a class-data archive\n" * 64)
    _launch(cache)


def test_user_conf_dir_leaves_flags_alone(tmp_path, monkeypatch):
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path / "conf"))
    conf = {"spark.driver.extraJavaOptions": "-XX:-UsePerfData"}
    assert session._with_class_archive(conf) == conf
    assert os.environ["SPARK_CONF_DIR"] == str(tmp_path / "conf")
    assert not (tmp_path / "cache").exists()


def test_real_conf_file_leaves_flags_alone(tmp_path, monkeypatch):
    home = tmp_path / "spark"
    (home / "conf").mkdir(parents=True)
    (home / "conf" / "spark-env.sh.template").write_text("")
    (home / "conf" / "spark-defaults.conf").write_text("spark.driver.cores 2\n")
    monkeypatch.setenv("SPARK_HOME", str(home))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    assert session._with_class_archive({}) == {}
    assert "SPARK_CONF_DIR" not in os.environ
    assert not (tmp_path / "cache").exists()


def test_live_session_touches_no_cache(spark, tmp_path, monkeypatch):
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    assert session.get_spark(app_name="tests", cpus=8) is spark
    assert not os.listdir(tmp_path)
