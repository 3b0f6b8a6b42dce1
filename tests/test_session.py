"""The driver JVM's class-data archive: which option ``configure`` gives a
new driver JVM, and what it does to the environment. The archive build
is faked except in the suite's own session; only the fallback case
starts a JVM of its own."""

from __future__ import annotations

import os
import re
import subprocess
import sys

import pytest
from pyspark import SparkContext
from pyspark.sql import SparkSession

from udacity_data_engineer_capstone_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_ARCHIVE = b"archive bytes"


def _no_conf_dir(monkeypatch) -> None:
    # set before deleting, so the teardown restores whatever was there
    monkeypatch.setenv("SPARK_CONF_DIR", "unset")
    monkeypatch.delenv("SPARK_CONF_DIR")


@pytest.fixture
def builds(tmp_path, monkeypatch):
    """A Spark home whose conf holds only templates, a ``java``, an
    empty per-user cache and a fake archive build; yields the
    environments the builds ran with."""
    spark_home = tmp_path / "spark"
    (spark_home / "jars").mkdir(parents=True)
    (spark_home / "jars" / "spark-core.jar").write_bytes(b"jar")
    (spark_home / "conf").mkdir()
    (spark_home / "conf" / "spark-defaults.conf.template").write_text("")
    java = tmp_path / "jdk" / "bin" / "java"
    java.parent.mkdir(parents=True)
    java.write_bytes(b"java")
    monkeypatch.setenv("SPARK_HOME", str(spark_home))
    monkeypatch.setenv("JAVA_HOME", str(tmp_path / "jdk"))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    _no_conf_dir(monkeypatch)
    envs = []

    def dump(path, env):
        envs.append(env)
        os.mkdir(path)
        with open(os.path.join(path, f"classes-{len(_ARCHIVE)}.jsa"), "wb") as fh:
            fh.write(_ARCHIVE)

    monkeypatch.setattr(session, "_dump_class_data", dump)
    return envs


def _cds(tmp_path) -> str:
    return str(tmp_path / "cache" / "spark-graft" / "cds")


def _archive() -> str:
    option = session._class_data_option()
    assert option.startswith("-XX:SharedArchiveFile=")
    return option.split("=", 1)[1]


def test_caller_options_are_kept_and_the_archive_appended(builds, tmp_path, monkeypatch):
    monkeypatch.setattr(SparkContext, "_gateway", None)
    builder = session.configure(
        SparkSession.Builder().config("spark.driver.extraJavaOptions", "-Dcaller=1")
    )
    (stage,) = os.listdir(_cds(tmp_path))
    archive = os.path.join(_cds(tmp_path), stage, f"classes-{len(_ARCHIVE)}.jsa")
    assert builder._options["spark.driver.extraJavaOptions"] == (
        f"-Dcaller=1 -XX:SharedArchiveFile={archive}"
    )
    conf = str(tmp_path / "cache" / "spark-graft" / "conf")
    assert os.environ["SPARK_CONF_DIR"] == conf
    assert os.listdir(conf) == []
    # the archive was built by a JVM that saw the same conf directory
    assert [env["SPARK_CONF_DIR"] for env in builds] == [conf]


def test_a_built_archive_is_reused(builds):
    assert _archive() == _archive()
    assert len(builds) == 1


def test_a_running_jvm_gets_no_option(builds, monkeypatch):
    monkeypatch.setattr(SparkContext, "_gateway", object())
    builder = session.configure(SparkSession.Builder())
    assert "spark.driver.extraJavaOptions" not in builder._options
    assert "SPARK_CONF_DIR" not in os.environ
    assert builds == []


def test_a_conf_dir_with_settings_gets_no_archive(builds, monkeypatch):
    conf = os.path.join(os.environ["SPARK_HOME"], "conf")
    with open(os.path.join(conf, "spark-defaults.conf"), "w") as fh:
        fh.write("spark.foo bar\n")
    assert session._class_data_option() is None
    assert "SPARK_CONF_DIR" not in os.environ
    os.remove(os.path.join(conf, "spark-defaults.conf"))
    monkeypatch.setenv("SPARK_CONF_DIR", conf)
    assert session._class_data_option() is None
    assert os.environ["SPARK_CONF_DIR"] == conf
    assert builds == []


def test_a_cache_root_that_is_not_private_gets_no_archive(builds, tmp_path):
    root = tmp_path / "cache" / "spark-graft"
    root.mkdir(parents=True)
    os.chmod(root, 0o755)
    assert session._class_data_option() is None
    assert "SPARK_CONF_DIR" not in os.environ
    assert builds == []


def test_a_new_key_builds_a_new_archive_and_sweeps_the_old(builds, tmp_path):
    old = os.path.dirname(_archive())
    # the jars listing changes
    with open(os.path.join(os.environ["SPARK_HOME"], "jars", "delta.jar"), "wb") as fh:
        fh.write(b"jar")
    new = os.path.dirname(_archive())
    assert new != old
    assert os.listdir(_cds(tmp_path)) == [os.path.basename(new)]
    assert len(builds) == 2


def test_a_live_build_is_left_alone(builds, tmp_path):
    _archive()
    live = subprocess.Popen(["sleep", "60"])
    try:
        theirs = os.path.join(_cds(tmp_path), f".{live.pid}_build")
        os.makedirs(os.path.join(theirs, "stage"))
        # a new key's publish sweeps the old archive, not a live build
        with open(os.path.join(os.environ["SPARK_HOME"], "jars", "delta.jar"), "wb") as fh:
            fh.write(b"jar")
        archive = _archive()
        assert sorted(os.listdir(_cds(tmp_path))) == sorted(
            [os.path.basename(theirs), os.path.basename(os.path.dirname(archive))]
        )
    finally:
        live.kill()
        live.wait()


def test_a_failed_build_gets_no_archive_and_leaves_nothing(builds, tmp_path, monkeypatch):
    def dump(path, env):
        os.mkdir(path)
        raise subprocess.CalledProcessError(1, "java")

    monkeypatch.setattr(session, "_dump_class_data", dump)
    assert session._class_data_option() is None
    assert "SPARK_CONF_DIR" not in os.environ
    assert os.listdir(_cds(tmp_path)) == []


def test_a_truncated_archive_is_dropped_and_built_again(builds):
    archive = _archive()
    os.chmod(archive, 0o600)
    with open(archive, "r+b") as fh:
        fh.truncate(4)
    assert _archive() == archive
    assert os.path.getsize(archive) == len(_ARCHIVE)
    assert len(builds) == 2


def test_the_suite_jvm_maps_its_archive(spark):
    """The session the suite runs on was started by ``configure`` and,
    where the machine admits an archive, maps the one a short JVM
    built for it."""
    option = spark.sparkContext.getConf().get("spark.driver.extraJavaOptions", "")
    archive = re.search(r"-XX:SharedArchiveFile=(\S+)", option)
    if archive is None:
        pytest.skip("this machine's Spark conf or cache directory admits no archive")
    with open(f"/proc/{SparkContext._gateway.proc.pid}/maps") as fh:
        assert archive[1] in fh.read()


_GARBAGE_SCRIPT = """
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
from udacity_data_engineer_capstone_spark.session import configure
spark = configure(SparkSession.builder.master("local[1]")).getOrCreate()
print(spark.sparkContext.getConf().get("spark.driver.extraJavaOptions"))
print("COUNT", spark.range(5).count())
"""


def test_a_garbage_archive_still_starts_a_session(tmp_path, monkeypatch):
    """The JVM checks the archive it is given and, under the default
    ``-Xshare:auto``, starts without it when the check fails."""
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    _no_conf_dir(monkeypatch)
    garbage = os.urandom(1 << 16)

    def dump(path, env):
        os.mkdir(path)
        with open(os.path.join(path, f"classes-{len(garbage)}.jsa"), "wb") as fh:
            fh.write(garbage)

    monkeypatch.setattr(session, "_dump_class_data", dump)
    archive = _archive()
    env = {k: v for k, v in os.environ.items() if k != "SPARK_CONF_DIR"}
    out = subprocess.run(
        [sys.executable, "-c", _GARBAGE_SCRIPT.format(repo=REPO)],
        env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert f"-XX:SharedArchiveFile={archive}" in out.stdout
    assert "COUNT 5" in out.stdout
