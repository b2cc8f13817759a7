"""get_spark launches its JVM from a class-data-sharing archive that the
first launch trains, and falls back to a stock launch where it cannot."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest
from pyspark import SparkContext
from pyspark.sql import SparkSession

from etl_verkada_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DEAD_PID = 2**31 - 1  # above any kernel's pid_max


@pytest.fixture
def cds(tmp_path, monkeypatch):
    """An archive dir and a Spark home whose conf dir holds only templates."""
    home = tmp_path / "spark"
    (home / "jars").mkdir(parents=True)
    (home / "jars" / "a.jar").write_bytes(b"a")
    (home / "conf").mkdir()
    (home / "conf" / "spark-defaults.conf.template").write_text("")
    monkeypatch.setenv("SPARK_HOME", str(home))
    for var in ("SPARK_CONF_DIR", "PYSPARK_GATEWAY_PORT", *session._CLASSPATH_ENV):
        monkeypatch.delenv(var, raising=False)
    monkeypatch.setattr(session, "_CDS_DIR", str(tmp_path / "cds"))
    return home


def test_cds_plan_trains_then_uses_the_archive(cds):
    options, conf_dir, part, archive = session._cds_plan("my.app")
    assert conf_dir == os.path.join(session._CDS_DIR, "conf") and os.listdir(conf_dir) == []
    assert os.stat(session._CDS_DIR).st_mode & 0o777 == 0o700
    assert os.path.basename(archive).startswith("my_app.")
    assert part == archive[: -len(".jsa")] + f".{os.getpid()}.part"
    assert f"-XX:ArchiveClassesAtExit={part}" in options.split()
    assert "SharedArchiveFile" not in options
    # JVM logging leaves stdout to the caller
    assert "-Xlog:disable" in options.split() and "stdout" not in options

    stem = os.path.basename(archive)[: -len(".jsa")]
    stale = {f"{stem}.{DEAD_PID}.part", "my_app.0123456789abcdef.jsa", "junk.part"}
    kept = {f"{stem}.{os.getppid()}.part", "other.0123456789abcdef.jsa", os.path.basename(archive)}
    for name in stale | kept:
        open(os.path.join(session._CDS_DIR, name), "wb").close()
    options, _, part, _ = session._cds_plan("my.app")
    assert part is None
    assert options.split()[0] == f"-XX:SharedArchiveFile={archive}"
    assert set(os.listdir(session._CDS_DIR)) == {"conf"} | kept


def test_cds_key_covers_the_jars(cds):
    key = session._cds_key(str(cds))
    assert session._cds_key(str(cds)) == key
    (cds / "jars" / "a.jar").write_bytes(b"ab")
    assert session._cds_key(str(cds)) != key


@pytest.mark.parametrize("how", ["symlink", "other_owner", "group_writable"])
def test_cds_plan_launches_stock_from_a_dir_it_does_not_own(cds, tmp_path, monkeypatch, how):
    """The JVM maps code from the archive dir, and the plan deletes files in
    it, so only a real directory of this user that no one else can write to
    is used."""
    real = tmp_path / "real"
    real.mkdir(mode=0o700)
    (real / f"x.0123456789abcdef.{DEAD_PID}.part").write_bytes(b"")
    if how == "symlink":
        os.symlink(real, session._CDS_DIR)
    elif how == "other_owner":
        monkeypatch.setattr(os, "getuid", lambda: os.stat(real).st_uid + 1)
        monkeypatch.setattr(session, "_CDS_DIR", str(real))
    else:
        real.chmod(0o777)
        monkeypatch.setattr(session, "_CDS_DIR", str(real))
    assert session._cds_plan("app") is None
    assert os.listdir(real) == [f"x.0123456789abcdef.{DEAD_PID}.part"]


@pytest.mark.parametrize("how", ["spark_home_conf", "spark_conf_dir", "hadoop_conf_dir"])
def test_cds_plan_launches_stock_beside_a_real_conf_file(cds, tmp_path, monkeypatch, how):
    if how == "spark_home_conf":
        (cds / "conf" / "spark-defaults.conf").write_text("spark.foo 1\n")
    elif how == "spark_conf_dir":
        (tmp_path / "myconf").mkdir()
        (tmp_path / "myconf" / "log4j2.properties").write_text("")
        monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path / "myconf"))
    else:
        monkeypatch.setenv("HADOOP_CONF_DIR", str(cds / "conf"))
    assert session._cds_plan("app") is None


def test_promote_only_after_a_clean_exit(tmp_path, monkeypatch):
    """A JVM killed or crashed while dumping leaves a truncated file, and
    JDK 17 does not fall back from a truncated archive (it dies of SIGBUS
    mapping it), so only exit code 0 promotes the part."""
    stopped = []

    class Context:  # stands in for the active context the handler stops
        def stop(self):
            stopped.append(True)

    monkeypatch.setattr(SparkContext, "_active_spark_context", Context())

    def run(code: int, owner: int) -> tuple[bool, bool]:
        part, archive = tmp_path / f"k.{code}.part", tmp_path / "k.jsa"
        part.write_bytes(b"\0" * 1024)
        proc = subprocess.Popen(
            [sys.executable, "-c", f"import sys; sys.stdin.read(); sys.exit({code})"],
            stdin=subprocess.PIPE,
        )
        session._promote_at_exit(proc, str(part), str(archive), owner)
        proc.stdin.close()
        proc.wait()
        found = part.exists(), archive.exists()
        archive.unlink(missing_ok=True)
        part.unlink(missing_ok=True)
        return found

    assert run(134, os.getpid()) == (False, False)
    assert run(0, os.getpid() + 1) == (True, False)  # a forked child's handler
    assert run(0, os.getpid()) == (False, True)
    assert len(stopped) == 2


def test_launch_sets_options_and_restores_the_env(spark, monkeypatch):
    seen = []

    def fake_get_or_create(builder):
        seen.append((os.environ.get("SPARK_CONF_DIR"),
                     builder._options["spark.driver.extraJavaOptions"]))
        if len(seen) == 2:
            raise RuntimeError("launch failed")
        return spark

    plan = ("-XX:SharedArchiveFile=/x.jsa", "/empty-conf", None, "/x.jsa")
    monkeypatch.setattr(session, "_cds_plan", lambda app_name: plan)
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", fake_get_or_create)
    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.setenv("SPARK_CONF_DIR", "/caller-conf")
    assert session.get_spark() is spark
    assert os.environ["SPARK_CONF_DIR"] == "/caller-conf"
    monkeypatch.delenv("SPARK_CONF_DIR")
    with pytest.raises(RuntimeError):
        session.get_spark()
    assert "SPARK_CONF_DIR" not in os.environ
    assert seen == [("/empty-conf", plan[0])] * 2


def test_get_spark_computes_no_key_while_a_jvm_runs(spark, monkeypatch):
    def refuse(*args):
        raise AssertionError("CDS key computed for a running JVM")

    monkeypatch.setattr(session, "_cds_key", refuse)
    monkeypatch.setattr(session, "_cds_plan", refuse)
    assert SparkContext._gateway is not None
    assert session.get_spark() is not None


CHILD = """
import json, os, sys
sys.path.insert(0, {repo!r})
from etl_verkada_spark import session
session._CDS_DIR = sys.argv[1]
spark = session.get_spark("cds-child")
args = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
flags = [a for a in args.getInputArguments() if a.startswith("-XX:")]
print(json.dumps({{"count": spark.range(5).count(), "flags": flags,
                  "left": sorted(os.listdir(sys.argv[1])), "pid": os.getpid(),
                  "conf": os.environ.get("SPARK_CONF_DIR")}}))
"""


def _child(cds_dir: str) -> tuple[dict, list[str]]:
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_CONF_DIR", "PYSPARK_GATEWAY_PORT")}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_DRIVER_MEMORY="1g")
    out = subprocess.run(
        [sys.executable, "-c", CHILD.format(repo=REPO), cds_dir],
        env=env, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=600,
    )
    assert out.returncode == 0
    lines = out.stdout.splitlines()
    return json.loads(lines[-1]), lines


def test_training_launch_promotes_its_archive_and_keeps_stdout_clean(tmp_path, monkeypatch):
    monkeypatch.setattr(session, "_CDS_DIR", str(tmp_path / "cds"))
    plan = session._cds_plan("cds-child")
    if plan is None:
        pytest.skip("this host's Spark classpath allows no archive")
    archive = plan[3]
    stem = os.path.basename(archive)[: -len(".jsa")]
    truncated = os.path.join(session._CDS_DIR, f"{stem}.{DEAD_PID}.part")
    with open(truncated, "wb") as f:
        f.write(b"\0" * 2**20)

    result, lines = _child(session._CDS_DIR)
    assert result["count"] == 5 and result["conf"] is None
    part = os.path.join(session._CDS_DIR, f"{stem}.{result['pid']}.part")
    assert [f for f in result["flags"] if "Archive" in f] == [f"-XX:ArchiveClassesAtExit={part}"]
    assert os.path.basename(truncated) not in result["left"]  # deleted, never promoted
    assert not [line for line in lines if "[cds" in line or "[warning]" in line]
    assert set(os.listdir(session._CDS_DIR)) == {"conf", f"{stem}.jsa"}
    size = os.path.getsize(archive)
    assert size > 2**20

    result, lines = _child(session._CDS_DIR)
    assert result["count"] == 5
    assert [f for f in result["flags"] if "Archive" in f] == [f"-XX:SharedArchiveFile={archive}"]
    assert not [line for line in lines if "[cds" in line or "[warning]" in line]
    assert set(os.listdir(session._CDS_DIR)) == {"conf", f"{stem}.jsa"}
    assert os.path.getsize(archive) == size
