"""The driver JVM's class-data-sharing archive (batch_process_spark/cds.py):
recorded by the first launch, mapped by the next, never taken from a
dump that did not finish, and left out of any launch whose class path or
JVM flags are not the bare Spark ones."""

from __future__ import annotations

import os
import re
import subprocess
import sys
import textwrap
from pathlib import Path

import pytest
from pyspark import SparkContext

from batch_process_spark import cds

REPO = Path(__file__).resolve().parents[1]
CONF = {"spark.driver.memory": "1g"}
# the JVM's unified-logging tag for CDS lines, e.g. "[warning][cds,dynamic]"
CDS_OUTPUT = re.compile(r"\]\[cds[\],]|shared archive|SharedArchiveFile|ArchiveClassesAtExit", re.I)
# variables that put a launch off the archive path
LAUNCH_ENV = ("SPARK_CONF_DIR", "PYSPARK_GATEWAY_PORT", "PYSPARK_SUBMIT_ARGS",
              "HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_CLASSPATH", "SPARK_DIST_CLASSPATH",
              "JAVA_TOOL_OPTIONS", "JDK_JAVA_OPTIONS", "_JAVA_OPTIONS")

DRIVER = textwrap.dedent(
    """
    import sys
    sys.path.insert(0, sys.argv[1])
    from batch_process_spark.session import get_spark

    extra = {"spark.driver.memory": "1g"}
    if len(sys.argv) > 2:
        extra["spark.driver.extraJavaOptions"] = sys.argv[2]
    spark = get_spark("cds", master="local[1]", shuffle_partitions=1, extra_conf=extra)
    assert spark.range(10).count() == 10
    spark.stop()
    """
)


def _drive(tmp_path: Path, *java_opts: str) -> None:
    script = tmp_path / "driver.py"
    script.write_text(DRIVER)
    env = {k: v for k, v in os.environ.items() if k not in LAUNCH_ENV}
    env["XDG_CACHE_HOME"] = str(tmp_path / "cache")
    env["SPARK_LOCAL_DIRS"] = str(tmp_path / "local")
    # the JVM holds both pipes until it exits, dump included
    res = subprocess.run([sys.executable, str(script), str(REPO), *java_opts], cwd=tmp_path,
                         env=env, capture_output=True, text=True, timeout=300)
    assert res.returncode == 0, res.stderr[-4000:]
    printed = [ln for ln in (res.stdout + res.stderr).splitlines() if CDS_OUTPUT.search(ln)]
    assert not printed, printed[:5]


def test_first_launch_records_the_archive_and_the_next_maps_it(tmp_path, monkeypatch):
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    if cds._launch_key(CONF) is None:
        pytest.skip("this JVM has no base CDS archive to extend")
    d = Path(cds.cache_dir())

    _drive(tmp_path)
    files = [p for p in d.iterdir() if p.is_file()]
    assert len(files) == 1 and files[0].suffix == ".tmp", files
    assert cds._finished(str(files[0]))  # starts with the dynamic-archive magic

    log = tmp_path / "cds.log"
    _drive(tmp_path, f"-Xlog:cds=info:file={log}")
    text = log.read_text()
    assert "Mapped dynamic region" in text
    assert "mismatch" not in text
    assert [p.suffix for p in d.iterdir() if p.is_file()] == [".jsa"]


def _dead_pid() -> int:
    p = subprocess.Popen(["true"])
    p.wait()
    return p.pid


def test_unfinished_dump_is_neither_promoted_nor_mapped(tmp_path):
    key = "0123456789abcdef"
    zero_header = b"\0" * 4096  # what a JVM killed mid-dump leaves
    for attempt in range(cds.MAX_DUMPS):
        tmp = tmp_path / f"{key}.{_dead_pid()}.tmp"
        tmp.write_bytes(zero_header)
        flag = cds._archive_flags(str(tmp_path), key)
        assert not tmp.exists()
        assert not (tmp_path / f"{key}.jsa").exists()
        if attempt + 1 < cds.MAX_DUMPS:  # one more dump is tried
            assert flag == f"-XX:ArchiveClassesAtExit={tmp_path}/{key}.{os.getpid()}.tmp"
            os.unlink(flag.split("=", 1)[1])
        else:
            assert flag is None
    assert cds._archive_flags(str(tmp_path), key) is None  # never again


def test_dump_under_way_is_left_alone(tmp_path):
    key = "0123456789abcdef"
    live = tmp_path / f"{key}.{os.getpid()}.tmp"
    live.write_bytes(b"\0" * 4096)
    assert cds._archive_flags(str(tmp_path), key) is None
    assert live.exists()
    assert not (tmp_path / f"{key}.failed").exists()


def test_finished_dump_is_promoted_and_mapped(tmp_path):
    key = "0123456789abcdef"
    (tmp_path / f"{key}.{_dead_pid()}.tmp").write_bytes((0xF00BABA8).to_bytes(4, "little"))
    jsa = tmp_path / f"{key}.jsa"
    assert cds._archive_flags(str(tmp_path), key) == f"-XX:SharedArchiveFile={jsa}"
    assert [p.name for p in tmp_path.iterdir()] == [jsa.name]


@pytest.fixture
def bare_env(tmp_path, monkeypatch):
    """No JVM up yet, no launch variable set, a private cache dir."""
    monkeypatch.setattr(SparkContext, "_gateway", None)
    for k in LAUNCH_ENV:
        monkeypatch.delenv(k, raising=False)
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))


@pytest.mark.parametrize("env, opts", [
    ({"SPARK_CONF_DIR": "conf"}, ""),
    ({"HADOOP_CONF_DIR": "hadoop"}, ""),
    ({}, "-Xshare:off"),
    ({}, "-XX:SharedArchiveFile=/elsewhere.jsa -XX:MaxGCPauseMillis=15"),
])
def test_launch_off_the_bare_class_path_is_unchanged(tmp_path, monkeypatch, bare_env, env, opts):
    for k, v in env.items():
        monkeypatch.setenv(k, str(tmp_path / v))
    conf = dict(CONF, **({"spark.driver.extraJavaOptions": opts} if opts else {}))
    before, user_conf_dir = dict(conf), os.environ.get("SPARK_CONF_DIR")
    with cds.archived_launch(conf):
        assert conf == before
        assert os.environ.get("SPARK_CONF_DIR") == user_conf_dir
    assert not list(tmp_path.rglob("*.tmp"))


def test_bare_launch_adds_flags_and_restores_the_environment(bare_env):
    if cds._launch_key(CONF) is None:
        pytest.skip("this JVM has no base CDS archive to extend")
    conf = dict(CONF, **{"spark.driver.extraJavaOptions": "-XX:MaxGCPauseMillis=15"})
    with cds.archived_launch(conf):
        opts = conf["spark.driver.extraJavaOptions"]
        assert opts.startswith("-XX:MaxGCPauseMillis=15 -XX:ArchiveClassesAtExit=")
        assert opts.endswith("-Xlog:cds=off -Xlog:cds+dynamic=off")
        assert os.environ["SPARK_CONF_DIR"] == os.path.join(cds.cache_dir(), "conf")
    assert "SPARK_CONF_DIR" not in os.environ
