"""The engine's Python worker daemon (batch_process_spark.pydaemon).

The unit test checks the archive stamp without Spark; the Spark tests
check that the session's workers run the daemon, that files shipped
with addPyFile after the workers started still import, and that a
driver started outside the repository can run engine UDFs.
"""

import importlib
import json
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport
from pathlib import Path

from pyspark.sql import functions as F

from batch_process_spark import pydaemon
from tests.test_sources import REPORT

REPO = Path(__file__).resolve().parents[1]


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, body in modules.items():
            zf.writestr(f"{name}.py", body)


def test_import_changes_nothing():
    before = zipimport.zipimporter.invalidate_caches
    importlib.reload(pydaemon)
    assert zipimport.zipimporter.invalidate_caches is before
    assert not getattr(before, "stamped", False)


def test_stamp_skips_unchanged_archive_and_rereads_changed(tmp_path, monkeypatch):
    archive = tmp_path / "lib.zip"
    _write_zip(archive, {"pydaemon_old_mod": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    import pydaemon_old_mod

    assert pydaemon_old_mod.VALUE == 1
    monkeypatch.delitem(sys.modules, "pydaemon_old_mod")

    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    pydaemon.install()
    wrapper = zipimport.zipimporter.invalidate_caches
    pydaemon.install()
    assert zipimport.zipimporter.invalidate_caches is wrapper  # no double wrap
    importlib.invalidate_caches()  # first call stamps the importer
    reads.clear()

    importlib.invalidate_caches()
    assert str(archive) not in reads

    _write_zip(archive, {"pydaemon_old_mod": "VALUE = 1\n", "pydaemon_new_mod": "VALUE = 2\n"})
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    importlib.invalidate_caches()
    assert reads.count(str(archive)) >= 1
    import pydaemon_new_mod

    assert pydaemon_new_mod.VALUE == 2
    monkeypatch.delitem(sys.modules, "pydaemon_new_mod")

    reads.clear()
    importlib.invalidate_caches()
    assert str(archive) not in reads


def test_workers_run_the_engine_daemon(spark):
    @F.udf("boolean")
    def stamped(_):
        import zipimport

        return getattr(zipimport.zipimporter.invalidate_caches, "stamped", False)

    rows = spark.range(4).repartition(4).select(stamped("id").alias("s")).collect()
    assert [r.s for r in rows] == [True] * 4


def test_add_py_file_after_workers_started_imports(spark, tmp_path):
    sc = spark.sparkContext
    assert spark.range(4).repartition(4).mapInPandas(lambda it: it, "id long").count() == 4

    archive = tmp_path / "pydaemon_shipped_zip.zip"
    _write_zip(archive, {"pydaemon_shipped_zip": "VALUE = 'zip'\n"})
    source = tmp_path / "pydaemon_shipped_py.py"
    source.write_text("VALUE = 'py'\n")
    sc.addPyFile(str(archive))
    sc.addPyFile(str(source))

    @F.udf("string")
    def shipped(_):
        import pydaemon_shipped_py
        import pydaemon_shipped_zip

        return pydaemon_shipped_zip.VALUE + pydaemon_shipped_py.VALUE

    rows = spark.range(4).repartition(4).select(shipped("id").alias("v")).collect()
    assert [r.v for r in rows] == ["zippy"] * 4


DRIVER = textwrap.dedent(
    """
    import json, sys
    sys.path.insert(0, sys.argv[1])
    from batch_process_spark.session import get_spark
    from batch_process_spark.sources.report_parser import parse_blade_load_files

    spark = get_spark("outside", master="local[2]", shuffle_partitions=2,
                      extra_conf={"spark.driver.memory": "1g"})
    files = spark.createDataFrame([("r1.out", sys.argv[2])], "path string, text string")
    parsed = parse_blade_load_files(files).count()
    plain = spark.range(8).repartition(2).mapInPandas(lambda it: it, "id long").count()
    spark.stop()
    print(json.dumps({"parsed": parsed, "plain": plain}))
    """
)


def test_driver_outside_repository_runs_engine_udfs(tmp_path):
    """A driver whose cwd is outside the repository and whose
    PYTHONPATH is unset: the workers import the daemon and the engine's
    by-reference UDFs from spark.executorEnv.PYTHONPATH."""
    script = tmp_path / "driver.py"
    script.write_text(DRIVER)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_LOCAL_DIRS"] = str(tmp_path / "local")
    res = subprocess.run(
        [sys.executable, str(script), str(REPO), REPORT],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert res.returncode == 0, res.stderr[-4000:]
    assert json.loads(res.stdout.strip().splitlines()[-1]) == {"parsed": 4, "plain": 8}
