"""Python worker set-up: the engine's worker daemon and PYTHONPATH export.

- Workers import the engine whatever the driver's working directory.
- ``importlib.invalidate_caches()`` at the start of every task re-reads no
  zip archive (``worker_daemon``).
- Files shipped with ``addPyFile`` after the workers are warm still import.
- Only local masters get the daemon: elsewhere executors may lack the engine.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import uuid
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_engine_udf_runs_from_any_working_directory(tmp_path):
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        from ssiintegrateddatapipeline_spark import get_spark
        from ssiintegrateddatapipeline_spark.operators.identity import build_identity_dim

        spark = get_spark(app_name="cwd-probe", master="local[1]", shuffle_partitions=1)
        print("rows", len(build_identity_dim(spark, did_provider="did:key").collect()))
        spark.stop()
        """
    )
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    # the driver finds the engine through sys.path only, as pytest's does
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in env.get("PYTHONPATH", "").split(os.pathsep)
        if p and os.path.abspath(p) != ROOT
    )
    proc = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "rows 5" in proc.stdout


def _invalidate_probe(batches):
    import importlib
    import zipimport

    import pandas as pd

    for _ in batches:
        pass
    zips = sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())
    reads = []
    read_directory = zipimport._read_directory
    zipimport._read_directory = lambda archive: reads.append(archive) or read_directory(archive)
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = read_directory
    yield pd.DataFrame({"zip_importers": [zips], "reads": [len(reads)]})


def test_worker_task_rereads_no_zip_archive(spark):
    (row,) = spark.range(10, numPartitions=1).mapInPandas(
        _invalidate_probe, "zip_importers long, reads long"
    ).collect()
    assert row.zip_importers > 0  # workers import pyspark from its zip
    assert row.reads == 0

    from ssiintegrateddatapipeline_spark.session import DAEMON_MODULE

    assert spark.sparkContext.getConf().get("spark.python.daemon.module") == DAEMON_MODULE


def test_py_files_added_after_warm_workers_import(spark, tmp_path):
    sc = spark.sparkContext
    spark.range(4, numPartitions=1).mapInPandas(lambda b: b, "id long").collect()

    tag = uuid.uuid4().hex[:8]
    module, package = f"addpy_module_{tag}", f"addpy_package_{tag}"
    (tmp_path / f"{module}.py").write_text("VALUE = 'py'\n")
    archive = tmp_path / f"{package}.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr(f"{package}/__init__.py", "VALUE = 'zip'\n")
    sc.addPyFile(str(tmp_path / f"{module}.py"))
    sc.addPyFile(str(archive))

    def use(batches):
        import importlib

        import pandas as pd

        for _ in batches:
            pass
        yield pd.DataFrame({
            "py": [importlib.import_module(module).VALUE],
            "zip": [importlib.import_module(package).VALUE],
        })

    rows = spark.range(4, numPartitions=1).mapInPandas(use, "py string, zip string").collect()
    assert [tuple(r) for r in rows] == [("py", "zip")]


def test_daemon_module_set_on_local_masters_only(monkeypatch):
    from pyspark.sql import SparkSession

    from ssiintegrateddatapipeline_spark.session import DAEMON_MODULE, get_spark

    # the options get_spark would start a session with, without starting one
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", lambda self: dict(self._options))
    key = "spark.python.daemon.module"
    assert get_spark(master="local[2]")[key] == DAEMON_MODULE
    assert key not in get_spark(master="spark://host:7077")
    opted_in = get_spark(master="spark://host:7077", extra_conf={key: DAEMON_MODULE})
    assert opted_in[key] == DAEMON_MODULE
