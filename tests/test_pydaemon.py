"""The engine's Python worker daemon (``validate_xml_rust_spark.pydaemon``):
an unchanged zip archive on the worker path is not re-read on every task,
a changed one is, and ``get_spark`` starts its workers under it."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from validate_xml_rust_spark import get_spark, pydaemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

stat_checked = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="zipimporter re-reads lazily from 3.13"
)


def test_get_spark_names_the_daemon(spark):
    assert get_spark().conf.get("spark.python.daemon.module") == pydaemon.__name__


@stat_checked
def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("vxrs_zip_one.py", "VALUE = 1\n")
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    pydaemon.install()
    reads = []
    read = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.syspath_prepend(archive)
    for name in ("vxrs_zip_one", "vxrs_zip_two"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("vxrs_zip_one").VALUE == 1

    def rereads() -> int:
        reads.clear()
        importlib.invalidate_caches()
        return reads.count(archive)

    assert rereads() == 1  # first seen here: read once
    assert rereads() == 0
    assert rereads() == 0

    with zipfile.ZipFile(archive, "a") as z:
        z.writestr("vxrs_zip_two.py", "VALUE = 2\n")
    assert rereads() == 1
    assert importlib.import_module("vxrs_zip_two").VALUE == 2
    assert rereads() == 0


@stat_checked
def test_warm_worker_task_rereads_no_archive(spark):
    """A Python-UDF task calls ``importlib.invalidate_caches()`` first
    (PySpark's ``setup_spark_files``); under the stock daemon each call
    re-reads every zip importer's archive, 16 per task."""
    from pyspark.sql import functions as F

    @F.pandas_udf("long")
    def rereads(ids: pd.Series) -> pd.Series:
        import importlib as il
        import zipimport as zi

        n = [0]
        read = zi._read_directory

        def counting(path):
            n[0] += 1
            return read(path)

        zi._read_directory = counting
        try:
            il.invalidate_caches()
        finally:
            zi._read_directory = read
        return pd.Series([n[0]] * len(ids))

    df = spark.range(12, numPartitions=4)
    df.select(rereads("id")).collect()  # warm the workers
    counts = [r[0] for r in df.select(rereads("id").alias("n")).collect()]
    assert counts == [0] * 12, counts


def test_daemon_resolves_from_outside_the_repo(tmp_path):
    """Workers start under the daemon from any working directory when the
    package is on ``PYTHONPATH``."""
    script = (
        "import pandas as pd\n"
        "from pyspark.sql import functions as F\n"
        "from validate_xml_rust_spark import get_spark\n"
        "spark = get_spark(cpus=1)\n"
        "@F.pandas_udf('long')\n"
        "def plus_one(s: pd.Series) -> pd.Series:\n"
        "    return s + 1\n"
        "print(sum(r[0] for r in spark.range(5).select(plus_one('id')).collect()))\n"
        "spark.stop()\n"
    )
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(p for p in (REPO, os.environ.get("PYTHONPATH")) if p),
        SPARK_DRIVER_MEMORY="512m",
    )
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.strip().splitlines()[-1] == "15"
