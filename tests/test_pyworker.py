"""The Python worker daemon re-reads a zip archive only when it changed."""

from __future__ import annotations

import os
import zipfile
import zipimport

import pandas as pd
from pyspark.sql.functions import pandas_udf

from etl_verkada_spark import pyworker, session


def test_zip_importer_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("a.py", "X = 1\n")
    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda path: reads.append(path) or read_directory(path)
    )
    # monkeypatch undoes both patches, so later tests see stock zipimport.
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", pyworker.invalidate_caches)
    importer = zipimport.zipimporter(archive)
    assert importer.find_spec("a") is not None
    importer.invalidate_caches()
    reads.clear()
    importer.invalidate_caches()
    assert reads == []

    st = os.stat(archive)
    with zipfile.ZipFile(archive, "a") as zf:
        zf.writestr("b.py", "Y = 2\n")
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    assert importer.find_spec("b") is None
    importer.invalidate_caches()
    assert reads == [archive]
    assert importer.find_spec("b") is not None


def test_get_spark_workers_skip_unchanged_zip_rereads(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == "etl_verkada_spark.pyworker"
    # The daemon must import from any working directory.
    assert spark.sparkContext.environment["PYTHONPATH"] == session._PACKAGE_ROOT

    @pandas_udf("long")
    def rereads(ids: pd.Series) -> pd.Series:
        import importlib
        import zipimport

        read_directory = zipimport._read_directory
        reads = []
        zipimport._read_directory = lambda path: reads.append(path) or read_directory(path)
        try:
            importlib.invalidate_caches()
            reads.clear()
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        return pd.Series([len(reads)] * len(ids))

    assert spark.range(1).select(rereads("id")).first()[0] == 0
