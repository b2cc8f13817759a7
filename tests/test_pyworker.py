"""The Python worker daemon re-reads a zip archive only when it changed."""

from __future__ import annotations

import os
import zipfile
import zipimport

import pandas as pd
import pyspark
import pytest
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
    assert conf.get("spark.ui.showConsoleProgress") == "false"
    # The daemon must import from any working directory.
    assert spark.sparkContext.environment["PYTHONPATH"] == session._PACKAGE_ROOT

    @pandas_udf("long")
    def rereads(ids: pd.Series) -> pd.Series:
        import importlib
        import sys
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
        # Without a cached zip importer "0 re-reads" would prove nothing.
        zips = [
            f for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter)
        ]
        return pd.Series([len(reads) if zips else -1] * len(ids))

    assert spark.range(1).select(rereads("id")).first()[0] == 0


RELEASE = b"__version__ = '4.1.2'\n"


def _spark_path(tmp_path, installed):
    """A fake worker ``sys.path``: Spark's three archives, shipping
    :data:`RELEASE`, around the user's entries, and a ``pyspark`` package
    dir with ``installed`` as its ``version.py`` (none if None)."""
    lib = tmp_path / "lib"
    lib.mkdir()
    spark_zip = str(lib / "pyspark.zip")
    with zipfile.ZipFile(spark_zip, "w") as zf:
        zf.writestr("pyspark/__init__.py", "")
        zf.writestr("pyspark/version.py", RELEASE)
    py4j_zip = str(lib / "py4j-0.10.9.9-src.zip")
    with zipfile.ZipFile(py4j_zip, "w") as zf:
        zf.writestr("py4j/__init__.py", "")
    jar = str(lib / "spark-core_2.13-4.1.2.jar")
    with zipfile.ZipFile(jar, "w") as zf:
        zf.writestr("org/apache/spark/SparkContext.class", b"")
    user, site = tmp_path / "user", tmp_path / "site"
    user.mkdir()
    site.mkdir()
    if installed is not None:
        (site / "pyspark").mkdir()
        (site / "pyspark" / "version.py").write_bytes(installed)
    return [str(user), spark_zip, py4j_zip, jar, str(user), str(site)]


def test_installed_pyspark_first_moves_spark_archives_to_the_end(tmp_path):
    path = _spark_path(tmp_path, RELEASE)
    user, spark_zip, py4j_zip, jar, _, site = path
    assert pyworker.installed_pyspark_first(path) == [
        user, user, site, spark_zip, py4j_zip, jar,
    ]


@pytest.mark.parametrize("installed", [b"__version__ = '4.0.0'\n", None])
def test_installed_pyspark_first_keeps_path_without_a_matching_release(
    tmp_path, installed
):
    path = _spark_path(tmp_path, installed)
    assert pyworker.installed_pyspark_first(list(path)) == path


def test_installed_pyspark_first_keeps_path_without_pyspark_zip(tmp_path):
    path = _spark_path(tmp_path, RELEASE)
    del path[1]
    assert pyworker.installed_pyspark_first(list(path)) == path


def _shipped_release_is_installed() -> bool:
    spark_zip = os.path.join(
        os.environ.get("SPARK_HOME", ""), "python", "lib", "pyspark.zip"
    )
    installed = os.path.join(os.path.dirname(pyspark.__file__), "version.py")
    try:
        shipped = zipimport.zipimporter(spark_zip).get_data("pyspark/version.py")
    except (OSError, zipimport.ZipImportError):
        return False
    with open(installed, "rb") as f:
        return f.read() == shipped


def test_get_spark_workers_import_the_installed_pyspark(spark):
    if not _shipped_release_is_installed():
        pytest.skip("the installed pyspark is not $SPARK_HOME's release")

    @pandas_udf("string")
    def where(ids: pd.Series) -> pd.Series:
        import pyspark

        return pd.Series([pyspark.__file__] * len(ids))

    origin = spark.range(1).select(where("id")).first()[0]
    assert ".zip" not in origin, origin
