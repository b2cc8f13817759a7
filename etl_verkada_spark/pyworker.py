"""PySpark's worker daemon: pyspark from bytecode, zip importers that
re-read only on change.

``get_spark`` names this module as ``spark.python.daemon.module``;
``session.py`` says why. Run as ``__main__``, it does two things before
it starts ``pyspark.daemon.manager()``, and the workers it forks inherit
both:

* :func:`installed_pyspark_first` moves Spark's own archives to the end
  of ``sys.path`` when an installed ``pyspark`` is the same release.
  ``pyspark.zip`` holds sources only, so importing from it compiles
  pyspark on every daemon start (``import pyspark.daemon``: 1.0 s against
  0.23 s from the installed package's cached bytecode).
* ``zipimport.zipimporter.invalidate_caches`` becomes
  :func:`invalidate_caches`, which re-reads an archive's directory only
  when the archive's ``(st_mtime_ns, st_size)`` differs from the stamp of
  its last read. Imports that fall through to the archives still cache
  zip importers over them.

Importing the module patches nothing. Top-level imports are stdlib only,
so the daemon loads no more than ``pyspark.daemon`` does.
"""

import fnmatch
import os
import sys
import zipimport

#: Basenames of the ``sys.path`` entries Spark puts before the user's.
SPARK_ENTRIES = ("pyspark.zip", "py4j-*-src.zip", "spark-core_*.jar")

_reread = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self):
    """Re-read the archive of zip importer ``self`` if it changed since."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is None or getattr(self, "_stamp", None) != stamp:
        _reread(self)
        self._stamp = stamp


def installed_pyspark_first(path: list[str]) -> list[str]:
    """``path`` with Spark's archives moved to the end, if that is safe.

    Spark's entries (:data:`SPARK_ENTRIES`) keep their order, and so do
    the rest. The move happens only when the first ``pyspark`` directory
    on the other entries has a ``version.py`` byte-identical to the one
    in ``pyspark.zip``; otherwise ``path`` comes back as it was.
    """
    spark = [
        p for p in path
        if any(fnmatch.fnmatchcase(os.path.basename(p), pat) for pat in SPARK_ENTRIES)
    ]
    rest = [p for p in path if p not in spark]
    zips = [p for p in spark if os.path.basename(p) == "pyspark.zip"]
    try:
        shipped = zipimport.zipimporter(zips[0]).get_data("pyspark/version.py")
    except (IndexError, OSError, zipimport.ZipImportError):
        return path
    for entry in rest:
        version = os.path.join(entry, "pyspark", "version.py")
        if os.path.isfile(version):
            with open(version, "rb") as f:
                return rest + spark if f.read() == shipped else path
    return path


if __name__ == "__main__":
    sys.path[:] = installed_pyspark_first(sys.path)
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    from pyspark.daemon import manager

    manager()
