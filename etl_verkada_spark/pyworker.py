"""PySpark's worker daemon, with zip importers that re-read only on change.

``get_spark`` names this module as ``spark.python.daemon.module``;
``session.py`` says why. Run as ``__main__``, it replaces
``zipimport.zipimporter.invalidate_caches`` with :func:`invalidate_caches`,
which re-reads an archive's directory only when the archive's
``(st_mtime_ns, st_size)`` differs from the stamp of its last read, then
starts ``pyspark.daemon.manager()``; the workers it forks inherit the
patch. Importing the module patches nothing. Top-level imports are stdlib
only, so the daemon loads no more than ``pyspark.daemon`` does.
"""

import os
import zipimport

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


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    from pyspark.daemon import manager

    manager()
