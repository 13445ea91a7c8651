"""The engine's Python worker daemon.

pyspark's ``pyspark.daemon.manager()``, with two things done once before its
first fork so that every worker it forks inherits them:

* the zip-import guard (``install_zip_guard``): on CPython < 3.13 a task no
  longer re-reads the whole central directory of ``pyspark.zip`` once per
  importer over it;
* the imports every stage-1 and scan task needs (pandas, pyarrow, pyspark's
  Arrow serializers and the engine's UDF modules), which a worker would
  otherwise pay in its first task.

``session.get_spark`` sets this module as ``spark.python.daemon.module`` for
a local master. The JVM starts it as ``python -m
fact_extraction_spark.worker_daemon pyspark.worker`` and reads the daemon's
port from its standard output, so nothing here may print to stdout before
``manager()`` runs.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport


def install_zip_guard() -> bool:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only when
    its (inode, size, mtime) changed since that importer last read it;
    returns whether the guard is installed.

    pyspark's worker calls ``importlib.invalidate_caches()`` at the start of
    every task. Before CPython 3.13, each zip importer answers by re-reading
    its archive's whole central directory, and a worker holds one importer
    per package directory of ``pyspark.zip`` (1,328 entries): that is most
    of a short task's Python time. An archive that changed, or one added
    with ``addPyFile``, is still read; 3.13 made the re-read lazy, so there
    the stock method stays."""
    if sys.version_info >= (3, 13):
        return False
    stock = zipimport.zipimporter.invalidate_caches

    def invalidate_if_changed(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
        except OSError:
            stamp = None
        # stamped before the read: a change during it is read next time
        if stamp is None or stamp != self.__dict__.get("_archive_stamp"):
            stock(self)
            self._archive_stamp = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_if_changed
    return True


def main() -> None:
    install_zip_guard()
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    import pyspark.sql.pandas.serializers  # noqa: F401

    import fact_extraction_spark.operators.extract_text  # noqa: F401
    import fact_extraction_spark.operators.mentions  # noqa: F401
    # stamps every importer now, so forked workers start with them set
    importlib.invalidate_caches()
    from pyspark import daemon
    daemon.manager()


if __name__ == "__main__":
    main()
