"""PySpark worker daemon whose workers re-read ``pyspark.zip`` only when it
changes.

PySpark's worker calls ``importlib.invalidate_caches()`` once per task
(``pyspark.worker_util.setup_spark_files``). Before CPython 3.13,
``zipimport.zipimporter.invalidate_caches`` re-reads its archive's whole
directory at once, and a worker holds one zipimporter per package it
imported from ``pyspark.zip``: 16 importers re-reading 1,328 entries each,
about 56 ms of CPU per task on a 4-vCPU VM. Here an importer re-reads only
when its archive's ``(st_mtime_ns, st_size)`` differs from the last read.
CPython 3.13 defers the re-read itself, so nothing is patched there.

``session.get_spark`` runs this module as ``spark.python.daemon.module``.
"""

from __future__ import annotations

import os
import sys
import zipimport


def install_lazy_zip_invalidation(cls: type = zipimport.zipimporter) -> bool:
    """Make ``cls.invalidate_caches`` re-read only a changed archive.
    Returns whether the patch was installed by this call."""
    if sys.version_info >= (3, 13) or getattr(
            cls.invalidate_caches, "stat_keyed", False):
        return False
    reread = cls.invalidate_caches

    def invalidate_caches(self) -> None:
        try:
            st = os.stat(self.archive)
            key = (st.st_mtime_ns, st.st_size)
        except OSError:
            key = None  # gone or unreadable: let the re-read decide
        if key is None or key != getattr(self, "_read_stat", None):
            reread(self)
            self._read_stat = key

    invalidate_caches.stat_keyed = True
    cls.invalidate_caches = invalidate_caches
    return True


def lazy_invalidation_installed() -> bool:
    """Whether this process's zipimporters re-read only changed archives."""
    return getattr(zipimport.zipimporter.invalidate_caches, "stat_keyed",
                   False)


if __name__ == "__main__":
    import importlib

    from pyspark import daemon

    install_lazy_zip_invalidation()
    # one read per importer here, before the fork, records every archive's
    # stat, so that no forked worker re-reads an unchanged archive
    importlib.invalidate_caches()
    daemon.manager()
