"""Spark Python worker daemon whose workers re-read a zip archive's index
only when the archive changed.

Every Python UDF task starts with ``importlib.invalidate_caches()``, under
which Python 3.11 makes each ``zipimporter`` re-read its archive's whole
index: 1,328 entries of ``pyspark.zip`` per task (TUNING.md, "Python
worker floor"). ``install_zip_index_gate`` re-reads only when the
archive's ``(st_mtime_ns, st_size)`` differs from the importer's last
read, or the stat fails, so ``addPyFile`` archives stay visible.
``session.get_spark`` names this module in ``spark.python.daemon.module``;
run as ``__main__`` it installs the gate, then runs pyspark's daemon,
whose forked workers inherit it. Importing it patches nothing.
"""

import os
import zipimport


def install_zip_index_gate() -> None:
    reread = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            seen = (st.st_mtime_ns, st.st_size)
        except OSError:
            seen = None
        if seen is None or seen != getattr(self, "_index_stat", None):
            reread(self)
            self._index_stat = seen

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    # Import the gate under its package name, not as __main__, so the
    # patched method names this module.
    from gpu_entity_resolver_spark.worker_daemon import install_zip_index_gate
    from pyspark.daemon import manager

    install_zip_index_gate()
    manager()
