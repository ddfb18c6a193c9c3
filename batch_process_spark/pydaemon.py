"""Python worker daemon for the engine's sessions.

Every Python task runs ``pyspark.worker_util.setup_spark_files``, which
ends in ``importlib.invalidate_caches()``. On Python 3.11 that makes
every ``zipimporter`` over ``pyspark.zip`` re-read the archive's
directory (1,328 entries: about 125 ms per task on a 4-vCPU VM). Run
as the daemon, this module lets an importer re-read its archive only
when the archive's ``(st_mtime_ns, st_size)`` changed since that
importer last read it, so archives shipped with ``addPyFile`` still
become importable.
``session.get_spark`` sets ``spark.python.daemon.module`` to this module.
"""

import importlib
import os
import zipimport


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` to skip unchanged archives."""
    reread = zipimport.zipimporter.invalidate_caches
    if getattr(reread, "stamped", False):
        return

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        if stamp is None or stamp != getattr(self, "_stamp", None):
            reread(self)
            self._stamp = stamp

    invalidate_caches.stamped = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    install()
    importlib.invalidate_caches()  # stamp the daemon's importers before forking
    from pyspark import daemon

    daemon.manager()
