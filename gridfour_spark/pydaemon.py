"""Python worker daemon (spark.python.daemon.module): before pyspark.daemon
forks, make a zip importer's per-task invalidate_caches() re-read its archive
only when (st_mtime_ns, st_size) changed or stat fails. See session.py."""
import os
import runpy
import sys
import zipimport

_read = {}  # archive -> (stamp, directory) of its last read


def _invalidate_if_changed(self):
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is None or _read.get(self.archive, (None,))[0] != stamp:
        _reread(self)
        _read[self.archive] = (stamp, self._files)
    self._files = _read[self.archive][1]


def install():  # idempotent; a no-op on Python 3.12+, which reads lazily
    global _reread
    cls = zipimport.zipimporter
    if sys.version_info < (3, 12) and cls.invalidate_caches.__name__ != "_invalidate_if_changed":
        _reread, cls.invalidate_caches = cls.invalidate_caches, _invalidate_if_changed


if __name__ == "__main__":
    install()
    runpy.run_module("pyspark.daemon", run_name="__main__")
