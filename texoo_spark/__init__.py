"""texoo-spark: PySpark-native text extraction.

Importing the package makes ``importlib.invalidate_caches()`` cheap for zip
archives that have not changed. PySpark's worker calls it at the start of
every task, and in CPython 3.11 each ``zipimporter`` then re-parses its whole
archive: a reused worker holds 16 importers on ``pyspark.zip`` (1,300+
entries), about 0.27 CPU s per task whatever the task's work.
Every worker that runs engine code unpickles a reference to this package in
its first task, so the replacement reaches all of them.
"""

import os
import zipimport

_original_invalidate = getattr(zipimport.zipimporter.invalidate_caches,
                               "__wrapped__",
                               zipimport.zipimporter.invalidate_caches)


def _invalidate_caches(self):
    """Invalidate only when the archive's (mtime, size) differs from what
    this importer last read; fall back to the original when stat fails."""
    try:
        st = os.stat(self.archive)
    except OSError:
        self._texoo_stamp = None
        return _original_invalidate(self)
    stamp = (st.st_mtime_ns, st.st_size)
    if getattr(self, "_texoo_stamp", None) != stamp:
        _original_invalidate(self)
        self._texoo_stamp = stamp


_invalidate_caches.__wrapped__ = _original_invalidate
zipimport.zipimporter.invalidate_caches = _invalidate_caches
