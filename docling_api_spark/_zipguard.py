"""Re-read a zip's directory on ``importlib.invalidate_caches()`` only
when the zip changed.

PySpark's Python worker calls ``importlib.invalidate_caches()`` at the
start of every task (``setup_spark_files``, ``pyspark/worker_util.py:144``
in PySpark 4.1). A worker's ``sys.path`` holds ``pyspark.zip``, the py4j
zip and the Spark core jar (thousands of entries), and on Python < 3.12
``zipimporter.invalidate_caches`` re-parses the whole archive directory
on every call: 180-270 ms of fixed cost per task in a reused worker,
against a few ms of extraction work. CPython 3.12 made that re-read
lazy (gh-103200), so there the guard is not installed.

The guard keeps the semantics: an archive is re-read whenever its
``(st_mtime_ns, st_size)`` differs from the last re-read, so a zip
rewritten in place is still picked up, and new ``sys.path`` entries get
fresh importers as before. The package ``__init__`` installs it, so
every worker that unpickles a package function carries it from then on.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport

MARKER = "stat_guarded"


def install() -> None:
    """Wrap ``zipimport.zipimporter.invalidate_caches`` (Python < 3.12;
    idempotent)."""
    if sys.version_info >= (3, 12):
        return
    reread = zipimport.zipimporter.invalidate_caches
    if getattr(reread, MARKER, False):
        return
    # archive path -> ((st_mtime_ns, st_size) before the last re-read, directory it read)
    last_read: dict[str, tuple[tuple[int, int], dict]] = {}

    @functools.wraps(reread)
    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            last_read.pop(self.archive, None)
            return reread(self)
        stamp = (st.st_mtime_ns, st.st_size)
        seen = last_read.get(self.archive)
        if seen is not None and seen[0] == stamp:
            # what a re-read of the unchanged archive would have produced
            self._files = seen[1]
            zipimport._zip_directory_cache[self.archive] = seen[1]
            return
        # stat before the read: a change racing the read shows as a new stamp next time
        reread(self)
        if zipimport._zip_directory_cache.get(self.archive) is self._files:
            last_read[self.archive] = (stamp, self._files)
        else:  # unreadable archive: keep re-trying, as before
            last_read.pop(self.archive, None)

    setattr(invalidate_caches, MARKER, True)
    zipimport.zipimporter.invalidate_caches = invalidate_caches
