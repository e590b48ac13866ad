"""Python worker daemon for the engine's sessions (``spark.python.daemon.module``).

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of every
task. Before CPython 3.12, ``zipimport.zipimporter.invalidate_caches`` re-reads
its archive's whole central directory, and a worker holds one zipimporter per
package it imported from ``pyspark.zip``, ``py4j-*-src.zip`` or the Spark jar:
about 27,000 directory entries parsed in pure Python, a median of 232-242 ms
of every task on a 4-core host (SCALING.md, "The Python task floor"). Here the re-read happens only when the archive's
``(st_mtime_ns, st_size)`` changed since the last read. The daemon installs
the patch before it forks, so every worker inherits it; on 3.12 and later this
module only runs PySpark's daemon.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

# marks the replacement, since this module runs as ``__main__``
PATCH_MARKER = "_dnp_stamped"


def _stamp(archive: str):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def patch_zipimport() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only when
    the file changed since its last read."""
    reread = zipimport.zipimporter.invalidate_caches
    stamps: dict[str, tuple[int, int] | None] = {}

    def invalidate_caches(self):
        stamp = _stamp(self.archive)  # taken before the read: a racing write re-reads next time
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and files is not None and stamps.get(self.archive) == stamp:
            self._files = files
            return
        reread(self)
        stamps[self.archive] = stamp

    setattr(invalidate_caches, PATCH_MARKER, True)
    zipimport.zipimporter.invalidate_caches = invalidate_caches


def main() -> None:
    from pyspark import daemon  # imports the worker module too, before any fork

    if sys.version_info < (3, 12):
        patch_zipimport()
        # one stamped read per archive here, so a forked worker's first task reuses it
        importlib.invalidate_caches()
    daemon.manager()


if __name__ == "__main__":
    main()
