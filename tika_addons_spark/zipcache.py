"""Keep zipimport's directory cache across ``importlib.invalidate_caches()``.

PySpark's Python worker calls ``importlib.invalidate_caches()`` once per
task (``setup_spark_files`` in ``pyspark/worker_util.py``) so that a zip
added with ``addPyFile`` becomes importable. On Python < 3.12 every
``zipimport.zipimporter`` on ``sys.path_importer_cache`` answers by
re-reading its archive's central directory at once: about 16 importers
over ``pyspark.zip``, the py4j zip and the spark-core jar, ~0.25 CPU-s per
task before the task reads a row. CPython 3.12 made this invalidation lazy
(gh-103200), so the hook below is installed only on older interpreters.

The hook re-reads a directory only when the archive's
``(st_mtime_ns, st_size, st_ino)`` differs from the last read in this
process; a changed or new archive is still picked up. Delete this module
once the supported floor is Python 3.12.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> stat stamp of the file when its directory was last read
_stamps: dict[str, tuple[int, int, int]] = {}
# zipimport's own method: re-reads the archive's directory unconditionally
_reread = zipimport.zipimporter.invalidate_caches


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _invalidate_caches(self) -> None:
    # Reached once per task per importer: pyspark/worker_util.py's
    # setup_spark_files calls importlib.invalidate_caches() for every task,
    # and before CPython 3.12 (gh-103200) that re-reads every zip directory.
    # stat BEFORE the read: a write racing the read leaves an old stamp next
    # to new contents, so the next call re-reads rather than trusting it.
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)  # noqa: SLF001
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _reread(self)
    if stamp is not None and self.archive in zipimport._zip_directory_cache:  # noqa: SLF001
        _stamps[self.archive] = stamp
    else:
        _stamps.pop(self.archive, None)


def installed() -> bool:
    return zipimport.zipimporter.invalidate_caches is _invalidate_caches


def install() -> None:
    """Install the hook (idempotent) on interpreters that need it."""
    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = _invalidate_caches
