"""PySpark worker daemon whose workers re-read a zip archive's directory
only when the archive changed.

Before every task, pyspark's `worker_util.setup_spark_files` calls
`importlib.invalidate_caches()`. On CPython < 3.13 every cached
`zipimport.zipimporter` then eagerly re-reads its archive's whole
directory. Workers import pyspark from `pyspark.zip`, whose package and
subpackages hold 16 importers, so under pyspark's own daemon each task
re-reads that archive 16 times: about 0.23 s of Python CPU per task on a
4-core VM, even for an identity `pandas_udf`.
Python 3.13 made this invalidation lazy, so the hook is installed only
below 3.13.

`session.get_spark` sets this module as `spark.python.daemon.module`. Run
as `python -m`, it installs the hook, reads each archive once and then
runs pyspark's own daemon, so every worker it forks starts with the hook
and the directories already read.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def _keyed(original):
    # archive path -> (mtime_ns, size, inode) when its directory was last read
    stamps: dict[str, tuple[int, int, int]] = {}

    @functools.wraps(original)
    def invalidate_caches(self) -> None:
        """Re-read the archive's directory only if its (mtime, size, inode)
        changed since it was last read here."""
        # stamped before the read: a change during the read re-reads next time
        stamp = _stamp(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and files is not None and stamps.get(self.archive) == stamp:
            # another importer of the same archive may have re-read it
            self._files = files
            return
        original(self)
        if stamp is None:
            stamps.pop(self.archive, None)
        else:
            stamps[self.archive] = stamp

    invalidate_caches.keeps_zip_index = True
    return invalidate_caches


def installed() -> bool:
    """Whether this process's zipimporters carry the hook."""
    return getattr(zipimport.zipimporter.invalidate_caches, "keeps_zip_index", False)


def install() -> bool:
    """Install the hook (Python < 3.13 only); returns `installed()`."""
    if sys.version_info < (3, 13) and not installed():
        zipimport.zipimporter.invalidate_caches = _keyed(
            zipimport.zipimporter.invalidate_caches
        )
    return installed()


if __name__ == "__main__":
    import importlib

    install()
    from pyspark import daemon

    importlib.invalidate_caches()  # each archive read once, before any fork
    daemon.manager()
