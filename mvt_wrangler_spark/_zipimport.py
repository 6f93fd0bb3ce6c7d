"""Re-read a zip archive's directory only when the archive changed.

Every Python worker task starts with `pyspark.worker_util.setup_spark_files`,
which calls `importlib.invalidate_caches()`. On Python 3.10-3.12 that makes
every `zipimporter` on the worker re-parse its whole archive directory: about
16 importers over `pyspark.zip` (1,328 entries) cost ~0.12 CPU-s per task,
most of a small task's worker time. `install()` wraps
`zipimporter.invalidate_caches` so the original method runs only when the
archive's `(st_mtime_ns, st_size)` differs from the stamp taken when its
directory was last read. A changed, missing or never-stamped archive still
goes through the original method, so imports see exactly what they would
without the wrapper, on every Python version (3.13 already re-reads
lazily; the wrapper is equally safe there).
"""

from __future__ import annotations

import os
import zipimport

_stamps: dict[str, tuple[int, int]] = {}  # archive -> stamp of its cached directory


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def install() -> None:
    """Wrap `zipimporter.invalidate_caches` once; stamp every archive whose
    directory is already cached and not yet stamped."""
    for archive in list(zipimport._zip_directory_cache):
        if archive not in _stamps and (stamp := _stamp(archive)) is not None:
            _stamps[archive] = stamp
    original = zipimport.zipimporter.invalidate_caches
    if getattr(original, "stat_keyed", False):
        return

    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        cached = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and cached is not None and _stamps.get(self.archive) == stamp:
            self._files = cached  # another importer may have re-read it
            return
        original(self)
        if stamp is not None and self.archive in zipimport._zip_directory_cache:
            _stamps[self.archive] = stamp
        else:
            _stamps.pop(self.archive, None)

    invalidate_caches.stat_keyed = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
