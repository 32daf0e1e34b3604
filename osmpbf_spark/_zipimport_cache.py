"""Re-read a zip archive's directory only when the archive has changed.

Spark's ``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` at the start of every Python worker call:
every executor task and every ``schema`` / ``partitions`` / ``writer`` /
``commit`` call of a Python data source. Workers import pyspark from
``$SPARK_HOME/python/lib/pyspark.zip``, and ``sys.path_importer_cache``
holds one ``zipimport.zipimporter`` per package directory of that archive
that the worker imported from (14-17 of them). On CPython 3.10-3.11 each
one's ``invalidate_caches`` re-parses the archive's whole directory
(~1,300 entries) in pure Python, so every call re-reads the same unchanged
directory ~15 times.

Measured on a 4-core host (every run is listed in CHANGES.md):

- one ``importlib.invalidate_caches()`` inside an executor task that had
  imported the engine (``scripts/pyworker_call_cost.py``, median of 10):
  16 directory reads and 213-255 ms without this module, 0 reads and
  0.12 ms with it. In a bare process that imported ``pyspark.worker``
  from pyspark.zip: 14 zipimporters, 14 reads and 74-88 ms a call,
  against 0 reads and ~0.1 ms after one first pass of 2 reads (one per
  archive on ``sys.path``);
- an osmpbf ``load()`` on the test fixture 0.16-0.19 s -> 0.015-0.023 s,
  and a one-file read into ``noop`` 0.65-0.68 s -> 0.16 s (medians of
  10). Profiled without this module, one ``load()``'s
  create_data_source worker call spent 0.55 s of 0.56 s in 17
  ``_read_directory`` calls;
- perfbench lake_stream, whose pass makes five planner calls and three
  Python task starts, 10 alternating pairs: ``rows_per_s`` 28.5k -> 43.0k
  and ``pass_s_p50`` 5.63 -> 3.73 s (medians, better in 10/10); traced,
  ``spark.self_s`` 5.41 -> 2.36 s with the same 5 jobs and 16 tasks.
  dense_scan ``rows_per_s`` 2.64M -> 3.25M (10/10).

Semantics: the stdlib method is wrapped, not copied. An importer whose
archive has the same ``(st_mtime_ns, st_size, st_ino)`` as at the last
read takes the directory already in ``zipimport._zip_directory_cache``.
A changed archive is re-read by the first of its importers to be
invalidated, and the others take that read. An archive that cannot be
stat'ed, or has no cached directory, goes to the stdlib method.

CPython 3.12 re-reads a changed archive lazily and has no such cost, so
``install`` does nothing there (or on any other interpreter). Delete this
module once the engine requires Python 3.12 or later.
"""

from __future__ import annotations

import functools
import os
import sys
import threading
import zipimport


def install() -> bool:
    """Wrap ``zipimporter.invalidate_caches``; return whether it did."""
    if not (
        sys.implementation.name == "cpython"
        and (3, 10) <= sys.version_info[:2] < (3, 12)
        and hasattr(zipimport, "_zip_directory_cache")
    ):
        return False
    stdlib = zipimport.zipimporter.invalidate_caches
    read_at: dict[str, tuple[int, int, int]] = {}
    lock = threading.Lock()

    @functools.wraps(stdlib)
    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            return stdlib(self)
        key = (st.st_mtime_ns, st.st_size, st.st_ino)
        with lock:
            files = zipimport._zip_directory_cache.get(self.archive)
            if files is not None and read_at.get(self.archive) == key:
                self._files = files
            else:
                stdlib(self)
                read_at[self.archive] = key

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True

