"""Python worker daemon of the engine's sessions (``spark.python.daemon.module``).

PySpark's daemon forks one worker process per concurrent task slot and
reuses it for task after task. Two costs of the stock daemon fall on
every task, before or after its rows:

- Before every task the worker calls ``importlib.invalidate_caches()``
  (``pyspark.worker_util.setup_spark_files``). Up to CPython 3.11 that
  makes every ``zipimporter`` on ``sys.path_importer_cache`` re-read its
  archive's whole directory at once. A worker holds about 14 of them: one
  per imported sub-package of ``pyspark.zip`` (10–25 ms each) and two
  for the spark-core jar (50–90 ms each), so a task paid 130–450 ms of
  setup. CPython 3.12 makes the re-read lazy.
- After every task the daemon runs a full ``gc.collect()`` in the worker.
  It walks every tracked object, about 73k once the worker has imported
  pandas, pyarrow and numpy on its first Arrow task, and took 60–185 ms
  a task on 4 busy workers.

Run as ``__main__``, this module replaces
``zipimport.zipimporter.invalidate_caches`` on CPython < 3.12 with
:func:`invalidate_caches`, which re-reads an archive only when its file
has changed. It then imports pandas and pyarrow, freezes the heap
(``gc.freeze``, the pre-fork pattern the ``gc`` docs describe) and runs
PySpark's own daemon. The workers it forks inherit both. Importing the
module patches nothing.
"""

from __future__ import annotations

import gc
import importlib
import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches

# archive path -> (st_mtime_ns, st_size), stat'ed just before the read
# that filled zipimport._zip_directory_cache[archive]; process-wide, like
# that cache
_stamps: dict[str, tuple[int, int]] = {}


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive's
    directory only when ``(st_mtime_ns, st_size)`` differs from the last
    read, or when the archive cannot be stat'ed. Otherwise the importer
    takes the directory that the last read cached."""
    archive = self.archive
    cache = zipimport._zip_directory_cache
    try:
        st = os.stat(archive)
    except OSError:
        _stamps.pop(archive, None)
        _reread(self)
        return
    stamp = (st.st_mtime_ns, st.st_size)
    if _stamps.get(archive) == stamp and archive in cache:
        self._files = cache[archive]
        return
    # stamp before the read: a change during the read shows at the next call
    _stamps[archive] = stamp
    _reread(self)


def main() -> None:
    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = invalidate_caches
        # one read per archive here, so the forked workers start current
        importlib.invalidate_caches()
    from pyspark import daemon

    # every Arrow task imports these: import them once, before the fork,
    # so the per-task gc.collect() walks only what a worker made itself
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401

    gc.collect()  # a frozen cycle is never freed
    gc.freeze()
    daemon.manager()


if __name__ == "__main__":
    main()
