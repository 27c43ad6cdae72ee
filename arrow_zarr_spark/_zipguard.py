"""Stop ``importlib.invalidate_caches()`` re-reading unchanged zip archives.

Spark calls ``importlib.invalidate_caches()`` at the start of every
Python worker call (``pyspark.worker_util.setup_spark_files``): planning
a DataSource, pushing its filters, running a task. On CPython before
3.13 that reaches ``zipimport.zipimporter.invalidate_caches``, which
re-reads its archive's central directory on every call (CPython
gh-103200; 3.13 only drops the cache and re-reads lazily). A worker
holds about 20 zip importers: a dozen on ``pyspark.zip`` alone, others
on the Spark core jar, py4j and the zip ``register`` ships. Re-reading
them costs ~145 ms of CPU per worker call on a 4-vCPU VM, where the
DataSource's own work in the call takes 1-11 ms.

Importing this module (the package ``__init__`` does so first, so every
worker that unpickles a DataSource, a partition or a write function
runs it) replaces that method on CPython 3.10-3.12 with one that keeps
the stdlib's semantics:

- an archive whose ``(st_mtime_ns, st_size, st_ino)`` changed since it
  was last read here, or that was never read here, is re-read by the
  stdlib method's own body (the same in 3.10-3.12), ``ZipImportError``
  handling included;
- an unchanged archive is not re-read: the importer adopts the shared
  ``zipimport._zip_directory_cache`` entry, so N importers of one
  archive cost N stats and no directory parse.

Staleness by stat is the test ``FileFinder`` already applies to
directories. Python 3.13 and later are left as they are.
"""

import os
import sys
import zipimport

# Archive path -> (stat stamp taken before the read, the directory that
# read returned). Module-level because the cache it guards, zipimport's,
# is too.
_read_at = {}


def invalidate_caches(self):
    """Re-read this importer's archive only if it changed on disk."""
    archive = self.archive
    try:
        st = os.stat(archive)
        stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
    except OSError:
        stamp = None
    seen = _read_at.get(archive)
    files = zipimport._zip_directory_cache.get(archive)
    if seen is not None and seen[0] == stamp and seen[1] is files:
        self._files = files
        return
    # Record the directory this call read, not whatever the shared cache
    # holds afterwards: a thread racing here can then cost an extra
    # re-read, but never pair a stale directory with a newer stamp.
    try:
        files = zipimport._read_directory(archive)
    except zipimport.ZipImportError:
        zipimport._zip_directory_cache.pop(archive, None)
        _read_at.pop(archive, None)
        self._files = {}
        return
    self._files = zipimport._zip_directory_cache[archive] = files
    if stamp is None:
        _read_at.pop(archive, None)
    else:
        _read_at[archive] = (stamp, files)


if (3, 10) <= sys.version_info < (3, 13):
    zipimport.zipimporter.invalidate_caches = invalidate_caches
