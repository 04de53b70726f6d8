"""--py-files packaging: ship the package to executor Python workers.

The north_rule requires the job to run under ``spark-submit --py-files`` on
a multi-executor cluster.  This helper builds the equivalent artifact (a
zip of the package) and registers it with ``SparkContext.addPyFile`` so
executor Python workers can import ``ocr_hardsubx_spark`` no matter where
the driver process started — the same code path spark-submit uses.

The zip is rebuilt when a source file is newer than the artifact or the
set of files it would hold changed (a module added or deleted).

Worker side, ``guard_zip_directory_reads`` keeps a reused Python worker
from re-parsing every zip on its import path at each task.
"""

from __future__ import annotations

import os
import sys
import zipfile
import zipimport

_PKG_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REPO_DIR = os.path.dirname(_PKG_DIR)
DIST_ZIP = os.path.join(REPO_DIR, "dist", "ocr_hardsubx_spark.zip")

_registered: set[str] = set()


def build_pyfiles_zip(zip_path: str = DIST_ZIP) -> str:
    """Zip the package (plus the committed model JSONs) for --py-files."""
    sources = []
    for root, _dirs, files in os.walk(_PKG_DIR):
        if "__pycache__" in root:
            continue
        for f in files:
            if f.endswith(".py"):
                sources.append(os.path.join(root, f))
    models_dir = os.path.join(REPO_DIR, "models")
    if os.path.isdir(models_dir):
        sources += [os.path.join(models_dir, f)
                    for f in os.listdir(models_dir) if f.endswith(".json")]
    names = {os.path.relpath(p, REPO_DIR): p for p in sources}
    newest = max(os.path.getmtime(p) for p in sources)
    if os.path.exists(zip_path) and os.path.getmtime(zip_path) >= newest:
        with zipfile.ZipFile(zip_path) as z:
            if set(z.namelist()) == set(names):
                return zip_path
    os.makedirs(os.path.dirname(zip_path), exist_ok=True)
    tmp = zip_path + ".tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as z:
        for name, p in names.items():
            z.write(p, name)
    os.replace(tmp, zip_path)
    return zip_path


def ensure_workers_can_import(spark) -> None:
    """Idempotently attach the package zip to the running SparkContext."""
    sc = spark.sparkContext
    key = sc.applicationId
    if key in _registered:
        return
    sc.addPyFile(build_pyfiles_zip())
    _registered.add(key)


# archive path -> (st_mtime_ns, st_size) of the file when its directory
# was last read into zipimport's cache
_zip_stamps: dict[str, tuple[int, int]] = {}
_stock_invalidate = zipimport.zipimporter.invalidate_caches


def _guarded_invalidate(self) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive's
    directory only when the file changed since the last read."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if (stamp is not None and files is not None
            and _zip_stamps.get(self.archive) == stamp):
        self._files = files
        return
    # stat before the read: a rewrite racing the read leaves an older
    # stamp behind, so the next call reads again
    _stock_invalidate(self)
    if stamp is not None and self.archive in zipimport._zip_directory_cache:
        _zip_stamps[self.archive] = stamp
    else:
        _zip_stamps.pop(self.archive, None)


def guard_zip_directory_reads() -> None:
    """Stop ``importlib.invalidate_caches()`` re-parsing unchanged zips.

    pyspark's worker calls ``importlib.invalidate_caches()`` at the start
    of every task; on CPython < 3.13 each zipimporter then eagerly
    re-reads its archive's whole directory (pyspark.zip: ~1,300 entries,
    once per importer of it, a dozen or more per worker).  This swaps in a
    version that re-reads only when the archive's (mtime, size) changed
    or zipimport's cache lost it.  Idempotent; a no-op on 3.13+, whose
    invalidation is already lazy."""
    if sys.version_info >= (3, 13):
        return
    zipimport.zipimporter.invalidate_caches = _guarded_invalidate
