"""tzengine — a from-scratch PySpark-native spatial-join + tiling engine.

Reproduces the query semantics of the reference timezone point-in-polygon
library (dustin-johnson/timezonemap, studied at /root/reference) as a
distributed broadcast-index join over Parquet/Iceberg-style tables of
geotagged image+caption rows, with deterministic tiling, resumable runs,
and vectorized Arrow-native probe kernels (Arrow buffers in, numpy
kernels, Arrow buffers out).
"""

import os
import sys

__version__ = "0.1.0"

# Engine version gate for index artifacts, mirroring the reference's
# "<libver>:<mapver>" archive version marker (TimeZoneMap.kt:171-182).
INDEX_FORMAT_VERSION = "1"


def _reread_changed_zips_only() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only
    when its ``(st_mtime_ns, st_size, st_ino)`` changed since that
    importer last read it, in a Spark Python worker on CPython < 3.13.

    PySpark calls ``importlib.invalidate_caches()`` before every task
    (``pyspark/worker_util.py``), and on CPython 3.11 each of the
    worker's zip importers (spark-core jar, pyspark.zip, py4j, the
    shipped tzengine zip: 17 in all) then re-reads its whole archive
    directory, 0.18-0.25 s a task. CPython 3.13 re-reads lazily already.
    The importers present now were read by this task's own
    ``invalidate_caches`` call, so they start with their archive's
    current stamp. When ``stat`` fails, or for an importer with no stamp
    yet, the stock method runs."""
    if sys.version_info >= (3, 13) or "pyspark" not in sys.modules:
        return
    from pyspark import TaskContext

    if TaskContext.get() is None:
        return
    import zipimport

    stock = zipimport.zipimporter.invalidate_caches

    def stamp(importer):
        st = os.stat(importer.archive)
        return st.st_mtime_ns, st.st_size, st.st_ino

    def invalidate_caches(self):
        try:
            now = stamp(self)
        except OSError:
            now = None
        if now is None or getattr(self, "_tzengine_stamp", None) != now:
            stock(self)
            self._tzengine_stamp = now

    for importer in list(sys.path_importer_cache.values()):
        if isinstance(importer, zipimport.zipimporter):
            try:
                importer._tzengine_stamp = stamp(importer)
            except OSError:
                pass
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_reread_changed_zips_only()
