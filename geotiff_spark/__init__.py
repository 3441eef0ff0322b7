"""geotiff_spark — a PySpark-native spatial-join + tiling engine.

From-scratch reimplementation of the query/data-processing capabilities of
the georust/geotiff crate (reference at /root/reference), re-expressed as an
idiomatic Spark engine: GeoTIFF decode as vectorized numpy kernels inside
Arrow/pandas UDFs, spatial joins (cell-index broadcast + exact ray-casting
refinement), kNN via ring expansion, raster sampling joins, plus the
relational and training-data-pipeline surface (dedup, similarity search,
text analysis) a web-scale corpus needs.

Design rules (see SURVEY.md):
- DataFrame/SQL first; Catalyst/AQE does the planning.
- All custom logic is vectorized pandas/Arrow UDFs — no per-row Python.
- No JVM extensions: ships via ``spark-submit --py-files``.
"""

import os
import sys

__version__ = "0.1.0"


def _keep_unchanged_zip_directories() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive's
    directory only when the archive changed on disk.

    pyspark's worker calls ``importlib.invalidate_caches()`` at the start
    of every task (``pyspark.worker_util.setup_spark_files``). Before
    CPython 3.13 that makes every ``zipimporter`` on ``sys.path`` re-read
    its archive's whole central directory at once — pyspark.zip and the
    spark-core jar, ~6 700 entries, ~250 ms per task. CPython 3.13 only
    drops the cached directory and re-reads it on the next import from
    that archive. This keeps the cached directory while the archive's
    (inode, mtime, size) is the one last read in this process, so a
    reused worker pays the re-read once; a changed, replaced or deleted
    archive (a new ``--py-files`` zip, say) is re-read as before.
    Installed once per process, on CPython < 3.13 only.
    """
    if sys.version_info >= (3, 13):
        return
    import zipimport

    reread = zipimport.zipimporter.invalidate_caches
    if getattr(reread, "stat_checked", False):
        return
    read_at = {}  # archive path -> stat key of its cached directory

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            key = (st.st_ino, st.st_mtime_ns, st.st_size)
        except OSError:
            key = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if key is not None and files is not None and read_at.get(self.archive) == key:
            self._files = files
            return
        # stat before the read: a write racing the read leaves a stale key
        # (one extra re-read later), never a stale directory
        reread(self)
        read_at[self.archive] = key

    invalidate_caches.stat_checked = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_keep_unchanged_zip_directories()
