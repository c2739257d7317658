"""go_pkg_spider_spark — a PySpark-native quality-filter / language-ID /
PII-scrub engine with the capabilities of suosi-inc/go-pkg-spider.

Brand-new Spark-first design (NOT a port): every detection cascade,
scoring function and classification rule from the reference is
re-expressed as declarative DataFrame column expressions (JVM-side,
whole-stage-codegen) or — only where a statistical model is genuinely
required — as a Python UDF over Arrow batches. The per-clip models
(audio decode, the langid n-gram model, the perplexity LM) share one
Arrow UDF, operators/fused.py.

Reference (read-only, studied for semantics): /root/reference
(suosi-inc/go-pkg-spider @ 2024-10-08).
"""

import sys

__version__ = "0.1.0"

if sys.version_info < (3, 13):
    import os
    import zipimport

    # Before every task, even in a reused worker, PySpark's
    # worker_util.setup_spark_files calls importlib.invalidate_caches().
    # Up to Python 3.12 that makes every zipimporter re-read its whole
    # archive directory at once: one read of the 3.5 MB pyspark.zip
    # central directory per pyspark subpackage imported from it, about
    # 0.2 s per task (3.13 only drops the cache and reads it lazily).
    # Every UDF module is imported through this package, so from a
    # worker's first UDF on, an archive is re-read only when its
    # (st_mtime_ns, st_size) differs from the last read's; a rewritten
    # zip is still picked up.

    def _zip_stamp(archive: str):
        try:
            st = os.stat(archive)
        except OSError:
            return None
        return st.st_mtime_ns, st.st_size

    _zip_stamps: dict = {}

    def _read_directory(archive, _read=zipimport._read_directory):
        stamp = _zip_stamp(archive)
        files = _read(archive)
        _zip_stamps[archive] = stamp
        return files

    def _invalidate_caches(self, _reread=zipimport.zipimporter.invalidate_caches):
        files = zipimport._zip_directory_cache.get(self.archive)
        stamp = _zip_stamp(self.archive)
        if files is None or stamp is None or _zip_stamps.get(self.archive) != stamp:
            _reread(self)  # reads through _read_directory, which stamps
        else:
            self._files = files

    zipimport._read_directory = _read_directory
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
