"""CPython 3.13's lazy ``zipimporter.invalidate_caches``, backported.

PySpark's worker calls ``importlib.invalidate_caches()`` on every request;
before 3.13 each zipimporter then re-reads its archive's central directory:
pyspark.zip (1 328 entries) once per importer, and the spark-core jar (5 359),
170-210 ms per pandas-UDF or Python-DataSource request on a 4-core VM. Here
invalidating drops the cached directory and the next lookup re-reads it, so a
changed archive is still seen; the cache re-reads a dropped entry on access
because ``pkgutil.iter_modules`` indexes it directly. Spark reuses workers,
so only a worker's first request (before this import runs) still pays.
"""
import sys
import zipimport

if sys.version_info < (3, 13):

    class _ZipDirectoryCache(dict):
        def __missing__(self, archive):
            files = self[archive] = zipimport._read_directory(archive)
            return files

    def _files(self):
        try:
            return zipimport._zip_directory_cache[self.archive]
        except zipimport.ZipImportError:
            return {}

    def _invalidate_caches(self):
        zipimport._zip_directory_cache.pop(self.archive, None)

    zipimport._zip_directory_cache = _ZipDirectoryCache(zipimport._zip_directory_cache)
    # __init__ fills the cache, then assigns _files before archive is set
    zipimport.zipimporter._files = property(_files, lambda self, files: None)
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
