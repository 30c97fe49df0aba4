import sys

if sys.version_info < (3, 13):
    # PySpark's worker_util.setup_spark_files calls importlib.invalidate_caches()
    # at the start of every Python task, and before CPython 3.13 each zip
    # importer then re-reads its archive's whole central directory. A reused
    # worker holds 16 (pyspark.zip once per subpackage, py4j, the spark-core
    # jar): 205 ms a task on a 4-core host, 0.13 ms with this wrapper. Workers
    # import this package to unpickle engine functions; from then on an archive
    # is re-read only when its stat stamp changed, was never taken or fails.
    import os
    import zipimport

    _eager = zipimport.zipimporter.invalidate_caches

    def _invalidate_if_changed(self, _eager=_eager):  # bound once: reload-safe
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            stamp = None
        if stamp is None or stamp != getattr(self, "_archive_stamp", None):
            _eager(self)
            self._archive_stamp = stamp

    if _eager.__name__ != _invalidate_if_changed.__name__:  # not wrapped yet
        zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
