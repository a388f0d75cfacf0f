"""demeter_spark — a from-scratch PySpark-native spatial-join + tiling engine.

Re-expresses the query/data-processing capabilities of useyardstick/demeter
(see SURVEY.md) as idiomatic Spark DataFrame pipelines:

- hierarchical cell index (H3/S2-style) computed in vectorized numpy inside
  Arrow pandas UDFs (``demeter_spark.functions.cellgrid``),
- cover-join (cell-id equi-join) + exact point-in-polygon refinement
  (``demeter_spark.operators.joins``),
- kNN via k-ring expansion, raster<->vector zonal stats, tile merge algebra,
- Common-Crawl-style pages ingestion with byte-identical text extraction,
- skew salting + AQE, per-partition lineage/metrics with resumable commits.

Everything here derives from public knowledge only: the Apache Spark API and
the reference repo's observable behavior.
"""

__version__ = "0.1.0"


def _guard_zip_directory_rereads() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive's directory
    only when the archive changed on disk.

    PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
    EVERY Python task (``worker_util.setup_spark_files``), and CPython 3.11's
    ``zipimporter.invalidate_caches`` re-parses the whole central directory
    each time. Workers import pyspark from ``pyspark.zip`` and carry the
    spark-core jar and py4j zip on ``sys.path``: with Spark 4.1 that is 16
    cached importers and ~27k directory entries re-parsed per task, inside
    an already-running worker, before the task reads a row. On a 4-core host
    an 8-task ``arrow_udf`` query over 80 rows took a median 0.70 s without
    this guard and 0.31 s with it. An archive whose ``(st_mtime_ns,
    st_size)`` is unchanged keeps the directory read at that stamp; a
    rewritten archive is re-read.

    Installed on import of this package because every engine UDF imports it
    on the worker (also under ``--py-files``); a daemon-module hook would run
    before ``--py-files`` are on the path. Idempotent.
    """
    import os
    import zipimport

    real = zipimport.zipimporter.invalidate_caches
    if getattr(real, "_rereads_only_changed", False):
        return
    seen: dict[str, tuple[tuple[int, int], dict]] = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            seen.pop(self.archive, None)
            real(self)
            return
        stamp = (st.st_mtime_ns, st.st_size)
        prior = seen.get(self.archive)
        if prior is not None and prior[0] == stamp:
            self._files = prior[1]
            zipimport._zip_directory_cache[self.archive] = prior[1]
            return
        real(self)
        seen[self.archive] = (stamp, self._files)

    invalidate_caches._rereads_only_changed = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_guard_zip_directory_rereads()
