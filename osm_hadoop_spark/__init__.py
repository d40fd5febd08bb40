"""osm_hadoop_spark — a PySpark-native spatial-join + tiling engine.

A from-scratch re-expression of the query/data-processing capabilities of
willtemperley/osm-hadoop (reference at /root/reference, Scala/Hadoop MRv2)
on the Spark SQL engine: DataFrame plans optimized by Catalyst, geometry
kernels as vectorized NumPy inside Arrow pandas UDFs (no per-row Python),
Iceberg-or-Parquet snapshot checkpoints instead of SequenceFile stages,
cell-partitioned tables instead of HBase.

Subpackages
-----------
functions   pure vectorized kernels: grid snap, Bresenham, tile/cell index,
            WKT codec, PIP / segment-box predicates (SURVEY.md section 2.6)
sources     interleaved-document span parsing + deterministic fixture
            generators + the snapshot catalog (SURVEY.md section 2.1)
operators   the operator inventory: way assembly (J1/J2), rasterize
            (E4/E5/A1-A3), tile spatial join (J3/A4/A6), zonal stats (A5),
            kNN (J6), dedup / text stats / similarity / multimodal
plans       staged pipeline with checkpoint / resume / lineage metrics
streaming   structured-streaming adapters (engine addition; reference has none)
"""

__version__ = "0.1.0"


def _install_zip_directory_guard() -> None:
    """Make `zipimporter.invalidate_caches` skip archives that did not change.

    Every PySpark Python task calls `importlib.invalidate_caches()` before it
    reads data (`setup_spark_files`). On CPython 3.10-3.12 that makes every
    cached `zipimporter` re-parse its whole archive directory in pure Python:
    pyspark.zip (~1.3k entries) once per imported pyspark subpackage, the
    Spark core jar (~5.4k entries) and this package's --py-files zip several
    times each — 0.1-0.3 s per task on a 4-core host. The guard keeps the
    directory of an archive whose (st_mtime_ns, st_size) is what it was when
    the directory was last read, and re-reads (through the original method)
    only when the archive changed, which is what the cache flush is for.

    Executors get the guard by unpickling any engine UDF, which imports this
    package; a reused worker then pays the re-read only once per archive.
    CPython 3.13 made the method lazy, so the guard is not installed there.
    """
    import functools
    import os
    import sys
    import zipimport

    cls = zipimport.zipimporter
    original = getattr(cls, "invalidate_caches", None)
    read_directory = getattr(zipimport, "_read_directory", None)
    if (
        sys.version_info >= (3, 13)
        or original is None
        or read_directory is None
        or getattr(original, "_osm_stat_guard", False)
    ):
        return

    # archive path -> ((st_mtime_ns, st_size) taken before the read, files)
    fresh: dict = {}

    def stamp(archive):
        try:
            st = os.stat(archive)
        except OSError:
            return None
        return (st.st_mtime_ns, st.st_size)

    @functools.wraps(read_directory)
    def tracked_read_directory(archive):
        key = stamp(archive)
        files = read_directory(archive)
        if key is not None:
            fresh[archive] = (key, files)
        return files

    @functools.wraps(original)
    def invalidate_caches(self):
        seen = fresh.get(self.archive)
        if seen is not None and seen[0] == stamp(self.archive):
            self._files = seen[1]
            zipimport._zip_directory_cache[self.archive] = seen[1]
            return
        fresh.pop(self.archive, None)
        original(self)

    invalidate_caches._osm_stat_guard = True
    zipimport._read_directory = tracked_read_directory
    cls.invalidate_caches = invalidate_caches


_install_zip_directory_guard()
