"""zeek_duckdb_spark — a PySpark-native analytics engine for Zeek logs.

Re-expresses the capabilities of the ynadji/zeek-duckdb DuckDB extension
(reference: /root/reference, see SURVEY.md) Spark-first:

- ``read_zeek(spark, path, **options)`` — typed DataFrame from Zeek
  TSV logs (self-describing ``#``-directive headers), with strict /
  union-by-name multi-file schema semantics, marker-aware NULLs,
  gzip auto-detection, a ``filename`` virtual column, and
  ``ignore_file_errors`` tolerance.  The scan composes Spark's built-in
  CSV reader with a declarative cast pipeline so Catalyst keeps column
  pruning / predicate pushdown / whole-stage codegen.
- ``register(spark)`` — installs the INET helper SQL functions
  (``ip_in_subnet``, ``inet_canon``, ...).
- ``operators`` — large-scale training-data pipeline operators
  (dedup, similarity search, text analysis, multimodal plumbing).
"""

# Public names resolve on first use (PEP 562): importing one submodule,
# e.g. the ``zeek`` DataSource, must not pay for the WARC reader and
# pandas behind the rest of the surface.
_EXPORTS = {
    "ZeekHeader": "header",
    "parse_header": "header",
    "zeek_type_to_spark": "header",
    "read_zeek": "sources.zeek",
    "read_zeek_json": "sources.zeek_json",
    "write_zeek": "sources.zeek_writer",
    "write_zeek_stream": "sources.zeek_writer",
    "read_warc": "sources.warc",
    "extract_warc": "sources.warc",
    "dedup_to_revisits": "sources.warc",
    "resolve_revisits": "sources.warc",
    "write_warc": "sources.warc",
    "read_cdxj": "sources.cdxj",
    "write_cdxj": "sources.cdxj",
    "register_inet_functions": "functions.inet",
    "interval_text": "functions.intervals",
    "register_interval_functions": "functions.intervals",
}


def __getattr__(name):
    mod = _EXPORTS.get(name)
    if mod is None:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    import importlib

    value = getattr(importlib.import_module(f"{__name__}.{mod}"), name)
    globals()[name] = value
    return value


def _gate_zip_invalidation():
    """In a PySpark worker on CPython < 3.13, re-read a zip on
    ``sys.path`` only when it changed.

    ``pyspark.worker_util.setup_spark_files`` calls
    ``importlib.invalidate_caches()`` before every Python task and
    every DataSource planner call.  Before 3.13 each
    ``zipimporter.invalidate_caches`` re-reads its archive's central
    directory, so a worker re-reads pyspark.zip (12 importers), the
    py4j zip (2) and the spark-core jar (2) per call: 0.24 s of a
    ~0.31 s task on a 4-core VM (SCALING.md "Python task floor").  The gated method keeps the
    directory while the archive's ``(st_ino, st_size, st_mtime_ns)``
    is the one stat'ed before its last read, and leaves a missing or
    unreadable archive to the stdlib method.  The archives already
    cached are read once here, after their stat, so the worker's next
    task reads nothing.  CPython 3.13 made the method lazy itself; the
    Spark driver, which never runs ``setup_spark_files``, keeps the
    stdlib method."""
    import sys

    files = sys.modules.get("pyspark.core.files")
    if sys.version_info >= (3, 13) or not (
        files and files.SparkFiles._is_running_on_worker
    ):
        return
    import os
    import zipimport

    stdlib = zipimport.zipimporter.invalidate_caches
    cache = zipimport._zip_directory_cache
    read = {}  # archive -> (stat key before the read, directory)

    def stat_key(archive):
        st = os.stat(archive)
        return st.st_ino, st.st_size, st.st_mtime_ns

    def invalidate_caches(self):
        try:
            key = stat_key(self.archive)
        except OSError:
            key = None
        seen = read.get(self.archive)
        if seen and seen[0] == key:
            self._files = cache[self.archive] = seen[1]
            return
        stdlib(self)
        if key and self.archive in cache:
            read[self.archive] = (key, cache[self.archive])

    for archive in list(cache):
        try:
            key = stat_key(archive)
            cache[archive] = zipimport._read_directory(archive)
        except (OSError, zipimport.ZipImportError):
            continue
        read[archive] = (key, cache[archive])
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_gate_zip_invalidation()


def register(spark):
    """Install all session-level extensions (the Spark analogue of the
    reference's extension load, src/zeek_extension.cpp:31-36): the INET
    function family, DuckDB-style interval rendering, and the ``zeek``
    data source format."""
    from zeek_duckdb_spark.functions.inet import register_inet_functions
    from zeek_duckdb_spark.functions.intervals import (
        register_interval_functions,
    )
    from zeek_duckdb_spark.sources.datasource import register_zeek_datasource

    register_inet_functions(spark)
    register_interval_functions(spark)
    register_zeek_datasource(spark)
    return spark


__all__ = [
    "ZeekHeader",
    "parse_header",
    "zeek_type_to_spark",
    "read_zeek",
    "read_zeek_json",
    "read_warc",
    "extract_warc",
    "resolve_revisits",
    "dedup_to_revisits",
    "write_warc",
    "read_cdxj",
    "write_cdxj",
    "write_zeek",
    "write_zeek_stream",
    "register",
    "interval_text",
]

__version__ = "0.1.0"
