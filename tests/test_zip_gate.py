"""The package's zipimport gate (``zeek_duckdb_spark._gate_zip_invalidation``):
inside a PySpark worker on CPython < 3.13, ``importlib.invalidate_caches()``
re-reads a zip on ``sys.path`` only when the archive changed.

The interpreter-level cases run in a subprocess on a temp zip, with
``SparkFiles._is_running_on_worker`` set the way
``pyspark.worker_util.setup_spark_files`` sets it; the last test runs
tasks on a reused Spark worker."""

import os
import pathlib
import shutil
import subprocess
import sys
import zipfile

import pytest

import zeek_duckdb_spark

ROOT = pathlib.Path(zeek_duckdb_spark.__file__).parents[1]
PY313 = shutil.which("python3.13")

# Marks the process as a PySpark worker, imports one module from the zip
# named by argv[1] (so a zipimporter holds its directory), imports the
# package, and counts zipimport._read_directory calls on that archive.
PRELUDE = """
import importlib, os, sys, types, zipfile, zipimport
try:
    from pyspark.core.files import SparkFiles
except ImportError:  # an interpreter without pyspark: stand in its flag
    SparkFiles = type("SparkFiles", (), {})
    stub = types.ModuleType("pyspark.core.files")
    stub.SparkFiles = SparkFiles
    sys.modules["pyspark.core.files"] = stub
SparkFiles._is_running_on_worker = True
archive = sys.argv[1]
sys.path.insert(0, archive)
import zmod_a
import zeek_duckdb_spark
calls = []
read_directory = zipimport._read_directory
def counted(path):
    calls.append(path)
    return read_directory(path)
zipimport._read_directory = counted
importer = sys.path_importer_cache[archive]
def reads():
    n = calls.count(archive)
    calls.clear()
    return n
gated = zipimport.zipimporter.invalidate_caches.__module__ == "zeek_duckdb_spark"
"""


def _run(tmp_path, body, python=sys.executable):
    archive = tmp_path / "mods.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zmod_a.py", "NAME = 'zmod_a'\n")
    out = subprocess.run(
        [python, "-c", PRELUDE + body, str(archive)],
        capture_output=True, text=True, cwd=ROOT,
        env={**os.environ, "PYTHONPATH": str(ROOT)},
    )
    assert out.returncode == 0, out.stderr
    return out.stdout.split()


needs_gate = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="CPython >= 3.13 installs no gate"
)


@needs_gate
def test_unchanged_archive_is_not_reread(tmp_path):
    got = _run(tmp_path, """
importlib.invalidate_caches()
importlib.invalidate_caches()
print(gated, reads())
""")
    assert got == ["True", "0"]


@needs_gate
def test_rewritten_archive_is_reread_and_new_module_imports(tmp_path):
    got = _run(tmp_path, """
importlib.invalidate_caches()
print(reads())
with zipfile.ZipFile(archive, "w") as z:
    z.writestr("zmod_a.py", "NAME = 'zmod_a'\\n")
    z.writestr("zmod_b.py", "NAME = 'zmod_b'\\n")
importlib.invalidate_caches()
print(reads())
import zmod_b
print(zmod_b.NAME)
importlib.invalidate_caches()
print(reads())
""")
    assert got == ["0", "1", "zmod_b", "0"]


@needs_gate
def test_deleted_archive_falls_through_to_stdlib(tmp_path):
    # the stdlib method tries one read, drops the cached directory and
    # empties the importer's; the gate must leave exactly that state
    got = _run(tmp_path, """
os.remove(archive)
importlib.invalidate_caches()
print(reads(), archive in zipimport._zip_directory_cache, importer._files)
""")
    assert got == ["1", "False", "{}"]


def test_no_gate_on_python_313(tmp_path):
    if PY313 is None:
        pytest.skip("no python3.13 on PATH")
    probe = subprocess.run(
        [PY313, "-c", "import zeek_duckdb_spark"],
        capture_output=True, cwd=ROOT,
    )
    if probe.returncode != 0:
        pytest.skip("CPython 3.13 cannot import the package")
    got = _run(tmp_path, """
importlib.invalidate_caches()
print(zipimport.zipimporter.invalidate_caches.__module__)
""", python=PY313)
    assert got == ["zipimport"]


def test_spark_driver_keeps_stdlib_method():
    code = (
        "import pyspark.core.files, zipimport\n"
        "import zeek_duckdb_spark\n"
        "print(zipimport.zipimporter.invalidate_caches.__module__)\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True,
        check=True, cwd=ROOT,
    )
    assert out.stdout.split() == ["zipimport"], out.stderr


@needs_gate
def test_reused_spark_worker_rereads_no_zip(spark):
    """Single-partition jobs until one lands on a worker an earlier job
    already ran on: that task's ``setup_spark_files`` must have read no
    zip directory since the earlier task counted from."""

    def probe(rows):
        import os
        import zipimport

        import zeek_duckdb_spark  # noqa: F401  (installs the gate)

        for _ in rows:  # drain, so the worker goes back to the pool
            pass
        read = zipimport._read_directory
        calls = getattr(read, "calls", None)
        if calls is None:
            def counted(path):
                counted.calls += 1
                return read(path)

            counted.calls = 0
            zipimport._read_directory = counted
        gated = zipimport.zipimporter.invalidate_caches.__module__
        yield os.getpid(), gated, calls

    sc = spark.sparkContext
    reports = []
    for _ in range(12):
        reports += sc.parallelize([0], 1).mapPartitions(probe).collect()
        if reports[-1][2] is not None:
            break
    assert all(g == "zeek_duckdb_spark" for _, g, _ in reports), reports
    assert reports[-1][2] == 0, reports
