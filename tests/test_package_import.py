"""The package ``__init__`` resolves its public names on first use, so
importing one submodule pays only for what that submodule imports."""

import pathlib
import subprocess
import sys

import zeek_duckdb_spark


def test_datasource_import_loads_neither_warc_nor_pandas():
    code = (
        "import sys\n"
        "import zeek_duckdb_spark.sources.datasource\n"
        "print(sorted({'zeek_duckdb_spark.sources.warc', 'pandas'}"
        " & set(sys.modules)))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True,
        check=True, cwd=pathlib.Path(zeek_duckdb_spark.__file__).parents[1],
    )
    assert out.stdout.strip() == "[]", out.stdout + out.stderr


def test_public_names_resolve_and_star_import():
    ns: dict = {}
    exec("from zeek_duckdb_spark import *", ns)
    assert set(zeek_duckdb_spark.__all__) <= set(ns)
    assert ns["read_warc"].__module__ == "zeek_duckdb_spark.sources.warc"
