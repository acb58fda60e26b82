"""One WARC/CDX reader: the path-based ``warc``/``cdx`` DataSources over
``pyarrow.fs`` are the only engine, so no reader under ``sources/``
takes an ``engine`` switch and nothing reads through Spark's
``binaryFile`` source or a second filesystem layer."""

import ast
import pathlib

import zeek_duckdb_spark

GONE = {"_posix_opener", "_is_local_path", "_resolve_warc_engine"}


def test_no_engine_switch_or_binaryfile_read():
    root = pathlib.Path(zeek_duckdb_spark.__file__).parent
    hits = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                a = node.args
                names = [x.arg for x in a.posonlyargs + a.args + a.kwonlyargs]
                if rel.startswith("sources/") and "engine" in names:
                    hits.append((rel, node.name, "engine="))
                if node.name in GONE or node.name.startswith("fsspec_"):
                    hits.append((rel, node.name, "def"))
            elif (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "format"
                and any(
                    isinstance(x, ast.Constant)
                    and str(x.value).lower() == "binaryfile"
                    for x in node.args
                )
            ):
                hits.append((rel, node.lineno, "binaryFile"))
            elif isinstance(node, (ast.Import, ast.ImportFrom)):
                mods = [getattr(node, "module", None) or ""]
                mods += [x.name for x in node.names]
                if any(m.split(".")[0] == "fsspec" for m in mods):
                    hits.append((rel, node.lineno, "fsspec"))
    assert not hits, hits
