"""One kernel per operator: a ``kernel=`` switch survives only where a
measured crossover keeps two implementations, and no operator takes a
user-set ``verify_shape`` or ``strategy``: those picks are made from
the data's size (see SCALING.md "One kernel per operator").  The
vector operators cross the Python boundary only through Arrow
(``operators/arrowvec.py``), never through pandas."""

import ast
import pathlib

import zeek_duckdb_spark

KEPT = {"logreg_score", "filter_by_classifier"}


def _params_named(name):
    root = pathlib.Path(zeek_duckdb_spark.__file__).parent
    hits = set()
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                a = node.args
                names = [x.arg for x in a.posonlyargs + a.args + a.kwonlyargs]
                if name in names:
                    hits.add((rel, node.name))
    return hits


def test_only_the_kept_operators_take_a_kernel_parameter():
    hits = _params_named("kernel")
    assert {name for _, name in hits} == KEPT, sorted(hits)


def test_no_operator_takes_a_verify_shape_parameter():
    hits = _params_named("verify_shape")
    assert not hits, sorted(hits)


def test_no_function_takes_a_strategy_parameter():
    hits = _params_named("strategy")
    assert not hits, sorted(hits)


VECTOR_MODULES = ("kmeans", "pq", "similarity", "pca", "classifier")
PANDAS_BOUNDARY = {"mapInPandas", "pandas_udf", "applyInPandas"}


def test_vector_operators_cross_the_boundary_through_arrow():
    root = pathlib.Path(zeek_duckdb_spark.__file__).parent / "operators"
    hits = []
    for mod in VECTOR_MODULES:
        tree = ast.parse((root / f"{mod}.py").read_text())
        for node in ast.walk(tree):
            name = getattr(node, "attr", None) or getattr(node, "id", None)
            if name in PANDAS_BOUNDARY:
                hits.append((mod, node.lineno, name))
        for node in tree.body:
            if isinstance(node, (ast.Import, ast.ImportFrom)):
                names = [a.name for a in node.names] + [getattr(node, "module", None)]
                if any(n and n.split(".")[0] == "pandas" for n in names):
                    hits.append((mod, node.lineno, "module-scope import pandas"))
    assert not hits, hits
