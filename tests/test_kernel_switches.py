"""One kernel per operator: a ``kernel=`` switch survives only where a
measured crossover keeps two implementations, and no operator takes a
user-set ``verify_shape`` or ``strategy``: those picks are made from
the data's size (see SCALING.md "One kernel per operator")."""

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
