"""Plan inspection helpers: programmatic checks that the physical plan
has the shape you'd want at 100 TB — filters pushed to the scan, scans
pruned to the projected columns, small dims broadcast, no accidental
shuffles.  Used by tests/test_plans.py and handy at a REPL."""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

__all__ = [
    "physical_plan",
    "pushed_filters",
    "read_schemas",
    "num_shuffles",
    "num_broadcast_joins",
    "num_sortmerge_joins",
    "plan_report",
]


def physical_plan(df: DataFrame) -> str:
    """Initial executed plan string (pre-AQE re-optimization).  Raises
    the metadata truncation limit so PushedFilters/ReadSchema survive."""
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.maxMetadataStringLength", "100")
    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    try:
        return df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", prev)


def _pushed_filters(p: str) -> list[str]:
    return re.findall(r"PushedFilters: \[([^\]]*)\]", p)


def _read_schemas(p: str) -> list[str]:
    # greedy-to-line-end so NESTED structs keep their inner '>'s
    return re.findall(r"ReadSchema: struct<(.*)>", p)


def _num_shuffles(p: str) -> int:
    # every non-broadcast Exchange: hash, range, single-partition,
    # round-robin — they all move data
    return len(re.findall(r"(?<!Broadcast)Exchange ", p))


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters lists from every file scan in the plan."""
    return _pushed_filters(physical_plan(df))


def read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema structs from every file scan (column pruning proof)."""
    return _read_schemas(physical_plan(df))


def num_shuffles(df: DataFrame) -> int:
    """Hash/range shuffle exchanges only — the data-redistribution
    shuffles plan tests pin; single-partition/round-robin exchanges
    are counted by plan_report's broader 'shuffles' metric."""
    p = physical_plan(df)
    return p.count("Exchange hashpartitioning") + p.count(
        "Exchange rangepartitioning"
    )


def num_broadcast_joins(df: DataFrame) -> int:
    return physical_plan(df).count("BroadcastHashJoin")


def num_sortmerge_joins(df: DataFrame) -> int:
    return physical_plan(df).count("SortMergeJoin")


def plan_report(df: DataFrame) -> dict:
    """One-call plan health summary — the numbers to eyeball after
    writing any operator ("is this the plan I'd want at 100x the
    data?"): shuffle count, scan count + pruned schemas + pushed
    filters, join strategies, and whether Python execution
    (UDF/pandas/mapInPandas) sits in the plan.  All derived from ONE
    plan render."""
    p = physical_plan(df)
    return {
        "shuffles": _num_shuffles(p),
        "scans": len(re.findall(r"Scan \w+", p)),
        "read_schemas": _read_schemas(p),
        "pushed_filters": _pushed_filters(p),
        "broadcast_joins": p.count("BroadcastHashJoin"),
        "shuffle_hash_joins": p.count("ShuffledHashJoin"),
        "sortmerge_joins": p.count("SortMergeJoin"),
        # NB: under AQE the pre-execution plan carries no codegen
        # markers (stages finalize at runtime), so span counting would
        # always read 0 — report the AQE wrapper instead
        "aqe": "AdaptiveSparkPlan" in p,
        "python_exec": bool(re.search(r"(BatchEvalPython|ArrowEvalPython|"
                                      r"MapIn(Pandas|Arrow)|FlatMapGroupsInPandas)", p)),
        "take_ordered": "TakeOrderedAndProject" in p,
    }
