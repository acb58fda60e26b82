"""Exact no-sort quantiles: DuckDB quantile_disc parity, forced deep
refinement, duplicate-heavy and degenerate-interval paths, and the
no-global-sort plan property."""

import duckdb
import pytest

from pyspark.sql import functions as F

from zeek_duckdb_spark.operators.quantiles import (
    exact_quantiles,
    exact_quantiles_df,
    exact_quantiles_grouped,
    filter_by_quantile,
)

SF = "/root/testdata/sf0.001"
QS = [0.0, 0.01, 0.25, 0.5, 0.75, 0.9, 0.999, 1.0]


@pytest.fixture(scope="module")
def li(spark):
    return spark.read.parquet(f"{SF}/lineitem.parquet")


def _duck(col, qs=QS):
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW li AS SELECT * FROM "
        f"read_parquet('{SF}/lineitem.parquet')"
    )
    lst = ", ".join(str(q) for q in qs)
    return [
        float(v)
        for (v,) in con.sql(
            f"SELECT unnest(quantile_disc(CAST({col} AS DOUBLE), [{lst}])) "
            "FROM li"
        ).fetchall()
    ]


def test_matches_duckdb_quantile_disc_continuousish(spark, li):
    assert exact_quantiles(li, "l_extendedprice", QS) == _duck("l_extendedprice")


def test_matches_duckdb_on_duplicate_heavy_ints(spark, li):
    # l_linenumber has ~7 distinct values -> every bucket pass lands in
    # fat duplicate runs
    assert exact_quantiles(li, "l_linenumber", QS) == _duck("l_linenumber")
    assert exact_quantiles(li, "l_quantity", QS) == _duck("l_quantity")


def test_forced_deep_refinement_same_answers(spark, li):
    # leaf_limit=1 + buckets=2 forces the binary-descent worst case —
    # answers must not move (exactness is pass-count independent)
    want = _duck("l_extendedprice", [0.5, 0.9])
    got = exact_quantiles(
        li, "l_extendedprice", [0.5, 0.9], buckets=2, leaf_limit=1,
        max_passes=64,
    )
    assert got == want


@pytest.mark.slow
def test_negative_and_constant_columns(spark):
    sp = [(float(v),) for v in [-5, -1, -1, -1, 0, 2, 2, 9]]
    df = spark.createDataFrame(sp, "x double")
    vals = exact_quantiles(df, "x", [0.0, 0.5, 1.0], leaf_limit=1)
    assert vals == [-5.0, -1.0, 9.0]
    const = spark.createDataFrame([(3.5,)] * 10, "x double")
    assert exact_quantiles(const, "x", [0.0, 0.37, 1.0]) == [3.5, 3.5, 3.5]


def test_nulls_ignored_and_validation(spark, li):
    withnull = li.select(
        F.when(F.col("l_linenumber") > 1, F.col("l_extendedprice")).alias("x")
    )
    n = withnull.filter(F.col("x").isNotNull()).count()
    got = exact_quantiles(withnull, "x", [0.5])
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW li AS SELECT * FROM read_parquet('{SF}/lineitem.parquet')"
    )
    want = float(
        con.sql(
            "SELECT quantile_disc(CAST(l_extendedprice AS DOUBLE), 0.5) "
            "FROM li WHERE l_linenumber > 1"
        ).fetchone()[0]
    )
    assert n > 0 and got == [want]
    with pytest.raises(ValueError, match="qs is empty"):
        exact_quantiles(li, "l_quantity", [])
    with pytest.raises(ValueError, match="outside"):
        exact_quantiles(li, "l_quantity", [1.5])
    with pytest.raises(ValueError, match="buckets"):
        exact_quantiles(li, "l_quantity", [0.5], buckets=1)
    with pytest.raises(ValueError, match="no non-NULL"):
        exact_quantiles(
            li.select(F.lit(None).cast("double").alias("x")), "x", [0.5]
        )
    with pytest.raises(ValueError, match="NaN"):
        exact_quantiles(
            spark.createDataFrame(
                [(1.0,), (float("nan"),)], "x double"
            ),
            "x",
            [0.5],
        )


def test_df_form_and_shape(spark, li):
    out = exact_quantiles_df(li, "l_quantity", [0.25, 0.75])
    rows = out.collect()
    assert [r.q for r in rows] == [0.25, 0.75]
    assert [r.value for r in rows] == _duck("l_quantity", [0.25, 0.75])


def test_no_global_sort_in_any_pass(spark, li):
    # the whole point: the histogram pass is agg-only — no
    # RangePartitioning (orderBy) anywhere in its plan
    src = li.select(F.col("l_extendedprice").cast("double").alias("__x"))
    aggs = [
        F.sum(F.when((F.col("__x") >= 10.0) & (F.col("__x") < 20.0), 1)
              .otherwise(0)).alias("b0")
    ]
    plan = src.agg(*aggs)._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in plan.lower()
    assert "Sort" not in plan


def _py_weighted_disc(pairs, qs):
    # reference: quantile_disc over the weight-expanded multiset
    pairs = sorted((v, w) for v, w in pairs if w > 0)
    n = sum(w for _, w in pairs)
    out = []
    for q in qs:
        import math

        r = max(1, math.ceil(q * n))
        cum = 0
        for v, w in pairs:
            cum += w
            if cum >= r:
                out.append(float(v))
                break
    return out


@pytest.mark.slow
def test_weighted_matches_multiset_expansion(spark):
    import random

    rng = random.Random(11)
    pairs = [(rng.randint(-50, 50) / 4.0, rng.randint(0, 9)) for _ in range(400)]
    df = spark.createDataFrame(pairs, "x double, w int")
    qs = [0.0, 0.1, 0.5, 0.9, 1.0]
    got = exact_quantiles(df, "x", qs, weight_col="w", leaf_limit=8)
    assert got == _py_weighted_disc(pairs, qs)
    # and DuckDB agrees on the expanded multiset
    con = duckdb.connect()
    con.execute("CREATE TABLE t (x DOUBLE, w INT)")
    con.executemany("INSERT INTO t VALUES (?, ?)", pairs)
    lst = ", ".join(str(q) for q in qs)
    want = [
        float(v)
        for (v,) in con.sql(
            "SELECT unnest(quantile_disc(x, [" + lst + "])) FROM "
            "(SELECT x FROM t JOIN range(10) r ON r.range < t.w)"
        ).fetchall()
    ]
    assert got == want


def test_weighted_reduces_to_unweighted_and_validates(spark, li):
    ones = li.withColumn("one", F.lit(1))
    assert exact_quantiles(
        ones, "l_quantity", [0.25, 0.75], weight_col="one"
    ) == exact_quantiles(li, "l_quantity", [0.25, 0.75])
    with pytest.raises(ValueError, match="integral"):
        exact_quantiles(
            li.withColumn("fw", F.lit(0.5)), "l_quantity", [0.5],
            weight_col="fw",
        )
    with pytest.raises(ValueError, match="negative"):
        exact_quantiles(
            li.withColumn("nw", F.lit(-1)), "l_quantity", [0.5],
            weight_col="nw",
        )


def _duck_grouped(group, col, qs, where="1=1"):
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW li AS SELECT * FROM "
        f"read_parquet('{SF}/lineitem.parquet')"
    )
    lst = ", ".join(str(q) for q in qs)
    return sorted(
        (g, float(q), float(v))
        for g, q, v in con.sql(
            f"SELECT {group}, CAST(unnest([{lst}]) AS DOUBLE),"
            f" unnest(quantile_disc(CAST({col} AS DOUBLE), [{lst}]))"
            f" FROM li WHERE {where} GROUP BY {group}"
        ).fetchall()
    )


def test_grouped_matches_duckdb_group_by(spark, li):
    qs = [0.01, 0.5, 0.99]
    got = sorted(
        (r[0], r.q, r.value)
        for r in exact_quantiles_grouped(
            li, "l_extendedprice", qs, "l_returnflag"
        ).collect()
    )
    assert got == _duck_grouped("l_returnflag", "l_extendedprice", qs)
    # int group key + duplicate-heavy value column
    got2 = sorted(
        (r[0], r.q, r.value)
        for r in exact_quantiles_grouped(
            li, "l_quantity", [0.0, 0.5, 1.0], "l_linenumber"
        ).collect()
    )
    assert got2 == _duck_grouped("l_linenumber", "l_quantity", [0.0, 0.5, 1.0])


@pytest.mark.slow
def test_grouped_forced_deep_and_null_group(spark, li):
    # NULL group key is a real group (DuckDB GROUP BY semantics);
    # tiny leaf + buckets=2 forces the slow joint-descent path
    src = li.select(
        F.when(F.col("l_linenumber") > 2, F.col("l_returnflag")).alias("g"),
        F.col("l_extendedprice").alias("x"),
    )
    got = sorted(
        ((r[0] if r[0] is not None else "<null>"), r.q, r.value)
        for r in exact_quantiles_grouped(
            src, "x", [0.5], "g", buckets=2, leaf_limit=1, max_passes=64
        ).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW li AS SELECT * FROM read_parquet('{SF}/lineitem.parquet')"
    )
    want = sorted(
        ((g if g is not None else "<null>"), 0.5, float(v))
        for g, v in con.sql(
            "SELECT CASE WHEN l_linenumber > 2 THEN l_returnflag END AS g,"
            " quantile_disc(CAST(l_extendedprice AS DOUBLE), 0.5)"
            " FROM li GROUP BY 1"
        ).fetchall()
    )
    assert got == want


def test_grouped_weighted_and_all_null_group_dropped(spark):
    rows = [
        ("a", 1.0, 3), ("a", 2.0, 1), ("a", 10.0, 1),
        ("b", 5.0, 2), ("b", 7.0, 0),
        ("c", None, 4),          # all-NULL column -> group dropped
        ("d", 4.0, 0),           # all zero-weight -> dropped
    ]
    df = spark.createDataFrame(rows, "g string, x double, w int")
    got = sorted(
        (r.g, r.q, r.value)
        for r in exact_quantiles_grouped(
            df, "x", [0.5, 1.0], "g", weight_col="w", leaf_limit=1
        ).collect()
    )
    # a: multiset [1,1,1,2,10] -> p50 rank 3 = 1.0, p100 = 10.0
    # b: [5,5] -> 5.0, 5.0
    assert got == [
        ("a", 0.5, 1.0), ("a", 1.0, 10.0),
        ("b", 0.5, 5.0), ("b", 1.0, 5.0),
    ]


def test_grouped_validation_and_guards(spark, li):
    with pytest.raises(ValueError, match="qs is empty"):
        exact_quantiles_grouped(li, "l_quantity", [], "l_returnflag")
    with pytest.raises(ValueError, match="max_groups"):
        exact_quantiles_grouped(
            li, "l_extendedprice", [0.5], "l_orderkey", max_groups=10
        )
    with pytest.raises(ValueError, match="NaN"):
        exact_quantiles_grouped(
            spark.createDataFrame(
                [("a", 1.0), ("a", float("nan"))], "g string, x double"
            ),
            "x", [0.5], "g",
        )
    with pytest.raises(ValueError, match="integral"):
        exact_quantiles_grouped(
            li.withColumn("fw", F.lit(0.5)), "l_quantity", [0.5],
            "l_returnflag", weight_col="fw",
        )


def test_grouped_shuffle_strategy_parity_and_auto(spark, li):
    # many-modest-groups regime: the shuffle (groupBy-applyInPandas)
    # plan must agree exactly with the refine plan AND DuckDB.  20
    # groups pick the shuffle plan; a shuffle_group_cap below the
    # largest group's mass picks refine over the same groups.
    li20 = li.withColumn("gk", F.pmod(F.col("l_orderkey"), F.lit(20)))
    qs = [0.1, 0.5, 0.9]
    ref = sorted(
        (r.gk, r.q, r.value)
        for r in exact_quantiles_grouped(
            li20, "l_extendedprice", qs, "gk", shuffle_group_cap=1
        ).collect()
    )
    shf = sorted(
        (r.gk, r.q, r.value)
        for r in exact_quantiles_grouped(
            li20, "l_extendedprice", qs, "gk"
        ).collect()
    )
    assert shf == ref
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW li AS SELECT * FROM read_parquet('{SF}/lineitem.parquet')"
    )
    lst = ", ".join(str(q) for q in qs)
    want = sorted(
        (g, float(q), float(v))
        for g, q, v in con.sql(
            f"SELECT l_orderkey % 20, CAST(unnest([{lst}]) AS DOUBLE),"
            f" unnest(quantile_disc(CAST(l_extendedprice AS DOUBLE), [{lst}]))"
            " FROM li GROUP BY 1"
        ).fetchall()
    )
    assert shf == want
    # auto dispatch: > 16 groups -> the Arrow groupBy-apply plan;
    # few groups -> refine (driver-computed local result)
    auto_plan = (
        exact_quantiles_grouped(li20, "l_extendedprice", qs, "gk")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "FlatMapGroupsInPandas" in auto_plan
    few_plan = (
        exact_quantiles_grouped(li, "l_extendedprice", qs, "l_returnflag")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "FlatMapGroupsInPandas" not in few_plan
    capped_plan = (
        exact_quantiles_grouped(
            li20, "l_extendedprice", qs, "gk", shuffle_group_cap=1
        )._jdf.queryExecution().executedPlan().toString()
    )
    assert "FlatMapGroupsInPandas" not in capped_plan


def test_grouped_shuffle_weighted_parity(spark):
    import random

    rng = random.Random(23)
    rows = [
        (f"g{rng.randint(0, 29)}", rng.randint(-40, 40) / 8.0,
         rng.randint(0, 5))
        for _ in range(600)
    ]
    df = spark.createDataFrame(rows, "g string, x double, w int")
    qs = [0.0, 0.5, 1.0]
    a = sorted(
        (r.g, r.q, r.value)
        for r in exact_quantiles_grouped(
            df, "x", qs, "g", weight_col="w"
        ).collect()
    )
    b = sorted(
        (r.g, r.q, r.value)
        for r in exact_quantiles_grouped(
            df, "x", qs, "g", weight_col="w", shuffle_group_cap=1,
            leaf_limit=4,
        ).collect()
    )
    assert a == b


def test_grouped_no_corpus_shuffle_per_pass(spark, li):
    # the refinement pass's only exchange is the (group, target,
    # bucket) counter aggregate — the corpus side must reach the join
    # without an exchange (broadcast), and no RangePartitioning
    # anywhere
    src = li.select(
        F.col("l_returnflag").alias("__g"),
        F.col("l_extendedprice").cast("double").alias("__x"),
        F.lit(1).cast("long").alias("__w"),
    )
    ivals = F.broadcast(spark.createDataFrame(
        [("A", 0, 0, 1.0, 2.0, True)],
        "__eg string, __egi int, __eti int, __lo double, __hi double, "
        "__top boolean",
    ))
    plan = (
        src.join(ivals, on=F.col("__g").eqNullSafe(F.col("__eg")))
        .groupBy("__egi", "__eti")
        .agg(F.sum("__w").alias("cnt"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "rangepartitioning" not in plan.lower()


def test_filter_by_quantile_gate(spark, li):
    # cap above p90: survivors == DuckDB's <= quantile_disc(0.9) set,
    # and the boundary element itself is kept
    p90 = _duck("l_extendedprice", [0.9])[0]
    kept = filter_by_quantile(li, "l_extendedprice", 0.9, keep="below")
    mx = kept.agg(F.max(F.col("l_extendedprice").cast("double"))).first()[0]
    assert float(mx) == p90
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW li AS SELECT * FROM read_parquet('{SF}/lineitem.parquet')"
    )
    want = con.sql(
        "SELECT COUNT(*) FROM li WHERE CAST(l_extendedprice AS DOUBLE) <= "
        "(SELECT quantile_disc(CAST(l_extendedprice AS DOUBLE), 0.9) FROM li)"
    ).fetchone()[0]
    assert kept.count() == want
    # keep='above' drops the worst decile
    floor = filter_by_quantile(li, "l_extendedprice", 0.1, keep="above")
    mn = floor.agg(F.min(F.col("l_extendedprice").cast("double"))).first()[0]
    assert float(mn) == _duck("l_extendedprice", [0.1])[0]
    with pytest.raises(ValueError, match="keep"):
        filter_by_quantile(li, "l_extendedprice", 0.5, keep="between")
    # the gate is a plain comparison on the source scan: pushdown-able
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan


def test_infinities_rejected_and_extreme_range_converges(spark):
    # inf values poison bucket edges -> reject like NaN (regression:
    # previously burned the pass budget, or collected the whole
    # distinct set)
    with pytest.raises(ValueError, match="NaN/inf"):
        exact_quantiles(
            spark.createDataFrame(
                [(1.0,), (float("inf"),)], "x double"
            ),
            "x", [0.5],
        )
    with pytest.raises(ValueError, match="NaN/inf"):
        exact_quantiles_grouped(
            spark.createDataFrame(
                [("a", float("-inf"))], "g string, x double"
            ),
            "x", [0.5], "g",
        )
    # finite endpoints whose RANGE overflows a double (hi - lo = inf):
    # the convex-combination edges must keep every pass finite
    big = 1.7e308
    df = spark.createDataFrame(
        [(-big,), (0.0,), (big,)], "x double"
    )
    assert exact_quantiles(df, "x", [0.0, 0.5, 1.0]) == [-big, 0.0, big]


@pytest.mark.slow
def test_duplicate_mass_at_zero_exceeding_leaf_limit(spark):
    # five copies of 0.0 with leaf_limit=1: bisection toward 0.0 can
    # shrink the interval for hundreds of passes (float resolution
    # near 0 is unbounded) without shedding a row — the stall counter
    # must route to the distinct-value fallback instead of burning
    # the pass budget (regression)
    df = spark.createDataFrame(
        [(0.0,)] * 5 + [(1.0,), (2.0,)], "x double"
    )
    assert exact_quantiles(df, "x", [0.5], leaf_limit=1) == [0.0]
    gdf = spark.createDataFrame(
        [("a", 0.0)] * 5 + [("a", 1.0), ("b", 3.0)], "g string, x double"
    )
    got = sorted(
        (r.g, r.q, r.value)
        for r in exact_quantiles_grouped(
            gdf, "x", [0.5], "g", leaf_limit=1
        ).collect()
    )
    assert got == [("a", 0.5, 0.0), ("b", 0.5, 3.0)]


def test_weighted_huge_weight_degenerate_path(spark):
    # one row carries 10^9 weight — the weight-mass leaf trigger never
    # fires, the degenerate distinct fallback must resolve it
    df = spark.createDataFrame(
        [(1.0, 1), (2.0, 1_000_000_000), (3.0, 1)], "x double, w int"
    )
    assert exact_quantiles(
        df, "x", [0.5], weight_col="w", leaf_limit=10
    ) == [2.0]


# ---- property-based: random multisets, stressed descent ------------
import math as _math

from hypothesis import given, settings
from hypothesis import strategies as st

_val_st = st.one_of(
    st.integers(min_value=-50, max_value=50).map(lambda v: v / 8.0),
    st.sampled_from([0.0, -0.0, 1e-12, -1e-12, 37.5]),
)


def _py_disc(vals, qs):
    vals = sorted(vals)
    return [vals[max(1, _math.ceil(q * len(vals))) - 1] for q in qs]


@settings(max_examples=8, deadline=None)
@given(
    vals=st.lists(_val_st, min_size=1, max_size=120),
    qs=st.lists(
        st.floats(min_value=0.0, max_value=1.0, allow_nan=False),
        min_size=1,
        max_size=4,
    ),
    leaf=st.integers(min_value=1, max_value=8),
    parts=st.integers(min_value=1, max_value=5),
)
@pytest.mark.slow
def test_property_exact_quantiles_any_multiset(spark, vals, qs, leaf, parts):
    """For ANY multiset (duplicate-heavy, +-0.0, denormal-adjacent),
    ANY targets, tiny leaf limits, and any partitioning: the answers
    equal the sorted-multiset PERCENTILE_DISC reference (the stall
    guard must always converge)."""
    df = spark.createDataFrame([(float(v),) for v in vals], "x double")
    got = exact_quantiles(
        df.repartition(parts), "x", qs, buckets=4, leaf_limit=leaf,
        max_passes=64,
    )
    assert got == _py_disc(vals, qs)


@pytest.mark.slow
def test_outlier_skewed_interval_reanchors_instead_of_collecting(spark):
    """Review-fix regression: one extreme outlier (1e300) leaves the
    refinement hunting a [0, 1e300] interval whose mass all lives in
    [0, 1]; the stall must RE-ANCHOR to the members' [min, max] (one
    bounded agg) — the old path routed it into the distinct-value
    fallback, collecting ~every distinct value to the driver."""
    import duckdb

    n = 200_000
    df = spark.range(n).selectExpr(
        "CASE WHEN id = 0 THEN 1e300 ELSE id / 200000.0 END AS x"
    )
    got = exact_quantiles(df, "x", [0.25, 0.5, 0.99], leaf_limit=256)
    con = duckdb.connect()
    want = con.sql(
        f"SELECT quantile_disc(CASE WHEN range = 0 THEN 1e300 "
        f"ELSE range / 200000.0 END, [0.25, 0.5, 0.99]) "
        f"FROM range({n})"
    ).fetchone()[0]
    assert got == [float(v) for v in want]


@pytest.mark.slow
def test_reanchor_keeps_upper_bound_through_degenerate_path(spark):
    """Advice-fix regression: a stalled interval re-anchors to
    [mn, nextafter(mx)) with top=False — NOT (mn, mx, top=True), which
    re-admits every row above the original hi, so an edge collapse
    right after the re-anchor would route ALL rows >= mn into the
    distinct-value fallback.  Shape: the target mass sits on two
    ADJACENT doubles (degenerate immediately after re-anchor) with an
    extreme outlier above; answers must stay exact."""
    ulp = _math.nextafter(1.0, _math.inf)
    df = spark.createDataFrame(
        [(1.0,)] * 5 + [(ulp,)] * 5 + [(1e300,)], "x double"
    )
    # rank for q=0.5 over 11 rows = 6 -> the 6th sorted value = ulp
    assert exact_quantiles(df, "x", [0.5], leaf_limit=1) == [ulp]
    gdf = spark.createDataFrame(
        [("a", 1.0)] * 5 + [("a", ulp)] * 5 + [("a", 1e300), ("b", 7.0)],
        "g string, x double",
    )
    got = sorted(
        (r.g, r.value)
        for r in exact_quantiles_grouped(
            gdf, "x", [0.5], "g", leaf_limit=1
        ).collect()
    )
    assert got == [("a", ulp), ("b", 7.0)]
