"""Exact distributed quantiles WITHOUT a global sort.

Why this exists next to the sketch percentiles
(``pipeline.corpus_profile``'s Greenwald-Khanna quantiles): training-
data pipelines routinely turn a quantile into a FILTER — "drop the
worst 10% by quality score", "cap documents above the p99 token
count" — and an approximate cutoff silently moves the gate by up to
the sketch's rank error (at 100 TB, GK at eps=1e-3 can misplace the
cutoff by ~1e8 rows).  When the cutoff must be exact, the classic
alternatives are a full sort (the one operation you never do to 100 TB
— ``orderBy`` is a range-partitioned global shuffle of the corpus) or
DuckDB-style ``quantile_disc`` (single-node).  This operator computes
EXACT discrete quantiles with a handful of aggregate-only passes:

1. one pass for (count, min, max, NaN guard);
2. iterative refinement: split each target's active value interval
   into ``buckets`` sub-ranges and take ONE conditional-count
   aggregate over all targets jointly (map-side combined; a
   B·|qs|-counter row to the driver — the corpus never shuffles);
   descend into the bucket holding the target rank;
3. once a target's interval holds <= ``leaf_limit`` rows, collect just
   those rows (one filtered collect shared by all leaf-ready targets)
   and index the answer exactly driver-side.

Bucket membership is HALF-OPEN on shared edge constants
(``x >= e_b AND x < e_b+1``, top interval unbounded above) and the
next pass's interval reuses the *same* predicates, so the rank
bookkeeping is exact no matter how edge arithmetic rounds — the
b-th bucket IS the next interval, bit for bit.  Intervals narrowed
below double resolution (edges collapse) fall back to a
distinct-value collect of the few remaining representable values;
intervals that STALL (shed no mass twice — edges far from the data,
e.g. one extreme outlier) re-anchor to their members' [min, max] with
one bounded aggregate instead.

Passes are O(log_buckets(range)) worst case but ``leaf_limit`` ends
the loop after 2-3 on real data.  Every pass is a full-scan aggregate
with zero shuffle width — the same plan class as ``df.agg(...)`` — so
the shape survives 100 TB: the corpus never moves, only O(B·|qs|)
counters per pass.

Semantics match DuckDB's ``quantile_disc`` (and ANSI
``PERCENTILE_DISC``): the returned value is an ELEMENT of the column —
the one whose 1-based rank among sorted non-null values is
``max(1, ceil(q * N))``.  NULLs are ignored; NaN is rejected up front
(engines disagree on NaN ordering).

No reference-engine counterpart (the reference is a log scanner);
training-data-pipeline operator family (SURVEY.md "beyond the
reference" track).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "exact_quantiles",
    "exact_quantiles_df",
    "exact_quantiles_grouped",
    "filter_by_quantile",
]


def _rank_for(q: float, n: int) -> int:
    """1-based target rank of quantile ``q`` over ``n`` rows —
    DuckDB/ANSI ``quantile_disc`` semantics."""
    return max(1, math.ceil(q * n))


def _member(lo: float, hi: float, top: bool) -> Column:
    """Interval membership: ``x >= lo AND (x < hi | top)`` — the exact
    predicate bucket counts were taken with."""
    m = F.col("__x") >= F.lit(lo)
    if not top:
        m = m & (F.col("__x") < F.lit(hi))
    return m


def _edges(lo: float, hi: float, buckets: int) -> list[float]:
    """Bucket edges as CONVEX COMBINATIONS lo*(1-t) + hi*t — never
    ``lo + b*(hi-lo)/buckets``, whose ``hi - lo`` overflows to inf for
    finite endpoints near +-DBL_MAX (the edges then go NaN and no
    histogram count can ever advance).  Each combination term is
    bounded by max(|lo|, |hi|) and opposite signs cancel, so edges
    stay finite for ANY finite interval.  Exactness never depends on
    WHERE the edges fall — the half-open shared-edge predicates do
    the bookkeeping — only on them being sorted, which the caller
    checks (floats keep convex combinations monotone up to ties; a
    tie or inversion routes to the degenerate fallback)."""
    return [
        lo * (1.0 - b / buckets) + hi * (b / buckets)
        for b in range(buckets)
    ] + [hi]


def exact_quantiles(
    df: DataFrame,
    col: str,
    qs: list[float],
    buckets: int = 64,
    leaf_limit: int = 65536,
    max_passes: int = 24,
    weight_col: str | None = None,
) -> list[float]:
    """Exact discrete quantiles of ``df[col]`` for every q in ``qs``
    (each in [0, 1]), returned in input order.  Driver-side result —
    quantiles are model-sized state, like centroids.

    ``weight_col`` (an INTEGRAL, non-negative column — e.g. a token
    count) switches to weighted quantiles with multiset semantics:
    the result is ``quantile_disc`` over the corpus where each row
    repeats ``weight`` times — "the doc length below which q of all
    TOKENS sit".  Integer weights keep every cumulative sum an exact
    int64, so the weighted path inherits the unweighted path's
    exactness (weight 1 everywhere IS the unweighted path);
    zero-weight rows can never be returned.

    ``buckets`` trades passes for aggregate width (B·|qs| conditional
    counts per pass); ``leaf_limit`` bounds the single exact collect
    (rows, not bytes — 65536 doubles is ~0.5 MB).  In weighted mode
    the leaf trigger compares WEIGHT mass (the quantity the passes
    count), so a few huge-weight rows may skip the leaf and resolve
    through the degenerate-interval distinct fallback instead — more
    passes, same exact answer.  Raises on an empty (all-NULL) column
    and on NaN values (no portable ordering).
    """
    if not qs:
        raise ValueError("exact_quantiles: qs is empty")
    for q in qs:
        if not 0.0 <= q <= 1.0:
            raise ValueError(f"exact_quantiles: q={q} outside [0, 1]")
    if buckets < 2:
        raise ValueError("exact_quantiles: buckets must be >= 2")
    if leaf_limit < 1:
        raise ValueError("exact_quantiles: leaf_limit must be >= 1")

    x = F.col(col).cast("double")
    if weight_col is None:
        src = df.select(x.alias("__x"), F.lit(1).cast("long").alias("__w"))
    else:
        wt = df.schema[weight_col].dataType.simpleString()
        if wt not in ("tinyint", "smallint", "int", "bigint"):
            raise ValueError(
                f"exact_quantiles: weight_col must be integral, got {wt}"
            )
        src = df.select(
            x.alias("__x"), F.col(weight_col).cast("long").alias("__w")
        )
    src = src.filter(F.col("__x").isNotNull())
    head = src.agg(
        F.sum(F.when(F.col("__w") > 0, F.col("__w")).otherwise(0)).alias("n"),
        F.min(F.when(F.col("__w") > 0, F.col("__x"))).alias("mn"),
        F.max(F.when(F.col("__w") > 0, F.col("__x"))).alias("mx"),
        F.sum(
            F.when(
                (F.col("__w") > 0)
                & (F.isnan("__x") | (F.abs(F.col("__x")) == float("inf"))),
                1,
            ).otherwise(0)
        ).alias("nans"),
        F.sum(F.when(F.col("__w") < 0, 1).otherwise(0)).alias("negw"),
    ).first()
    if int(head["nans"] or 0) > 0:
        raise ValueError(
            f"exact_quantiles: column {col!r} contains NaN/inf — filter "
            "first (non-finite values have no portable ordering, and "
            "infinite interval endpoints poison the bucket edges)"
        )
    if int(head["negw"] or 0) > 0:
        raise ValueError("exact_quantiles: negative weights")
    n = int(head["n"] or 0)
    if n == 0:
        if weight_col is None:
            raise ValueError(
                f"exact_quantiles: column {col!r} has no non-NULL rows"
            )
        raise ValueError(
            f"exact_quantiles: column {col!r} has no rows with positive "
            "weight"
        )
    src = src.filter(F.col("__w") > 0)
    mn, mx = float(head["mn"]), float(head["mx"])

    # per-target state: (lo, hi, top, rows_below_lo, rows_in_interval)
    targets = {i: _rank_for(q, n) for i, q in enumerate(qs)}
    state = {i: (mn, mx, True, 0, n) for i in targets}
    answers: dict[int, float] = {}
    # consecutive passes with unchanged (below, mass): the interval
    # shrank 64x without shedding a row — either the mass concentrates
    # on (near-)duplicates or the edges sit far from the data (one
    # outlier stretches the interval across empty space); two stalls
    # re-anchor the interval to the members' [min, max] (one bounded
    # agg), after which bisection resumes productively
    stalls = {i: 0 for i in targets}
    if mn == mx:
        return [mn for _ in qs]

    passes = 0
    while len(answers) < len(qs):
        live = [i for i in targets if i not in answers]

        # leaf step: one shared collect for every small-enough target
        leafy = [i for i in live if state[i][4] <= leaf_limit]
        if leafy:
            cond = None
            for i in leafy:
                lo, hi, top, _, _ = state[i]
                c = _member(lo, hi, top)
                cond = c if cond is None else (cond | c)
            vals = sorted(
                (float(r["__x"]), int(r["__w"]))
                for r in src.filter(cond).collect()
            )
            for i in leafy:
                lo, hi, top, below, _ = state[i]
                cum = below
                for v, w in vals:
                    if v >= lo and (top or v < hi):
                        cum += w
                        if cum >= targets[i]:
                            answers[i] = v
                            break
            continue

        if passes >= max_passes:
            raise RuntimeError(
                "exact_quantiles: did not converge "
                f"(pass budget {max_passes}; raise leaf_limit)"
            )
        passes += 1

        # STALLED intervals (bisection shed nothing twice) re-anchor
        # to the members' actual [min, max] — one batched agg, never a
        # collect.  A stall means the interval's edges are far from
        # the data (one extreme outlier leaves [0, 1e300] hunting for
        # mass that all lives in [0, 1]); re-anchoring collapses the
        # interval to the data's true span and bisection resumes
        # productively.  The member SET is unchanged (every member of
        # [lo, hi) lies in [mn, mx], inclusive), so below/mass carry
        # over exactly.  The old behavior — routing stalls into the
        # distinct-value fallback — collected an UNBOUNDED value set
        # when the stall came from a wide interval rather than from
        # duplicates (driver OOM on outlier-skewed columns).
        stalled = [
            i
            for i in live
            if stalls[i] >= 2
            and (lambda e: len(set(e)) >= 3 and e == sorted(e))(
                _edges(state[i][0], state[i][1], buckets)
            )
        ]
        if stalled:
            saggs = []
            for j, i in enumerate(stalled):
                lo, hi, top, _, _ = state[i]
                m = _member(lo, hi, top)
                saggs.append(F.min(F.when(m, F.col("__x"))).alias(f"mn{j}"))
                saggs.append(F.max(F.when(m, F.col("__x"))).alias(f"mx{j}"))
            srow = src.agg(*saggs).first()
            for j, i in enumerate(stalled):
                mn = float(srow[f"mn{j}"])
                mx = float(srow[f"mx{j}"])
                _, _, _, below, mass = state[i]
                if mn == mx:
                    answers[i] = mn
                else:
                    # re-anchor to [mn, nextafter(mx)) with top=False:
                    # the member set is EXACTLY the old interval's
                    # members ([mn, mx] inclusive).  top=True would
                    # drop the upper bound and re-admit every row
                    # above the original hi — inflating the top-bucket
                    # mass and, if edges collapse right after the
                    # re-anchor, routing ALL rows >= mn into the
                    # distinct-value fallback (the unbounded collect
                    # this path exists to avoid).
                    state[i] = (
                        mn, math.nextafter(mx, math.inf), False,
                        below, mass,
                    )
                stalls[i] = 0
            continue

        # degenerate intervals (edges no longer split in doubles): the
        # handful of representable values left resolve via a
        # distinct-value count, whatever their duplication — ONE
        # batched pass for all of them, not one corpus scan per
        # target; bounded by construction (a non-splittable interval
        # holds only a few representable doubles)
        plans: dict[tuple[float, float, bool], list[float]] = {}
        targets_of: dict[tuple[float, float, bool], list[int]] = {}
        degen: list[int] = []
        aggs = []
        for i in live:
            lo, hi, top, _, _ = state[i]
            edges = _edges(lo, hi, buckets)
            if len(set(edges)) < 3 or edges != sorted(edges):
                degen.append(i)
                continue
            # targets sharing an interval (always true on pass 1)
            # share ONE histogram — don't recount per target
            ik = (lo, hi, top)
            if ik in plans:
                targets_of[ik].append(i)
                continue
            plans[ik] = edges
            targets_of[ik] = [i]
            j = len(plans) - 1
            for b in range(buckets):
                m = F.col("__x") >= F.lit(edges[b])
                if not (top and b == buckets - 1):
                    m = m & (F.col("__x") < F.lit(edges[b + 1]))
                aggs.append(
                    F.sum(F.when(m, F.col("__w")).otherwise(0)).alias(
                        f"t{j}_b{b}"
                    )
                )
        if degen:
            cond = None
            for i in degen:
                lo, hi, top, _, _ = state[i]
                c = _member(lo, hi, top)
                cond = c if cond is None else (cond | c)
            gv = sorted(
                (float(r["__x"]), int(r["cnt"]))
                for r in src.filter(cond)
                .groupBy("__x")
                .agg(F.sum("__w").alias("cnt"))
                .collect()
            )
            for i in degen:
                lo, hi, top, below, _ = state[i]
                cum = below
                for v, cnt in gv:
                    if v >= lo and (top or v < hi):
                        if cum + cnt >= targets[i]:
                            answers[i] = v
                            break
                        cum += cnt
        if not aggs:
            continue
        row = src.agg(*aggs).first()
        for j, (ik, edges) in enumerate(plans.items()):
            for i in targets_of[ik]:
                lo, hi, top, below, mass = state[i]
                r = targets[i]
                cum = below
                for b in range(buckets):
                    cnt = int(row[f"t{j}_b{b}"])
                    if cum + cnt >= r:
                        stalls[i] = (
                            stalls[i] + 1
                            if (cum, cnt) == (below, mass)
                            else 0
                        )
                        state[i] = (
                            edges[b],
                            edges[b + 1],
                            top and b == buckets - 1,
                            cum,
                            cnt,
                        )
                        break
                    cum += cnt
    return [answers[i] for i in range(len(qs))]


def exact_quantiles_df(
    df: DataFrame,
    col: str,
    qs: list[float],
    buckets: int = 64,
    leaf_limit: int = 65536,
    weight_col: str | None = None,
) -> DataFrame:
    """(q, value) DataFrame form of :func:`exact_quantiles` — the
    harness/oracle shape (restated by DuckDB's
    ``unnest(quantile_disc(col, [...]))``)."""
    vals = exact_quantiles(
        df, col, qs, buckets=buckets, leaf_limit=leaf_limit,
        weight_col=weight_col,
    )
    spark = df.sparkSession
    return spark.createDataFrame(
        [(float(q), float(v)) for q, v in zip(qs, vals)], "q double, value double"
    )


# the arrow refine kernel ships its interval table as a task closure:
# cap it so a forced-refine call over thousands of groups cannot build
# a multi-MB closure (beyond the cap the broadcast-join path serves,
# which scales to max_groups by construction)
_REFINE_ARROW_MAX_INTERVALS = 256


def _arrow_group_ok(dtype) -> bool:
    """Group-key types the arrow refine kernel matches EXACTLY across
    the boundary: strings, integrals, booleans and dates survive the
    Arrow round-trip with value identity (pa.scalar equality == Spark
    eqNullSafe for non-null keys; nulls matched via is_null).  Floats
    (NaN keys), timestamps (tz reinterpretation) and decimals fall
    back to the join path rather than risk a silent key mismatch."""
    import pyspark.sql.types as T

    return isinstance(
        dtype,
        (
            T.StringType,
            T.ByteType,
            T.ShortType,
            T.IntegerType,
            T.LongType,
            T.BooleanType,
            T.DateType,
        ),
    )


def _refine_hist_arrow(
    src: DataFrame,
    iks: list[tuple[int, float, float, bool]],
    ip: dict[tuple[int, float, float, bool], list[float]],
    buckets: int,
    gvals: list,
) -> dict[int, dict[int, int]]:
    """One joint-refinement histogram pass, vectorized (guide
    §4.1/§4.2): ship ONLY (__g, __x, __w) through Arrow and compute
    each interval's bucket counts as one ``np.searchsorted`` +
    ``np.add.at`` per batch — the JVM alternative evaluates an
    interpreted per-row ``aggregate()`` fold over the edge array
    (CodegenFallback, one lambda eval per edge per row).

    Exactness is preserved bit-for-bit: ``searchsorted(edges, x,
    'right') - 1`` equals ``count(edges <= x) - 1`` over the same
    float64 edge constants (the predicates the next interval reuses),
    and the histogram accumulates in int64 (``np.add.at``), never
    float.  ``mapInArrow`` (not pandas) so integral group keys keep
    their exact values — pandas would widen nullable int64 to float64
    and corrupt keys past 2^53."""
    import numpy as np

    table: dict = {}
    for ii, (gi, lo, hi, top) in enumerate(iks):
        edges = np.asarray(ip[(gi, lo, hi, top)][:buckets], dtype=np.float64)
        table.setdefault(gvals[gi], []).append((ii, lo, hi, top, edges))
    items = list(table.items())
    nb = int(buckets)

    def fn(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        out_schema = pa.schema(
            [
                pa.field("__eti", pa.int32()),
                pa.field("__b", pa.int32()),
                pa.field("cnt", pa.int64()),
            ]
        )
        for rb in batches:
            g = rb.column(0)
            x = rb.column(1).to_numpy(zero_copy_only=False)
            w = rb.column(2).to_numpy(zero_copy_only=False)
            out_ii: list = []
            out_b: list = []
            out_c: list = []
            for gval, ivs in items:
                if gval is None:
                    gm = pc.is_null(g).to_numpy(zero_copy_only=False)
                else:
                    eq = pc.equal(g, pa.scalar(gval, type=g.type))
                    gm = pc.fill_null(eq, False).to_numpy(
                        zero_copy_only=False
                    )
                gm = gm.astype(bool, copy=False)
                if not gm.any():
                    continue
                xs_g = x[gm]
                ws_g = w[gm]
                for ii, lo, hi, top, edges in ivs:
                    m = xs_g >= lo
                    if not top:
                        m &= xs_g < hi
                    xs = xs_g[m]
                    if xs.size == 0:
                        continue
                    b = np.searchsorted(edges, xs, side="right") - 1
                    cnt = np.zeros(nb, dtype=np.int64)
                    np.add.at(cnt, b, ws_g[m])
                    nz = np.nonzero(cnt)[0]
                    out_ii.extend([ii] * len(nz))
                    out_b.extend(int(v) for v in nz)
                    out_c.extend(int(v) for v in cnt[nz])
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(out_ii, type=pa.int32()),
                    pa.array(out_b, type=pa.int32()),
                    pa.array(out_c, type=pa.int64()),
                ],
                schema=out_schema,
            )

    part = src.select("__g", "__x", "__w").mapInArrow(
        fn, schema="__eti int, __b int, cnt long"
    )
    counts = (
        part.groupBy("__eti", "__b").agg(F.sum("cnt").alias("cnt")).collect()
    )
    hist: dict[int, dict[int, int]] = {ii: {} for ii in range(len(iks))}
    for r in counts:
        hist[int(r["__eti"])][int(r["__b"])] = int(r["cnt"])
    return hist


def exact_quantiles_grouped(
    df: DataFrame,
    col: str,
    qs: list[float],
    group_col: str,
    buckets: int = 64,
    leaf_limit: int = 8192,
    max_passes: int = 24,
    weight_col: str | None = None,
    max_groups: int = 100_000,
    leaf_rows_per_collect: int = 1 << 22,
    shuffle_group_cap: int = 50_000_000,
) -> DataFrame:
    """Per-group exact discrete quantiles — DuckDB's
    ``SELECT g, quantile_disc(x, [...]) ... GROUP BY g`` without a
    global sort OR a per-group sort: ALL groups refine JOINTLY, so the
    pass count is that of the slowest group, not the group count.
    Returns a DataFrame ``(group_col, q, value)`` ordered by group
    then q; groups whose column is all-NULL (or all zero-weight) are
    dropped, matching ``unnest(quantile_disc(...))`` emitting nothing
    for a NULL list.

    This is the "per-language p99 cap" / "per-domain quality cutoff"
    shape: ``group_col`` must be BOUNDED cardinality (languages,
    domains after bucketing — guarded by ``max_groups``), because the
    per-group interval state lives on the driver like any model.

    TWO physical plans, because "grouped quantiles" is two different
    problems at scale; the per-group stats pass picks one (the 'shuffle'
    plan when there are > 16 groups and the largest group's weight mass
    is <= ``shuffle_group_cap``, else 'refine'):

    - 'refine' — FEW groups, each arbitrarily huge (the
      per-language cut at 100 TB, where one group cannot fit
      anywhere): joint histogram refinement.  Each pass is one
      broadcast join of the (live-interval)-sized edges table onto
      the corpus scan followed by a (group, target, bucket)-wide
      partial aggregate — the corpus never shuffles; only
      ``live_intervals * buckets`` counter rows move.  Bucket
      membership reuses the EXACT half-open edge predicates of
      :func:`exact_quantiles` (the bucket index is
      ``count(edges <= x) - 1`` over the same edge constants), so
      rank bookkeeping stays float-exact.  Leaf collects are
      deduplicated per distinct interval and chunked so no single
      driver fetch exceeds ~``leaf_rows_per_collect`` weight mass.
    - 'shuffle' — MANY groups, each modest (per-domain
      cuts over 10^4-10^5 domains): ONE hash shuffle on the group
      key, then per-group exact ranks in an Arrow ``applyInPandas``
      kernel — nothing ever reaches the driver.  This is the plan
      the refine path must not be used for: with thousands of
      small groups its leaf step degenerates into collecting the
      whole corpus driver-side.  Requires each single group's rows
      to fit in an executor (the shuffle-partition invariant every
      groupBy-apply operator has), which ``shuffle_group_cap`` bounds.

    ``weight_col`` gives per-group WEIGHTED quantiles with the
    multiset semantics of :func:`exact_quantiles` on both paths.
    """
    if not qs:
        raise ValueError("exact_quantiles_grouped: qs is empty")
    for q in qs:
        if not 0.0 <= q <= 1.0:
            raise ValueError(
                f"exact_quantiles_grouped: q={q} outside [0, 1]"
            )
    if buckets < 2:
        raise ValueError("exact_quantiles_grouped: buckets must be >= 2")
    if leaf_limit < 1:
        raise ValueError("exact_quantiles_grouped: leaf_limit must be >= 1")

    spark = df.sparkSession
    gfield = df.schema[group_col]
    x = F.col(col).cast("double")
    if weight_col is None:
        w: Column = F.lit(1).cast("long")
    else:
        wt = df.schema[weight_col].dataType.simpleString()
        if wt not in ("tinyint", "smallint", "int", "bigint"):
            raise ValueError(
                "exact_quantiles_grouped: weight_col must be integral, "
                f"got {wt}"
            )
        w = F.col(weight_col).cast("long")
    src = (
        df.select(
            F.col(group_col).alias("__g"), x.alias("__x"), w.alias("__w")
        )
        .filter(F.col("__x").isNotNull())
    )

    # ONE per-group stats + validation pass (r16: this was two
    # separate full-corpus jobs — a global guard aggregate, then the
    # per-group heads collect; merged, the refine path reads the
    # corpus once less per call).  Driver safety is unchanged: the
    # collect is bounded by take(max_groups + 1) — a pushed limit, so
    # an over-cardinality group key returns max_groups+1 rows and
    # raises instead of flooding the driver — and the validation
    # counters are conditional aggregates inside the same job (the
    # NaN/negw checks see every group because over-cardinality raises
    # first).
    w_pos = F.col("__w") > 0
    grp_stats = (
        src.groupBy("__g")
        .agg(
            F.sum(F.when(w_pos, F.col("__w")).otherwise(0)).alias("n"),
            F.min(F.when(w_pos, F.col("__x"))).alias("mn"),
            F.max(F.when(w_pos, F.col("__x"))).alias("mx"),
            F.sum(
                F.when(
                    w_pos
                    & (
                        F.isnan("__x")
                        | (F.abs(F.col("__x")) == float("inf"))
                    ),
                    1,
                ).otherwise(0)
            ).alias("nans"),
            F.sum(F.when(F.col("__w") < 0, 1).otherwise(0)).alias("negw"),
        )
        .orderBy("__g")
    )
    # the __g order is the refine path's deterministic group order
    # (gvals); take(max_groups + 1) returns > max_groups rows iff more
    # groups exist
    grp_rows = grp_stats.take(max_groups + 1)
    if len(grp_rows) > max_groups:
        raise ValueError(
            f"exact_quantiles_grouped: >{max_groups} groups exceeds "
            f"max_groups={max_groups} — bucket the group key first (the "
            "per-group interval state is driver-side model state)"
        )
    if any(int(r["nans"] or 0) > 0 for r in grp_rows):
        raise ValueError(
            f"exact_quantiles_grouped: column {col!r} contains NaN/inf — "
            "filter first"
        )
    if any(int(r["negw"] or 0) > 0 for r in grp_rows):
        raise ValueError("exact_quantiles_grouped: negative weights")
    src = src.filter(F.col("__w") > 0)
    # groups whose weight mass is zero (all-NULL / all zero-weight)
    # emit nothing, exactly as the old post-filter heads never saw them
    grp_rows = [r for r in grp_rows if int(r["n"] or 0) > 0]

    import pyspark.sql.types as T

    oschema = T.StructType(
        [
            T.StructField(group_col, gfield.dataType),
            T.StructField("q", T.DoubleType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    heads = grp_rows  # (n, mn, mx) per group, already __g-ordered
    gvals = [r["__g"] for r in heads]  # deterministic group order

    max_mass = max((int(r["n"]) for r in heads), default=0)
    if len(heads) > 16 and max_mass <= shuffle_group_cap:
        return _grouped_shuffle(src, qs, group_col, oschema)

    # per-(group-index, target-index) state:
    # (lo, hi, top, mass_below_lo, mass_in_interval)
    targets: dict[tuple[int, int], int] = {}
    state: dict[tuple[int, int], tuple[float, float, bool, int, int]] = {}
    answers: dict[tuple[int, int], float] = {}
    # stall counter, same role as in exact_quantiles: two stalls
    # re-anchor the interval to its members' [min, max]
    stalls: dict[tuple[int, int], int] = {}
    for gi, r in enumerate(heads):
        n = int(r["n"])
        mn, mx = float(r["mn"]), float(r["mx"])
        for ti, q in enumerate(qs):
            key = (gi, ti)
            targets[key] = _rank_for(q, n)
            stalls[key] = 0
            if mn == mx:
                answers[key] = mn
            else:
                state[key] = (mn, mx, True, 0, n)

    # the edges/interval table rides as a broadcast join keyed by the
    # group value (null-safe: a NULL group key is a real group)
    def _interval_rows(keys):
        return [
            (gvals[gi], gi, ti, state[(gi, ti)][0], state[(gi, ti)][1],
             state[(gi, ti)][2])
            for gi, ti in keys
        ]

    ischema = (
        f"__eg {gfield.dataType.simpleString()}, __egi int, __eti int, "
        "__lo double, __hi double, __top boolean"
    )
    member = (F.col("__x") >= F.col("__lo")) & (
        F.col("__top") | (F.col("__x") < F.col("__hi"))
    )

    passes = 0
    while len(answers) < len(targets):
        live = [k for k in targets if k not in answers]

        # ---- leaf step: deduped, chunked shared collects ----------
        # a group's targets often share an interval (always true on
        # the first pass of a small group) — collect each DISTINCT
        # (group, interval) once and resolve all its targets from it
        leafy = [k for k in live if state[k][4] <= leaf_limit]
        if leafy:
            by_ival: dict[tuple[int, float, float, bool],
                          list[tuple[int, int]]] = {}
            for k in sorted(leafy):
                lo, hi, top, _, _ = state[k]
                by_ival.setdefault((k[0], lo, hi, top), []).append(k)
            ivs = list(by_ival)
            chunks: list[list[tuple[int, float, float, bool]]] = [[]]
            mass = 0
            for iv in ivs:
                m_ = state[by_ival[iv][0]][4]
                if chunks[-1] and mass + m_ > leaf_rows_per_collect:
                    chunks.append([])
                    mass = 0
                chunks[-1].append(iv)
                mass += m_
            for chunk in chunks:
                rows_ = [
                    (gvals[gi], gi, ii, lo, hi, top)
                    for ii, (gi, lo, hi, top) in enumerate(chunk)
                ]
                ivals = F.broadcast(spark.createDataFrame(rows_, ischema))
                got = (
                    src.join(
                        ivals, on=F.col("__g").eqNullSafe(F.col("__eg")),
                        how="inner",
                    )
                    .filter(member)
                    .select("__eti", "__x", "__w")
                    .collect()
                )
                by_iv: dict[int, list[tuple[float, int]]] = {
                    ii: [] for ii in range(len(chunk))
                }
                for r in got:
                    by_iv[int(r["__eti"])].append(
                        (float(r["__x"]), int(r["__w"]))
                    )
                for ii, iv in enumerate(chunk):
                    vals_sorted = sorted(by_iv[ii])
                    for k in by_ival[iv]:
                        _, _, _, below, _ = state[k]
                        cum = below
                        for v, wt_ in vals_sorted:
                            cum += wt_
                            if cum >= targets[k]:
                                answers[k] = v
                                break
            continue

        if passes >= max_passes:
            raise RuntimeError(
                "exact_quantiles_grouped: did not converge "
                f"(pass budget {max_passes}; raise leaf_limit)"
            )
        passes += 1

        # ---- stalled intervals: re-anchor to member [min, max] ----
        # (same rationale and bookkeeping as exact_quantiles: one
        # batched bounded agg through the interval join, never an
        # unbounded distinct collect)
        stalled = []
        for k in live:
            lo, hi, top, _, _ = state[k]
            edges = _edges(lo, hi, buckets)
            if stalls[k] >= 2 and len(set(edges)) >= 3 and edges == sorted(edges):
                stalled.append(k)
        if stalled:
            ivals = F.broadcast(
                spark.createDataFrame(_interval_rows(stalled), ischema)
            )
            mm = (
                src.join(
                    ivals, on=F.col("__g").eqNullSafe(F.col("__eg")),
                    how="inner",
                )
                .filter(member)
                .groupBy("__egi", "__eti")
                .agg(F.min("__x").alias("mn"), F.max("__x").alias("mx"))
                .collect()
            )
            for r in mm:
                k = (int(r["__egi"]), int(r["__eti"]))
                mn, mx = float(r["mn"]), float(r["mx"])
                _, _, _, below, mass = state[k]
                if mn == mx:
                    answers[k] = mn
                else:
                    # [mn, nextafter(mx)) with top=False — see the
                    # ungrouped re-anchor: preserves the member set
                    # exactly instead of opening the interval upward
                    state[k] = (
                        mn, math.nextafter(mx, math.inf), False,
                        below, mass,
                    )
                stalls[k] = 0
            continue

        # ---- degenerate intervals: batched distinct-value counts --
        # (edge-collapse only — bounded by representable doubles)
        degen = []
        plans: dict[tuple[int, int], list[float]] = {}
        for k in live:
            lo, hi, top, _, _ = state[k]
            edges = _edges(lo, hi, buckets)
            if len(set(edges)) < 3 or edges != sorted(edges):
                degen.append(k)
            else:
                plans[k] = edges
        if degen:
            ivals = F.broadcast(
                spark.createDataFrame(_interval_rows(degen), ischema)
            )
            gv = (
                src.join(
                    ivals, on=F.col("__g").eqNullSafe(F.col("__eg")),
                    how="inner",
                )
                .filter(member)
                .groupBy("__egi", "__eti", "__x")
                .agg(F.sum("__w").alias("cnt"))
                .collect()
            )
            by_key = {k: [] for k in degen}
            for r in gv:
                by_key[(int(r["__egi"]), int(r["__eti"]))].append(
                    (float(r["__x"]), int(r["cnt"]))
                )
            for k in degen:
                _, _, _, below, _ = state[k]
                cum = below
                for v, cnt in sorted(by_key[k]):
                    if cum + cnt >= targets[k]:
                        answers[k] = v
                        break
                    cum += cnt

        # ---- joint refinement pass -------------------------------
        if not plans:
            continue
        # targets sharing a (group, interval) — always true on each
        # group's pass 1 — share ONE histogram row in the edges table
        ip: dict[tuple[int, float, float, bool], list[float]] = {}
        itargets: dict[tuple[int, float, float, bool],
                       list[tuple[int, int]]] = {}
        for k, edges in plans.items():
            gi = k[0]
            lo, hi, top, _, _ = state[k]
            ik = (gi, lo, hi, top)
            if ik not in ip:
                ip[ik] = edges
            itargets.setdefault(ik, []).append(k)
        iks = list(ip)
        if len(iks) <= _REFINE_ARROW_MAX_INTERVALS and _arrow_group_ok(
            gfield.dataType
        ):
            # vectorized histogram kernel (r17, guide §4.1/§4.2): one
            # searchsorted per (interval, batch) in numpy replaces the
            # interpreted per-row aggregate() fold over the edge array
            # — measured 3.42 s -> 0.75 s per pass on the sf0.1
            # 600k-row refine (identical counts; the 192-column
            # codegen conditional-sum alternative was measured at
            # 28 s — method-size fallback — and rejected)
            hist = _refine_hist_arrow(
                src, iks, ip, buckets, gvals
            )
        else:
            erows = [
                (gvals[gi], gi, ii, lo, hi, top,
                 ip[(gi, lo, hi, top)][:buckets])
                for ii, (gi, lo, hi, top) in enumerate(iks)
            ]
            eschema = ischema + ", __edges array<double>"
            ivals = F.broadcast(spark.createDataFrame(erows, eschema))
            # bucket index = count(edge constants <= x) - 1 over the
            # SAME edge values the next interval's predicates will use
            # — the b-th bucket IS the next interval, bit for bit
            bucket_ix = (
                F.aggregate(
                    F.col("__edges"),
                    F.lit(0),
                    lambda acc, e: acc
                    + F.when(F.col("__x") >= e, F.lit(1)).otherwise(
                        F.lit(0)
                    ),
                )
                - F.lit(1)
            ).alias("__b")
            counts = (
                src.join(
                    ivals, on=F.col("__g").eqNullSafe(F.col("__eg")),
                    how="inner",
                )
                .filter(member)
                .select("__egi", "__eti", bucket_ix, "__w")
                .groupBy("__egi", "__eti", "__b")
                .agg(F.sum("__w").alias("cnt"))
                .collect()
            )
            hist = {ii: {} for ii in range(len(iks))}
            for r in counts:
                hist[int(r["__eti"])][int(r["__b"])] = int(r["cnt"])
        for ii, ik in enumerate(iks):
            edges = ip[ik]
            for k in itargets[ik]:
                lo, hi, top, below, mass = state[k]
                cum = below
                for b in range(buckets):
                    cnt = hist[ii].get(b, 0)
                    if cum + cnt >= targets[k]:
                        stalls[k] = (
                            stalls[k] + 1
                            if (cum, cnt) == (below, mass)
                            else 0
                        )
                        state[k] = (
                            edges[b],
                            edges[b + 1],
                            top and b == buckets - 1,
                            cum,
                            cnt,
                        )
                        break
                    cum += cnt

    out = [
        (gvals[gi], float(qs[ti]), float(answers[(gi, ti)]))
        for gi in range(len(gvals))
        for ti in range(len(qs))
    ]
    return spark.createDataFrame(out, oschema)


def filter_by_quantile(
    df: DataFrame,
    col: str,
    q: float,
    keep: str = "below",
    buckets: int = 64,
    leaf_limit: int = 65536,
    weight_col: str | None = None,
) -> DataFrame:
    """The composition quantiles exist for in a training pipeline:
    gate ``df`` at an EXACT quantile cutoff — "drop the worst 10% by
    quality score" (``keep='above'``, q=0.1), "cap documents above
    the p99 token count" (``keep='below'``, q=0.99).  The cutoff
    VALUE is computed by :func:`exact_quantiles` (aggregate-only
    passes, never a sort); the returned frame is ``df`` filtered by a
    plain comparison, so the gate itself is a pushdown-eligible
    predicate on the original scan.  ``keep='below'`` keeps
    ``col <= cutoff``; ``keep='above'`` keeps ``col >= cutoff``; NULL
    ``col`` rows are dropped either way (they have no rank).  The
    boundary value itself is always kept — quantile_disc returns an
    element, and both sides of a tie have the same score."""
    if keep not in ("below", "above"):
        raise ValueError("filter_by_quantile: keep must be 'below'/'above'")
    cutoff = exact_quantiles(
        df, col, [q], buckets=buckets, leaf_limit=leaf_limit,
        weight_col=weight_col,
    )[0]
    cmp = (
        F.col(col).cast("double") <= F.lit(cutoff)
        if keep == "below"
        else F.col(col).cast("double") >= F.lit(cutoff)
    )
    return df.filter(F.col(col).isNotNull() & cmp)


def _grouped_shuffle(src: DataFrame, qs: list[float], group_col: str,
                     oschema) -> DataFrame:
    """The many-modest-groups plan: hash-shuffle on the group key,
    exact per-group ranks in one Arrow kernel.  ``src`` is the
    prepared (__g, __x, __w) frame (non-NULL x, positive w)."""
    qarr = [float(q) for q in qs]

    def fn(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values("__x")
        cw = pdf["__w"].to_numpy(dtype="int64").cumsum()
        n = int(cw[-1])
        xs = pdf["__x"].to_numpy()
        vals = [
            float(xs[int(np.searchsorted(cw, _rank_for(q, n), side="left"))])
            for q in qarr
        ]
        return pd.DataFrame(
            {
                group_col: [pdf["__g"].iloc[0]] * len(qarr),
                "q": qarr,
                "value": vals,
            }
        )

    return (
        src.groupBy("__g")
        .applyInPandas(fn, schema=oschema)
        .orderBy(group_col, "q")  # |groups| * |qs| rows — model-sized
    )
