"""Product quantization (PQ) for embedding tables: the classic
compressed-domain ANN representation (Jegou, Douze, Schmid 2011,
"Product Quantization for Nearest Neighbor Search").

Why this exists next to the IVF/LSH operators: at 100 TB an embedding
column is the dominant storage and scan cost (64-dim float32 = 256 B
per row).  PQ splits each vector into ``m`` subvectors, clusters each
subspace into ``k`` centroids, and stores one byte-ish code per
subspace — 64-dim float32 collapses to ``m`` small ints (8 B at
m=8/k<=256, a 32x scan reduction), and a query is scored against the
CODES ONLY via an asymmetric-distance lookup table (ADC), never
touching the original vectors.

Spark shapes (the part that must survive 100 TB):

- **Training** (:func:`pq_train`) is Lloyd per subspace, all ``m``
  subspaces folded into ONE mapInArrow pass per iteration: each
  partition emits at most ``m * k`` (subspace, cell, count, sum)
  partials and the driver merges them — no explode, no shuffle.  Vectors are
  quantized to a CORPUS-GLOBAL int8 grid first (one max-abs pass), so
  per-cell sums are exact int64 arithmetic — training is
  bit-deterministic across partitionings and cluster sizes, the same
  exactness contract as ``kmeans_fit_quantized`` (kmeans.py), and the
  returned centroids are mapped back to original units.  Train on a
  sample at real scale (``train_sample``): PQ codebooks converge from
  a tiny fraction of the corpus (standard practice).
- **Encoding** (:func:`pq_encode`) is a zero-shuffle pure map: the
  codebook rides the task closure and each code is a numpy argmin over
  ``k`` L2 distances (ties break to the lowest code
  deterministically).  This is the one pass that reads the fat
  vectors; everything after reads codes.
- **Search** (:func:`pq_topk`) computes the ``m x k`` distance lookup
  table DRIVER-side from the raw query (a model-sized object), inlines
  it as a 2-D array literal, and scores each row with a fold over its
  code array — zero shuffle, zero joins, then one
  TakeOrderedAndProject for the top-k.  Optional exact re-rank
  (``refine_with``) joins the original vectors back for the small
  candidate set only — the classic ADC-then-refine serving shape.

No reference-engine counterpart (the reference is a log scanner); this
is part of the training-data-pipeline operator family (VERDICT/ADVICE
round-5 scope), sibling to similarity.ivf_topk and kmeans_ivf_topk.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "pq_train",
    "pq_encode",
    "pq_topk",
    "ivfpq_build",
    "ivfpq_encode",
    "ivfpq_append",
    "ivfpq_topk",
    "ivfpq_topk_batch",
]


def _check_geometry(dim: int, m: int, k: int) -> int:
    if m < 1 or dim % m != 0:
        raise ValueError(f"pq: m={m} must divide dim={dim}")
    if not 2 <= k <= 256:
        raise ValueError(f"pq: k={k} must be in [2, 256] (one byte per code)")
    return dim // m


def pq_train(
    df: DataFrame,
    dim: int,
    m: int = 8,
    k: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_sample: float | None = None,
    seed: int = 7,
) -> list[list[list[float]]]:
    """Fit ``m`` codebooks of ``k`` centroids each; returns
    ``codebooks[m][k][dim/m]`` in ORIGINAL vector units (driver-side
    model, like ``kmeans_fit_quantized``'s centroid list).

    Deterministic by construction: vectors snap to a corpus-global
    int8 grid (scale = corpus max|x| / 127, one aggregate pass), so
    every Lloyd mean is exact-int64-sum / count regardless of
    partitioning; initialization is the first ``k`` rows by id.  A
    cell that captures no rows keeps its previous centroid.

    ``train_sample`` subsamples rows deterministically
    (md5(id:seed) bucket) before training — at 100 TB you fit the
    codebook on ~1e6 rows, not the corpus.

    Each Lloyd pass is ONE mapInArrow job emitting per-partition
    (sub, cell, n, int64-sum) partials — no explode, no crossJoin, no
    groupBy shuffle; the driver merges <= partitions * m * k partial
    rows (exact integer adds) and takes the sum/count means.  Cell
    assignment accumulates the L2 fold SEQUENTIALLY over dsub (a
    Python loop of vectorized (rows, k) adds, not numpy's pairwise
    ``sum``), so every distance is bit-identical to a sequential
    ``acc + (x - c)^2`` fold and ``np.argmin``'s first-minimum is its
    low-cell tie-break — the codebooks are IDENTICAL to a plain
    sequential Lloyd that a SQL oracle can restate (tests/test_pq.py
    pins it)."""
    dsub = _check_geometry(dim, m, k)
    if iters < 0:
        raise ValueError("pq_train: iters must be >= 0")
    from zeek_duckdb_spark.operators.hashutil import md5_long

    src = df.select(F.col(id_col), F.col(vec_col))
    if train_sample is not None:
        if not 0 < train_sample <= 1:
            raise ValueError("pq_train: train_sample must be in (0, 1]")
        frac = int(train_sample * 1_000_000)
        src = src.filter(
            md5_long(
                F.concat_ws(":", F.col(id_col).cast("string"), F.lit(str(seed)))
            )
            % F.lit(1_000_000)
            < F.lit(frac)
        )
    # same degenerate-row policy as pq_encode: rows whose vector length
    # differs from dim are un-trainable (short slices would fold NULL
    # sums into the exact-int64 means) and are dropped
    src = src.filter(F.size(F.col(vec_col)) == dim)
    x = F.transform(F.col(vec_col), lambda v: v.cast("double"))
    max_abs = src.agg(
        F.max(
            F.aggregate(x, F.lit(0.0), lambda a, v: F.greatest(a, F.abs(v)))
        ).alias("mx")
    ).first()["mx"]
    if max_abs is None or max_abs == 0.0:
        raise ValueError("pq_train: corpus is empty or all-zero vectors")
    scale = float(max_abs) / 127.0
    # corpus-global int8 grid: floor(v/s + 0.5) half-rounds toward +inf
    # for both signs in every engine (quantize_embeddings' trick)
    q = F.transform(x, lambda v: F.floor(v / F.lit(scale) + F.lit(0.5)).cast("long"))
    base = src.select(F.col(id_col), q.alias("__q")).persist()
    try:
        init = base.orderBy(F.asc(id_col)).limit(k).collect()
        if len(init) < k:
            raise ValueError(f"pq_train: corpus has {len(init)} rows < k={k}")
        # codebooks live in the int grid during Lloyd; mapped back at return
        cbs = [
            [[float(r["__q"][j * dsub + t]) for t in range(dsub)] for r in init]
            for j in range(m)
        ]
        for _ in range(iters):
            merged = _lloyd_partials_arrow(base, cbs, m, k, dsub)
            cbs = [
                [
                    (
                        [s / merged[(j, c)][0] for s in merged[(j, c)][1]]
                        if (j, c) in merged
                        else cent
                    )
                    for c, cent in enumerate(cb)
                ]
                for j, cb in enumerate(cbs)
            ]
    finally:
        base.unpersist()
    # back to original units
    return [[[v * scale for v in cent] for cent in cb] for cb in cbs]


def _lloyd_partials_arrow(
    base: DataFrame,
    cbs: list[list[list[float]]],
    m: int,
    k: int,
    dsub: int,
) -> dict[tuple[int, int], tuple[int, list[int]]]:
    """One Lloyd pass over the int-grid corpus as per-partition
    partials: {(sub, cell): (n, int64 per-dim sums)} merged driver-side
    with exact integer adds.  Distance accumulation is a sequential
    Python loop over dsub of vectorized (rows, k) adds so every fold
    is bit-identical to a sequential ``acc + (x - c)^2`` fold; argmin's
    first-minimum is the fold's lowest-cell tie-break."""
    import numpy as np
    import pyarrow as pa

    from zeek_duckdb_spark.operators.arrowvec import from_matrix, to_matrix

    cents = [np.asarray(cb, dtype=np.float64) for cb in cbs]  # m x (k, dsub)

    def fn(batches):
        n_acc = np.zeros((m, k), dtype=np.int64)
        s_acc = np.zeros((m, k, dsub), dtype=np.int64)
        for b in batches:
            X, ok = to_matrix(b.column("__q"), np.int64, m * dsub)
            if not ok.all():  # a NULL code joins no cell
                X = X[ok]
            for j in range(m):
                Xj = X[:, j * dsub : (j + 1) * dsub]
                Xf = Xj.astype(np.float64)
                acc = np.zeros((len(X), k), dtype=np.float64)
                for t in range(dsub):
                    d = Xf[:, t : t + 1] - cents[j][None, :, t]
                    acc += d * d
                cells = np.argmin(acc, axis=1)
                for c in np.unique(cells):
                    sel = Xj[cells == c]
                    n_acc[j, c] += len(sel)
                    s_acc[j, c] += sel.sum(axis=0)
        subs, cls = np.nonzero(n_acc)
        yield pa.RecordBatch.from_arrays(
            [pa.array(subs.astype(np.int32)), pa.array(cls.astype(np.int32)),
             pa.array(n_acc[subs, cls]), from_matrix(s_acc[subs, cls])],
            names=["sub", "cell", "n", "s"],
        )

    schema = T.StructType(
        [
            T.StructField("sub", T.IntegerType()),
            T.StructField("cell", T.IntegerType()),
            T.StructField("n", T.LongType()),
            T.StructField("s", T.ArrayType(T.LongType())),
        ]
    )
    merged: dict[tuple[int, int], tuple[int, list[int]]] = {}
    for r in base.select("__q").mapInArrow(fn, schema=schema).collect():
        key = (int(r["sub"]), int(r["cell"]))
        n0, s0 = merged.get(key, (0, [0] * dsub))
        merged[key] = (
            n0 + int(r["n"]),
            [a + int(b) for a, b in zip(s0, r["s"])],
        )
    return merged


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """(id, pq_codes array<int> [, *keep]): one argmin-L2 code per
    subspace against the fitted codebooks.  Zero-shuffle pure map —
    the ONE pass that reads the fat vectors; downstream search reads
    codes only.  Ties break to the lowest code (deterministic).

    Each argmin is one numpy ``(batch, dsub) @ (dsub, k)`` matmul per
    subspace per Arrow batch (mapInArrow) — measured **92x** over the
    interpreted SQL fold at 128k rows (42.4 s -> 0.46 s, SCALING.md).
    Codes equal a sequential ``acc + (x - c)^2`` fold's on every tested
    corpus (np.argmin breaks ties low like the fold; a code could
    differ only where two centroids sit within rounding error of the
    same distance — tests/test_pq.py pins the equality).

    Rows whose vector length differs from the codebook dimension are
    DROPPED (un-encodable; same degenerate-row policy as
    similarity.quantize_embeddings' zero-vector filter) — pre-validate
    upstream if a length mismatch should be an error in your corpus."""
    import numpy as np
    import pyarrow as pa

    from zeek_duckdb_spark.operators.arrowvec import from_matrix, to_matrix

    m = len(codebooks)
    dsub = len(codebooks[0][0])
    dim = m * dsub
    cb = [np.asarray(c, dtype=np.float64) for c in codebooks]  # m x (k, dsub)
    cb_sq = [np.sum(c * c, axis=1) for c in cb]  # m x (k,)
    id_field = df.schema[id_col]
    keep_fields = [df.schema[c] for c in keep]

    def fn(batches):
        for b in batches:
            X, ok = to_matrix(b.column(vec_col), dim=dim)
            codes = np.empty((len(X), m), dtype=np.int32)
            for j in range(m):
                Xj = X[:, j * dsub : (j + 1) * dsub]
                # ||x-c||^2 = ||x||^2 - 2 x.c + ||c||^2; ||x||^2 is
                # constant per row so the argmin needs only the rest
                d = cb_sq[j][None, :] - 2.0 * (Xj @ cb[j].T)
                codes[:, j] = np.argmin(d, axis=1)  # ties -> lowest code
            sub = b.filter(pa.array(ok))
            yield pa.RecordBatch.from_arrays(
                [sub.column(id_col), from_matrix(codes[ok])]
                + [sub.column(c) for c in keep],
                names=[id_col, "pq_codes", *keep],
            )

    out_schema = T.StructType(
        [id_field, T.StructField("pq_codes", T.ArrayType(T.IntegerType()))]
        + keep_fields
    )
    sel = [id_col, vec_col] + [c for c in keep if c not in (id_col, vec_col)]
    return df.select(*[F.col(c) for c in sel]).mapInArrow(fn, schema=out_schema)


def pq_topk(
    codes_df: DataFrame,
    query: list[float],
    codebooks: list[list[list[float]]],
    k_top: int = 10,
    id_col: str = "vec_id",
    metric: str = "l2",
    refine_with: DataFrame | None = None,
    vec_col: str = "embedding",
    refine_factor: int = 4,
) -> DataFrame:
    """Top-``k_top`` rows by asymmetric distance: the ``m x k`` lookup
    table (query subvector vs every centroid) is computed driver-side,
    inlined as a 2-D array literal, and each row's score is a fold over
    its code array — zero shuffle, then TakeOrderedAndProject.

    ``metric='l2'`` returns ``adc_dist`` ascending; ``'ip'`` (inner
    product — cosine on pre-normalized corpora) returns ``adc_score``
    descending.

    ``refine_with`` (a DataFrame carrying ``vec_col``) switches to the
    ADC-then-refine serving shape: the compressed scan keeps
    ``refine_factor * k_top`` candidates, the original vectors join
    back for THOSE rows only, and the final top-k orders by exact
    distance — the join touches a model-sized candidate set, never the
    corpus."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    if len(query) != m * dsub:
        raise ValueError(
            f"pq_topk: query dim {len(query)} != codebook dim {m * dsub}"
        )
    if metric not in ("l2", "ip"):
        raise ValueError("pq_topk: metric must be 'l2' or 'ip'")
    qd = [float(v) for v in query]
    lut = []
    for j, cb in enumerate(codebooks):
        sub = qd[j * dsub : (j + 1) * dsub]
        if metric == "l2":
            lut.append(
                [sum((a - b) * (a - b) for a, b in zip(sub, cent)) for cent in cb]
            )
        else:
            lut.append([sum(a * b for a, b in zip(sub, cent)) for cent in cb])
    lut_lit = "array(" + ", ".join(
        "array(" + ", ".join(f"{v!r}D" for v in row) + ")" for row in lut
    ) + ")"
    adc = F.expr(
        "aggregate(pq_codes, named_struct('j', 0, 'acc', CAST(0.0 AS DOUBLE)), "
        "(a, c) -> named_struct('j', a.j + 1, 'acc', "
        f"a.acc + element_at(element_at({lut_lit}, a.j + 1), c + 1)), "
        "a -> a.acc)"
    )
    col = "adc_dist" if metric == "l2" else "adc_score"
    order = (
        [F.asc(col), F.asc(id_col)] if metric == "l2" else [F.desc(col), F.asc(id_col)]
    )
    scored = codes_df.select(
        F.col(id_col), F.round(adc, 6).alias(col)
    ).orderBy(*order)
    if refine_with is None:
        return scored.limit(k_top)
    cands = scored.limit(max(k_top, refine_factor * k_top))
    src = refine_with.select(F.col(id_col), F.col(vec_col))
    joined = cands.join(src, id_col)
    x = F.transform(F.col(vec_col), lambda v: v.cast("double"))
    q_lit = F.array(*[F.lit(v) for v in qd])
    if metric == "l2":
        exact = F.aggregate(
            F.zip_with(x, q_lit, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        ecol, eorder = "exact_dist", [F.asc("exact_dist"), F.asc(id_col)]
    else:
        exact = F.aggregate(
            F.zip_with(x, q_lit, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        ecol, eorder = "exact_score", [F.desc("exact_score"), F.asc(id_col)]
    return (
        joined.select(F.col(id_col), F.col(col), F.round(exact, 6).alias(ecol))
        .orderBy(*eorder)
        .limit(k_top)
    )


def _cent_lit(cents: list[list[float]]) -> str:
    return "array(" + ", ".join(
        "array(" + ", ".join(f"{float(v)!r}D" for v in c) + ")" for c in cents
    ) + ")"


def ivfpq_build(
    df: DataFrame,
    dim: int,
    n_cells: int = 16,
    m: int = 8,
    k: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_sample: float | None = None,
    seed: int = 7,
):
    """IVF-PQ index build (the standard two-level ANN layout: coarse
    inverted cells + product-quantized RESIDUALS): returns
    ``(cells, codebooks, codes_df)`` where ``cells`` is the coarse
    centroid list (``n_cells x dim``, original units), ``codebooks``
    the residual PQ model, and ``codes_df`` = (id, cell, pq_codes) —
    the table to persist (``partitionBy("cell")`` for pruned serving).

    Construction reuses the deterministic PQ trainer twice: the coarse
    quantizer IS ``pq_train`` with one subspace spanning the vector
    (m=1, k=n_cells), and the residual codebooks are ``pq_train`` over
    ``vec - cell_centroid`` (a zero-shuffle map — the centroid joins
    the row as one array literal indexed by cell).  Everything
    downstream of the two training reductions is a pure map.
    """
    coarse = pq_train(
        df, dim, m=1, k=n_cells, iters=iters, id_col=id_col,
        vec_col=vec_col, train_sample=train_sample, seed=seed,
    )
    cells = coarse[0]  # n_cells x dim
    res = _ivfpq_residuals(df, cells, id_col, vec_col)
    codebooks = pq_train(
        res, dim, m=m, k=k, iters=iters, id_col=id_col, vec_col="__res",
        train_sample=train_sample, seed=seed + 1,
    )
    codes = pq_encode(res, codebooks, id_col=id_col, vec_col="__res",
                      keep=("cell",))
    return cells, codebooks, codes.select(id_col, "cell", "pq_codes")


def _ivfpq_residuals(
    df: DataFrame, cells: list[list[float]], id_col: str, vec_col: str
) -> DataFrame:
    """(id, cell, __res): coarse-cell assignment + residual vector —
    the shared zero-shuffle map under ivfpq_build/encode/append."""
    coarse = [cells]  # the m=1 coarse quantizer codebook
    assigned = pq_encode(df, coarse, id_col=id_col, vec_col=vec_col,
                         keep=(vec_col,))
    cents_lit = _cent_lit(cells)
    return assigned.select(
        F.col(id_col),
        F.element_at("pq_codes", 1).alias("cell"),
        F.expr(
            f"zip_with(transform({vec_col}, v -> CAST(v AS DOUBLE)), "
            f"element_at({cents_lit}, element_at(pq_codes, 1) + 1), "
            "(x, y) -> x - y)"
        ).alias("__res"),
    )


def ivfpq_encode(
    df: DataFrame,
    cells: list[list[float]],
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cell, pq_codes) for a batch at FIXED models — the
    assignment half of :func:`ivfpq_build` without the two training
    reductions.  Pure zero-shuffle maps end-to-end; assignment is a
    per-row function of (vector, models), so encoding a new batch
    equals what a full rebuild at the same models would assign
    (pinned by tests/test_pq.py)."""
    res = _ivfpq_residuals(df, cells, id_col, vec_col)
    codes = pq_encode(res, codebooks, id_col=id_col, vec_col="__res",
                      keep=("cell",))
    return codes.select(id_col, "cell", "pq_codes")


def ivfpq_append(
    df_new: DataFrame,
    path: str,
    cells: list[list[float]],
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Append a NEW batch into a persisted IVF-PQ layout
    (``codes_df.write.partitionBy("cell")`` from :func:`ivfpq_build`)
    at fixed models — the compressed-index sibling of
    ``kmeans.ivf_append``: yesterday's index stands, today's crawl
    encodes + appends, existing files untouched, the
    partition-pruned ``ivfpq_topk`` probe keeps working.  Refresh the
    models with a re-train + re-land when the residual distribution
    drifts.  The landing shares the raw-vector index's ``cell=``
    layout, so ``kmeans.ivf_compact`` is its small-file maintenance
    job too (each append adds one file per touched cell)."""
    (
        ivfpq_encode(df_new, cells, codebooks, id_col, vec_col)
        .repartition("cell")
        .write.mode("append")
        .partitionBy("cell")
        .parquet(path)
    )


def ivfpq_topk(
    codes_df: DataFrame,
    query: list[float],
    cells: list[list[float]],
    codebooks: list[list[list[float]]],
    k_top: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    refine_with: DataFrame | None = None,
    vec_col: str = "embedding",
    refine_factor: int | None = None,
    refine_metric: str = "l2",
) -> DataFrame:
    """Top-``k_top`` by IVF-PQ asymmetric L2 distance: the ``nprobe``
    cells nearest the query are chosen DRIVER-side (n_cells distances
    — model arithmetic), one residual lookup table is built per probed
    cell (the query residual differs per cell), and scoring reads ONLY
    rows in probed cells — with a ``partitionBy("cell")`` layout the
    probe filter prunes partitions at the source.  Zero shuffle; one
    TakeOrderedAndProject.

    ``refine_with`` (the ORIGINAL vectors) adds an exact re-rank for
    the regime the r8 recall curves expose honestly: inside a dense
    cluster the residuals sit below an (m, k) code's resolution, ADC
    collapses (needle recall 0.01-0.07), and no shortlist multiple
    can resurrect candidates ADC never orders correctly.  Two modes:

    - ``refine_factor=None`` (default): exact re-rank of ALL
      probed-cell rows — compressed cells do the PRUNING (the ivf /
      kmeans_ivf trick that scores 0.94+ there), original vectors do
      the fine ranking.  Join-free: ``refine_with`` is filtered by the
      probed cells and scored directly — land the vectors
      ``partitionBy("cell")`` next to the codes (the serving layout)
      and the probe prunes partitions on BOTH tables; if it has no
      ``cell`` column the coarse assignment is recomputed as a
      zero-shuffle map (full vector scan, no pruning — fine locally,
      land the cell column at scale).
    - ``refine_factor=N``: the cheap shortlist shape where ADC's
      ordering is trustworthy (well-separated neighbors) — the
      compressed scan keeps ``N * k_top`` candidates (model-sized),
      they BROADCAST-join back to ``refine_with``, and the final
      order is exact.  Still zero shuffle.

    ``refine_metric``: ``'l2'`` (exact_dist ascending, the ADC
    metric's exact form) or ``'cosine'`` (exact_score descending) —
    retrieval evals and the rest of the similarity family rank by
    cosine, and re-ranking by the WRONG metric silently caps recall
    against a cosine ground truth (measured: 0.76 vs 0.9+ on the
    needle corpus) even though the candidate set is identical.
    """
    if not 1 <= nprobe <= len(cells):
        raise ValueError(f"ivfpq_topk: nprobe must be in [1, {len(cells)}]")
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    if len(query) != m * dsub:
        raise ValueError(
            f"ivfpq_topk: query dim {len(query)} != codebook dim {m * dsub}"
        )
    qd = [float(v) for v in query]
    d2 = [
        (sum((a - b) * (a - b) for a, b in zip(qd, c)), ci)
        for ci, c in enumerate(cells)
    ]
    probed = [ci for _, ci in sorted(d2)[:nprobe]]
    # one m x k LUT per probed cell, from the PER-CELL query residual
    luts = []
    for ci in probed:
        rq = [a - b for a, b in zip(qd, cells[ci])]
        lut = []
        for j, cb in enumerate(codebooks):
            sub = rq[j * dsub : (j + 1) * dsub]
            lut.append(
                [sum((a - b) * (a - b) for a, b in zip(sub, cent)) for cent in cb]
            )
        luts.append(lut)
    lut_lit = "array(" + ", ".join(
        "array(" + ", ".join(
            "array(" + ", ".join(f"{v!r}D" for v in row) + ")" for row in lut
        ) + ")"
        for lut in luts
    ) + ")"
    # cell -> 1-based probe index (0 = not probed, filtered out anyway)
    pidx = "CASE cell " + " ".join(
        f"WHEN {ci} THEN {i + 1}" for i, ci in enumerate(probed)
    ) + " ELSE 0 END"
    adc = F.expr(
        f"aggregate(pq_codes, named_struct('j', 0, 'acc', CAST(0.0 AS DOUBLE)), "
        "(a, c) -> named_struct('j', a.j + 1, 'acc', "
        f"a.acc + element_at(element_at(element_at({lut_lit}, {pidx}), a.j + 1), c + 1)), "
        "a -> a.acc)"
    )
    scored = codes_df.filter(F.col("cell").isin(*probed)).select(
        F.col(id_col), F.col("cell"), F.round(adc, 6).alias("adc_dist")
    )
    if refine_with is None:
        return scored.orderBy(F.asc("adc_dist"), F.asc(id_col)).limit(k_top)

    if refine_metric not in ("l2", "cosine"):
        raise ValueError("ivfpq_topk: refine_metric must be 'l2' or 'cosine'")
    q_lit = F.array(*[F.lit(v) for v in qd])
    x = F.transform(F.col(vec_col), lambda v: v.cast("double"))
    if refine_metric == "l2":
        exact = F.round(
            F.aggregate(
                F.zip_with(x, q_lit, lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
            6,
        ).alias("exact_dist")
        # asc_nulls_last: a NULL/wrong-length refine vector must sink,
        # not rank first (ASC is NULLS FIRST by default)
        eorder = [F.asc_nulls_last("exact_dist"), F.asc(id_col)]
    else:
        dot = F.aggregate(
            F.zip_with(x, q_lit, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        nrm = lambda c: F.sqrt(  # noqa: E731
            F.aggregate(
                F.transform(c, lambda v: v * v),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
        )
        exact = F.round(
            dot / F.nullif(nrm(x) * nrm(q_lit), F.lit(0.0)), 6
        ).alias("exact_score")
        eorder = [F.desc_nulls_last("exact_score"), F.asc(id_col)]

    if refine_factor is not None:
        if refine_factor < 1:
            raise ValueError("ivfpq_topk: refine_factor must be >= 1")
        # model-sized ADC shortlist -> broadcast join back to vectors
        cands = scored.orderBy(F.asc("adc_dist"), F.asc(id_col)).limit(
            max(k_top, refine_factor * k_top)
        )
        joined = refine_with.select(F.col(id_col), F.col(vec_col)).join(
            F.broadcast(cands.select(id_col, "adc_dist")), id_col
        )
        return (
            joined.select(F.col(id_col), F.col("adc_dist"), exact)
            .orderBy(*eorder)
            .limit(k_top)
        )

    # exact re-rank of ALL probed-cell rows (join-free): filter the
    # vectors by probed cell, deriving the coarse assignment as a
    # zero-shuffle map when the serving layout didn't land it
    rv = refine_with
    if "cell" not in rv.columns:
        assigned = pq_encode(rv, [cells], id_col=id_col, vec_col=vec_col,
                             keep=(vec_col,))
        rv = assigned.select(
            F.col(id_col),
            F.element_at("pq_codes", 1).alias("cell"),
            F.col(vec_col),
        )
    return (
        rv.filter(F.col("cell").isin(*probed))
        .select(F.col(id_col), F.col("cell"), exact)
        .orderBy(*eorder)
        .limit(k_top)
    )


def ivfpq_topk_batch(
    codes_df: DataFrame,
    queries: DataFrame,
    cells: list[list[float]],
    codebooks: list[list[list[float]]],
    k_top: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    query_id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine_with: DataFrame | None = None,
    refine_factor: int = 4,
    refine_metric: str = "l2",
    max_batch: int = 65536,
) -> DataFrame:
    """IVF-PQ top-k for MANY queries at once — the compressed-index
    sibling of ``kmeans.ivf_probe_topk_batch``: the whole request
    batch pays ONE scan of the union of its probed cells (partition-
    pruned on a ``partitionBy("cell")`` landing), and every Arrow
    batch of codes is ADC-scored against all queries in one kernel.

    Per query the ADC ranking is IDENTICAL to :func:`ivfpq_topk`:
    probe cells and per-(query, cell) residual lookup tables are
    computed driver-side with the same arithmetic, the kernel
    accumulates the m LUT terms SEQUENTIALLY left-to-right (the JVM
    fold's op order), rows in cells outside a query's own probe set
    are masked even when another query's probe pulled them into the
    scan, and ties break (adc_dist ASC, id ASC) after the same 6-dp
    round.

    ``refine_with`` adds the shortlist exact re-rank
    (``refine_factor * k_top`` ADC candidates per query, vectors
    joined back for THOSE rows only — a broadcast of the model-sized
    candidate set — then exact ``refine_metric`` order).  The refine
    kernel, like the ADC kernel, accumulates its sums with a strict
    sequential left fold (``np.add.accumulate``) so pre-round values
    match :func:`ivfpq_topk`'s JVM ``aggregate`` bit-for-bit.  The
    all-probed-rows exact mode (``ivfpq_topk(refine_factor=None)``)
    has no batch form here: that shape IS
    ``kmeans.ivf_probe_topk_batch`` over the raw-vector landing.

    Output: ``(q_id, id, adc_dist[, exact_*])`` — k_top rows per
    query, ordered within each query.  Shuffles are bounded by
    candidate counts (k·Q·batches through the merge window), never
    the corpus.

    ``queries`` is a REQUEST BATCH, not a corpus: it is collected to
    the driver (probe selection + the Q x nprobe x m x k residual LUTs
    are driver state), so the loud ``max_batch`` guard (default 65536)
    refuses anything larger BEFORE collecting — split the request
    stream upstream or raise it deliberately for a bigger driver."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    from pyspark.sql import Window

    from zeek_duckdb_spark.operators.arrowvec import from_vector, to_matrix
    from zeek_duckdb_spark.operators.similarity import (
        _np_round6_half_up,
        _query_topk_batch,
    )

    if not 1 <= nprobe <= len(cells):
        raise ValueError(
            f"ivfpq_topk_batch: nprobe must be in [1, {len(cells)}]"
        )
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    dim = m * dsub
    if refine_metric not in ("l2", "cosine"):
        raise ValueError(
            "ivfpq_topk_batch: refine_metric must be 'l2' or 'cosine'"
        )
    if refine_with is not None and refine_factor < 1:
        raise ValueError("ivfpq_topk_batch: refine_factor must be >= 1")
    if max_batch < 1:
        raise ValueError("ivfpq_topk_batch: max_batch must be >= 1")
    # limit(max_batch + 1), never a plain collect: a corpus passed by
    # mistake costs one bounded fetch and a clear error, not a driver OOM
    qt = queries.select(
        F.col(query_id_col).alias("q_id"), F.col(vec_col).alias("__v")
    ).limit(max_batch + 1).toArrow()
    if qt.num_rows > max_batch:
        raise ValueError(
            f"ivfpq_topk_batch: queries holds more than max_batch="
            f"{max_batch} rows — this serves a REQUEST BATCH collected "
            "to the driver, not a corpus; split the requests into "
            "batches or raise max_batch if the driver is sized for it"
        )
    if qt.num_rows == 0:
        raise ValueError("ivfpq_topk_batch: queries is empty")
    q_ids = qt.column("q_id").combine_chunks()
    if len(set(q_ids.to_pylist())) != len(q_ids):
        raise ValueError("ivfpq_topk_batch: duplicate query ids")
    qv = qt.column("__v").combine_chunks()
    Qm, ok = to_matrix(qv, dim=dim)
    if not ok.all():
        bad = pc.list_value_length(qv)[int(np.argmin(ok))].as_py()
        raise ValueError(
            f"ivfpq_topk_batch: query dim {bad} != codebook dim {dim}"
        )

    # driver-side probe selection + per-(query, cell) residual LUTs —
    # the same arithmetic as ivfpq_topk, query by query
    luts: list[dict[int, "np.ndarray"]] = []
    union_cells: set[int] = set()
    for qd in Qm.tolist():
        d2 = [
            (sum((a - b) * (a - b) for a, b in zip(qd, c)), ci)
            for ci, c in enumerate(cells)
        ]
        probed = [ci for _, ci in sorted(d2)[:nprobe]]
        per_cell = {}
        for ci in probed:
            rq = [a - b for a, b in zip(qd, cells[ci])]
            lut = []
            for j, cb in enumerate(codebooks):
                sub = rq[j * dsub : (j + 1) * dsub]
                lut.append(
                    [
                        sum((a - b) * (a - b) for a, b in zip(sub, cent))
                        for cent in cb
                    ]
                )
            per_cell[ci] = np.asarray(lut, dtype=np.float64)
        luts.append(per_cell)
        union_cells.update(probed)

    idx = codes_df.filter(F.col("cell").isin(sorted(union_cells)))
    q_id_type = queries.schema[query_id_col].dataType.simpleString()
    id_type = codes_df.schema[id_col].dataType.simpleString()
    keep_n = (
        k_top if refine_with is None else max(k_top, refine_factor * k_top)
    )

    def adc(per_cell, cellarr, C):
        """One query's rounded ADC distance per row (inf outside its
        probed cells), and the mask of the rows in those cells."""
        d = np.full(len(C), np.inf)
        for ci, L in per_cell.items():
            rows = np.flatnonzero(cellarr == ci)
            codes = C[rows]
            # sequential left-to-right accumulation over the m
            # subspaces — the JVM aggregate fold's op order, so
            # pre-round values match ivfpq_topk bit-for-bit
            acc = L[0][codes[:, 0]]
            for j in range(1, m):
                acc = acc + L[j][codes[:, j]]
            # half-up, matching ivfpq_topk's F.round (np.round is
            # HALF_EVEN and flips dyadic .5 boundaries)
            d[rows] = _np_round6_half_up(acc)
        return d, np.isin(cellarr, list(per_cell))

    def score_batches(batches):
        for b in batches:
            cellarr = b.column("cell").to_numpy()
            C, ok = to_matrix(b.column("pq_codes"), np.int64, m)
            # a NULL or short code row reads as zeros: it is never picked
            cellarr = np.where(ok, cellarr, -1)
            yield _query_topk_batch(
                b.column(id_col), q_ids, keep_n, id_col, "adc_dist",
                descending=False,
                scored=(adc(per_cell, cellarr, C) for per_cell in luts),
            )[1]

    cands = idx.select(id_col, "cell", "pq_codes").mapInArrow(
        score_batches,
        schema=f"q_id {q_id_type}, {id_col} {id_type}, adc_dist double",
    )
    w = Window.partitionBy("q_id").orderBy(F.asc("adc_dist"), F.asc(id_col))
    merged = (
        cands.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= keep_n)
        .drop("__rn")
    )
    if refine_with is None:  # keep_n == k_top here — merged IS the answer
        return merged.orderBy("q_id", F.asc("adc_dist"), F.asc(id_col))

    # exact re-rank of the per-query shortlists: the candidate set is
    # model-sized (Q * refine_factor * k_top), so it broadcasts to the
    # vector table and the exact scores run in one small Arrow kernel
    joined = refine_with.select(F.col(id_col), F.col(vec_col)).join(
        F.broadcast(merged), id_col
    )

    # strict left-to-right float64 fold: np.add.accumulate is defined
    # as a sequential scan (r[i] = r[i-1] + a[i]), unlike np.sum /
    # "@" which use pairwise/BLAS reductions — this mirrors the JVM
    # aggregate fold of ivfpq_topk so pre-round values match
    # bit-for-bit, not just to the 6-dp grid
    def seq_sum(A):
        return np.add.accumulate(A, axis=1)[:, -1]

    qnorm = np.sqrt(seq_sum(Qm * Qm))
    ecol = "exact_dist" if refine_metric == "l2" else "exact_score"

    def exact_batches(batches):
        for b in batches:
            X, ok = to_matrix(b.column(vec_col), dim=dim)
            qpos = pc.index_in(b.column("q_id"), value_set=q_ids).to_numpy(
                zero_copy_only=False
            )
            Q = Qm[qpos]
            if refine_metric == "l2":
                d = X - Q
                v = seq_sum(d * d)
            else:
                den = np.sqrt(seq_sum(X * X)) * qnorm[qpos]
                ok &= den != 0.0
                with np.errstate(divide="ignore", invalid="ignore"):
                    v = seq_sum(X * Q) / den
            # half-up like the per-query path's F.round
            v = np.copysign(np.floor(np.abs(v) * 1e6 + 0.5), v) / 1e6
            yield pa.RecordBatch.from_arrays(
                [b.column("q_id"), b.column(id_col), b.column("adc_dist"),
                 from_vector(v, ok)],
                names=["q_id", id_col, "adc_dist", ecol],
            )

    exact = joined.mapInArrow(
        exact_batches,
        schema=(
            f"q_id {q_id_type}, {id_col} {id_type}, adc_dist double, "
            f"{ecol} double"
        ),
    )
    eorder = (
        [F.asc_nulls_last(ecol), F.asc(id_col)]
        if refine_metric == "l2"
        else [F.desc_nulls_last(ecol), F.asc(id_col)]
    )
    we = Window.partitionBy("q_id").orderBy(*eorder)
    return (
        exact.withColumn("__rn", F.row_number().over(we))
        .filter(F.col("__rn") <= k_top)
        .drop("__rn")
        .orderBy("q_id", *eorder)
    )
