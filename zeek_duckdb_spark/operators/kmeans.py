"""Trained k-means centroids for IVF ANN — Lloyd's algorithm as a
Spark-first, cross-engine-reproducible operator.

Why a hand-rolled Lloyd instead of ``pyspark.ml.clustering.KMeans``:
the MLlib trainer is RNG-seeded (k-means||), float32, and iteration
counts depend on convergence tolerance — none of which an independent
SQL oracle can restate.  This implementation is bit-deterministic end
to end, so a DuckDB oracle reproduces the *exact* centroids, cell
assignments, and final top-k:

- training runs over int8-QUANTIZED vectors
  (:func:`similarity.quantize_embeddings`): every distributed sum in
  the centroid update is an exact int64 sum (order-independent — THE
  property doubles lack), and mean = CAST(sum AS DOUBLE)/count is one
  correctly-rounded division.  Identical in any engine, any partition
  order, any cluster size;
- init = the ``k`` lowest-id vectors (deterministic, no RNG);
- assignment = argmax cosine, zero shuffle: a numpy batch map in the
  Lloyd passes and ``kmeans_ivf_topk``, a centroid array LITERAL
  (pure column expression) in the landed index; both fold in the same
  sequential order, and cosine ties break to the HIGHER cell
  (max-struct semantics), mirrored by the oracle's
  ``ORDER BY sim DESC, cell DESC``;
- the only shuffle per iteration carries K×(dim+1) partial-aggregate
  values (map-side combined) — at 100 TB the corpus never moves, only
  centroid statistics do;
- the final re-rank uses exact int64 quantized dot products
  (:func:`similarity.quantized_topk` arithmetic).

All-zero quantized vectors (degenerate after scaling) are excluded up
front — the module-wide degenerate-vector policy of ``similarity``.

Reference scope note: the reference engine (a DuckDB Zeek-scan
extension) has no ANN/clustering surface; this operator is part of the
training-data-pipeline extension suite (SURVEY.md "beyond the
reference" track).
"""

# no `from __future__ import annotations` — keep parity with the other
# operator modules that mix Column lambdas and typing.

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from zeek_duckdb_spark.operators.similarity import (
    _assign_cells,
    _cosine_argmax_np,
    _np_cent_geometry,
    _np_round6_half_up,
    _query_topk_batch,
    quantize_embeddings,
)

__all__ = [
    "kmeans_fit_quantized",
    "kmeans_parallel_init",
    "kmeans_ivf_topk",
    "ivf_write",
    "ivf_append",
    "ivf_probe_topk",
    "ivf_probe_topk_batch",
]


def _argmax_cell(vec_name: str, cents: list[tuple[int, list[float]]]) -> Column:
    """Nearest-centroid cell by cosine over the named int-array column,
    as a pure column expression with the centroids inlined (zero
    shuffle; ties -> higher cell via max-struct lexicographic
    comparison).

    Generated as ONE SQL string: the Column-API equivalent builds
    K·dim literal nodes through py4j (~0.5 s per call at K=8, dim=64 —
    and fit+assign needs it iters+1 times); one server-side parse costs
    milliseconds (the minhash_signatures lesson).  The cosine text
    restates ``similarity.cosine`` exactly — same sequential zip_with/
    aggregate folds, same nullif zero-norm guard — so values are
    bit-identical to the Column form (the sim_kmeans_ivf oracle pins
    this).  The row and its norm are lambda variables (the norm is its
    fold's ``finish`` variable), so no row-level fold re-runs in each
    centroid's lambda (tests/test_vector_plans.py).
    Used for one-shot assignment where the plan must stay Python-free
    (ivf_write, ivf_append, pipeline.balance_clusters: with the
    quantize expression their plans hold no Python node), and as the
    reference the numpy assignment kernels are tested against."""
    cents_sql = "array(" + ", ".join(
        "named_struct('cell', CAST(%d AS BIGINT), 'c_vec', array(%s))"
        % (int(c), ", ".join(f"{float(x)!r}D" for x in v))
        for c, v in cents
    ) + ")"

    def dot(a, b, finish=""):
        return (
            f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
            f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v{finish})"
        )

    cos = (
        f"{dot('r', 'c.c_vec')} / "
        f"nullif(sqrt(xx) * sqrt({dot('c.c_vec', 'c.c_vec')}), CAST(0.0 AS DOUBLE))"
    )
    best = (
        f"array_max(transform({cents_sql}, "
        f"c -> named_struct('sim', {cos}, 'cell', c.cell)))['cell']"
    )
    # the row binds as lambda variable r: an expression a pushed-down
    # filter substitutes for the column then runs once, not per centroid
    row = "coalesce(r, array())"  # NULL row: all sims NULL
    norm = dot(row, row, finish=f", xx -> {best}")
    return F.expr(f"transform(array({vec_name}), r -> {norm})[0]")


def _quantized_base(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    min_parallelism: int | None,
) -> DataFrame:
    """(id, qvec) with degenerate rows dropped; widened to
    ``min_parallelism`` partitions when the scan delivers fewer —
    see :func:`plans.scanstats.ensure_min_parallelism` (file-size
    estimate, no driver-side plan->RDD conversion; the repartition
    lands on the RAW input, before the quantize projection)."""
    from zeek_duckdb_spark.plans.scanstats import ensure_min_parallelism

    src = ensure_min_parallelism(df, min_parallelism)
    dq = quantize_embeddings(src, id_col, vec_col)
    return dq.filter("nonzero").select(F.col(id_col), F.col("qvec"))


def _kmeans_lloyd_partials_arrow(
    base: DataFrame, cents: list[tuple[int, list[float]]]
) -> dict[int, tuple[int, list[int]]]:
    """One Lloyd pass as per-partition partials {cell: (n, int64 sums)}
    merged driver-side with exact integer adds — no crossJoin, no
    groupBy shuffle, no interpreted HOF fold (the pq._lloyd_partials_
    arrow shape applied to the cosine-assignment trainer)."""
    import numpy as np
    import pyarrow as pa

    from zeek_duckdb_spark.operators.arrowvec import from_matrix, to_matrix

    cell_ids, C, cn = _np_cent_geometry(cents)
    k, dim = C.shape

    def fn(batches):
        n_acc = np.zeros(k, dtype=np.int64)
        s_acc = np.zeros((k, dim), dtype=np.int64)
        for b in batches:
            X, ok = to_matrix(b.column("qvec"), np.int64, dim)
            if not ok.all():  # a vector of the wrong length joins no cell
                X = X[ok]
            pos = _cosine_argmax_np(X.astype(np.float64), C, cn)
            for j in np.unique(pos):
                sel = X[pos == j]
                n_acc[j] += len(sel)
                s_acc[j] += sel.sum(axis=0)
        live = np.nonzero(n_acc)[0]
        yield pa.RecordBatch.from_arrays(
            [pa.array(cell_ids[live]), pa.array(n_acc[live]),
             from_matrix(s_acc[live])],
            names=["cell", "n", "s"],
        )

    schema = T.StructType(
        [
            T.StructField("cell", T.LongType()),
            T.StructField("n", T.LongType()),
            T.StructField("s", T.ArrayType(T.LongType())),
        ]
    )
    merged: dict[int, tuple[int, list[int]]] = {}
    for r in base.select("qvec").mapInArrow(fn, schema=schema).collect():
        c = int(r["cell"])
        n0, s0 = merged.get(c, (0, [0] * dim))
        merged[c] = (n0 + int(r["n"]), [a + int(b) for a, b in zip(s0, r["s"])])
    return merged


def kmeans_fit_quantized(
    df: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_parallelism: int | None = None,
    init_centroids: list[tuple[int, list[float]]] | None = None,
    _base: DataFrame | None = None,
) -> list[tuple[int, list[float]]]:
    """Fit ``k`` centroids with ``iters`` Lloyd iterations over the
    int8-quantized corpus.  Returns ``[(cell, centroid)]`` with
    ``cell`` in 0..k-1 (init order) — small driver-side state (K·dim
    doubles), the legitimate "model" side of the computation; the
    corpus itself never leaves the executors.

    Each Lloyd pass is ONE mapInArrow job of per-partition (cell, n,
    int64-sum) partials merged driver-side — no crossJoin, no groupBy
    shuffle, and no interpreted cosine-fold HOFs on the corpus.
    Assignment arithmetic follows :func:`_argmax_cell`'s sequential
    fold exactly, so the fitted centroids are IDENTICAL to a plain
    sequential Lloyd a SQL oracle restates (pinned by
    tests/test_kmeans.py).

    ``init_centroids`` WARM-STARTS Lloyd from a previously fitted
    model (e.g. yesterday's :func:`ivf_write` return) instead of the
    k-lowest-id cold init — the daily-crawl maintenance shape: refresh
    the model with one or two iterations over corpus+delta rather than
    refitting from scratch.  ``k`` is taken from the list; cells keep
    their identity, so a persisted partition layout stays comparable
    across refreshes.  Warm-starting with ``iters=0`` returns the
    model unchanged (useful for assignment-only flows).

    Exactness contract: centroids are bit-identical across engines and
    partitionings because every component is
    ``exact_int64_sum / count`` (one rounded division).  The int64 sum
    is exact below 2^63; its double cast rounds above 2^53 — at
    127 · 9e15 rows per cell that bound is still far away.
    A cell that captures no rows keeps its previous centroid.
    """
    if k < 1 or iters < 0:
        raise ValueError("kmeans_fit_quantized: need k >= 1, iters >= 0")
    base = _base if _base is not None else _quantized_base(
        df, id_col, vec_col, min_parallelism
    )
    # Lloyd re-scans the corpus every iteration; persist the quantized
    # form so iterations don't re-run the parquet scan + quantize fold
    # (MEMORY_AND_DISK — at 100 TB this is the standard trained-model
    # iteration cache, spilled if it doesn't fit)
    owns_cache = _base is None
    if owns_cache:
        base = base.persist()
    if init_centroids is not None:
        cents = [(int(c), [float(x) for x in v]) for c, v in init_centroids]
        if not cents:
            raise ValueError("kmeans_fit_quantized: init_centroids is empty")
        dims = {len(v) for _, v in cents}
        if len(dims) != 1:
            raise ValueError(
                f"kmeans_fit_quantized: init_centroids have mixed dims {sorted(dims)}"
            )
        if len({c for c, _ in cents}) != len(cents):
            raise ValueError(
                "kmeans_fit_quantized: init_centroids carry duplicate cell ids"
            )
        if iters > 0:
            # one lightweight row probe: warm-starting yesterday's
            # model against a re-embedded corpus of a different dim
            # would otherwise aggregate truncated geometry silently
            probe = base.select(F.size("qvec").alias("__d")).first()
            if probe is not None and probe["__d"] != dims.pop():
                raise ValueError(
                    f"kmeans_fit_quantized: init_centroids dim "
                    f"{len(cents[0][1])} != corpus dim {probe['__d']}"
                )
    else:
        init_rows = base.orderBy(F.asc(id_col)).limit(k).collect()
        if len(init_rows) < k:
            raise ValueError(
                f"kmeans_fit_quantized: corpus has {len(init_rows)} usable rows < k={k}"
            )
        cents = [
            (i, [float(v) for v in r["qvec"]]) for i, r in enumerate(init_rows)
        ]
    try:
        for _ in range(iters):
            merged = _kmeans_lloyd_partials_arrow(base, cents)
            means = {c: [s / n for s in ss] for c, (n, ss) in merged.items()}
            cents = [(c, means.get(c, v)) for c, v in cents]
    finally:
        if owns_cache:
            base.unpersist()
    return cents


def kmeans_ivf_topk(
    df: DataFrame,
    query: DataFrame,
    k: int = 10,
    n_centroids: int = 8,
    nprobe: int = 2,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
    min_parallelism: int | None = None,
) -> DataFrame:
    """IVF ANN with TRAINED centroids: fit Lloyd centroids, assign the
    corpus (zero-shuffle argmax), probe the query's ``nprobe`` best
    cells, exact re-rank inside probed cells with int64 quantized dot
    products.  Output: (id, cosine_sim) — quantized cosine, 6 dp.

    Probe selection runs driver-side over the K centroids (K doubles of
    state, not data) with the same left-to-right float fold the SQL
    oracle uses — bit-identical.

    ONE-SHOT API: every call re-runs the Lloyd fit AND the corpus
    assignment, so its s/query is train+build+probe — the recall
    tables' ~8 s/query at 100k vectors is that, not serving cost.
    For repeated queries land the assignment once with
    :func:`ivf_write` and probe with :func:`ivf_probe_topk`
    (partition-pruned scan; see SCALING.md's serving table for the
    measured gap).

    One quantized-base lineage is shared by the fit iterations and the
    final assignment; with the parallelism guard its recompute per
    action is a wide cheap map, so no persist is held beyond the fit
    loop's own (which would outlive this call in the returned lazy
    DataFrame).
    """
    base = _quantized_base(df, id_col, vec_col, min_parallelism)
    cents = kmeans_fit_quantized(
        df, n_centroids, iters, id_col, vec_col, _base=base
    )
    assigned = _assign_cells(base, cents)

    q_rows = (
        quantize_embeddings(query, query_id_col, vec_col)
        .select(F.col(query_id_col).alias("q_id"), F.col("qvec"))
        .collect()
    )
    if len(q_rows) != 1:
        raise ValueError(
            f"kmeans_ivf_topk: query must be exactly one row, got {len(q_rows)}"
        )
    q_id, q_qvec = q_rows[0]["q_id"], [int(v) for v in q_rows[0]["qvec"]]

    qd = [float(v) for v in q_qvec]
    probe_scored = sorted(
        # zero-norm centroids are excluded from probe ranking: their
        # cosine is undefined, and the two engines order undefined
        # scores oppositely (_seq_cosine's -inf sorts last; the
        # oracle's NaN sorts FIRST under DuckDB ORDER BY DESC) — the
        # oracle applies the same exclusion
        (
            (c, _seq_cosine(qd, v))
            for c, v in cents
            if any(x != 0.0 for x in v)
        ),
        key=lambda t: (-t[1], t[0]),
    )
    probe_cells = [c for c, _ in probe_scored[:nprobe]]

    q_lit = F.array(*[F.lit(v) for v in q_qvec])
    idot = F.aggregate(
        F.zip_with(F.col("qvec"), q_lit, lambda a, b: a.cast("long") * b.cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    inorm = lambda c: F.aggregate(  # noqa: E731
        F.transform(c, lambda v: v.cast("long") * v.cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    qdenom = F.nullif(
        F.sqrt(inorm(F.col("qvec"))) * F.sqrt(inorm(q_lit)), F.lit(0.0)
    )
    scored = (
        assigned.filter(F.col("cell").isin([int(c) for c in probe_cells]))
        .filter(F.col(id_col) != F.lit(q_id))
        .select(
            F.col(id_col),
            F.round(idot / qdenom, 6).alias("cosine_sim"),
        )
    )
    # post-limit degenerate-row trim — see similarity.topk_neighbors:
    # a pre-sort filter on the aliased score is pushed below the
    # projection and re-evaluates the integer fold per row
    return (
        scored.orderBy(F.desc_nulls_last("cosine_sim"), F.asc(id_col))
        .limit(k)
        .filter(F.col("cosine_sim").isNotNull())
    )


def _index_rows(df: DataFrame, cents, id_col: str, vec_col: str) -> DataFrame:
    """The (id, vec, qvec, cell) rows ivf_write and ivf_append land,
    degenerate vectors dropped."""
    dq = quantize_embeddings(df, id_col, vec_col, keep=(vec_col,))
    return dq.filter("nonzero").select(
        id_col, vec_col, "qvec", _argmax_cell("qvec", cents).alias("cell")
    )


def ivf_write(
    df: DataFrame,
    path: str,
    n_centroids: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Materialize the IVF index: fit centroids, assign the corpus, and
    write it PARTITIONED BY CELL (``path/cell=<c>/...parquet``).  This
    is the 100 TB serving layout — a probe then reads only its cells'
    files via partition pruning instead of scanning the corpus (see
    :func:`ivf_probe_topk`, and the plan test asserting the pruned
    scan).  Returns the fitted centroids; persist them next to the
    index (they are K·dim doubles — the "model" is trivially small).

    The write repartitions by cell so each cell lands as one file set
    written by one task — without it every task would open a file per
    cell (small-files explosion at scale).
    """
    cents = kmeans_fit_quantized(df, n_centroids, iters, id_col, vec_col)
    (
        _index_rows(df, cents, id_col, vec_col)
        .repartition("cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(path)
    )
    return cents


def ivf_append(
    df_new: DataFrame,
    path: str,
    cents: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Append a NEW batch into a materialized IVF index
    (:func:`ivf_write` layout) against FIXED centroids — the
    daily-crawl serving story: yesterday's index stands, today's
    crawl assigns + appends, nothing is rebuilt and no existing file
    is touched.

    Correctness hinges on assignment being a pure per-row function of
    (vector, centroids): quantization scale is PER-VECTOR
    (``similarity.quantize_embeddings``), so a new row's cell doesn't
    depend on corpus statistics, and append == full rebuild at the
    same centroids (pinned by tests/test_kmeans_incremental.py).
    Partition pruning in :func:`ivf_probe_topk` keeps working — new
    files land under the same ``cell=<c>/`` directories.

    Scale shape: one zero-shuffle argmax map over the batch + one
    repartition("cell") of the BATCH only (so each touched cell gains
    one file set, not one file per task); the standing index never
    moves.  Each append adds one file per touched ``cell=`` directory,
    so probes slowly go metadata-bound — run :func:`ivf_compact` on a
    maintenance cadence to fold them back to size-targeted files with
    the cell layout (and therefore probe pruning) preserved.

    Drift note: appends reuse yesterday's model, so centroids slowly
    stale as the distribution moves; refresh with
    ``kmeans_fit_quantized(corpus, init_centroids=cents, iters=1)``
    and re-land when probe recall degrades.
    """
    (
        _index_rows(df_new, cents, id_col, vec_col)
        .repartition("cell")
        .write.mode("append")
        .partitionBy("cell")
        .parquet(path)
    )


def ivf_compact(
    spark, path: str, target_file_bytes: int = 128 << 20
) -> dict:
    """Small-file maintenance for an :func:`ivf_write` +
    :func:`ivf_append` landing: folds the one-file-per-append
    accumulation in each ``cell=`` directory back to size-targeted
    files, preserving the cell layout (``sources.sink.compact_landing``
    with per-partition file targets and the atomic swap), so
    :func:`ivf_probe_topk` pruning and future appends are unchanged.
    Rows are untouched — append == rebuild parity still holds."""
    from zeek_duckdb_spark.sources.sink import compact_landing

    return compact_landing(
        spark, path, target_file_bytes, partition_col=["cell"]
    )


def ivf_probe_topk(
    spark,
    path: str,
    cents: list[tuple[int, list[float]]],
    query: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
) -> DataFrame:
    """Probe a materialized IVF index (:func:`ivf_write`): pick the
    query's ``nprobe`` best cells driver-side (K cosines over the tiny
    centroid model), then scan ONLY those cells' files —
    ``cell IN (...)`` is a partition filter, so the other cells' data
    is never read (PartitionFilters in the scan, proven in
    tests/test_plans.py).  Exact quantized re-rank inside the probed
    cells, same scoring as :func:`kmeans_ivf_topk`."""
    q_rows = (
        quantize_embeddings(query, query_id_col, vec_col)
        .select(F.col(query_id_col).alias("q_id"), F.col("qvec"))
        .collect()
    )
    if len(q_rows) != 1:
        raise ValueError(
            f"ivf_probe_topk: query must be exactly one row, got {len(q_rows)}"
        )
    q_id, q_qvec = q_rows[0]["q_id"], [int(v) for v in q_rows[0]["qvec"]]

    qd = [float(v) for v in q_qvec]
    probe_scored = sorted(
        # zero-norm centroids excluded — see kmeans_ivf_topk
        (
            (c, _seq_cosine(qd, v))
            for c, v in cents
            if any(x != 0.0 for x in v)
        ),
        key=lambda t: (-t[1], t[0]),
    )
    probe_cells = [int(c) for c, _ in probe_scored[:nprobe]]

    idx = spark.read.parquet(path).filter(F.col("cell").isin(probe_cells))
    q_lit = F.array(*[F.lit(v) for v in q_qvec])
    idot = F.aggregate(
        F.zip_with(F.col("qvec"), q_lit, lambda a, b: a.cast("long") * b.cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    inorm = lambda c: F.aggregate(  # noqa: E731
        F.transform(c, lambda v: v.cast("long") * v.cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    qdenom = F.nullif(
        F.sqrt(inorm(F.col("qvec"))) * F.sqrt(inorm(q_lit)), F.lit(0.0)
    )
    scored = idx.filter(F.col(id_col) != F.lit(q_id)).select(
        F.col(id_col), F.round(idot / qdenom, 6).alias("cosine_sim")
    )
    return (
        scored.orderBy(F.desc_nulls_last("cosine_sim"), F.asc(id_col))
        .limit(k)
        .filter(F.col("cosine_sim").isNotNull())
    )


def ivf_probe_topk_batch(
    spark,
    path: str,
    cents: list[tuple[int, list[float]]],
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
    max_batch: int = 65536,
) -> DataFrame:
    """Probe a materialized IVF index for MANY queries at once — the
    retrieval serving shape (a request batch of hundreds/thousands of
    queries, not one).  ``queries`` is a REQUEST BATCH, not a corpus:
    it is collected to the driver (the probe-cell selection and the
    scoring matmul want it as one dense matrix), so a corpus-sized
    DataFrame here would OOM the driver — the loud ``max_batch`` guard
    (default 65536: a 65536 x dim int64 matrix is ~0.5 GB at dim 1024,
    plus Q x nprobe cell lists) refuses before collecting; raise it
    deliberately if your driver is sized for more, or split the
    request stream into batches upstream.  :func:`ivf_probe_topk` pays one partition-
    pruned scan PER query; here the whole batch pays ONE scan of the
    UNION of its touched cells, and every Arrow batch of index rows is
    scored against all queries with a single int64 matmul — the
    ``topk_neighbors_batch`` recipe applied to the landed layout.

    Per query the result is IDENTICAL to :func:`ivf_probe_topk`:
    probe-cell selection reuses the same sequential cosine fold over
    the centroid model (driver-side, Q x K folds over a tiny model),
    scoring is the same exact int64 quantized dot (matmul of int64 is
    still exact integer arithmetic) with the same float64
    denominator / 6-dp round / (sim DESC, id ASC) tie-break, rows in
    cells outside a query's own nprobe set are masked out even when
    another query's probe pulled them into the scan, and self-matches
    are excluded.

    Scale shape: one partition-pruned scan (PartitionFilters on the
    union cell set); the kernel emits <= k rows per query per Arrow
    batch, so the merge window's shuffle is bounded by k·Q·batches —
    the corpus never leaves the scan stage.  Output: (q_id, id,
    cosine_sim), exactly k per query (fewer if the probed cells hold
    fewer valid rows)."""
    import numpy as np
    import pyarrow.compute as pc

    from pyspark.sql import Window

    from zeek_duckdb_spark.operators.arrowvec import to_matrix

    if max_batch < 1:
        raise ValueError("ivf_probe_topk_batch: max_batch must be >= 1")
    # limit(max_batch + 1), never a plain collect: a corpus passed by
    # mistake costs one bounded fetch and a clear error, not a driver OOM
    qt = (
        quantize_embeddings(queries, query_id_col, vec_col)
        .select(F.col(query_id_col).alias("q_id"), F.col("qvec"))
        .limit(max_batch + 1)
        .toArrow()
    )
    if qt.num_rows > max_batch:
        raise ValueError(
            f"ivf_probe_topk_batch: queries holds more than max_batch="
            f"{max_batch} rows — this serves a REQUEST BATCH collected "
            "to the driver, not a corpus; split the requests into "
            "batches or raise max_batch if the driver is sized for it"
        )
    if qt.num_rows == 0:
        raise ValueError("ivf_probe_topk_batch: queries is empty")
    q_ids = qt.column("q_id").combine_chunks()
    if len(set(q_ids.to_pylist())) != len(q_ids):
        raise ValueError("ivf_probe_topk_batch: duplicate query ids")
    Qq, _ = to_matrix(qt.column("qvec").combine_chunks(), np.int64)

    live_cents = [(c, v) for c, v in cents if any(x != 0.0 for x in v)]
    allowed: list[np.ndarray] = []
    union_cells: set[int] = set()
    for row in Qq:
        qd = [float(v) for v in row]
        scored = sorted(
            ((c, _seq_cosine(qd, v)) for c, v in live_cents),
            key=lambda t: (-t[1], t[0]),
        )
        cells = [int(c) for c, _ in scored[:nprobe]]
        allowed.append(np.asarray(cells, dtype=np.int64))
        union_cells.update(cells)

    full = spark.read.parquet(path)
    idx = full.filter(F.col("cell").isin(sorted(union_cells)))
    qn = np.sqrt((Qq.astype(np.float64) ** 2).sum(axis=1))
    q_id_type = queries.schema[query_id_col].dataType.simpleString()
    id_type = full.schema[id_col].dataType.simpleString()

    def score_batches(batches):
        for b in batches:
            ids = b.column(id_col)
            cells = b.column("cell").to_numpy()
            X, _ = to_matrix(b.column("qvec"), np.int64, Qq.shape[1])
            dots = X @ Qq.T  # exact int64 — the quantized-dot contract
            xn = np.sqrt((X.astype(np.float64) ** 2).sum(axis=1))
            # round BEFORE the cut — the per-batch ordering must be the
            # global (rounded DESC, id ASC) key or boundary picks would
            # depend on Arrow batch boundaries; half-up to match the
            # per-query path's F.round exactly
            sims = _np_round6_half_up(
                dots.astype(np.float64) / (xn[:, None] * qn[None, :])
            )
            # a NULL id is never picked: the per-query path's JVM
            # `col != lit` is NULL there, which filters the row
            yield _query_topk_batch(
                ids, q_ids, k, id_col, "cosine_sim", descending=True,
                scored=(
                    (sims[:, j], np.isin(cells, allowed[j])
                     & np.isfinite(sims[:, j])
                     & pc.fill_null(pc.not_equal(ids, q_ids[j]), False)
                     .to_numpy(zero_copy_only=False))
                    for j in range(len(q_ids))
                ),
            )[1]

    cands = idx.select(id_col, "cell", "qvec").mapInArrow(
        score_batches,
        schema=f"q_id {q_id_type}, {id_col} {id_type}, cosine_sim double",
    )
    w = Window.partitionBy("q_id").orderBy(
        F.desc("cosine_sim"), F.asc(id_col)
    )
    return (
        cands.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
        .orderBy("q_id", F.desc("cosine_sim"), F.asc(id_col))
    )


def _seq_cosine(a: list[float], b: list[float]) -> float:
    """Sequential left-to-right cosine fold — the same IEEE op sequence
    as the SQL oracle restatement (shared by probe selection here and
    in kmeans_ivf_topk)."""
    num = na = nb = 0.0
    for x, y in zip(a, b):
        num += x * y
    for x in a:
        na += x * x
    for y in b:
        nb += y * y
    d = (na ** 0.5) * (nb ** 0.5)
    return num / d if d != 0.0 else float("-inf")


def _cosine_cost_np(Xf, C, cn):
    """Per-row spherical k-means cost vs the candidate set:
    d(x) = 1 - max cosine(x, C), clamped at 0 (a float max a hair over
    1.0 must not produce a negative sampling probability).  Zero-norm
    products score -inf in the shared sim core, so their cost clamps
    to the maximum 2.0."""
    import numpy as np

    from zeek_duckdb_spark.operators.similarity import _cosine_sim_np

    best = _cosine_sim_np(Xf, C, cn).max(axis=1)
    return np.clip(np.minimum(2.0, 1.0 - best), 0.0, 2.0)


def kmeans_parallel_init(
    df: DataFrame,
    k: int = 8,
    rounds: int = 3,
    oversample: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
    min_parallelism: int | None = None,
    lloyd_iters: int = 5,
) -> list[tuple[int, list[float]]]:
    """Deterministic kmeans|| seeding (Bahmani, Moseley, Vattani,
    Kumar, Vassilvitskii 2012, "Scalable K-Means++") for the spherical
    trainer: returns ``[(cell, centroid)]`` in the quantized-vector
    space, ready for ``kmeans_fit_quantized(init_centroids=...)``.

    Why: the trainer's cold init (k lowest ids) is arbitrary — if the
    low ids cluster together, Lloyd starts with stacked centroids and
    converges to a lopsided model.  k-means++ fixes quality but is
    inherently sequential (k corpus passes); kmeans|| oversamples
    ~``oversample`` candidates per round for O(rounds) passes, then
    clusters the CANDIDATES (model-sized) down to k driver-side.

    Determinism (no RNG anywhere): the per-row coin is
    ``md5(id:round:seed)`` scaled to [0, 1) — a pure row function —
    and the sampling threshold's cost sum phi is fsum-merged and
    ROUNDED to 12 significant digits, so per-partition float partial
    order (the one partitioning-dependent quantity in the round)
    cannot move the threshold; a candidate flip would need a coin
    within ~1e-12 relative of its cost boundary.  The driver-side
    reduction is greedy farthest-point (max weighted cost) + weighted
    Lloyd, both order-deterministic.

    Scale shape: each round is TWO corpus passes (cost-sum aggregate,
    then the sampling filter — both zero-shuffle numpy maps over the
    persisted quantized base); the candidate set (~rounds *
    oversample rows) and everything after it is driver-side model
    work.  At 100 TB run it on ``train_sample``-style subsets like any
    seeding pass.

    Cost uses the spherical distance d(x) = 1 - max cos(x, C) (the
    trainer assigns by cosine; the classic paper states L2 — the
    oversampling argument carries over as a heuristic, which is all a
    seeding needs).
    """
    import numpy as np
    import pyarrow as pa

    from zeek_duckdb_spark.operators.arrowvec import to_matrix
    from zeek_duckdb_spark.operators.hashutil import md5_long

    if k < 1 or rounds < 1:
        raise ValueError("kmeans_parallel_init: need k >= 1, rounds >= 1")
    l = oversample if oversample is not None else 2 * k
    if l < 1:
        raise ValueError("kmeans_parallel_init: oversample must be >= 1")
    base = _quantized_base(df, id_col, vec_col, min_parallelism).persist()
    try:
        first = base.orderBy(F.asc(id_col)).limit(1).collect()
        if not first:
            raise ValueError("kmeans_parallel_init: corpus is empty")
        cands: dict[int, list[float]] = {
            int(first[0][id_col]): [float(v) for v in first[0]["qvec"]]
        }
        # the uniform coin rides as a JVM column; the numpy kernel only
        # computes the cost threshold
        u = (
            md5_long(
                F.concat_ws(
                    ":", F.col(id_col).cast("string"), F.lit("kmpp"),
                    F.lit(str(seed)),
                ),
                chars=13,
            )
            / F.lit(float(1 << 52))
        ).alias("__u")
        coin = base.select(F.col(id_col), F.col("qvec"), u)
        for rnd in range(rounds):
            cell_ids, C, cn = _np_cent_geometry(sorted(cands.items()))

            def cost_fn(batches, C=C, cn=cn):
                phi = 0.0
                for b in batches:
                    Xf, _ = to_matrix(b.column("qvec"), dim=C.shape[1])
                    phi += float(_cosine_cost_np(Xf, C, cn).sum())
                yield pa.RecordBatch.from_pydict({"phi": [phi]})

            parts = base.select("qvec").mapInArrow(
                cost_fn, schema="phi double"
            ).collect()
            import math as _math

            # fsum + 12-sig-digit rounding: the partials arrive in
            # partition order, and a raw float sum could move the
            # threshold by an ulp between partitionings
            phi = float(f"{_math.fsum(r['phi'] for r in parts):.12g}")
            if phi <= 0.0:
                break  # every row sits on a candidate already

            def sample_fn(batches, C=C, cn=cn, thr=l / phi):
                for b in batches:
                    Xf, _ = to_matrix(b.column("qvec"), dim=C.shape[1])
                    cost = _cosine_cost_np(Xf, C, cn)
                    u = b.column("__u").to_numpy(zero_copy_only=False)
                    yield b.filter(pa.array(u < cost * thr))

            picked = coin.mapInArrow(sample_fn, schema=coin.schema).collect()
            for r in picked:
                cands.setdefault(int(r[id_col]), [float(v) for v in r["qvec"]])
        if len(cands) < k:
            raise ValueError(
                f"kmeans_parallel_init: only {len(cands)} candidates for k={k} "
                "— raise rounds/oversample or shrink k"
            )
        # weight candidates by captured row count (one partials pass),
        # then reduce driver-side
        counts = _kmeans_lloyd_partials_arrow(
            base, sorted(cands.items())
        )
        weights = {c: n for c, (n, _) in counts.items()}
    finally:
        base.unpersist()
    ids = sorted(cands)
    C = np.asarray([cands[c] for c in ids], dtype=np.float64)
    w = np.asarray([float(weights.get(c, 0)) for c in ids], dtype=np.float64)
    # greedy farthest-point picks (weighted): heaviest candidate first,
    # then argmax w * d^2 (ties -> lowest candidate id = list order)
    norms = np.sqrt((C * C).sum(axis=1))
    picked_idx = [int(np.argmax(w))]
    for _ in range(k - 1):
        P = C[picked_idx]
        pn = norms[picked_idx]
        with np.errstate(divide="ignore", invalid="ignore"):
            sim = (C @ P.T) / np.where(
                (norms[:, None] * pn[None, :]) == 0.0,
                np.inf,
                norms[:, None] * pn[None, :],
            )
        d = np.clip(1.0 - sim.max(axis=1), 0.0, 2.0)
        score = w * d * d
        score[picked_idx] = -1.0
        picked_idx.append(int(np.argmax(score)))
    cents = C[picked_idx].copy()
    # weighted spherical Lloyd over the candidate set (model-sized)
    for _ in range(lloyd_iters):
        cnorm = np.sqrt((cents * cents).sum(axis=1))
        with np.errstate(divide="ignore", invalid="ignore"):
            sim = (C @ cents.T) / np.where(
                (norms[:, None] * cnorm[None, :]) == 0.0,
                np.inf,
                norms[:, None] * cnorm[None, :],
            )
        assign = sim.argmax(axis=1)
        for j in range(k):
            sel = assign == j
            tw = w[sel].sum()
            if tw > 0:
                cents[j] = (C[sel] * w[sel, None]).sum(axis=0) / tw
    return [(i, [float(x) for x in cents[i]]) for i in range(k)]
