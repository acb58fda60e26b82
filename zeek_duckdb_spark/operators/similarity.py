"""Similarity search over embedding columns (array<float>).

- cosine/dot helpers are sequential-fold expressions
  (``zip_with`` + ``aggregate`` over doubles) so results are
  bit-reproducible across engines — the oracle SQL restates the same
  left-to-right double accumulation.
- ``topk_neighbors`` is the brute-force baseline: broadcast the query
  row(s), one narrow pass over the corpus, top-k via sort-limit (Spark
  executes as TakeOrderedAndProject — no full sort materialization).
- ``lsh_bucket_ann`` is the scale path: deterministic random-hyperplane
  signatures (hash-derived planes, no RNG state to ship), bucket join,
  re-rank inside buckets.  At 100 TB the bucket join replaces the
  O(n·q) scan with O(candidates).
- ``cosine_pairs`` (near-dup): all pairs above a threshold, LSH-bucketed
  unless exact=True.

Degenerate-vector policy (uniform across every operator here): a
zero-norm vector has an undefined cosine and is EXCLUDED from results.
Mechanically: ``cosine()`` null-guards the denominator (Spark 4 ANSI
mode would otherwise raise DIVIDE_BY_ZERO), so the expr folds yield
NULL — which sorts NULLS LAST under DESC and is trimmed by a cheap
POST-limit filter (a pre-sort filter on the aliased score would be
pushed below the projection and re-evaluate the whole interpreted fold
per row).  The numpy scorer of ``topk_neighbors_batch`` produces NaN
(IEEE 0/0) and masks it before its per-batch cut.  ``cosine_pairs``
drops both for free because ``NULL/NaN >= threshold`` is never true.
Without all this the paths disagree (Spark/DuckDB sort NaN first under
DESC; numpy lexsort sorts it last), so results would depend on which
path ran.
"""

import random

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "dot",
    "l2_norm",
    "cosine",
    "topk_neighbors",
    "topk_neighbors_batch",
    "hyperplane_signature",
    "lsh_bucket_ann",
    "ivf_assign",
    "ivf_topk",
    "cosine_pairs",
    "quantize_embeddings",
    "quantized_topk",
    "semantic_pairs",
    "semantic_dedup",
    "kcenter_select",
    "kcenter_covering_radius",
]


def _np_round6_half_up(a):
    """6-dp round matching Spark's ``F.round`` (HALF_UP, away from
    zero): ``sign(x) * floor(|x|*1e6 + 0.5) / 1e6``.  ``np.round`` is
    HALF_EVEN and flips exact dyadic half-boundary values (x.xxxxxx5)
    the JVM rounds up — the batch kernels that pin parity against a
    JVM ``F.round`` sibling must not use it.  NaN/inf pass through."""
    import numpy as np

    return np.sign(a) * np.floor(np.abs(a) * 1e6 + 0.5) / 1e6


def dot(a: Column, b: Column) -> Column:
    """Sequential double-precision dot product (deterministic order)."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """NULL (not an ANSI divide-by-zero error, not NaN) when either
    vector has zero norm — the top-k kernels then drop those rows, the
    module-wide degenerate-vector policy.  ``nullif`` rather than a
    ``when`` guard: Spark rewrites nullif with a common-expression ref,
    so the norm folds run ONCE (measured ~25% faster than the when
    guard on sf0.1, which re-evaluates the denominator in both the
    condition and the division)."""
    return dot(a, b) / F.nullif(l2_norm(a) * l2_norm(b), F.lit(0.0))


def topk_neighbors(
    df: DataFrame,
    query: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
) -> DataFrame:
    """Brute-force cosine top-k: broadcast ``query`` (one or few rows
    with a ``q_vec`` column and optional id), score every corpus row,
    take k.  Deterministic tie-break on id.

    Scores are the sequential zip_with/aggregate fold, bit-reproducible
    across engines (the oracle restates the same left-to-right
    accumulation).  Serving scores through numpy instead:
    :func:`topk_neighbors_batch` takes any number of query rows,
    one included, and is the faster path on large corpora (see
    SCALING.md "Cosine kernel A/B").
    """
    q = query
    if query_id_col is None:
        q = q.select(F.col(vec_col).alias("q_vec"))
        joined = df.crossJoin(F.broadcast(q))
        keys = []
    else:
        q = q.select(F.col(query_id_col).alias("q_id"), F.col(vec_col).alias("q_vec"))
        joined = df.crossJoin(F.broadcast(q)).filter(F.col(id_col) != F.col("q_id"))
        keys = ["q_id"]
    scored = joined.select(
        *keys,
        F.col(id_col),
        F.round(cosine(F.col(vec_col), F.col("q_vec")), 6).alias("cosine_sim"),
    )
    # degenerate rows carry a NULL score (cosine() nullif guard) and a
    # DESC sort is NULLS LAST, so they can only appear as padding when
    # fewer than k valid candidates exist — filter AFTER the limit
    # (<= k materialized rows).  A pre-sort filter on the aliased score
    # gets pushed below the projection and re-evaluates the whole
    # interpreted cosine fold per row (measured +30% on sim_topk).
    return (
        scored.orderBy(F.desc_nulls_last("cosine_sim"), F.asc(id_col))
        .limit(k)
        .filter(F.col("cosine_sim").isNotNull())
    )


def topk_neighbors_batch(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
    rescore: bool = False,
) -> DataFrame:
    """Cosine top-k for MANY query vectors at once — the batch-serving
    shape (score a whole eval/request batch against the corpus in one
    pass instead of Q separate scans).

    ``rescore=True``: the merged top-k rows get their ``cosine_sim``
    recomputed with the sequential expr fold (candidate rows carry
    their vectors — k·Q·#batches arrays through the merge shuffle, the
    corpus is still scanned once).  Use where an oracle compares exact
    values: numpy's pairwise/SIMD summation and banker's rounding are
    not bit-identical to a sequential fold, and a raw score within an
    ulp of a .5e-6 boundary could round differently between engines.
    Candidate SELECTION still uses the numpy scores (identical rows in
    practice); only the emitted values become fold-exact.

    Plan: the Q query vectors are collected once (a request batch, not
    data) and closed over by a mapInPandas kernel; every Arrow batch of
    corpus vectors is scored with ONE numpy ``M @ Q.T`` matmul, and
    only each batch's top-k rows PER QUERY are emitted
    (``≤ k·Q`` rows per batch — the corpus itself never leaves the
    scan stage).  A final window top-k merges the partial candidates;
    that shuffle moves candidate rows only, bounded by k·Q·#batches.

    Output: (q_id, id, cosine_sim) rows, exactly k per query, ordered
    within each query by (cosine_sim DESC, id ASC) — the same
    deterministic tie-break as :func:`topk_neighbors`.  The per-batch
    candidate cut sorts on the 6-dp ROUNDED scores (the same key the
    global window merge uses), so the emitted rows are independent of
    Arrow batching / partitioning and agree with topk_neighbors even
    when raw scores straddling the k boundary round equal.  Scores are
    one numpy matmul (pairwise/SIMD summation: not bit-identical to the
    expr fold before the round, identical rows after the 6-dp round in
    practice; ``rescore=True`` makes the values fold-exact).  Rows
    whose id equals the query id are excluded, matching
    topk_neighbors(query_id_col=...); rows whose score is NaN
    (zero-norm corpus vectors) are excluded, as topk_neighbors drops
    its NULL scores.  Id
    columns keep the input types (long, string, ... — derived from the
    input schemas, not hardcoded).
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql import Window

    id_type = df.schema[id_col].dataType.simpleString()
    q_id_type = queries.schema[query_id_col].dataType.simpleString()
    q_rows = queries.select(
        F.col(query_id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
    ).collect()
    if not q_rows:
        raise ValueError("topk_neighbors_batch: queries is empty")
    q_ids = np.asarray([r["q_id"] for r in q_rows])
    qm = np.asarray([list(r["q_vec"]) for r in q_rows], dtype=np.float64)
    qn = np.sqrt((qm * qm).sum(axis=1))

    def score_batches(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy()
            m = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64, copy=False)
            sims = (m @ qm.T) / (np.sqrt((m * m).sum(axis=1))[:, None] * qn[None, :])
            out_q, out_id, out_sim = [], [], []
            out_vec: list = []
            for j in range(len(q_ids)):
                mask = ids != q_ids[j]
                cand_ids = ids[mask]
                # round BEFORE the cut so the per-batch ordering is the
                # global (rounded sim DESC, id ASC) tie-break — raw-sim
                # ordering here would make boundary picks depend on
                # Arrow batch boundaries
                cand_sims = np.round(sims[:, j][mask], 6)
                valid = ~np.isnan(cand_sims)
                cand_ids, cand_sims = cand_ids[valid], cand_sims[valid]
                order = np.lexsort((cand_ids, -cand_sims))[:k]
                out_q.append(np.full(len(order), q_ids[j]))
                out_id.append(cand_ids[order])
                out_sim.append(cand_sims[order])
                if rescore:
                    vecs = pdf[vec_col].to_numpy()[mask][valid]
                    out_vec.extend(list(vecs[order]))
            yield pd.DataFrame(
                {
                    "q_id": np.concatenate(out_q),
                    id_col: np.concatenate(out_id),
                    "cosine_sim": np.concatenate(out_sim),
                    **(
                        {"__vec": pd.Series(out_vec, dtype="object")}
                        if rescore
                        else {}
                    ),
                }
            )

    vec_type = df.schema[vec_col].dataType.simpleString()
    extra = f", __vec {vec_type}" if rescore else ""
    cands = df.select(id_col, vec_col).mapInPandas(
        score_batches,
        schema=f"q_id {q_id_type}, {id_col} {id_type}, cosine_sim double{extra}",
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine_sim"), F.asc(id_col))
    top = (
        cands.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )
    if rescore:
        qf = queries.select(
            F.col(query_id_col).alias("q_id"), F.col(vec_col).alias("__q_vec")
        )
        top = (
            top.join(F.broadcast(qf), "q_id")
            .withColumn(
                "cosine_sim", F.round(cosine(F.col("__vec"), F.col("__q_vec")), 6)
            )
            .drop("__vec", "__q_vec")
        )
    return top.orderBy("q_id", F.desc("cosine_sim"), F.asc(id_col))


def plane_matrix(planes: int, dim: int, seed: int = 7) -> list[list[str]]:
    """Deterministic pseudo-random hyperplane components in [-1, 1),
    returned as 6-decimal strings.  Strings, not floats, so the SAME
    decimal literal is parsed to a double by Spark and by the oracle
    SQL — nearest-double parsing is identical in both engines."""
    rnd = random.Random(seed)
    return [
        [f"{rnd.uniform(-1.0, 1.0):.6f}" for _ in range(dim)] for _ in range(planes)
    ]


def hyperplane_signature(
    vec: Column, dim: int, planes: int = 16, seed: int = 7
) -> Column:
    """LSH signature: bit p = sign of <vec, plane_p>.  Returned as a
    long bucket id.

    The plane matrix is ONE array-of-arrays literal (constant-folded by
    Catalyst) and the projection is aggregate(zip_with(...)) — the
    expression tree is constant-size in ``dim``, so this compiles at
    dim=768+ where an unrolled sum of dim*planes multiply nodes would
    blow past codegen limits.  Pure column expressions — no UDF.
    """
    mat = plane_matrix(planes, dim, seed)
    planes_lit = F.array(
        *[F.array(*[F.lit(float(s)) for s in row]) for row in mat]
    )
    vec_d = F.transform(vec, lambda x: x.cast("double"))
    bits = F.transform(
        planes_lit,
        lambda plane, i: F.when(
            F.aggregate(
                F.zip_with(vec_d, plane, lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            > 0,
            F.call_function("shiftleft", F.lit(1).cast("long"), i),
        ).otherwise(F.lit(0).cast("long")),
    )
    return F.aggregate(bits, F.lit(0).cast("long"), lambda acc, x: acc + x)


def lsh_bucket_ann(
    df: DataFrame,
    query: DataFrame,
    dim: int,
    k: int = 10,
    planes: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_hamming: int = 0,
) -> DataFrame:
    """ANN via hyperplane-LSH buckets: candidates = same bucket as the
    query, re-ranked by exact cosine.  Recall < 1.0 by construction;
    raise ``planes`` bands for precision, or ``probe_hamming=1`` for
    recall (multi-probe: also search every bucket whose signature
    differs in ONE plane — the vectors a near-boundary query just
    misses).  Both are scale knobs, not correctness knobs.

    Multi-probe costs nothing on the corpus side: the probe set is
    expanded on the QUERY side (1 row -> planes+1 rows, still a
    broadcast), so the plan stays one equi-join — candidates grow from
    1 bucket's rows to (planes+1) buckets' rows, vs 2^planes buckets
    total.  The standard recall/latency trade (Lv et al., multi-probe
    LSH) without re-hashing or a second corpus pass."""
    if probe_hamming not in (0, 1):
        raise ValueError("probe_hamming must be 0 or 1")
    sig = hyperplane_signature(F.col(vec_col), dim, planes)
    corpus = df.select(F.col(id_col), F.col(vec_col), sig.alias("bucket"))
    q = query.select(F.col(vec_col).alias("q_vec"), sig.alias("q_bucket"))
    if probe_hamming == 1:
        flips = F.array(
            F.col("q_bucket"),
            *[
                F.col("q_bucket").bitwiseXOR(F.lit(1 << i).cast("long"))
                for i in range(planes)
            ],
        )
        q = q.select("q_vec", F.explode(flips).alias("q_bucket"))
    cands = corpus.join(
        F.broadcast(q), F.col("bucket") == F.col("q_bucket")
    )
    return (
        cands.select(
            F.col(id_col),
            F.round(cosine(F.col(vec_col), F.col("q_vec")), 6).alias("cosine_sim"),
        )
        .orderBy(F.desc_nulls_last("cosine_sim"), F.asc(id_col))
        .limit(k)
        .filter(F.col("cosine_sim").isNotNull())   # post-limit: see topk_neighbors
    )


def _np_cent_geometry(cents: list[tuple[int, list[float]]]):
    """(cell_ids asc, centroid matrix, sequential-fold norms) for the
    numpy cosine-argmax kernels (shared with operators.kmeans).
    Centroid norms accumulate SEQUENTIALLY per dim, matching the SQL
    fold's ``acc + v`` order bit-for-bit."""
    import math

    import numpy as np

    order = sorted(cents, key=lambda t: int(t[0]))
    cell_ids = np.asarray([int(c) for c, _ in order], dtype=np.int64)
    C = np.asarray([[float(x) for x in v] for _, v in order], dtype=np.float64)
    norms = []
    for row in C:
        acc = 0.0
        for x in row:
            acc += x * x
        norms.append(math.sqrt(acc))
    return cell_ids, C, np.asarray(norms, dtype=np.float64)


def _cosine_sim_np(Xf, C, cn):
    """(rows, k) cosine matrix vs the centroid set with the expr
    fold's EXACT arithmetic — the single shared core of every numpy
    cosine kernel (assignment, Lloyd partials, kmeans|| cost): dot
    and ||x||^2 accumulate sequentially over dims so every fold is
    bit-identical to the SQL form; zero-norm products map to -inf
    (the fold's NULL sim, which loses to every real cosine).  Change
    the order/zero-norm convention HERE and nowhere else."""
    import numpy as np

    k, dim = C.shape
    dot = np.zeros((len(Xf), k), dtype=np.float64)
    xn = np.zeros(len(Xf), dtype=np.float64)
    for t in range(dim):
        xt = Xf[:, t]
        dot += xt[:, None] * C[:, t][None, :]
        xn += xt * xt
    denom = np.sqrt(xn)[:, None] * cn[None, :]
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.where(denom == 0.0, -np.inf, dot / denom)


def _cosine_argmax_np(Xf, C, cn):
    """Positions (into the cell-ascending centroid order) of the
    argmax-cosine cell per row; ties break to the HIGHER cell
    (max-struct semantics) via the reversed argmax."""
    import numpy as np

    k = C.shape[0]
    sim = _cosine_sim_np(Xf, C, cn)
    return (k - 1) - np.argmax(sim[:, ::-1], axis=1)


def ivf_assign(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF cell assignment: nearest centroid by cosine.  Returns
    (id, vec, cell).

    Zero-shuffle: the K centroid vectors are collected once (K rows —
    a dimension, not data) and closed over by a numpy batch kernel
    (mapInPandas); the K cosine folds per row become K vectorized
    per-dim adds in the SAME sequential accumulation order as the
    SQL ``array_max(transform(centroids, c -> struct(cosine(vec,
    c.vec), c.cell)))`` form (``kmeans._argmax_cell``), so cells are
    IDENTICAL to it (tests/test_similarity_ops.py pins it).

    Ties on cosine break to the HIGHER cell id — max(struct(sim,
    cell)) semantics, the oracle's ``ORDER BY c_sim DESC, cell DESC``;
    a zero-norm centroid's undefined cosine loses to every real one.

    Centroid choice here is deterministic sampling (lowest ids) rather
    than trained k-means — the IVF *structure* (cell assignment +
    probe-limited search) is what matters for the scale path; swap in
    k-means centroids without touching the plan."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    rows = centroids.select(
        F.col(id_col).alias("cell"), F.col(vec_col).alias("c_vec")
    ).collect()
    if not rows:
        raise ValueError("ivf_assign: centroids is empty")
    cell_ids, C, cn = _np_cent_geometry(
        [(int(r["cell"]), list(r["c_vec"])) for r in rows]
    )
    out_schema = T.StructType(
        [df.schema[id_col], df.schema[vec_col],
         T.StructField("cell", T.LongType())]
    )

    def fn(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            Xf = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            pos = _cosine_argmax_np(Xf, C, cn)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].values,
                    vec_col: pdf[vec_col].values,
                    "cell": cell_ids[pos],
                }
            )

    return df.select(id_col, vec_col).mapInPandas(fn, schema=out_schema)


def ivf_topk(
    df: DataFrame,
    query: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-style ANN: deterministic sampled centroids, corpus assigned
    to cells, query probes its ``nprobe`` nearest cells, exact re-rank
    inside the probed cells.  Recall grows with nprobe (nprobe ==
    n_centroids -> exact).

    ONE-SHOT API: every call re-derives the whole index (assignment
    included), so its s/query is build+probe — fine for a single
    ad-hoc lookup, wrong for serving.  For repeated queries land the
    index once (``kmeans.ivf_write`` — partitionBy('cell')) and probe
    with ``kmeans.ivf_probe_topk``; SCALING.md's serving table shows
    the landed probe is ~50x cheaper per query at 1M vectors."""
    centroids = df.orderBy(F.asc(id_col)).limit(n_centroids)
    assigned = ivf_assign(df, centroids, id_col, vec_col)

    c = centroids.select(F.col(id_col).alias("cell"), F.col(vec_col).alias("c_vec"))
    q = query.select(F.col(vec_col).alias("q_vec"))
    probes = (
        q.crossJoin(F.broadcast(c))
        .select("q_vec", "cell", cosine(F.col("q_vec"), F.col("c_vec")).alias("c_sim"))
        # zero-norm centroids have undefined cosine (NULL here, NaN in
        # a SQL restatement) and the engines order undefined scores
        # oppositely — exclude them from probe ranking on both sides
        .filter(F.col("c_sim").isNotNull())
        .orderBy(F.desc("c_sim"), F.asc("cell"))
        .limit(nprobe)
        .select("q_vec", "cell")
    )
    cands = assigned.join(F.broadcast(probes), "cell")
    return (
        cands.select(
            F.col(id_col),
            F.round(cosine(F.col(vec_col), F.col("q_vec")), 6).alias("cosine_sim"),
        )
        .orderBy(F.desc_nulls_last("cosine_sim"), F.asc(id_col))
        .limit(k)
        .filter(F.col("cosine_sim").isNotNull())   # post-limit: see topk_neighbors
    )


def cosine_pairs(
    df: DataFrame,
    threshold: float,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exact: bool = False,
    planes: int = 8,
) -> DataFrame:
    """Embedding near-dup pairs with cosine >= threshold, id_a < id_b.

    exact=True does the O(n²) self-join (fine for verification /
    small partitions); default buckets by hyperplane signature first so
    only same-bucket pairs are scored — the 100 TB plan."""
    base = df.select(F.col(id_col), F.col(vec_col))
    if exact:
        a = base.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
        b = base.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
        pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    else:
        sig = hyperplane_signature(F.col(vec_col), dim, planes)
        e = base.select(id_col, vec_col, sig.alias("bucket"))
        a = e.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"), "bucket")
        b = e.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"), F.col("bucket").alias("bucket_b"))
        pairs = a.join(
            b, (F.col("bucket") == F.col("bucket_b")) & (F.col("id_a") < F.col("id_b"))
        )
    return (
        pairs.select(
            "id_a",
            "id_b",
            F.round(cosine(F.col("va"), F.col("vb")), 6).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = max(max|x|,
    1e-12) / 127, q[i] = floor(x[i] / scale + 0.5) — 4x smaller than
    float32 on disk and integer dot products downstream.
    ``floor(v/s + 0.5)`` instead of round(): half-rounds toward +inf
    for BOTH signs in every engine, so the oracle restates the
    arithmetic exactly (round() half-up vs half-even varies by engine).

    The rule is ONE ``aggregate`` expression: its fold computes the
    row's max|x|, and the ``finish`` lambda binds that as a variable
    which the per-element codes, the scale and ``nonzero`` all read.
    No optimizer rule can inline the fold into the per-element lambda
    (``CollapseProject`` did that to the old separately projected scale
    whenever a caller dropped it: an O(D^2) row), and no caller has to
    keep a column referenced to stay fast.  ``nonzero`` (some q[i] !=
    0) is the ANN family's degenerate-vector test — not a test on
    ``scale``: the 1e-12 clamp also maps tiny vectors to all-zero
    codes.  A NULL vector gives NULL qvec and nonzero and scale
    1e-12/127 (the fold runs over an empty array); a NULL element gives
    a NULL code and is skipped by the max.

    Output: (id, qvec array<int>, scale double, nonzero boolean
    [, *keep]).  Pure map, no shuffle, no Python.  ``keep`` carries
    extra input columns through (e.g. the original vector for a later
    exact re-rank).
    """
    vec = "`" + vec_col.replace("`", "``") + "`"
    code = "CAST(floor(CAST(v AS DOUBLE) / (greatest(m, 1e-12D) / 127D) + 0.5D) AS INT)"
    rule = F.expr(
        f"aggregate(coalesce({vec}, array()), 0D, "
        "(m, v) -> greatest(m, abs(CAST(v AS DOUBLE))), "
        f"m -> named_struct('qvec', transform({vec}, v -> {code}), "
        "'scale', greatest(m, 1e-12D) / 127D, "
        f"'nonzero', exists({vec}, v -> {code} != 0)))"
    )
    return df.select(
        F.col(id_col), rule.alias("__q"), *[F.col(c) for c in keep]
    ).select(id_col, "__q.*", *keep)


def quantized_topk(
    df: DataFrame,
    query: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
) -> DataFrame:
    """Brute-force top-k by cosine over int8-quantized vectors — the
    compressed-corpus variant of topk_neighbors.  Integer dot products
    are EXACT (int64 accumulation), so Spark and the SQL oracle agree
    bit-for-bit before the final double division; symmetric
    quantization cancels the scales out of the cosine entirely."""
    qq = quantize_embeddings(query, query_id_col, vec_col).select(
        F.col(query_id_col).alias("q_id"), F.col("qvec").alias("q_qvec")
    )
    dq = quantize_embeddings(df, id_col, vec_col)
    joined = dq.crossJoin(F.broadcast(qq)).filter(F.col(id_col) != F.col("q_id"))
    idot = F.aggregate(
        F.zip_with(
            F.col("qvec"), F.col("q_qvec"),
            lambda a, b: a.cast("long") * b.cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    inorm = lambda c: F.aggregate(  # noqa: E731
        F.transform(F.col(c), lambda v: v.cast("long") * v.cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    qdenom = F.nullif(F.sqrt(inorm("qvec")) * F.sqrt(inorm("q_qvec")), F.lit(0.0))
    scored = joined.select(
        F.col("q_id"),
        F.col(id_col),
        F.round(idot / qdenom, 6).alias("qcos"),
    )
    return (
        scored.orderBy(F.desc_nulls_last("qcos"), F.asc(id_col))
        .limit(k)
        .filter(F.col("qcos").isNotNull())   # post-limit: see topk_neighbors
    )


def semantic_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    n_cells: int = 16,
    max_cell_size: int | None = 100_000,
    on_oversize: str = "error",
) -> DataFrame:
    """Semantic near-dup candidate pairs, SemDeDup-style (Abbas et al.
    2023, "SemDeDup: Data-efficient learning at web-scale through
    semantic deduplication"): cluster the embedding space, then score
    cosine ONLY within a cluster — the cluster plays the role the LSH
    bucket plays in :func:`cosine_pairs`, but follows the data's own
    geometry, so semantically-close pairs land together even when a
    random hyperplane would split them.

    ``centroids``: (id, vec) frame — pass trained k-means centroids
    (``kmeans.kmeans_fit_quantized``) for production; default is the
    deterministic lowest-id sample (the :func:`ivf_topk` policy — same
    structure, swappable centroids).

    Output: (id_a, id_b, cosine_sim) with id_a < id_b and
    cosine_sim >= threshold, rounded to 6 like :func:`cosine_pairs`.
    Cross-cell near-dups are NOT found (by construction — the paper's
    recall trade); raise ``n_cells`` quality via trained centroids, or
    run :func:`cosine_pairs` for hyperplane bucketing instead.

    Scale shape: assignment is the zero-shuffle literal-argmax of
    :func:`ivf_assign`; pair generation is ONE equi-join on the cell
    key (both sides shuffle-partitioned by cell, candidates bounded by
    cell sizes, never all-pairs).  A degenerate cell (embedding
    collapse, constant vectors) would blow up O(m²) — the
    ``max_cell_size`` guard fails loudly ('error') or excludes the
    cell ('drop'), mirroring the LSH bucket guard in operators/dedup.
    """
    if centroids is None:
        centroids = df.select(id_col, vec_col).orderBy(id_col).limit(n_cells)
    assigned = _assign_guarded(
        df, centroids, id_col, vec_col, max_cell_size, on_oversize
    )
    return _pairs_from_assigned(assigned, threshold, id_col, vec_col)


def _assign_guarded(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    max_cell_size: int | None,
    on_oversize: str,
) -> DataFrame:
    """Cell assignment + the max_cell_size guard (shared by
    semantic_pairs and semantic_dedup so the corpus-wide argmax map is
    computed from ONE definition — dedup reuses it for the
    low_centroid_sim keep policy instead of assigning twice)."""
    if on_oversize not in ("error", "drop"):
        raise ValueError("on_oversize must be 'error' or 'drop'")
    assigned = ivf_assign(df, centroids, id_col=id_col, vec_col=vec_col)

    if max_cell_size is not None:
        counts = assigned.groupBy("cell").agg(F.count("*").alias("__cell_n"))
        if on_oversize == "drop":
            counts = counts.filter(F.col("__cell_n") <= max_cell_size).select("cell")
        else:
            # the guard lives in the JOIN KEY so column pruning cannot
            # eliminate the raise_error (a guarded column that is later
            # dropped is optimized away silently)
            counts = counts.select(
                F.when(F.col("__cell_n") <= max_cell_size, F.col("cell"))
                .otherwise(
                    F.raise_error(
                        F.format_string(
                            "semantic cell exceeds max_cell_size=%s (size=%s): "
                            "train better centroids / raise n_cells, run exact "
                            "dedup first, or pass on_oversize='drop'",
                            F.lit(str(max_cell_size)),
                            F.col("__cell_n").cast("string"),
                        )
                    ).cast("long")
                )
                .alias("cell")
            )
        # K rows — broadcast probe, no extra corpus shuffle
        assigned = assigned.join(F.broadcast(counts), "cell")
    return assigned


def _pairs_from_assigned(
    assigned: DataFrame, threshold: float, id_col: str, vec_col: str
) -> DataFrame:
    a = assigned.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"), "cell"
    )
    b = assigned.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        F.col("cell").alias("cell_b"),
    )
    return (
        a.join(b, (F.col("cell") == F.col("cell_b")) & (F.col("id_a") < F.col("id_b")))
        .select(
            "id_a",
            "id_b",
            F.round(cosine(F.col("va"), F.col("vb")), 6).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


def semantic_dedup(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep: str = "min_id",
    centroids: DataFrame | None = None,
    n_cells: int = 16,
    max_cell_size: int | None = 100_000,
    on_oversize: str = "error",
) -> DataFrame:
    """Semantic deduplication: drop all but one member of every
    connected group of :func:`semantic_pairs` near-dups.  Returns the
    KEPT rows of ``df`` with all original columns.

    ``keep`` policies:
    - ``'min_id'`` (default): lowest id per group — deterministic and
      join-free beyond the component labels.
    - ``'low_centroid_sim'``: the member LEAST similar to its cluster
      centroid (the SemDeDup paper's choice — keeping low-similarity
      examples preserves diversity near the cluster edge), ties broken
      by id.

    Scale shape: pairs + connected components (see those functions);
    the keep decision is a per-component min/row_number over the
    component members — component-sized state, never corpus-sized.
    The final anti-join removes drop-ids from the corpus; drop lists
    from a dedup pass are usually ≪ corpus, and Spark broadcasts the
    side automatically under AQE when it fits.
    """
    if keep not in ("min_id", "low_centroid_sim"):
        raise ValueError("keep must be 'min_id' or 'low_centroid_sim'")
    from zeek_duckdb_spark.operators.graph import connected_components

    if centroids is None:
        centroids = df.select(id_col, vec_col).orderBy(id_col).limit(n_cells)
    # ONE corpus-wide assignment pass, shared by pair generation and
    # (for low_centroid_sim) the keep decision — assigning twice would
    # double the most expensive map and re-collect the centroids
    assigned = _assign_guarded(
        df, centroids, id_col, vec_col, max_cell_size, on_oversize
    )
    pairs = _pairs_from_assigned(assigned, threshold, id_col, vec_col)
    cc = connected_components(pairs)  # (v, component)

    if keep == "min_id":
        # component label IS the min member id (min-label propagation),
        # but derive it explicitly so the policy survives a CC swap
        reps = cc.groupBy("component").agg(F.min("v").alias("__keep"))
        drops = cc.join(reps, "component").filter(F.col("v") != F.col("__keep"))
    else:
        cents = centroids.select(
            F.col(id_col).alias("cell"), F.col(vec_col).alias("c_vec")
        )
        sims = (
            assigned.join(F.broadcast(cents), "cell")
            .select(
                F.col(id_col).alias("v"),
                cosine(F.col(vec_col), F.col("c_vec")).alias("__c_sim"),
            )
        )
        w = Window.partitionBy("component").orderBy(
            F.asc_nulls_last("__c_sim"), F.asc("v")
        )
        drops = (
            cc.join(sims, "v")
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") > 1)
        )

    return df.join(
        drops.select(F.col("v").alias(id_col)), id_col, "left_anti"
    )


def kcenter_select(
    df: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_fraction: float | None = None,
    seed: int = 0,
) -> list[tuple]:
    """Greedy k-center (furthest-point) selection — ``k`` maximally
    DIVERSE exemplars from an embedding corpus, the coreset/eval-set
    builder (Gonzalez 1985: the greedy choice is a 2-approximation of
    the optimal k-center cover).  Where :func:`semantic_dedup` removes
    redundancy and ``pipeline``'s cluster-balanced sampling rebalances
    topics, this picks the SPREAD: each round selects the point
    farthest from everything selected so far.

    Returns ``[(id, radius), ...]`` in selection order — model-sized
    driver state like a centroid list.  ``radius`` is the point's
    distance (in raw vector units) to the nearest earlier selection:
    the corpus' covering radius when that point was added, a measured
    diversity trace (monotone non-increasing; a sharp drop at i means
    ~i natural modes).  The first selection is the minimum id — a
    deterministic anchor with no earlier selection to measure against,
    so its radius is ``float('inf')``.

    Scale shape: k zero-shuffle rounds.  Vectors snap once to a
    corpus-global int8 grid (one aggregate pass — pq_train's recipe),
    so every pairwise squared distance is an EXACT int64 and the
    argmax row is identical under any partitioning (ties break to the
    lower id).  Each round is one map (min over the <= k selected
    centers, which ride as an int-array literal) + one ``max_by``
    aggregate; nothing but (id, qvec, dist) scalars ever reach the
    driver.  k is model-sized (<= a few hundred) — the per-row cost of
    round i is O(i * dim), so total work is O(n * k^2 * dim / k) ==
    O(n k dim) folds, all inside whole-stage codegen.

    **Coreset mode for k ≳ 10³** (``sample_fraction``): the k rounds
    run over a :func:`pipeline.deterministic_sample` of the corpus
    instead of the corpus itself, so the loop's total scan cost is
    ``k * sample`` rows — pick the fraction so the sample is a few
    hundred rows per requested center and the loop never scans the
    full corpus k times.  The composition keeps the Gonzalez
    guarantee up to sampling: greedy on the sample is a 2-approx of
    the optimal cover OF THE SAMPLE, and any mode the sample hits
    (fraction * mode-mass >> 1) gets an exemplar, so on mode-structured
    corpora the full covering radius stays within a small factor of
    direct greedy — measure it with :func:`kcenter_covering_radius`
    (one full-corpus pass).  Trace radii are measured WITHIN the
    sample.  The sample is key-hash deterministic: same ids -> same
    selection on any cluster.
    """
    if k < 1:
        raise ValueError("kcenter_select: k must be >= 1")
    if sample_fraction is not None:
        if not 0.0 < sample_fraction <= 1.0:
            raise ValueError(
                "kcenter_select: sample_fraction must be in (0, 1]"
            )
        from zeek_duckdb_spark.operators.pipeline import (
            deterministic_sample,
        )

        df = deterministic_sample(df, id_col, sample_fraction, seed)
    x = F.transform(F.col(vec_col), lambda v: v.cast("double"))
    src = df.select(F.col(id_col).alias("__id"), x.alias("__x")).filter(
        F.col("__x").isNotNull()
    )
    # the corpus dimension is the MODE of row sizes (one counter-sized
    # agg, deterministic tie-break) — anchoring it on any single row
    # would let one malformed row redefine "malformed" for the corpus
    dim_row = (
        src.groupBy(F.size("__x").alias("d"))
        .count()
        .orderBy(F.desc("count"), F.asc("d"))
        .first()
    )
    if dim_row is None:
        raise ValueError("kcenter_select: corpus is empty")
    # malformed rows are DROPPED, not selected: a wrong-length vector
    # null-pads the zip_with distance fold (min-distance collapses to
    # the int64-MAX sentinel -> the row would always win a round), and
    # a NaN/inf element poisons the global scale — same policy as
    # pq_train's size filter, extended to element finiteness
    dim = int(dim_row["d"])
    src = src.filter(
        (F.size("__x") == dim)
        & ~F.exists(
            "__x",
            lambda v: v.isNull()
            | F.isnan(v)
            | (F.abs(v) == float("inf")),
        )
    )
    max_abs = src.agg(
        F.max(
            F.aggregate(
                F.col("__x"), F.lit(0.0), lambda a, v: F.greatest(a, F.abs(v))
            )
        ).alias("mx")
    ).first()["mx"]
    if max_abs is None:
        raise ValueError("kcenter_select: corpus is empty")
    scale = float(max_abs) / 127.0 if max_abs > 0 else 1.0
    q = F.transform(
        F.col("__x"),
        lambda v: F.floor(v / F.lit(scale) + F.lit(0.5)).cast("long"),
    )
    base = src.select("__id", q.alias("__q")).persist()
    try:
        first = base.orderBy(F.asc("__id")).limit(1).collect()[0]
        selected = [(first["__id"], float("inf"))]
        centers = [[int(v) for v in first["__q"]]]
        while len(selected) < k:
            cents_lit = (
                "array("
                + ", ".join(
                    "array(" + ", ".join(f"{v}L" for v in c) + ")"
                    for c in centers
                )
                + ")"
            )
            # exact int64 min-over-centers squared distance per row
            d2 = F.expr(
                f"aggregate({cents_lit}, CAST(NULL AS BIGINT), (best, c) -> "
                "least(coalesce(best, 9223372036854775807), "
                "aggregate(zip_with(__q, c, (a, b) -> (a - b) * (a - b)), "
                "0L, (acc, v) -> acc + v)))"
            )
            row = (
                base.select("__id", "__q", d2.alias("__d2"))
                # min_by over (-d2, id): largest distance first, ties to
                # the LOWEST id — id compares natively (string ids work;
                # a negated id would CAST-error under ANSI), and -d2 is
                # safe (d2 <= (254^2)*dim, far from int64 edges)
                .agg(
                    F.expr(
                        "min_by(struct(__id, __q, __d2), "
                        "struct(-__d2, __id))"
                    ).alias("w")
                )
                .select("w.__id", "w.__q", "w.__d2")
                .first()
            )
            d2_int = int(row["__d2"])
            if d2_int == 0:
                break  # every remaining point duplicates a center
            selected.append((row["__id"], (d2_int ** 0.5) * scale))
            centers.append([int(v) for v in row["__q"]])
    finally:
        base.unpersist()
    return selected


def kcenter_covering_radius(
    df: DataFrame,
    ids: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> float:
    """Exact covering radius of a selection: the max over corpus rows
    of the L2 distance to the NEAREST selected center — the
    full-corpus refine/verify step for coreset-mode
    :func:`kcenter_select` (trace radii there are sample-measured).

    Scale shape: ONE zero-shuffle pass.  The centers are collected
    once (model-sized — a filtered, k-row collect), then each
    partition computes a local max-min-distance with a numpy matmul
    (``||x||^2 + ||c||^2 - 2 x.c`` — O(rows x k) flops at BLAS speed,
    so k in the thousands stays cheap) and emits ONE scalar; the
    driver folds partition maxima.  Distances are float64 on the RAW
    vectors: a diagnostic magnitude, not a rank decision, so the
    int-grid determinism machinery isn't needed.  Malformed rows
    (wrong length, NULL/NaN/inf elements) are skipped — the same rows
    selection drops."""
    import math

    import numpy as np
    import pandas as pd

    ids = list(ids)
    if not ids:
        raise ValueError("kcenter_covering_radius: ids is empty")
    x = F.transform(F.col(vec_col), lambda v: v.cast("double"))
    src = df.select(F.col(id_col).alias("__id"), x.alias("__x")).filter(
        F.col("__x").isNotNull()
    )
    crows = src.filter(F.col("__id").isin(ids)).collect()
    missing = set(ids) - {r["__id"] for r in crows}
    if missing:
        raise ValueError(
            f"kcenter_covering_radius: {len(missing)} center id(s) "
            "not found in the corpus"
        )
    if len(crows) != len(set(ids)):
        raise ValueError(
            "kcenter_covering_radius: duplicate corpus rows for "
            "center id(s) — centers must be unique ids"
        )
    # validate CENTER vectors like corpus rows: a NULL element would
    # TypeError with no culprit named, and one NaN/inf element would
    # poison every row's min-distance and surface as the misleading
    # 'no valid rows' error pointing at the corpus
    for r in crows:
        v = list(r["__x"])
        if any(x is None for x in v) or not all(
            math.isfinite(float(x)) for x in v if x is not None
        ):
            raise ValueError(
                "kcenter_covering_radius: center id "
                f"{r['__id']!r} has NULL/NaN/inf vector elements"
            )
    C = np.asarray([[float(v) for v in r["__x"]] for r in crows])
    if C.ndim != 2:
        raise ValueError(
            "kcenter_covering_radius: centers disagree on dimension"
        )
    dim = C.shape[1]
    c2 = (C * C).sum(axis=1)

    def fn(batches):
        best = None  # None = no valid rows; round-off can make a true
        # zero-distance batch maximum land a hair NEGATIVE, so the
        # sentinel must be a flag, not a sign check (an exactly-covered
        # corpus would otherwise report 'no valid rows')
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vecs = []
            for v in pdf["__x"]:
                if v is None:
                    continue
                a = np.asarray(v, dtype=np.float64)
                if a.ndim != 1 or a.shape[0] != dim:
                    continue
                if not np.isfinite(a).all():
                    continue
                vecs.append(a)
            if not vecs:
                continue
            X = np.vstack(vecs)
            d2 = (
                (X * X).sum(axis=1)[:, None]
                + c2[None, :]
                - 2.0 * (X @ C.T)
            )
            m = float(np.min(d2, axis=1).max())
            best = m if best is None else max(best, m)
        if best is not None:
            yield pd.DataFrame({"m": [best]})

    rows = src.select("__x").mapInPandas(fn, schema="m double").collect()
    if not rows:
        raise ValueError("kcenter_covering_radius: no valid rows")
    # matmul round-off can push a true-zero distance a hair negative
    return math.sqrt(max(0.0, max(float(r["m"]) for r in rows)))
