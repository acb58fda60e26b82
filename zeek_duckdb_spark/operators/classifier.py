"""Learned quality classifier over embeddings — the modern
training-data gate (FineWeb-Edu / DCLM style): fit a logistic
regression on labeled examples, score the corpus, keep what clears a
threshold.  The heuristic gates (textops.quality_score) catch junk;
this family ranks by LEARNED quality.

Scale shape, in the repo's house style:

- **fit** (:func:`logreg_fit`) is driver-held model state (dim+1
  doubles) refined by full-batch gradient descent where every pass is
  ONE zero-shuffle ``mapInPandas`` partial-sum job.  Determinism is
  engineered the same way as ``pca.comoment_sums`` / ``pq_train``:
  features snap to a corpus-global int8 grid (one aggregate pass for
  the scale) and the per-row residual ``p_i - y_i`` snaps to 2^-20
  fixed point, so every gradient component is an EXACT int64 sum —
  identical weights under any partitioning or cluster size.  The int
  grid means the optimizer sees the quantized features (within int8
  resolution of the true objective — noise far below label noise);
  the returned weights fold the grid scale back so they apply to RAW
  vectors.
- **score** (:func:`logreg_score`) is a pure per-row fold —
  ``sigmoid(w . x + b)`` — zero shuffle, pushdown-friendly, and with
  ``kernel='expr'`` the dot accumulates SEQUENTIALLY left-to-right so
  a DuckDB oracle restates it exactly (the cosine-fold recipe).
  MEASURED (SCALING.md r9): unlike the cosine top-k family, expr WINS
  here — one dot per row stays inside whole-stage codegen (0.33 s vs
  arrow's 0.67 s at 512k x dim 64), so ``kernel='expr'`` is the right
  default for serving too; ``kernel='arrow'`` exists for very high
  dims where a BLAS matvec eventually overtakes the interpreted fold.
- **gate** (:func:`filter_by_classifier`) composes the score with a
  threshold filter — the "keep documents the classifier rates
  educational" pass.

Logistic regression is the published workhorse for this job (fastText
/ DCLM quality classifiers are linear models over embeddings); public
background: Cox 1958, bag-of-tricks fastText (Joulin et al. 2016).

Siblings: ``textops.quality_classifier_score`` is the hashed
bag-of-TOKENS scorer; :func:`token_logreg_fit` here trains its
weights in-engine over the same feature map, so BOTH classifier
families (embedding and token) now run the full train-then-gate loop
without leaving the engine.
"""

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "logreg_fit",
    "logreg_score",
    "filter_by_classifier",
    "token_logreg_fit",
]

# residual fixed-point grid: |p - y| <= 1 snaps to 2^-20 steps, so a
# per-row product with an int8 feature is <= 2^27 — int64 partials hold
# ~7e10 rows per partition before overflow could even be a question
_RES_FP = 1 << 20


def _sigmoid(z):
    # overflow-safe driver-side sigmoid (exp(709+) overflows a double)
    if z >= 0:
        return 1.0 / (1.0 + math.exp(-z))
    e = math.exp(z)
    return e / (1.0 + e)


def logreg_fit(
    df: DataFrame,
    label_col: str,
    dim: int,
    vec_col: str = "embedding",
    iters: int = 20,
    lr: float = 1.0,
    l2: float = 0.0,
) -> dict:
    """Fit ``sigmoid(w . x + b)`` to 0/1 labels by deterministic
    full-batch gradient descent; returns ``{"weights", "bias",
    "scale", "n", "loss"}`` with weights in RAW-vector units (apply
    via :func:`logreg_score`).

    Each iteration is one zero-shuffle ``mapInPandas`` pass emitting
    per-partition ``(n, int64 grad, int64 grad_b, fp loss)`` partials;
    the driver merges them with exact integer adds and takes the
    gradient step.  Rows whose vector length differs from ``dim`` or
    whose label is NULL are dropped (same policy as ``pq_train``).

    ``loss`` is the per-iteration mean log-loss trace (fixed-point,
    deterministic) — a cheap fit diagnostic: it should fall.

    At 100 TB you fit on a labeled SAMPLE (labels are the scarce
    thing), then :func:`logreg_score` the corpus — the fit input here
    is the labeled set, not the corpus.
    """
    if iters < 0:
        raise ValueError("logreg_fit: iters must be >= 0")
    if lr <= 0:
        raise ValueError("logreg_fit: lr must be > 0")
    if l2 < 0:
        raise ValueError("logreg_fit: l2 must be >= 0")

    x = F.transform(F.col(vec_col), lambda v: v.cast("double"))
    src = (
        df.select(
            x.alias("__x"),
            F.col(label_col).cast("double").alias("__y"),
        )
        # drop NULL labels, wrong-length vectors, AND vectors with
        # NULL/NaN/inf elements: one NaN element would poison the
        # corpus-global max_abs (scale = NaN -> every __q NULL) and a
        # NULL element crashes the int64 batch cast in the executor —
        # element-level garbage is dropped like the row-level kind
        .filter(
            F.col("__y").isNotNull()
            & (F.size("__x") == dim)
            & ~F.exists(
                "__x",
                lambda v: v.isNull()
                | F.isnan(v)
                | (F.abs(v) == float("inf")),
            )
        )
    )
    bad = src.filter(~F.col("__y").isin(0.0, 1.0)).limit(1).collect()
    if bad:
        raise ValueError(
            f"logreg_fit: labels must be 0/1, found {bad[0]['__y']!r}"
        )
    # corpus-global int8 grid (pq_train's recipe): one aggregate pass
    max_abs = src.agg(
        F.max(
            F.aggregate(
                F.col("__x"), F.lit(0.0), lambda a, v: F.greatest(a, F.abs(v))
            )
        ).alias("mx")
    ).first()["mx"]
    if max_abs is None or max_abs == 0.0:
        raise ValueError("logreg_fit: no usable rows (empty or all-zero)")
    scale = float(max_abs) / 127.0
    q = F.transform(
        F.col("__x"),
        lambda v: F.floor(v / F.lit(scale) + F.lit(0.5)).cast("long"),
    )
    base = src.select(q.alias("__q"), "__y").persist()

    import numpy as np
    import pandas as pd

    out_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("g", T.ArrayType(T.LongType())),
            T.StructField("gb", T.LongType()),
            T.StructField("ls", T.LongType()),
        ]
    )

    def pass_factory(w_grid: list[float], b: float):
        wv = np.asarray(w_grid, dtype=np.float64)

        def fn(batches):
            n = 0
            g = np.zeros(dim, dtype=np.int64)
            gb = np.int64(0)
            ls = np.int64(0)
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                Q = np.array(
                    [np.asarray(v, dtype=np.int64) for v in pdf["__q"]]
                )
                y = pdf["__y"].to_numpy(dtype=np.float64)
                # per-row dot: deterministic per row, order-independent
                z = Q.astype(np.float64) @ wv + b
                p = np.where(
                    z >= 0, 1.0 / (1.0 + np.exp(-np.abs(z))),
                    np.exp(-np.abs(z)) / (1.0 + np.exp(-np.abs(z))),
                )
                # residual to 2^-20 fixed point -> exact int64 grad
                r = np.floor((p - y) * _RES_FP + 0.5).astype(np.int64)
                n += len(Q)
                g += (Q * r[:, None]).sum(axis=0)
                gb += r.sum()
                # log-loss in the same fixed point (diagnostic trace);
                # clamp avoids log(0) at saturated predictions
                pc = np.clip(p, 1e-12, 1.0 - 1e-12)
                ll = -(y * np.log(pc) + (1.0 - y) * np.log(1.0 - pc))
                ls += np.floor(ll * _RES_FP + 0.5).astype(np.int64).sum()
            if n:
                yield pd.DataFrame(
                    {"n": [n], "g": [g.tolist()], "gb": [int(gb)],
                     "ls": [int(ls)]}
                )

        return fn

    w_grid = [0.0] * dim
    b = 0.0
    n_rows = 0
    loss_trace: list[float] = []
    try:
        if iters == 0:
            n_rows = base.count()
            if n_rows == 0:
                raise ValueError("logreg_fit: no usable rows")
        for _ in range(iters):
            rows = base.mapInPandas(
                pass_factory(w_grid, b), schema=out_schema
            ).collect()
            n_rows = sum(int(r["n"]) for r in rows)
            if n_rows == 0:
                raise ValueError("logreg_fit: no usable rows")
            g_tot = [0] * dim
            gb_tot = 0
            ls_tot = 0
            for r in rows:  # exact integer merges, any partitioning
                for j, v in enumerate(r["g"]):
                    g_tot[j] += int(v)
                gb_tot += int(r["gb"])
                ls_tot += int(r["ls"])
            loss_trace.append(ls_tot / _RES_FP / n_rows)
            w_grid = [
                w - lr * ((gj / _RES_FP) / n_rows + l2 * w)
                for w, gj in zip(w_grid, g_tot)
            ]
            b -= lr * ((gb_tot / _RES_FP) / n_rows)
    finally:
        base.unpersist()
    return {
        "weights": [w / scale for w in w_grid],  # raw-vector units
        "bias": b,
        "scale": scale,
        "n": n_rows,
        "loss": loss_trace,
    }


def logreg_score(
    df: DataFrame,
    weights: list[float],
    bias: float,
    vec_col: str = "embedding",
    out_col: str = "quality_score",
    kernel: str = "expr",
) -> DataFrame:
    """Add ``sigmoid(w . x + b)`` rounded to 6 dp — a pure per-row
    fold, zero shuffle.  ``kernel='expr'`` accumulates the dot
    SEQUENTIALLY (oracle-restatable: DuckDB's list fold produces the
    identical IEEE op sequence); ``kernel='arrow'`` is the numpy
    matvec serving path (same values after the round).  Rows whose
    vector length differs from ``len(weights)`` score NULL."""
    if kernel not in ("expr", "arrow"):
        raise ValueError("logreg_score: kernel must be 'expr' or 'arrow'")
    dim = len(weights)
    if dim == 0:
        raise ValueError("logreg_score: weights is empty")
    if kernel == "expr":
        x = F.transform(F.col(vec_col), lambda v: v.cast("double"))
        w_lit = F.array(*[F.lit(float(w)) for w in weights])
        z = F.aggregate(
            F.zip_with(x, w_lit, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ) + F.lit(float(bias))
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        score = F.when(F.size(vec_col) == dim, F.round(p, 6))
        return df.withColumn(out_col, score)

    import numpy as np
    import pandas as pd

    from zeek_duckdb_spark.operators.similarity import _np_round6_half_up

    wv = np.asarray(weights, dtype=np.float64)

    # r17 (guide §4.1/§4.3): a scalar Arrow-serialized pandas UDF over
    # ONLY the vector column.  The previous shape was a full-frame
    # mapInPandas that appended one double — every OTHER column rode
    # the Arrow boundary both ways for nothing, and the opaque batch
    # function blocked column pruning at the scan.  withColumn keeps
    # the replace-at-position semantics (the existing-out_col advice
    # fix) with no hand-built schema.
    @F.pandas_udf("double")
    def _score(vs: pd.Series) -> pd.Series:
        scores = []
        for v in vs:
            if v is None:  # expr kernel scores NULL; parity
                scores.append(None)
                continue
            xa = np.asarray(v, dtype=np.float64)
            if xa.ndim != 1 or xa.shape[0] != dim:
                scores.append(None)
                continue
            z = float(xa @ wv) + float(bias)
            scores.append(float(_np_round6_half_up(_sigmoid(z))))
        return pd.Series(scores, dtype="float64")

    return df.withColumn(out_col, _score(F.col(vec_col)))


def filter_by_classifier(
    df: DataFrame,
    weights: list[float],
    bias: float,
    threshold: float,
    keep: str = "above",
    vec_col: str = "embedding",
    kernel: str = "expr",
) -> DataFrame:
    """The classifier GATE: keep rows whose score clears ``threshold``
    (``keep='above'``: score >= threshold — the quality-keep shape;
    ``'below'``: score < threshold — the junk-harvest shape).  Rows
    that score NULL (wrong-length vectors) never pass either gate.
    The score column is dropped — compose :func:`logreg_score`
    yourself if you want it kept."""
    if keep not in ("above", "below"):
        raise ValueError("filter_by_classifier: keep must be 'above' or 'below'")
    if not 0.0 <= threshold <= 1.0:
        raise ValueError(
            "filter_by_classifier: threshold must be in [0, 1] "
            "(it gates a sigmoid)"
        )
    scored = logreg_score(
        df, weights, bias, vec_col=vec_col,
        out_col="__cls_p", kernel=kernel,
    )
    cond = (
        F.col("__cls_p") >= threshold
        if keep == "above"
        else F.col("__cls_p") < threshold
    )
    return scored.filter(cond).drop("__cls_p")


# token-frequency fixed-point grid: mean token frequencies (c_j / n in
# [0, 1]) snap to 2^-10 steps, so a per-row product with the 2^-20
# residual grid is <= 2^30 — int64 partials hold ~8e9 rows/partition
_TOK_FX = 1 << 10


def token_logreg_fit(
    df: DataFrame,
    label_col: str,
    text_col: str = "text",
    dim: int = 4096,
    iters: int = 20,
    lr: float = 1.0,
    l2: float = 0.0,
) -> dict:
    """Train the fastText-style TOKEN quality classifier in-engine —
    the FineWeb/DCLM "reference corpus vs crawl" gate.  Fits
    ``sigmoid(bias + mean over tokens of weights[md5(token) mod dim])``
    to 0/1 labels and returns ``{"weights", "bias", "dim", "n",
    "loss"}`` whose weights plug DIRECTLY into
    :func:`textops.quality_classifier_score` (and therefore into
    ``clean_corpus(classifier=...)``): the feature map here is the
    scorer's own JVM expression — ``nonempty_tokens`` + the
    engine-portable md5 bucket — evaluated Spark-side, so train and
    serve can never disagree on tokenization or hashing.  One
    quantization gap remains BY DESIGN: training snaps mean token
    frequencies to the 2^-10 grid (that is what makes the gradient an
    exact int64), while :func:`textops.quality_classifier_score`
    serves with exact unquantized means — a document whose serve-time
    score lands within ~``sum|w_j| * 2^-11`` of the gate threshold can
    be gated differently than the training loss implies.  That band is
    vanishingly thin for trained weights; if exact train/serve score
    agreement matters more than serving cost, quantize the serve-side
    features to the same grid yourself.

    Determinism is the :func:`logreg_fit` recipe on a SPARSE feature
    space: per-row mean token frequencies snap to a static 2^-10 grid
    (no corpus-global scale pass needed — frequencies live in [0, 1])
    and residuals to 2^-20, so every gradient component is an EXACT
    int64 sum of per-row integer products — identical weights under
    any partitioning or cluster size.  The per-row feature dot is a
    PINNED strict left fold over the row's distinct buckets in
    ascending order (vectorized across rows grouped by distinct-token
    count — no per-token Python in the loop), so the pre-quantization
    floats are identical on every executor too.  Cross-VERSION note:
    the pinned fold replaced an earlier per-row BLAS dot
    (``wv[idx] @ qx`` — pairwise summation), and the two can differ
    in the last ulp of pre-quantization ``z``, which can flip a
    2^-20-quantized residual at a grid boundary; weights trained by
    builds predating the vectorized kernel are therefore NOT
    guaranteed bit-reproducible by this code (re-fit to re-derive
    checkpoints bit-for-bit).  Each GD
    pass is ONE
    zero-shuffle ``mapInPandas`` job emitting (n, sparse int64 grad,
    grad_b, loss) partials; per-row work is O(distinct tokens), never
    O(dim).

    NULL/empty/whitespace docs contribute zero features (they score
    ``sigmoid(bias)``, matching the scorer); NULL labels are dropped.
    At 100 TB you fit on the labeled SAMPLE — labels are the scarce
    thing — then score the corpus with the pure-JVM fold.
    """
    if dim < 1:
        raise ValueError("token_logreg_fit: dim must be >= 1")
    if iters < 0:
        raise ValueError("token_logreg_fit: iters must be >= 0")
    if lr <= 0:
        raise ValueError("token_logreg_fit: lr must be > 0")
    if l2 < 0:
        raise ValueError("token_logreg_fit: l2 must be >= 0")
    from zeek_duckdb_spark.operators.hashutil import md5_long
    from zeek_duckdb_spark.operators.textops import nonempty_tokens

    buckets = F.transform(
        nonempty_tokens(F.col(text_col)),
        lambda t: (md5_long(t) % F.lit(dim)).cast("int"),
    )
    src = df.select(
        buckets.alias("__b"),
        F.col(label_col).cast("double").alias("__y"),
    ).filter(F.col("__y").isNotNull())
    bad = src.filter(~F.col("__y").isin(0.0, 1.0)).limit(1).collect()
    if bad:
        raise ValueError(
            f"token_logreg_fit: labels must be 0/1, found {bad[0]['__y']!r}"
        )
    base = src.persist()

    import numpy as np
    import pandas as pd

    out_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("gi", T.ArrayType(T.IntegerType())),
            T.StructField("gv", T.ArrayType(T.LongType())),
            T.StructField("gb", T.LongType()),
            T.StructField("ls", T.LongType()),
        ]
    )

    def pass_factory(w_list: list[float], b: float):
        wv = np.asarray(w_list, dtype=np.float64)

        def fn(batches):
            n = 0
            g = np.zeros(dim, dtype=np.int64)
            gb = 0
            ls = 0
            for pdf in batches:
                nb = len(pdf)
                if nb == 0:
                    continue
                n += nb
                bks = pdf["__b"]
                ys = pdf["__y"].to_numpy(dtype=np.float64)
                lens = np.fromiter(
                    (0 if bk is None else len(bk) for bk in bks),
                    dtype=np.int64,
                    count=nb,
                )
                total = int(lens.sum())
                z = np.full(nb, b, dtype=np.float64)
                if total:
                    flat = np.empty(total, dtype=np.int64)
                    pos = 0
                    for bk in bks:
                        if bk is None or len(bk) == 0:
                            continue
                        a = np.asarray(bk, dtype=np.int64)
                        flat[pos : pos + len(a)] = a
                        pos += len(a)
                    rowid = np.repeat(np.arange(nb, dtype=np.int64), lens)
                    # one batch-wide unique over (row, bucket): sorts
                    # by row then bucket, so each row's distinct
                    # buckets come out in the same ASCENDING order the
                    # old per-row np.unique produced
                    uq, cnt = np.unique(rowid * dim + flat,
                                        return_counts=True)
                    urow = (uq // dim).astype(np.int64)
                    ubkt = (uq % dim).astype(np.int64)
                    qx = np.floor(
                        cnt / lens[urow] * _TOK_FX + 0.5
                    ).astype(np.int64)
                    # per-row dot = strict left fold over the sorted
                    # distinct buckets (rows grouped by distinct-token
                    # count so the fold vectorizes across rows) — a
                    # PINNED op order, deterministic on any executor
                    kdist = np.bincount(urow, minlength=nb)
                    offs = np.concatenate(
                        ([0], np.cumsum(kdist)[:-1])
                    ).astype(np.int64)
                    wq = wv[ubkt] * (qx / _TOK_FX)
                    for k in np.unique(kdist):
                        if k == 0:
                            continue
                        rows_k = np.nonzero(kdist == k)[0]
                        idxmat = offs[rows_k][:, None] + np.arange(k)
                        terms = wq[idxmat]
                        acc = terms[:, 0].copy()
                        for j in range(1, int(k)):
                            acc += terms[:, j]
                        z[rows_k] = acc + b
                # scalar math.exp/math.log per ROW (not per token):
                # np.exp/np.log can differ from libm in the last ulp,
                # which could flip a quantized residual at a 2^-20
                # boundary across numpy builds
                rs = np.zeros(nb, dtype=np.int64)
                for i in range(nb):
                    p = _sigmoid(float(z[i]))
                    y = float(ys[i])
                    r = int(math.floor((p - y) * _RES_FP + 0.5))
                    rs[i] = r
                    gb += r
                    pc = min(max(p, 1e-12), 1.0 - 1e-12)
                    ll = -(
                        y * math.log(pc) + (1.0 - y) * math.log(1.0 - pc)
                    )
                    ls += int(math.floor(ll * _RES_FP + 0.5))
                if total:
                    # int64 scatter-add: exact and order-free, like
                    # the old dict accumulation
                    np.add.at(g, ubkt, rs[urow] * qx)
            if n:
                keys = np.nonzero(g)[0]
                yield pd.DataFrame(
                    {
                        "n": [n],
                        "gi": [[int(k) for k in keys]],
                        "gv": [[int(g[k]) for k in keys]],
                        "gb": [gb],
                        "ls": [ls],
                    }
                )

        return fn

    w = [0.0] * dim
    b = 0.0
    n_rows = 0
    loss_trace: list[float] = []
    try:
        if iters == 0:
            n_rows = base.count()
            if n_rows == 0:
                raise ValueError("token_logreg_fit: no usable rows")
        for _ in range(iters):
            rows = base.mapInPandas(
                pass_factory(w, b), schema=out_schema
            ).collect()
            n_rows = sum(int(r["n"]) for r in rows)
            if n_rows == 0:
                raise ValueError("token_logreg_fit: no usable rows")
            g_tot: dict[int, int] = {}
            gb_tot = 0
            ls_tot = 0
            for r in rows:  # exact integer merges, any partitioning
                for j, v in zip(r["gi"], r["gv"]):
                    g_tot[int(j)] = g_tot.get(int(j), 0) + int(v)
                gb_tot += int(r["gb"])
                ls_tot += int(r["ls"])
            loss_trace.append(ls_tot / _RES_FP / n_rows)
            denom = _RES_FP * _TOK_FX * n_rows
            w = [
                wj - lr * (g_tot.get(j, 0) / denom + l2 * wj)
                for j, wj in enumerate(w)
            ]
            b -= lr * ((gb_tot / _RES_FP) / n_rows)
    finally:
        base.unpersist()
    return {
        "weights": w,
        "bias": b,
        "dim": dim,
        "n": n_rows,
        "loss": loss_trace,
    }
