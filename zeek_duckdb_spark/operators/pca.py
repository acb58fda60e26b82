"""PCA for the embedding-similarity pipeline, at corpus scale.

Covariance is accumulated as EXACT integer co-moments on the SAME
int8-quantized direction grid every ANN operator here scores on
(``similarity.quantize_embeddings``): each partition yields
(n, per-dim int64 sums, upper-triangular int64 sums of q_i * q_j)
partials merged driver-side with integer adds — bit-deterministic
under ANY partitioning (the pq/kmeans partial-sum shape) and
restatable in a DuckDB oracle, unlike float co-moments whose
accumulation order varies with the partitioning.  One zero-shuffle
corpus pass; the dim x dim eigendecomposition is driver-side
model-sized work (numpy ``eigh``); projection is an Arrow matmul
kernel, again a zero-shuffle map.

Why the quantized grid is the right space here: the ANN family
(cosine top-k, IVF, PQ) is direction-only — per-vector scale cancels
in every cosine — so principal directions of the quantized grid are
the principal directions of the geometry those operators actually
search.  int8 quantization noise is ~0.4% per coordinate and only
perturbs eigenvectors by O(noise / eigengap).

Scale shape at 100 TB: the co-moment pass streams Arrow batches
through numpy (one rank-k update per batch, int64 accumulators
dim*(dim+3)/2 wide); nothing but one partial row per partition moves.
``pca_project`` appends the score column in place — no shuffle, no
driver round-trip.

No reference-engine counterpart (the reference is a log scanner);
training-data-pipeline operator family (SURVEY.md "beyond the
reference" track).  Method: classic covariance PCA (Pearson 1901 /
Hotelling 1933); deterministic sign convention as in scikit-learn's
``svd_flip``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


__all__ = [
    "comoment_sums",
    "comoment_sums_df",
    "pca_fit",
    "pca_project",
    "rp_signs",
    "random_projection",
]


def _np_quantize(X):
    """numpy form of ``similarity.quantize_embeddings``'s rule,
    bit-identical on the same doubles: scale = max(|x|, 1e-12)/127
    (max is order-insensitive), q = floor(x/scale + 0.5) — both
    elementwise IEEE ops with no accumulation order (the
    ``emb_comoments`` oracle and tests/test_pca.py pin it to the
    expression).  It stays a second statement of the rule because
    the kernels would otherwise need the expression's ``qvec`` as one
    more stage: at 512k x 64, ``pca_project`` reading the shared
    column took 2.70 s against 1.68 s here, the co-moment pass tied
    (SCALING.md "One int8 quantize rule").  The codes stay float64:
    integers of magnitude <= 127, held exactly."""
    import numpy as np

    scale = np.maximum(np.abs(X).max(axis=1), 1e-12) / 127.0
    return np.floor(X / scale[:, None] + 0.5)


def comoment_sums(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[int, list[int], list[list[int]]]:
    """Exact integer co-moments of the quantized corpus:
    ``(n, s, M)`` with ``s[i] = sum q_i`` and ``M[i][j] = sum
    q_i * q_j`` (full symmetric dim x dim, int64-exact).  ONE
    zero-shuffle pass; partials merge driver-side with integer adds,
    so the result is identical under any partitioning."""
    import numpy as np
    import pandas as pd

    def fn(batches):
        n = 0
        s = None
        m = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            Xf = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            X = _np_quantize(Xf)
            # float64 BLAS, exact: every partial sum is an integer below
            # rows * 127^2 < 2^53 (numpy's int64 matmul has no BLAS
            # path: 11.5 s against 2.2 s at 512k x 64, SCALING.md)
            assert len(X) * 127**2 < 2**53, len(X)
            if s is None:
                d = X.shape[1]
                s = np.zeros(d, dtype=np.int64)
                m = np.zeros((d, d), dtype=np.int64)
            n += len(X)
            s += X.sum(axis=0).astype(np.int64)
            m += (X.T @ X).astype(np.int64)
        if n == 0:
            return
        yield pd.DataFrame(
            {"n": [n], "s": [s.tolist()], "m": [m.reshape(-1).tolist()]}
        )

    schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("s", T.ArrayType(T.LongType())),
            T.StructField("m", T.ArrayType(T.LongType())),
        ]
    )
    n_tot = 0
    s_tot: list[int] | None = None
    m_tot: list[int] | None = None
    for r in df.select(vec_col).mapInPandas(fn, schema=schema).collect():
        n_tot += int(r["n"])
        if s_tot is None:
            s_tot = [int(v) for v in r["s"]]
            m_tot = [int(v) for v in r["m"]]
        else:
            s_tot = [a + int(b) for a, b in zip(s_tot, r["s"])]
            m_tot = [a + int(b) for a, b in zip(m_tot, r["m"])]
    if n_tot == 0:
        raise ValueError("comoment_sums: corpus is empty")
    dim = len(s_tot)
    M = [m_tot[i * dim : (i + 1) * dim] for i in range(dim)]
    return n_tot, s_tot, M


def comoment_sums_df(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Upper-triangle DataFrame form ``(i, j, s_ij)`` with ``i <= j``
    — the oracle shape (DuckDB restates the quantize fold and sums
    ``qvec[i+1] * qvec[j+1]`` exactly; integers, no float order
    sensitivity)."""
    n, s, M = comoment_sums(df, id_col, vec_col)
    spark = df.sparkSession
    dim = len(s)
    rows = [
        (i, j, int(M[i][j])) for i in range(dim) for j in range(i, dim)
    ]
    return spark.createDataFrame(rows, "i int, j int, s_ij bigint")


def pca_fit(
    df: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Fit a k-component PCA of the quantized corpus.  Returns a
    model dict — driver-side, model-sized, like centroids:

    - ``mean``: dim floats (quantized-grid mean)
    - ``components``: k x dim (rows orthonormal, eigenvalue-descending)
    - ``eigvals``: k variances along the components
    - ``explained_variance_ratio``: k floats, fractions of TOTAL
      variance (all dim eigenvalues, not just the kept k)
    - ``n``: corpus rows

    The corpus contributes ONE exact-integer co-moment pass; the
    eigendecomposition is a dim x dim driver-side ``eigh``.  Sign
    convention: each component is flipped so its largest-|entry|
    coordinate is positive (scikit-learn's svd_flip) — deterministic
    regardless of LAPACK's arbitrary eigenvector signs."""
    import numpy as np

    n, s, M = comoment_sums(df, id_col, vec_col)
    dim = len(s)
    if not 1 <= k <= dim:
        raise ValueError(f"pca_fit: k={k} outside [1, {dim}]")
    if n < 2:
        raise ValueError("pca_fit: need at least 2 rows")
    mean = np.asarray(s, dtype=np.float64) / n
    M_np = np.asarray(M, dtype=np.float64)
    # covariance (population, 1/n): E[xx^T] - mean mean^T
    cov = M_np / n - np.outer(mean, mean)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1]
    evals = np.clip(evals[order], 0.0, None)
    comps = evecs[:, order].T  # rows = components
    # deterministic signs: largest-|entry| coordinate positive
    for r in range(dim):
        jmax = int(np.argmax(np.abs(comps[r])))
        if comps[r][jmax] < 0:
            comps[r] = -comps[r]
    total = float(evals.sum()) or 1.0
    return {
        "mean": [float(v) for v in mean],
        "components": [[float(v) for v in comps[r]] for r in range(k)],
        "eigvals": [float(v) for v in evals[:k]],
        "explained_variance_ratio": [float(v / total) for v in evals[:k]],
        "n": n,
    }


def rp_signs(in_dim: int, out_dim: int, seed: int = 7) -> list[list[float]]:
    """The deterministic +-1 sign matrix (out_dim x in_dim) of
    :func:`random_projection`: sign(t, d) from the parity of
    ``md5('{seed}:rp:{t}:{d}')`` — a pure literal both engines inline,
    like the LSH hyperplanes.  (Achlioptas 2003: a Rademacher matrix
    satisfies the JL lemma; no Gaussian sampling needed.)"""
    import hashlib

    return [
        [
            1.0
            if int(hashlib.md5(f"{seed}:rp:{t}:{d}".encode()).hexdigest(), 16)
            % 2
            == 0
            else -1.0
            for d in range(in_dim)
        ]
        for t in range(out_dim)
    ]


def random_projection(
    df: DataFrame,
    out_dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
    out_col: str = "rp",
) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction on the RAW
    embedding (no quantization — JL's guarantee is about the input
    geometry): ``out[t] = (1/sqrt(out_dim)) * sum_d x[d] * sign(t, d)``
    with the deterministic Rademacher matrix of :func:`rp_signs`.
    Pairwise distances are preserved within (1 +- eps) w.h.p. for
    out_dim = O(log n / eps^2) — the cheap pre-step before brute-force
    or LSH cosine when dim is large.

    Plan shape: a pure JVM row function (sequential ``aggregate`` fold
    per output coordinate over a literal sign array) — zero shuffle,
    no Python on the corpus, and the EXACT fold a DuckDB
    ``list_sum(list_transform(list_zip(...)))`` oracle restates
    (rounded to 6dp on both sides).  The sign matrix is model-sized
    driver state, inlined as literals (codegen-static: seeds don't
    change per row).

    Output: ``(id, out_col array<double> length out_dim)``.
    """
    if out_dim < 1:
        raise ValueError("random_projection: out_dim must be >= 1")
    first = df.select(vec_col).first()
    if first is None:
        raise ValueError("random_projection: corpus is empty")
    in_dim = len(first[vec_col])
    signs = rp_signs(in_dim, out_dim, seed)
    inv = 1.0 / (out_dim ** 0.5)
    x = F.transform(F.col(vec_col), lambda v: v.cast("double"))
    outs = []
    for t in range(out_dim):
        lit_signs = F.array(*[F.lit(s) for s in signs[t]])
        dot = F.aggregate(
            F.zip_with(x, lit_signs, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        outs.append(F.round(dot * F.lit(inv), 6))
    return df.select(F.col(id_col), F.array(*outs).alias(out_col))


def pca_project(
    df: DataFrame,
    model: dict,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "pca",
    whiten: bool = False,
) -> DataFrame:
    """Project each embedding onto the model's components:
    ``(id, out_col array<double> length k)``.  Quantizes with the
    SAME fold the fit used, centers on the model mean, and applies
    one numpy matmul per Arrow batch — a zero-shuffle map.
    ``whiten=True`` divides each score by sqrt(eigval) (unit variance
    per component; zero-variance components stay zero)."""
    import numpy as np
    import pandas as pd

    C = np.asarray(model["components"], dtype=np.float64)  # k x dim
    mean = np.asarray(model["mean"], dtype=np.float64)
    if whiten:
        scale = np.sqrt(np.asarray(model["eigvals"], dtype=np.float64))
        scale = np.where(scale == 0.0, 1.0, scale)
    else:
        scale = np.ones(C.shape[0], dtype=np.float64)
    q = df.select(id_col, vec_col)
    out_schema = T.StructType(
        [q.schema[id_col], T.StructField(out_col, T.ArrayType(T.DoubleType()))]
    )

    def fn(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            Xf = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            X = _np_quantize(Xf)
            S = (X - mean[None, :]) @ C.T / scale[None, :]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].values,
                    out_col: [row.tolist() for row in S],
                }
            )

    return q.mapInPandas(fn, schema=out_schema)
