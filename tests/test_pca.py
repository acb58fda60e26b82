"""PCA family: exact-integer co-moment differential vs DuckDB,
partitioning determinism, planted-factor recovery, projection parity,
and the zero-shuffle plan property."""

import duckdb
import pytest

from pyspark.sql import functions as F

from zeek_duckdb_spark.operators.pca import (
    comoment_sums,
    comoment_sums_df,
    pca_fit,
    pca_project,
    random_projection,
    rp_signs,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def test_comoments_match_duckdb_exactly(spark, emb):
    dim = len(emb.select("embedding").first()["embedding"])
    got = {
        (r.i, r.j): r.s_ij for r in comoment_sums_df(emb).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW e AS SELECT CAST(embedding AS DOUBLE[]) AS x "
        f"FROM read_parquet('{SF}/embeddings.parquet')"
    )
    want = {
        (int(i), int(j)): int(s)
        for i, j, s in con.sql(
            f"""
            WITH qz AS (
              SELECT list_transform(x, v -> CAST(floor(v / s + 0.5) AS INT))
                       AS qvec
              FROM (SELECT x,
                           greatest(list_max(list_transform(x, v -> abs(v))),
                                    1e-12) / 127.0 AS s
                    FROM e))
            SELECT i.range, j.range,
                   SUM(CAST(qvec[i.range + 1] AS BIGINT) * qvec[j.range + 1])
            FROM qz, range({dim}) i, range({dim}) j
            WHERE i.range <= j.range GROUP BY 1, 2
            """
        ).fetchall()
    }
    assert got == want and len(got) == dim * (dim + 1) // 2


def test_comoments_deterministic_across_partitionings(spark, emb):
    a = comoment_sums(emb)
    b = comoment_sums(emb.repartition(13))
    assert a == b  # exact integer equality, not approx


def test_comoments_bit_equal_to_int64_reference(spark):
    """The per-batch float64 ``X.T @ X`` equals an int64 matmul bit
    for bit: rows whose every code is +-127 (the largest products)
    next to rows of mixed scale, cut into ragged 37-row batches."""
    import numpy as np

    rng = np.random.default_rng(3)
    n, dim = 600, 24
    X = np.vstack([
        rng.choice([-1.0, 1.0], size=(n, dim)),
        rng.normal(size=(n, dim)) * rng.uniform(0.01, 100.0, size=(n, 1)),
    ])
    df = spark.createDataFrame(
        [(i, row.tolist()) for i, row in enumerate(X)],
        "vec_id long, embedding array<double>",
    ).repartition(7)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "37")
    try:
        got = comoment_sums(df)
    finally:
        spark.conf.set(key, old)
    scale = np.maximum(np.abs(X).max(axis=1), 1e-12) / 127.0
    Q = np.floor(X / scale[:, None] + 0.5).astype(np.int64)
    assert (np.abs(Q[:n]) == 127).all()
    assert got == (len(X), Q.sum(axis=0).tolist(), (Q.T @ Q).tolist())


def _planted(spark, n=400, dim=16, seed=5):
    # two dominant orthogonal factors + tiny noise
    import random

    rng = random.Random(seed)
    u = [1.0 if d < dim // 2 else 0.0 for d in range(dim)]
    v = [0.0 if d < dim // 2 else 1.0 for d in range(dim)]
    rows = []
    for i in range(n):
        a, b = rng.gauss(0, 3), rng.gauss(0, 1.5)
        vec = [
            a * u[d] + b * v[d] + rng.gauss(0, 0.01) for d in range(dim)
        ]
        rows.append((i, vec))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_fit_recovers_planted_factors(spark):
    import numpy as np

    df = _planted(spark)
    m = pca_fit(df, k=2)
    assert sum(m["explained_variance_ratio"]) > 0.95
    assert m["eigvals"][0] >= m["eigvals"][1] >= 0
    C = np.asarray(m["components"])
    assert np.allclose(C @ C.T, np.eye(2), atol=1e-9)  # orthonormal
    # deterministic sign: largest-|entry| coordinate positive
    for r in range(2):
        assert C[r][int(np.argmax(np.abs(C[r])))] > 0
    # refit == fit (determinism end to end)
    assert pca_fit(df.repartition(9), k=2) == m


def test_project_matches_numpy_and_whitens(spark):
    import numpy as np

    from zeek_duckdb_spark.operators.similarity import quantize_embeddings

    df = _planted(spark, n=300)
    m = pca_fit(df, k=2)
    got = {
        r.vec_id: list(r.pca)
        for r in pca_project(df, m).collect()
    }
    qv = {
        r.vec_id: np.asarray(r.qvec, dtype=np.float64)
        for r in quantize_embeddings(df).collect()
    }
    C = np.asarray(m["components"])
    mean = np.asarray(m["mean"])
    for vid, scores in got.items():
        want = (qv[vid] - mean) @ C.T
        assert np.allclose(scores, want, atol=1e-9), vid
    # whitened scores have ~unit variance along each component
    w = np.array(
        [r.pca for r in pca_project(df, m, whiten=True).collect()]
    )
    assert np.allclose(w.var(axis=0), 1.0, rtol=0.05)


def test_project_plan_is_zero_shuffle(spark, emb):
    m = pca_fit(emb, k=4)
    plan = (
        pca_project(emb, m)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


def _rp_sql(in_dim, out_dim, seed=7):
    signs = rp_signs(in_dim, out_dim, seed)
    inv = 1.0 / (out_dim ** 0.5)
    cols = ", ".join(
        "ROUND(list_sum(list_transform(list_zip(x, ["
        + ", ".join(str(s) for s in signs[t])
        + f"]), p -> p[1] * p[2])) * {inv!r}, 6)"
        for t in range(out_dim)
    )
    return f"SELECT vec_id, [{cols}] AS rp FROM e"


def test_random_projection_matches_duckdb(spark, emb):
    got = {
        r.vec_id: list(r.rp)
        for r in random_projection(emb, out_dim=8).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW e AS SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x "
        f"FROM read_parquet('{SF}/embeddings.parquet')"
    )
    want = {
        int(vid): [float(v) for v in rp]
        for vid, rp in con.sql(_rp_sql(64, 8)).fetchall()
    }
    assert got == want


def test_random_projection_preserves_distances(spark):
    import numpy as np

    df = _planted(spark, n=80, dim=16)
    X = {
        r.vec_id: np.asarray(r.embedding) for r in df.collect()
    }
    P = {
        r.vec_id: np.asarray(r.rp)
        for r in random_projection(df, out_dim=12).collect()
    }
    ids = sorted(X)
    d_in, d_out = [], []
    for a in ids[:20]:
        for b in ids[:20]:
            if a < b:
                d_in.append(float(((X[a] - X[b]) ** 2).sum()))
                d_out.append(float(((P[a] - P[b]) ** 2).sum()))
    r = np.corrcoef(d_in, d_out)[0, 1]
    assert r > 0.8, r  # JL: squared distances track the originals


def test_random_projection_plan_jvm_only(spark, emb):
    plan = (
        random_projection(emb, out_dim=4)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan
    assert "Python" not in plan  # pure JVM row function
    with pytest.raises(ValueError, match="out_dim"):
        random_projection(emb, out_dim=0)


def test_validation(spark, emb):
    with pytest.raises(ValueError, match="outside"):
        pca_fit(emb, k=0)
    with pytest.raises(ValueError, match="outside"):
        pca_fit(emb, k=10_000)
    empty = emb.filter(F.col("vec_id") < 0)
    with pytest.raises(ValueError, match="empty"):
        comoment_sums(empty)
