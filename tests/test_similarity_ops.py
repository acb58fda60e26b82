"""Similarity operator semantics: recall of the approximate paths vs
the exact brute force, IVF structure invariants."""

import pytest

from pyspark.sql import functions as F

from zeek_duckdb_spark.operators import similarity as sim

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def test_exact_topk_self_similarity(spark, emb):
    q = emb.filter(F.col("vec_id") == 0)
    # including self, the top hit must be the query itself with sim 1.0
    top = sim.topk_neighbors(emb, q.select(F.col("embedding")), k=1)
    r = top.first()
    assert r.vec_id == 0 and abs(r.cosine_sim - 1.0) < 1e-6


def test_batch_topk_single_query_matches_expr_topk(spark, emb):
    # one query row through the numpy batch scorer must return the same
    # rows in the same order as the bit-reproducible fold after the
    # 6-dp round
    q = emb.filter(F.col("vec_id") == 0)
    a = sim.topk_neighbors(emb, q, k=20, query_id_col="vec_id").collect()
    b = sim.topk_neighbors_batch(emb, q, k=20).collect()
    assert len(a) == 20
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_ivf_recall_vs_exact(spark, emb):
    q = emb.filter(F.col("vec_id") == 0)
    corpus = emb.filter(F.col("vec_id") != 0)
    exact = {r.vec_id for r in sim.topk_neighbors(corpus, q, k=10, query_id_col="vec_id").collect()}
    approx = {r.vec_id for r in sim.ivf_topk(corpus, q, k=10, n_centroids=8, nprobe=8).collect()}
    # nprobe == n_centroids -> searches every cell -> exact recall
    assert approx == exact


def test_ivf_assign_arrow_kernel_identical_cells(spark, emb):
    # numpy assignment follows the SQL argmax fold's sequential
    # accumulation (kmeans._argmax_cell) — cells must be IDENTICAL,
    # including the zero-norm-centroid (NULL-cosine) and higher-cell
    # tie-break edges
    from zeek_duckdb_spark.operators.kmeans import _argmax_cell

    cents = emb.orderBy(F.asc("vec_id")).limit(8)
    a = {r.vec_id: r.cell for r in sim.ivf_assign(emb, cents).collect()}
    lit = [(r.vec_id, [float(x) for x in r.embedding]) for r in cents.collect()]
    x = {r.vec_id: r.cell
         for r in emb.withColumn("cell", _argmax_cell("embedding", lit)).collect()}
    assert a == x


def test_ivf_partial_probe_is_subset_ranked(spark, emb):
    q = emb.filter(F.col("vec_id") == 0)
    corpus = emb.filter(F.col("vec_id") != 0)
    res = sim.ivf_topk(corpus, q, k=10, n_centroids=16, nprobe=4).collect()
    assert 0 < len(res) <= 10
    sims = [r.cosine_sim for r in res]
    assert sims == sorted(sims, reverse=True)


def test_lsh_ann_results_are_true_cosines(spark, emb):
    q = emb.filter(F.col("vec_id") == 0)
    corpus = emb.filter(F.col("vec_id") != 0)
    res = sim.lsh_bucket_ann(corpus, q, dim=64, k=5).collect()
    # every returned similarity must equal the exact cosine (re-ranked)
    exact = {
        r.vec_id: r.cosine_sim
        for r in sim.topk_neighbors(corpus, q, k=500, query_id_col="vec_id").collect()
    }
    for r in res:
        assert abs(r.cosine_sim - exact[r.vec_id]) < 1e-9


def test_cosine_pairs_exact_vs_bucketed(spark, emb):
    sub = emb.filter(F.col("vec_id") < 100)
    exact = {(r.id_a, r.id_b) for r in sim.cosine_pairs(sub, 0.3, dim=64, exact=True).collect()}
    bucketed = {(r.id_a, r.id_b) for r in sim.cosine_pairs(sub, 0.3, dim=64, exact=False, planes=4).collect()}
    # bucketed is a subset (candidates limited to same bucket)
    assert bucketed.issubset(exact)


def test_quantize_embeddings_bounds(spark):
    from zeek_duckdb_spark.operators.similarity import quantize_embeddings

    df = spark.createDataFrame(
        [(1, [0.5, -1.0, 0.25]), (2, [0.0, 0.0, 0.0]), (3, [2.0, -4.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    rows = {r.vec_id: r for r in quantize_embeddings(df).collect()}
    assert rows[1].qvec == [64, -127, 32]       # scale = 1/127
    assert rows[2].qvec == [0, 0, 0]            # all-zero vector stays zero
    assert max(abs(v) for v in rows[3].qvec) == 127
    # reconstruction error bounded by scale/2 per component
    for r in rows.values():
        orig = {1: [0.5, -1.0, 0.25], 2: [0.0, 0.0, 0.0], 3: [2.0, -4.0, 1.0]}[r.vec_id]
        for o, q in zip(orig, r.qvec):
            assert abs(o - q * r.scale) <= r.scale / 2 + 1e-12


def _quantize_ref(vec):
    """Sequential reference of the int8 rule: (qvec, scale, nonzero)."""
    import math

    m = 0.0
    for x in vec or []:
        if x is not None:
            m = max(m, abs(x))
    scale = max(m, 1e-12) / 127.0
    if vec is None:
        return None, scale, None
    q = [None if x is None else int(math.floor(x / scale + 0.5)) for x in vec]
    if any(v for v in q if v is not None):
        return q, scale, True
    return q, scale, None if None in q else False


def test_quantize_embeddings_edge_cases_match_sequential_reference(spark):
    """NULL vector (NULL qvec and nonzero, clamped scale), NULL element
    (NULL code, skipped by the max), empty and all-zero arrays, a
    non-zero vector under the 1e-12 clamp (the clamp decides
    ``nonzero``), and D=768."""
    import random

    from zeek_duckdb_spark.operators.similarity import quantize_embeddings

    rng = random.Random(11)
    vecs = {
        1: None,
        2: [0.5, None, -0.25],
        3: [],
        4: [0.0, 0.0, 0.0],
        5: [1e-13, -5e-13, 0.0],   # below the clamp, codes survive
        6: [1e-15, -1e-15],        # below the clamp, codes all zero
        7: [None, None],
        8: [rng.uniform(-1.0, 1.0) for _ in range(768)],
    }
    df = spark.createDataFrame(
        sorted(vecs.items()), "vec_id long, embedding array<double>"
    )
    out = quantize_embeddings(df)
    assert out.columns == ["vec_id", "qvec", "scale", "nonzero"]
    got = {r.vec_id: (r.qvec, r.scale, r.nonzero) for r in out.collect()}
    assert got == {i: _quantize_ref(v) for i, v in vecs.items()}
    assert got[5][2] is True and got[6][2] is False


def test_quantized_topk_approximates_exact(spark):
    from zeek_duckdb_spark.operators.similarity import quantized_topk, topk_neighbors

    import math
    import random

    rnd = random.Random(3)
    base = [rnd.uniform(-1, 1) for _ in range(16)]

    def jitter(eps):
        return [b + rnd.uniform(-eps, eps) for b in base]

    rows = [(0, base)] + [(i, jitter(0.05 * i)) for i in range(1, 30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter("vec_id = 0")
    exact = [r.vec_id for r in topk_neighbors(df.filter("vec_id <> 0"), q, k=5,
                                              query_id_col="vec_id").collect()]
    quant = [r.vec_id for r in quantized_topk(df, q, k=5).collect()]
    # int8 quantization preserves the neighborhood (allow 1 swap at the tail)
    assert len(set(exact[:4]) & set(quant)) >= 3


def test_batch_topk_matches_per_query_topk(spark, emb):
    # batch kernel must agree with the single-query path for every query
    qs = emb.filter(F.col("vec_id") < 3)
    batch = sim.topk_neighbors_batch(emb, qs, k=5).collect()
    got = {}
    for r in batch:
        got.setdefault(r.q_id, []).append((r.vec_id, r.cosine_sim))
    assert set(got) == {0, 1, 2}
    for qid in got:
        one = sim.topk_neighbors(
            emb, emb.filter(F.col("vec_id") == qid), k=5,
            query_id_col="vec_id",
        ).collect()
        assert [(r.vec_id, r.cosine_sim) for r in one] == got[qid]


def test_batch_topk_emits_exactly_k_per_query(spark, emb):
    qs = emb.filter(F.col("vec_id") < 4)
    out = sim.topk_neighbors_batch(emb, qs, k=7)
    counts = {r.q_id: r.n for r in out.groupBy("q_id").agg(F.count("*").alias("n")).collect()}
    assert counts == {0: 7, 1: 7, 2: 7, 3: 7}
    with pytest.raises(ValueError, match="queries is empty"):
        sim.topk_neighbors_batch(emb, emb.filter(F.col("vec_id") < 0), k=3)


def test_batch_topk_boundary_cut_uses_rounded_tiebreak(spark):
    # Two candidates whose RAW sims differ but round equal at 6 dp,
    # straddling the k=1 boundary: the cut must keep the row the global
    # (rounded sim DESC, id ASC) tie-break keeps — id 1 — regardless of
    # raw-sim order (id 2 has the higher raw sim).
    rows = [
        (1, [1.0, 3e-4]),   # cos vs [1,0] ~ 1 - 4.5e-8 -> rounds to 1.0
        (2, [1.0, 1e-4]),   # cos ~ 1 - 5e-9            -> rounds to 1.0
        (3, [0.9, 0.5]),    # clearly lower
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = spark.createDataFrame([(0, [1.0, 0.0])], "vec_id long, embedding array<double>")
    out = sim.topk_neighbors_batch(df, q, k=1).collect()
    assert len(out) == 1
    assert out[0].vec_id == 1 and out[0].cosine_sim == 1.0
    # and it agrees with the single-query global path
    one = sim.topk_neighbors(df, q, k=1, query_id_col="vec_id").collect()
    assert (out[0].vec_id, out[0].cosine_sim) == (one[0].vec_id, one[0].cosine_sim)


def test_batch_topk_string_ids(spark):
    # id columns keep their input types — string ids must work, not
    # silently coerce to long
    rows = [("a", [1.0, 0.0]), ("b", [0.8, 0.6]), ("c", [0.0, 1.0])]
    df = spark.createDataFrame(rows, "doc string, embedding array<double>")
    qs = spark.createDataFrame([("q1", [1.0, 0.1])], "doc string, embedding array<double>")
    out = sim.topk_neighbors_batch(
        df, qs, k=2, id_col="doc", query_id_col="doc"
    )
    assert dict(out.dtypes) == {"q_id": "string", "doc": "string", "cosine_sim": "double"}
    got = [(r.q_id, r.doc) for r in out.collect()]
    assert got == [("q1", "a"), ("q1", "b")]


def test_topk_kernels_exclude_nan_scores(spark):
    # zero-norm vectors have undefined cosine -> excluded by EVERY
    # top-k path (Spark sorts NaN first under DESC, numpy lexsort last;
    # without the filter the paths would disagree)
    rows = [
        (1, [1.0, 0.0]),
        (2, [0.0, 0.0]),   # degenerate: zero norm
        (3, [0.5, 0.5]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = spark.createDataFrame([(0, [1.0, 0.0])], "vec_id long, embedding array<double>")
    got = [r.vec_id for r in
           sim.topk_neighbors(df, q, k=3, query_id_col="vec_id").collect()]
    assert got == [1, 3]
    got = [r.vec_id for r in sim.topk_neighbors_batch(df, q, k=3).collect()]
    assert got == [1, 3]
    got = [r.vec_id for r in sim.quantized_topk(df, q, k=3).collect()]
    assert got == [1, 3]


def test_multiprobe_lsh_improves_recall(spark, emb):
    # probing Hamming-1 buckets must recover a superset of the exact
    # bucket's candidates and close on the true top-k
    q = emb.filter(F.col("vec_id") == 0)
    corpus = emb.filter(F.col("vec_id") != 0)
    exact = [r.vec_id for r in
             sim.topk_neighbors(corpus, q.select("embedding"), k=10).collect()]
    one = sim.lsh_bucket_ann(corpus, q.select("embedding"), dim=64, k=10, planes=6)
    multi = sim.lsh_bucket_ann(
        corpus, q.select("embedding"), dim=64, k=10, planes=6, probe_hamming=1
    )
    r_one = {r.vec_id for r in one.collect()}
    r_multi = {r.vec_id for r in multi.collect()}
    # multi-probe candidates strictly contain the single-bucket hits it
    # keeps, and recall vs brute force must not decrease
    assert len(r_multi & set(exact)) >= len(r_one & set(exact))
    assert len(r_multi) >= len(r_one)
    # scores are true cosines: every multi-probe hit present in the
    # brute-force TOP-k list has the identical rounded score
    bf = {r.vec_id: r.cosine_sim for r in
          sim.topk_neighbors(corpus, q.select("embedding"), k=500).collect()}
    for r in multi.collect():
        assert bf[r.vec_id] == r.cosine_sim
    with pytest.raises(ValueError, match="probe_hamming"):
        sim.lsh_bucket_ann(corpus, q.select("embedding"), dim=64, probe_hamming=2)


def test_multiprobe_lsh_plan_is_one_broadcast_join(spark, emb):
    from zeek_duckdb_spark.plans import audit

    q = emb.filter(F.col("vec_id") == 0).select("embedding")
    df = sim.lsh_bucket_ann(emb, q, dim=64, k=5, planes=6, probe_hamming=1)
    assert audit.num_broadcast_joins(df) == 1
    assert audit.num_sortmerge_joins(df) == 0


# --- SemDeDup-style semantic dedup ------------------------------------


def _planted(spark):
    """3 tight near-dup groups in well-separated directions + 2 loners.
    Base directions orthogonal-ish so groups never cross the 0.95 bar."""
    import numpy as np

    rng = np.random.default_rng(7)
    rows = []
    vid = 0
    for axis in range(3):          # groups at ids 0-2, 3-5, 6-8
        base = np.zeros(8)
        base[axis] = 1.0
        for _ in range(3):
            v = base + rng.normal(0, 0.01, 8)   # cos > 0.999 in-group
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    for axis in (3, 4):            # loners at ids 9, 10
        base = np.zeros(8)
        base[axis] = 1.0
        rows.append((vid, [float(x) for x in base]))
        vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _expected_pairs(df, threshold):
    import numpy as np

    rows = sorted((r.vec_id, np.array(r.embedding)) for r in df.collect())
    out = set()
    for i, (ia, va) in enumerate(rows):
        for ib, vb in rows[i + 1:]:
            c = float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb)))
            if round(c, 6) >= threshold:
                out.add((ia, ib))
    return out


def test_semantic_pairs_single_cell_is_exact(spark):
    df = _planted(spark)
    got = {
        (r.id_a, r.id_b)
        for r in sim.semantic_pairs(df, 0.95, n_cells=1).collect()
    }
    assert got == _expected_pairs(df, 0.95)


def test_semantic_pairs_cells_are_subset(spark):
    df = _planted(spark)
    exact = _expected_pairs(df, 0.95)
    got = {
        (r.id_a, r.id_b)
        for r in sim.semantic_pairs(df, 0.95, n_cells=4).collect()
    }
    assert got <= exact
    assert got  # the geometry-following buckets find in-group pairs


@pytest.mark.slow
def test_semantic_dedup_keeps_one_per_group(spark):
    df = _planted(spark)
    kept = sorted(
        r.vec_id for r in sim.semantic_dedup(df, 0.95, n_cells=1).collect()
    )
    # min_id per planted group + both loners
    assert kept == [0, 3, 6, 9, 10]
    # idempotent: a second pass removes nothing
    once = sim.semantic_dedup(df, 0.95, n_cells=1)
    assert sorted(r.vec_id for r in sim.semantic_dedup(once, 0.95, n_cells=1).collect()) == kept


@pytest.mark.slow
def test_semantic_dedup_low_centroid_sim_policy(spark):
    import numpy as np

    # one group of three; member 2 is pushed farthest from the group
    # direction (still above threshold) -> the SemDeDup keep choice
    base = np.zeros(8); base[0] = 1.0
    tilt = np.zeros(8); tilt[1] = 0.25
    rows = [
        (0, [float(x) for x in base]),
        (1, [float(x) for x in base * 1.1]),
        (2, [float(x) for x in base + tilt]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # centroid = the group direction itself (id 0 with n_cells=1 sample)
    kept = sim.semantic_dedup(
        df, 0.9, keep="low_centroid_sim", n_cells=1
    ).collect()
    assert [r.vec_id for r in kept] == [2]


def test_semantic_cell_guard_errors_loudly(spark):
    df = _planted(spark)
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    with pytest.raises((Py4JJavaError, SparkRuntimeException, Exception), match="max_cell_size"):
        sim.semantic_pairs(df, 0.95, n_cells=1, max_cell_size=2).collect()
    # drop mode: oversize cell excluded -> no pairs from it, no error
    got = sim.semantic_pairs(
        df, 0.95, n_cells=1, max_cell_size=2, on_oversize="drop"
    ).collect()
    assert got == []


def test_semantic_pairs_plan_no_allpairs(spark, emb):
    from zeek_duckdb_spark.plans import audit

    p = sim.semantic_pairs(emb, 0.9, n_cells=8)
    plan = audit.physical_plan(p)
    # cell-bucketed equi-join, never an all-pairs product
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert audit.num_shuffles(p) <= 4  # counts agg + cell join sides


def test_batch_topk_rescore_matches_expr_fold(spark, emb):
    q = emb.filter(F.col("vec_id").isin(0, 1))
    plain = sim.topk_neighbors_batch(emb, q, k=10, query_id_col="vec_id").collect()
    rescored = sim.topk_neighbors_batch(
        emb, q, k=10, query_id_col="vec_id", rescore=True
    ).collect()
    # same rows, and rescored values equal the per-query expr fold
    assert [(r.q_id, r.vec_id) for r in plain] == [
        (r.q_id, r.vec_id) for r in rescored
    ]
    for qid in (0, 1):
        one = sim.topk_neighbors(
            emb, emb.filter(F.col("vec_id") == qid), k=10,
            query_id_col="vec_id",
        ).collect()
        got = [(r.vec_id, r.cosine_sim) for r in rescored if r.q_id == qid]
        assert got == [(r.vec_id, r.cosine_sim) for r in one]


@pytest.mark.slow
def test_semantic_dedup_with_trained_kmeans_centroids(spark):
    # the production composition: kmeans_fit_quantized centroids feed
    # semantic_pairs/semantic_dedup in place of the lowest-id sample
    from zeek_duckdb_spark.operators.kmeans import kmeans_fit_quantized

    df = _planted(spark)
    model = kmeans_fit_quantized(df, k=4, iters=2)
    cents = spark.createDataFrame(
        [(int(c), list(map(float, v))) for c, v in model],
        "vec_id long, embedding array<double>",
    )
    kept = {
        r.vec_id
        for r in sim.semantic_dedup(df, 0.95, centroids=cents).collect()
    }
    # soundness: loners are never dropped, and every drop has a kept
    # near-dup from its own planted group (cells may split a group —
    # the documented cross-cell recall trade — so exact min-id-per-group
    # would over-promise here; that property is pinned at n_cells=1)
    assert {9, 10} <= kept
    groups = [{0, 1, 2}, {3, 4, 5}, {6, 7, 8}]
    dropped = set(range(11)) - kept
    assert dropped  # the trained cells do collapse duplicates
    for d in dropped:
        (g,) = [g for g in groups if d in g]
        assert g & kept, d
