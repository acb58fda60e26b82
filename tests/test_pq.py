"""Product quantization: train determinism, encode/ADC parity vs
numpy, the refine serving shape, and the zero-shuffle plan contract."""

import math

import numpy as np
import pytest

from pyspark.sql import functions as F

from zeek_duckdb_spark.operators.pq import pq_encode, pq_topk, pq_train
from zeek_duckdb_spark.plans import audit

SF = "/root/testdata/sf0.001"
DIM, M, K = 64, 8, 4


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding"
    )


@pytest.fixture(scope="module")
def model(spark, emb):
    return pq_train(emb, dim=DIM, m=M, k=K, iters=2)


def _seq_code(sub, cb):
    """Reference argmin-L2 code: the sequential ``acc + (x - c)^2``
    fold per centroid, the lowest code winning ties."""
    def dist(cent):
        acc = 0.0
        for x, c in zip(sub, cent):
            acc += (float(x) - c) * (float(x) - c)
        return acc

    return min((dist(cent), c) for c, cent in enumerate(cb))[1]


def _seq_encode(rows, cbs):
    dsub = len(cbs[0][0])
    return {
        i: [_seq_code(v[j * dsub : (j + 1) * dsub], cb) for j, cb in enumerate(cbs)]
        for i, v in rows
    }


def _seq_train(rows, dim, m, k, iters):
    """Reference pq_train in plain Python over (id, vector) rows: the
    corpus-global int8 grid, the k lowest ids as init, sequential
    assignment folds, exact int sums, one division per mean, an empty
    cell keeps its centroid; codebooks scaled back to vector units."""
    dsub = dim // m
    rows = sorted((i, v) for i, v in rows if v is not None and len(v) == dim)
    mx = 0.0
    for _, v in rows:
        for x in v:
            mx = max(mx, abs(float(x)))
    scale = mx / 127.0
    q = [[math.floor(float(x) / scale + 0.5) for x in v] for _, v in rows]
    cbs = [[[float(x) for x in r[j * dsub : (j + 1) * dsub]] for r in q[:k]]
           for j in range(m)]
    for _ in range(iters):
        n, sums = {}, {}
        for r in q:
            for j in range(m):
                sub = r[j * dsub : (j + 1) * dsub]
                key = (j, _seq_code(sub, cbs[j]))
                n[key] = n.get(key, 0) + 1
                sums[key] = [a + b for a, b in zip(sums.get(key, [0] * dsub), sub)]
        cbs = [
            [
                [t / n[(j, c)] for t in sums[(j, c)]] if (j, c) in n else cent
                for c, cent in enumerate(cb)
            ]
            for j, cb in enumerate(cbs)
        ]
    return [[[v * scale for v in cent] for cent in cb] for cb in cbs]


def _rows(df):
    return [(r.vec_id, list(r.embedding)) for r in df.collect()]


def _np_embs(emb):
    rows = emb.orderBy("vec_id").collect()
    ids = np.array([r.vec_id for r in rows])
    X = np.array([[float(v) for v in r.embedding] for r in rows])
    return ids, X


def test_train_shapes_and_partitioning_invariance(spark, emb, model):
    assert len(model) == M and len(model[0]) == K and len(model[0][0]) == DIM // M
    # exact-int64-sum training: identical codebooks under any partitioning
    again = pq_train(emb.repartition(7), dim=DIM, m=M, k=K, iters=2)
    assert model == again


def test_encode_matches_numpy_argmin(spark, emb, model):
    got = {
        r.vec_id: list(r.pq_codes)
        for r in pq_encode(emb, model).collect()
    }
    ids, X = _np_embs(emb)
    cb = np.array(model)  # m x k x dsub
    dsub = DIM // M
    for i, vid in enumerate(ids[:100]):
        for j in range(M):
            sub = X[i, j * dsub : (j + 1) * dsub]
            d = ((cb[j] - sub) ** 2).sum(axis=1)
            # tie-break: lowest code
            assert got[vid][j] == int(np.argmin(d))


def test_topk_matches_numpy_adc_l2_and_ip(spark, emb, model):
    ids, X = _np_embs(emb)
    query = X[3].tolist()
    codes = pq_encode(emb, model)
    cb = np.array(model)
    dsub = DIM // M
    code_np = {
        r.vec_id: list(r.pq_codes) for r in codes.collect()
    }
    for metric, col, sign in (("l2", "adc_dist", 1), ("ip", "adc_score", -1)):
        lut = np.zeros((M, K))
        for j in range(M):
            sub = np.array(query[j * dsub : (j + 1) * dsub])
            if metric == "l2":
                lut[j] = ((cb[j] - sub) ** 2).sum(axis=1)
            else:
                lut[j] = cb[j] @ sub
        adc = {
            vid: round(sum(lut[j][c] for j, c in enumerate(cs)), 6)
            for vid, cs in code_np.items()
        }
        want = sorted(adc.items(), key=lambda kv: (sign * kv[1], kv[0]))[:10]
        got = [
            (r.vec_id, r[col])
            for r in pq_topk(codes, query, model, 10, metric=metric).collect()
        ]
        assert got == [(int(v), pytest.approx(s, abs=1e-9)) for v, s in want]


def test_refine_reranks_by_exact_distance(spark, emb, model):
    ids, X = _np_embs(emb)
    query = X[5].tolist()
    codes = pq_encode(emb, model)
    out = pq_topk(
        codes, query, model, 5, metric="l2", refine_with=emb, refine_factor=8
    ).collect()
    assert [c for c in out[0].asDict()] == ["vec_id", "adc_dist", "exact_dist"]
    # exact_dist values match numpy for the returned rows, and ordering
    # is by exact distance
    by_id = {int(i): X[n] for n, i in enumerate(ids)}
    q = np.array(query)
    for r in out:
        want = float(((by_id[r.vec_id] - q) ** 2).sum())
        assert r.exact_dist == pytest.approx(round(want, 6), abs=1e-6)
    dists = [r.exact_dist for r in out]
    assert dists == sorted(dists)


def test_encode_and_topk_zero_shuffle_plans(spark, emb, model):
    # the Arrow encode kernel is a zero-shuffle map
    codes = pq_encode(emb, model)
    assert audit.num_shuffles(codes) == 0
    ids, X = _np_embs(emb)
    top = pq_topk(codes, X[0].tolist(), model, 10)
    plan = audit.physical_plan(top)
    assert audit.num_shuffles(top) == 0
    assert "TakeOrderedAndProject" in plan


def test_geometry_validation(spark, emb):
    with pytest.raises(ValueError, match="must divide"):
        pq_train(emb, dim=DIM, m=7, k=4)
    with pytest.raises(ValueError, match="one byte"):
        pq_train(emb, dim=DIM, m=8, k=1000)
    with pytest.raises(ValueError, match="query dim"):
        pq_topk(pq_encode(emb, [[[0.0] * 8] * 4] * 8), [0.0] * 10, [[[0.0] * 8] * 4] * 8)
    with pytest.raises(ValueError, match="train_sample"):
        pq_train(emb, dim=DIM, m=8, k=4, train_sample=1.5)


def test_train_sample_subsets_deterministically(spark, emb):
    a = pq_train(emb, dim=DIM, m=M, k=K, iters=1, train_sample=0.5, seed=3)
    b = pq_train(emb, dim=DIM, m=M, k=K, iters=1, train_sample=0.5, seed=3)
    assert a == b


# --- IVF-PQ -------------------------------------------------------------

@pytest.fixture(scope="module")
def ivfpq(spark, emb):
    from zeek_duckdb_spark.operators.pq import ivfpq_build

    return ivfpq_build(emb, dim=DIM, n_cells=8, m=M, k=16, iters=2)


def test_ivfpq_build_shapes_and_cell_assignment(spark, emb, ivfpq):
    cells, cbs, codes = ivfpq
    assert len(cells) == 8 and len(cells[0]) == DIM
    assert len(cbs) == M and len(cbs[0]) == 16
    rows = codes.collect()
    assert len(rows) == emb.count()
    assert {c for r in rows for c in [r.cell]} <= set(range(8))
    # cell = nearest coarse centroid by L2 (numpy cross-check, 50 rows)
    ids, X = _np_embs(emb)
    C = np.array(cells)
    got = {r.vec_id: r.cell for r in rows}
    for i in range(50):
        d = ((C - X[i]) ** 2).sum(axis=1)
        assert got[ids[i]] == int(np.argmin(d))


def test_ivfpq_topk_matches_numpy_adc(spark, emb, ivfpq):
    from zeek_duckdb_spark.operators.pq import ivfpq_topk

    cells, cbs, codes = ivfpq
    ids, X = _np_embs(emb)
    q = X[7]
    C, CB = np.array(cells), np.array(cbs)
    dsub = DIM // M
    code_rows = {r.vec_id: (r.cell, list(r.pq_codes)) for r in codes.collect()}
    d2 = ((C - q) ** 2).sum(axis=1)
    probed = list(np.argsort(d2, kind="stable")[:3])
    # numpy ADC: per probed cell, lut over the query residual
    adc = {}
    for vid, (cell, cs) in code_rows.items():
        if cell not in probed:
            continue
        rq = q - C[cell]
        dist = 0.0
        for j, c in enumerate(cs):
            sub = rq[j * dsub : (j + 1) * dsub]
            dist += float(((CB[j][c] - sub) ** 2).sum())
        adc[vid] = round(dist, 6)
    want = sorted(adc.items(), key=lambda kv: (kv[1], kv[0]))[:10]
    got = [
        (r.vec_id, r.adc_dist)
        for r in ivfpq_topk(codes, q.tolist(), cells, cbs, 10, nprobe=3).collect()
    ]
    assert got == [(int(v), pytest.approx(s, abs=1e-9)) for v, s in want]


def test_ivfpq_recall_on_planted_clusters_and_plan_is_narrow(spark):
    # the synthetic corpus is near-uniform (neighbour structure too
    # weak for any 64-bit sketch), so recall is asserted on PLANTED
    # structure: 10 well-separated cluster centres, 100 points each
    from zeek_duckdb_spark.operators.pq import ivfpq_build, ivfpq_topk

    rng = np.random.default_rng(0)
    centres = rng.normal(0, 10, (10, DIM))
    pts = np.concatenate(
        [c + rng.normal(0, 0.5, (100, DIM)) for c in centres]
    )
    d = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(pts)],
        "vec_id long, embedding array<double>",
    )
    cells, cbs, codes = ivfpq_build(d, dim=DIM, n_cells=8, m=M, k=16, iters=3)
    q = (centres[3] + rng.normal(0, 0.5, DIM)).tolist()
    top = ivfpq_topk(codes, q, cells, cbs, 10, nprobe=3)
    got = top.collect()
    # every hit must come from the query's own planted cluster
    assert all(300 <= r.vec_id < 400 for r in got), [r.vec_id for r in got]
    assert audit.num_shuffles(top) == 0
    assert "TakeOrderedAndProject" in audit.physical_plan(top)


@pytest.mark.slow
def test_ivfpq_refine_exact_resolves_needle_regime(spark):
    """The r8 recall curves' honest negative: within a DENSE cluster
    the residual noise sits below the code resolution, ADC collapses,
    and no shortlist multiple fixes it.  refine_with + the default
    refine_factor=None re-ranks ALL probed-cell rows against the
    original vectors — recall must be exact-top-10 here — and the
    plan stays shuffle-free."""
    from zeek_duckdb_spark.operators.pq import ivfpq_build, ivfpq_topk

    rng = np.random.default_rng(3)
    centres = rng.normal(0, 10, (8, DIM))
    # dense clusters: noise 0.02 << cluster separation, below
    # (m=M, k=16) residual-code resolution
    pts = np.concatenate(
        [c + rng.normal(0, 0.02, (200, DIM)) for c in centres]
    )
    d = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(pts)],
        "vec_id long, embedding array<double>",
    )
    cells, cbs, codes = ivfpq_build(d, dim=DIM, n_cells=8, m=M, k=16, iters=3)
    q = pts[400] + rng.normal(0, 0.005, DIM)  # near a cluster-2 point
    truth = np.argsort(((pts - q) ** 2).sum(axis=1))[:10].tolist()

    refined = ivfpq_topk(
        codes, q.tolist(), cells, cbs, 10, nprobe=2, refine_with=d
    )
    got = [r.vec_id for r in refined.collect()]
    assert got == truth  # exact re-rank == brute force inside the cells
    assert audit.num_shuffles(refined) == 0
    assert "TakeOrderedAndProject" in audit.physical_plan(refined)
    # the raw ADC ordering really is degenerate here (the reason the
    # mode exists): it misses most of the true top-10
    raw = {
        r.vec_id
        for r in ivfpq_topk(codes, q.tolist(), cells, cbs, 10, nprobe=2).collect()
    }
    assert len(raw & set(truth)) < 5
    # shortlist mode: exact order on the ADC candidates, broadcast join
    short = ivfpq_topk(
        codes, q.tolist(), cells, cbs, 10, nprobe=2,
        refine_with=d, refine_factor=4,
    )
    rows = short.collect()
    assert len(rows) == 10 and {"vec_id", "adc_dist", "exact_dist"} == set(
        short.columns
    )
    assert audit.num_shuffles(short) == 0
    with pytest.raises(ValueError, match="refine_factor"):
        ivfpq_topk(codes, q.tolist(), cells, cbs, 10, nprobe=2,
                   refine_with=d, refine_factor=0)


def test_ivfpq_refine_cosine_metric(spark):
    """refine_metric='cosine' must rank the probed candidates exactly
    as brute-force cosine does (retrieval evals rank by cosine; an L2
    re-rank returns the right candidates in a different order and
    silently caps recall — the r9 needle finding)."""
    from zeek_duckdb_spark.operators.pq import ivfpq_build, ivfpq_topk

    rng = np.random.default_rng(9)
    # one dense cluster + background so L2 and cosine orders differ
    centre = rng.normal(0, 5, DIM)
    pts = np.concatenate([
        centre + rng.normal(0, 0.3, (150, DIM)),
        rng.normal(0, 5, (150, DIM)),
    ])
    d = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(pts)],
        "vec_id long, embedding array<double>",
    )
    cells, cbs, codes = ivfpq_build(d, dim=DIM, n_cells=4, m=M, k=16, iters=2)
    q = (centre + rng.normal(0, 0.2, DIM))
    qn = q / np.linalg.norm(q)
    cos = (pts / np.linalg.norm(pts, axis=1, keepdims=True)) @ qn
    # numpy truth with the id tie-break on rounded scores
    order = sorted(range(len(pts)), key=lambda i: (-round(cos[i], 6), i))
    got = ivfpq_topk(
        codes, q.tolist(), cells, cbs, 10, nprobe=4,
        refine_with=d, refine_metric="cosine",
    )
    assert [r.vec_id for r in got.collect()] == order[:10]
    assert "exact_score" in got.columns
    with pytest.raises(ValueError, match="refine_metric"):
        ivfpq_topk(codes, q.tolist(), cells, cbs, 10,
                   refine_with=d, refine_metric="dot")


def test_ivfpq_refine_uses_landed_cell_column(spark):
    """A vectors table that already carries the cell column (the
    partitionBy('cell') serving layout) is filtered directly — no
    re-assignment scan; results identical to the derive-on-the-fly
    path."""
    from zeek_duckdb_spark.operators.pq import (
        ivfpq_build,
        ivfpq_topk,
        pq_encode,
    )

    rng = np.random.default_rng(4)
    pts = rng.normal(0, 1, (300, DIM))
    d = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(pts)],
        "vec_id long, embedding array<double>",
    )
    cells, cbs, codes = ivfpq_build(d, dim=DIM, n_cells=4, m=M, k=16, iters=2)
    assigned = pq_encode(d, [cells], keep=("embedding",)).select(
        "vec_id",
        F.element_at("pq_codes", 1).alias("cell"),
        "embedding",
    )
    q = pts[7].tolist()
    a = [r.vec_id for r in ivfpq_topk(
        codes, q, cells, cbs, 10, nprobe=2, refine_with=d).collect()]
    b = [r.vec_id for r in ivfpq_topk(
        codes, q, cells, cbs, 10, nprobe=2, refine_with=assigned).collect()]
    assert a == b


def test_ivfpq_validation(spark, emb, ivfpq):
    from zeek_duckdb_spark.operators.pq import ivfpq_topk

    cells, cbs, codes = ivfpq
    with pytest.raises(ValueError, match="nprobe"):
        ivfpq_topk(codes, [0.0] * DIM, cells, cbs, 5, nprobe=0)
    with pytest.raises(ValueError, match="query dim"):
        ivfpq_topk(codes, [0.0] * 10, cells, cbs, 5, nprobe=1)


def test_arrow_train_kernel_identical_codebooks(spark, emb, model):
    # the Arrow partial-sum Lloyd pass accumulates distances in the
    # sequential reference order — codebooks must be IDENTICAL (not
    # close) to a plain sequential Lloyd, under any partitioning
    want = _seq_train(_rows(emb), DIM, M, K, iters=2)
    assert model == want
    assert pq_train(emb.repartition(7), dim=DIM, m=M, k=K, iters=2) == want


@pytest.mark.slow
def test_arrow_train_kernel_survives_empty_partitions(spark):
    # a tiny corpus spread over many partitions leaves most partitions
    # EMPTY — the partial-sum kernel must yield nothing there (an
    # empty pandas column is a float64 ndarray Arrow can't cast to
    # list<int64>; regression for the rag-composition failure)
    rows = [
        (i, [float((i * 7 + d) % 5) for d in range(8)]) for i in range(6)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).repartition(32)
    got = pq_train(df, dim=8, m=2, k=2, iters=2)
    assert got == _seq_train(rows, dim=8, m=2, k=2, iters=2)


def test_arrow_encode_kernel_identical_codes(spark, emb, model):
    a = {r.vec_id: list(r.pq_codes) for r in pq_encode(emb, model).collect()}
    assert a == _seq_encode(_rows(emb), model)


def test_ivfpq_build_kernel_identical(spark, emb):
    # the whole build — coarse train, residuals, residual train,
    # encode — against the sequential references
    from zeek_duckdb_spark.operators.pq import ivfpq_build

    cells, cbs, c1 = ivfpq_build(emb, dim=DIM, n_cells=4, m=M, k=8, iters=1)
    rows = _rows(emb)
    want_cells = _seq_train(rows, DIM, 1, 4, iters=1)[0]
    assert cells == want_cells
    cell_of = {i: c[0] for i, c in _seq_encode(rows, [want_cells]).items()}
    res = [
        (i, [float(x) - c for x, c in zip(v, want_cells[cell_of[i]])])
        for i, v in rows
    ]
    want_cbs = _seq_train(res, DIM, M, 8, iters=1)
    assert cbs == want_cbs
    codes = _seq_encode(res, want_cbs)
    a = {(r.vec_id): (r.cell, list(r.pq_codes)) for r in c1.collect()}
    assert a == {i: (cell_of[i], codes[i]) for i, _ in rows}


def test_train_and_encode_drop_wrong_length_vectors(spark):
    d = spark.createDataFrame(
        [(i, [float(i + t) for t in range(DIM)]) for i in range(20)]
        + [(99, [1.0] * 10)],  # un-trainable short row
        "vec_id long, embedding array<double>",
    )
    cb = pq_train(d, dim=DIM, m=M, k=4, iters=1)
    assert len(cb) == M  # no crash from NULL subspace sums
    codes = pq_encode(d, cb).collect()
    assert {r.vec_id for r in codes} == set(range(20))  # 99 dropped


def test_train_leaves_out_rows_with_a_null_code(spark):
    """A NULL element quantizes to a NULL code; the Lloyd pass leaves
    that row out instead of summing it as INT64_MIN."""
    rows = [(i, [float((i * 5 + d) % 9 - 4) for d in range(8)]) for i in range(1, 41)]
    bad = (99, [1.0, None, 2.0, 3.0, -1.0, 0.5, 2.0, 1.0])
    schema = "vec_id long, embedding array<double>"
    want = pq_train(spark.createDataFrame(rows, schema), dim=8, m=2, k=4)
    got = pq_train(spark.createDataFrame(rows + [bad], schema).repartition(3), dim=8, m=2, k=4)
    assert got == want


def test_ivfpq_batch_never_picks_a_null_code_row(spark, emb, ivfpq):
    from zeek_duckdb_spark.operators.pq import ivfpq_topk_batch

    cells, cbs, codes = ivfpq
    queries = emb.filter(F.col("vec_id") < 3)

    def picked(codes_df):
        return {
            r.vec_id
            for r in ivfpq_topk_batch(
                codes_df, queries, cells, cbs, k_top=20, nprobe=len(cells)
            ).collect()
        }

    hit = min(picked(codes))
    broken = codes.withColumn(
        "pq_codes",
        F.when(
            F.col("vec_id") == hit,
            F.transform("pq_codes", lambda c, i: F.when(i > 0, c)),
        ).otherwise(F.col("pq_codes")),
    )
    assert hit not in picked(broken)


# --- incremental IVF-PQ --------------------------------------------------

def test_ivfpq_encode_matches_build_assignment(spark, emb):
    """ivfpq_encode at the models a build produced == the build's own
    codes table (assignment is a pure per-row function of the models)."""
    from zeek_duckdb_spark.operators.pq import ivfpq_build, ivfpq_encode

    corpus = emb.filter(F.col("vec_id") != 0)
    cells, cbs, codes = ivfpq_build(corpus, dim=64, n_cells=4, m=4, k=8, iters=1)
    want = {(r.vec_id, r.cell, tuple(r.pq_codes)) for r in codes.collect()}
    got = {
        (r.vec_id, r.cell, tuple(r.pq_codes))
        for r in ivfpq_encode(corpus, cells, cbs).collect()
    }
    assert got == want


def test_ivfpq_append_equals_rebuild_and_probe_prunes(spark, emb, tmp_path):
    """Append of a new batch at fixed models == full encode of the
    union; the partition-pruned probe over the appended layout returns
    the same top-k as scoring the union codes directly."""
    from zeek_duckdb_spark.operators.pq import (
        ivfpq_append,
        ivfpq_build,
        ivfpq_encode,
        ivfpq_topk,
    )

    old = emb.filter(F.col("vec_id").between(1, 300))
    new = emb.filter(F.col("vec_id") > 300)
    q = [float(v) for v in
         emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    path = str(tmp_path / "ivfpq")

    cells, cbs, codes = ivfpq_build(old, dim=64, n_cells=4, m=4, k=8, iters=1)
    codes.repartition("cell").write.partitionBy("cell").parquet(path)
    ivfpq_append(new, path, cells, cbs)

    back = spark.read.parquet(path).select(
        "vec_id", F.col("cell").cast("int").alias("cell"), "pq_codes"
    )
    want = {
        (r.vec_id, r.cell, tuple(r.pq_codes))
        for r in ivfpq_encode(old.unionByName(new), cells, cbs).collect()
    }
    assert {(r.vec_id, r.cell, tuple(r.pq_codes)) for r in back.collect()} == want

    got_topk = [tuple(r) for r in ivfpq_topk(back, q, cells, cbs, k_top=5, nprobe=4).collect()]
    union_codes = ivfpq_encode(old.unionByName(new), cells, cbs)
    want_topk = [tuple(r) for r in ivfpq_topk(union_codes, q, cells, cbs, k_top=5, nprobe=4).collect()]
    assert got_topk == want_topk
    # pruning still holds on the appended layout
    pruned = ivfpq_topk(spark.read.parquet(path), q, cells, cbs, k_top=5, nprobe=1)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan


def test_ivfpq_l2_refine_null_vectors_sink(spark):
    """Review-fix regression: a NULL/wrong-length vector in refine_with
    yields a NULL exact_dist, which must sink to the bottom (ASC is
    NULLS FIRST by default — it used to rank as the nearest)."""
    from zeek_duckdb_spark.operators.pq import ivfpq_build, ivfpq_topk

    rng = np.random.default_rng(12)
    pts = rng.normal(0, 1, (60, DIM))
    d = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(pts)],
        "vec_id long, embedding array<double>",
    )
    cells, cbs, codes = ivfpq_build(d, dim=DIM, n_cells=2, m=M, k=16, iters=1)
    # poison two rows' vectors in the refine table
    from pyspark.sql import functions as F

    bad = d.withColumn(
        "embedding",
        F.when(F.col("vec_id") == 0, F.lit(None).cast("array<double>"))
        .when(F.col("vec_id") == 1, F.expr("slice(embedding, 1, 3)"))
        .otherwise(F.col("embedding")),
    )
    got = ivfpq_topk(codes, pts[5].tolist(), cells, cbs, 10, nprobe=2,
                     refine_with=bad).collect()
    ids = [r.vec_id for r in got]
    assert 0 not in ids and 1 not in ids
    assert all(r.exact_dist is not None for r in got)


@pytest.mark.slow
def test_ivfpq_batch_matches_per_query_loop(spark, emb, ivfpq):
    """ivfpq_topk_batch: one union-cell scan for the whole request
    batch; per-query ADC ranking identical to the ivfpq_topk loop
    (sequential LUT accumulation order preserved), and the shortlist
    exact-cosine refine matches the per-query refine too."""
    from zeek_duckdb_spark.operators.pq import ivfpq_topk, ivfpq_topk_batch

    cells, cbs, codes = ivfpq
    codes = codes.localCheckpoint(eager=True)
    queries = emb.filter(F.col("vec_id") < 12)
    qvecs = {
        r.vec_id: [float(v) for v in r.embedding] for r in queries.collect()
    }

    # ADC-only mode
    got = {}
    for r in ivfpq_topk_batch(
        codes, queries, cells, cbs, k_top=5, nprobe=2
    ).collect():
        got.setdefault(r.q_id, []).append((r.vec_id, r.adc_dist))
    assert set(got) == set(range(12))
    for qid, qv in qvecs.items():
        want = [
            (r.vec_id, r.adc_dist)
            for r in ivfpq_topk(codes, qv, cells, cbs, k_top=5, nprobe=2)
            .collect()
        ]
        assert got[qid] == want, qid

    # shortlist exact-cosine refine mode
    gotr = {}
    for r in ivfpq_topk_batch(
        codes, queries, cells, cbs, k_top=5, nprobe=2,
        refine_with=emb, refine_factor=3, refine_metric="cosine",
    ).collect():
        gotr.setdefault(r.q_id, []).append((r.vec_id, r.exact_score))
    for qid, qv in qvecs.items():
        want = [
            (r.vec_id, r.exact_score)
            for r in ivfpq_topk(
                codes, qv, cells, cbs, k_top=5, nprobe=2,
                refine_with=emb, refine_factor=3, refine_metric="cosine",
            ).collect()
        ]
        assert gotr[qid] == want, qid

    with pytest.raises(ValueError, match="queries is empty"):
        ivfpq_topk_batch(codes, queries.filter("vec_id < 0"), cells, cbs)
    with pytest.raises(ValueError, match="duplicate"):
        ivfpq_topk_batch(
            codes, queries.union(emb.filter(F.col("vec_id") == 0)),
            cells, cbs,
        )
    with pytest.raises(ValueError, match="query dim"):
        ivfpq_topk_batch(
            codes,
            queries.select("vec_id", F.slice("embedding", 1, 8).alias("embedding")),
            cells, cbs,
        )
    # the request-batch guard: refuse corpus-sized queries loudly
    # BEFORE collecting (bounded take); max_batch == Q still serves
    with pytest.raises(ValueError, match="max_batch"):
        ivfpq_topk_batch(codes, queries, cells, cbs, max_batch=11)
    ok = ivfpq_topk_batch(
        codes, queries, cells, cbs, k_top=5, nprobe=2, max_batch=12
    )
    assert {r.q_id for r in ok.collect()} == set(range(12))
    with pytest.raises(ValueError, match="max_batch"):
        ivfpq_topk_batch(codes, queries, cells, cbs, max_batch=0)


def test_passed_through_vectors_keep_null_elements(spark):
    """A vector column that a kernel passes through crosses the Arrow
    boundary unchanged: a NULL element stays NULL.  (The pandas
    boundary made it NaN; one such row then turned ``ivfpq_build``'s
    residual scale, and so every cell and code, into NaN.)"""
    from zeek_duckdb_spark.operators.pq import ivfpq_build
    from zeek_duckdb_spark.operators.similarity import ivf_assign

    rows = [(i, [float((i * 5 + d) % 9 - 4) for d in range(8)]) for i in range(1, 41)]
    rows[6] = (7, [1.0, None, 2.0, 3.0, -1.0, 0.5, 2.0, 1.0])
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    want = [1.0, None, 2.0, 3.0, -1.0, 0.5, 2.0, 1.0]

    cents = df.filter("vec_id <= 4")
    got = ivf_assign(df, cents).filter("vec_id = 7").first()
    assert got["embedding"] == want
    codebooks = pq_train(df, dim=8, m=2, k=4)
    got = pq_encode(df, codebooks, keep=("embedding",)).filter("vec_id = 7").first()
    assert got["embedding"] == want

    cells, codebooks, _ = ivfpq_build(df, 8, n_cells=4, m=2, k=4)
    assert np.isfinite(np.asarray(cells)).all()
    assert np.isfinite(np.asarray(codebooks)).all()
