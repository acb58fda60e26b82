"""Trained-k-means IVF semantics: deterministic fit, exactness vs the
quantized brute force when every cell is probed, iteration invariants."""

import math

import pytest

from pyspark.sql import functions as F

from zeek_duckdb_spark.operators import similarity as sim
from zeek_duckdb_spark.operators.kmeans import kmeans_fit_quantized, kmeans_ivf_topk

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def test_fit_is_deterministic_across_partitionings(spark, emb):
    # exact int64 sums make the centroid means order-independent — the
    # whole point of training over quantized vectors
    a = kmeans_fit_quantized(emb, k=4, iters=2)
    b = kmeans_fit_quantized(emb.repartition(13), k=4, iters=2)
    assert a == b


def _seq_cell(x, cents):
    """Reference argmax-cosine cell: the sequential dot/norm folds of
    kmeans._argmax_cell, a zero-norm (NULL) cosine losing to every real
    one, ties to the higher cell."""
    def cos(c):
        dot = nx = nc = 0.0
        for a, b in zip(x, c):
            dot += float(a) * float(b)
        for a in x:
            nx += float(a) * float(a)
        for b in c:
            nc += b * b
        d = math.sqrt(nx) * math.sqrt(nc)
        return dot / d if d != 0.0 else -math.inf

    return max((cos(v), c) for c, v in cents)[1]


def _seq_lloyd(spark_df, k, iters):
    """Reference Lloyd fit in plain Python over the quantized corpus:
    init = the k lowest ids, exact int sums, one division per mean,
    an empty cell keeps its centroid."""
    from zeek_duckdb_spark.operators.similarity import quantize_embeddings

    rows = sorted(
        (r.vec_id, list(r.qvec))
        for r in quantize_embeddings(spark_df)
        .filter(F.exists(F.col("qvec"), lambda v: v != F.lit(0)))
        .collect()
    )
    cents = [(i, [float(v) for v in q]) for i, (_, q) in enumerate(rows[:k])]
    for _ in range(iters):
        n, sums = {}, {}
        for _, q in rows:
            c = _seq_cell(q, cents)
            n[c] = n.get(c, 0) + 1
            sums[c] = [a + b for a, b in zip(sums.get(c, [0] * len(q)), q)]
        cents = [
            (c, [t / n[c] for t in sums[c]] if c in n else v) for c, v in cents
        ]
    return cents


@pytest.mark.slow
def test_arrow_fit_kernel_identical_centroids(spark, emb):
    # the Arrow Lloyd pass accumulates the cosine folds in the
    # sequential reference order — centroids must be IDENTICAL (not
    # close), under any partitioning
    x = _seq_lloyd(emb, k=4, iters=2)
    assert kmeans_fit_quantized(emb, k=4, iters=2) == x
    assert kmeans_fit_quantized(emb.repartition(13), k=4, iters=2) == x


@pytest.mark.slow
def test_arrow_fit_kernel_survives_empty_partitions(spark):
    # 6 rows over 32 partitions: most partitions are EMPTY and the
    # Lloyd partial kernel must yield nothing for them (empty pandas
    # columns are float64 ndarrays Arrow can't cast to list<int64>)
    rows = [
        (i, [float((i * 5 + d) % 7) for d in range(8)]) for i in range(6)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).repartition(32)
    assert kmeans_fit_quantized(df, k=2, iters=2) == _seq_lloyd(df, k=2, iters=2)


def test_fit_leaves_out_rows_with_a_null_code(spark):
    """A NULL element quantizes to a NULL code; the Lloyd pass leaves
    that row out instead of summing it as INT64_MIN."""
    rows = [(i, [float((i * 5 + d) % 7 - 3) for d in range(8)]) for i in range(1, 41)]
    bad = (99, [1.0, None, 2.0, 3.0, -1.0, 0.5, 2.0, 1.0])
    schema = "vec_id long, embedding array<double>"
    want = kmeans_fit_quantized(spark.createDataFrame(rows, schema), k=3, iters=2)
    got = kmeans_fit_quantized(
        spark.createDataFrame(rows + [bad], schema).repartition(3), k=3, iters=2
    )
    assert got == want


def test_arrow_assign_kernel_identical_cells(spark, emb):
    from zeek_duckdb_spark.operators.kmeans import _argmax_cell, _assign_cells
    from zeek_duckdb_spark.operators.similarity import quantize_embeddings

    cents = kmeans_fit_quantized(emb, k=4, iters=1)
    base = quantize_embeddings(emb).filter(
        F.exists(F.col("qvec"), lambda v: v != F.lit(0))
    ).select("vec_id", "qvec")

    def cells(df):
        return {r.vec_id: r.cell for r in df.collect()}

    a = cells(_assign_cells(base, cents))
    assert a == cells(base.withColumn("cell", _argmax_cell("qvec", cents)))
    # zero-norm centroid: NULL cosine loses to every real one in both
    # forms; on an all-zero centroid LIST ties break to the higher cell
    zc = [(0, [0.0] * len(cents[0][1])), (1, list(cents[0][1]))]
    az = cells(_assign_cells(base, zc))
    assert az == cells(base.withColumn("cell", _argmax_cell("qvec", zc)))
    assert set(az.values()) == {1}


@pytest.mark.slow
def test_kmeans_ivf_topk_arrow_kernel_identical_rows(spark, emb, tmp_path):
    # the one-shot probe (numpy assignment) returns the same rows as
    # the landed index, whose cells come from the _argmax_cell literal
    from zeek_duckdb_spark.operators.kmeans import ivf_probe_topk, ivf_write

    q = emb.filter(F.col("vec_id") == 0)
    corpus = emb.filter(F.col("vec_id") != 0)
    a = kmeans_ivf_topk(corpus, q, k=5, n_centroids=4, nprobe=2,
                        iters=2).collect()
    path = str(tmp_path / "ivf")
    cents = ivf_write(corpus, path, n_centroids=4, iters=2)
    x = ivf_probe_topk(spark, path, cents, q, k=5, nprobe=2).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in x]


def test_fit_zero_iters_returns_init(spark, emb):
    cents = kmeans_fit_quantized(emb, k=3, iters=0)
    assert [c for c, _ in cents] == [0, 1, 2]
    # init = quantized vectors of the 3 lowest ids
    from zeek_duckdb_spark.operators.similarity import quantize_embeddings

    init = {
        r.vec_id: [float(v) for v in r.qvec]
        for r in quantize_embeddings(emb).filter(F.col("vec_id") < 3).collect()
    }
    assert cents[0][1] == init[0] and cents[2][1] == init[2]


def test_fit_rejects_tiny_corpus(spark, emb):
    with pytest.raises(ValueError, match="usable rows"):
        kmeans_fit_quantized(emb.filter(F.col("vec_id") < 2), k=5)


def test_full_probe_equals_quantized_exact(spark, emb):
    q = emb.filter(F.col("vec_id") == 0)
    corpus = emb.filter(F.col("vec_id") != 0)
    full = kmeans_ivf_topk(corpus, q, k=10, n_centroids=4, nprobe=4, iters=2)
    exact = sim.quantized_topk(emb, q, k=10)
    assert [(r.vec_id, r.cosine_sim) for r in full.collect()] == [
        (r.vec_id, r.qcos) for r in exact.collect()
    ]


def test_partial_probe_is_ranked_subset(spark, emb):
    q = emb.filter(F.col("vec_id") == 0)
    corpus = emb.filter(F.col("vec_id") != 0)
    res = kmeans_ivf_topk(corpus, q, k=10, n_centroids=8, nprobe=2, iters=2).collect()
    assert 0 < len(res) <= 10
    sims = [r.cosine_sim for r in res]
    assert sims == sorted(sims, reverse=True)


def test_training_does_not_shuffle_the_corpus_assignment(spark, emb):
    # the cell-assignment subplan must be shuffle-free: centroids ride
    # as a literal, so the only exchange in a fit iteration is the
    # K-row partial-aggregate collect
    from zeek_duckdb_spark.operators.kmeans import _argmax_cell
    from zeek_duckdb_spark.operators.similarity import quantize_embeddings

    cents = kmeans_fit_quantized(emb, k=4, iters=1)
    base = quantize_embeddings(emb).select("vec_id", "qvec")
    assigned = base.select(
        "vec_id", _argmax_cell("qvec", cents).alias("cell")
    )
    plan = assigned._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


@pytest.mark.slow
def test_materialized_ivf_probe_matches_inline(spark, emb, tmp_path):
    # write the index partitioned by cell, probe it, and get exactly
    # what the inline (unmaterialized) path computes
    from zeek_duckdb_spark.operators.kmeans import ivf_probe_topk, ivf_write

    path = str(tmp_path / "ivf")
    corpus = emb.filter(F.col("vec_id") != 0)
    q = emb.filter(F.col("vec_id") == 0)
    cents = ivf_write(corpus, path, n_centroids=4, iters=2)
    probed = ivf_probe_topk(spark, path, cents, q, k=10, nprobe=2)
    inline = kmeans_ivf_topk(corpus, q, k=10, n_centroids=4, nprobe=2, iters=2)
    assert [(r.vec_id, r.cosine_sim) for r in probed.collect()] == [
        (r.vec_id, r.cosine_sim) for r in inline.collect()
    ]


def test_materialized_ivf_probe_prunes_partitions(spark, emb, tmp_path):
    # the whole point of the layout: cell IN (...) must be a PARTITION
    # filter — unprobed cells' files are never read
    from zeek_duckdb_spark.operators.kmeans import ivf_probe_topk, ivf_write
    from zeek_duckdb_spark.plans import audit

    path = str(tmp_path / "ivf")
    corpus = emb.filter(F.col("vec_id") != 0)
    q = emb.filter(F.col("vec_id") == 0)
    cents = ivf_write(corpus, path, n_centroids=4, iters=1)
    probed = ivf_probe_topk(spark, path, cents, q, k=5, nprobe=1)
    plan = audit.physical_plan(probed)
    assert "PartitionFilters" in plan and "cell" in plan.split("PartitionFilters")[1][:120]
    # and the layout on disk is one directory per cell
    import os

    cells = sorted(d for d in os.listdir(path) if d.startswith("cell="))
    assert len(cells) >= 2


def test_zero_norm_centroid_excluded_from_probe_ranking(spark, emb, tmp_path):
    # a degenerate (all-zero) centroid has undefined cosine; the Python
    # fold's -inf sorts LAST while a SQL oracle's NaN sorts FIRST under
    # ORDER BY DESC — so both sides must exclude it from probe scoring.
    # Plant a zero centroid alongside the trained ones: the probe set
    # (and thus the result) must be identical with and without it.
    from zeek_duckdb_spark.operators.kmeans import ivf_probe_topk, ivf_write

    path = str(tmp_path / "ivf")
    corpus = emb.filter(F.col("vec_id") != 0)
    q = emb.filter(F.col("vec_id") == 0)
    cents = ivf_write(corpus, path, n_centroids=4, iters=1)
    dim = len(cents[0][1])
    with_zero = cents + [(99, [0.0] * dim)]
    want = [(r.vec_id, r.cosine_sim)
            for r in ivf_probe_topk(spark, path, cents, q, k=5, nprobe=1).collect()]
    got = [(r.vec_id, r.cosine_sim)
           for r in ivf_probe_topk(spark, path, with_zero, q, k=5, nprobe=1).collect()]
    assert got == want and len(got) > 0


def _adversarial_corpus(spark):
    # 3 tight clusters in 8-d; the 12 LOWEST ids all sit in cluster A,
    # so the trainer's cold init (k lowest ids) stacks every centroid
    # on one cluster — the failure mode kmeans|| seeding exists to fix
    axes = [
        [10.0, 0, 0, 0, 0, 0, 0, 0],
        [0, 10.0, 0, 0, 0, 0, 0, 0],
        [0, 0, 10.0, 0, 0, 0, 0, 0],
    ]
    rows = []
    vid = 0
    for rep in range(12):
        rows.append((vid, [x + 0.01 * (rep % 5) for x in axes[0]]))
        vid += 1
    for c in (1, 2):
        for rep in range(12):
            rows.append((vid, [x + 0.01 * (rep % 5) for x in axes[c]]))
            vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _spherical_cost(df, cents):
    from zeek_duckdb_spark.operators.kmeans import _seq_cosine
    from zeek_duckdb_spark.operators.similarity import quantize_embeddings

    rows = quantize_embeddings(df).select("qvec").collect()
    tot = 0.0
    for r in rows:
        x = [float(v) for v in r["qvec"]]
        tot += 1.0 - max(_seq_cosine(x, v) for _, v in cents)
    return tot


@pytest.mark.slow
def test_kmeans_parallel_init_deterministic_and_better(spark):
    from zeek_duckdb_spark.operators.kmeans import kmeans_parallel_init

    corpus = _adversarial_corpus(spark)
    seeds = kmeans_parallel_init(corpus, k=3, rounds=3)
    again = kmeans_parallel_init(corpus.repartition(7), k=3, rounds=3)
    assert seeds == again  # md5 coins -> partitioning-independent
    cold = kmeans_fit_quantized(corpus, k=3, iters=3)
    warm = kmeans_fit_quantized(
        corpus, iters=3, init_centroids=seeds
    )
    # seeded init must find all three clusters; cold init cannot (its
    # three seeds are co-located), so the fitted cost gap is large
    assert _spherical_cost(corpus, warm) < 0.5 * _spherical_cost(corpus, cold)


def test_kmeans_parallel_init_validation(spark):
    from zeek_duckdb_spark.operators.kmeans import kmeans_parallel_init

    corpus = _adversarial_corpus(spark)
    with pytest.raises(ValueError, match="k >= 1"):
        kmeans_parallel_init(corpus, k=0)
    with pytest.raises(ValueError, match="oversample"):
        kmeans_parallel_init(corpus, k=2, oversample=0)
    with pytest.raises(ValueError, match="candidates"):
        # 36-row corpus cannot yield 30 candidates in one stingy round
        kmeans_parallel_init(corpus, k=30, rounds=1, oversample=1)


@pytest.mark.slow
def test_batched_probe_matches_per_query_loop(spark, emb, tmp_path):
    """ivf_probe_topk_batch: one union-cell scan for the whole request
    batch, per-query results IDENTICAL to the per-query probe loop —
    including queries whose probe sets differ (rows pulled into the
    scan by ANOTHER query's cells must not leak into this query's
    candidates)."""
    from zeek_duckdb_spark.operators.kmeans import (
        ivf_probe_topk,
        ivf_probe_topk_batch,
        ivf_write,
    )
    from zeek_duckdb_spark.plans import audit

    path = str(tmp_path / "ivf")
    cents = ivf_write(emb, path, n_centroids=6, iters=2)
    queries = emb.filter(F.col("vec_id") < 16)

    batch = ivf_probe_topk_batch(
        spark, path, cents, queries, k=5, nprobe=2
    )
    rows = batch.collect()
    got = {}
    for r in rows:
        got.setdefault(r.q_id, []).append((r.vec_id, r.cosine_sim))
    assert set(got) == set(range(16))
    for qid in range(16):
        q = emb.filter(F.col("vec_id") == qid)
        want = [
            (r.vec_id, r.cosine_sim)
            for r in ivf_probe_topk(
                spark, path, cents, q, k=5, nprobe=2
            ).collect()
        ]
        assert got[qid] == want, qid

    # ONE partition-pruned scan serves the whole batch (count scans in
    # the final plan only — AQE's string repeats the initial plan)
    plan = audit.physical_plan(batch)
    assert "PartitionFilters" in plan
    final = plan.split("Initial Plan")[0]
    assert final.count("Scan parquet") == 1

    with pytest.raises(ValueError, match="queries is empty"):
        ivf_probe_topk_batch(
            spark, path, cents, emb.filter("vec_id < 0"), k=5
        )
    with pytest.raises(ValueError, match="duplicate"):
        ivf_probe_topk_batch(
            spark, path, cents,
            queries.union(emb.filter(F.col("vec_id") == 0)), k=5,
        )
    # the request-batch guard: a corpus-sized queries frame refuses
    # loudly BEFORE collecting to the driver (bounded take, no OOM);
    # max_batch == Q exactly still serves
    with pytest.raises(ValueError, match="max_batch"):
        ivf_probe_topk_batch(
            spark, path, cents, queries, k=5, nprobe=2, max_batch=15
        )
    ok = ivf_probe_topk_batch(
        spark, path, cents, queries, k=5, nprobe=2, max_batch=16
    )
    assert {r.q_id for r in ok.collect()} == set(range(16))
    with pytest.raises(ValueError, match="max_batch"):
        ivf_probe_topk_batch(
            spark, path, cents, queries, k=5, max_batch=0
        )
