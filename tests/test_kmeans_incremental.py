"""Incremental IVF index maintenance (the daily-crawl serving story):
warm-started Lloyd refreshes and append-only index growth must equal
the from-scratch computations they replace."""

import pytest

from pyspark.sql import functions as F

from zeek_duckdb_spark.operators.kmeans import (
    ivf_append,
    ivf_probe_topk,
    ivf_write,
    kmeans_fit_quantized,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def test_warm_start_composes_with_cold_fit(spark, emb):
    """cold(iters=2) == warm-start(cold(iters=1), iters=1): Lloyd is a
    pure function of (corpus, centroids), so a refresh from persisted
    centroids continues exactly where the cold fit stopped."""
    cold2 = kmeans_fit_quantized(emb, k=4, iters=2)
    cold1 = kmeans_fit_quantized(emb, k=4, iters=1)
    warm = kmeans_fit_quantized(emb, k=4, iters=1, init_centroids=cold1)
    assert warm == cold2


def test_warm_start_zero_iters_is_identity(spark, emb):
    cents = kmeans_fit_quantized(emb, k=3, iters=1)
    again = kmeans_fit_quantized(emb, k=3, iters=0, init_centroids=cents)
    assert again == cents
    with pytest.raises(ValueError, match="init_centroids"):
        kmeans_fit_quantized(emb, k=3, iters=1, init_centroids=[])


def test_append_equals_full_rebuild_at_fixed_centroids(spark, emb, tmp_path):
    """Assignment is a pure per-row function of (vector, centroids) —
    per-vector quantization scale, no corpus statistics — so append of
    a new batch == rebuilding the whole index at the same centroids."""
    old = emb.filter(F.col("vec_id") < 300)
    new = emb.filter(F.col("vec_id") >= 300)
    inc_path = str(tmp_path / "ivf_inc")

    cents = ivf_write(old, inc_path, n_centroids=4, iters=2)
    ivf_append(new, inc_path, cents)

    # warm-start with zero iterations == the fixed model (assignment-
    # only refresh), so "full rebuild at the same centroids" is
    # well-defined
    assert kmeans_fit_quantized(emb, k=4, iters=0, init_centroids=cents) == cents

    from zeek_duckdb_spark.operators.kmeans import _argmax_cell
    from zeek_duckdb_spark.operators.similarity import quantize_embeddings

    want = {
        (r.vec_id, r.cell)
        for r in quantize_embeddings(emb)
        .filter("nonzero")
        .withColumn("cell", _argmax_cell("qvec", cents))
        .select("vec_id", "cell")
        .collect()
    }
    got = {
        (r.vec_id, int(r.cell))
        for r in spark.read.parquet(inc_path).select("vec_id", "cell").collect()
    }
    assert got == want


def test_probe_pruning_still_holds_after_append(spark, emb, tmp_path):
    """ivf_probe_topk on an appended index: new rows are visible, the
    scan still carries a cell partition filter (pruned layout), and
    results equal probing a freshly rebuilt index."""
    old = emb.filter(F.col("vec_id").between(1, 299))
    new = emb.filter(F.col("vec_id") >= 300)
    q = emb.filter(F.col("vec_id") == 0)
    path = str(tmp_path / "ivf")

    cents = ivf_write(old, path, n_centroids=4, iters=1)
    before = [tuple(r) for r in ivf_probe_topk(spark, path, cents, q, k=10, nprobe=4).collect()]
    ivf_append(new, path, cents)
    after_df = ivf_probe_topk(spark, path, cents, q, k=10, nprobe=4)
    after = [tuple(r) for r in after_df.collect()]

    # new rows participate: with every cell probed this is the exact
    # quantized top-10 over old+new, which can only improve/only change
    # by new entries displacing old ones
    assert len(after) == 10
    assert set(after) != set(before) or all(a == b for a, b in zip(after, before))
    new_ids = {r.vec_id for r in new.select("vec_id").collect()}
    assert {i for i, _ in after} & new_ids or before == after

    # nprobe < K still prunes partitions after the append
    pruned = ivf_probe_topk(spark, path, cents, q, k=5, nprobe=1)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "cell" in plan

    # appended-index probe == rebuilt-index probe at the same centroids
    rebuilt = str(tmp_path / "ivf_rebuilt")
    union = old.unionByName(new)
    from zeek_duckdb_spark.operators.kmeans import _argmax_cell
    from zeek_duckdb_spark.operators.similarity import quantize_embeddings

    dq = quantize_embeddings(union, keep=("embedding",))
    assigned = dq.filter("nonzero").withColumn(
        "cell", _argmax_cell("qvec", cents)
    )
    assigned.repartition("cell").write.mode("overwrite").partitionBy(
        "cell"
    ).parquet(rebuilt)
    want = [tuple(r) for r in ivf_probe_topk(spark, rebuilt, cents, q, k=10, nprobe=4).collect()]
    assert after == want


def test_warm_start_validates_model(spark, emb):
    cents = kmeans_fit_quantized(emb, k=3, iters=1)
    bad_dim = [(0, [1.0] * 16), (1, [0.5] * 16), (2, [0.0] * 16)]
    with pytest.raises(ValueError, match="corpus dim"):
        kmeans_fit_quantized(emb, k=3, iters=1, init_centroids=bad_dim)
    with pytest.raises(ValueError, match="mixed dims"):
        kmeans_fit_quantized(
            emb, k=2, iters=1, init_centroids=[(0, [1.0] * 64), (1, [1.0] * 8)]
        )
    with pytest.raises(ValueError, match="duplicate cell"):
        kmeans_fit_quantized(
            emb, k=2, iters=1,
            init_centroids=[(0, cents[0][1]), (0, cents[1][1])],
        )


@pytest.mark.slow
def test_ivf_compact_preserves_probes_and_appends(spark, emb, tmp_path):
    """ivf_compact folds the one-file-per-append accumulation back to
    size-targeted files per cell: probe results identical, cell
    layout + pruning preserved, appends keep working afterwards."""
    import os

    from zeek_duckdb_spark.operators.kmeans import ivf_compact

    path = str(tmp_path / "ivf")
    base = emb.filter(F.col("vec_id") < 200)
    cents = ivf_write(base, path, n_centroids=4, iters=2)
    for lo in range(200, 500, 100):  # three daily appends
        ivf_append(
            emb.filter(
                (F.col("vec_id") >= lo) & (F.col("vec_id") < lo + 100)
            ),
            path, cents,
        )

    def files_per_cell():
        out = {}
        for root, _d, names in os.walk(path):
            pq = [n for n in names if n.endswith(".parquet")]
            if pq:
                out[os.path.relpath(root, path)] = len(pq)
        return out

    q = emb.filter(F.col("vec_id") == 7)
    before = files_per_cell()
    assert max(before.values()) > 1
    want = [
        (r.vec_id, r.cosine_sim)
        for r in ivf_probe_topk(spark, path, cents, q, k=5, nprobe=2)
        .collect()
    ]

    stats = ivf_compact(spark, path)
    assert stats["files_after"] < stats["files_before"]
    after = files_per_cell()
    assert set(after) == set(before) and max(after.values()) == 1
    got = [
        (r.vec_id, r.cosine_sim)
        for r in ivf_probe_topk(spark, path, cents, q, k=5, nprobe=2)
        .collect()
    ]
    assert got == want

    # post-compaction append still equals the uncompacted world
    ivf_append(emb.filter(F.col("vec_id") >= 500), path, cents)
    n_all = spark.read.parquet(path).count()
    assert n_all == emb.count()
