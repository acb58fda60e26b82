#!/usr/bin/env python
"""Recall@10-vs-cost curves for the ANN family — the source of
SCALING.md's "ANN recall-vs-cost curves (r8)" tables.

Two corpus designs, selected with --design, because they answer
different questions:

- ``planted`` (default; the SIFT-style eval): ~99.8k uniform
  background vectors + 10 planted near neighbors per query
  (query + noise at scale 0.08).  Ground truth is still MEASURED
  brute-force (one topk_neighbors_batch pass over all queries), not
  assumed — the sanity line prints
  what fraction of the true top-10 is planted (1.00 here).  This is
  the dedup / near-copy-retrieval regime: true neighbors are well
  separated from the background.
- ``needle``: 64 dense planted clusters (center + noise), queries at
  cluster centers — ground truth is a query's 10 nearest among its
  own ~1.6k cluster-mates.  The within-cluster noise sits BELOW an
  (m=8, k=16) PQ code's resolution, so this design exposes the
  honest negative result: ADC cannot rank intra-cluster fine
  structure, and refine cannot resurrect candidates ADC never
  surfaces.  Exact-re-rank families (lsh probe=1, ivf) still resolve
  it.

Cost caveat printed per section: lsh/ivf/kmeans_ivf are one-shot APIs
whose every call re-derives the index (their s/query is build+probe);
pq/ivfpq serve from prebuilt codes (their s/query is the serving
cost).

Usage: python bench_recall.py [--design planted|needle] [--n 100000]
"""
from __future__ import annotations

import argparse
import random
import time

from pyspark.sql import SparkSession, functions as F

DIM = 64
NQ = 20


def _rand_vec(ids, seed, scale=1.0, base=None):
    cols = []
    for d in range(DIM):
        v = (F.rand(seed + d) - 0.5) * 2 * scale
        if base is not None:
            v = v + base[d]
        cols.append(v)
    return ids.select(
        F.col("id").alias("vec_id"), F.array(*cols).alias("embedding")
    )


def _planted_corpus(spark, n):
    rng = random.Random(42)
    queries = [[rng.uniform(-1, 1) for _ in range(DIM)] for _ in range(NQ)]
    corpus = _rand_vec(spark.range(n - NQ * 10), 100)
    for qi, qv in enumerate(queries):
        ids = spark.range(1_000_000 + qi * 10, 1_000_000 + qi * 10 + 10)
        corpus = corpus.unionByName(
            _rand_vec(ids, 5000 + qi * 70, scale=0.08, base=qv)
        )
    return corpus, queries


def _needle_corpus(spark, n, n_clusters=64):
    def synth(ids):
        cols = []
        for d in range(DIM):
            center = F.sin((F.col("id") % n_clusters + 1) * (d + 1) * 0.7)
            noise = (F.rand(1000 + d) - 0.5) * 0.3
            cols.append(center + noise)
        return ids.select(
            F.col("id").alias("vec_id"), F.array(*cols).alias("embedding")
        )

    corpus = synth(spark.range(n))
    queries = [r.embedding for r in synth(spark.range(500_000, 500_000 + NQ)).collect()]
    return corpus, queries


def main() -> None:
    from zeek_duckdb_spark.operators import kmeans as km
    from zeek_duckdb_spark.operators import pq as pqm
    from zeek_duckdb_spark.operators import similarity as sim

    ap = argparse.ArgumentParser()
    ap.add_argument("--design", choices=["planted", "needle"], default="planted")
    ap.add_argument("--n", type=int, default=100_000)
    args = ap.parse_args()

    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "24g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    corpus, queries = (
        _planted_corpus(spark, args.n)
        if args.design == "planted"
        else _needle_corpus(spark, args.n)
    )
    corpus = corpus.repartition(32).localCheckpoint(eager=True)

    # one batch pass scores every query; negative query ids match no
    # corpus id, so the batch's self-exclusion never drops a neighbor
    t0 = time.time()
    qdf = spark.createDataFrame(
        [(-(qi + 1), [float(x) for x in qv]) for qi, qv in enumerate(queries)],
        "vec_id long, embedding array<double>",
    )
    truth = [[] for _ in queries]
    for r in sim.topk_neighbors_batch(corpus, qdf, k=10).collect():
        truth[-r.q_id - 1].append(r.vec_id)
    print(
        f"brute-force exact: {(time.time() - t0) / NQ:.2f}s/query "
        f"(recall=1.0; one batch pass over {NQ} queries)"
    )
    if args.design == "planted":
        frac = sum(sum(1 for i in t if i >= 1_000_000) for t in truth) / (10 * NQ)
        print(f"(planted fraction of true top-10: {frac:.2f})")

    def report(name, fn, nq=NQ):
        hits, t0 = 0, time.time()
        for qi in range(nq):
            hits += len(set(fn(queries[qi])) & set(truth[qi]))
        dt = (time.time() - t0) / nq
        print(f"{name}: recall@10 {hits / (10 * nq):.3f}  {dt:.2f}s/query")

    for planes in (8, 12, 16):
        for ph in (0, 1):
            def lsh(qv, planes=planes, ph=ph):
                qdf = spark.createDataFrame([(qv,)], "embedding array<double>")
                return [
                    r.vec_id
                    for r in sim.lsh_bucket_ann(
                        corpus, qdf, DIM, k=10, planes=planes, probe_hamming=ph
                    ).collect()
                ]
            report(f"lsh planes={planes} probe={ph}", lsh)

    for nprobe in (1, 2, 4, 8):
        def ivf(qv, nprobe=nprobe):
            qdf = spark.createDataFrame([(qv,)], "embedding array<double>")
            return [
                r.vec_id
                for r in sim.ivf_topk(
                    corpus, qdf, k=10, n_centroids=64, nprobe=nprobe
                ).collect()
            ]
        report(f"ivf(sampled) ncent=64 nprobe={nprobe}", ivf, nq=10)

    for nprobe in (1, 4):
        def kivf(qv, nprobe=nprobe):
            qdf = spark.createDataFrame(
                [(99, qv)], "vec_id long, embedding array<double>"
            )
            return [
                r.vec_id
                for r in km.kmeans_ivf_topk(
                    corpus, qdf, k=10, n_centroids=64, nprobe=nprobe, iters=2
                ).collect()
            ]
        report(f"kmeans_ivf ncent=64 nprobe={nprobe}", kivf, nq=10)

    for m, k in ((8, 16), (16, 64)):
        cb = pqm.pq_train(corpus, DIM, m=m, k=k, iters=2, train_sample=0.2)
        codes = pqm.pq_encode(corpus, cb).localCheckpoint(eager=True)
        report(
            f"pq m={m} k={k} ADC",
            lambda qv, cb=cb, codes=codes: [
                r.vec_id
                for r in pqm.pq_topk(codes, list(qv), cb, k_top=10).collect()
            ],
        )
        report(
            f"pq m={m} k={k} +refine x4",
            lambda qv, cb=cb, codes=codes: [
                r.vec_id
                for r in pqm.pq_topk(
                    codes, list(qv), cb, k_top=10,
                    refine_with=corpus, refine_factor=4,
                ).collect()
            ],
        )

    cells, cbs, codes = pqm.ivfpq_build(
        corpus, DIM, n_cells=64, m=8, k=16, iters=2, train_sample=0.2
    )
    codes = codes.localCheckpoint(eager=True)
    for nprobe in (1, 2, 4, 8):
        report(
            f"ivfpq ncell=64 m=8 nprobe={nprobe}",
            lambda qv, nprobe=nprobe: [
                r.vec_id
                for r in pqm.ivfpq_topk(
                    codes, list(qv), cells, cbs, k_top=10, nprobe=nprobe
                ).collect()
            ],
        )
    # exact re-rank of the probed cells against the ORIGINAL vectors
    # (refine_factor=None): compressed pruning + exact fine structure —
    # the mode that resolves the needle regime ADC cannot.  The vectors
    # carry their landed cell column (the partitionBy('cell') serving
    # layout) so no re-assignment scan runs per query.
    assigned = pqm.pq_encode(corpus, [cells], keep=("embedding",)).select(
        "vec_id",
        F.element_at("pq_codes", 1).alias("cell"),
        "embedding",
    ).localCheckpoint(eager=True)
    # refine_metric='cosine' because the ground truth (and the whole
    # similarity family) ranks by cosine — an L2 re-rank returns the
    # right CANDIDATES in a different order and silently caps recall
    # at ~0.76 here
    for nprobe in (1, 2, 4):
        report(
            f"ivfpq+refine(exact cosine) nprobe={nprobe}",
            lambda qv, nprobe=nprobe: [
                r.vec_id
                for r in pqm.ivfpq_topk(
                    codes, list(qv), cells, cbs, k_top=10, nprobe=nprobe,
                    refine_with=assigned, refine_metric="cosine",
                ).collect()
            ],
        )
    spark.stop()


if __name__ == "__main__":
    main()
