"""Plan guard for the vector operators: no per-row fold re-run per element.

A ``LambdaFunction`` whose body holds an ``ArrayAggregate`` that reads
none of that lambda's variables recomputes a loop-invariant O(D) fold
once per element (or once per centroid), so the row costs O(D^2).  The
optimizer produces exactly this when ``CollapseProject`` inlines a
projected per-row value (a max-abs, a norm) that a later projection
references once inside a lambda.  Nested folds over the lambda's own
variable, such as the per-centroid ``aggregate(zip_with(qvec, c.c_vec,
...))`` of ``kmeans._argmax_cell``, are legitimate and pass.

Each operator's optimized plan is read with one py4j call
(``LogicalPlan.toJSON``) and walked here.
"""

import json

import pytest

_NS = "org.apache.spark.sql.catalyst.expressions."


def _build(nodes, pos=0):
    """(node, children) of the pre-order expression list, and the next
    position in it."""
    node, pos = nodes[pos], pos + 1
    kids = []
    for _ in range(node["num-children"]):
        kid, pos = _build(nodes, pos)
        kids.append(kid)
    return (node, kids), pos


def _expressions(value):
    """Every expression tree held in one field of a plan node."""
    if not isinstance(value, list) or not value:
        return
    if isinstance(value[0], dict) and "num-children" in value[0]:
        yield _build(value)[0]
    else:
        for v in value:
            yield from _expressions(v)


def _walk(tree):
    yield tree
    for kid in tree[1]:
        yield from _walk(kid)


def _lambda_vars(tree):
    return {
        n["exprId"]["id"] for n, _ in _walk(tree)
        if n["class"] == _NS + "NamedLambdaVariable"
    }


def _invariant_folds(tree, bound=None):
    """ArrayAggregates that read no variable of their innermost
    enclosing lambda."""
    node, kids = tree
    if node["class"] == _NS + "ArrayAggregate" and bound is not None:
        if not _lambda_vars(tree) & bound:
            yield tree
    if node["class"] == _NS + "LambdaFunction":
        bound = {kids[i][0]["exprId"]["id"] for i in node["arguments"]}
    for kid in kids:
        yield from _invariant_folds(kid, bound)


def loop_invariant_folds(df):
    """One line per loop-invariant fold in ``df``'s optimized plan:
    the plan node and the columns the fold reads."""
    plan = json.loads(df._jdf.queryExecution().optimizedPlan().toJSON())
    hits = []
    for node in plan:
        for value in node.values():
            for tree in _expressions(value):
                for fold in _invariant_folds(tree):
                    cols = sorted(
                        n["name"] for n, _ in _walk(fold)
                        if n["class"] == _NS + "AttributeReference"
                    )
                    hits.append(f"{node['class'].rsplit('.', 1)[-1]}: fold over {cols}")
    return hits


DIM = 8


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (i, [float(((i * 7 + d * 3) % 11) - 5) for d in range(DIM)])
        for i in range(1, 41)
    ] + [(41, [0.0] * DIM)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


@pytest.fixture(scope="module")
def query(spark):
    return spark.createDataFrame(
        [(1000, [1.0, -2.0, 3.0, 0.5, 0.0, 2.0, -1.0, 4.0])],
        "vec_id long, embedding array<float>",
    )


def _similarity(spark, corpus, query, tmp):
    from zeek_duckdb_spark.operators import similarity as sim

    return [
        sim.quantize_embeddings(corpus),
        sim.quantize_embeddings(corpus).select("qvec"),
        sim.quantized_topk(corpus, query, k=5),
        sim.topk_neighbors(corpus, query, k=5),
        sim.lsh_bucket_ann(corpus, query, DIM, k=5, planes=4),
        sim.ivf_topk(corpus, query, k=5, n_centroids=4, nprobe=2),
        sim.cosine_pairs(corpus, 0.9, DIM, exact=True),
        sim.cosine_pairs(corpus, 0.9, DIM, planes=4),
    ]


def _kmeans(spark, corpus, query, tmp):
    from zeek_duckdb_spark.operators import kmeans as km

    cents = km.kmeans_fit_quantized(corpus, 3, 1)
    path = str(tmp / "ivf")
    km.ivf_write(corpus, path, n_centroids=3, iters=1)
    return [
        km._quantized_base(corpus, "vec_id", "embedding", None),
        km._index_rows(corpus, cents, "vec_id", "embedding"),
        km.kmeans_ivf_topk(corpus, query, k=5, n_centroids=3, iters=1),
        km.ivf_probe_topk(spark, path, cents, query, k=5),
    ]


def _pq(spark, corpus, query, tmp):
    from zeek_duckdb_spark.operators import pq

    books = pq.pq_train(corpus, DIM, m=2, k=4, iters=1)
    codes = pq.pq_encode(corpus, books)
    qv = [1.0, -2.0, 3.0, 0.5, 0.0, 2.0, -1.0, 4.0]
    return [
        codes,
        pq.pq_topk(codes, qv, books, k_top=5, refine_with=corpus),
        pq.pq_topk(codes, qv, books, k_top=5, metric="ip", refine_with=corpus),
    ]


def _pca(spark, corpus, query, tmp):
    from zeek_duckdb_spark.operators import pca

    model = pca.pca_fit(corpus, 2)
    return [pca.pca_project(corpus, model), pca.random_projection(corpus, 3)]


def _pipeline(spark, corpus, query, tmp):
    from zeek_duckdb_spark.operators import kmeans as km
    from zeek_duckdb_spark.operators.pipeline import balance_clusters

    cents = km.kmeans_fit_quantized(corpus, 3, 1)
    return [balance_clusters(corpus, cents, target_rows_per_cell=5)]


def _classifier(spark, corpus, query, tmp):
    from zeek_duckdb_spark.operators.classifier import (
        filter_by_classifier,
        logreg_score,
    )

    w = [0.1 * d for d in range(DIM)]
    return [
        logreg_score(corpus, w, -0.2),
        filter_by_classifier(corpus, w, -0.2, 0.5),
    ]


@pytest.mark.parametrize(
    "family",
    [_similarity, _kmeans, _pq, _pca, _pipeline, _classifier],
    ids=["similarity", "kmeans", "pq", "pca", "pipeline", "classifier"],
)
def test_no_loop_invariant_fold_in_vector_plans(spark, corpus, query, tmp_path, family):
    for i, df in enumerate(family(spark, corpus, query, tmp_path)):
        assert loop_invariant_folds(df) == [], (family.__name__, i)


def test_guard_flags_an_inlined_row_fold_and_passes_the_centroid_fold(spark, corpus):
    """The guard's two anchors: a max-abs referenced once inside a
    per-element lambda is flagged; ``_argmax_cell``'s per-centroid
    folds over the lambda's own ``c`` pass."""
    from pyspark.sql import functions as F

    from zeek_duckdb_spark.operators.kmeans import _argmax_cell

    inlined = corpus.select(
        "vec_id",
        F.aggregate("embedding", F.lit(0.0), lambda a, v: F.greatest(a, F.abs(v))).alias("m"),
        "embedding",
    ).select(F.transform("embedding", lambda v: v / F.col("m")).alias("x"))
    assert loop_invariant_folds(inlined) == ["Project: fold over ['embedding']"]

    cell = corpus.select(_argmax_cell("embedding", [(0, [1.0] * DIM), (1, [-1.0] * DIM)]).alias("cell"))
    assert loop_invariant_folds(cell) == []
