"""Learned quality classifier (operators/classifier.py): fit
determinism under repartitioning, exact numpy differential of the
fixed-point GD, separable-data accuracy, DuckDB score oracle, kernel
parity, the gate, and plan shape."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from zeek_duckdb_spark.operators.classifier import (
    filter_by_classifier,
    logreg_fit,
    logreg_score,
)
from zeek_duckdb_spark.plans import audit

DIM = 16


def _blobs(spark, n=400, seed=5, parts=8):
    """Two separable Gaussian blobs with 0/1 labels."""
    rng = np.random.default_rng(seed)
    w_true = rng.normal(0, 1, DIM)
    X = rng.normal(0, 1, (n, DIM))
    y = (X @ w_true > 0).astype(int)
    X = X + 0.8 * np.sign(X @ w_true)[:, None] * w_true / np.linalg.norm(w_true)
    rows = [
        (i, [float(v) for v in X[i]], int(y[i])) for i in range(n)
    ]
    return (
        spark.createDataFrame(
            rows, "vec_id long, embedding array<double>, label int"
        ).repartition(parts),
        X,
        y,
    )


def _np_reference_fit(X, y, iters, lr, l2=0.0):
    """The SAME fixed-point GD re-implemented in numpy — must match
    the distributed fit bit-for-bit (both run exact int64 gradient
    sums on the identical int8 grid)."""
    FP = 1 << 20
    scale = np.abs(X).max() / 127.0
    Q = np.floor(X / scale + 0.5).astype(np.int64)
    dim = X.shape[1]
    w = np.zeros(dim)
    b = 0.0
    n = len(X)
    for _ in range(iters):
        z = Q.astype(np.float64) @ w + b
        p = np.where(
            z >= 0, 1.0 / (1.0 + np.exp(-np.abs(z))),
            np.exp(-np.abs(z)) / (1.0 + np.exp(-np.abs(z))),
        )
        r = np.floor((p - y) * FP + 0.5).astype(np.int64)
        g = (Q * r[:, None]).sum(axis=0)
        gb = int(r.sum())
        w = w - lr * ((g / FP) / n + l2 * w)
        b = b - lr * ((gb / FP) / n)
    return (w / scale).tolist(), b


@pytest.mark.slow
def test_fit_deterministic_and_matches_numpy(spark):
    df, X, y = _blobs(spark)
    m1 = logreg_fit(df, "label", DIM, iters=5, lr=1.0)
    m2 = logreg_fit(df.repartition(17), "label", DIM, iters=5, lr=1.0)
    assert m1["weights"] == m2["weights"] and m1["bias"] == m2["bias"]
    ref_w, ref_b = _np_reference_fit(X, y.astype(float), iters=5, lr=1.0)
    assert m1["weights"] == pytest.approx(ref_w, abs=0, rel=0)
    assert m1["bias"] == ref_b
    assert m1["n"] == len(X)
    # loss trace falls on separable data
    assert m1["loss"][0] > m1["loss"][-1]


@pytest.mark.slow
def test_fit_separates_and_gate_keeps_quality(spark):
    df, X, y = _blobs(spark, n=600, seed=11)
    m = logreg_fit(df, "label", DIM, iters=30, lr=2.0)
    scored = logreg_score(df, m["weights"], m["bias"])
    rows = scored.select("vec_id", "label", "quality_score").collect()
    acc = sum(
        1 for r in rows if (r.quality_score >= 0.5) == (r.label == 1)
    ) / len(rows)
    assert acc >= 0.95
    kept = filter_by_classifier(df, m["weights"], m["bias"], 0.5)
    junk = filter_by_classifier(df, m["weights"], m["bias"], 0.5,
                                keep="below")
    assert kept.count() + junk.count() == len(rows)
    kept_ids = {r.vec_id for r in kept.select("vec_id").collect()}
    assert {r.vec_id for r in rows if r.quality_score >= 0.5} == kept_ids


def test_score_matches_duckdb_oracle(spark):
    import duckdb

    df, X, _ = _blobs(spark, n=120, seed=3)
    w = [((j * 37) % 19 - 9) / 10.0 for j in range(DIM)]
    b = 0.25
    got = {
        r.vec_id: r.quality_score
        for r in logreg_score(df, w, b).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (vec_id BIGINT, embedding DOUBLE[])")
    con.executemany(
        "INSERT INTO t VALUES (?, ?)",
        [(i, [float(v) for v in X[i]]) for i in range(len(X))],
    )
    w_sql = "[" + ", ".join(repr(v) for v in w) + "]"
    want = {
        i: p
        for i, p in con.sql(
            "SELECT vec_id, ROUND(1.0 / (1.0 + exp(-(list_sum("
            f"list_transform(list_zip(embedding, {w_sql}), "
            f"z -> z[1] * z[2])) + {b!r}))), 6) FROM t"
        ).fetchall()
    }
    # same sequential fold on both sides -> identical after 6 dp
    assert got == want


def test_kernel_parity_plan_and_nulls(spark):
    df, _, _ = _blobs(spark, n=100, seed=7)
    w = [0.1] * DIM
    a = {r.vec_id: r.quality_score
         for r in logreg_score(df, w, -0.2, kernel="expr").collect()}
    b = {r.vec_id: r.quality_score
         for r in logreg_score(df, w, -0.2, kernel="arrow").collect()}
    assert a == b
    scored = logreg_score(df, w, -0.2)
    assert audit.num_shuffles(scored) == 0  # pure per-row fold
    # wrong-length vector scores NULL and never passes the gate
    odd = spark.createDataFrame(
        [(1, [0.5] * DIM, 1), (2, [0.5] * (DIM - 1), 1)],
        "vec_id long, embedding array<double>, label int",
    )
    s = {r.vec_id: r.quality_score
         for r in logreg_score(odd, w, 0.0).collect()}
    assert s[2] is None and s[1] is not None
    assert {
        r.vec_id
        for r in filter_by_classifier(odd, w, 0.0, 0.0).collect()
    } == {1}
    assert {
        r.vec_id
        for r in filter_by_classifier(odd, w, 0.0, 1.0, keep="below").collect()
    } == {1}


def test_validation(spark):
    df, _, _ = _blobs(spark, n=40)
    with pytest.raises(ValueError, match="iters"):
        logreg_fit(df, "label", DIM, iters=-1)
    with pytest.raises(ValueError, match="lr"):
        logreg_fit(df, "label", DIM, lr=0)
    with pytest.raises(ValueError, match="labels must be 0/1"):
        logreg_fit(
            df.withColumn("label", F.lit(2)), "label", DIM, iters=1
        )
    with pytest.raises(ValueError, match="no usable rows"):
        logreg_fit(df.filter("vec_id < 0"), "label", DIM, iters=1)
    with pytest.raises(ValueError, match="kernel"):
        logreg_score(df, [0.1] * DIM, 0.0, kernel="gpu")
    with pytest.raises(ValueError, match="weights is empty"):
        logreg_score(df, [], 0.0)
    with pytest.raises(ValueError, match="keep"):
        filter_by_classifier(df, [0.1] * DIM, 0.0, 0.5, keep="maybe")
    with pytest.raises(ValueError, match="threshold"):
        filter_by_classifier(df, [0.1] * DIM, 0.0, 1.5)
    # iters=0 returns the zero model but still validates rows exist
    m = logreg_fit(df, "label", DIM, iters=0)
    assert m["weights"] == [0.0] * DIM and m["bias"] == 0.0


def test_null_and_nan_vectors_review_regressions(spark):
    """Review-fix regressions: a NULL vector must score NULL on BOTH
    kernels (arrow used to crash the task), and a NaN element in a fit
    row is dropped instead of poisoning the corpus-global scale."""
    from zeek_duckdb_spark.operators.classifier import logreg_fit, logreg_score

    w = [0.5] * 4
    odd = spark.createDataFrame(
        [(1, [0.1] * 4), (2, None)],
        "vec_id long, embedding array<double>",
    )
    for kernel in ("expr", "arrow"):
        s = {r.vec_id: r.quality_score
             for r in logreg_score(odd, w, 0.0, kernel=kernel).collect()}
        assert s[2] is None and s[1] is not None, kernel
    labeled = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0], 1),
         (2, [-1.0, 0.0, 0.0, 0.0], 0),
         (3, [float("nan"), 1.0, 1.0, 1.0], 1),   # dropped, not poison
         (4, [1.0, None, 0.0, 0.0], 0)],          # dropped, not crash
        "vec_id long, embedding array<double>, label int",
    )
    m = logreg_fit(labeled, "label", 4, iters=3, lr=1.0)
    assert m["n"] == 2  # only the two clean rows fit
    assert all(math.isfinite(v) for v in m["weights"])


def test_logreg_score_existing_out_col_kernel_parity(spark):
    """Advice-fix regression: when out_col already EXISTS in df, both
    kernels must REPLACE it (withColumn semantics) — the arrow kernel
    used to append a duplicate StructField while the pandas assignment
    overwrote in place, so the declared schema had one more column
    than the yielded batches and the job died at runtime."""
    w = [0.5] * 4
    df = spark.createDataFrame(
        [(1, [0.2] * 4, 99.0), (2, [-0.2] * 4, 99.0)],
        "vec_id long, embedding array<double>, quality_score double",
    )
    outs = {}
    for kernel in ("expr", "arrow"):
        got = logreg_score(df, w, 0.0, kernel=kernel)
        assert got.columns == ["vec_id", "embedding", "quality_score"]
        outs[kernel] = {
            r.vec_id: r.quality_score for r in got.collect()
        }
    assert outs["expr"] == outs["arrow"]
    assert outs["expr"][1] != 99.0  # replaced, not kept


def test_logreg_score_kernels_round_a_half_boundary_up(spark):
    """sigmoid(z) is exactly 0.5078125 = 65/128 here, a dyadic value
    on the 6-dp half boundary: ``F.round`` (HALF_UP) gives 0.507813,
    and the Arrow kernel must too (Python's half-even ``round`` gave
    0.507812)."""
    z = 0.03125254350410437
    assert 1.0 / (1.0 + math.exp(-z)) == 0.5078125
    df = spark.createDataFrame(
        [(1, [z])], "vec_id long, embedding array<double>"
    )
    for kernel in ("expr", "arrow"):
        got = logreg_score(df, [1.0], 0.0, kernel=kernel).first()
        assert got.quality_score == 0.507813, kernel


# --- token-feature fit (token_logreg_fit) ----------------------------


def _text_blobs(spark, n_per=120, seed=9, parts=8):
    """Separable synthetic text: disjoint good/spam vocabularies."""
    import random

    rng = random.Random(seed)
    good = ["research", "article", "analysis", "method", "data",
            "result", "study", "evidence", "theory", "model"]
    spam = ["buy", "cheap", "pills", "click", "winner", "free",
            "offer", "casino", "bonus", "deal"]
    rows, i = [], 0
    for vocab, label in ((good, 1), (spam, 0)):
        for _ in range(n_per):
            k = rng.randint(5, 15)
            rows.append(
                (i, " ".join(rng.choice(vocab) for _ in range(k)), label)
            )
            i += 1
    return spark.createDataFrame(
        rows, "doc_id long, text string, label int"
    ).repartition(parts)


@pytest.mark.slow
def test_token_logreg_fit_deterministic_accurate_and_oracle(spark):
    """The in-engine fastText-style token-classifier fit: bit-identical
    weights under any partitioning (exact int64 gradients on the
    2^-10 frequency grid), >= 0.95 accuracy on separable text through
    the SERVING scorer (quality_classifier_score — the feature map is
    shared by construction), falling loss, and a DuckDB full-value
    restatement of the fitted scores."""
    import duckdb

    from zeek_duckdb_spark.operators.classifier import token_logreg_fit
    from zeek_duckdb_spark.operators.textops import (
        quality_classifier_score,
    )

    df = _text_blobs(spark)
    D = 256
    m1 = token_logreg_fit(df, "label", dim=D, iters=12, lr=2.0)
    m2 = token_logreg_fit(
        df.repartition(17), "label", dim=D, iters=12, lr=2.0
    )
    assert m1 == m2  # exact int64 partials -> bit-identical fit
    assert m1["n"] == 240 and m1["dim"] == D
    assert m1["loss"][-1] < m1["loss"][0]  # GD converges

    scored = df.select(
        "doc_id", "label",
        quality_classifier_score(
            F.col("text"), m1["weights"], m1["bias"]
        ).alias("s"),
    ).collect()
    acc = sum((r.s >= 0.5) == (r.label == 1) for r in scored) / len(scored)
    assert acc >= 0.95

    # DuckDB restates the fitted scorer exactly (same md5 bucket,
    # sequential mean, sigmoid)
    w_sql = "[" + ", ".join(repr(w) for w in m1["weights"]) + "]"
    rows = [
        (r.doc_id, r.text) for r in df.select("doc_id", "text").collect()
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE t (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    want = dict(con.execute(f"""
        WITH w AS (SELECT {w_sql}::DOUBLE[] AS wv),
        tk AS (SELECT doc_id,
                      list_filter(string_split_regex(trim(text), '\\s+'),
                                  tk -> tk <> '') AS toks FROM t)
        SELECT doc_id,
               1.0 / (1.0 + exp(-({m1["bias"]!r} + COALESCE(
                 list_sum(list_transform(toks,
                   tk -> wv[CAST((CAST(concat('0x', substring(md5(tk), 1, 15))
                     AS BIGINT) % {D}) + 1 AS INT)])) / len(toks), 0.0))))
        FROM tk, w
    """).fetchall())
    got = {r.doc_id: r.s for r in df.select(
        "doc_id",
        quality_classifier_score(
            F.col("text"), m1["weights"], m1["bias"]
        ).alias("s"),
    ).collect()}
    for k in got:
        assert abs(got[k] - want[k]) < 1e-9, (k, got[k], want[k])


def test_token_logreg_fit_null_empty_docs_and_guards(spark):
    from zeek_duckdb_spark.operators.classifier import token_logreg_fit

    df = spark.createDataFrame(
        [(1, "research analysis quality text here", 1),
         (2, "buy cheap pills now fast", 0),
         (3, None, 1),        # NULL text: bias-only features, kept
         (4, "", 0),          # empty doc: bias-only features, kept
         (5, "good words", None)],  # NULL label: dropped
        "doc_id long, text string, label int",
    )
    m = token_logreg_fit(df, "label", dim=64, iters=3, lr=1.0)
    assert m["n"] == 4  # NULL label dropped, NULL/empty text kept
    assert all(not (w != w) for w in m["weights"])  # no NaN

    with pytest.raises(ValueError, match="dim"):
        token_logreg_fit(df, "label", dim=0)
    with pytest.raises(ValueError, match="labels must be 0/1"):
        token_logreg_fit(
            spark.createDataFrame([(1, "x", 2)],
                                  "doc_id long, text string, label int"),
            "label", dim=8, iters=1,
        )
    with pytest.raises(ValueError, match="no usable rows"):
        token_logreg_fit(df.filter("doc_id < 0"), "label", dim=8, iters=1)


@pytest.mark.slow
def test_token_fit_composes_with_clean_corpus_gate(spark):
    """The full in-engine loop: fit the token classifier, then gate a
    corpus through clean_corpus(classifier=) — planted junk dies, good
    docs survive, and the gate is a pure zero-shuffle expression."""
    from zeek_duckdb_spark.operators.classifier import token_logreg_fit
    from zeek_duckdb_spark.operators.pipeline import clean_corpus

    labeled = _text_blobs(spark)
    m = token_logreg_fit(labeled, "label", dim=256, iters=12, lr=2.0)

    corpus = spark.createDataFrame(
        [(100, "research method shows this result holds in the study"),
         (101, "buy cheap pills casino bonus click the winner offer"),
         (102, "the analysis of the data supports the theory model")],
        "doc_id long, text string",
    )
    kept = clean_corpus(
        corpus, min_tokens=3,
        classifier={"weights": m["weights"], "bias": m["bias"],
                    "threshold": 0.5},
    )
    assert {r.doc_id for r in kept.collect()} == {100, 102}
    junk = clean_corpus(
        corpus, min_tokens=3,
        classifier={"weights": m["weights"], "bias": m["bias"],
                    "threshold": 0.5, "keep": "below"},
    )
    assert {r.doc_id for r in junk.collect()} == {101}
    with pytest.raises(ValueError, match="threshold"):
        clean_corpus(corpus, classifier={"weights": m["weights"],
                                         "threshold": 1.5}).collect()
    with pytest.raises(ValueError, match="weights"):
        clean_corpus(corpus, classifier={"threshold": 0.5}).collect()
    with pytest.raises(ValueError, match="keep"):
        clean_corpus(corpus, classifier={
            "weights": m["weights"], "threshold": 0.5, "keep": "maybe",
        }).collect()


def test_module_imports_without_pandas():
    """The classifier module imports pandas only inside the functions
    that run pandas UDFs, so loading it needs no pandas."""
    import subprocess
    import sys

    import zeek_duckdb_spark.operators.classifier as mod

    code = (
        "import sys, importlib.util as u\n"
        "sys.modules['pandas'] = None\n"
        f"spec = u.spec_from_file_location('classifier', {mod.__file__!r})\n"
        "m = u.module_from_spec(spec)\n"
        "spec.loader.exec_module(m)\n"
        "assert callable(m.logreg_score) and 'pandas' not in vars(m)\n"
    )
    res = subprocess.run([sys.executable, "-c", code], capture_output=True,
                         text=True, timeout=120)
    assert res.returncode == 0, res.stderr
