"""Unit tests for the sketch-dedup operators (minhash/simhash/jaccard)
and the codegen-safety of hyperplane signatures."""

import pyspark.sql.functions as F
import pytest

from zeek_duckdb_spark.operators import dedup as dd
from zeek_duckdb_spark.operators import similarity as sim

SF = "/root/testdata/sf0.001"


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_estimates_jaccard(spark):
    # two near-identical docs and one unrelated: the similar pair's
    # signature agreement must far exceed the dissimilar pairs'
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, base),
        (2, base + " lambda"),
        (3, "one two three four five six seven eight nine ten"),
    ]
    sigs = {
        r["doc_id"]: r["minhash"]
        for r in dd.minhash_signatures(
            _docs(spark, rows), num_hashes=64, shingle_k=2
        ).collect()
    }

    def agree(a, b):
        return sum(x == y for x, y in zip(a, b)) / len(a)

    assert agree(sigs[1], sigs[2]) > 0.5
    assert agree(sigs[1], sigs[3]) < 0.2


def test_minhash_lsh_finds_near_dups_and_orders_ids(spark):
    base = " ".join(f"tok{i}" for i in range(30))
    rows = [
        (10, base),
        (11, base + " extra"),
        (12, "completely different words entirely here now"),
    ]
    sigs = dd.minhash_signatures(_docs(spark, rows), num_hashes=32, shingle_k=3)
    pairs = dd.minhash_lsh_pairs(sigs, bands=8, threshold=0.5).collect()
    assert [(p.id_a, p.id_b) for p in pairs] == [(10, 11)]
    assert all(p.id_a < p.id_b for p in pairs)
    assert 0.0 < pairs[0].jaccard <= 1.0


def test_minhash_verify_shapes_identical_and_guarded(spark, tmp_path):
    """r17: the two verification join shapes — 'broadcast' (small
    corpora; planner broadcasts the (id, text) side) and 'semi'
    (semi-join the corpus to candidate ids, shingles once per distinct
    doc) — return IDENTICAL pairs and the coverage guard fires loudly
    on both.  The shape is size-driven only, so the broadcast budget
    steers a parquet-backed corpus from one shape to the other; a tiny
    in-memory corpus keeps the broadcast shape."""
    from pyspark.errors import PySparkException

    from zeek_duckdb_spark.plans import audit

    base = " ".join(f"tok{i}" for i in range(30))
    rows = [
        (10, base),
        (11, base + " extra"),
        (12, base + " other tail words"),
        (13, "completely different words entirely here now again"),
    ]
    path = str(tmp_path / "docs.parquet")
    _docs(spark, rows).coalesce(1).write.parquet(path)
    docs = spark.read.parquet(path)
    sigs = dd.minhash_signatures(docs, num_hashes=32, shingle_k=3)
    bcast = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(bcast)
    got = {}
    try:
        # ~600 B of text: below 1g // 4, above 1k // 4
        for shape, thr in (("broadcast", "1g"), ("semi", "1k")):
            spark.conf.set(bcast, thr)
            assert dd._verify_shape_auto(docs, "doc_id", "text") == shape
            pairs = dd.minhash_lsh_pairs(
                sigs, bands=8, threshold=0.3, verify_with=docs
            )
            assert ("LeftSemi" in audit.physical_plan(pairs)) == (
                shape == "semi"
            )
            got[shape] = sorted(
                (r.id_a, r.id_b, r.jaccard) for r in pairs.collect()
            )
        assert got["broadcast"] == got["semi"] and got["semi"]
        # under-covering verify_with raises per-row on the semi shape too
        with pytest.raises(PySparkException, match="does not cover"):
            dd.minhash_lsh_pairs(
                sigs, bands=8, threshold=0.3,
                verify_with=docs.filter(F.col("doc_id") != 11),
            ).collect()
    finally:
        spark.conf.set(bcast, saved)
    # a tiny (non-file) corpus keeps the broadcast shape
    assert dd._verify_shape_auto(
        _docs(spark, rows), "doc_id", "text"
    ) == "broadcast"


def test_simhash_hamming_tracks_similarity(spark):
    base = " ".join(f"word{i}" for i in range(40))
    rows = [
        (1, base),
        (2, base + " tail"),
        (3, "nothing in common with the others at all whatsoever"),
    ]
    h = {r["doc_id"]: r["simhash"] for r in dd.simhash(_docs(spark, rows)).collect()}
    near = bin(h[1] ^ h[2]).count("1")
    far = bin(h[1] ^ h[3]).count("1")
    assert near < far
    assert all(0 <= v < (1 << 60) for v in h.values())


def test_simhash_zero_token_doc_keeps_row(spark):
    rows = [(1, "alpha beta"), (2, "")]
    out = dd.simhash(_docs(spark, rows)).collect()
    assert len(out) == 2


def test_ngram_jaccard_hot_token_guard(spark):
    # 40 docs share one hot token; each also has a unique token.  With
    # the default cap (here forced low) the hot token is dropped, so no
    # candidate pairs survive — without it, 40*39/2 pairs explode.
    rows = [(i, f"hot unique{i}") for i in range(40)]
    df = _docs(spark, rows)
    capped = dd.ngram_jaccard_pairs(df, threshold=0.01, max_token_freq=10)
    assert capped.count() == 0
    exact = dd.ngram_jaccard_pairs(df, threshold=0.01, exact=True)
    assert exact.count() == 40 * 39 // 2


def test_ngram_jaccard_default_is_capped(spark):
    import inspect

    sig = inspect.signature(dd.ngram_jaccard_pairs)
    assert sig.parameters["exact"].default is False
    assert dd.DEFAULT_MAX_TOKEN_FREQ == 1000


def test_minhash_lsh_excludes_empty_shingle_docs(spark):
    # docs shorter than the shingle width share the sentinel signature;
    # before the filter they collided in every band and verified with
    # union=0 (ANSI divide-by-zero).  Now they're excluded from banding.
    rows = [(1, "only two"), (2, "tokens here"), (3, "three little words")]
    sigs = dd.minhash_signatures(_docs(spark, rows), num_hashes=32, shingle_k=3)
    assert dd.minhash_lsh_pairs(sigs, bands=8, threshold=0.1).collect() == []


def test_lsh_bucket_guard_errors_loudly(spark):
    from pyspark.errors import PySparkException

    rows = [(i, "shared common shingle text for every doc") for i in range(8)]
    sigs = dd.minhash_signatures(_docs(spark, rows), num_hashes=32, shingle_k=3)
    with pytest.raises(PySparkException, match="max_bucket_size"):
        dd.minhash_lsh_pairs(sigs, bands=8, threshold=0.1, max_bucket_size=4).collect()


def test_lsh_bucket_guard_drop_mode(spark):
    base = " ".join(f"tok{i}" for i in range(30))
    rows = [(i, base) for i in range(8)] + [(100, base + " x"), (101, base + " x y")]
    sigs = dd.minhash_signatures(_docs(spark, rows), num_hashes=32, shingle_k=3)
    # the 8-identical-doc mega-bucket is dropped; the (100, 101) pair
    # survives in buckets below the cap
    pairs = dd.minhash_lsh_pairs(
        sigs, bands=8, threshold=0.5, max_bucket_size=4, on_oversize="drop"
    ).collect()
    got = {(p.id_a, p.id_b) for p in pairs}
    assert all(a not in range(8) or b not in range(8) for a, b in got)
    # unguarded run finds the identical-doc pairs too
    full = dd.minhash_lsh_pairs(sigs, bands=8, threshold=0.5)
    assert full.count() > len(got)


def test_simhash_pairs_bucket_guard(spark):
    from pyspark.errors import PySparkException

    rows = [(i, "identical text for everyone") for i in range(10)]
    sim_df = dd.simhash(_docs(spark, rows))
    with pytest.raises(PySparkException, match="max_bucket_size"):
        dd.simhash_pairs(sim_df, max_hamming=3, max_bucket_size=5).collect()
    ok = dd.simhash_pairs(
        sim_df, max_hamming=3, max_bucket_size=5, on_oversize="drop"
    )
    assert ok.count() == 0


@pytest.mark.slow
def test_hyperplane_signature_compiles_at_dim_768(spark):
    big = spark.range(8).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(768)),
            lambda i: ((i % 17).cast("double") - 8.0) / 17.0,
        ).alias("embedding"),
    )
    out = big.select(
        "vec_id", sim.hyperplane_signature(F.col("embedding"), 768, 16).alias("b")
    ).collect()
    assert len(out) == 8
    assert all(0 <= r.b < (1 << 16) for r in out)


@pytest.mark.slow
def test_hyperplane_signature_matches_unrolled_reference(spark):
    # same plane constants, dumb unrolled projection — buckets must match
    e = spark.read.parquet(f"{SF}/embeddings.parquet").limit(50)
    dim, planes = 64, 12
    mat = sim.plane_matrix(planes, dim)
    vec = F.col("embedding")
    bits = []
    for p in range(planes):
        proj = None
        for d in range(dim):
            term = vec[d].cast("double") * F.lit(float(mat[p][d]))
            proj = term if proj is None else proj + term
        bits.append(
            F.when(proj > 0, F.lit(1 << p).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        )
    ref = bits[0]
    for b in bits[1:]:
        ref = ref + b
    out = e.select(
        "vec_id",
        sim.hyperplane_signature(vec, dim, planes).alias("fast"),
        ref.alias("slow"),
    )
    assert out.filter(F.col("fast") != F.col("slow")).count() == 0


# --- benchmark decontamination ---------------------------------------


@pytest.fixture(scope="module")
def decontam_data(spark):
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog every single day"),
            (2, "completely unrelated text about spark partitions and shuffles"),
            (3, "short doc"),  # < n tokens: can never collide
            (4, "prefix words then the quick brown fox jumps over the lazy dog every single day suffix"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "quiz: the quick brown fox jumps over the lazy dog every single day indeed")],
        "doc_id long, text string",
    )
    return corpus, bench


def test_decontaminate_drop(spark, decontam_data):
    from zeek_duckdb_spark.operators.dedup import ngram_decontaminate

    corpus, bench = decontam_data
    clean = ngram_decontaminate(corpus, bench, n=12)
    assert {r.doc_id for r in clean.collect()} == {2, 3}
    assert clean.columns == corpus.columns


def test_decontaminate_flag(spark, decontam_data):
    from zeek_duckdb_spark.operators.dedup import ngram_decontaminate

    corpus, bench = decontam_data
    flagged = ngram_decontaminate(corpus, bench, n=12, mode="flag")
    got = {r.doc_id: r.contaminated for r in flagged.collect()}
    assert got == {1: True, 2: False, 3: False, 4: True}
    with pytest.raises(ValueError, match="unknown mode"):
        ngram_decontaminate(corpus, bench, mode="purge")


def test_decontaminate_short_docs_never_collide(spark, decontam_data):
    from zeek_duckdb_spark.operators.dedup import ngram_decontaminate

    corpus, bench = decontam_data
    # n larger than every corpus doc -> nothing collides
    assert ngram_decontaminate(corpus, bench, n=20).count() == corpus.count()


def test_decontaminate_benchmark_side_broadcasts(spark, decontam_data):
    from zeek_duckdb_spark.operators.dedup import ngram_decontaminate
    from zeek_duckdb_spark.plans import audit

    corpus, bench = decontam_data
    plan = audit.physical_plan(ngram_decontaminate(corpus, bench, n=12))
    # both the gram probe and the id anti-join must be broadcast joins —
    # the corpus side never shuffles
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan


def test_duplicate_spans_finds_copied_passage(spark):
    from zeek_duckdb_spark.operators.dedup import duplicate_spans

    passage = "alpha beta gamma delta epsilon zeta eta theta"   # 8 tokens
    rows = [
        (1, "intro words first " + passage + " tail one"),
        (2, "other document text " + passage + " different ending here"),
        (3, "completely unrelated text with no shared windows at all ok"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = duplicate_spans(df, width=8, stride=1, min_docs=2).collect()
    ids = {r.doc_id for r in out}
    assert ids == {1, 2}
    # the copied 8-gram occurs at token offset 3 in both docs
    pos = {(r.doc_id, r.pos) for r in out}
    assert (1, 3) in pos and (2, 3) in pos
    assert all(r.n_docs == 2 for r in out)


def test_duplicate_spans_short_docs_and_stride(spark):
    from zeek_duckdb_spark.operators.dedup import duplicate_spans

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c")], "doc_id long, text string"
    )
    # width 8 > 3 tokens -> no windows, no phantom sequence()
    assert duplicate_spans(df, width=8).count() == 0
    # width 2 stride 2 -> one window ("a b") per doc, duplicated
    out = duplicate_spans(df, width=2, stride=2).collect()
    assert {(r.doc_id, r.pos) for r in out} == {(1, 0), (2, 0)}
    with pytest.raises(ValueError, match="width and stride"):
        duplicate_spans(df, width=0)


def test_duplicate_spans_exact_dup_docs_share_every_window(spark):
    from zeek_duckdb_spark.operators.dedup import duplicate_spans

    text = " ".join(f"tok{i}" for i in range(12))
    df = spark.createDataFrame(
        [(1, text), (2, text)], "doc_id long, text string"
    )
    out = duplicate_spans(df, width=8, stride=1).collect()
    # 12 tokens -> 5 windows each, all duplicated
    assert len(out) == 10
    assert {r.pos for r in out} == {0, 1, 2, 3, 4}


def test_strip_duplicate_spans_keeps_first_occurrence(spark):
    from zeek_duckdb_spark.operators.dedup import strip_duplicate_spans

    passage = "alpha beta gamma delta epsilon zeta eta theta"   # 8 tokens
    rows = [
        (1, "intro words first " + passage + " tail one"),
        (2, "other document text " + passage + " different ending here"),
        (3, "completely unrelated text with no shared windows at all ok"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r.text for r in
           strip_duplicate_spans(df, width=8, min_docs=2).collect()}
    assert out[1] == rows[0][1]                 # keeper: untouched
    assert passage not in out[2]                # copied passage removed
    assert out[2].startswith("other document text")
    assert out[2].endswith("different ending here")
    assert out[3] == rows[2][1]                 # uninvolved doc untouched


def test_strip_duplicate_spans_full_dup_becomes_empty(spark):
    from zeek_duckdb_spark.operators.dedup import strip_duplicate_spans

    text = " ".join(f"tok{i}" for i in range(12))
    df = spark.createDataFrame([(1, text), (2, text)], "doc_id long, text string")
    out = {r.doc_id: r.text for r in strip_duplicate_spans(df, width=8).collect()}
    assert out[1] == text
    assert out[2] == ""
    # row count preserved either way
    assert len(out) == 2


def test_minhash_min_parallelism_widens_single_partition_input(spark):
    from zeek_duckdb_spark.operators.dedup import minhash_signatures

    d = spark.read.parquet(f"{SF}/documents.parquet").coalesce(1)
    wide = minhash_signatures(d, min_parallelism=8)
    assert wide.rdd.getNumPartitions() >= 8
    # results identical to the unrepartitioned fold
    narrow = minhash_signatures(d)
    a = sorted((r.doc_id, tuple(r.minhash)) for r in wide.collect())
    b = sorted((r.doc_id, tuple(r.minhash)) for r in narrow.collect())
    assert a == b


def test_strip_duplicate_spans_property_randomized(spark):
    """Randomized corpora with planted shared passages: after stripping
    (width=W, min_docs=2), (a) for every duplicated window the lowest
    occurring doc keeps its text verbatim, (b) no other doc still
    contains that window's exact token run, (c) docs without duplicated
    windows are byte-identical.  One Spark job over many generated
    corpora (hypothesis-style coverage without per-example Spark
    overhead)."""
    import random

    from zeek_duckdb_spark.operators.dedup import duplicate_spans, strip_duplicate_spans

    rng = random.Random(17)
    vocab = [f"w{i}" for i in range(40)]
    rows = []
    did = 0
    for corpus_i in range(25):
        passage = " ".join(rng.choice(vocab) for _ in range(rng.randint(8, 12)))
        n_docs = rng.randint(2, 5)
        for _ in range(n_docs):
            pre = " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 6)))
            post = " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 6)))
            share = rng.random() < 0.7
            body = f"{pre} {passage} {post}" if share else " ".join(
                rng.choice(vocab) for _ in range(rng.randint(10, 25))
            )
            rows.append((did, " ".join(body.split())))
            did += 1
    df = spark.createDataFrame(rows, "doc_id long, text string")
    W = 8
    spans = duplicate_spans(df, width=W, min_docs=2).collect()
    out = {r.doc_id: r.text for r in strip_duplicate_spans(df, width=W, min_docs=2).collect()}
    orig = dict(rows)
    assert set(out) == set(orig)                      # row count preserved

    from collections import defaultdict

    by_fp = defaultdict(list)
    fp_window = {}
    for r in spans:
        by_fp[r.fp].append(r.doc_id)
        fp_window[(r.fp, r.doc_id, r.pos)] = r.pos
    docs_with_spans = {r.doc_id for r in spans}
    for d in set(orig) - docs_with_spans:
        assert out[d] == orig[d], f"untouched doc {d} changed"
    # a doc is untouched iff it is the keeper (min id) for EVERY one of
    # its duplicated windows; it loses exactly the windows it is not
    # the keeper of
    loses = defaultdict(set)
    for r in spans:
        if r.doc_id != min(by_fp[r.fp]):
            loses[r.doc_id].add((r.fp, r.pos))
    for d in docs_with_spans:
        if not loses[d]:
            assert out[d] == orig[d], f"all-keeper doc {d} changed"
    for r in spans:
        if r.doc_id == min(by_fp[r.fp]):
            continue
        window = " ".join(orig[r.doc_id].lower().split()[r.pos : r.pos + W])
        joined = " ".join(out[r.doc_id].lower().split())
        assert window not in joined, (
            f"doc {r.doc_id} still contains duplicated window {window!r}"
        )


# --- incremental dedup against a persisted index ------------------------


def _inc_corpora(spark):
    """Index corpus (already deduped among itself) + a new batch with a
    new-vs-index near-dup, a new-vs-new near-dup pair, and uniques."""
    base_a = " ".join(f"alpha{i}" for i in range(30))
    base_b = " ".join(f"beta{i}" for i in range(30))
    index = _docs(
        spark,
        [
            (1, base_a),
            (2, base_b),
            (3, "an unrelated index document about gardening tools"),
        ],
    )
    new = _docs(
        spark,
        [
            (101, base_a + " tail"),           # near-dup of index doc 1
            (102, base_b + " tailone"),        # near-dup pair inside batch
            (103, base_b + " tailtwo"),
            (104, "a fresh unique crawl page"),
        ],
    )
    return index, new


def test_incremental_lsh_matches_full_pass_on_new_pairs(spark):
    """Differential oracle: the incremental pass must equal the FULL
    pairwise pass over index ∪ new, restricted to pairs touching the
    new batch — same ids, same jaccard values."""
    index, new = _inc_corpora(spark)
    k = dict(num_hashes=32, shingle_k=3)
    isigs = dd.minhash_signatures(index, **k)
    nsigs = dd.minhash_signatures(new, **k)
    inc = {
        (r.id_a, r.id_b): r.jaccard
        for r in dd.minhash_lsh_pairs_incremental(
            nsigs, isigs, bands=8, threshold=0.5
        ).collect()
    }
    full = {
        (r.id_a, r.id_b): r.jaccard
        for r in dd.minhash_lsh_pairs(
            dd.minhash_signatures(index.unionByName(new), **k),
            bands=8,
            threshold=0.5,
        ).collect()
        if r.id_a > 100 or r.id_b > 100  # pairs touching the new batch
    }
    assert inc == full
    assert (1, 101) in inc and (102, 103) in inc  # both pair kinds found


@pytest.mark.slow
def test_band_index_probe_matches_flat_probe(spark, tmp_path):
    """A write_band_index landing, loaded pruned to the batch's
    touched partitions, must yield EXACTLY the flat-index probe's
    pairs — the banded landing is a layout change, never a semantics
    change."""
    index, new = _inc_corpora(spark)
    k = dict(num_hashes=32, shingle_k=3)
    isigs = dd.minhash_signatures(index, **k)
    nsigs = dd.minhash_signatures(new, **k)
    path = str(tmp_path / "bandidx")
    dd.write_band_index(isigs, path, bands=8, num_hashes=32, pfx_mod=16)
    nb = dd._band_buckets(nsigs, "doc_id", 8, 32)
    touched = dd.touched_band_partitions(nb, pfx_mod=16)
    banded = dd.load_band_index(spark, path, touched)
    assert set(banded.columns) == {"doc_id", "band", "bucket"}
    args = dict(bands=8, threshold=0.5)
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in dd.minhash_lsh_pairs_incremental(
            nsigs, isigs, index_banded=banded, **args
        ).collect()
    }
    want = {
        (r.id_a, r.id_b): r.jaccard
        for r in dd.minhash_lsh_pairs_incremental(nsigs, isigs, **args).collect()
    }
    assert got == want and (1, 101) in got


def test_band_index_probe_prunes_partitions(spark, tmp_path):
    """The pruning proof: a probe restricted to one touched
    (band, pfx) pair must read ONLY that directory's files — the
    literal predicate resolves against the partition index at plan
    time, so untouched directories never enter the scan."""
    # many distinct docs -> buckets spread over the 8 x 8 partitions
    docs = _docs(
        spark,
        [(i, " ".join(f"tok{i}w{j}" for j in range(12))) for i in range(40)],
    )
    sigs = dd.minhash_signatures(docs, num_hashes=32, shingle_k=3)
    path = str(tmp_path / "bandidx")
    dd.write_band_index(sigs, path, bands=8, num_hashes=32, pfx_mod=8)
    def scan_metrics(df):
        # run the scan, then read the FileSourceScan's driver metrics
        # (inputFiles() ignores filters — the metrics are the proof)
        df.collect()
        leaf = df._jdf.queryExecution().executedPlan().collectLeaves().apply(0)
        m = leaf.metrics()
        return {
            k: m.apply(k).value() for k in ("numFiles", "numPartitions")
        }

    full = scan_metrics(dd.load_band_index(spark, path))
    probe = dd.load_band_index(spark, path, [(0, 3)])
    pruned = scan_metrics(probe)
    assert pruned["numPartitions"] == 1 < full["numPartitions"]
    assert 0 < pruned["numFiles"] < full["numFiles"]
    # the physical plan carries the directory-key predicate, and every
    # row the probe returns is from the requested partition
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert all(r.band == 0 for r in probe.collect())
    # empty touched set -> no scan at all, zero rows
    assert dd.load_band_index(spark, path, []).count() == 0


def test_band_index_append_growth(spark, tmp_path):
    """mode='append' is the daily shape: day 2's banded rows join the
    standing landing without rewriting day 1's directories."""
    k = dict(num_hashes=32, shingle_k=3)
    d1 = dd.minhash_signatures(
        _docs(spark, [(1, "alpha beta gamma delta epsilon")]), **k
    )
    d2 = dd.minhash_signatures(
        _docs(spark, [(2, "zeta eta theta iota kappa")]), **k
    )
    path = str(tmp_path / "bandidx")
    dd.write_band_index(d1, path, bands=8, num_hashes=32)
    dd.write_band_index(d2, path, bands=8, num_hashes=32)
    got = dd.load_band_index(spark, path)
    assert {r.doc_id for r in got.select("doc_id").distinct().collect()} == {1, 2}
    assert got.count() == 16  # 8 bands x 2 docs


def test_incremental_lsh_never_emits_index_index_pairs(spark):
    # plant an index-index near-dup the incremental pass must IGNORE
    base = " ".join(f"gamma{i}" for i in range(30))
    index = _docs(spark, [(1, base), (2, base + " x")])
    new = _docs(spark, [(50, "nothing like the index at all here")])
    k = dict(num_hashes=32, shingle_k=3)
    out = dd.minhash_lsh_pairs_incremental(
        dd.minhash_signatures(new, **k),
        dd.minhash_signatures(index, **k),
        bands=8,
        threshold=0.3,
    ).collect()
    assert out == []


def test_incremental_lsh_new_pairs_toggle(spark):
    index, new = _inc_corpora(spark)
    k = dict(num_hashes=32, shingle_k=3)
    isigs = dd.minhash_signatures(index, **k)
    nsigs = dd.minhash_signatures(new, **k)
    only_cross = {
        (r.id_a, r.id_b)
        for r in dd.minhash_lsh_pairs_incremental(
            nsigs, isigs, bands=8, threshold=0.5, include_new_pairs=False
        ).collect()
    }
    assert (1, 101) in only_cross
    assert (102, 103) not in only_cross  # new-new excluded on request


def test_incremental_lsh_index_side_semi_joins_before_shuffle(spark):
    """Plan shape: the index relation must pass through a LeftSemi join
    on (band, bucket) before any aggregation — the wholesale index
    never rides the groupBy exchange."""
    index, new = _inc_corpora(spark)
    k = dict(num_hashes=32, shingle_k=3)
    df = dd.minhash_lsh_pairs_incremental(
        dd.minhash_signatures(new, **k),
        dd.minhash_signatures(index, **k),
        bands=8,
        threshold=0.5,
    )
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LeftSemi" in plan


# --- cross-corpus overlap estimation ------------------------------------

def test_corpus_overlap_exact_known_truth(spark):
    from zeek_duckdb_spark.operators.dedup import corpus_overlap

    a = spark.createDataFrame(
        [(i, f"doc number {i}") for i in range(100)], "doc_id long, text string"
    )
    # b shares exactly 40 of a's docs plus 60 of its own
    b = spark.createDataFrame(
        [(i, f"doc number {i}") for i in range(60, 100)]
        + [(i, f"other text {i}") for i in range(60)],
        "doc_id long, text string",
    )
    got = corpus_overlap(a, b, sketch_k=None)
    assert got["method"] == "exact"
    assert got["distinct_a"] == 100 and got["distinct_b"] == 100
    assert got["jaccard"] == 0.25  # 40 / 160
    assert got["containment_a_in_b"] == 0.4
    assert got["containment_b_in_a"] == 0.4


def test_corpus_overlap_sketch_tracks_exact(spark):
    from zeek_duckdb_spark.operators.dedup import corpus_overlap

    a = spark.createDataFrame(
        [(i, f"shared {i}" if i < 500 else f"only-a {i}") for i in range(1000)],
        "doc_id long, text string",
    )
    b = spark.createDataFrame(
        [(i, f"shared {i}" if i < 500 else f"only-b {i}") for i in range(1000)],
        "doc_id long, text string",
    )
    exact = corpus_overlap(a, b, sketch_k=None)
    sk = corpus_overlap(a, b, sketch_k=1024)
    assert sk["method"] == "kmv_1024"
    # rank error ~1/sqrt(k) ~ 3%; allow 4x slack on tiny corpora
    assert abs(sk["jaccard"] - exact["jaccard"]) < 0.12
    assert abs(sk["containment_a_in_b"] - exact["containment_a_in_b"]) < 0.15
    # corpora smaller than k are counted exactly
    assert sk["distinct_a"] == exact["distinct_a"] == 1000


def test_corpus_overlap_whitespace_normalized_and_validates(spark):
    from zeek_duckdb_spark.operators.dedup import corpus_overlap

    a = spark.createDataFrame([(1, "hello   world")], "doc_id long, text string")
    b = spark.createDataFrame([(1, "hello world")], "doc_id long, text string")
    assert corpus_overlap(a, b, sketch_k=None)["jaccard"] == 1.0
    import pytest as _pytest

    with _pytest.raises(ValueError, match="sketch_k"):
        corpus_overlap(a, b, sketch_k=4)


def test_corpus_overlap_sketch_upper_bound(spark):
    from zeek_duckdb_spark.operators.dedup import corpus_overlap

    a = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="1e6"):
        corpus_overlap(a, a, sketch_k=10_000_000)


def test_minhash_pairs_accepts_hyphenated_id_column(spark):
    from zeek_duckdb_spark.operators.dedup import (
        minhash_lsh_pairs, minhash_signatures,
    )

    d = spark.createDataFrame(
        [(1, "the quick brown fox jumps over it"),
         (2, "the quick brown fox jumps over it"),
         (3, "completely different text entirely here")],
        ["my-id", "text"],
    )
    sigs = minhash_signatures(d, "my-id", "text")
    pairs = minhash_lsh_pairs(sigs, "my-id").collect()
    assert [(r.id_a, r.id_b) for r in pairs] == [(1, 2)]


# --- incremental SimHash pairs ------------------------------------------

def test_simhash_pairs_incremental_differential(spark):
    """incremental(new, index) == full(new ∪ index) restricted to
    pairs touching the new batch; index-index pairs never emitted;
    include_new_pairs=False keeps only new-index pairs; the index
    rides a LeftSemi before its exchange (plan proof)."""
    import numpy as np

    from zeek_duckdb_spark.operators.dedup import (
        simhash,
        simhash_pairs,
        simhash_pairs_incremental,
    )
    from zeek_duckdb_spark.plans import audit

    rng = np.random.default_rng(5)
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta"]

    def doc(seed, mut=0):
        r = np.random.default_rng(seed)
        toks = [words[r.integers(len(words))] for _ in range(30)]
        for _ in range(mut):
            toks[r.integers(len(toks))] = words[r.integers(len(words))]
        return " ".join(toks)

    # index: 20 docs; new: 8 docs, several near-dups of index docs
    index_rows = [(i, doc(i)) for i in range(20)]
    new_rows = (
        [(100 + i, doc(i, mut=1)) for i in range(4)]       # near-dup of index
        + [(200, doc(0, mut=1)), (201, doc(0, mut=2))]      # near-dups of 0 AND each other
        + [(300 + i, doc(1000 + i)) for i in range(2)]      # fresh
    )
    d_index = spark.createDataFrame(index_rows, "doc_id long, text string")
    d_new = spark.createDataFrame(new_rows, "doc_id long, text string")
    s_index = simhash(d_index)
    s_new = simhash(d_new)

    inc = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_pairs_incremental(s_new, s_index, max_hamming=10).collect()
    }
    full = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_pairs(
            simhash(d_index.unionByName(d_new)), max_hamming=10
        ).collect()
    }
    new_ids = {r[0] for r in new_rows}
    want = {(a, b, h) for a, b, h in full if a in new_ids or b in new_ids}
    assert inc == want and inc  # non-trivial
    assert all(a in new_ids or b in new_ids for a, b, _ in inc)

    only_cross = {
        (r.id_a, r.id_b)
        for r in simhash_pairs_incremental(
            s_new, s_index, max_hamming=10, include_new_pairs=False
        ).collect()
    }
    assert only_cross == {
        (a, b) for a, b, _ in want if (a in new_ids) != (b in new_ids)
    }

    plan = audit.physical_plan(simhash_pairs_incremental(s_new, s_index))
    assert "LeftSemi" in plan


def _sim_corpora(spark):
    """(index, new) doc frames with planted near-dups — shared by the
    chunk-index tests (same generator as the incremental differential)."""
    import numpy as np

    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta"]

    def doc(seed, mut=0):
        r = np.random.default_rng(seed)
        toks = [words[r.integers(len(words))] for _ in range(30)]
        for _ in range(mut):
            toks[r.integers(len(toks))] = words[r.integers(len(words))]
        return " ".join(toks)

    index_rows = [(i, doc(i)) for i in range(20)]
    new_rows = (
        [(100 + i, doc(i, mut=1)) for i in range(4)]
        + [(200, doc(0, mut=1)), (201, doc(0, mut=2))]
        + [(300 + i, doc(1000 + i)) for i in range(2)]
    )
    return (
        spark.createDataFrame(index_rows, "doc_id long, text string"),
        spark.createDataFrame(new_rows, "doc_id long, text string"),
    )


def test_chunk_index_probe_matches_flat_probe(spark, tmp_path):
    """A write_chunk_index landing, loaded pruned to the batch's
    touched (blk, pfx) partitions, must yield EXACTLY the flat-index
    probe's pairs — and it fully replaces index_sims (the chunk rows
    carry the simhash, so the flat index never scans)."""
    from zeek_duckdb_spark.operators.dedup import (
        _simhash_chunks,
        load_chunk_index,
        simhash,
        simhash_pairs_incremental,
        touched_chunk_partitions,
        write_chunk_index,
    )

    d_index, d_new = _sim_corpora(spark)
    s_index, s_new = simhash(d_index), simhash(d_new)
    path = str(tmp_path / "chunkidx")
    write_chunk_index(s_index, path, blocks=4, bits=60, pfx_mod=16)
    nb = _simhash_chunks(s_new, "doc_id", 4, 60)
    touched = touched_chunk_partitions(nb, pfx_mod=16)
    chunked = load_chunk_index(spark, path, touched)
    assert set(chunked.columns) == {"doc_id", "simhash", "blk", "chunk"}
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_pairs_incremental(
            s_new, None, max_hamming=10, index_chunked=chunked
        ).collect()
    }
    want = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_pairs_incremental(
            s_new, s_index, max_hamming=10
        ).collect()
    }
    assert got == want and got
    with pytest.raises(ValueError, match="index_sims or index_chunked"):
        simhash_pairs_incremental(s_new, None)


def test_chunk_index_probe_prunes_partitions(spark, tmp_path):
    """The pruning proof for the simhash family: a probe restricted to
    one touched (blk, pfx) pair reads ONLY that directory's files."""
    from zeek_duckdb_spark.operators.dedup import (
        load_chunk_index,
        simhash,
        write_chunk_index,
    )

    docs = _docs(
        spark,
        [(i, " ".join(f"tok{i}w{j}" for j in range(12))) for i in range(40)],
    )
    sigs = simhash(docs)
    path = str(tmp_path / "chunkidx")
    write_chunk_index(sigs, path, blocks=4, bits=60, pfx_mod=8)

    def scan_metrics(df):
        df.collect()
        leaf = df._jdf.queryExecution().executedPlan().collectLeaves().apply(0)
        m = leaf.metrics()
        return {k: m.apply(k).value() for k in ("numFiles", "numPartitions")}

    full = scan_metrics(load_chunk_index(spark, path))
    probe = load_chunk_index(spark, path, [(0, 3)])
    pruned = scan_metrics(probe)
    assert pruned["numPartitions"] == 1 < full["numPartitions"]
    assert 0 < pruned["numFiles"] < full["numFiles"]
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert all(r.blk == 0 for r in probe.collect())
    assert load_chunk_index(spark, path, []).count() == 0


def test_chunk_index_append_growth(spark, tmp_path):
    """mode='append' is the daily shape, same as the band index."""
    from zeek_duckdb_spark.operators.dedup import (
        load_chunk_index,
        simhash,
        write_chunk_index,
    )

    d1 = simhash(_docs(spark, [(1, "alpha beta gamma delta epsilon")]))
    d2 = simhash(_docs(spark, [(2, "zeta eta theta iota kappa")]))
    path = str(tmp_path / "chunkidx")
    write_chunk_index(d1, path, blocks=4, bits=60)
    write_chunk_index(d2, path, blocks=4, bits=60)
    got = load_chunk_index(spark, path)
    assert {r.doc_id for r in got.select("doc_id").distinct().collect()} == {1, 2}
    assert got.count() == 8  # 4 blocks x 2 docs


def test_phash_index_landing_roundtrip(spark, tmp_path):
    """write_phash_index/load_phash_index close the loop for media:
    probing the landed chunk index reproduces the flat phash probe."""
    import numpy as np

    from zeek_duckdb_spark.operators.dedup import (
        _simhash_chunks,
        touched_chunk_partitions,
    )
    from zeek_duckdb_spark.operators.multimodal import (
        load_phash_index,
        phash_media,
        phash_pairs_incremental,
        write_phash_index,
    )

    rng = np.random.default_rng(13)
    imgs = [rng.integers(0, 256, 1024, dtype=np.uint8) for _ in range(4)]
    near = imgs[0].copy()
    near[::23] = (near[::23] + 11) % 256
    index = spark.createDataFrame(
        [(i, bytearray(im.tobytes())) for i, im in enumerate(imgs)],
        "doc_id long, media binary",
    )
    new = spark.createDataFrame(
        [(100, bytearray(near.tobytes()))], "doc_id long, media binary"
    )
    h_index, h_new = phash_media(index, fake=True), phash_media(new, fake=True)
    path = str(tmp_path / "phashidx")
    write_phash_index(h_index, path, pfx_mod=16)
    nb = _simhash_chunks(
        h_new.select("doc_id", F.col("phash").alias("simhash")), "doc_id", 4, 60
    )
    chunked = load_phash_index(
        spark, path, touched_chunk_partitions(nb, pfx_mod=16)
    )
    got = {
        (r.id_a, r.id_b)
        for r in phash_pairs_incremental(
            h_new, None, max_hamming=6, index_chunked=chunked
        ).collect()
    }
    want = {
        (r.id_a, r.id_b)
        for r in phash_pairs_incremental(
            h_new, h_index, max_hamming=6
        ).collect()
    }
    assert got == want == {(0, 100)}


def test_phash_pairs_incremental_media_ingest(spark):
    """Daily media ingest: a new batch with one re-encoded copy of an
    indexed image pairs against the index; untouched index images
    never pair."""
    import numpy as np

    from zeek_duckdb_spark.operators.multimodal import (
        phash_media,
        phash_pairs_incremental,
    )

    rng = np.random.default_rng(13)
    imgs = [rng.integers(0, 256, 1024, dtype=np.uint8) for _ in range(4)]
    near = imgs[0].copy()
    near[::23] = (near[::23] + 11) % 256
    index = spark.createDataFrame(
        [(i, bytearray(im.tobytes())) for i, im in enumerate(imgs)],
        "doc_id long, media binary",
    )
    new = spark.createDataFrame(
        [(100, bytearray(near.tobytes())),
         (101, bytearray(rng.integers(0, 256, 1024, dtype=np.uint8).tobytes()))],
        "doc_id long, media binary",
    )
    pairs = phash_pairs_incremental(
        phash_media(new, fake=True), phash_media(index, fake=True), max_hamming=6
    ).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    assert got == {(0, 100)}


def test_exact_dedup_incremental_differential(spark):
    """Survivors of the incremental pass == full-union exact dedup
    restricted to new ids; batch-internal dups keep min id; index
    collisions die; fresh docs carry their fp for index append."""
    from zeek_duckdb_spark.operators.dedup import exact_dedup_incremental
    from zeek_duckdb_spark.operators.textops import fingerprint

    index_docs = spark.createDataFrame(
        [(i, f"indexed document number {i}") for i in range(10)],
        "doc_id long, text string",
    )
    new_docs = spark.createDataFrame(
        [
            (100, "indexed document number 3"),   # dup of index -> dies
            (101, "a genuinely fresh document"),
            (102, "a genuinely fresh document"),  # batch dup -> 101 wins
            (103, "another fresh one"),
        ],
        "doc_id long, text string",
    )
    index_fps = index_docs.select(
        fingerprint(F.col("text")).alias("fp")
    ).distinct()

    out = exact_dedup_incremental(new_docs, index_fps)
    assert set(out.columns) == {"fp", "doc_id", "text"}
    got = {r.doc_id for r in out.collect()}
    assert got == {101, 103}

    # differential vs the full pass on the union, restricted to new ids
    union = index_docs.unionByName(new_docs)
    fp = fingerprint(F.col("text"))
    w = union.withColumn("fp", fp)
    keep = w.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    full = {
        r.doc_id
        for r in w.join(keep, ["doc_id", "fp"], "left_semi").collect()
        if r.doc_id >= 100
    }
    assert got == full


@pytest.mark.slow
def test_incremental_ingest_two_day_composition(spark, tmp_path):
    """The daily-crawl loop end-to-end: day 0 lands a deduped corpus
    plus its fingerprint and signature indexes; day 1's batch flows
    exact_dedup_incremental -> minhash_lsh_pairs_incremental ->
    min-id drop, touching the indexes only through keyed joins.
    Exact dup of day 0 dies at stage 1; near dup of day 0 and the
    batch-internal near-dup loser die at stage 2; fresh docs survive
    and their index rows append for day 2."""
    from zeek_duckdb_spark.operators.dedup import (
        exact_dedup_incremental,
        minhash_lsh_pairs,
        minhash_lsh_pairs_incremental,
        minhash_signatures,
    )
    from zeek_duckdb_spark.operators.textops import fingerprint

    base = ("the quick brown fox jumps over the lazy dog and then "
            "wanders across the wide green field toward the river")
    day0 = spark.createDataFrame(
        [(i, f"{base} chapter {i} " + "filler token " * 3) for i in range(8)],
        "doc_id long, text string",
    )
    # day-0 landing: corpus assumed already self-deduped
    fps_path = str(tmp_path / "fps")
    sigs_path = str(tmp_path / "sigs")
    day0.select(fingerprint(F.col("text")).alias("fp")).distinct().write.parquet(fps_path)
    minhash_signatures(day0, "doc_id", "text").write.parquet(sigs_path)

    day0_row3 = f"{base} chapter 3 " + "filler token " * 3
    day1 = spark.createDataFrame(
        [
            (100, day0_row3),                                  # exact dup of 3
            (101, day0_row3.replace("river", "ocean")),        # near dup of 3
            (102, "completely novel content " + "alpha beta gamma " * 6),
            # near dup of 102: one word changed at the tail keeps the
            # distinct-shingle jaccard high (repetition collapses under
            # array_distinct, so an every-repeat change would not)
            (103, "completely novel content " + "alpha beta gamma " * 5 + "alpha beta delta"),
            (104, "another genuinely new document with its own words entirely"),
        ],
        "doc_id long, text string",
    )

    # stage 1: exact vs index + within batch
    s1 = exact_dedup_incremental(day1, spark.read.parquet(fps_path))
    assert {r.doc_id for r in s1.collect()} == {101, 102, 103, 104}

    # stage 2: fuzzy vs index + within batch
    new_sigs = minhash_signatures(s1.drop("fp"), "doc_id", "text")
    pairs = minhash_lsh_pairs_incremental(
        new_sigs, spark.read.parquet(sigs_path), threshold=0.5
    )
    got_pairs = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (3, 101) in got_pairs and (102, 103) in got_pairs
    losers = {b for _, b in got_pairs}  # min-id-wins: larger id loses
    survivors = {r.doc_id for r in s1.collect()} - losers
    assert survivors == {102, 104}

    # close the loop: append survivors' index rows; day-2 sees them
    surv_df = s1.filter(F.col("doc_id").isin(*survivors))
    surv_df.select("fp").write.mode("append").parquet(fps_path)
    new_sigs.join(surv_df.select("doc_id"), "doc_id", "left_semi").write.mode(
        "append"
    ).parquet(sigs_path)
    day2 = spark.createDataFrame(
        [(200, "completely novel content " + "alpha beta gamma " * 6)],
        "doc_id long, text string",
    )
    s2 = exact_dedup_incremental(day2, spark.read.parquet(fps_path))
    assert s2.count() == 0  # day-1 survivor now guards the index

    # sanity: the incremental pair set matches the full pass restricted
    # to day-1-touching pairs
    all_docs = day0.unionByName(s1.drop("fp"))
    full = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(
            minhash_signatures(all_docs, "doc_id", "text"), threshold=0.5
        ).collect()
        if r.id_a >= 100 or r.id_b >= 100
    }
    assert got_pairs == full


def test_exact_dedup_incremental_null_text_passthrough(spark):
    """Review regression: un-fingerprintable rows (NULL text) pass
    through as survivors with fp NULL instead of vanishing in the
    equi-joins."""
    from zeek_duckdb_spark.operators.dedup import exact_dedup_incremental
    from zeek_duckdb_spark.operators.textops import fingerprint

    index_fps = spark.createDataFrame(
        [("somefp",)], "fp string"
    )
    new = spark.createDataFrame(
        [(1, "real doc one"), (2, None), (3, None)],
        "doc_id long, text string",
    )
    out = exact_dedup_incremental(new, index_fps)
    got = {r.doc_id: r.fp for r in out.collect()}
    assert set(got) == {1, 2, 3}
    assert got[2] is None and got[3] is None
    assert got[1] is not None


# ---------------------------------------------------------------------
# review-fix regressions (round 9 second review pass)
# ---------------------------------------------------------------------


def test_corpus_overlap_tolerates_null_text(spark):
    """A NULL-text row must neither crash the KMV driver merge nor
    inflate the exact distinct counts."""
    a = _docs(spark, [(1, "alpha beta gamma"), (2, None), (3, "delta eps")])
    b = _docs(spark, [(10, "alpha beta gamma"), (11, None)])
    for k in (None, 64):
        r = dd.corpus_overlap(a, b, sketch_k=k)
        assert r["distinct_a"] == 2 and r["distinct_b"] == 1
        assert r["containment_b_in_a"] == 1.0


@pytest.mark.slow
def test_strip_dup_spans_preserves_extra_columns(spark):
    """strip_duplicate_spans must carry non-(id, text) columns through
    — clean_corpus composes it with a carried classifier score."""
    base = " ".join(f"w{i}" for i in range(20))
    df = spark.createDataFrame(
        [(1, base, 0.9), (2, base + " tail piece here", 0.4)],
        "doc_id long, text string, clf_score double",
    )
    out = dd.strip_duplicate_spans(df, width=8)
    assert set(out.columns) == {"doc_id", "text", "clf_score"}
    scores = {r.doc_id: r.clf_score for r in out.collect()}
    assert scores == {1: 0.9, 2: 0.4}
    # end-to-end: the previously-broken composition
    from zeek_duckdb_spark.operators.pipeline import clean_corpus

    cleaned = clean_corpus(
        df, min_tokens=1, max_punct_ratio=1.0, strip_dup_spans=True,
        near_dedup="minhash", near_params={"threshold": 0.99},
        near_keep_score="clf_score",
    )
    assert cleaned.count() >= 1  # no unresolved-column AnalysisException


def test_exact_dedup_stream_null_text_passthrough(spark, tmp_path):
    """Streaming NULL-text rows pass through as survivors (batch
    contract) instead of collapsing to one per watermark horizon."""
    import time

    src = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    spark.createDataFrame(
        [(1, "same body", "2026-01-01 00:00:01"),
         (2, "same body", "2026-01-01 00:00:02"),
         (3, None, "2026-01-01 00:00:03"),
         (4, None, "2026-01-01 00:00:04")],
        "doc_id long, text string, ts string",
    ).selectExpr("doc_id", "text", "CAST(ts AS TIMESTAMP) AS ts").write.parquet(src)
    stream = spark.readStream.schema(
        "doc_id long, text string, ts timestamp"
    ).parquet(src)
    dedup = dd.exact_dedup_stream(stream, "ts", "10 minutes")
    q = (
        dedup.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(r.doc_id for r in spark.read.parquet(out_dir).collect())
    # one of {1,2} survives dedup; BOTH null-text rows pass through
    assert 3 in got and 4 in got and len(got) == 3


def test_simhash_geometry_validation_and_null_flood(spark):
    docs = _docs(spark, [(1, "alpha beta gamma delta"), (2, None)])
    sims = dd.simhash(docs)
    # NULL simhash rows are excluded from chunking (no NULL bucket)
    ch = dd._simhash_chunks(sims, "doc_id", 4, 60)
    assert ch.filter(F.col("chunk").isNull()).count() == 0
    # blocks > bits would put every doc in one zero-width mega-bucket
    with pytest.raises(ValueError, match="blocks must be"):
        dd.simhash_pairs(sims, max_hamming=3, blocks=64, bits=60)
    # max_hamming >= blocks stays ALLOWED (best-effort candidate mode
    # several pipeline defaults rely on — see _simhash_geometry)
    dd.simhash_pairs(sims, max_hamming=4, blocks=4).collect()


def test_band_buckets_reject_non_dividing_bands(spark):
    sigs = dd.minhash_signatures(
        _docs(spark, [(1, "alpha beta gamma delta epsilon")]),
        num_hashes=32, shingle_k=3,
    )
    with pytest.raises(ValueError, match="must divide"):
        dd.minhash_lsh_pairs(sigs, bands=5, num_hashes=32)
    with pytest.raises(ValueError, match="must divide"):
        dd.write_band_index(sigs, "/tmp/never", bands=48, num_hashes=32)


@pytest.mark.slow
def test_compact_band_index_preserves_rows_layout_and_pruning(
    spark, tmp_path
):
    """The append-mode maintenance loop: N daily appends fragment each
    (band, pfx) directory into N files; compact_band_index folds them
    back with rows, layout, pruning, and subsequent appends all
    unchanged."""
    import os

    path = str(tmp_path / "bandidx")
    n_appends = 6
    for day in range(n_appends):
        docs = _docs(
            spark,
            [
                (day * 100 + i, " ".join(f"d{day}i{i}w{j}" for j in range(12)))
                for i in range(10)
            ],
        )
        sigs = dd.minhash_signatures(docs, num_hashes=32, shingle_k=3)
        dd.write_band_index(sigs, path, bands=8, num_hashes=32, pfx_mod=4)

    def files_per_dir():
        out = {}
        for root, _d, names in os.walk(path):
            pq = [n for n in names if n.endswith(".parquet")]
            if pq:
                out[os.path.relpath(root, path)] = len(pq)
        return out

    before_files = files_per_dir()
    assert max(before_files.values()) > 1  # appends fragmented it
    before_rows = sorted(
        (r.doc_id, r.band, r.bucket)
        for r in dd.load_band_index(spark, path).collect()
    )
    before_dirs = set(before_files)

    stats = dd.compact_band_index(spark, path)
    assert stats["files_after"] < stats["files_before"]

    after_files = files_per_dir()
    assert set(after_files) == before_dirs  # every (band,pfx) dir kept
    assert max(after_files.values()) == 1  # folded to one file each
    after_rows = sorted(
        (r.doc_id, r.band, r.bucket)
        for r in dd.load_band_index(spark, path).collect()
    )
    assert after_rows == before_rows  # full-value identity

    # pruned probe still prunes post-compaction
    probe = dd.load_band_index(spark, path, [(0, 3)])
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert all(r.band == 0 for r in probe.collect())

    # appends after compaction land exactly-once into the same layout
    docs = _docs(
        spark,
        [(9000 + i, " ".join(f"post{i}w{j}" for j in range(12)))
         for i in range(5)],
    )
    sigs = dd.minhash_signatures(docs, num_hashes=32, shingle_k=3)
    dd.write_band_index(sigs, path, bands=8, num_hashes=32, pfx_mod=4)
    final = dd.load_band_index(spark, path)
    ids = {r.doc_id for r in final.select("doc_id").distinct().collect()}
    assert {9000 + i for i in range(5)} <= ids
    assert final.count() == len(after_rows) + 5 * 8  # 8 bands per doc


def test_compact_chunk_index_roundtrip(spark, tmp_path):
    """compact_chunk_index: same maintenance contract for the
    (blk, pfx) simhash/phash landings."""
    import os

    path = str(tmp_path / "chunkidx")
    for day in range(4):
        sim = spark.createDataFrame(
            [(day * 10 + i, (day * 7919 + i * 104729) % (1 << 60))
             for i in range(8)],
            "doc_id long, simhash long",
        )
        dd.write_chunk_index(sim, path, blocks=4, bits=60, pfx_mod=4)
    before = sorted(
        tuple(r) for r in dd.load_chunk_index(spark, path).collect()
    )
    stats = dd.compact_chunk_index(spark, path)
    assert stats["files_after"] < stats["files_before"]
    after = sorted(
        tuple(r) for r in dd.load_chunk_index(spark, path).collect()
    )
    assert after == before
    dirs = {
        os.path.relpath(root, path)
        for root, _d, names in os.walk(path)
        if any(n.endswith(".parquet") for n in names)
    }
    assert all(d.startswith("blk=") and "pfx=" in d for d in dirs)


def _minhash_reference(text, num_hashes, shingle_k, seed):
    """Sequential restatement of minhash_signatures for one doc:
    lower + whitespace tokens, distinct k-shingles, one 28-bit md5 base
    per shingle, then min over (a*h + b) mod 2^31-1 per hash (the
    all-P31 sentinel when there is no shingle)."""
    import hashlib
    import re

    from zeek_duckdb_spark.operators.hashutil import P31, affine_coeffs

    if text is None:
        toks = []
    else:
        toks = re.split(r"\s+", text.lower().strip())
    shingles = list(dict.fromkeys(
        " ".join(toks[i:i + shingle_k])
        for i in range(len(toks) - shingle_k + 1)
    ))
    bases = [int(hashlib.md5(sh.encode()).hexdigest()[:7], 16)
             for sh in shingles]
    sig = [min(((a * h + b) % P31 for h in bases), default=P31)
           for a, b in affine_coeffs(num_hashes, seed)]
    return sig, shingles


def test_minhash_signatures_match_sequential_reference(spark):
    """Signatures and shingles equal the sequential reference, including
    the empty-shingle sentinel and NULL text; a frame without its
    shingles column verifies through verify_with with the same pairs
    and refuses loudly without it."""
    from zeek_duckdb_spark.operators.hashutil import P31

    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "Alpha beta  gamma delta epsilon zeta eta iota"),
        (3, "completely different words here in this doc"),
        (4, "ab"),            # shorter than the shingle width
        (5, ""),              # empty
        (6, None),            # NULL text
    ] + [(100 + i, " ".join(f"w{i}x{j % 7}" for j in range(10)))
         for i in range(30)]
    docs = _docs(spark, rows).repartition(5)

    sigs = dd.minhash_signatures(docs, num_hashes=32, shingle_k=3)
    got = {r.doc_id: r for r in sigs.collect()}
    assert set(got) == {d for d, _t in rows}
    for doc_id, text in rows:
        sig, shingles = _minhash_reference(text, 32, 3, 1)
        assert list(got[doc_id].minhash) == sig, doc_id
        assert list(got[doc_id].shingles) == shingles, doc_id
    for doc_id in (4, 5, 6):
        assert list(got[doc_id].minhash) == [P31] * 32
        assert not got[doc_id]["__nonempty"]

    want = {
        (r.id_a, r.id_b): r.jaccard
        for r in dd.minhash_lsh_pairs(
            sigs, bands=8, threshold=0.5, verify_with=docs
        ).collect()
    }
    bare = sigs.drop("shingles")
    got_pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in dd.minhash_lsh_pairs(
            bare, bands=8, threshold=0.5, verify_with=docs
        ).collect()
    }
    assert got_pairs == want and (1, 2) in got_pairs
    with pytest.raises(ValueError, match="verify_with"):
        dd.minhash_lsh_pairs(bare, bands=8, threshold=0.5).collect()


@pytest.mark.slow
def test_minhash_incremental_shingleless_frames_via_verify_with(spark):
    """The incremental daily-crawl pass over signature frames stored
    without their shingles column: verify_with computes candidate
    shingles, results equal the full-frame incremental pass; without
    verify_with the bare frame refuses with the actionable error, not
    an unresolved-column crash."""
    import pytest

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    idx_docs = _docs(
        spark,
        [(i, " ".join(f"i{i}w{j}" for j in range(10))) for i in range(20)]
        + [(98, base)],
    )
    new_docs = _docs(
        spark,
        [(101, base + " lambda"), (102, "novel content entirely here now ok")],
    )
    all_docs = idx_docs.unionByName(new_docs)
    k = dict(num_hashes=32, shingle_k=3)

    want = {
        (r.id_a, r.id_b): r.jaccard
        for r in dd.minhash_lsh_pairs_incremental(
            dd.minhash_signatures(new_docs, **k),
            dd.minhash_signatures(idx_docs, **k),
            bands=8, threshold=0.5,
        ).collect()
    }
    a_new = dd.minhash_signatures(new_docs, **k).drop("shingles")
    a_idx = dd.minhash_signatures(idx_docs, **k).drop("shingles")
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in dd.minhash_lsh_pairs_incremental(
            a_new, a_idx, bands=8, threshold=0.5, verify_with=all_docs,
        ).collect()
    }
    assert got == want and (98, 101) in got

    # expr frames + verify_with also agree (the per-candidate path)
    got_e = {
        (r.id_a, r.id_b): r.jaccard
        for r in dd.minhash_lsh_pairs_incremental(
            dd.minhash_signatures(new_docs, **k),
            dd.minhash_signatures(idx_docs, **k),
            bands=8, threshold=0.5, verify_with=all_docs,
        ).collect()
    }
    assert got_e == want

    with pytest.raises(ValueError, match="verify_with"):
        dd.minhash_lsh_pairs_incremental(
            a_new, a_idx, bands=8, threshold=0.5
        ).collect()

    # an UNDER-COVERING verify_with errors loudly instead of silently
    # dropping the uncovered candidate pairs (round-12 coverage guard)
    from pyspark.errors import PySparkException

    with pytest.raises(PySparkException, match="does not cover"):
        dd.minhash_lsh_pairs_incremental(
            a_new, a_idx, bands=8, threshold=0.5,
            verify_with=all_docs.filter(F.col("doc_id") != 101),
        ).collect()


def test_minhash_lsh_pairs_verify_with_coverage_guard(spark):
    """Batch twin of the incremental coverage guard (round-12): a
    verify_with frame missing a candidate id raises loudly instead of
    silently dropping the pair — the inner join previously shrank the
    pair set with no error."""
    from pyspark.errors import PySparkException

    base = " ".join(f"tok{i}" for i in range(30))
    rows = [
        (10, base),
        (11, base + " extra"),
        (12, "completely different words entirely here now"),
    ]
    docs = _docs(spark, rows)
    sigs = dd.minhash_signatures(docs, num_hashes=32, shingle_k=3)
    # fully-covering verify_with: same pairs as the sig-frame path
    want = {
        (p.id_a, p.id_b)
        for p in dd.minhash_lsh_pairs(
            sigs, bands=8, threshold=0.5, verify_with=docs
        ).collect()
    }
    assert want == {(10, 11)}
    with pytest.raises(PySparkException, match="does not cover"):
        dd.minhash_lsh_pairs(
            sigs, bands=8, threshold=0.5,
            verify_with=docs.filter(F.col("doc_id") != 11),
        ).collect()
