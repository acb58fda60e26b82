"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram
Jaccard, embedding-cosine near-dup.

Scale design (the point of this module — these must hold at 100 TB):

- **exact**: one hash-aggregate on a fingerprint column; Spark does
  map-side partial aggregation, so the shuffle carries one row per
  distinct key per partition, not the corpus.
- **minhash_lsh**: signatures are a zero-shuffle per-row fold — ONE
  md5 per shingle, then cheap affine permutations mod 2^31-1 (Spark
  MLlib MinHashLSH's construction) folded with aggregate/zip_with.
  Measured faster than the explode + N-min-codegen-aggregate
  alternative both cold and warm (see minhash_signatures).  The
  md5-derived family means a DuckDB SQL oracle can restate the exact
  signatures — see hashutil.py.  Candidate generation explodes to
  (band_hash, doc) and self-joins per band bucket: the shuffle is
  O(docs × bands) small rows, never O(docs²).  Pair verification is
  exact Jaccard on the candidates only.
- **simhash**: same zero-shuffle fold shape — one md5 per token,
  ±1 bit contributions folded per row.
- **ngram_jaccard_pairs**: exact algorithm for modest candidate sets;
  the inverted-index join (token -> docs) is the classic
  shuffle-bounded plan; a frequency cap drops stop-shingles to bound
  skew (the classic hot-key guard).
- **embedding near-dup**: see similarity.py; cosine_pairs here reuses
  the LSH bucketer to avoid the quadratic join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from zeek_duckdb_spark.operators.hashutil import P31, affine_coeffs, md5_long
from zeek_duckdb_spark.operators.textops import fingerprint, tokens

__all__ = [
    "exact_dedup_groups",
    "minhash_signatures",
    "minhash_lsh_pairs",
    "simhash",
    "simhash_col",
    "simhash_pairs",
    "ngram_jaccard_pairs",
    "ngram_decontaminate",
    "duplicate_spans",
    "strip_duplicate_spans",
    "exact_dedup_stream",
    "exact_dedup_incremental",
    "near_dedup_stream",
    "corpus_overlap",
    "simhash_pairs_incremental",
    "write_band_index",
    "load_band_index",
    "touched_band_partitions",
    "write_chunk_index",
    "load_chunk_index",
    "touched_chunk_partitions",
]


def exact_dedup_groups(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", key: Column | None = None
) -> DataFrame:
    """Exact duplicate groups by content fingerprint: one row per
    duplicated fingerprint with the representative (min id) and the
    group size.  ``dropDuplicates`` semantics = join back on
    (fp, id == keep_id)."""
    k = key if key is not None else fingerprint(F.col(text_col))
    return (
        df.select(k.alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("group_size"))
        .filter(F.col("group_size") > 1)
    )


def _shingles(text_col: Column, k: int) -> Column:
    """Word k-shingles as an array column (distinct), JVM-side.

    Built by zipping k shifted copies of the token array rather than
    ``transform(sequence(...), i -> slice(toks, i, k))``: interpreted
    HOF evaluation has no common-subexpression elimination, so a
    ``slice(toks, ...)`` INSIDE the lambda re-runs the whole
    split-tokenize pipeline once per element — measured 5.5x slower on
    5k docs.  Here the tokenize expression appears only at row level
    (k times) and the lambda touches nothing but its own variable.
    (When the token array is already materialized as a column, use
    :func:`_shingles_from_tokens` — slicing a stored array inside the
    lambda is cheap and the whole expression is one SQL parse.)
    """
    toks = tokens(F.lower(text_col))
    if k == 1:
        return F.array_distinct(toks)
    shifted = [toks] + [F.slice(toks, i + 1, 1 << 30) for i in range(1, k)]
    zipped = F.slice(
        F.arrays_zip(*shifted), 1, F.greatest(F.size(toks) - (k - 1), F.lit(0))
    )
    return F.array_distinct(
        F.transform(
            zipped, lambda s: F.concat_ws(" ", *[s[str(i)] for i in range(k)])
        )
    )


def _shingles_from_tokens(tok_col: str, k: int) -> Column:
    """k-shingles over a MATERIALIZED token-array column (same values
    as :func:`_shingles`, first-occurrence order preserved): slicing a
    stored array per element is cheap, and generating the expression as
    one SQL string avoids the py4j tree-building cost at plan time."""
    if k == 1:
        return F.array_distinct(F.col(tok_col))
    return F.expr(
        f"if(size({tok_col}) >= {k}, "
        f"array_distinct(transform(sequence(0, size({tok_col}) - {k}), "
        f"i -> concat_ws(' ', slice({tok_col}, i + 1, {k})))), "
        f"array())"
    )


def _ensure_parallelism(df: DataFrame, min_parallelism: int | None) -> DataFrame:
    """Widen a narrow scan before the expensive per-row folds in this
    module — see :func:`plans.scanstats.ensure_min_parallelism` (file-
    size estimate, no driver-side plan->RDD conversion)."""
    from zeek_duckdb_spark.plans.scanstats import ensure_min_parallelism

    return ensure_min_parallelism(df, min_parallelism)


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    shingle_k: int = 3,
    seed: int = 1,
    min_parallelism: int | None = None,
) -> DataFrame:
    """MinHash signature per document: signature[i] =
    min over shingles of (a_i * h(shingle) + b_i) mod 2^31-1, where
    h = 28-bit md5-derived base hash (one md5 per shingle, computed
    once; the N permutations are cheap modular arithmetic).

    Shape: per-row fold, ZERO shuffle.  One md5 per shingle (projected
    ONCE into a base-hash array — its own Project, which CollapseProject
    keeps separate because the alias is referenced N times and is
    non-cheap), then signature[i] = array_min(transform(bases, ...))
    with the (a_i, b_i) coefficients baked as literals.  Measured at
    sf0.1 against (a) the aggregate+zip_with fold — 1.2x faster (0.31 s
    vs 0.38 s median; zip_with allocates a fresh N-array per shingle,
    array_min allocates nothing) — and (b) the explode +
    groupBy(id)-with-N-min-aggregates alternative — ~1.6x faster warm,
    ~5x cold (the 32-aggregate codegen alone compiles for ~3 s), while
    also avoiding the shuffle.

    Empty-shingle docs keep an all-P31 sentinel signature (row count
    is preserved — this is a pure map).  The output carries a
    ``__nonempty`` boolean (size(tokens) >= k, equivalent to "has at
    least one shingle") computed at the token level: filtering on it
    costs one tokenize at the scan, whereas any predicate over
    ``shingles``/``minhash`` gets alias-substituted below the
    projection chain by predicate pushdown and re-evaluates the md5
    fold per row (measured 10x: 0.32 s vs 3.6 s at sf0.1).

    This is the only kernel: a numpy permutation pass over Arrow
    batches tied it at num_hashes=32 and could not carry the
    ``shingles`` column that stored-shingle verification reads
    (SCALING.md "One kernel per operator").
    """
    toked = _ensure_parallelism(df, min_parallelism).select(
        F.col(id_col), tokens(F.lower(F.col(text_col))).alias("__toks")
    )
    shingled = toked.select(
        F.col(id_col),
        _shingles_from_tokens("__toks", shingle_k).alias("shingles"),
        (F.size("__toks") >= shingle_k).alias("__nonempty"),
    )
    based = shingled.select(
        F.col(id_col),
        F.col("shingles"),
        F.col("__nonempty"),
        F.expr(
            "transform(shingles, s -> "
            "CAST(conv(substring(md5(s), 1, 7), 16, 10) AS BIGINT))"
        ).alias("__bases"),
    )
    coeffs = affine_coeffs(num_hashes, seed)
    # one F.expr over a generated SQL string: building N HOF trees
    # through the Column API costs ~0.9 s of py4j round-trips per plan
    # construction; one server-side parse costs milliseconds
    terms = ", ".join(
        f"coalesce(array_min(transform(__bases, h -> ({a}L * h + {b}L) % {P31}L)),"
        f" {P31}L)"
        for a, b in coeffs
    )
    sig = F.expr(f"array({terms})")
    return based.select(
        F.col(id_col), F.col("shingles"), F.col("__nonempty"), sig.alias("minhash")
    )


def _guard_bucket_size(
    grouped: DataFrame, list_col: str, max_bucket_size: int | None, on_oversize: str
) -> DataFrame:
    """Bound the per-bucket collect_list blowup: a degenerate bucket
    (e.g. 10^6 byte-identical docs slipping past exact dedup) would
    otherwise materialize one giant array row and expand O(m^2) structs
    in memory.  'error' fails the job with an actionable message (loud,
    the default); 'drop' excludes the bucket from candidate generation
    (documented recall loss on poisoned buckets only)."""
    if max_bucket_size is None:
        return grouped
    if on_oversize == "drop":
        return grouped.filter(F.size(list_col) <= max_bucket_size)
    if on_oversize == "error":
        return grouped.withColumn(
            list_col,
            F.when(F.size(list_col) <= max_bucket_size, F.col(list_col)).otherwise(
                F.raise_error(
                    F.format_string(
                        "LSH bucket exceeds max_bucket_size=%s (size=%s): run "
                        "exact_dedup_groups first or pass on_oversize='drop'",
                        F.lit(str(max_bucket_size)),
                        F.size(list_col).cast("string"),
                    )
                )
            ),
        )
    raise ValueError(f"on_oversize must be 'error' or 'drop', got '{on_oversize}'")


def _band_buckets(
    sig_df: DataFrame, id_col: str, bands: int, num_hashes: int
) -> DataFrame:
    """(id, band, bucket) rows from a minhash-signature frame.

    Empty-shingle exclusion happens here (candidate ids come from the
    banded side, so excluded docs never join verification): prefer the
    token-level ``__nonempty`` flag from minhash_signatures
    (pushdown-cheap, see its docstring); fall back to size(shingles)
    for externally-built signature frames.

    The bucket is an md5-derived 60-bit id so the oracle SQL can
    restate it (and 8 bytes ride the shuffle, not the concatenated
    signature string); generated as one SQL string — see the F.expr
    note in minhash_signatures (construction cost, not semantics)."""
    if bands < 1 or num_hashes % bands != 0:
        # silent truncation would quietly change the LSH S-curve the
        # caller tuned (bands=5 over 32 hashes uses only 30), and
        # bands > num_hashes generates unparseable empty concat_ws SQL
        raise ValueError(
            f"minhash LSH: bands ({bands}) must divide num_hashes "
            f"({num_hashes}) — rows_per_band is the S-curve parameter, "
            "not a rounding detail"
        )
    rows_per_band = num_hashes // bands
    if "__nonempty" in sig_df.columns:
        banded = sig_df.filter(F.col("__nonempty"))
    else:
        banded = sig_df.filter(F.size("shingles") > 0)

    def _bucket_sql(b: int) -> str:
        parts = ", ".join(
            f"CAST(minhash[{b * rows_per_band + r}] AS STRING)"
            for r in range(rows_per_band)
        )
        return (
            f"named_struct('band', {b}, 'bucket', "
            f"CAST(conv(substring(md5(concat_ws(',', {parts})), 1, 15), 16, 10)"
            f" AS BIGINT))"
        )

    arr = "array(" + ", ".join(_bucket_sql(b) for b in range(bands)) + ")"
    # inline() explodes the struct array straight into columns - one
    # DataFrame op instead of explode-select + field-access-select
    # (py4j construction cost; same rows, same values)
    return banded.selectExpr(f"`{id_col}`", "inline(" + arr + ")")


def _verify_shape_auto(
    verify_with: DataFrame, id_col: str, text_col: str
) -> str:
    """Pick the verification join shape from the corpus' size (guide
    §3.1: choose the strategy deliberately).  'broadcast' leaves the
    planner to broadcast the (id, text) side — optimal while the whole
    corpus text fits a broadcast cheaply, because the candidate frame
    then probes it with zero extra stages.  'semi' first reduces the
    corpus to candidate ids (semi-join) and computes shingles once per
    distinct candidate doc — three more stages, but the full corpus
    text never rides a broadcast build or a shuffle.

    The cutoff is autoBroadcastJoinThreshold/4 against the UNCOMPRESSED
    (id + text) bytes: what ships is decoded text (on-disk parquet
    understates it ~4-6x), and the flat extra-stage cost of 'semi' is
    only worth paying once the build cost clears it.  MEASURED
    (interleaved A/B, identical output rows): uncompressed text 1.5 MB
    (sf0.1) -> semi is 1.58x WORSE; 20 MB (sf1) -> semi 0.86x;
    113 MB (sf5) -> semi 0.75x.  64 MB threshold / 4 = 16 MB sits in
    the measured gap.

    Unknown sizes fail safe.  A file-backed corpus with no parquet
    footer estimate (ORC, CSV, JSON, unreadable footers) is sized by
    its on-disk bytes, and by nothing at all -> 'semi', the shape that
    cannot OOM.  Only a non-file frame (driver-built, small) keeps
    'broadcast' without an estimate."""
    from zeek_duckdb_spark.plans.scanstats import (
        estimated_scan_bytes,
        estimated_uncompressed_bytes,
    )
    from zeek_duckdb_spark.session import conf_bytes

    est = estimated_uncompressed_bytes(verify_with, [id_col, text_col])
    if est is None:
        try:
            files = verify_with.inputFiles()
        except Exception:
            return "semi"
        if not files:
            return "broadcast"
        est = estimated_scan_bytes(verify_with)
        if est is None:
            return "semi"
    try:
        thr = conf_bytes(verify_with.sparkSession,
                         "spark.sql.autoBroadcastJoinThreshold")
    except ValueError:
        thr = 64 << 20
    if thr <= 0:  # broadcast disabled -> never plan around one
        return "semi"
    return "semi" if est > thr // 4 else "broadcast"


def _attach_verify_shingles(
    cand: DataFrame,
    verify_with: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int,
    who: str,
):
    """Attach verification shingles to a candidate-pair frame —
    shared by :func:`minhash_lsh_pairs` and
    :func:`minhash_lsh_pairs_incremental`.  Returns
    ``(joined, a_sh, b_sh)`` where the shingle columns carry the loud
    per-row coverage guard.

    Two shapes (r17, guide §2.3/§3.1 + §8):

    - 'broadcast' (small corpora): stored text passes through the
      joins unevaluated; shingles compute per surviving pair side.
      LEFT joins + loud per-row guard — an inner join would silently
      DROP any candidate pair whose id is missing from verify_with (a
      quiet recall loss, not a filter).
    - 'semi' (big corpora): reduce the corpus to CANDIDATE ids first
      (semi-join), compute shingles ONCE per distinct candidate doc
      in a materialized column, then left-join the two pair sides.
      The broadcast shape puts the full (id, text) corpus on the
      build side of both verify joins — fine while genuinely small,
      but at scale it broadcasts (or shuffles) every document so a
      tiny candidate set can probe it, and the tokenize+shingle chain
      re-runs per PAIR SIDE (and per Filter/Project consumer — no CSE
      for interpreted expressions) instead of once per doc.  Coverage
      contract unchanged: _shingles(NULL text) is NULL and an absent
      id LEFT-joins to NULL, so the same per-row raise fires for
      both.

    Measured (interleaved A/B, identical output rows): semi is 1.58x
    WORSE at sf0.1 (stage floor dominates a 1.5 MB corpus), 0.86x at
    sf1, 0.75x at sf5 — hence the size-driven pick by
    :func:`_verify_shape_auto`, the only way the shape is chosen."""
    shape = _verify_shape_auto(verify_with, id_col, text_col)
    cov_err = (
        f"{who}: verify_with does not cover candidate id (absent or "
        "NULL text): "
    )
    src = verify_with.select(F.col(id_col), F.col(text_col).alias("__txt"))
    if shape == "semi":
        ids = (
            cand.select(F.col("id_a").alias(id_col))
            .union(cand.select(F.col("id_b")))
            .distinct()
        )
        need = src.join(ids, id_col, "leftsemi")
        shingled = need.select(
            F.col(id_col), _shingles(F.col("__txt"), shingle_k).alias("__sh")
        )
        sh_a = shingled.select(
            F.col(id_col).alias("id_a"), F.col("__sh").alias("__sh_a")
        )
        sh_b = shingled.select(
            F.col(id_col).alias("id_b"), F.col("__sh").alias("__sh_b")
        )
        joined = cand.join(sh_a, "id_a", "left").join(sh_b, "id_b", "left")
        a_sh = F.when(
            F.col("__sh_a").isNull(),
            F.raise_error(F.concat(F.lit(cov_err), F.col("id_a").cast("string"))),
        ).otherwise(F.col("__sh_a"))
        b_sh = F.when(
            F.col("__sh_b").isNull(),
            F.raise_error(F.concat(F.lit(cov_err), F.col("id_b").cast("string"))),
        ).otherwise(F.col("__sh_b"))
        return joined, a_sh, b_sh
    sh_a = src.select(
        F.col(id_col).alias("id_a"), F.col("__txt").alias("__txt_a")
    )
    sh_b = src.select(
        F.col(id_col).alias("id_b"), F.col("__txt").alias("__txt_b")
    )
    joined = cand.join(sh_a, "id_a", "left").join(sh_b, "id_b", "left")
    a_txt = F.when(
        F.col("__txt_a").isNull(),
        F.raise_error(F.concat(F.lit(cov_err), F.col("id_a").cast("string"))),
    ).otherwise(F.col("__txt_a"))
    b_txt = F.when(
        F.col("__txt_b").isNull(),
        F.raise_error(F.concat(F.lit(cov_err), F.col("id_b").cast("string"))),
    ).otherwise(F.col("__txt_b"))
    return joined, _shingles(a_txt, shingle_k), _shingles(b_txt, shingle_k)


def minhash_lsh_pairs(
    sig_df: DataFrame,
    id_col: str = "doc_id",
    bands: int = 8,
    threshold: float = 0.7,
    num_hashes: int = 32,
    max_bucket_size: int | None = 100_000,
    on_oversize: str = "error",
    verify_with: DataFrame | None = None,
    text_col: str = "text",
    shingle_k: int = 3,
) -> DataFrame:
    """Banded LSH candidate generation + exact-Jaccard verification.

    Scale shape (what keeps this sane at 100 TB):
    - docs with ZERO shingles (shorter than the shingle width) are
      excluded from banding up front: they all share the sentinel
      signature, so they'd otherwise collide into one mega-bucket in
      every band and verify with union=0 (a divide-by-zero under ANSI
      mode).  "No shingles" means "no evidence of similarity";
    - the band-bucket explode carries ONLY (id, band, bucket) — the
      shingle arrays stay out of the wide shuffle;
    - candidates come from ONE groupBy(band, bucket) + per-bucket pair
      expansion, not a bucket self-join: one shuffle of 12-byte rows
      replaces two shuffle reads of the same subplan plus a join
      (measured ~1.7x on the full pipeline at sf0.1, same rows);
    - candidate pairs are deduped across bands *before* verification,
      so each pair pays the set-intersection cost exactly once;
    - verification re-joins the (id -> shingles) side twice, keyed on
      id — small corpora broadcast (AQE), big ones shuffle-join; no
      shingle array ever rides an exploded row.  Pass ``verify_with``
      (the original docs DataFrame with a stored ``text_col``) to
      compute verification shingles ONLY for rows that survive the
      candidate join — the stored text passes through the join
      untouched and the tokenize+md5 pipeline runs per candidate, not
      corpus-wide on both join sides.  PASS IT: without it the
      sig-frame path re-derives the whole tokenize+shingle+md5 chain
      over the corpus on each verify side (3x total with the bucket
      pass — HOF projections have no cross-consumer reuse), and the
      r10 measurement has it winning at EVERY tier (0.69 s vs 1.00 s
      at sf0.1, 8.0 s vs 20.0 s at sf~5, identical rows; an earlier
      5k-doc measurement that favored the default by 0.3 s no longer
      reproduces).  The default stays ``None`` only because the
      signature frame doesn't carry the text column to re-derive
      from.  ``verify_with`` must COVER every candidate id with
      non-NULL text — an under-covering frame raises per-row instead
      of silently shrinking the pair set (the same loud-failure
      contract as ``minhash_lsh_pairs_incremental``).
      The corpus' UNCOMPRESSED text size against the broadcast
      budget picks how the text attaches: 'broadcast' (small corpora
      — the planner broadcasts the (id, text) side) or 'semi' (big
      corpora — semi-join the corpus down to candidate ids and
      compute shingles once per distinct candidate doc; the corpus
      text never rides a broadcast build).  See
      :func:`_verify_shape_auto` for the measured crossover.  Output
      rows are identical across shapes (pinned).
    - empty-shingle docs are excluded via the signature sentinel
      (``minhash[0] == 2^31-1``, unreachable for any real shingle since
      the fold is mod 2^31-1), not by re-deriving shingles.

    A degenerate hot bucket (a million byte-identical docs) would
    materialize one giant collect_list row and expand quadratically.
    ``max_bucket_size`` bounds that failure mode LOUDLY: a bucket
    exceeding it raises (``on_oversize='error'``, the default — a
    poisoned corpus fails with a message naming the fix, not an
    executor OOM) or is dropped from candidate generation
    (``on_oversize='drop'``, for corpora where oversized buckets are
    known exact-dup clusters already handled by exact_dedup_groups).

    Output: (id_a, id_b, jaccard) with jaccard >= threshold, id_a < id_b.
    """
    buckets = _band_buckets(sig_df, id_col, bands, num_hashes)
    grouped = (
        buckets.groupBy("band", "bucket")
        .agg(F.collect_list(id_col).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    grouped = _guard_bucket_size(grouped, "ids", max_bucket_size, on_oversize)
    # materialize the sort in its own projection: referencing an
    # array_sort(...) EXPRESSION inside the pair-expansion lambda would
    # re-sort per outer element (interpreted HOFs have no CSE) —
    # O(m² log m) per bucket instead of O(m log m)
    grouped = grouped.withColumn("ids", F.array_sort("ids"))
    pair_sql = (
        "flatten(transform(ids, (x, i) -> "
        f"transform(slice(ids, i + 2, {1 << 30}), "
        "y -> named_struct('id_a', x, 'id_b', y))))"
    )
    # inline() again: one op for explode + struct flatten
    cand = grouped.selectExpr("inline(" + pair_sql + ")").dropDuplicates(
        ["id_a", "id_b"]
    )
    if verify_with is not None:
        joined, a_sh, b_sh = _attach_verify_shingles(
            cand, verify_with, id_col, text_col, shingle_k,
            "minhash_lsh_pairs",
        )
    else:
        if "shingles" not in sig_df.columns:
            raise ValueError(
                "minhash_lsh_pairs: this signature frame carries no "
                "shingles column — pass verify_with=<docs DataFrame> so "
                "verification shingles compute per candidate"
            )
        sh = sig_df.select(F.col(id_col), F.col("shingles"))
        sh_a = sh.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a"))
        sh_b = sh.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b"))
        joined = cand.join(sh_a, "id_a").join(sh_b, "id_b")
        a_sh = F.col("sh_a")
        b_sh = F.col("sh_b")
    inter = F.size(F.array_intersect(a_sh, b_sh)).cast("double")
    union = F.size(F.array_union(a_sh, b_sh)).cast("double")
    return (
        joined
        .select("id_a", "id_b", F.round(inter / union, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def write_band_index(
    sig_df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    bands: int = 8,
    num_hashes: int = 32,
    pfx_mod: int = 64,
    mode: str = "append",
) -> None:
    """Land a MATERIALIZED banded index — (id, band, bucket) rows,
    partitioned by (band, pfx = bucket % pfx_mod) — the daily-probe
    layout for :func:`minhash_lsh_pairs_incremental`.

    Why it exists: probing a flat signature index re-scans the WIDE
    signature rows (minhash + shingles arrays) and recomputes the md5
    band buckets for the entire standing corpus on every batch.  The
    banded landing pays that once at append time; the daily probe then
    scans three narrow columns, and the partition layout prunes it:

    - ``band``/``pfx`` are directory keys, so a probe filtered to the
      batch's touched (band, pfx) set (:func:`touched_band_partitions`
      + :func:`load_band_index`) reads ONLY those directories —
      buckets are uniform hashes, so a SMALL probe (streaming lookups,
      "which docs collide with THESE") touches few of the
      bands x pfx_mod partitions; a large daily batch saturates them
      and degrades gracefully to the narrow full scan, which is the
      right plan at that size anyway;
    - ``mode='append'`` is the growth shape: each day's surviving
      signatures append their banded rows into the same directories —
      no rewrite of the standing index, the serving layout the
      incremental family (ivf_append, phash_pairs_incremental) uses.

    Parameters must match the probing call — (bands, num_hashes) ARE
    the index format, exactly like the signature parameters.
    ``pfx_mod`` bounds the directory count at bands x pfx_mod
    (default 8 x 64 = 512 — small enough for cheap listings, large
    enough that a single-bucket probe reads ~1/512th of the index)."""
    if pfx_mod < 1:
        raise ValueError("write_band_index: pfx_mod must be >= 1")
    bb = _band_buckets(sig_df, id_col, bands, num_hashes)
    (
        bb.withColumn("pfx", F.pmod(F.col("bucket"), F.lit(pfx_mod)))
        # co-locate each (band, pfx) into one task before partitionBy:
        # without it every task writes into every directory
        # (tasks x bands x pfx_mod tiny files — the write was measured
        # 8x slower); with it each directory gets exactly one file per
        # append.  The shuffle is of narrow 3-column rows, paid once
        # at ingest.
        .repartition(F.col("band"), F.col("pfx"))
        .write.mode(mode)
        .partitionBy("band", "pfx")
        .parquet(path)
    )


def compact_band_index(
    spark, path: str, target_file_bytes: int = 128 << 20
) -> dict:
    """Small-file maintenance for a :func:`write_band_index` landing —
    the standing job of the ``mode='append'`` growth shape: every
    daily append adds one file per touched (band, pfx) directory, so
    after a year of appends each pruned probe pays ~365 file opens
    per directory it reads, metadata-bound long before IO-bound.

    Delegates to ``sources.sink.compact_landing`` with the nested
    ``band=*/pfx=*`` layout preserved (per-partition file targets, the
    atomic RENAME_EXCHANGE swap): :func:`load_band_index` pruning and
    :func:`touched_band_partitions` are unchanged, and subsequent
    appends keep landing into the same directories — run it on
    whatever cadence keeps files-per-directory small (weekly for a
    daily-append loop).  Returns compact_landing's stats dict."""
    from zeek_duckdb_spark.sources.sink import compact_landing

    return compact_landing(
        spark, path, target_file_bytes, partition_col=["band", "pfx"]
    )


def touched_band_partitions(
    banded_new: DataFrame, pfx_mod: int = 64
) -> list[tuple[int, int]]:
    """The (band, pfx) partitions a new batch's banded rows touch —
    driver-sized by construction (<= bands x pfx_mod entries), the
    literal pruning predicate :func:`load_band_index` needs."""
    return sorted(
        (int(r["band"]), int(r["pfx"]))
        for r in banded_new.select(
            "band", F.pmod(F.col("bucket"), F.lit(pfx_mod)).alias("pfx")
        )
        .distinct()
        .collect()
    )


def load_band_index(
    spark, path: str, touched: list[tuple[int, int]] | None = None
) -> DataFrame:
    """Read a :func:`write_band_index` landing, PARTITION-PRUNED to
    ``touched`` (band, pfx) pairs when given — the predicate is a
    literal OR over directory-key equalities, so Catalyst resolves it
    against the file index at planning time and untouched directories
    are never listed into the scan (pinned by
    tests/test_dedup_ops.py::test_band_index_probe_prunes_partitions).
    ``touched=None`` reads everything (the full-probe fallback)."""
    return _load_pruned(spark, path, "band", touched)


def _load_pruned(
    spark, path: str, major_key: str, touched: list[tuple[int, int]] | None
) -> DataFrame:
    """Shared partition-pruned read for the banded (band, pfx) and
    chunked (blk, pfx) index landings: a literal OR-of-isin predicate
    over the two directory keys, resolved against the file index at
    planning time."""
    df = spark.read.parquet(path)
    if touched is not None:
        if not touched:
            return df.filter(F.lit(False)).drop("pfx")
        # group by the major key so the predicate is <= |majors|
        # OR-terms of flat isin lists (a per-pair OR chain nests one
        # level per pair — a saturated probe's ~majors x pfx_mod terms
        # overflow the analyzer's recursion, and InSet evaluates
        # faster anyway)
        by_major: dict[int, list[int]] = {}
        for major, pfx in touched:
            by_major.setdefault(int(major), []).append(int(pfx))
        pred = None
        for major, pfxs in sorted(by_major.items()):
            term = (F.col(major_key) == major) & F.col("pfx").isin(
                sorted(set(pfxs))
            )
            pred = term if pred is None else (pred | term)
        df = df.filter(pred)
    return df.drop("pfx")


def minhash_lsh_pairs_incremental(
    new_sigs: DataFrame,
    index_sigs: DataFrame,
    id_col: str = "doc_id",
    bands: int = 8,
    threshold: float = 0.7,
    num_hashes: int = 32,
    max_bucket_size: int | None = 100_000,
    on_oversize: str = "error",
    include_new_pairs: bool = True,
    index_banded: DataFrame | None = None,
    verify_with: DataFrame | None = None,
    text_col: str = "text",
    shingle_k: int = 3,
) -> DataFrame:
    """Near-dup pairs for an INCREMENTAL ingest: a new batch of
    signatures against a persisted corpus index, without re-pairing
    the index against itself.

    ``verify_with`` (a docs DataFrame covering BOTH sides' ids with a
    stored ``text_col``) computes verification shingles per candidate
    exactly like :func:`minhash_lsh_pairs` — and it is the ONLY
    verification path for signature frames that carry no shingles
    column (e.g. an index landed without them).  Coverage is
    ENFORCED: a candidate id that ``verify_with`` is missing (or
    carries with a NULL text) raises at execution time instead of
    silently shrinking the pair set — under-coverage is a recall bug,
    not a filter.

    The daily-crawl shape: the corpus index (minhash_signatures output
    landed as parquet) holds N docs already deduped among themselves;
    today's batch holds n ≪ N new docs.  Re-running the full pairwise
    pass re-verifies O(N) index-index candidates whose verdicts cannot
    have changed.  This pass emits only pairs touching the new batch:
    new-new (``include_new_pairs``, on by default) and new-index.

    Scale shape (what makes this cheaper than a full re-pass at 100 TB):
    - the index never shuffles wholesale — its (id, band, bucket) rows
      are SEMI-JOINED against the new batch's touched buckets first,
      so only index entries that could collide with a new doc ride the
      groupBy exchange (AQE broadcasts the touched-bucket set when the
      batch is small, its usual case).  Pass ``index_banded`` (a
      :func:`write_band_index` landing, loaded partition-pruned via
      :func:`load_band_index`) to skip re-deriving the index's band
      buckets entirely — the wide minhash/shingle arrays then never
      scan for candidate generation, only the three narrow banded
      columns do (``index_sigs`` is still required: verification
      joins its shingles by candidate id);
    - each surviving bucket expands pairs with an (is_new) tag and
      keeps only pairs where at least one side is new — index-index
      pairs are never materialized, not merely filtered late (the
      transform lambda skips them during expansion);
    - verification joins shingles from both frames by candidate id
      only, exactly like :func:`minhash_lsh_pairs`.

    Contract: ``new_sigs`` and ``index_sigs`` carry disjoint id sets
    (an id appearing in both describes the same doc twice and would
    pair with itself; strict ``id_a < id_b`` drops such self-pairs).
    Both frames must come from :func:`minhash_signatures` with the
    same (num_hashes, shingle_k, seed) — mixed parameters make
    signatures incomparable garbage.

    Output: (id_a, id_b, jaccard) with jaccard >= threshold,
    id_a < id_b, at least one side from ``new_sigs``.
    """
    nb = _band_buckets(new_sigs, id_col, bands, num_hashes)
    ib = (
        index_banded
        if index_banded is not None
        else _band_buckets(index_sigs, id_col, bands, num_hashes)
    )
    touched = nb.select("band", "bucket").distinct()
    ib_touched = ib.join(touched, ["band", "bucket"], "left_semi")
    tagged = nb.withColumn("is_new", F.lit(True)).unionByName(
        ib_touched.withColumn("is_new", F.lit(False))
    )
    grouped = (
        tagged.groupBy("band", "bucket")
        .agg(
            F.collect_list(F.struct(F.col(id_col).alias("id"), "is_new")).alias(
                "ids"
            )
        )
        .filter(F.size("ids") > 1)
    )
    grouped = _guard_bucket_size(grouped, "ids", max_bucket_size, on_oversize)
    # sort by (id, is_new) so expansion is deterministic and id_a < id_b
    # by construction; materialized in its own projection (see the
    # re-sort note in minhash_lsh_pairs)
    grouped = grouped.withColumn("ids", F.array_sort("ids"))
    # pair predicate INSIDE the expansion lambda: index-index pairs are
    # skipped during generation, not filtered after
    keep = (
        "x.is_new OR y.is_new" if include_new_pairs else "x.is_new != y.is_new"
    )
    pair_arr = F.expr(
        "flatten(transform(ids, (x, i) -> "
        f"filter(transform(slice(ids, i + 2, {1 << 30}), "
        "y -> named_struct('id_a', x.id, 'id_b', y.id, "
        f"'keep', ({keep}) AND x.id < y.id)), p -> p.keep)))"
    )
    cand = (
        grouped.select(F.explode(pair_arr).alias("p"))
        .select("p.id_a", "p.id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    if verify_with is not None:
        # shape-adaptive attachment shared with minhash_lsh_pairs
        # (r17): see _attach_verify_shingles — LEFT joins + the loud
        # per-row coverage guard on both shapes; zero extra jobs, the
        # check is a row-level raise inside the projection itself.
        joined, a_sh, b_sh = _attach_verify_shingles(
            cand, verify_with, id_col, text_col, shingle_k,
            "minhash_lsh_pairs_incremental",
        )
    else:
        for side, frame in (("new_sigs", new_sigs), ("index_sigs", index_sigs)):
            if "shingles" not in frame.columns:
                raise ValueError(
                    f"minhash_lsh_pairs_incremental: {side} carries no "
                    "shingles column — pass verify_with=<docs DataFrame "
                    "covering both sides> so verification shingles "
                    "compute per candidate"
                )
        sh = new_sigs.select(F.col(id_col), F.col("shingles")).unionByName(
            index_sigs.select(F.col(id_col), F.col("shingles"))
        )
        sh_a = sh.select(
            F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a")
        )
        sh_b = sh.select(
            F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b")
        )
        joined = cand.join(sh_a, "id_a").join(sh_b, "id_b")
        a_sh = F.col("sh_a")
        b_sh = F.col("sh_b")
    inter = F.size(F.array_intersect(a_sh, b_sh)).cast("double")
    union = F.size(F.array_union(a_sh, b_sh)).cast("double")
    return (
        joined.select(
            "id_a", "id_b", F.round(inter / union, 6).alias("jaccard")
        ).filter(F.col("jaccard") >= threshold)
    )


def simhash(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 60
) -> DataFrame:
    """SimHash per document — see :func:`simhash_col` for the
    construction; this is the DataFrame-level wrapper."""
    return df.select(F.col(id_col), simhash_col(F.col(text_col), bits).alias("simhash"))


def simhash_col(text: Column, bits: int = 60) -> Column:
    """SimHash as a column expression (``bits`` <= 60): bit j of the
    result is the sign of the sum over tokens of ±1 contributions from
    bit j of the token's 60-bit md5-derived hash.

    Shape: per-row fold, ZERO shuffle (same reasoning as
    minhash_signatures — the explode + ``bits`` conditional-SUM
    aggregates alternative measured 3.6x slower warm and 4.4x slower
    cold at sf0.1, the 60-agg codegen compile alone costing ~5 s).
    One md5 per token; bit j is tested as ``h % 2^(j+1) >= 2^j`` —
    exact int64 arithmetic restatable verbatim in the DuckDB oracle.
    60 bits (15 md5 hex chars) rather than 64 so the hash is a
    non-negative int64 both engines construct identically — no
    signed-overflow edge.

    Zero-token docs keep a row with simhash = 0 (pure map).
    """
    if not 0 < bits <= 60:
        raise ValueError("simhash bits must be in 1..60")
    toks = tokens(F.lower(text))
    hashes = F.transform(toks, lambda t: md5_long(t))
    powers = F.array(*[F.lit(1 << j).cast("long") for j in range(bits)])
    sums = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0).cast("long"), bits),
        lambda acc, h: F.zip_with(
            acc,
            powers,
            lambda a, p: a
            + F.when(h % (p * 2) >= p, F.lit(1).cast("long")).otherwise(
                F.lit(-1).cast("long")
            ),
        ),
    )
    return F.aggregate(
        F.zip_with(
            sums, powers, lambda s, p: F.when(s > 0, p).otherwise(F.lit(0).cast("long"))
        ),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )


def simhash_pairs(
    sim_df: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    blocks: int = 4,
    bits: int = 60,
    max_bucket_size: int | None = 100_000,
    on_oversize: str = "error",
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, using the standard
    block-permutation trick: split the ``bits``-wide hash into
    ``blocks`` chunks; any pair within ``max_hamming < blocks`` must
    agree on at least one chunk, so bucket by chunk instead of O(n²).
    ``max_hamming >= blocks`` is allowed as BEST-EFFORT candidate
    generation (the pigeonhole completeness guarantee no longer holds;
    pairs differing in every chunk are silently missed) — raise
    ``blocks`` if you need the guarantee at a larger radius.

    Candidates via groupBy(blk, chunk) + per-bucket pair expansion
    (one 20-byte-row shuffle) rather than a bucket self-join — same
    restructure as minhash_lsh_pairs; the 8-byte simhash rides the
    shuffle so Hamming distance is computed in the expansion, no
    re-join needed.  ``max_bucket_size``/``on_oversize`` bound the
    degenerate-bucket blowup exactly as in minhash_lsh_pairs."""
    _simhash_geometry(blocks, bits, max_hamming)
    e = _simhash_chunks(sim_df, id_col, blocks, bits)
    grouped = (
        e.groupBy("blk", "chunk")
        .agg(
            F.collect_list(
                F.struct(F.col(id_col).alias("id"), F.col("simhash").alias("sh"))
            ).alias("members")
        )
        .filter(F.size("members") > 1)
    )
    grouped = _guard_bucket_size(grouped, "members", max_bucket_size, on_oversize)
    # struct sort: by id first (ids unique); materialized projection for
    # the same no-CSE reason as minhash_lsh_pairs
    grouped = grouped.withColumn("members", F.array_sort("members"))
    pair_arr = F.expr(
        "flatten(transform(members, (x, i) -> "
        f"transform(slice(members, i + 2, {1 << 30}), "
        "y -> named_struct('id_a', x.id, 'id_b', y.id, "
        "'hamming', bit_count(x.sh ^ y.sh)))))"
    )
    return (
        grouped.select(F.explode(pair_arr).alias("p"))
        .select("p.id_a", "p.id_b", "p.hamming")
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


def exact_dedup_incremental(
    new_df: DataFrame,
    index_fps: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    key: Column | None = None,
) -> DataFrame:
    """Exact dedup of a NEW batch against a persisted fingerprint
    index — the first stage of the daily-crawl ingest (before
    :func:`minhash_lsh_pairs_incremental` /
    :func:`simhash_pairs_incremental` handle the fuzzy tail).

    ``index_fps`` carries one ``fp`` column: the standing corpus's
    distinct content fingerprints (e.g.
    ``df.select(fingerprint(F.col('text')).alias('fp')).distinct()``
    landed as parquet — 8-byte-ish rows, the cheap thing to keep).
    Returns the surviving new rows with all input columns plus their
    ``fp`` (append these fps to the index to close the loop).

    Two keyed steps, no corpus re-scan: within-batch dedup (one
    fingerprint hash-aggregate + semi join, min id wins — the
    clean_corpus pass on the batch alone) then one LEFT ANTI join
    against the index on ``fp`` — the standing corpus contributes
    nothing but its fingerprint column.  Land the index bucketed on
    ``fp`` (sink.write_bucketed) to make the anti join exchange-free
    on the index side.

    Rows whose fingerprint is NULL (NULL text) are un-fingerprintable:
    they cannot be deduped, so they PASS THROUGH as survivors (with
    fp = NULL) rather than silently vanishing in the equi-joins —
    drop or gate them upstream if NULL text is junk in your corpus."""
    k = key if key is not None else fingerprint(F.col(text_col))
    with_fp = new_df.withColumn("fp", k)
    fingerprinted = with_fp.filter(F.col("fp").isNotNull())
    keepers = fingerprinted.groupBy("fp").agg(F.min(id_col).alias(id_col))
    batch_deduped = fingerprinted.join(keepers, [id_col, "fp"], "left_semi")
    survivors = batch_deduped.join(
        index_fps.select("fp").filter(F.col("fp").isNotNull()),
        "fp",
        "left_anti",
    )
    return survivors.unionByName(with_fp.filter(F.col("fp").isNull()))


def _simhash_geometry(
    blocks: int, bits: int, max_hamming: int | None = None
) -> None:
    """Validate the block-permutation parameters.  HARD error only for
    geometry that breaks the bucketing itself: blocks > bits gives
    zero-width chunks (mask 0 — every doc lands in one corpus-sized
    mega-bucket).  ``max_hamming >= blocks`` is deliberately ALLOWED:
    the pigeonhole guarantee ("any pair within max_hamming shares a
    chunk") only holds below blocks, but the family is also used as a
    best-effort candidate generator past it (near-dup pairs usually
    agree on far more than one chunk), and several pipeline defaults
    (phash max_hamming=6 over blocks=4) rely on that mode — the
    docstrings state the recall contract instead."""
    del max_hamming  # documented-best-effort above the pigeonhole bound
    if blocks < 1 or blocks > bits:
        raise ValueError(
            f"simhash: blocks must be in [1, bits] (got blocks={blocks}, "
            f"bits={bits}) — blocks > bits makes zero-width chunks"
        )


def _simhash_chunks(
    sim_df: DataFrame, id_col: str, blocks: int, bits: int
) -> DataFrame:
    """(id, simhash, blk, chunk) block-permutation rows — shared by the
    full and incremental SimHash pair generators.  NULL-simhash rows
    (NULL text) are EXCLUDED: they can never form a pair (NULL
    hamming filters out) but would otherwise flood one (blk, NULL)
    bucket per block and trip the bucket-size guard on crawl corpora
    with many empty docs."""
    _simhash_geometry(blocks, bits)
    sim_df = sim_df.filter(F.col("simhash").isNotNull())
    width = bits // blocks
    mask = (1 << width) - 1
    chunk_cols = F.array(
        *[
            F.struct(
                F.lit(i).alias("blk"),
                F.shiftright(F.col("simhash"), i * width)
                .bitwiseAND(F.lit(mask))
                .alias("chunk"),
            )
            for i in range(blocks)
        ]
    )
    return sim_df.select(
        id_col, "simhash", F.explode(chunk_cols).alias("c")
    ).select(id_col, "simhash", "c.blk", "c.chunk")


def write_chunk_index(
    sim_df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    blocks: int = 4,
    bits: int = 60,
    pfx_mod: int = 64,
    mode: str = "append",
) -> None:
    """Land a MATERIALIZED block-permutation index for the SimHash
    family — (id, simhash, blk, chunk) rows partitioned by
    (blk, pfx = chunk % pfx_mod) — the daily-probe layout for
    :func:`simhash_pairs_incremental` (and, via the phash delegation,
    ``multimodal.phash_pairs_incremental``).

    The :func:`write_band_index` rationale applied to this family:
    a flat (id, simhash) index makes every daily probe re-derive all
    blocks x N chunk rows AND scan the whole index for the
    touched-bucket semi-join; the chunked landing pays the derivation
    once at append time, and the (blk, pfx) directory keys let a
    small probe read only its touched directories
    (:func:`touched_chunk_partitions` + :func:`load_chunk_index`).
    Unlike the minhash banding, the rows carry the 8-byte ``simhash``
    — Hamming distance rides the pair expansion, so the incremental
    pass never needs the flat index at all.

    HONEST SIZING NOTE (measured, SCALING.md r9): unlike the minhash
    banding — which wins at the 2M-doc tier because the flat probe
    re-scans WIDE signature arrays — the flat simhash index is
    already minimal (id + one int64, ~30 MB at 2M docs), so at
    single-node tiers a full cached scan beats any pruned read of
    this 4x-row landing (flat 4.1 s vs chunked 5.2 s at 2M docs /
    1k batch; finer pfx_mod makes it worse — directory overhead).
    The landing's value begins where the index's BYTES dwarf
    per-directory costs: at 10^10-10^11 docs the flat probe's full
    per-batch scan is ~0.1-1.6 TB while the touched-partition read
    stays batch-proportional.  Below that tier, probe the flat index.

    ``(blocks, bits)`` ARE the index format and must match the
    probing call; ``pfx_mod`` bounds the directory count at
    blocks x pfx_mod (default 4 x 64 = 256).  ``mode='append'`` is
    the daily growth shape — each day's surviving hashes append into
    the same directories, no rewrite of the standing index."""
    if pfx_mod < 1:
        raise ValueError("write_chunk_index: pfx_mod must be >= 1")
    ch = _simhash_chunks(sim_df, id_col, blocks, bits)
    (
        ch.withColumn("pfx", F.pmod(F.col("chunk"), F.lit(pfx_mod)))
        # co-locate each (blk, pfx) into one task before partitionBy —
        # same 8x file-spray trap as write_band_index
        .repartition(F.col("blk"), F.col("pfx"))
        .write.mode(mode)
        .partitionBy("blk", "pfx")
        .parquet(path)
    )


def compact_chunk_index(
    spark, path: str, target_file_bytes: int = 128 << 20
) -> dict:
    """:func:`compact_band_index` for the :func:`write_chunk_index`
    family (and, via the phash delegation, ``write_phash_index``
    landings): preserves the ``blk=*/pfx=*`` layout, leaves pruning
    and subsequent appends untouched."""
    from zeek_duckdb_spark.sources.sink import compact_landing

    return compact_landing(
        spark, path, target_file_bytes, partition_col=["blk", "pfx"]
    )


def touched_chunk_partitions(
    chunks_new: DataFrame, pfx_mod: int = 64
) -> list[tuple[int, int]]:
    """The (blk, pfx) partitions a new batch's chunk rows touch —
    driver-sized (<= blocks x pfx_mod), the pruning predicate
    :func:`load_chunk_index` needs.  ``chunks_new`` is
    ``_simhash_chunks(new_sims, ...)`` output."""
    return sorted(
        (int(r["blk"]), int(r["pfx"]))
        for r in chunks_new.select(
            "blk", F.pmod(F.col("chunk"), F.lit(pfx_mod)).alias("pfx")
        )
        .distinct()
        .collect()
    )


def load_chunk_index(
    spark, path: str, touched: list[tuple[int, int]] | None = None
) -> DataFrame:
    """Read a :func:`write_chunk_index` landing, PARTITION-PRUNED to
    ``touched`` (blk, pfx) pairs when given (same literal
    directory-key predicate as :func:`load_band_index`;
    ``touched=None`` reads everything)."""
    return _load_pruned(spark, path, "blk", touched)


def simhash_pairs_incremental(
    new_sims: DataFrame,
    index_sims: DataFrame | None,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    blocks: int = 4,
    bits: int = 60,
    max_bucket_size: int | None = 100_000,
    on_oversize: str = "error",
    include_new_pairs: bool = True,
    index_chunked: DataFrame | None = None,
) -> DataFrame:
    """SimHash near-dup pairs for an INCREMENTAL ingest — the
    :func:`minhash_lsh_pairs_incremental` shape applied to the
    block-permutation family: a new batch of (id, simhash) rows pairs
    against a persisted corpus index without re-pairing the index
    against itself.  Because :func:`multimodal.phash_pairs` delegates
    here, this is also the daily-crawl path for IMAGE near-dedup
    (see ``multimodal.phash_pairs_incremental``).

    Scale shape: the index's chunk rows are semi-joined against the
    new batch's touched (blk, chunk) buckets before any groupBy — the
    standing index never shuffles wholesale (AQE broadcasts the
    touched-bucket set when the batch is small, its usual case;
    persist the index bucketed by (blk, chunk) to make the scan
    partition-prunable); index-index pairs are skipped during the
    per-bucket expansion, never materialized; Hamming distance rides
    the expansion like the full pass, no re-join.

    Contract: disjoint id sets, same (bits) on both frames.  Output:
    (id_a, id_b, hamming) with hamming <= max_hamming, id_a < id_b,
    at least one side new (``include_new_pairs=False`` restricts to
    new-index pairs only — e.g. when the new batch was already
    deduped among itself).

    ``index_chunked`` (a :func:`write_chunk_index` landing, loaded
    partition-pruned via :func:`load_chunk_index`) replaces
    ``index_sims`` entirely: the chunk rows already carry the simhash,
    so the flat index never scans and ``index_sims`` may be None —
    the derivation is paid once at append time, the probe reads only
    the touched (blk, pfx) directories."""
    if index_chunked is None and index_sims is None:
        raise ValueError(
            "simhash_pairs_incremental: provide index_sims or "
            "index_chunked"
        )
    _simhash_geometry(blocks, bits, max_hamming)
    nb = _simhash_chunks(new_sims, id_col, blocks, bits)
    ib = (
        index_chunked
        if index_chunked is not None
        else _simhash_chunks(index_sims, id_col, blocks, bits)
    )
    touched = nb.select("blk", "chunk").distinct()
    ib_touched = ib.join(touched, ["blk", "chunk"], "left_semi")
    tagged = nb.withColumn("is_new", F.lit(True)).unionByName(
        ib_touched.withColumn("is_new", F.lit(False))
    )
    grouped = (
        tagged.groupBy("blk", "chunk")
        .agg(
            F.collect_list(
                F.struct(
                    F.col(id_col).alias("id"),
                    F.col("simhash").alias("sh"),
                    "is_new",
                )
            ).alias("members")
        )
        .filter(F.size("members") > 1)
    )
    grouped = _guard_bucket_size(grouped, "members", max_bucket_size, on_oversize)
    grouped = grouped.withColumn("members", F.array_sort("members"))
    keep = (
        "x.is_new OR y.is_new" if include_new_pairs else "x.is_new != y.is_new"
    )
    pair_arr = F.expr(
        "flatten(transform(members, (x, i) -> "
        f"filter(transform(slice(members, i + 2, {1 << 30}), "
        "y -> named_struct('id_a', x.id, 'id_b', y.id, "
        "'hamming', bit_count(x.sh ^ y.sh), "
        f"'keep', ({keep}) AND x.id < y.id)), p -> p.keep)))"
    )
    return (
        grouped.select(F.explode(pair_arr).alias("p"))
        .select("p.id_a", "p.id_b", "p.hamming")
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


DEFAULT_MAX_TOKEN_FREQ = 1000


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 1,
    threshold: float = 0.8,
    max_token_freq: int | None = None,
    exact: bool = False,
) -> DataFrame:
    """n-gram Jaccard similarity pairs via an inverted-index join
    (token -> posting list), the shuffle-bounded plan:
    |pairs sharing a token| rows move, never |docs|².

    Skew-safe BY DEFAULT: tokens appearing in more than
    ``max_token_freq`` docs (default 1000) are dropped before the
    self-join — one stop-shingle shared by 10^6 docs would otherwise
    emit 10^12 candidate rows on a single reducer key.  Jaccard is then
    computed over the capped token space (consistent on both sides of
    the ratio).  Pass ``exact=True`` for the uncapped exact result
    (verification / small corpora); an explicit ``max_token_freq``
    overrides the default cap.
    """
    if max_token_freq is None and not exact:
        max_token_freq = DEFAULT_MAX_TOKEN_FREQ
    d = df.select(
        F.col(id_col).alias("id"),
        # _shingles already ends in array_distinct — no second pass
        F.explode(_shingles(F.col(text_col), n)).alias("tok"),
    )
    if max_token_freq is not None:
        # anti-join against the HOT tokens (tiny set — broadcastable at
        # any scale) rather than semi-join against all surviving tokens
        # (which would broadcast nearly the whole vocabulary)
        hot = d.groupBy("tok").count().filter(F.col("count") > max_token_freq)
        d = d.join(F.broadcast(hot.select("tok")), "tok", "left_anti")
    sizes = d.groupBy("id").agg(F.count("*").alias("n_tok"))
    a, b = d.alias("a"), d.alias("b")
    common = (
        a.join(b, (F.col("a.tok") == F.col("b.tok")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("common"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_tok").alias("na"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_tok").alias("nb"))
    jac = F.col("common") / (F.col("na") + F.col("nb") - F.col("common"))
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
    mode: str = "drop",
) -> DataFrame:
    """Benchmark decontamination: find corpus documents sharing any
    word ``n``-gram with a benchmark/eval set and drop (or flag) them —
    the standard 13-gram-collision test-set-leakage filter an LLM
    training pipeline runs before training.

    Scale shape: the benchmark's distinct n-grams are a SMALL set (eval
    suites are MBs, the corpus is TBs), so the collision check is an
    exploded-corpus-shingles ⋈ broadcast(benchmark-shingles) semi-join
    — the corpus never shuffles, each row only explodes and probes a
    broadcast hash table; contaminated ids (tiny) then broadcast back
    as an anti-join (``drop``) or left-semi flag (``flag``).  No step
    moves corpus-sized data across the network.

    Documents shorter than ``n`` tokens have no n-grams and can never
    collide (standard for this filter — lower ``n`` to tighten).

    ``mode``: ``"drop"`` returns the clean corpus (original columns);
    ``"flag"`` returns the full corpus plus a boolean ``contaminated``.
    """
    if mode not in ("drop", "flag"):
        raise ValueError(f"unknown mode {mode!r} (want 'drop' or 'flag')")
    bench_grams = benchmark.select(
        F.explode(_shingles(F.col(text_col), n)).alias("gram")
    ).distinct()
    corpus_grams = corpus.select(
        F.col(id_col),
        F.explode(_shingles(F.col(text_col), n)).alias("gram"),
    )
    contaminated = (
        corpus_grams.join(F.broadcast(bench_grams), "gram", "left_semi")
        .select(id_col)
        .distinct()
    )
    if mode == "drop":
        return corpus.join(F.broadcast(contaminated), id_col, "left_anti")
    flagged = contaminated.withColumn("contaminated", F.lit(True))
    return corpus.join(F.broadcast(flagged), id_col, "left").withColumn(
        "contaminated", F.coalesce(F.col("contaminated"), F.lit(False))
    )


def duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    width: int = 8,
    stride: int = 1,
    min_docs: int = 2,
) -> DataFrame:
    """Substring-LEVEL duplicate detection — the chunk-fingerprint
    approximation of exact-substring dedup (the suffix-array pass of
    "Deduplicating Training Data Makes Language Models Better",
    Lee et al. 2022): fingerprint every ``width``-token window (step
    ``stride``) and surface windows whose fingerprint occurs in at
    least ``min_docs`` DISTINCT documents.  Catches copied passages
    inside otherwise-different documents, which doc-level
    MinHash/SimHash miss.

    Output: one row per duplicated window occurrence —
    (fp, id, pos, n_docs) with ``pos`` the 0-based token offset.
    Downstream either drops the spans (substring-level cleaning) or
    drops/flags the documents.

    Scale shape: tokens are materialized once per row; windows explode
    to (fp 8B, id, pos) — the per-token shuffle IS the computation, and
    ``stride`` is the linear cost knob (stride=width -> disjoint
    chunks, ~1/width the rows, boundary-shift sensitivity).  The hot
    set comes from one count-distinct aggregate (map-side partials, no
    collect_list, so a boilerplate fingerprint occurring 10^6 times
    cannot OOM a reducer), and survivors re-join it on the 8-byte
    fingerprint (AQE broadcasts the hot side when small).  A suffix
    array would find variable-length repeats exactly but needs global
    order — this windowed form is embarrassingly parallel.
    """
    if width < 1 or stride < 1:
        raise ValueError("duplicate_spans: width and stride must be >= 1")
    toked = df.select(
        F.col(id_col), tokens(F.lower(F.col(text_col))).alias("__toks")
    )
    # one generated-SQL expression (py4j-cost note in minhash_signatures);
    # guard size<width explicitly — sequence(0, negative) would infer a
    # NEGATIVE step and emit phantom windows
    wins = F.expr(
        f"if(size(__toks) >= {width}, "
        f"transform(sequence(0, size(__toks) - {width}, {stride}), "
        f"i -> named_struct('pos', i, 'fp', "
        f"CAST(conv(substring(md5(concat_ws(' ', slice(__toks, i + 1, {width}))), "
        f"1, 15), 16, 10) AS BIGINT))), "
        f"array())"
    )
    spans = toked.select(F.col(id_col), F.explode(wins).alias("w")).select(
        id_col, F.col("w.pos").alias("pos"), F.col("w.fp").alias("fp")
    )
    hot = (
        spans.groupBy("fp")
        .agg(F.count_distinct(F.col(id_col)).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
    )
    return spans.join(hot, "fp").select("fp", id_col, "pos", "n_docs")


def exact_dedup_stream(
    stream: DataFrame,
    ts_col: str,
    watermark_delay: str = "10 minutes",
    text_col: str = "text",
    key: Column | None = None,
) -> DataFrame:
    """Streaming exact dedup: drop rows whose content fingerprint was
    already emitted within the watermark horizon — the ingest-time twin
    of :func:`exact_dedup_groups` for a continuously-arriving corpus.

    Built on ``dropDuplicatesWithinWatermark``: the state store keeps
    one entry per fingerprint, expired once the watermark passes
    ``watermark_delay`` — state is BOUNDED by the late-data horizon,
    not the stream's lifetime, and is partitioned across the cluster
    by fingerprint like any stateful operator.  Exactly one row per
    duplicate group within the horizon is emitted (which one is
    arrival-order-dependent, as in any streaming dedup).

    Un-fingerprintable rows (NULL key — NULL text) PASS THROUGH as
    survivors, matching :func:`exact_dedup_incremental`'s batch
    contract: the state store treats NULL keys as EQUAL, so without
    the split every distinct NULL-text row after the first would
    silently vanish for a whole watermark horizon."""
    k = key if key is not None else fingerprint(F.col(text_col))
    s = stream.withColumn("__fp", k).withWatermark(ts_col, watermark_delay)
    deduped = (
        s.filter(F.col("__fp").isNotNull())
        .dropDuplicatesWithinWatermark(["__fp"])
    )
    return deduped.unionByName(s.filter(F.col("__fp").isNull())).drop("__fp")


def near_dedup_stream(
    stream: DataFrame,
    ts_col: str,
    watermark_delay: str = "10 minutes",
    text_col: str = "text",
    bits: int = 60,
) -> DataFrame:
    """Streaming SKETCH-level near-dup: drop documents whose SimHash
    collides with one already emitted within the watermark horizon —
    the streaming twin of sketch dedup for an ingest pipeline.

    SimHash is order-independent over the token multiset, so token
    reorderings and whitespace noise collapse to the same key where
    content fingerprints differ; genuinely near (hamming > 0) pairs
    need the batch :func:`simhash_pairs` sweep — a streaming state
    store can only key on equality.  State is one 8-byte key per
    distinct sketch within the horizon, sharded by key like any
    stateful operator (same bound as :func:`exact_dedup_stream`)."""
    return exact_dedup_stream(
        stream, ts_col, watermark_delay, key=simhash_col(F.col(text_col), bits)
    )


def strip_duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    width: int = 8,
    stride: int = 1,
    min_docs: int = 2,
) -> DataFrame:
    """Substring-level CLEANING: remove duplicated passages from every
    document except the first (lowest-id) one that contains them — the
    "remove the duplicated substring, keep one copy" policy of
    exact-substring dedup, over :func:`duplicate_spans` windows.

    Per duplicated fingerprint the lowest occurring id is the keeper;
    every other document drops the tokens covered by that window
    (overlapping windows merge naturally — a token is dropped if ANY
    non-keeper window covers it).  Output: (id, text) with the same row
    count; a fully-duplicated document becomes an empty string (run
    exact dedup first — doc-level dups are its job, not this pass's).

    Rebuilt text is single-space joined (token-level cleaners cannot
    preserve original whitespace — standard caveat).

    Scale shape: on top of duplicate_spans' aggregate, one
    ``collect_list(pos)`` per (doc that loses spans) — bounded by the
    doc's own token count, never corpus-sized — broadcast-joined back
    (losing docs ≪ corpus); the rebuild is a per-row HOF over the
    token array (O(tokens · spans-in-doc)).
    """
    spans = duplicate_spans(df, id_col, text_col, width, stride, min_docs)
    keepers = spans.groupBy("fp").agg(F.min(id_col).alias("__keep_id"))
    losing = (
        spans.join(keepers, "fp")
        .filter(F.col(id_col) != F.col("__keep_id"))
        .groupBy(id_col)
        .agg(F.collect_set("pos").alias("__cut"))
    )
    # keep ALL input columns (a carried classifier score must survive
    # this stage — clean_corpus composes it with near_keep_score);
    # only the text column is rewritten
    joined = df.join(losing, id_col, "left")
    toks = tokens(F.col(text_col))
    kept = F.filter(
        toks,
        lambda t, j: ~F.exists(
            F.col("__cut"), lambda p: (j >= p) & (j < p + F.lit(width))
        ),
    )
    passthrough = [c for c in df.columns if c not in (id_col, text_col)]
    return joined.select(
        F.col(id_col),
        F.when(F.col("__cut").isNull(), F.col(text_col))
        .otherwise(F.concat_ws(" ", kept))
        .alias(text_col),
        *[F.col(c) for c in passthrough],
    )


def corpus_overlap(
    a: DataFrame,
    b: DataFrame,
    text_col: str = "text",
    sketch_k: int | None = 4096,
) -> dict:
    """Cross-corpus overlap estimate — the governance question asked
    before training ("how much of corpus B is already in corpus A?"
    / "does my train set overlap the eval set?") answered WITHOUT
    joining the corpora.

    Returns ``{"jaccard", "containment_a_in_b", "containment_b_in_a",
    "distinct_a", "distinct_b", "method"}`` over exact-content
    fingerprints (textops.fingerprint — whitespace-normalized md5; use
    :func:`ngram_decontaminate` afterwards for the document-level
    PARTIAL-overlap pass on whatever this flags).

    ``sketch_k`` (default 4096) uses the K-minimum-values sketch
    (Bar-Yossef et al. 2002): each corpus reduces to its ``k``
    SMALLEST fingerprint hashes — one TakeOrderedAndProject scan per
    corpus, ``k`` longs to the driver, NO join, no shuffle beyond the
    top-k — and the driver merges the two sketches (standard KMV
    estimators: distinct ~= (k-1) / kth_value, Jaccard = overlap
    fraction in the merged bottom-k; relative error ~ 1/sqrt(k), ~1.6%
    at 4096).  ``sketch_k=None`` computes exact distinct counts and
    the exact fingerprint-set intersection (one join — bench-scale or
    verification use).
    """
    # NULL-text rows have no fingerprint: drop them (a NULL hash would
    # crash the driver-side KMV sort against ints and silently inflate
    # the exact distinct counts)
    fa = (
        a.select(md5_long(fingerprint(F.col(text_col))).alias("h"))
        .filter(F.col("h").isNotNull())
        .distinct()
    )
    fb = (
        b.select(md5_long(fingerprint(F.col(text_col))).alias("h"))
        .filter(F.col("h").isNotNull())
        .distinct()
    )
    if sketch_k is None:
        # each distinct frame feeds two actions (count + join); persist
        # so the md5+distinct shuffle runs once per corpus, not twice
        fa = fa.persist()
        fb = fb.persist()
        try:
            da = fa.count()
            db = fb.count()
            inter = fa.join(fb, "h", "inner").count()
        finally:
            fa.unpersist()
            fb.unpersist()
        union = da + db - inter
        return {
            "jaccard": round(inter / union, 6) if union else 0.0,
            "containment_a_in_b": round(inter / da, 6) if da else 0.0,
            "containment_b_in_a": round(inter / db, 6) if db else 0.0,
            "distinct_a": da,
            "distinct_b": db,
            "method": "exact",
        }
    if not 16 <= sketch_k <= 1_000_000:
        raise ValueError(
            "corpus_overlap: sketch_k must be in [16, 1e6] (or None) — "
            "the sketch collects k longs to the driver"
        )
    ka = [r.h for r in fa.orderBy(F.asc("h")).limit(sketch_k).collect()]
    kb = [r.h for r in fb.orderBy(F.asc("h")).limit(sketch_k).collect()]

    def kmv_distinct(ks):
        # hashes are uniform in [0, 2^60) (md5_long); (k-1)/normalized
        # kth minimum.  A corpus smaller than k is counted exactly.
        if len(ks) < sketch_k:
            return len(ks)
        return int((sketch_k - 1) / (ks[-1] / float(1 << 60)))

    da, db = kmv_distinct(ka), kmv_distinct(kb)
    sa, sb = set(ka), set(kb)
    merged = sorted(sa | sb)[:sketch_k]
    in_both = sum(1 for h in merged if h in sa and h in sb)
    j = in_both / len(merged) if merged else 0.0
    # inclusion-exclusion through the Jaccard estimate:
    # J = I/U and U = da + db - I  =>  I = J*(da+db)/(1+J)
    inter_est = j * (da + db) / (1.0 + j) if j > 0 else 0.0
    return {
        "jaccard": round(j, 6),
        "containment_a_in_b": round(inter_est / da, 6) if da else 0.0,
        "containment_b_in_a": round(inter_est / db, 6) if db else 0.0,
        "distinct_a": da,
        "distinct_b": db,
        "method": f"kmv_{sketch_k}",
    }
