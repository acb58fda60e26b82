"""End-to-end training-data pipeline composition: the operators in this
package chained the way a 100 TB corpus-cleaning job would run them.

    raw documents
      -> quality features (map, no shuffle)
      -> quality filter (pushable predicates)
      -> language ID (map)
      -> exact dedup (one hash-aggregate + semi join)
      -> cleaned corpus

Each stage is a DataFrame -> DataFrame transform, so Catalyst fuses the
maps into one stage and the whole pipeline costs exactly the shuffles
the dedup strategy needs (one for exact).  ``clean_corpus`` is
ANSI-SQL-expressible end-to-end and oracle-checked
(entry: pipe_clean_corpus).

Skew note: ``salted_group_count`` is the hot-key guard for group-bys
whose key distribution is unknown (e.g. counting by fingerprint when
one boilerplate doc dominates a crawl): two-phase aggregate over a
salted key bounds any single reducer at 1/salt of the hot key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from zeek_duckdb_spark.operators.textops import (
    fingerprint,
    lang_id,
    nonempty_tokens,
    quality_features,
)

__all__ = [
    "clean_corpus",
    "clean_media_corpus",
    "incremental_clean_ingest",
    "incremental_clean_ingest_stream",
    "salted_group_count",
    "deterministic_sample",
    "split_corpus",
    "stratified_sample",
    "balance_clusters",
    "shard_corpus",
    "epoch_shuffle",
    "pack_sequences",
    "mix_corpora",
    "temperature_weights",
    "cap_per_group",
    "weighted_sample_k",
    "weighted_sample_k_grouped",
    "corpus_profile",
    "chunk_documents",
]


def clean_corpus(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 5,
    max_punct_ratio: float = 0.2,
    dedup_key: Column | None = None,
    redact_pii: bool = False,
    benchmark: DataFrame | None = None,
    decontam_ngram: int = 13,
    blocked_domains: DataFrame | None = None,
    strip_dup_spans: bool = False,
    dup_span_width: int = 8,
    near_dedup: str | None = None,
    near_params: dict | None = None,
    near_keep_score: str | None = None,
    lm=None,
    max_perplexity: float | None = None,
    min_perplexity: float | None = None,
    normalize_form: str | None = None,
    compression_band: tuple[float, float] | None = None,
    classifier: dict | None = None,
) -> DataFrame:
    """Quality-filter + language-tag + exact-dedup a document table.

    Keeps the lowest-id document of each duplicate group (the usual
    'first seen wins' policy).  Returns the cleaned rows with
    ``lang_guess`` attached.

    Optional extra stages (off by default — the oracle-checked entry
    covers the base pipeline), applied in crawl-pipeline order:

    - ``blocked_domains=<df with 'domain'>`` drops documents citing a
      blocklisted domain FIRST (textops.filter_blocked_domains) —
      cheapest filter, and PII/quality work shouldn't run on rejected
      docs; broadcast probe, no corpus shuffle.
    - ``redact_pii=True`` scrubs the text next (textops.pii_redact),
      so quality features, dedup fingerprints, and everything
      downstream see the redacted form — still a fused map stage.
    - ``benchmark=<df>`` drops documents colliding with the benchmark
      set on any ``decontam_ngram``-gram (dedup.ngram_decontaminate)
      before quality filtering; the benchmark side broadcasts, so this
      adds no corpus-sized shuffle.
    - ``strip_dup_spans=True`` removes duplicated passages
      (dedup.strip_duplicate_spans, ``dup_span_width`` tokens) BEFORE
      quality scoring — substring-level cleaning changes token counts,
      so filters must see the cleaned text; runs after exact-dup docs
      would be caught anyway (the final exact dedup keeps one copy of
      any doc this pass empties).
    - ``near_dedup='minhash'|'simhash'`` runs a FUZZY dedup pass after
      the exact one — the most important stage of a crawl pipeline
      (exact dedup misses boilerplate-perturbed copies).  Candidate
      pairs come from the banded-LSH / block-permutation operators
      (dedup.minhash_lsh_pairs / simhash_pairs — bucketed,
      shuffle-bounded, never all-pairs), clusters from
      graph.dedup_clusters' connected components, and the keep policy
      is the same 'lowest id wins' as the exact pass: every non-min
      member of a cluster is dropped via one anti-join.  Running AFTER
      exact dedup keeps the LSH buckets free of byte-identical
      mega-clusters (the failure mode minhash_lsh_pairs'
      max_bucket_size guards against).  ``near_params`` passes
      operator knobs through (minhash: num_hashes/shingle_k/bands/
      threshold/seed; simhash: bits/blocks/max_hamming).
    - ``near_keep_score=<column name>`` switches the fuzzy pass's keep
      policy from 'lowest id wins' to 'highest score wins' (ties and
      NULLs fall back to min id — graph.resolve_clusters).  Any
      numeric column visible at that stage works, including the
      quality features this pipeline computed (``q_tokens``,
      ``stop_ratio``, ...) or a classifier score carried in ``df``.
    - ``normalize_form='NFC'|'NFKC'|...`` runs
      :func:`textops.normalize_text` FIRST (before even the blocklist
      stage), so every downstream fingerprint, feature, and n-gram
      sees canonical text — visually-identical crawl variants dedup
      together instead of slipping past the exact pass.
    - ``lm=<operators.lm.NgramLM>`` + ``max_perplexity=`` (and
      optionally ``min_perplexity=`` for the Gopher-style band that
      also drops degenerate low-perplexity repetition) gates documents
      by LM perplexity AFTER the cheap surface-quality filter and
      BEFORE dedup — the CCNet stage order: the model joins are the
      most expensive per-doc work here, so they run on the
      already-thinned corpus, and dedup shouldn't keep a duplicate
      whose twin the gate rejects.  Docs too short to score (< n
      tokens) are dropped by the gate (un-scorable ≈ unusable for
      training; lower ``min_tokens`` interacts — see tests).
    - ``compression_band=(lo, hi)`` keeps documents whose zlib ratio
      (textops.compression_features — the Gopher/RefinedWeb signal)
      falls inside the band: below ``lo`` is repetitive boilerplate,
      above ``hi`` is high-entropy junk.  Runs AFTER the cheap
      surface filter (it crosses the Python boundary, so it should
      see the thinned corpus) and before the LM gate.
    - ``classifier={'weights': [...], 'bias': b, 'threshold': t,
      'keep': 'above'}`` gates documents by the LEARNED token quality
      classifier (textops.quality_classifier_score — train the
      weights in-engine with :func:`classifier.token_logreg_fit`).
      The score is a pure zero-shuffle JVM expression fold, so the
      gate is stream-safe by construction and runs right after the
      surface filter (it costs like one, unlike the Python-boundary
      and model-join gates that follow).  ``keep='above'`` (default)
      keeps score >= threshold; ``'below'`` harvests the junk side.
    """
    keep_cols = [id_col, text_col]
    if near_keep_score is not None and near_keep_score in df.columns:
        # a score carried in the INPUT frame (e.g. a classifier score)
        # must survive the narrow projection to reach the fuzzy pass;
        # in-pipeline quality features are visible there regardless
        keep_cols.append(near_keep_score)
    base = df.select(*keep_cols)
    if normalize_form is not None:
        from zeek_duckdb_spark.operators.textops import normalize_text

        base = base.withColumn(
            text_col, normalize_text(F.col(text_col), form=normalize_form)
        )
    if blocked_domains is not None:
        from zeek_duckdb_spark.operators.textops import filter_blocked_domains

        base = filter_blocked_domains(base, blocked_domains, id_col, text_col)
    if redact_pii:
        from zeek_duckdb_spark.operators.textops import pii_redact

        base = base.withColumn(text_col, pii_redact(F.col(text_col)))
    if benchmark is not None:
        from zeek_duckdb_spark.operators.dedup import ngram_decontaminate

        bench = benchmark
        if redact_pii:
            # the corpus side was redacted above, so a benchmark n-gram
            # spanning an email/IP/SSN/phone could never collide with
            # the redacted corpus text — redact the benchmark
            # identically so contaminated docs with PII inside the
            # overlap are still caught
            from zeek_duckdb_spark.operators.textops import pii_redact

            bench = bench.withColumn(text_col, pii_redact(F.col(text_col)))
        base = ngram_decontaminate(
            base, bench, id_col, text_col, n=decontam_ngram
        )
    if strip_dup_spans:
        from zeek_duckdb_spark.operators.dedup import strip_duplicate_spans

        base = strip_duplicate_spans(
            base, id_col, text_col, width=dup_span_width
        )
    feats = quality_features(base, text_col)
    kept = feats.filter(
        (F.col("q_tokens") >= min_tokens)
        & (F.col("punct_ratio") <= max_punct_ratio)
    )
    if classifier is not None:
        kept = _classifier_gate(kept, text_col, classifier)
    if compression_band is not None:
        lo, hi = compression_band
        if not 0.0 <= lo < hi:
            raise ValueError(
                "clean_corpus: compression_band must be (lo, hi) with "
                "0 <= lo < hi"
            )
        from zeek_duckdb_spark.operators.textops import compression_features

        kept = compression_features(kept, text_col).filter(
            F.col("zlib_ratio").between(lo, hi)
        ).drop("zlib_ratio")
    if (max_perplexity is not None or min_perplexity is not None) and lm is None:
        raise ValueError("clean_corpus: perplexity bounds need lm=")
    if lm is not None:
        if max_perplexity is None and min_perplexity is None:
            raise ValueError(
                "clean_corpus: lm= needs max_perplexity= (and/or min_perplexity=)"
            )
        from zeek_duckdb_spark.operators.lm import perplexity_scores

        ppl = perplexity_scores(kept, lm, id_col=id_col, text_col=text_col)
        cond = F.lit(True)
        if max_perplexity is not None:
            cond = cond & (F.col("perplexity") <= max_perplexity)
        if min_perplexity is not None:
            cond = cond & (F.col("perplexity") >= min_perplexity)
        # semi join: the gate attaches no columns, so downstream stages
        # keep their projection; un-scorable docs (< n tokens) have no
        # score row and are dropped
        kept = kept.join(
            ppl.filter(cond).select(id_col), id_col, "left_semi"
        )
    key = dedup_key if dedup_key is not None else fingerprint(F.col(text_col))
    with_key = kept.withColumn("fp", key)
    keepers = with_key.groupBy("fp").agg(F.min(id_col).alias(id_col))
    deduped = with_key.join(keepers, [id_col, "fp"], "left_semi").drop("fp")
    if near_dedup is not None:
        deduped = _near_dedup_pass(
            deduped, id_col, text_col, near_dedup, near_params, near_keep_score
        )
    return deduped.withColumn("lang_guess", lang_id(F.col(text_col)))


def _classifier_gate(df: DataFrame, text_col: str, classifier: dict) -> DataFrame:
    """Shared learned-quality gate: a pure zero-shuffle expression
    filter over textops.quality_classifier_score — stream-safe by
    construction (no state, no shuffle, no Python), which is what lets
    the ingest STREAM reuse it verbatim."""
    from zeek_duckdb_spark.operators.textops import quality_classifier_score

    weights = classifier.get("weights")
    if not weights:
        raise ValueError("classifier: 'weights' must be a non-empty list")
    threshold = classifier.get("threshold")
    if threshold is None or not 0.0 <= float(threshold) <= 1.0:
        raise ValueError(
            "classifier: 'threshold' must be in [0, 1] (it gates a sigmoid)"
        )
    keep = classifier.get("keep", "above")
    if keep not in ("above", "below"):
        raise ValueError("classifier: 'keep' must be 'above' or 'below'")
    score = quality_classifier_score(
        F.col(text_col), list(weights), float(classifier.get("bias", 0.0))
    )
    return df.filter(
        score >= float(threshold)
        if keep == "above"
        else score < float(threshold)
    )


def _near_dedup_pass(
    deduped: DataFrame,
    id_col: str,
    text_col: str,
    near_dedup: str,
    params: dict | None,
    keep_score: str | None = None,
) -> DataFrame:
    """Fuzzy-dedup stage of :func:`clean_corpus`: LSH candidate pairs
    -> connected-component clusters -> drop every non-representative
    member (min id, or best ``keep_score`` via graph.resolve_clusters).
    One anti-join against the (small) loser set; the corpus itself pays
    only the candidate-generation shuffle the pair operators already
    bound."""
    from zeek_duckdb_spark.operators import dedup as dd
    from zeek_duckdb_spark.operators.graph import connected_components

    p = dict(params or {})
    if near_dedup == "minhash":
        num_hashes = p.get("num_hashes", 32)
        shingle_k = p.get("shingle_k", 3)
        sigs = dd.minhash_signatures(
            deduped,
            id_col,
            text_col,
            num_hashes=num_hashes,
            shingle_k=shingle_k,
            seed=p.get("seed", 1),
        )
        pairs = dd.minhash_lsh_pairs(
            sigs,
            id_col,
            bands=p.get("bands", 8),
            threshold=p.get("threshold", 0.7),
            num_hashes=num_hashes,
            max_bucket_size=p.get("max_bucket_size", 100_000),
            on_oversize=p.get("on_oversize", "error"),
            # per-candidate verification shingles: the sig-frame path
            # re-derives the tokenize+md5 chain over the corpus on
            # BOTH verify sides (3x total with the bucket pass) —
            # measured r10: 2x at sf0.1, 2.5x at sf~5, identical rows
            verify_with=deduped,
            text_col=text_col,
            shingle_k=shingle_k,
        ).select("id_a", "id_b")
    elif near_dedup == "simhash":
        bits = p.get("bits", 60)
        sims = dd.simhash(deduped, id_col, text_col, bits=bits)
        pairs = dd.simhash_pairs(
            sims,
            id_col,
            max_hamming=p.get("max_hamming", 3),
            blocks=p.get("blocks", 4),
            bits=bits,
            max_bucket_size=p.get("max_bucket_size", 100_000),
            on_oversize=p.get("on_oversize", "error"),
        ).select("id_a", "id_b")
    else:
        raise ValueError(
            f"near_dedup must be 'minhash' or 'simhash', got '{near_dedup}'"
        )
    if keep_score is not None:
        from zeek_duckdb_spark.operators.graph import resolve_clusters

        return resolve_clusters(deduped, pairs, id_col, score_col=keep_score)
    losers = (
        connected_components(pairs)
        .filter(F.col("v") != F.col("component"))
        .select(F.col("v").alias(id_col))
    )
    return deduped.join(losers, id_col, "left_anti")


def clean_media_corpus(
    df: DataFrame,
    id_col: str = "doc_id",
    media_col: str = "media",
    decoder=None,
    fake: bool = False,
    min_bytes: int = 1,
    max_hamming: int = 3,
    blocks: int = 4,
    bits: int = 60,
    keep_score: str | None = None,
    max_bucket_size: int | None = 100_000,
    on_oversize: str = "error",
) -> DataFrame:
    """The media-side sibling of :func:`clean_corpus`: clean an image
    (or other binary-media) table by size gate -> exact byte dedup ->
    perceptual near-dedup, returning the surviving rows with all input
    columns intact.

    Stages, in crawl-pipeline order:

    1. **Size gate** — NULL payloads and payloads under ``min_bytes``
       are dropped (un-decodable / tracking-pixel-class junk); a pure
       pushable filter.
    2. **Exact dedup** — byte-identical copies collapse to the
       lowest-id member via one md5-of-bytes hash aggregate + semi
       join (the ``clean_corpus`` fingerprint pass on binary).
       Running this FIRST keeps the pHash buckets free of identical
       mega-clusters — the same bucket-skew argument as the text
       pipeline's exact-before-fuzzy order.
    3. **Perceptual near-dedup** — :func:`multimodal.phash_media`
       (decode -> 32x32 -> DCT pHash; inject a real ``decoder=`` or
       ``fake=True`` for the deterministic byte-tile stand-in) feeds
       :func:`multimodal.phash_pairs` (SimHash block-permutation
       buckets — never all-pairs), clusters resolve via
       :func:`graph.resolve_clusters`: each near-dup cluster keeps its
       best-``keep_score`` member (ties/NULLs -> min id), or the min
       id when no score is given — re-encoded/resized copies die, the
       best original survives.

    Scale shape: one pushable filter + one hash-agg/semi-join shuffle
    (exact) + the bucketed pair shuffle (near) + one anti-join against
    the loser set — exactly the text pipeline's budget with the decode
    map (Arrow-batched, zero shuffle) in place of the quality-feature
    map.  ``max_bucket_size``/``on_oversize`` bound pHash bucket skew.
    """
    out_cols = [F.col(c) for c in df.columns]
    from zeek_duckdb_spark.operators.graph import resolve_clusters
    from zeek_duckdb_spark.operators.multimodal import phash_media, phash_pairs

    base = df.filter(
        F.col(media_col).isNotNull() & (F.length(media_col) >= min_bytes)
    )
    with_fp = base.withColumn("__fp", F.md5(F.col(media_col)))
    keepers = with_fp.groupBy("__fp").agg(F.min(id_col).alias(id_col))
    deduped = with_fp.join(keepers, [id_col, "__fp"], "left_semi").drop("__fp")

    hashed = phash_media(
        deduped, id_col=id_col, media_col=media_col,
        decoder=decoder, fake=fake, bits=bits,
    )
    pairs = phash_pairs(
        hashed,
        id_col=id_col,
        max_hamming=max_hamming,
        blocks=blocks,
        bits=bits,
        max_bucket_size=max_bucket_size,
        on_oversize=on_oversize,
    ).select("id_a", "id_b")
    return resolve_clusters(
        deduped, pairs, id_col, score_col=keep_score
    ).select(*out_cols)


def incremental_clean_ingest(
    new_df: DataFrame,
    fps_path: str,
    sigs_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    num_hashes: int = 32,
    shingle_k: int = 3,
    bands: int = 8,
    seed: int = 1,
    update_index: bool = True,
    check_ids: bool = True,
    land_path: str | None = None,
    classifier: dict | None = None,
    compact_after: int | None = None,
    compact_target_bytes: int = 128 << 20,
) -> DataFrame:
    """The packaged daily-crawl ingest loop: exact + fuzzy dedup of a
    NEW batch against PERSISTED indexes, with the index updated for
    tomorrow — the orchestration the incremental operators
    (``dedup.exact_dedup_incremental`` /
    ``minhash_lsh_pairs_incremental``) exist for.

    ``fps_path`` / ``sigs_path`` are parquet locations holding the
    standing corpus's content fingerprints and minhash signatures
    (any Spark-readable filesystem — existence is probed by READING,
    not a driver-local stat); FIRST call bootstraps them (missing
    paths == empty index), later calls read them through keyed joins
    only (the standing corpus never re-scans or re-pairs itself).
    Returns the surviving new rows, SNAPSHOTTED eagerly in both modes
    (so later index writes can't change the verdicts you hold);
    with ``update_index=False`` nothing is written (dry-run).

    Keep policy — INDEX ALWAYS WINS: a new doc in any near-dup
    component that touches an indexed doc is dropped (the index is
    immutable history; "highest score" can't evict what's already
    served), and pure-new components keep their min id, exactly the
    full pass's rule.  Transitivity runs over the emitted pair set
    (connected components), so a chain new->new->index dies entirely.

    Ids must be GLOBALLY unique across days — they are how the policy
    tells index from batch; ``check_ids=True`` (default) verifies the
    batch against the signature index with one semi-join count and
    raises on collision (daily crawls that restart ids would otherwise
    silently corrupt verdicts in both directions).

    ``land_path`` (optional, honored only with ``update_index=True``)
    writes the surviving rows to ``land_path`` with OVERWRITE *before*
    the index appends, skipping the write when there are zero
    survivors.  Prefer it over landing the returned DataFrame
    yourself: the ordering + skip-on-empty make EVERY crash window
    rerun-repairable (see below).

    Failure/retry contract: the writes are not atomic, but RERUNNING
    the same batch (``check_ids=False``) converges every crash window
    when ``land_path`` is used: (1) crash mid-landing — indexes are
    untouched, the rerun recomputes identical survivors and the
    overwrite repairs the partial landing; (2) crash before the sigs
    append — same clean replay; (3) crash between the sigs and fps
    appends — already-appended signature rows self-pair with the rerun
    batch (identical ids) and strict ``id_a < id_b`` drops self-pairs,
    so verdicts are unchanged and the appends converge at-least-once
    (duplicate fp/sig rows are semantically idempotent — fps anti-join
    identically, duplicate pairs dedup); (4) rerun after FULL success —
    the fps index now holds the batch, the replay computes zero
    survivors, and skip-on-empty leaves the completed landing intact
    while the index appends append nothing.  Sigs are appended before
    fps deliberately: fps-first would make the window-(3) rerun drop
    the whole batch at the exact pass with its signatures never
    written.  Callers landing the RETURNED DataFrame themselves only
    get windows (2)-(4) — a crash after the fps append but before
    their own landing writes is not replayable (the rerun computes
    zero survivors), which is why ``land_path`` exists.

    Signature parameters must match across calls — they ARE the index
    format (mixed parameters make signatures incomparable; the same
    contract as minhash_lsh_pairs_incremental).

    ``classifier`` (same dict as ``clean_corpus(classifier=)``) gates
    the batch by learned token quality BEFORE any dedup work — a pure
    zero-shuffle expression filter, so rejected docs never pay for
    fingerprints or signatures and never enter the indexes.  A later
    byte-identical copy of a rejected doc scores identically and is
    rejected by the same gate, so keeping rejects out of the index
    loses nothing.

    ``compact_after`` (honored only with ``update_index=True``) is the
    maintenance cadence: after the index appends, each index path
    whose worst directory holds MORE than ``compact_after`` parquet
    files is compacted in place
    (:func:`zeek_duckdb_spark.sources.sink.maybe_compact_landing`,
    targeting ``compact_target_bytes`` per output file) — without it,
    a year of ~32-file daily appends degrades every index probe into
    the metadata-bound regime SCALING.md measures.  The check is one
    driver-side walk (zero jobs under threshold); compaction is
    content-preserving and runs AFTER both appends, so the
    failure/retry contract above is unchanged — a crash mid-compaction
    leaves either the old layout, the swapped layout, or (rename-pair
    fallback only) a missing path with the data stranded in the
    ``.compact-*`` siblings, which the next run's index read repairs
    via :func:`~zeek_duckdb_spark.sources.sink.recover_landing` before
    it could be mistaken for the empty-index bootstrap.  The returned
    survivors are an eager snapshot, unaffected by the rewrite."""
    from zeek_duckdb_spark.operators.dedup import (
        exact_dedup_incremental,
        minhash_lsh_pairs_incremental,
        minhash_signatures,
    )
    from zeek_duckdb_spark.operators.graph import connected_components

    spark = new_df.sparkSession
    if classifier is not None:
        new_df = _classifier_gate(new_df, text_col, classifier)

    def _maybe(path: str, schema: str) -> DataFrame:
        # probe by reading: works on any Hadoop-visible filesystem
        # (s3a://, hdfs://, ...), unlike a driver-local os.path stat
        from pyspark.errors import AnalysisException

        try:
            df = spark.read.parquet(path)
            df.schema  # force resolution now, inside the try
            return df
        except AnalysisException as e:
            # ONLY path-not-found maps to the empty-index bootstrap —
            # any other read failure (credentials, corrupt footer)
            # must raise, or a transient error would silently admit
            # the whole batch undeduped and append duplicates
            msg = str(e)
            if "PATH_NOT_FOUND" in msg or "Path does not exist" in msg:
                # ... and not-found may be a compaction crashed inside
                # its rename-pair fallback window (the standing index
                # stranded in .compact-tmp/.compact-old siblings) —
                # bootstrapping THAT would silently reset the index
                # and re-admit the whole corpus.  Repair and retry.
                from zeek_duckdb_spark.sources.sink import recover_landing

                if recover_landing(path) is not None:
                    return spark.read.parquet(path)
                return spark.createDataFrame([], schema)
            raise

    index_fps = _maybe(fps_path, "fp string")
    s1 = exact_dedup_incremental(new_df, index_fps, id_col, text_col)
    # the fingerprint+anti-join prefix feeds signatures, labeling, and
    # the final anti-join — persist it so one batch scan serves all
    s1 = s1.persist()

    new_sigs = minhash_signatures(
        s1.drop("fp"), id_col, text_col,
        num_hashes=num_hashes, shingle_k=shingle_k, seed=seed,
    )
    # the persisted-signature schema is minhash_signatures' output
    # (incl. the __nonempty pushdown flag _band_buckets prefers); the
    # id type follows the BATCH's schema so string-keyed corpora don't
    # bootstrap a mismatched empty frame
    id_type = new_df.schema[id_col].dataType.simpleString()
    index_sigs = _maybe(
        sigs_path,
        f"{id_col} {id_type}, shingles array<string>, __nonempty boolean, "
        "minhash array<bigint>",
    )
    if check_ids:
        n_collide = (
            index_sigs.select(id_col)
            .join(new_df.select(id_col), id_col, "left_semi")
            .count()
        )
        if n_collide:
            raise ValueError(
                f"incremental_clean_ingest: {n_collide} batch id(s) "
                "already exist in the signature index — ids must be "
                "globally unique across days (colliding ids corrupt the "
                "index-always-wins policy in both directions); re-key "
                "the batch or pass check_ids=False if these ARE reruns "
                "of the same documents"
            )
    pairs = minhash_lsh_pairs_incremental(
        new_sigs, index_sigs,
        id_col=id_col, bands=bands, threshold=threshold,
        num_hashes=num_hashes,
    ).select("id_a", "id_b")

    new_ids = s1.select(F.col(id_col).alias("__nid"))
    cc = connected_components(pairs)
    labeled = cc.join(
        new_ids, cc.v == new_ids["__nid"], "left"
    ).select(
        "v", "component", F.col("__nid").isNotNull().alias("is_new")
    )
    comp_stats = labeled.groupBy("component").agg(
        F.max(~F.col("is_new")).alias("has_index"),
        F.min(F.when(F.col("is_new"), F.col("v"))).alias("min_new"),
    )
    losers = (
        labeled.filter(F.col("is_new"))
        .join(comp_stats, "component")
        .filter(F.col("has_index") | (F.col("v") != F.col("min_new")))
        .select(F.col("v").alias(id_col))
    )
    survivors = s1.join(losers, id_col, "left_anti")

    # SNAPSHOT in BOTH modes: the survivor plan READS the index paths
    # a later (or this) call appends to, and Spark invalidates
    # path-based caches on write — without breaking the lineage
    # physically (RDD blocks, no file dependency) a dry-run's verdicts
    # would silently change after the real ingest runs, and the
    # update path would anti-join survivors against an index that
    # already contains them.
    survivors = survivors.localCheckpoint(eager=True)
    s1.unpersist()
    if update_index and land_path is not None:
        # land BEFORE the index appends, skipping empty survivor sets
        # — the ordering + skip that make every crash window
        # rerun-repairable (failure/retry contract above)
        if survivors.limit(1).count():
            survivors.drop("fp").write.mode("overwrite").parquet(land_path)
    if update_index:
        # sigs FIRST — see the failure/retry contract in the docstring
        # (fps-first would make a crash-rerun drop the batch at the
        # exact pass with its signatures never written).  Signatures
        # re-derive from the snapshot (deterministic, same params ->
        # identical rows); joining new_sigs here would re-read the
        # index through its lineage.
        minhash_signatures(
            survivors.drop("fp"), id_col, text_col,
            num_hashes=num_hashes, shingle_k=shingle_k, seed=seed,
        ).write.mode("append").parquet(sigs_path)
        survivors.select("fp").filter(F.col("fp").isNotNull()).write.mode(
            "append"
        ).parquet(fps_path)
        if compact_after is not None:
            from zeek_duckdb_spark.sources.sink import maybe_compact_landing

            for p in (sigs_path, fps_path):
                maybe_compact_landing(
                    spark, p, compact_after, compact_target_bytes
                )
    return survivors.drop("fp")


# default maintenance cadence for the STREAMING ingest loop: compact
# an index directory once its worst partition exceeds this many
# parquet files.  Conservative — an append lands ~1-32 files per
# micro-batch, so 64 means compaction fires every couple of months of
# daily batches, yet a year of appends can never reach the
# metadata-bound regime SCALING.md measures.  The BATCH loop keeps
# None (a one-shot call shouldn't rewrite indexes it doesn't own);
# the stream OWNS its indexes across batches, so maintenance is its
# job by default.  Pass compact_after=None to opt out.
STREAM_COMPACT_AFTER_DEFAULT = 64

_COMPACT_USE_DEFAULT = object()  # sentinel: "caller didn't say"


def incremental_clean_ingest_stream(
    stream_df: DataFrame,
    fps_path: str,
    sigs_path: str,
    land_path: str,
    checkpoint_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    num_hashes: int = 32,
    shingle_k: int = 3,
    bands: int = 8,
    seed: int = 1,
    available_now: bool = True,
    classifier: dict | None = None,
    compact_after: int | None = _COMPACT_USE_DEFAULT,
    compact_target_bytes: int = 128 << 20,
):
    """The daily-crawl ingest loop as a STREAMING job: each
    micro-batch of ``stream_df`` (``read_zeek_stream``, a file-source
    parquet stream — any streaming DataFrame of (id, text, ...) rows)
    runs :func:`incremental_clean_ingest` against the persisted
    indexes via ``foreachBatch``, landing survivors under
    ``land_path/batch=<batch_id>`` and appending the fp/sig indexes
    for the batches that follow.  Returns the started
    ``StreamingQuery``.

    Exactly-once landing across restarts WITHOUT idempotent-sink
    magic: ``foreachBatch`` is at-least-once (a crash between the
    batch function and the checkpoint commit replays the SAME batch id
    with the SAME rows on restart), and the ingest operator's
    failure/retry contract is exactly shaped for that replay — the
    landing is an overwrite of the batch's OWN ``batch=<id>``
    directory (idempotent), skip-on-empty protects a fully-committed
    landing from the replay's self-deduplicated empty survivor set,
    and duplicate index appends are semantically idempotent (see
    ``incremental_clean_ingest``'s docstring, windows 1-4).  That is
    why ``check_ids`` is hard-off here: a replayed batch ALWAYS
    collides with its own already-appended signatures, so the
    collision check would turn every crash-recovery into a hard
    failure.  The cost is the same contract the batch loop's
    ``--allow-id-reruns`` accepts: ids must be globally unique across
    the stream's lifetime, or colliding days silently corrupt
    verdicts in both directions.

    ``available_now=True`` (default) drains everything visible and
    stops — the cron-driven daily shape (run, land, exit; tomorrow's
    run resumes from the checkpoint and sees only new files).
    ``False`` runs continuously with the default trigger.

    Sequencing note: micro-batches execute serially within the query,
    so batch N+1's verdicts always see batch N's index appends — the
    property the daily loop gets from running days in order.

    ``classifier`` passes straight through to
    :func:`incremental_clean_ingest` — the gate is a zero-shuffle
    expression filter (stream-safe by construction), so streaming
    survivors match the batch loop's survivors exactly.

    ``compact_after`` defaults to :data:`STREAM_COMPACT_AFTER_DEFAULT`
    (64) — the stream OWNS its indexes across batches, and without a
    default cadence a year of daily appends reproduces exactly the
    metadata-bound degradation SCALING.md measures; pass ``None`` to
    opt out, or an int to tune.  Each micro-batch's index appends end
    with the files-per-directory threshold check (one driver-side
    walk, zero jobs under threshold), and micro-batches execute
    SERIALLY within the query, so compaction never races an append
    from this stream.  The replay story is unchanged — compaction
    preserves content, so a crash-replayed batch sees the same index
    rows whether or not the previous run compacted (its appends stay
    semantically idempotent, windows 1-4 of the batch loop's
    contract)."""
    import os as _os

    if compact_after is _COMPACT_USE_DEFAULT:
        compact_after = STREAM_COMPACT_AFTER_DEFAULT

    def _one_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        incremental_clean_ingest(
            batch_df,
            fps_path,
            sigs_path,
            id_col=id_col,
            text_col=text_col,
            threshold=threshold,
            num_hashes=num_hashes,
            shingle_k=shingle_k,
            bands=bands,
            seed=seed,
            update_index=True,
            check_ids=False,
            land_path=_os.path.join(land_path, f"batch={batch_id}"),
            classifier=classifier,
            compact_after=compact_after,
            compact_target_bytes=compact_target_bytes,
        )

    writer = (
        stream_df.writeStream.foreachBatch(_one_batch)
        .option("checkpointLocation", checkpoint_path)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def salted_group_count(
    df: DataFrame, key_col: str, salt: int = 16
) -> DataFrame:
    """Two-phase (salted) count per key: phase 1 aggregates
    (key, hash(row)%salt) partial counts, phase 2 sums partials per
    key.  Bounds the hottest reducer at ~1/salt of the hottest key —
    the standard skew guard when a key may dominate the corpus.
    Result is identical to ``groupBy(key).count()``."""
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(salt))
    )
    partial = salted.groupBy(key_col, "_salt").agg(F.count("*").alias("_c"))
    return partial.groupBy(key_col).agg(F.sum("_c").alias("count"))


def _sample_bucket(key: Column, seed: int) -> Column:
    """Deterministic per-key bucket in [0, 1e6): md5 of key:seed, first
    15 hex chars as int64, mod 1e6.  Engine-portable (md5_long_sql
    restates it for the oracle) and stable across runs, partitionings,
    and cluster sizes — unlike rand()- or TABLESAMPLE-based sampling,
    which is non-reproducible and per-partition-dependent."""
    from zeek_duckdb_spark.operators.hashutil import md5_long

    return md5_long(F.concat_ws(":", key.cast("string"), F.lit(str(seed)))) % F.lit(1_000_000)


def split_corpus(
    df: DataFrame,
    key_col: str,
    fractions: dict[str, float],
    seed: int = 0,
    out_col: str = "split",
) -> DataFrame:
    """Deterministic disjoint train/val/test split: every row gets a
    ``split`` label from its key's md5 bucket, so the assignment is
    exhaustive (fractions must sum to 1), reproducible across runs,
    partitionings and cluster sizes, and a pure pushdown-friendly row
    expression (zero shuffle — this is a LABELING, not a shuffle-split
    like randomSplit, whose assignment changes with partitioning).

    LEAKAGE CONTROL is the point of ``key_col``: split on ``doc_id``
    for a plain row split, or on a GROUP key (registered domain, user
    id, cluster representative) so every row of a group lands in the
    SAME split — the eval-contamination guard (near-duplicates of a
    training doc must not reach the test set; split on the dedup
    cluster key after :func:`graph.resolve_clusters`).

    Fraction boundaries are cumulative integer thresholds on the
    1e6-bucket grid, so the oracle restates the exact CASE; each
    fraction is honored to ±1e-6 of the key distribution.
    """
    if not fractions:
        raise ValueError("split_corpus: fractions is empty")
    for name, f in fractions.items():
        if not 0 < f <= 1:
            raise ValueError(
                f"split_corpus: fraction for {name!r} must be in (0, 1]"
            )
    total = sum(fractions.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(
            f"split_corpus: fractions sum to {total!r}, must sum to 1 "
            "(the split is exhaustive — add an explicit 'rest' bucket "
            "instead of leaving rows unlabeled)"
        )
    bucket = _sample_bucket(F.col(key_col), seed)
    expr: Column | None = None
    hi = 0
    names = list(fractions)
    for i, name in enumerate(names):
        # last split takes everything remaining: cumulative float
        # rounding must never leave bucket 999999 unlabeled
        hi = 1_000_000 if i == len(names) - 1 else hi + int(
            round(fractions[name] * 1_000_000)
        )
        cond = bucket < hi
        expr = (
            F.when(cond, F.lit(name))
            if expr is None
            else expr.when(cond, F.lit(name))
        )
    return df.withColumn(out_col, expr)


def deterministic_sample(
    df: DataFrame,
    key_col: str,
    fraction: float,
    seed: int = 0,
) -> DataFrame:
    """Reproducible Bernoulli sample: keep rows whose key hashes below
    ``fraction``.  Same key -> same decision in every run and on every
    cluster, so training-data subsets are exactly re-derivable.  Pure
    pushable filter: no shuffle, no state."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError("fraction must be in [0, 1]")
    return df.filter(_sample_bucket(F.col(key_col), seed) < int(fraction * 1_000_000))


def stratified_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    fractions: dict[str, float],
    default: float = 0.0,
    seed: int = 0,
) -> DataFrame:
    """Per-stratum deterministic sampling — the source-mixing knob of a
    training-data pipeline ("keep all of wiki, 10% of web").  A CASE
    over ``strata_col`` picks the fraction; the hash-bucket decision is
    the same as deterministic_sample.  Still a pure map-side filter."""
    for s, f in fractions.items():
        if not 0.0 <= f <= 1.0:
            raise ValueError(f"fraction for stratum '{s}' must be in [0, 1]")
    thresh = F.lit(int(default * 1_000_000))
    for s, f in fractions.items():
        thresh = F.when(F.col(strata_col) == s, F.lit(int(f * 1_000_000))).otherwise(thresh)
    return df.filter(_sample_bucket(F.col(key_col), seed) < thresh)


def _cell_fractions(counts: dict, budget: float) -> dict:
    """Per-cell keep fractions for balance_clusters: min(1, budget/n),
    clamped at the sampler's 1e-6 bucket resolution — a mega-cell
    where budget/n < 1e-6 (200M rows, budget 100) must keep ~n*1e-6
    rows, not silently truncate to fraction 0 and vanish; callers
    needing the cap exact at that extreme should use cap_per_group."""
    return {
        c: min(1.0, max(budget / n, 1e-6))
        for c, n in counts.items()
        if c >= 0 and n > 0
    }


def balance_clusters(
    df: DataFrame,
    cents: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cell_share: float | None = None,
    target_rows_per_cell: int | None = None,
    seed: int = 0,
) -> DataFrame:
    """Topic rebalancing by embedding cluster — the semantic-diversity
    knob of a training mix: over-represented clusters (boilerplate
    topics, SEO farms) are DOWN-sampled to a budget while small topics
    keep everything, the cluster-based curation idea behind
    SemDeDup-style pruning applied at sampling rather than dedup
    granularity.

    ``cents`` is a fitted ``kmeans.kmeans_fit_quantized`` model (the
    [(cell, centroid)] list — warm-startable, persistable).  Exactly
    one budget knob: ``max_cell_share`` caps every cluster at that
    fraction of the TOTAL corpus; ``target_rows_per_cell`` caps at an
    absolute row budget.  fraction_c = min(1, budget / n_c), applied
    with the deterministic md5-bucket sampler, so the subset is
    re-derivable on any cluster.

    Scale shape: one zero-shuffle assignment map (the centroid-literal
    argmax of ``kmeans.ivf_write``), ONE K-row count aggregate to the
    driver (model-sized), then a pure map-side stratified filter.  No
    joins, no windows.  Degenerate all-zero vectors get cell -1 and
    are always kept (they are nobody's over-represented topic).
    Output: input columns + ``cell``.
    """
    if (max_cell_share is None) == (target_rows_per_cell is None):
        raise ValueError(
            "balance_clusters: pass exactly one of max_cell_share / "
            "target_rows_per_cell"
        )
    if max_cell_share is not None and not 0.0 < max_cell_share <= 1.0:
        raise ValueError("balance_clusters: max_cell_share must be in (0, 1]")
    if target_rows_per_cell is not None and target_rows_per_cell < 1:
        raise ValueError("balance_clusters: target_rows_per_cell must be >= 1")
    from zeek_duckdb_spark.operators.kmeans import _argmax_cell
    from zeek_duckdb_spark.operators.similarity import quantize_embeddings

    extra = tuple(c for c in df.columns if c not in (id_col, vec_col))
    dq = quantize_embeddings(df, id_col, vec_col, keep=(vec_col,) + extra)
    assigned = dq.withColumn(
        "cell",
        F.when(F.col("nonzero"), _argmax_cell("qvec", cents)).otherwise(
            F.lit(-1)
        ),
    ).drop("qvec", "scale", "nonzero")
    counts = {
        int(r["cell"]): int(r["n"])
        for r in assigned.groupBy("cell").agg(F.count("*").alias("n")).collect()
    }
    total = sum(counts.values())
    if max_cell_share is not None:
        budget = max_cell_share * total
    else:
        budget = float(target_rows_per_cell)
    fractions = _cell_fractions(counts, budget)
    fractions[-1] = 1.0  # degenerate rows always kept
    return stratified_sample(
        assigned, id_col, "cell", fractions, default=1.0, seed=seed
    )


def shard_corpus(
    df: DataFrame,
    n_shards: int,
    key_col: str = "doc_id",
    seed: int = 0,
    shard_col: str = "shard",
) -> DataFrame:
    """Deterministic shard assignment: ``md5(key:seed) % n_shards``.
    Same key -> same shard on every run and cluster size (unlike
    hash-partitioning, whose physical placement varies with
    parallelism).  A pure map; write with ``partitionBy(shard_col)``
    to get stable, reproducible training shards."""
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    from zeek_duckdb_spark.operators.hashutil import md5_long

    return df.withColumn(
        shard_col,
        md5_long(F.concat_ws(":", F.col(key_col).cast("string"), F.lit(str(seed))))
        % F.lit(n_shards),
    )


def epoch_shuffle(
    df: DataFrame,
    epoch: int,
    key_col: str = "doc_id",
    n_shards: int = 256,
    seed: int = 0,
    order_col: str = "epoch_order",
) -> DataFrame:
    """Deterministic training-order shuffle for one epoch: every row
    gets a reproducible pseudo-random rank ``md5(key:epoch:seed)``,
    rows land in ``md5``-assigned shards and are SORTED WITHIN each
    shard — one repartition exchange plus per-shard local sorts, never
    a global sort (a total order across 100 TB is pointless for a data
    loader that reads shard files independently; per-shard order plus
    randomized shard assignment is the standard layout).

    Same (epoch, seed) -> the identical order on any cluster size;
    different epochs decorrelate completely (the epoch is folded into
    the hash, not added to it).  Write the result with
    ``partitionBy("epoch_shard")`` — readers then stream shards in
    filename order and rows in file order to replay the exact epoch.

    Output: input columns + ``epoch_shard`` + ``order_col`` (the rank,
    kept so downstream re-sorts/merges can preserve the order after
    joins)."""
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    from zeek_duckdb_spark.operators.hashutil import md5_long

    rank = md5_long(
        F.concat_ws(
            ":", F.col(key_col).cast("string"), F.lit(str(epoch)), F.lit(str(seed))
        )
    )
    out = df.withColumn(order_col, rank).withColumn(
        "epoch_shard", (F.col(order_col) % F.lit(n_shards)).cast("int")
    )
    return (
        out.repartition(n_shards, "epoch_shard")
        .sortWithinPartitions("epoch_shard", order_col)
    )


def pack_sequences(
    df: DataFrame,
    seq_len: int,
    n_shards: int = 1,
    id_col: str = "doc_id",
    token_col: str = "n_tokens",
    seed: int = 0,
) -> DataFrame:
    """Concat-and-chunk sequence packing — the final layout step of an
    LLM training pipeline: documents are laid head-to-tail in a
    deterministic order and cut into ``seq_len``-token training
    sequences.  Adds three columns:

    - ``shard``: deterministic md5 shard of the id (:func:`shard_corpus`);
    - ``seq_id``: which training sequence (within the shard) this
      document STARTS in — ``start_offset DIV seq_len`` where
      start_offset is the running token total of all earlier docs in
      (shard, id) order;
    - ``seq_offset``: token position within that sequence
      (``start_offset % seq_len``).

    A document whose tokens straddle a boundary continues into the next
    sequence — exactly the concat-then-chunk model trainers use (no doc
    is dropped or split here; the chunker downstream does the split).

    Scale shape: the ONLY wide operation is a running SUM windowed BY
    SHARD — each shard sorts independently, so parallelism and memory
    are governed by ``n_shards`` (pick shards ≫ executors; a single
    global window over 100 TB would serialize on one task).  All
    arithmetic is integer (exact, engine-portable); the order within a
    shard is the id sort, so the layout is bit-reproducible on any
    cluster."""
    if seq_len < 1:
        raise ValueError("seq_len must be >= 1")
    from pyspark.sql import Window

    # NULL/negative token counts would silently corrupt every later
    # offset in the shard (SUM OVER skips NULLs; negatives walk the
    # layout backwards) — fail loudly at the first bad row instead
    checked = F.when(
        F.col(token_col).isNull() | (F.col(token_col) < 0),
        F.raise_error(
            F.format_string(
                "pack_sequences: %s must be a non-negative token count, got "
                "%s for %s=%s",
                F.lit(token_col),
                F.coalesce(F.col(token_col).cast("string"), F.lit("NULL")),
                F.lit(id_col),
                F.col(id_col).cast("string"),
            )
        ).cast("long"),
    ).otherwise(F.col(token_col))
    sharded = shard_corpus(
        df.withColumn(token_col, checked), n_shards, id_col, seed
    )
    # ROWS frame, not the default RANGE: RANGE includes ORDER BY peers,
    # so duplicate ids in a shard (e.g. a mix_corpora output packed on
    # doc_id instead of mix_key) would BOTH receive the sum of both
    # rows' tokens — overlapping start offsets silently corrupting the
    # layout; ROWS gives the documented head-to-tail running sum (and
    # is cheaper even when ids are unique)
    w = (
        Window.partitionBy("shard")
        .orderBy(F.asc(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(token_col).over(w)
    start = (cum - F.col(token_col)).cast("long")
    return (
        sharded.withColumn("__start", start)
        .withColumn("seq_id", F.expr(f"__start DIV {int(seq_len)}"))
        .withColumn("seq_offset", F.col("__start") % F.lit(int(seq_len)))
        .drop("__start")
    )


def cap_per_group(
    df: DataFrame,
    group_col: str,
    k: int,
    key_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Keep AT MOST ``k`` rows per group, chosen deterministically —
    the crawl staple "max N pages per domain" (Bernoulli sampling
    can't express an exact cap; a cap can't be a pure filter).  Rows
    are ranked inside each group by the md5 sample bucket (+ key
    tie-break), so the kept subset is stable across runs, partitions,
    and cluster sizes, and UNBIASED within the group (hash order is
    arrival-order- and value-independent).

    Scale shape: one row_number window partitioned by the group — the
    shuffle any exact per-group cap must pay.  The window partition
    holds ONE group's rows; a monster group (the reason you're capping)
    makes that partition large.  For adversarial skew, pre-thin the
    monster groups with ``deterministic_sample`` at a fraction safely
    above k/n_group and re-cap — the window then sees the thinned
    groups only.
    """
    if k < 1:
        raise ValueError("cap_per_group: k must be >= 1")
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(
        _sample_bucket(F.col(key_col), seed).asc(), F.col(key_col).asc()
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def temperature_weights(
    sizes: dict[str, int],
    temperature: float,
    budget_rows: int | None = None,
) -> dict[str, float]:
    """Temperature-scaled source weights — the multilingual/multi-source
    rebalancing rule (T5 / mT5, Raffel et al. 2020 §3.4.3): sampling
    probability p_s ∝ n_s^(1/T), so ``temperature=1`` keeps the
    natural proportions, larger T flattens toward uniform (small
    sources up-weighted), T -> infinity is uniform.

    Returns per-source WEIGHTS in :func:`mix_corpora`'s unit (epochs of
    that source): weight_s = target_s / n_s where target_s = budget *
    p_s; with ``budget_rows=None`` the budget is the total corpus size
    (pure re-mix, no net growth).  Weights above 1 mean the source
    repeats (exactly what mix_corpora's epoch mechanics implement);
    driver-side arithmetic over the source-count dict — call
    ``df.count()`` per source or read landing metadata to build it."""
    if not sizes:
        raise ValueError("temperature_weights: sizes is empty")
    if temperature <= 0:
        raise ValueError("temperature_weights: temperature must be > 0")
    for s, n in sizes.items():
        if n <= 0:
            raise ValueError(f"temperature_weights: size for '{s}' must be > 0")
    total = sum(sizes.values())
    budget = total if budget_rows is None else budget_rows
    if budget <= 0:
        raise ValueError("temperature_weights: budget_rows must be > 0")
    powed = {s: n ** (1.0 / temperature) for s, n in sizes.items()}
    z = sum(powed.values())
    return {s: (budget * p / z) / sizes[s] for s, p in powed.items()}


def mix_corpora(
    sources: dict[str, tuple[DataFrame, float]],
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Deterministic weighted source mixing — the epoch knob of a
    training run ("2.5 epochs of wiki, 0.3 of web"): each source's rows
    appear ``floor(weight)`` full times (an ``epoch`` column counts the
    repeats) plus a :func:`deterministic_sample` of the fractional
    remainder, and every emitted row gets a reproducible ``mix_key``
    (md5 of source:epoch:id:seed) to ORDER the training stream by.

    Scale shape: repeats are an in-row ``explode(sequence(...))`` — no
    self-union of scans, one pass per source; the fractional part is a
    pushable hash filter; the global interleave order is just the
    mix_key sort, which downstream consumes per-shard
    (:func:`pack_sequences` on ``mix_key``-derived shards) rather than
    as one global sort.  Same inputs + seed -> byte-identical mix on
    any cluster — resumable training data, not a ``rand()`` roll.

    Output: each source's rows with added ``source``, ``epoch`` (0-based
    repeat index) and ``mix_key`` columns; column sets must match
    across sources (unioned by name).
    """
    from zeek_duckdb_spark.operators.hashutil import md5_long

    if not sources:
        raise ValueError("mix_corpora: sources is empty")
    parts = []
    for name, (df, weight) in sources.items():
        if weight <= 0:
            raise ValueError(f"mix_corpora: weight for '{name}' must be > 0")
        full = int(weight)
        frac = weight - full
        reps = None
        if full > 0:
            reps = df.withColumn(
                "epoch", F.explode(F.sequence(F.lit(0), F.lit(full - 1)))
            )
        if frac > 0:
            # fold the SOURCE NAME into the sample hash key itself:
            # deriving a per-source int seed (e.g. crc32(name) % N)
            # lets two names collide, and since the bucket is keyed on
            # the id alone, colliding sources with overlapping id
            # spaces would make keep/drop decisions correlate — a
            # silently biased mix
            sample_key = F.concat_ws(
                ":", F.lit(name), F.col(id_col).cast("string")
            )
            extra = df.filter(
                _sample_bucket(sample_key, seed) < int(frac * 1_000_000)
            ).withColumn("epoch", F.lit(full))
            reps = extra if reps is None else reps.unionByName(extra)
        part = reps.withColumn("source", F.lit(name))
        part = part.withColumn(
            "mix_key",
            md5_long(
                F.concat_ws(
                    ":",
                    F.lit(name),
                    F.col("epoch").cast("string"),
                    F.col(id_col).cast("string"),
                    F.lit(str(seed)),
                )
            ),
        )
        parts.append(part)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def corpus_profile(
    df: DataFrame,
    text_col: str = "text",
    quantiles: tuple[float, ...] = (0.5, 0.9, 0.99),
    rsd: float = 0.05,
) -> DataFrame:
    """One-pass corpus health profile — the numbers an engineer checks
    BEFORE spending cluster-days on a pipeline run: volume, an
    exact-dup estimate, and the token-length distribution.

    Returns a 1-row frame:

    - ``n_docs``, ``total_chars``, ``total_tokens``, ``avg_tokens``;
    - ``approx_distinct_docs`` — HyperLogLog++ cardinality of the text
      fingerprint (``approx_count_distinct``, relative error ``rsd``),
      and ``approx_exact_dup_ratio`` = 1 - distinct/n: how much exact
      dedup would remove, WITHOUT paying its shuffle;
    - ``tokens_p50/p90/p99`` (or the requested ``quantiles``) —
      Greenwald-Khanna ``percentile_approx`` over token counts.

    Why sketches: the exact versions of these two statistics are the
    only expensive part of profiling (COUNT(DISTINCT) is a full
    shuffle of the fingerprint column; an exact percentile is a global
    sort).  HLL and GK fold into the SAME single aggregate scan as the
    sums — at 100 TB this whole profile is one map-reduce with a
    constant-size state per partition, no second pass, no sort.  Error
    bounds are the standard published ones (HLL: ~rsd; GK percentile:
    rank error 1/accuracy), fine for go/no-go decisions; anything that
    needs exactness downstream (the dedup itself) recomputes exactly.
    """
    t = F.col(text_col)
    toks = F.size(nonempty_tokens(t))
    toked = df.select(
        F.length(t).alias("__chars"),
        toks.alias("__ntok"),
        fingerprint(t).alias("__fp"),
    )
    aggs = [
        F.count("*").alias("n_docs"),
        F.sum("__chars").alias("total_chars"),
        F.sum("__ntok").alias("total_tokens"),
        F.round(F.avg("__ntok"), 4).alias("avg_tokens"),
        F.approx_count_distinct("__fp", rsd).alias("approx_distinct_docs"),
    ] + [
        # accuracy 10000 = rank error 1e-4: exact on bench-scale inputs,
        # still constant-size GK state per partition at 100 TB
        # round-then-format so 0.57 -> p57 (int(0.57*100)=56 would
        # mislabel it) and sub-percent quantiles stay distinct:
        # 0.995 -> p99_5, 0.999 -> p99_9 (int(q*100) would collapse
        # 0.99/0.995/0.999 into three identical duplicate 'p99' columns)
        F.percentile_approx("__ntok", q, 10_000).alias(
            "tokens_p" + ("%g" % round(q * 100, 4)).replace(".", "_")
        )
        for q in quantiles
    ]
    prof = toked.agg(*aggs)
    return prof.withColumn(
        "approx_exact_dup_ratio",
        # clamp at 0: HLL can overestimate distinct on a dup-free
        # corpus, and a negative dup ratio reads as nonsense
        F.greatest(
            F.lit(0.0),
            F.round(
                F.lit(1.0)
                - F.col("approx_distinct_docs")
                / F.nullif(F.col("n_docs"), F.lit(0)),
                6,
            ),
        ),
    )


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_tokens: int = 256,
    overlap: int = 32,
) -> DataFrame:
    """Sliding-window document chunking — the retrieval/embedding prep
    step (RAG corpora, context-window-bounded embedding models):
    each document becomes overlapping windows of at most
    ``max_tokens`` whitespace tokens, stepping ``max_tokens -
    overlap`` tokens per chunk.

    Output: (id, chunk_id, chunk_text, n_tokens), chunk_id 0-based in
    document order; documents with zero tokens produce zero chunks.
    Deterministic and ANSI-restatable (windows are pure arithmetic
    over the token array — no randomness, no state).

    Shape: one materialized tokenize projection + an in-row window
    expansion + one explode — a pure map; the output row count is
    ceil(n/stride) per doc, and no shuffle happens here (write the
    result partitioned/bucketed by whatever the next stage joins on).
    """
    if max_tokens < 1:
        raise ValueError("chunk_documents: max_tokens must be >= 1")
    if not 0 <= overlap < max_tokens:
        raise ValueError(
            "chunk_documents: overlap must be in [0, max_tokens)"
        )
    stride = max_tokens - overlap
    toked = df.select(
        F.col(id_col), nonempty_tokens(F.col(text_col)).alias("__toks")
    ).filter(F.size("__toks") > 0)
    # starts: 1, 1+stride, ... while start <= n (1-based slice indexing)
    # the sequence ends at n - overlap (not n): a start inside the last
    # chunk's overlap region would emit a trailing chunk FULLY CONTAINED
    # in its predecessor (e.g. max_tokens=256, overlap=32, 226-token
    # doc: starts 1 and 225, where chunk 0 already covers the whole
    # doc) — pure duplicate passages in the RAG/embedding corpus.  No
    # token is lost: the last kept start exceeds n - max_tokens, so its
    # chunk reaches the end.  greatest(1, ...) keeps the mandatory
    # first chunk for docs shorter than overlap.
    chunks = F.expr(
        f"transform(sequence(1, greatest(1, size(__toks) - {overlap}), "
        f"{stride}), s -> named_struct("
        f"'chunk_id', CAST((s - 1) / {stride} AS INT), "
        f"'chunk_text', concat_ws(' ', slice(__toks, s, {max_tokens})), "
        f"'n_tokens', least({max_tokens}, size(__toks) - s + 1)))"
    )
    return toked.select(F.col(id_col), chunks.alias("__c")).selectExpr(
        f"`{id_col}`", "inline(__c)"
    )


def weighted_sample_k(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    k: int,
    seed: int = 0,
) -> DataFrame:
    """Exact-size weighted sample WITHOUT replacement in one pass
    (Efraimidis & Spirakis 2006, A-ES): each row draws a deterministic
    uniform u from md5(key:seed) and ranks by the monotone-equivalent
    LOG form ln(u)/w (== ranking u^(1/w)); the top-k ARE a weighted
    sample without replacement.  The mixture-sampling shape ("pick
    exactly 1M docs, quality-score-proportional") that
    ``deterministic_sample`` (Bernoulli, approximate size) and
    ``cap_per_group`` (exact caps, uniform) don't cover.

    Plan shape: a pure JVM row score + global top-k
    (TakeOrderedAndProject — a per-partition heap then a k-row merge,
    NEVER a corpus sort; k is model-sized).  Deterministic: same keys
    + seed -> same sample on any cluster, and the md5-uniform is the
    repo's portable recipe, so a DuckDB oracle restates the whole
    sample ORDER BY round(ln(u), 9) / w DESC LIMIT k.

    Rows with NULL or non-positive weight never win (score -inf
    analog: excluded up front).  Why the log form, and why the
    rounding sits on ln(u) rather than on the final score: the naive
    u^(1/w) collapses for heavy weights (w >~ 1e9, e.g. token counts)
    — scores crowd 1.0 and any fixed-decimal rounding ties them all,
    degrading to the deterministic key tie-break — and underflows to
    0 for tiny fractional weights.  ln(u) is bounded in [-37, 0]
    (u >= 2^-52), so rounding IT to 9 decimals keeps ~1e-10 relative
    precision while absorbing the one-ulp slack java.lang.Math.log vs
    libm log are each allowed; the subsequent IEEE division by w is
    bit-exact and identical on both engines, so gaps scale with 1/w
    but never vanish (doubles hold them down to w ~ 1e290).  Ties
    after rounding break by key for determinism on both sides.
    """
    if k < 1:
        raise ValueError("weighted_sample_k: k must be >= 1")
    return (
        df.filter(
            F.col(weight_col).isNotNull() & (F.col(weight_col) > 0)
        )
        .withColumn("__ws_score", _aes_score(key_col, weight_col, seed))
        .orderBy(F.desc("__ws_score"), F.asc(key_col))
        .limit(k)
        .drop("__ws_score")
    )


def _aes_score(key_col: str, weight_col: str, seed: int) -> Column:
    """The shared A-ES ranking score round(ln(u), 9) / w — see
    :func:`weighted_sample_k` for why the rounding sits on ln(u)."""
    from zeek_duckdb_spark.operators.hashutil import md5_long

    u = (
        md5_long(
            F.concat_ws(
                ":", F.col(key_col).cast("string"), F.lit(f"ws{seed}")
            ),
            chars=13,
        )
        + F.lit(1)
    ) / F.lit(float(1 << 52))  # u in (0, 1]: ln(0) would be -inf for all
    return F.round(F.log(u), 9) / F.col(weight_col).cast("double")


def weighted_sample_k_grouped(
    df: DataFrame,
    group_col: str,
    key_col: str,
    weight_col: str,
    k: int | dict,
    seed: int = 0,
) -> DataFrame:
    """Exactly-``k`` weighted sample without replacement PER GROUP —
    the mixing-pipeline shape "exactly k_s docs per source,
    weight-proportional within the source" (compose the per-source
    budgets from :func:`temperature_weights`; :func:`weighted_sample_k`
    is the global form, :func:`cap_per_group` the uniform exact-cap
    form).  Same A-ES score (ranking round(ln(u), 9)/w == ranking
    u^(1/w)); the per-group top-k is a row_number window partitioned
    by the group — the one shuffle any exact per-group selection must
    pay, keyed on the group like :func:`cap_per_group` (pre-thin
    monster groups the same way if the group sizes are adversarial).

    ``k`` is an int (same budget for every group) or a dict
    ``{group_value: k}`` (groups are model-sized, so the map rides the
    plan as a literal; groups absent from the dict are DROPPED —
    that's what a mixing budget means).  Groups with fewer than k
    positive-weight rows return all of them.  Deterministic and
    oracle-portable exactly like the global form: the DuckDB
    restatement is QUALIFY row_number() OVER (PARTITION BY g ORDER BY
    the same score) <= k."""
    if isinstance(k, dict):
        if not k:
            raise ValueError("weighted_sample_k_grouped: k dict is empty")
        if any(v < 1 for v in k.values()):
            raise ValueError(
                "weighted_sample_k_grouped: every k must be >= 1"
            )
        pairs: list[Column] = []
        for g, kv in k.items():
            pairs += [F.lit(g), F.lit(int(kv))]
        cap = F.create_map(*pairs)[F.col(group_col)]
    else:
        if k < 1:
            raise ValueError("weighted_sample_k_grouped: k must be >= 1")
        cap = F.lit(int(k))
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(
        F.desc("__ws_score"), F.asc(key_col)
    )
    return (
        df.filter(
            F.col(weight_col).isNotNull() & (F.col(weight_col) > 0)
        )
        .withColumn("__ws_score", _aes_score(key_col, weight_col, seed))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= cap)
        .drop("__ws_score", "__rn")
    )
