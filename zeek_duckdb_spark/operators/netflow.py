"""Network-traffic analytics over Zeek-shaped event tables — the
standing queries a security team runs on conn logs once they are
scanned (read_zeek) or landed as parquet.  The reference provides the
SCAN; these are the canonical analyses on top of it, expressed as
one-aggregate-pass Spark plans.

All three operators are plain relational algebra (oracle-restatable in
ANSI SQL — differential-tested against DuckDB) and share one scale
shape: a single groupBy over (entity key) with map-side partial
aggregation, no self-joins; the one window (beacon gaps) is bounded
per pair and carries a ``time_bucket`` skew bound for monster pairs.

- :func:`top_talkers` — bytes/connections per (src, dst) pair, top-N
  by volume: one hash aggregate + TakeOrderedAndProject.
- :func:`beacon_scores` — command-and-control beaconing heuristic:
  malware phones home on a timer, so a beaconing pair's inter-arrival
  gaps have LOW relative variance.  Gaps come from one lag window per
  pair (partition = the pair's own rows, naturally bounded by that
  pair's traffic) and reduce to count/mean/stddev per pair; the score
  is the coefficient of variation (stddev/mean), ascending = more
  regular = more suspicious.  Pairs below ``min_events`` connections
  are excluded (too few gaps to judge regularity).
- :func:`port_scan_scores` — horizontal/vertical scan detection:
  distinct destination ports (and hosts) per source within a time
  bucket.  Distinct-counting is exact via the two-level aggregate
  (src, bucket, port) -> (src, bucket), both map-side combinable —
  never a count(distinct) over a skewed exploded stream.
"""

from __future__ import annotations

# module-global so pandas_udf can resolve stringized `pd.Series` type
# hints (future-annotations keeps them strings; pyspark resolves them
# against the defining module's globals)
import pandas as pd  # noqa: F401

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from zeek_duckdb_spark.operators.timeutil import ts_seconds

__all__ = [
    "top_talkers",
    "beacon_scores",
    "beacon_scores_stream",
    "port_scan_scores",
    "dns_tunneling_scores",
    "dns_tunneling_scores_stream",
    "char_entropy",
]


def top_talkers(
    df: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    bytes_col: str | None = None,
    top_n: int = 100,
) -> DataFrame:
    """Top-``top_n`` (src, dst) pairs: ``conns`` count and, when
    ``bytes_col`` is given, ``total_bytes`` (ordering key).  Ordering
    ties break to (src, dst) ascending — deterministic."""
    aggs = [F.count("*").alias("conns")]
    if bytes_col is not None:
        aggs.append(F.sum(bytes_col).alias("total_bytes"))
    out = df.groupBy(F.col(src_col).alias("src"), F.col(dst_col).alias("dst")).agg(
        *aggs
    )
    key = "total_bytes" if bytes_col is not None else "conns"
    return out.orderBy(F.desc(key), F.asc("src"), F.asc("dst")).limit(top_n)


def beacon_scores(
    df: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    ts_col: str = "ts",
    min_events: int = 4,
    time_bucket: float | None = None,
) -> DataFrame:
    """Per (src, dst): ``n_events``, ``mean_gap``, ``stddev_gap`` (of
    consecutive inter-arrival gaps, sample stddev), and
    ``beacon_score`` = stddev/mean (coefficient of variation, rounded
    6dp; NULL when mean is 0).  Low score = metronomic traffic.

    Timestamps may be numeric (seconds) or TimestampType (gaps in
    seconds via unix_micros).  One lag window per pair + one aggregate.

    A pair's window partition holds only its own events — which is
    still unbounded for a monster pair (a proxy talking to a popular
    site).  ``time_bucket`` (seconds) is the skew bound: the lag then
    runs per (pair, time slice), dropping exactly ONE gap per slice
    boundary — statistically negligible for regularity scoring when
    the slice is much longer than the beacon period (the asof_join
    time_bucket idea applied to a heuristic where exactness across
    slices is not needed)."""
    if min_events < 2:
        raise ValueError("beacon_scores: min_events must be >= 2 (need gaps)")
    t = ts_seconds(df, ts_col)
    part = [F.col(src_col), F.col(dst_col)]
    if time_bucket is not None:
        if not time_bucket > 0:
            raise ValueError("beacon_scores: time_bucket must be > 0")
        part.append(F.floor(t / F.lit(float(time_bucket))))
    w = Window.partitionBy(*part).orderBy(t)
    gapped = df.select(
        F.col(src_col).alias("src"),
        F.col(dst_col).alias("dst"),
        (t - F.lag(t).over(w)).alias("__gap"),
    )
    out = (
        gapped.groupBy("src", "dst")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.avg("__gap"), 6).alias("mean_gap"),
            F.round(F.stddev_samp("__gap"), 6).alias("stddev_gap"),
        )
        .filter(F.col("n_events") >= min_events)
    )
    return out.withColumn(
        "beacon_score",
        F.round(
            F.col("stddev_gap") / F.nullif(F.col("mean_gap"), F.lit(0.0)), 6
        ),
    )


def port_scan_scores(
    df: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    port_col: str = "dst_port",
    ts_col: str = "ts",
    bucket_seconds: float = 3600.0,
    min_ports: int = 10,
) -> DataFrame:
    """Per (src, time bucket): ``n_ports`` (distinct destination
    ports), ``n_hosts`` (distinct destination hosts), ``n_conns`` —
    sources probing >= ``min_ports`` ports in a bucket.  Bucket is
    ``floor(ts / bucket_seconds)`` (epoch-relative, deterministic).

    Exact distincts WITHOUT count(distinct) skew: first aggregate to
    (src, bucket, port, host) cells — map-side combinable, a scanning
    source's fan-out IS the cell count — then count cells per (src,
    bucket).  Both shuffles carry pre-reduced rows."""
    if not bucket_seconds > 0:
        raise ValueError("port_scan_scores: bucket_seconds must be > 0")
    t = ts_seconds(df, ts_col)
    bucket = F.floor(t / F.lit(float(bucket_seconds))).cast("long")
    cells = (
        df.select(
            F.col(src_col).alias("src"),
            bucket.alias("bucket"),
            F.col(dst_col).alias("dst"),
            F.col(port_col).alias("port"),
        )
        .groupBy("src", "bucket", "dst", "port")
        .agg(F.count("*").alias("__n"))
    )
    return (
        cells.groupBy("src", "bucket")
        .agg(
            F.count_distinct("port").alias("n_ports"),
            F.count_distinct("dst").alias("n_hosts"),
            F.sum("__n").alias("n_conns"),
        )
        .filter(F.col("n_ports") >= min_ports)
    )


def beacon_scores_stream(
    events: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    ts_col: str = "ts",
    min_events: int = 4,
):
    """Streaming twin of :func:`beacon_scores`: per-(src, dst) gap
    statistics maintained INCREMENTALLY across microbatches with
    ``applyInPandasWithState`` — the standing C2 watch on a live
    rotation feed, state per pair = (last_ts, n_events, n_gaps, mean,
    M2), i.e. Welford's online algorithm, so stddev needs neither the
    gap history nor a second pass.

    Emits one updated (src, dst, n_events, mean_gap, stddev_gap,
    beacon_score) row per active pair per microbatch once the pair has
    ``min_events`` events (update semantics — newest row per pair
    wins).  Scores equal the batch operator's on the same prefix of
    data (parity-tested) PROVIDED batches arrive in event-time order
    per pair — the rotation file stream's natural order; late
    cross-batch events would compute a negative gap exactly as
    re-running the batch operator on out-of-order concatenation would.

    State is O(1) per pair forever — no timeout/eviction here because
    a beacon hunt WANTS long-lived pairs; compose with a TTL policy
    upstream if pair cardinality is unbounded.
    """
    from typing import Iterator

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql import types as T

    if min_events < 2:
        raise ValueError("beacon_scores_stream: min_events must be >= 2")

    t = ts_seconds(events, ts_col)
    prepared = events.select(
        F.col(src_col).cast("string").alias("src"),
        F.col(dst_col).cast("string").alias("dst"),
        t.alias("__t"),
    )

    out_schema = T.StructType(
        [
            T.StructField("src", T.StringType()),
            T.StructField("dst", T.StringType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("mean_gap", T.DoubleType()),
            T.StructField("stddev_gap", T.DoubleType()),
            T.StructField("beacon_score", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("last_ts", T.DoubleType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("n_gaps", T.LongType()),
            T.StructField("mean", T.DoubleType()),
            T.StructField("m2", T.DoubleType()),
        ]
    )

    def fn(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        src, dst = key
        ts_vals: list[float] = []
        for pdf in pdfs:
            ts_vals.extend(float(v) for v in pdf["__t"])
        if not ts_vals:
            return
        ts_vals.sort()
        if state.exists:
            last_ts, n_events, n_gaps, mean, m2 = state.get
        else:
            last_ts, n_events, n_gaps, mean, m2 = None, 0, 0, 0.0, 0.0
        for v in ts_vals:
            if last_ts is not None:
                gap = v - last_ts
                n_gaps += 1
                delta = gap - mean
                mean += delta / n_gaps
                m2 += delta * (gap - mean)
            last_ts = v
            n_events += 1
        state.update((last_ts, n_events, n_gaps, mean, m2))
        if n_events < min_events:
            return
        # mirror the batch operator's rounding composition exactly:
        # round stats to 6dp, then the ratio, then round again
        mg = round(mean, 6)
        sg = round((m2 / (n_gaps - 1)) ** 0.5, 6) if n_gaps >= 2 else None
        score = round(sg / mg, 6) if (sg is not None and mg != 0) else None
        yield pd.DataFrame(
            {
                "src": [src],
                "dst": [dst],
                "n_events": [n_events],
                "mean_gap": [mg],
                "stddev_gap": [sg],
                "beacon_score": [score],
            }
        )

    return prepared.groupBy("src", "dst").applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _entropy_batch_np(vals) -> "object":
    """Vectorized Shannon entropy (bits/char) for a batch of strings —
    the Arrow kernel behind :func:`char_entropy`.

    One pass over the WHOLE batch, no per-row Python: all codepoints
    concatenate into one uint32 array, a single lexsort groups them by
    (row, codepoint), run-length boundaries give per-(row, char) counts,
    and ``np.add.at`` accumulates each row's p·log2(1/p) terms
    SEQUENTIALLY in sorted-char order — the accumulation order of a
    run-length fold over ``array_sort(split(s, ''))``, the form a SQL
    restatement uses (tests/test_netflow.py pins agreement with a
    sequential reference).  Non-BMP codepoints are counted once here
    but split into surrogate pairs by a JVM ``split`` — DNS names and
    the operators using this are ASCII-domain, documented divergence.
    None/'' -> 0.0."""
    import numpy as np

    n_rows = len(vals)
    ent = np.zeros(n_rows, dtype=np.float64)
    if n_rows == 0:
        return ent
    strs = ["" if v is None else v for v in vals]
    lens = np.fromiter((len(s) for s in strs), dtype=np.int64, count=n_rows)
    total = int(lens.sum())
    if total == 0:
        return ent
    cp = np.frombuffer("".join(strs).encode("utf-32-le"), dtype=np.uint32)
    rows = np.repeat(np.arange(n_rows, dtype=np.int64), lens)
    order = np.lexsort((cp, rows))
    r = rows[order]
    c = cp[order]
    change = np.empty(total, dtype=bool)
    change[0] = True
    change[1:] = (r[1:] != r[:-1]) | (c[1:] != c[:-1])
    starts = np.flatnonzero(change)
    counts = np.diff(np.append(starts, total)).astype(np.float64)
    run_rows = r[starts]
    n = lens[run_rows].astype(np.float64)
    terms = (counts / n) * (np.log2(n) - np.log2(counts))
    # np.add.at applies updates in index order -> per-row sequential
    # accumulation over sorted chars, mirroring the fold exactly
    np.add.at(ent, run_rows, terms)
    return ent


def char_entropy(col_name: str) -> "F.Column":
    """Shannon entropy (bits/char) of a string COLUMN (by name).
    Empty/NULL -> 0.0.

    An Arrow-batched pandas UDF: one numpy codepoint-histogram pass
    per batch (:func:`_entropy_batch_np` — the pq_encode Arrow-kernel
    pattern), measured 2-12x the interpreted SQL fold at 100k+ rows
    (SCALING.md).  Accumulates in sorted-char order, like the DuckDB
    differential's unnest+group restatement."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _ent(s: pd.Series) -> pd.Series:
        return pd.Series(_entropy_batch_np(s.tolist()), index=s.index)

    return _ent(F.col(col_name))


def _dns_prepare(df: DataFrame, src_col: str, qname_col: str, psl) -> DataFrame:
    """Shared (src, domain, __sub) projection of the DNS-tunneling
    family — ONE definition so the batch and streaming operators can't
    drift.  Absolute DNS names end in '.'; stripping it keeps the last
    REAL label as the TLD (otherwise 'www.example.com.' -> domain
    'com.' and every trailing-dot query pools under one fake pair)."""
    from zeek_duckdb_spark.operators.textops import (
        registered_domain,
        registered_domain_psl_col,
    )

    q = F.regexp_replace(F.lower(F.col(qname_col)), r"\.$", "")
    if psl is not None:
        dom = registered_domain_psl_col(q, psl)
    else:
        dom = registered_domain(q)
    pair = df.select(
        F.col(src_col).alias("src"),
        dom.alias("domain"),
        q.alias("__q"),
    )
    sub = F.when(
        F.length("__q") > F.length("domain") + 1,
        F.col("__q").substr(
            F.lit(1), F.length("__q") - F.length("domain") - 1
        ),
    ).otherwise(F.lit(""))
    return pair.select("src", "domain", sub.alias("__sub"))


def dns_tunneling_scores(
    df: DataFrame,
    src_col: str = "src",
    qname_col: str = "qname",
    min_queries: int = 5,
    psl: "object" = None,
) -> DataFrame:
    """DNS-tunneling heuristic per (source, registered domain):
    exfiltration over DNS encodes data in SUBDOMAIN labels, so a
    tunneling pair shows long, high-entropy, rarely-repeated
    subdomains under one domain.

    Output: (src, domain, n_queries, n_subdomains, avg_sub_len,
    avg_entropy, tunnel_score = avg_entropy * avg_sub_len — bits per
    query, descending = suspicious).  Pairs with < ``min_queries``
    queries are excluded.

    Shape: one map projection (registered-domain split + subdomain
    entropy) + one hash aggregate with exact count_distinct over
    pre-reduced rows — the port_scan_scores shuffle budget.

    The subdomain entropy is the numpy batch kernel of
    :func:`char_entropy` (still a zero-shuffle map).

    ``psl=`` (a suffix-rule iterable, a local PSL file path, or True
    for the vendored snapshot — see textops.registered_domain_psl)
    switches domain grouping from the naive last-two-labels rule to
    Public-Suffix-List matching, so ``a.example.co.uk`` and
    ``b.other.co.uk`` stop pooling under one bogus 'co.uk' pair."""
    if min_queries < 1:
        raise ValueError("dns_tunneling_scores: min_queries must be >= 1")
    subbed = _dns_prepare(df, src_col, qname_col, psl)
    base = subbed.select(
        "src",
        "domain",
        F.length("__sub").alias("__len"),
        char_entropy("__sub").alias("__ent"),
        F.col("__sub"),
    )
    out = (
        base.groupBy("src", "domain")
        .agg(
            F.count("*").alias("n_queries"),
            F.count_distinct("__sub").alias("n_subdomains"),
            F.round(F.avg("__len"), 6).alias("avg_sub_len"),
            F.round(F.avg("__ent"), 6).alias("avg_entropy"),
        )
        .filter(F.col("n_queries") >= min_queries)
    )
    return out.withColumn(
        "tunnel_score",
        F.round(F.col("avg_entropy") * F.col("avg_sub_len"), 6),
    )


def dns_tunneling_scores_stream(
    df: DataFrame,
    src_col: str = "src",
    qname_col: str = "qname",
    min_queries: int = 5,
    kmv_k: int = 256,
    psl: "object" = None,
) -> DataFrame:
    """Streaming twin of :func:`dns_tunneling_scores`: the standing
    tunneling watch on a live DNS feed, per-(src, registered domain)
    statistics maintained incrementally with ``applyInPandasWithState``
    (update semantics — newest row per pair wins; same projection as
    the batch operator via the shared ``_dns_prepare``).

    State per pair is BOUNDED: (n_queries, sum_len, sum_entropy) are
    three scalars, and the distinct-subdomain count — which an exact
    operator would grow without bound on exactly the traffic this
    detector hunts — is a K-minimum-values sketch of at most ``kmv_k``
    60-bit hashes (the ``dedup.corpus_overlap`` estimator: EXACT while
    a pair has < kmv_k distinct subdomains, ~1/sqrt(k) relative error
    above — 6% at 256, on a column whose signal is "absurdly many").
    Subdomain entropy uses the numpy batch kernel
    (:func:`_entropy_batch_np`) — the rows are already in Python here.

    Emits (src, domain, n_queries, n_subdomains, avg_sub_len,
    avg_entropy, tunnel_score) with the batch operator's exact
    rounding composition, so below the sketch threshold the latest
    emission per pair matches the batch result on the same prefix
    (parity-tested); above it only n_subdomains is approximate.
    Parity caveat: the entropy sum accumulates in ARRIVAL order here
    while the batch ``F.avg`` folds in its own partition order, so
    ``avg_entropy``/``tunnel_score`` agree within 1 ulp of the
    pre-rounding double — a sum landing exactly on a 6dp rounding
    boundary can flip the last printed digit.  ``math.fsum`` is used
    for the cross-batch fold to keep the accumulated error to that
    single representation ulp rather than letting it grow with batch
    count."""
    from typing import Iterator

    import hashlib
    import math

    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    if min_queries < 1:
        raise ValueError("dns_tunneling_scores_stream: min_queries must be >= 1")
    if not 16 <= kmv_k <= 65536:
        raise ValueError("dns_tunneling_scores_stream: kmv_k must be in [16, 65536]")

    prepared = _dns_prepare(df, src_col, qname_col, psl)

    out_schema = T.StructType(
        [
            T.StructField("src", T.StringType()),
            T.StructField("domain", T.StringType()),
            T.StructField("n_queries", T.LongType()),
            T.StructField("n_subdomains", T.LongType()),
            T.StructField("avg_sub_len", T.DoubleType()),
            T.StructField("avg_entropy", T.DoubleType()),
            T.StructField("tunnel_score", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n_queries", T.LongType()),
            T.StructField("sum_len", T.LongType()),
            T.StructField("sum_ent", T.DoubleType()),
            T.StructField("kmv", T.ArrayType(T.LongType())),
        ]
    )

    def _h60(s: str) -> int:
        return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)

    def fn(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        src, domain = key
        subs: list = []
        for pdf in pdfs:
            subs.extend("" if v is None else str(v) for v in pdf["__sub"])
        if not subs:
            return
        if state.exists:
            n_q, s_len, s_ent, kmv = state.get
            kmv = list(kmv)
        else:
            n_q, s_len, s_ent, kmv = 0, 0, 0.0, []
        ents = _entropy_batch_np(subs)
        n_q += len(subs)
        s_len += sum(len(s) for s in subs)
        # exact within this fold step (fsum is error-free for the
        # batch's entropies + the carried sum); see docstring caveat
        s_ent = math.fsum([s_ent, *ents.tolist()])
        seen = set(kmv)
        seen.update(_h60(s) for s in subs)
        kmv = sorted(seen)[:kmv_k]
        state.update((n_q, s_len, s_ent, kmv))
        if n_q < min_queries:
            return
        if len(kmv) < kmv_k:
            n_sub = len(kmv)
        else:
            n_sub = int((kmv_k - 1) / (kmv[-1] / float(1 << 60)))
        # mirror the batch rounding composition exactly
        avg_len = round(s_len / n_q, 6)
        avg_ent = round(s_ent / n_q, 6)
        yield pd.DataFrame(
            {
                "src": [src],
                "domain": [domain],
                "n_queries": [n_q],
                "n_subdomains": [n_sub],
                "avg_sub_len": [avg_len],
                "avg_entropy": [avg_ent],
                "tunnel_score": [round(avg_ent * avg_len, 6)],
            }
        )

    return prepared.groupBy("src", "domain").applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
