"""netflow analytics: DuckDB differentials on the events table plus
handcrafted beaconing/scanning scenarios."""

import itertools
import math
import sys

import duckdb
import pytest
from pyspark.sql import functions as F

from zeek_duckdb_spark.operators.netflow import (
    beacon_scores,
    port_scan_scores,
    top_talkers,
)
from zeek_duckdb_spark.plans import audit

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events(spark):
    return spark.read.parquet(f"{SF}/events.parquet")


def test_top_talkers_matches_duckdb(spark, events):
    got = [
        tuple(r)
        for r in top_talkers(
            events, "user_id", "event_type", bytes_col="value", top_n=20
        ).collect()
    ]
    want = duckdb.connect().execute(
        f"""
        SELECT user_id AS src, event_type AS dst, count(*) AS conns,
               sum(value) AS total_bytes
        FROM read_parquet('{SF}/events.parquet')
        GROUP BY 1, 2 ORDER BY total_bytes DESC, src ASC, dst ASC LIMIT 20
        """
    ).fetchall()
    assert [(a, b, int(c), pytest.approx(float(d), rel=1e-9))
            for a, b, c, d in want] == got


def test_beacon_scores_matches_duckdb(spark, events):
    got = {
        (r.src, r.dst): (r.n_events, r.mean_gap, r.stddev_gap, r.beacon_score)
        for r in beacon_scores(
            events, "user_id", "event_type", "ts", min_events=4
        ).collect()
    }
    want = duckdb.connect().execute(
        f"""
        WITH g AS (
          SELECT user_id AS src, event_type AS dst,
                 epoch(ts) - lag(epoch(ts)) OVER (
                   PARTITION BY user_id, event_type ORDER BY epoch(ts)
                 ) AS gap
          FROM read_parquet('{SF}/events.parquet')
        )
        SELECT src, dst, count(*) AS n_events,
               round(avg(gap), 6) AS mean_gap,
               round(stddev_samp(gap), 6) AS stddev_gap,
               round(stddev_samp(gap) / nullif(avg(gap), 0), 6) AS score
        FROM g GROUP BY src, dst HAVING count(*) >= 4
        """
    ).fetchall()
    assert len(want) == len(got) > 0
    for src, dst, n, mg, sg, sc in want:
        gn, gmg, gsg, gsc = got[(src, dst)]
        assert gn == n
        assert gmg == pytest.approx(float(mg), abs=2e-6)
        assert gsg == pytest.approx(float(sg), abs=2e-6)
        assert gsc == pytest.approx(float(sc), abs=2e-6)


def test_beacon_metronome_scores_lowest(spark):
    rows = []
    for i in range(20):  # perfect 60s beacon
        rows.append(("bot", "c2", 60.0 * i))
    for i in range(20):  # human-jittered traffic
        rows.append(("user", "site", float(i * 60 + (i * 37) % 50)))
    d = spark.createDataFrame(rows, "src string, dst string, ts double")
    out = {r.src: r for r in beacon_scores(d, "src", "dst", "ts").collect()}
    assert out["bot"].beacon_score == 0.0
    assert out["user"].beacon_score > 0.1
    assert out["bot"].mean_gap == 60.0


def test_port_scan_detects_fanout(spark):
    rows = [("scanner", "10.0.0.1", p, float(p)) for p in range(1, 200)]
    rows += [("normal", "10.0.0.2", 443, float(t)) for t in range(50)]
    d = spark.createDataFrame(rows, "src string, dst string, dst_port int, ts double")
    out = port_scan_scores(d, "src", "dst", "dst_port", "ts",
                           bucket_seconds=3600, min_ports=10).collect()
    assert len(out) == 1 and out[0].src == "scanner"
    assert out[0].n_ports == 199 and out[0].n_hosts == 1 and out[0].n_conns == 199


def test_port_scan_matches_duckdb_and_buckets(spark, events):
    got = sorted(
        tuple(r)
        for r in port_scan_scores(
            events, "user_id", "event_type", "event_id", "ts",
            bucket_seconds=86400, min_ports=1,
        ).collect()
    )
    want = duckdb.connect().execute(
        f"""
        SELECT user_id AS src,
               CAST(floor(epoch(ts) / 86400) AS BIGINT) AS bucket,
               count(DISTINCT event_id) AS n_ports,
               count(DISTINCT event_type) AS n_hosts,
               count(*) AS n_conns
        FROM read_parquet('{SF}/events.parquet')
        GROUP BY 1, 2 HAVING count(DISTINCT event_id) >= 1
        """
    ).fetchall()
    assert got == sorted((a, int(b), int(c), int(d), int(e))
                         for a, b, c, d, e in want)


def test_validation_and_plan_shape(spark, events):
    with pytest.raises(ValueError, match="min_events"):
        beacon_scores(events, "user_id", "event_type", "ts", min_events=1)
    with pytest.raises(ValueError, match="bucket_seconds"):
        port_scan_scores(events, "user_id", "event_type", "event_id", "ts",
                         bucket_seconds=0)
    tt = top_talkers(events, "user_id", "event_type", bytes_col="value")
    plan = audit.physical_plan(tt)
    assert "TakeOrderedAndProject" in plan and "Python" not in plan
    assert audit.num_shuffles(tt) == 1


def test_beacon_time_bucket_drops_only_boundary_gaps(spark):
    # perfect 60s beacon sliced at 600s: per-slice lag loses the one
    # boundary gap but the score is still exactly 0
    rows = [("bot", "c2", 60.0 * i) for i in range(40)]
    d = spark.createDataFrame(rows, "src string, dst string, ts double")
    plain = beacon_scores(d, "src", "dst", "ts").collect()[0]
    sliced = beacon_scores(d, "src", "dst", "ts", time_bucket=600.0).collect()[0]
    assert sliced.beacon_score == plain.beacon_score == 0.0
    assert sliced.mean_gap == 60.0 and sliced.n_events == plain.n_events
    with pytest.raises(ValueError, match="time_bucket"):
        beacon_scores(d, "src", "dst", "ts", time_bucket=0)


def test_end_to_end_security_pipeline_round_trip(spark, tmp_path):
    # the full story: scan reference logs -> standing analytics ->
    # land findings back in Zeek wire format -> re-scan and agree
    from zeek_duckdb_spark import read_zeek, write_zeek

    conn = read_zeek(spark, "/root/reference/data/known_hosts_*.log.gz")
    talkers = top_talkers(conn, "host_ip", "kuid", bytes_col="conns_opened",
                          top_n=50)
    beacons = beacon_scores(conn, "host_ip", "kuid", "ts", min_events=2)
    assert talkers.count() > 0 and beacons.count() >= 0
    out = str(tmp_path / "talkers")
    write_zeek(talkers, out, path_name="talkers",
               zeek_types={"src": "addr", "total_bytes": "count"})
    back = read_zeek(spark, f"{out}/*.log")
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, talkers.collect())
    )


@pytest.mark.slow
def test_beacon_stream_matches_batch_after_rotations(spark, tmp_path):
    # feed three rotations through the stateful stream; the LATEST row
    # per pair must equal the batch operator over all data so far —
    # Welford state carries gaps across microbatch boundaries
    import shutil
    import glob as g

    from zeek_duckdb_spark.operators.netflow import beacon_scores_stream
    from zeek_duckdb_spark.sources.datasource import register_zeek_datasource

    register_zeek_datasource(spark)
    src_dir = tmp_path / "in"
    src_dir.mkdir()
    hours = sorted(
        g.glob("/root/reference/data/known_hosts_*.log.gz")
    )
    ckpt = str(tmp_path / "ckpt")

    from zeek_duckdb_spark import read_zeek

    out = str(tmp_path / "scores")

    def run_stream():
        stream = spark.readStream.format("zeek").load(f"{src_dir}/*.log.gz")
        scored = beacon_scores_stream(
            stream, "host_ip", "kuid", "ts", min_events=2
        )
        q = (
            scored.writeStream.foreachBatch(
                lambda df, _bid: df.write.mode("append").parquet(out)
            )
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        q.stop()

    for batch_end in (6, 12):
        for f in hours[:batch_end]:
            shutil.copy(f, src_dir)
        run_stream()
        rows = spark.read.parquet(out).collect()
        # newest emission per pair (update semantics) — state carries
        # across the restart, so round 2 emissions reflect ALL data
        latest = {
            k: max((r for r in rows if (r.src, r.dst) == k),
                   key=lambda r: r.n_events)
            for k in {(r.src, r.dst) for r in rows}
        }
        batch_now = read_zeek(spark, f"{src_dir}/*.log.gz")
        from zeek_duckdb_spark.operators.netflow import beacon_scores

        want = {
            (r.src, r.dst): r
            for r in beacon_scores(
                batch_now, "host_ip", "kuid", "ts", min_events=2
            ).collect()
        }
        assert set(latest) == set(want)
        for k, wr in want.items():
            gr = latest[k]
            assert gr.n_events == wr.n_events, k
            assert gr.mean_gap == pytest.approx(wr.mean_gap, abs=2e-6)
            if wr.stddev_gap is not None:
                assert gr.stddev_gap == pytest.approx(wr.stddev_gap, abs=2e-6)
            if wr.beacon_score is not None:
                assert gr.beacon_score == pytest.approx(wr.beacon_score, abs=2e-6)


# --- DNS tunneling ------------------------------------------------------

def test_char_entropy_known_values(spark):
    from zeek_duckdb_spark.operators.netflow import char_entropy

    d = spark.createDataFrame(
        [("aaaa",), ("abab",), ("abcd",), ("",)], "s string"
    )
    got = {r.s: r.e for r in d.select("s", char_entropy("s").alias("e")).collect()}
    assert got["aaaa"] == pytest.approx(0.0)
    assert got["abab"] == pytest.approx(1.0)
    assert got["abcd"] == pytest.approx(2.0)
    assert got[""] == 0.0


def test_dns_tunneling_ranks_encoded_subdomains(spark):
    import random

    from zeek_duckdb_spark.operators.netflow import dns_tunneling_scores

    rng = random.Random(2)
    rows = []
    # tunneling bot: long random-hex subdomains under one domain
    for _ in range(30):
        sub = "".join(rng.choice("0123456789abcdef") for _ in range(40))
        rows.append(("bot", f"{sub}.evil.example.com"))
    # normal client: few short, repeated names
    for _ in range(30):
        rows.append(("user", rng.choice(["www.example.com", "mail.example.com"])))
    d = spark.createDataFrame(rows, "src string, qname string")
    out = {r.src: r for r in dns_tunneling_scores(d, min_queries=5).collect()}
    assert out["bot"].tunnel_score > 10 * out["user"].tunnel_score
    assert out["bot"].n_subdomains == 30 and out["user"].n_subdomains == 2
    assert out["bot"].domain == "example.com"
    with pytest.raises(ValueError, match="min_queries"):
        dns_tunneling_scores(d, min_queries=0)


def test_dns_tunneling_matches_duckdb(spark):
    import duckdb

    from zeek_duckdb_spark.operators.netflow import dns_tunneling_scores

    rows = [
        ("a", "x9k2.example.com"), ("a", "zz.example.com"),
        ("a", "deadbeef01.example.com"), ("a", "example.com"),
        ("a", "q.other.net"), ("b", "abc.example.com"),
        ("a", "mail.example.com"),
    ]
    d = spark.createDataFrame(rows, "src string, qname string")
    got = sorted(
        tuple(r) for r in dns_tunneling_scores(d, min_queries=1).collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE q AS SELECT * FROM (VALUES " + ", ".join(
        f"('{s}', '{n}')" for s, n in rows
    ) + ") t(src, qname)")
    want = con.execute(
        """
        WITH base AS (
          SELECT src,
            CASE WHEN len(string_split(lower(qname), '.')) >= 2
                 THEN array_to_string(string_split(lower(qname), '.')[-2:], '.')
                 ELSE lower(qname) END AS domain,
            lower(qname) AS q
          FROM q
        ), subs AS (
          SELECT src, domain,
            CASE WHEN len(q) > len(domain) + 1
                 THEN q[1 : len(q) - len(domain) - 1] ELSE '' END AS sub
          FROM base
        ), ent AS (
          SELECT src, domain, sub, len(sub) AS l,
            coalesce((
              SELECT sum((cnt::DOUBLE / tot) * log2(tot::DOUBLE / cnt))
              FROM (
                SELECT count(*) AS cnt, sum(count(*)) OVER () AS tot
                FROM unnest(string_split(sub, '')) AS u(ch)
                WHERE sub != '' GROUP BY ch
              )
            ), 0.0) AS e
          FROM subs
        )
        SELECT src, domain, count(*) AS n_queries,
               count(DISTINCT sub) AS n_subdomains,
               round(avg(l), 6) AS avg_sub_len,
               round(avg(e), 6) AS avg_entropy,
               round(round(avg(e), 6) * round(avg(l), 6), 6) AS tunnel_score
        FROM ent GROUP BY src, domain
        """
    ).fetchall()
    assert got == sorted(
        (a, b, int(c), int(d_), float(e), float(f), float(g))
        for a, b, c, d_, e, f, g in want
    )


def test_dns_tunneling_trailing_dot_fqdn(spark):
    from zeek_duckdb_spark.operators.netflow import dns_tunneling_scores

    d = spark.createDataFrame(
        [("a", "www.example.com."), ("a", "mail.example.com"),
         ("a", "x.other.net.")],
        "src string, qname string",
    )
    out = {r.domain for r in dns_tunneling_scores(d, min_queries=1).collect()}
    assert out == {"example.com", "other.net"}  # no bogus 'com.' pool


# --- Arrow entropy kernel ------------------------------------------------

def test_entropy_batch_np_known_values():
    import numpy as np

    from zeek_duckdb_spark.operators.netflow import _entropy_batch_np

    got = _entropy_batch_np(["aaaa", "abab", "abcd", "", None, "aab"])
    assert got[0] == pytest.approx(0.0)
    assert got[1] == pytest.approx(1.0)
    assert got[2] == pytest.approx(2.0)
    assert got[3] == 0.0 and got[4] == 0.0
    # p = (2/3, 1/3): H = 2/3*log2(3/2) + 1/3*log2(3)
    assert got[5] == pytest.approx(2 / 3 * np.log2(1.5) + 1 / 3 * np.log2(3))


def _seq_entropy(s):
    """Reference entropy: one run-length pass over the sorted chars,
    accumulating p*log2(1/p) per run in order."""
    cs = sorted(s or "")
    acc = 0.0
    for _, run in itertools.groupby(cs):
        r = len(list(run))
        acc += (r / len(cs)) * (math.log2(len(cs)) - math.log2(r))
    return acc


def test_char_entropy_kernels_agree(spark):
    """The Arrow kernel accumulates in the same sorted-char order as
    the sequential reference fold (incl. unicode + repeats)."""
    from zeek_duckdb_spark.operators.netflow import char_entropy

    vals = [
        "aaaa", "abab", "abcd", "", "x", "banana", "deadbeef0123456789",
        "zzzzzzzzzzzzzzzzzzzzzzzzyx", "ü-mixed-ünïcode", "a.b-c_d",
        "0123456789" * 5, "the quick brown fox jumps over the lazy dog",
    ]
    d = spark.createDataFrame([(v,) for v in vals], "s string")
    rows = d.select("s", char_entropy("s").alias("e_arrow")).collect()
    assert len(rows) == len(vals)
    for r in rows:
        assert r.e_arrow == pytest.approx(_seq_entropy(r.s), abs=1e-12), r.s


def test_dns_tunneling_kernels_agree(spark):
    """The operator equals its projection + aggregate with the entropy
    taken from the sequential reference fold (a plain Python UDF)."""
    import random

    from zeek_duckdb_spark.operators.netflow import (
        _dns_prepare,
        dns_tunneling_scores,
    )

    rng = random.Random(7)
    rows = []
    for i in range(200):
        sub = "".join(rng.choice("abcdefgh0123") for _ in range(rng.randint(0, 30)))
        dom = rng.choice(["evil.example.com", "ok.net", "plain.org"])
        rows.append((f"h{i % 9}", f"{sub}.{dom}" if sub else dom))
    d = spark.createDataFrame(rows, "src string, qname string")
    a = sorted(tuple(r) for r in dns_tunneling_scores(d, min_queries=1).collect())
    # the reference UDF lives in this test module, which the Python
    # workers cannot import: ship it by value
    from pyspark import cloudpickle

    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    ent = F.udf(_seq_entropy, "double")
    ref = (
        _dns_prepare(d, "src", "qname", None)
        .groupBy("src", "domain")
        .agg(
            F.count("*").alias("n_queries"),
            F.count_distinct("__sub").alias("n_subdomains"),
            F.round(F.avg(F.length("__sub")), 6).alias("avg_sub_len"),
            F.round(F.avg(ent("__sub")), 6).alias("avg_entropy"),
        )
        .withColumn(
            "tunnel_score",
            F.round(F.col("avg_entropy") * F.col("avg_sub_len"), 6),
        )
    )
    try:
        assert a == sorted(tuple(r) for r in ref.collect())
    finally:
        cloudpickle.unregister_pickle_by_value(sys.modules[__name__])


def test_dns_tunneling_psl_grouping(spark):
    """Multi-label TLDs group under the true registrable domain with
    psl=True; the naive rule pools them under 'co.uk'."""
    from zeek_duckdb_spark.operators.netflow import dns_tunneling_scores

    rows = [
        ("h1", "a.example.co.uk"), ("h1", "b.example.co.uk"),
        ("h1", "x.other.co.uk"), ("h1", "y.other.co.uk"),
        ("h1", "www.plain.com"),
    ]
    d = spark.createDataFrame(rows, "src string, qname string")
    naive = {r.domain for r in dns_tunneling_scores(d, min_queries=1).collect()}
    psl = {r.domain: r.n_queries
           for r in dns_tunneling_scores(d, min_queries=1, psl=True).collect()}
    assert naive == {"co.uk", "plain.com"}
    assert psl == {"example.co.uk": 2, "other.co.uk": 2, "plain.com": 1}


# --- streaming DNS tunneling --------------------------------------------

def test_dns_tunneling_stream_matches_batch(spark, tmp_path):
    """Latest emission per pair across two microbatches == the batch
    operator on the concatenated data (below the KMV threshold the
    distinct count is exact and the rounding composition is mirrored)."""
    import json

    from zeek_duckdb_spark.operators.netflow import (
        dns_tunneling_scores,
        dns_tunneling_scores_stream,
    )

    b0 = [
        ("bot", f"{'deadbeef%02d' % i}.evil.com") for i in range(6)
    ] + [("user", "www.ok.org"), ("user", "mail.ok.org")]
    b1 = [
        ("bot", f"{'feedface%02d' % i}.evil.com") for i in range(6)
    ] + [("user", "www.ok.org"), ("user", "app.ok.org"), ("user", "cdn.ok.org")]

    src = tmp_path / "in"
    src.mkdir()
    with open(src / "b0.json", "w") as f:
        for s, q in b0:
            f.write(json.dumps({"src": s, "qname": q}) + "\n")

    stream = spark.readStream.schema("src string, qname string").json(str(src))
    out = dns_tunneling_scores_stream(stream, min_queries=3)
    q = (
        out.writeStream.format("memory")
        .queryName("dns_stream")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        with open(src / "b1.json", "w") as f:
            for s, qq in b1:
                f.write(json.dumps({"src": s, "qname": qq}) + "\n")
        q.processAllAvailable()
    finally:
        q.stop()

    emitted = spark.sql("SELECT * FROM dns_stream").collect()
    latest = {}
    for r in emitted:  # memory sink appends updates in order; last wins
        latest[(r.src, r.domain)] = r

    batch_df = spark.createDataFrame(b0 + b1, "src string, qname string")
    want = {
        (r.src, r.domain): r
        for r in dns_tunneling_scores(batch_df, min_queries=3).collect()
    }
    assert set(latest) == set(want)
    for k, w in want.items():
        g = latest[k]
        assert g.n_queries == w.n_queries, k
        assert g.n_subdomains == w.n_subdomains, k
        assert g.avg_sub_len == pytest.approx(w.avg_sub_len, abs=1e-6), k
        assert g.avg_entropy == pytest.approx(w.avg_entropy, abs=1e-6), k
        assert g.tunnel_score == pytest.approx(w.tunnel_score, abs=1e-5), k
    # and the tunneling pair is ranked on top
    assert latest[("bot", "evil.com")].tunnel_score > \
        latest[("user", "ok.org")].tunnel_score * 5


def test_dns_tunneling_stream_kmv_bounds_state(spark, tmp_path):
    """Above kmv_k distinct subdomains the sketch estimates within
    ~1/sqrt(k) while exact fields stay exact — bounded state on
    exactly the traffic the detector hunts."""
    import json

    from zeek_duckdb_spark.operators.netflow import dns_tunneling_scores_stream

    n = 1200
    rows = [("bot", f"x{i:06d}.evil.com") for i in range(n)]
    src = tmp_path / "in"
    src.mkdir()
    with open(src / "b0.json", "w") as f:
        for s, q in rows:
            f.write(json.dumps({"src": s, "qname": q}) + "\n")
    stream = spark.readStream.schema("src string, qname string").json(str(src))
    out = dns_tunneling_scores_stream(stream, min_queries=3, kmv_k=64)
    q = (
        out.writeStream.format("memory")
        .queryName("dns_kmv")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    r = spark.sql("SELECT * FROM dns_kmv").collect()[-1]
    assert r.n_queries == n                     # exact
    assert abs(r.n_subdomains - n) / n < 0.4    # sketch estimate (k=64)
    assert r.avg_sub_len == pytest.approx(7.0)  # 'x000000' = 7 chars exact

    import pytest as _pytest
    from zeek_duckdb_spark.operators.netflow import dns_tunneling_scores_stream as s2
    with _pytest.raises(ValueError, match="kmv_k"):
        s2(stream, kmv_k=1)
