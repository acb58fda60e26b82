"""Port of /root/reference/test/sql/zeek_inet.test — INET typing,
values, equality against literals, subnet containment (README.md:91-93),
mixed pushdown + post-scan conjunctions."""

import pytest

from pyspark.sql import functions as F

from zeek_duckdb_spark import read_zeek, register
from zeek_duckdb_spark.functions.inet import ip_in_subnet

REF = "/root/reference/data"
KH0 = f"{REF}/known_hosts_20260116_00.00.00-01.00.00-0500.log.gz"


@pytest.fixture(scope="module")
def dns(spark):
    register(spark)
    return read_zeek(spark, f"{REF}/dns.log.gz", inet=True)


def test_inet_values(dns):
    r = dns.select("id_orig_h", "id_resp_h").first()
    assert (r.id_orig_h, r.id_resp_h) == ("10.20.40.41", "8.8.4.4")


def test_inet_equality_literal(dns):
    # reference: addr_col = 'x.x.x.x'::inet  (zeek_inet.test:29-39)
    assert dns.filter(F.col("id_resp_h") == "8.8.4.4").count() == 2
    assert dns.filter(F.col("id_resp_h") == "8.8.8.8").count() == 0


def test_inet_equality_canonicalized_literal(dns, spark):
    # a non-canonical user literal must canonicalize to match scan output
    lit = spark.sql("SELECT inet_canon('8.8.4.4') AS c").first().c
    assert dns.filter(F.col("id_resp_h") == lit).count() == 2


def test_ipv6_in_vector_canonical(dns):
    rows = dns.select("answers").collect()
    flat = [e for r in rows for e in r.answers]
    assert "2620:0:2d0:200::17" in flat


def test_subnet_containment(spark):
    # README.md:91-93: WHERE host_ip <<= '10.21.0.0/16'
    register(spark)
    df = read_zeek(spark, f"{REF}/known_hosts*.gz", inet=True)
    n = df.filter(ip_in_subnet(F.col("host_ip"), F.lit("10.21.0.0/16"))).count()
    assert n == df.count()  # every known_hosts ip is 10.21.x.x
    assert df.filter(ip_in_subnet(F.col("host_ip"), F.lit("192.168.0.0/16"))).count() == 0


def test_subnet_containment_sql(spark):
    register(spark)
    read_zeek(spark, KH0, inet=True).createOrReplaceTempView("kh0")
    n = spark.sql(
        "SELECT COUNT(*) AS n FROM kh0 WHERE ip_in_subnet(host_ip, '10.21.0.0/16')"
    ).first().n
    assert n == 1


def test_mixed_pushdown_and_postscan_conjunction(dns):
    # zeek_inet.test:41-45 — pushable (proto) AND non-pushable (inet fn)
    n = dns.filter(
        (F.col("proto") == "udp")
        & ip_in_subnet(F.col("id_resp_h"), F.lit("8.8.0.0/16"))
    ).count()
    assert n == 2


def test_ip_in_subnet_v6(spark):
    register(spark)
    r = spark.sql(
        "SELECT ip_in_subnet('2620:0:2d0:200::17', '2620:0:2d0::/48') AS a, "
        "       ip_in_subnet('2620:0:2d0:200::17', '10.0.0.0/8') AS b, "
        "       ip_in_subnet('not-an-ip', '10.0.0.0/8') AS c"
    ).first()
    assert r.a is True
    assert r.b is False  # version mismatch -> false
    assert r.c is None   # invalid input -> null


CIDRS = ["10.0.0.0/8", "10.20.0.0/16", "192.168.1.0/24", "2620:0:2d0::/48",
         "fe80::/10", "10.0.0.0/33", "not-a-net", None]


def _generated_addrs():
    import random

    rng = random.Random(17)
    v4 = [f"10.{rng.randrange(0, 30)}.{rng.randrange(256)}.{rng.randrange(256)}"
          for _ in range(150)]
    v4 += [f"192.168.{rng.randrange(0, 3)}.{rng.randrange(256)}" for _ in range(50)]
    v6 = [f"2620:0:2d{rng.randrange(0, 2)}:{rng.randrange(0, 65536):x}::{rng.randrange(1, 99)}"
          for _ in range(60)]
    v6 += [f"fe80::{rng.randrange(0, 65536):x}" for _ in range(20)]
    return v4 + v6 + ["not-an-ip", "10.0.0.256", "", None]


def _subnet_reference(a, c):
    """Sequential ipaddress statement of ip_in_subnet's contract."""
    import ipaddress

    if a is None or c is None:
        return None
    try:
        net = ipaddress.ip_network(c, strict=False)
        ip = ipaddress.ip_address(a)
    except ValueError:
        return None
    return ip.version == net.version and ip in net


def test_ip_in_subnet_matches_ipaddress_on_generated_rows(spark):
    """Several CIDRs (v4, v6, invalid, NULL) in ONE batch against v4,
    v6, invalid and NULL addresses: identical to a row-at-a-time
    ipaddress reference."""
    addrs = _generated_addrs()
    rows = [(i, a, CIDRS[i % len(CIDRS)]) for i, a in enumerate(addrs)]
    df = spark.createDataFrame(rows, "i int, a string, c string").coalesce(1)
    got = {r.i: r.hit for r in df.select(
        "i", ip_in_subnet(F.col("a"), F.col("c")).alias("hit")).collect()}
    want = {i: _subnet_reference(a, c) for i, a, c in rows}
    assert got == want
    assert {True, False, None} <= set(want.values())


def test_ip_in_subnet_parses_each_cidr_once_per_batch(monkeypatch):
    import ipaddress

    import pandas as pd

    addrs = _generated_addrs()
    cidrs = [CIDRS[i % len(CIDRS)] for i in range(len(addrs))]
    want = [_subnet_reference(a, c) for a, c in zip(addrs, cidrs)]
    calls = []
    real = ipaddress.ip_network
    monkeypatch.setattr(ipaddress, "ip_network",
                        lambda *a, **k: calls.append(a[0]) or real(*a, **k))
    got = ip_in_subnet.func(pd.Series(addrs), pd.Series(cidrs))
    assert list(got) == want
    assert sorted(calls) == sorted(c for c in CIDRS if c is not None)


def test_ip_to_bytes_sortable(spark):
    register(spark)
    rows = spark.sql(
        "SELECT ip_to_bytes('10.0.0.2') AS a, ip_to_bytes('10.0.0.10') AS b"
    ).first()
    assert rows.a < rows.b  # byte-wise comparable


def test_ip_prefix_v4_matches_ipaddress_and_stays_jvm(spark):
    import ipaddress
    import random

    from zeek_duckdb_spark.functions.inet import ip_prefix, ip_prefix_v4
    from zeek_duckdb_spark.plans import audit

    rng = random.Random(6)
    addrs = [
        ".".join(str(rng.randrange(256)) for _ in range(4)) for _ in range(200)
    ] + ["10.21.7.136", "255.255.255.255", "0.0.0.0"]
    # leading-zero octets, signs, and padding are rejected by Python's
    # ipaddress, so the JVM fast path must NULL them too (it used to
    # accept '010.1.1.1' via a bare numeric-range check)
    bad = ["fe80::1", "not-an-ip", "1.2.3", "1.2.3.4.5", "300.1.1.1",
           "010.1.1.1", "1.02.3.4", "1.2.3.004", "+1.2.3.4", " 1.2.3.4",
           "1.2.3.4 ", None]
    df = spark.createDataFrame([(a,) for a in addrs + bad], ["a"])
    for bits in (0, 8, 16, 24, 32):
        got = {r.a: r.p for r in df.select(
            "a", ip_prefix_v4(F.col("a"), bits).alias("p")).collect()}
        for a in addrs:
            want = str(ipaddress.ip_network(f"{a}/{bits}", strict=False))
            assert got[a] == want, (a, bits, got[a], want)
        for a in bad:
            if a is not None:
                assert got[a] is None, (a, bits, got[a])
    # v4 fast path is pure JVM; the dual-stack fallback agrees on v4
    plan = audit.physical_plan(df.select(ip_prefix_v4(F.col("a"), 24)))
    assert "Python" not in plan and "Arrow" not in plan
    both = df.select(
        ip_prefix_v4(F.col("a"), 24).alias("fast"),
        ip_prefix(F.col("a"), 24).alias("gen"),
    ).collect()
    for r in both:
        if r.fast is not None:
            assert r.fast == r.gen


def test_ip_prefix_dual_stack_and_sql_registration(spark):
    from zeek_duckdb_spark.functions.inet import ip_prefix, register_inet_functions

    df = spark.createDataFrame(
        [("2001:db8:abcd::1",), ("10.1.2.3",)], ["a"]
    )
    got = {r.a: r.p for r in df.select("a", ip_prefix(F.col("a"), 48).alias("p")).collect()}
    assert got["2001:db8:abcd::1"] == "2001:db8:abcd::/48"
    register_inet_functions(spark)
    df.createOrReplaceTempView("ips")
    r = spark.sql("SELECT ip_prefix(a, 24) AS p FROM ips WHERE a = '10.1.2.3'").first()
    assert r.p == "10.1.2.0/24"
    import pytest as _pytest

    from zeek_duckdb_spark.functions.inet import ip_prefix_v4
    with _pytest.raises(ValueError, match="bits"):
        ip_prefix_v4(F.col("a"), 33)
