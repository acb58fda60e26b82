"""INET function family — the one non-built-in type in the reference.

The reference maps Zeek ``addr``/``subnet`` to DuckDB's INET type
(src/zeek_reader.cpp:144-154) and its corpus exercises equality against
INET literals and ``<<=`` subnet containment (test/sql/zeek_inet.test,
README.md:91-93).  Spark has no INET type, so this engine represents
addresses as **canonical text** plus a registered function family
(SURVEY.md §2.9):

- scan path (``inet=true``): a pure-JVM normalization (lowercase
  IPv6) — Zeek itself emits canonical form, so this is a near-no-op
  that keeps the 100 TB hot path out of Python.  ``read_zeek`` and
  ``read_zeek_stream`` emit it as SQL text inside their cast projection
  (sources/zeek.py ``_cast_scalar``); :func:`inet_canon_col` is the same
  rule as a Column, kept public for users' own frames;
- literal / user-input path: ``inet_canon`` (full RFC canonicalization
  via :mod:`ipaddress`), ``ip_in_subnet``, ``ip_to_bytes``,
  ``ip_version`` as Arrow-vectorized pandas UDFs (batch transfer, not
  per-row Python).  ``ip_to_bytes`` yields a 16-byte sortable form
  (IPv4-mapped) for range joins / sorting at scale.
"""

from __future__ import annotations

import ipaddress

import pandas as pd
from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql import types as T

__all__ = [
    "inet_canon_col",
    "register_inet_functions",
    "ip_in_subnet",
    "inet_canon",
    "ip_to_bytes",
    "ip_version",
    "ip_prefix",
    "ip_prefix_v4",
]


def inet_canon_col(col: Column) -> Column:
    """Cheap canonicalization: IPv6 lowercased; IPv4 and CIDR text pass
    through.  Zeek writes addresses in canonical form already (no
    leading zeros, compressed v6), so full re-parsing per row would buy
    nothing and cost a Python roundtrip at 100 TB.  The scan path
    applies the same rule as SQL text and no longer calls this."""
    return F.when(col.contains(":"), F.lower(col)).otherwise(col)


def _canon_one(s):
    if s is None:
        return None
    try:
        if "/" in s:
            return str(ipaddress.ip_network(s, strict=False))
        return str(ipaddress.ip_address(s))
    except ValueError:
        return None


@pandas_udf(T.StringType())
def inet_canon(s: pd.Series) -> pd.Series:
    """Full canonicalization of an address or CIDR string (v4+v6);
    invalid input -> NULL (mirrors DuckDB's INET cast failure)."""
    return s.map(_canon_one)


def _network(cidr):
    try:
        return ipaddress.ip_network(cidr, strict=False)
    except ValueError:
        return None


@pandas_udf(T.BooleanType())
def ip_in_subnet(addr: pd.Series, cidr: pd.Series) -> pd.Series:
    """Spark analogue of DuckDB INET ``addr <<= 'net/prefix'``
    (README.md:91-93).  v4 and v6; version mismatch -> False; invalid
    input -> NULL.  Each distinct CIDR of a batch is parsed once."""
    nets = {c: _network(c) for c in cidr.unique() if c is not None}

    def one(a, c):
        if a is None or c is None or nets[c] is None:
            return None
        try:
            ip = ipaddress.ip_address(a)
        except ValueError:
            return None
        if ip.version != nets[c].version:
            return False
        return ip in nets[c]

    return pd.Series([one(a, c) for a, c in zip(addr, cidr)], dtype="object")


@pandas_udf(T.BinaryType())
def ip_to_bytes(addr: pd.Series) -> pd.Series:
    """16-byte big-endian form (IPv4-mapped ::ffff:a.b.c.d) — a sortable,
    equality- and range-comparable normalized key usable for joins,
    sorting, and bucketing at scale."""

    def one(a):
        if a is None:
            return None
        try:
            ip = ipaddress.ip_address(a)
        except ValueError:
            return None
        if ip.version == 4:
            ip = ipaddress.IPv6Address("::ffff:" + a)
        return ip.packed

    return addr.map(one)


@pandas_udf(T.IntegerType())
def ip_version(addr: pd.Series) -> pd.Series:
    def one(a):
        if a is None:
            return None
        try:
            return ipaddress.ip_address(a).version
        except ValueError:
            return None

    return addr.map(one).astype("object")


def ip_prefix_v4(addr: Column, bits: int) -> Column:
    """Canonical /bits network of an IPv4 TEXT column as a pure JVM
    expression (split octets -> mask -> rejoin) — the GROUP BY /24 knob
    for host-aggregation queries, with no Python in the 100 TB path.
    Non-IPv4 inputs (v6, malformed) yield NULL; use :func:`ip_prefix`
    for the dual-stack general form."""
    if not 0 <= bits <= 32:
        raise ValueError("bits must be in [0, 32]")
    o = F.split(addr, r"\.")
    n = (
        F.element_at(o, 1).try_cast("long") * F.lit(1 << 24)
        + F.element_at(o, 2).try_cast("long") * F.lit(1 << 16)
        + F.element_at(o, 3).try_cast("long") * F.lit(1 << 8)
        + F.element_at(o, 4).try_cast("long")
    )
    mask = F.lit(((1 << 32) - 1) ^ ((1 << (32 - bits)) - 1) if bits else 0)
    m = n.bitwiseAND(mask)
    net = F.concat_ws(
        ".",
        (m / F.lit(1 << 24)).cast("long").cast("string"),
        F.pmod((m / F.lit(1 << 16)).cast("long"), F.lit(256)).cast("string"),
        F.pmod((m / F.lit(1 << 8)).cast("long"), F.lit(256)).cast("string"),
        F.pmod(m, F.lit(256)).cast("string"),
    )
    ok = (
        (F.size(o) == 4)
        & n.isNotNull()
        & F.forall(
            o,
            # the cast round-trip rejects leading-zero octets ('010'),
            # signs, and padding, which Python's ipaddress (the
            # ip_prefix path this must agree with) also rejects — a
            # bare between() would silently accept '010.1.1.1'
            lambda x: x.try_cast("long").between(0, 255)
            & (x == x.try_cast("long").cast("string")),
        )
    )
    return F.when(ok, F.concat(net, F.lit(f"/{bits}")))


@pandas_udf(T.StringType())
def _ip_prefix_udf(addr: pd.Series, bits: pd.Series) -> pd.Series:
    def one(a, b):
        if a is None or b is None:
            return None
        try:
            return str(
                ipaddress.ip_network(f"{a}/{int(b)}", strict=False)
            )
        except ValueError:
            return None

    return pd.Series([one(a, b) for a, b in zip(addr, bits)])


def ip_prefix(addr: Column, bits: Column | int) -> Column:
    """Dual-stack /bits network of an address column (Arrow-vectorized
    :mod:`ipaddress` path; malformed -> NULL).  For pure-IPv4 corpora
    prefer :func:`ip_prefix_v4` — same answer, zero Python."""
    b = F.lit(bits) if isinstance(bits, int) else bits
    return _ip_prefix_udf(addr, b)


def register_inet_functions(spark: SparkSession) -> None:
    """Session-level registration (the Spark analogue of loading the
    DuckDB ``inet`` extension, src/zeek_reader.cpp:144-154)."""
    spark.udf.register("inet_canon", inet_canon)
    spark.udf.register("ip_in_subnet", ip_in_subnet)
    spark.udf.register("ip_to_bytes", ip_to_bytes)
    spark.udf.register("ip_version", ip_version)
    spark.udf.register("ip_prefix", _ip_prefix_udf)
