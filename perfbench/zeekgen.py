"""Seeded Zeek log generator for the benchmark.

Writes conn/dns logs in Zeek's TSV wire format (the eight ``#``
directives, ``-`` unset and ``(empty)`` empty markers) and keeps the
records it wrote as pandas frames, so every expected answer is computed
from the same records by DuckDB, independently of the engine under test.

Types covered: time, interval, addr (IPv4 and IPv6), port, count, bool,
enum, string, set[string], vector[string] and vector[interval].

Two corpora:

- ``hunt``: many small hourly-rotated gzip conn logs per sensor
  (``<sensor>/conn.<hour>.log.gz``) plus a ``drift/`` subset that carries
  one extra field (``ip_proto``), for ``union_by_name`` reads.
- ``etl``: a few plain-text (splittable) dns logs.

Output is cached under ``cache_dir`` by corpus, seed and size; a
``done.json`` marker is written last so an interrupted generation is
redone rather than reused.
"""

from __future__ import annotations

import gzip
import json
import os
import shutil

import numpy as np
import pandas as pd

EPOCH0 = 1_767_225_600  # 2026-01-01T00:00:00Z

CONN_FIELDS = [
    ("ts", "time"), ("uid", "string"), ("id.orig_h", "addr"),
    ("id.orig_p", "port"), ("id.resp_h", "addr"), ("id.resp_p", "port"),
    ("proto", "enum"), ("service", "string"), ("duration", "interval"),
    ("orig_bytes", "count"), ("resp_bytes", "count"),
    ("conn_state", "string"), ("local_orig", "bool"),
    ("local_resp", "bool"), ("missed_bytes", "count"),
    ("history", "string"), ("orig_pkts", "count"),
    ("orig_ip_bytes", "count"), ("resp_pkts", "count"),
    ("resp_ip_bytes", "count"), ("tunnel_parents", "set[string]"),
]
DNS_FIELDS = [
    ("ts", "time"), ("uid", "string"), ("id.orig_h", "addr"),
    ("id.orig_p", "port"), ("id.resp_h", "addr"), ("id.resp_p", "port"),
    ("proto", "enum"), ("trans_id", "count"), ("rtt", "interval"),
    ("query", "string"), ("qclass", "count"), ("qclass_name", "string"),
    ("qtype", "count"), ("qtype_name", "string"), ("rcode", "count"),
    ("rcode_name", "string"), ("AA", "bool"), ("TC", "bool"),
    ("RD", "bool"), ("RA", "bool"), ("Z", "count"),
    ("answers", "vector[string]"), ("TTLs", "vector[interval]"),
    ("rejected", "bool"),
]
DRIFT_FIELD = ("ip_proto", "count")

# Subnets the hunt queries probe with ip_in_subnet; the generator
# places a share of responders inside each.
HUNT_V4_NET = "10.20.0.0/16"
HUNT_V6_NET = "2001:db8:20::/48"

_STATES = np.array(["SF", "S0", "REJ", "S1", "RSTO", "OTH"])
_STATE_P = np.array([0.62, 0.14, 0.08, 0.08, 0.05, 0.03])
_SERVICES = np.array(["http", "ssl", "dns", "ssh", "-"])
_HIST = np.array(["ShADadFf", "S", "Sr", "ShADadR", "D", "ShAdDaFf"])
_QTYPES = [(1, "A"), (28, "AAAA"), (5, "CNAME"), (16, "TXT"), (15, "MX")]
_RCODES = [(0, "NOERROR"), (3, "NXDOMAIN"), (2, "SERVFAIL")]
_WORDS = np.array(["mail", "www", "api", "cdn", "login", "static", "edge",
                   "auth", "img", "vpn", "files", "docs", "shop", "news"])
_TLDS = np.array(["example.com", "example.net", "example.org", "test.io"])


def _marked(values: pd.Series, unset_mask: np.ndarray) -> pd.Series:
    out = values.astype(str)
    out[unset_mask] = "-"
    return out


def _fmt_us(us: np.ndarray) -> pd.Series:
    """Exact decimal seconds with 6 fractional digits from integer µs."""
    s = pd.Series(us // 1_000_000).astype(str)
    f = pd.Series(us % 1_000_000).astype(str).str.zfill(6)
    return s + "." + f


def _v4(rng, n, net_share: float, prefix: str = "10.20") -> np.ndarray:
    a = rng.integers(0, 256, size=(n, 2)).astype(str).astype(object)
    tail = a[:, 0] + "." + a[:, 1]
    inside = rng.random(n) < net_share
    return np.where(inside, prefix + "." + tail, "192.168." + tail)


def _v6(rng, n, net_share: float) -> np.ndarray:
    h = rng.integers(1, 0xFFFF, size=(n, 2))
    inside = rng.random(n) < net_share
    hex0 = pd.Series(h[:, 0]).map("{:x}".format).to_numpy()
    hex1 = pd.Series(h[:, 1]).map("{:x}".format).to_numpy()
    return np.where(inside, "2001:db8:20:" + hex0 + "::" + hex1,
                    "2001:db8:99:" + hex0 + "::" + hex1)


def _uids(rng, n: int, tag: str) -> np.ndarray:
    ids = rng.permutation(n * 4)[:n]
    return np.array([f"C{tag}{i:09x}" for i in ids], dtype=object)


def make_conn(rng, n: int, t0_us: int, span_us: int, tag: str) -> pd.DataFrame:
    """n conn records with ts in [t0, t0+span)."""
    ts = np.sort(t0_us + rng.integers(0, span_us, size=n))
    v6 = rng.random(n) < 0.15
    orig = np.where(v6, _v6(rng, n, 0.0), _v4(rng, n, 0.0, "10.1"))
    # orig hosts: a few hundred distinct clients so top talkers repeat
    clients = np.array([f"10.1.{i // 200}.{i % 200}" for i in range(400)],
                       dtype=object)
    orig = np.where(v6, orig, clients[rng.zipf(1.3, n) % len(clients)])
    resp = np.where(v6, _v6(rng, n, 0.3), _v4(rng, n, 0.3))
    state = rng.choice(_STATES, size=n, p=_STATE_P)
    resp_p = rng.choice(np.array([80, 443, 53, 22, 8080]), size=n)
    no_payload = np.isin(state, ["S0", "REJ"]) | (rng.random(n) < 0.05)
    orig_bytes = rng.integers(0, 200_000, size=n)
    resp_bytes = rng.integers(0, 2_000_000, size=n)
    tunnel = np.where(rng.random(n) < 0.02, "Cparent1,Cparent2", "(empty)")
    df = pd.DataFrame({
        "ts_us": ts,
        "uid": _uids(rng, n, tag),
        "orig_h": orig,
        "orig_p": rng.integers(1024, 65536, size=n),
        "resp_h": resp,
        "resp_p": resp_p,
        "proto": np.where(resp_p == 53, "udp", "tcp"),
        "service": rng.choice(_SERVICES, size=n),
        "duration_us": rng.integers(0, 600_000_000, size=n),
        "orig_bytes": orig_bytes,
        "resp_bytes": resp_bytes,
        "conn_state": state,
        "local_orig": rng.random(n) < 0.5,
        "local_resp": rng.random(n) < 0.3,
        "missed_bytes": rng.integers(0, 3, size=n),
        "history": rng.choice(_HIST, size=n),
        "orig_pkts": rng.integers(1, 500, size=n),
        "orig_ip_bytes": rng.integers(40, 300_000, size=n),
        "resp_pkts": rng.integers(0, 2000, size=n),
        "resp_ip_bytes": rng.integers(0, 3_000_000, size=n),
        "tunnel_parents": tunnel,
        "unset_payload": no_payload,
    })
    return df


def conn_text(df: pd.DataFrame, extra: bool = False) -> list[pd.Series]:
    np_ = df["unset_payload"].to_numpy()
    cols = [
        _fmt_us(df["ts_us"].to_numpy()),
        df["uid"], df["orig_h"], df["orig_p"].astype(str),
        df["resp_h"], df["resp_p"].astype(str), df["proto"],
        df["service"],
        _marked(_fmt_us(df["duration_us"].to_numpy()), np_),
        _marked(df["orig_bytes"], np_), _marked(df["resp_bytes"], np_),
        df["conn_state"],
        df["local_orig"].map({True: "T", False: "F"}),
        df["local_resp"].map({True: "T", False: "F"}),
        df["missed_bytes"].astype(str), df["history"],
        df["orig_pkts"].astype(str), df["orig_ip_bytes"].astype(str),
        df["resp_pkts"].astype(str), df["resp_ip_bytes"].astype(str),
        df["tunnel_parents"],
    ]
    if extra:
        cols.append(df["ip_proto"].astype(str))
    return cols


def make_dns(rng, conn: pd.DataFrame) -> pd.DataFrame:
    """One dns record per conn record (same uid, hosts and ts)."""
    n = len(conn)
    q = rng.integers(0, len(_QTYPES), size=n)
    r = np.where(rng.random(n) < 0.85, 0, rng.integers(1, 3, size=n))
    names = (pd.Series(rng.choice(_WORDS, size=n)) + "."
             + pd.Series(rng.choice(_TLDS, size=n)))
    nans = np.where(r == 0, rng.integers(1, 4, size=n), 0)
    answers, ttls = [], []
    for i in range(n):
        k = int(nans[i])
        if k == 0:
            answers.append("-" if i % 2 else "(empty)")
            ttls.append("-" if i % 2 else "(empty)")
            continue
        answers.append(",".join(f"10.20.{(i * 7 + j) % 256}.{j + 1}"
                                for j in range(k)))
        ttls.append(",".join(f"{60 * (j + 1)}.000000" for j in range(k)))
    return pd.DataFrame({
        "ts_us": conn["ts_us"].to_numpy(),
        "uid": conn["uid"].to_numpy(),
        "orig_h": conn["orig_h"].to_numpy(),
        "orig_p": conn["orig_p"].to_numpy(),
        "resp_h": conn["resp_h"].to_numpy(),
        "resp_p": conn["resp_p"].to_numpy(),
        "trans_id": rng.integers(0, 65536, size=n),
        "rtt_us": rng.integers(100, 200_000, size=n),
        "rtt_unset": rng.random(n) < 0.1,
        "query": names.to_numpy(),
        "qtype": np.array([_QTYPES[i][0] for i in q]),
        "qtype_name": np.array([_QTYPES[i][1] for i in q], dtype=object),
        "rcode": np.array([_RCODES[i][0] for i in r]),
        "rcode_name": np.array([_RCODES[i][1] for i in r], dtype=object),
        "AA": rng.random(n) < 0.2, "TC": rng.random(n) < 0.01,
        "RD": rng.random(n) < 0.9, "RA": rng.random(n) < 0.85,
        "answers": answers, "TTLs": ttls,
        "rejected": rng.random(n) < 0.01,
    })


def dns_text(df: pd.DataFrame) -> list[pd.Series]:
    b = {True: "T", False: "F"}
    return [
        _fmt_us(df["ts_us"].to_numpy()), df["uid"], df["orig_h"],
        df["orig_p"].astype(str), df["resp_h"], df["resp_p"].astype(str),
        pd.Series("udp", index=df.index), df["trans_id"].astype(str),
        _marked(_fmt_us(df["rtt_us"].to_numpy()), df["rtt_unset"].to_numpy()),
        df["query"], pd.Series("1", index=df.index),
        pd.Series("C_INTERNET", index=df.index),
        df["qtype"].astype(str), df["qtype_name"],
        df["rcode"].astype(str), df["rcode_name"],
        df["AA"].map(b), df["TC"].map(b), df["RD"].map(b), df["RA"].map(b),
        pd.Series("0", index=df.index), df["answers"], df["TTLs"],
        df["rejected"].map(b),
    ]


def write_log(path: str, log_path: str, fields, cols: list[pd.Series],
              open_us: int, compress: bool) -> int:
    """Write one Zeek log; returns the uncompressed text size in bytes."""
    head = "\n".join([
        "#separator \\x09",
        "#set_separator\t,",
        "#empty_field\t(empty)",
        "#unset_field\t-",
        f"#path\t{log_path}",
        "#open\t" + pd.Timestamp(open_us, unit="us").strftime("%Y-%m-%d-%H-%M-%S"),
        "#fields\t" + "\t".join(f for f, _ in fields),
        "#types\t" + "\t".join(t for _, t in fields),
    ]) + "\n"
    body = ""
    if len(cols[0]):
        line = cols[0].astype(str).reset_index(drop=True)
        for c in cols[1:]:
            line = line + "\t" + c.astype(str).reset_index(drop=True)
        body = "\n".join(line.tolist()) + "\n"
    text = (head + body + "#close\t2026-01-02-00-00-00\n").encode()
    if compress:
        with gzip.open(path, "wb", compresslevel=1) as fh:
            fh.write(text)
    else:
        with open(path, "wb") as fh:
            fh.write(text)
    return len(text)


# Bump when the generated content changes, so stale caches are not reused.
GEN_VERSION = 3


def cached(cache_dir: str, key: str, build) -> tuple[str, dict]:
    root = os.path.join(cache_dir, f"{key}-v{GEN_VERSION}")
    marker = os.path.join(root, "done.json")
    if os.path.exists(marker):
        with open(marker) as fh:
            return root, json.load(fh)
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    meta = build(root)
    with open(marker + ".tmp", "w") as fh:
        json.dump(meta, fh)
    os.replace(marker + ".tmp", marker)
    return root, meta


def hunt_corpus(cache_dir: str, seed: int, sensors: int, hours: int,
                rows_per_file: int, drift_files: int) -> tuple[str, dict]:
    """Hourly gzip conn logs for ``sensors`` sensors over ``hours`` hours,
    plus ``drift_files`` conn files with an extra field.  Returns (root,
    meta) where meta holds the uncompressed text bytes and the expected
    answers of the hunt operations."""
    key = f"hunt-s{seed}-{sensors}x{hours}x{rows_per_file}-d{drift_files}"

    def build(root):
        rng = np.random.default_rng([seed, 1])
        conns = []
        text_bytes = {"conn": 0, "drift": 0}
        for s in range(sensors):
            sdir = os.path.join(root, f"s{s:02d}")
            os.makedirs(sdir)
            for h in range(hours):
                t0 = (EPOCH0 + h * 3600) * 1_000_000
                c = make_conn(rng, rows_per_file, t0, 3_600_000_000,
                              f"{s:02d}{h:02d}")
                stamp = pd.Timestamp(t0, unit="us").strftime("%Y-%m-%d-%H")
                text_bytes["conn"] += write_log(
                    os.path.join(sdir, f"conn.{stamp}.log.gz"), "conn",
                    CONN_FIELDS, conn_text(c), t0, True)
                conns.append(c.assign(sensor=f"s{s:02d}"))
        ddir = os.path.join(root, "drift")
        os.makedirs(ddir)
        for i in range(drift_files):
            t0 = (EPOCH0 + (hours + i) * 3600) * 1_000_000
            c = make_conn(rng, rows_per_file, t0, 3_600_000_000, f"dr{i:02d}")
            c["ip_proto"] = np.where(c["proto"] == "udp", 17, 6)
            stamp = pd.Timestamp(t0, unit="us").strftime("%Y-%m-%d-%H")
            text_bytes["drift"] += write_log(
                os.path.join(ddir, f"conn.{stamp}.log.gz"), "conn",
                CONN_FIELDS + [DRIFT_FIELD], conn_text(c, extra=True), t0, True)
            conns.append(c.assign(sensor="drift"))
        return {"text_bytes": text_bytes,
                "expected": hunt_expected(pd.concat(conns, ignore_index=True))}

    return cached(cache_dir, key, build)


def hunt_expected(conn: pd.DataFrame) -> dict:
    """Expected answers of the hunt operations, by DuckDB over the
    generated records (the same SQL shapes the operations run)."""
    import ipaddress

    import duckdb

    nets = [ipaddress.ip_network(HUNT_V4_NET), ipaddress.ip_network(HUNT_V6_NET)]

    def hits(a: str, net) -> int:
        ip = ipaddress.ip_address(a)
        return int(ip.version == net.version and ip in net)

    # ip_in_subnet semantics (v4 and v6; a version mismatch is False),
    # computed with Python's ipaddress
    c = conn.assign(
        orig_bytes=conn["orig_bytes"].where(~conn["unset_payload"]),
        v4_hit=[hits(a, nets[0]) for a in conn["resp_h"]],
        v6_hit=[hits(a, nets[1]) for a in conn["resp_h"]],
    )
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        con.register("conn", c)
        q = {
            "top_talkers": """
                SELECT orig_h, sum(orig_bytes)::BIGINT AS b, count(*) AS n,
                       sum(ip_proto)::BIGINT AS proto_sum
                FROM conn GROUP BY 1 ORDER BY b DESC, orig_h LIMIT 10""",
            "subnet_hits": """
                SELECT sensor, sum(v4_hit)::BIGINT, sum(v6_hit)::BIGINT
                FROM conn WHERE sensor <> 'drift' GROUP BY 1 ORDER BY 1""",
        }
        return {k: [list(r) for r in con.sql(v).fetchall()]
                for k, v in q.items()}
    finally:
        con.close()


def etl_corpus(cache_dir: str, seed: int, files: int,
               rows_per_file: int) -> tuple[str, dict]:
    """``files`` plain-text dns logs (24 columns, vector[string]
    and vector[interval] among them).  meta holds the text bytes and the
    expected row count, sums and hour partitions."""
    key = f"etl-s{seed}-{files}x{rows_per_file}"

    def build(root):
        rng = np.random.default_rng([seed, 2])
        total = 0
        parts = []
        for i in range(files):
            t0 = (EPOCH0 + i * 6 * 3600) * 1_000_000
            c = make_conn(rng, rows_per_file, t0, 6 * 3_600_000_000, f"e{i:02d}")
            d = make_dns(rng, c)
            total += write_log(os.path.join(root, f"dns.{i:02d}.log"), "dns",
                               DNS_FIELDS, dns_text(d), t0, False)
            parts.append(d)
        d = pd.concat(parts, ignore_index=True)
        return {
            "text_bytes": total,
            "expected": {
                "rows": int(len(d)),
                "trans_id": int(d["trans_id"].sum()),
                "qtype": int(d["qtype"].sum()),
                "hours": int((d["ts_us"] // 3_600_000_000).nunique()),
            },
        }

    return cached(cache_dir, key, build)
