"""The benchmark's workloads: inputs, operations and answer checks.

A workload is a list of ``Op``s run serially (a closed loop with one
client) in passes.  Each op's ``run`` is the timed region and returns a
small collected result; ``check`` compares a result with the expected
answer computed when the inputs were generated, outside any clock.

The operations call the package through module attributes
(``zsrc.read_zeek``, ``sink.ingest_zeek_to_parquet``, ...) looked up at
call time, so the traced run's wrappers see every call.
"""

from __future__ import annotations

import json
import math
import os
from dataclasses import dataclass
from typing import Any, Callable

import zeekgen

HUNT_SIZES = {"full": dict(sensors=2, hours=6, rows_per_file=800, drift_files=2),
              "tiny": dict(sensors=1, hours=2, rows_per_file=200, drift_files=1)}
ETL_SIZES = {"full": dict(files=4, rows_per_file=5_000),
             "tiny": dict(files=2, rows_per_file=500)}
TABLE_SF = {"full": 0.1, "tiny": 0.001}

# Five of bench.py's ten HEADLINE queries: the join family (q03), the
# dedup, similarity and text operators.  A pass over all ten took 6-15 s
# warm and up to 27 s cold on a shared 4-core machine, more than the
# benchmark's per-run time can hold.
# query -> (per-layer metric name, tables it reads)
HEADLINE = {
    "q03_top_orders": ("entry.q03_top_orders_s",
                       ["customer", "orders", "lineitem"]),
    "dd_exact_groups": ("operators.dedup.exact_groups_s", ["documents"]),
    "dd_minhash_lsh": ("operators.dedup.minhash_lsh_s", ["documents"]),
    "sim_topk": ("operators.similarity.topk_s", ["embeddings"]),
    "tx_quality": ("operators.textops.quality_s", ["documents"]),
}


@dataclass
class Op:
    name: str
    run: Callable[[Any], Any]          # spark -> collected result
    check: Callable[[Any], bool]       # result -> answer is right
    scan_bytes: int = 0                # uncompressed input it parses
    tags: tuple = ()                   # layers whose census it feeds
    out_dir: str | None = None         # where it writes files


@dataclass
class Workload:
    name: str
    ops: list[Op]
    # warm passes a run makes even when --seconds has elapsed, so that the
    # pass count does not flip with machine speed where a pass takes about
    # as long as --seconds
    min_passes: int = 1


def _equal(expected):
    return lambda got: [list(r) for r in got] == expected


def zeek(cache: str, work: str, seed: int, scale: str, perturb: bool) -> Workload:
    """Analyst queries over many small rotated gzip logs, then an ETL
    round trip over a few plain logs."""
    return Workload("zeek", _hunt_ops(cache, seed, scale, perturb)
                    + _etl_ops(cache, work, seed, scale))


def _hunt_ops(cache: str, seed: int, scale: str, perturb: bool):
    from zeek_duckdb_spark.sources import zeek as zsrc

    root, meta = zeekgen.hunt_corpus(cache, seed, **HUNT_SIZES[scale])
    exp = meta["expected"]
    if perturb:
        exp["top_talkers"][0][1] += 1
    tb = meta["text_bytes"]

    def query(glob: str, opts: dict, sql: str):
        # what `python -m zeek_duckdb_spark query --view conn=GLOB` does:
        # bind the view through read_zeek, then run the SQL
        def run(spark):
            zsrc.read_zeek(spark, glob, **opts).createOrReplaceTempView("conn")
            return spark.sql(sql).collect()
        return run

    ops = [
        Op("top_talkers", query(
            os.path.join(root, "*", "conn.*.log.gz"), {"union_by_name": True},
            """SELECT id_orig_h, sum(orig_bytes) AS b, count(*) AS n,
                      sum(ip_proto) AS proto_sum
               FROM conn GROUP BY 1 ORDER BY b DESC, id_orig_h LIMIT 10"""),
           _equal(exp["top_talkers"]), tb["conn"] + tb["drift"]),
        Op("subnet_hits", query(
            os.path.join(root, "s*", "conn.*.log.gz"), {"filename": True},
            f"""SELECT regexp_extract(filename, '/(s[0-9]+)/[^/]*$', 1) AS sensor,
                       sum(CASE WHEN ip_in_subnet(id_resp_h, '{zeekgen.HUNT_V4_NET}')
                           THEN 1 ELSE 0 END),
                       sum(CASE WHEN ip_in_subnet(id_resp_h, '{zeekgen.HUNT_V6_NET}')
                           THEN 1 ELSE 0 END)
                FROM conn GROUP BY 1 ORDER BY 1"""),
           _equal(exp["subnet_hits"]), tb["conn"], ("functions.inet",)),
    ]
    for op in ops:
        op.tags = op.tags + ("sources.zeek",)
    return ops


def _etl_ops(cache: str, work: str, seed: int, scale: str):
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from zeek_duckdb_spark.sources import sink
    from zeek_duckdb_spark.sources import zeek as zsrc
    from zeek_duckdb_spark.sources import zeek_writer

    root, meta = zeekgen.etl_corpus(cache, seed, **ETL_SIZES[scale])
    exp = meta["expected"]
    logs = os.path.join(root, "dns.*.log")
    landing = os.path.join(work, "landing")
    out = os.path.join(work, "zeek_out")
    nbytes = meta["text_bytes"]
    zeek_types = {f.replace(".", "_"): t for f, t in zeekgen.DNS_FIELDS}
    # the checksum of the first summary; every later read must reproduce it
    ref: dict[str, Any] = {}

    def summary(df):
        # bit_xor of per-row hashes: order-free and overflow-free (a
        # sum of xxhash64 overflows under ANSI mode)
        col = {c.lower(): c for c in df.columns}
        return df.agg(F.count("*"), F.sum(col["trans_id"]), F.sum(col["qtype"]),
                      F.bit_xor(F.xxhash64(*df.columns))).collect()[0]

    def check_summary(got) -> bool:
        ok = [got[0], got[1], got[2]] == [exp["rows"], exp["trans_id"],
                                          exp["qtype"]]
        ref.setdefault("xor", got[3])
        return ok and got[3] == ref["xor"]

    def ingest(spark):
        df = sink.ingest_zeek_to_parquet(spark, logs, landing, granularity="hour")
        return df.count()

    def check_ingest(got) -> bool:
        dirs = [d for d in os.listdir(landing) if d.startswith("p_date=")]
        hours = sum(len([h for h in os.listdir(os.path.join(landing, d))
                         if h.startswith("p_hour=")]) for d in dirs)
        return got == exp["rows"] and hours == exp["hours"]

    def ds_arrow(spark):
        return summary(spark.read.format("zeek").load(logs))

    def ds_rows(spark):
        # a user schema that differs from the derived one (upper-case
        # names) takes the DataSource's row-tuple path
        if "user" not in ref:
            derived = spark.read.format("zeek").load(logs).schema
            ref["user"] = T.StructType([T.StructField(f.name.upper(), f.dataType)
                                        for f in derived.fields])
        return summary(spark.read.format("zeek").schema(ref["user"]).load(logs))

    def write(spark):
        df = spark.read.parquet(landing).drop("p_date", "p_hour")
        zeek_writer.write_zeek(df, out, path_name="dns", zeek_types=zeek_types,
                               compress=True)
        return sorted(f for f in os.listdir(out) if f.startswith("part-"))

    def check_write(files) -> bool:
        # the round trip, once per run: read_zeek over what write_zeek
        # wrote must give the rows the scans gave; later passes must
        # write the same files
        if "files" not in ref:
            from pyspark.sql import SparkSession

            spark = SparkSession.getActiveSession()
            back = zsrc.read_zeek(spark, os.path.join(out, "part-*.log.gz"))
            ref["files"] = files
            ref["round_trip"] = bool(files) and check_summary(summary(back))
        return ref["round_trip"] and files == ref["files"]

    return [
        Op("ingest", ingest, check_ingest, nbytes, ("sources.zeek", "sources.sink")),
        Op("ds_arrow", ds_arrow, check_summary, nbytes,
           ("sources.datasource", "sources.datasource.arrow")),
        Op("ds_rows", ds_rows, check_summary, nbytes,
           ("sources.datasource", "sources.datasource.row")),
        Op("write_zeek", write, check_write, 0, ("sources.zeek_writer",), out),
    ]


def _norm(v):
    import datetime

    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return datetime.datetime(v.year, v.month, v.day).isoformat()
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 9)
    if isinstance(v, (list, tuple)):
        return [_norm(x) for x in v]
    if v is None or isinstance(v, (int, str, bool)):
        return v
    return str(v)


def _normalize(rows, cols) -> list:
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    out = [[_norm(r[i]) for i in order] for r in rows]
    return sorted(out, key=lambda r: json.dumps(r, sort_keys=True, default=str))


def _same(a, b) -> bool:
    """Row sets equal; floats within 1e-9 relative (sums may associate
    differently in the two engines)."""
    if isinstance(a, float) or isinstance(b, float):
        if not isinstance(a, (int, float)) or not isinstance(b, (int, float)):
            return False
        return abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def oracle_answers(tables: str) -> dict:
    """DuckDB answers of the headline queries (``oracle_sql()``) over the
    generated tables, normalized for comparison."""
    import duckdb

    import __spark_entry__ as entry

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 4")
        from tablegen import TABLES

        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(tables, t + '.parquet')}')")
        sql = entry.oracle_sql()
        out = {}
        for name in HEADLINE:
            cur = con.execute(sql[name])
            cols = [d[0] for d in cur.description]
            out[name] = _normalize(cur.fetchall(), cols)
        return out
    finally:
        con.close()


def headline(cache: str, work: str, seed: int, scale: str,
             perturb: bool) -> Workload:
    import __spark_entry__ as entry
    import tablegen

    tables, meta = tablegen.headline_tables(cache, seed, TABLE_SF[scale])
    answers_path = os.path.join(tables, "oracle.json")
    answers = {}
    if os.path.exists(answers_path):
        with open(answers_path) as fh:
            answers = json.load(fh)
    if set(answers) != set(HEADLINE):
        answers = json.loads(json.dumps(oracle_answers(tables), default=str))
        with open(answers_path + ".tmp", "w") as fh:
            json.dump(answers, fh)
        os.replace(answers_path + ".tmp", answers_path)
    if perturb:
        answers["q03_top_orders"][0][0] = "perturbed"
    queries = entry.queries()
    sizes = meta["uncompressed_bytes"]

    def op(name):
        def run(spark):
            df = queries[name](spark, tables)
            return df.collect(), df.columns

        def check(got) -> bool:
            rows = json.loads(json.dumps(_normalize(*got), default=str))
            return _same(rows, answers[name])

        return Op(name, run, check,
                  sum(sizes[t] for t in HEADLINE[name][1]), ("entry",))

    return Workload("headline-sf0.1", [op(n) for n in HEADLINE], min_passes=2)


WORKLOADS = {"zeek": zeek, "headline-sf0.1": headline}
