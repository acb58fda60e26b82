"""Pytest port of the reference's main sqllogictest corpus
(/root/reference/test/sql/zeek.test) — each `query` block becomes an
assertion on a DataFrame, each `statement error` asserts the message
contains the reference's substring (SURVEY.md §5)."""

import datetime
import os

import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from zeek_duckdb_spark import read_zeek
from zeek_duckdb_spark.header import ZeekHeaderError

REF = "/root/reference/data"
KH0 = f"{REF}/known_hosts_20260116_00.00.00-01.00.00-0500.log.gz"

MICROS = 1_000_000


def us(seconds: float) -> datetime.timedelta:
    """Reference epoch-double -> µs truncation (src/zeek_scanner.cpp:23-31)."""
    return datetime.timedelta(microseconds=int(seconds * 1e6))


def ts_utc(seconds: float) -> datetime.datetime:
    return datetime.datetime.fromtimestamp(int(seconds * 1e6) / 1e6, datetime.timezone.utc)


# --- basic reads (zeek.test:9-29) -------------------------------------

def test_basic_read_typed_row(spark):
    row = (
        read_zeek(spark, KH0, inet=False)
        .select("ts", "kuid", "host_ip", "conns_opened", "conns_closed")
        .collect()
    )
    assert len(row) == 1
    r = row[0]
    # 2026-01-16 05:19:49.230929+00
    assert r.ts.replace(tzinfo=datetime.timezone.utc) == ts_utc(1768540789.230929)
    assert r.kuid == "Kfoql5dpOG1K1"
    assert r.host_ip == "10.21.7.136"
    assert r.conns_opened == 1 and r.conns_closed == 1


def test_count_single_file(spark):
    assert read_zeek(spark, KH0, inet=False).count() == 1


def test_unset_field_is_null(spark):
    assert (
        read_zeek(spark, KH0, inet=False)
        .select(F.col("host_inner_vlan").isNull())
        .first()[0]
        is True
    )


def test_column_types(spark):
    df = read_zeek(spark, KH0, inet=False)
    s = dict((f.name, f.dataType) for f in df.schema.fields)
    assert s["ts"] == T.TimestampType()
    assert isinstance(s["duration"], T.DayTimeIntervalType)
    assert s["host_vlan"] == T.LongType()       # zeek int
    assert s["conns_opened"] == T.LongType()    # zeek count
    assert s["kuid"] == T.StringType()


# --- globs + filename (zeek.test:31-47) --------------------------------

def test_glob_count_27(spark):
    assert read_zeek(spark, f"{REF}/known_hosts*.gz", inet=False).count() == 27


def test_glob_filename_distinct_24(spark):
    df = read_zeek(spark, f"{REF}/known_hosts*.gz", filename=True, inet=False)
    assert df.select("filename").distinct().count() == 24


def test_filename_content(spark):
    v = read_zeek(spark, KH0, filename=True, inet=False).select("filename").first()[0]
    # reference echoes the given path verbatim (src/zeek_scanner.cpp:778-781)
    assert v == KH0


def test_filename_relative_path_echoed(spark, monkeypatch):
    # reference parity: a RELATIVE glob yields relative filename values
    monkeypatch.chdir(os.path.dirname(REF))
    rel = os.path.join(os.path.basename(REF), "known_hosts*.gz")
    vals = {
        r.filename
        for r in read_zeek(spark, rel, filename=True, inet=False)
        .select("filename").distinct().collect()
    }
    assert len(vals) == 24
    assert all(not v.startswith("/") for v in vals)
    assert all(v.startswith(os.path.basename(REF) + "/") for v in vals)


def test_filename_relative_path_with_quote_echoed(spark, tmp_path, monkeypatch,
                                                  escaped_literals):
    # the as-given path map carries each path as a SQL literal; a quote
    # in the directory name must neither break the bind nor the echo
    d = tmp_path / "it's_logs"
    d.mkdir()
    for i in range(2):
        (d / f"conn_{i}.log").write_text(
            "#separator \\x09\n#fields\tuid\tn\n#types\tstring\tcount\n"
            f"C{i}\t{i}\n"
        )
    monkeypatch.chdir(tmp_path)
    got = {
        (r.uid, r.filename)
        for r in read_zeek(spark, "it's_logs/conn_*.log", filename=True)
        .select("uid", "filename").collect()
    }
    assert got == {("C0", "it's_logs/conn_0.log"), ("C1", "it's_logs/conn_1.log")}


def test_filename_uri_escaped_chars_echoed(spark, tmp_path, monkeypatch):
    # input_file_name() percent-encodes a space, '%' and '#'; the echo
    # decodes them and keeps a '+' literal, matching the DataSource
    from zeek_duckdb_spark.sources.datasource import register_zeek_datasource

    register_zeek_datasource(spark)
    d = tmp_path / "zeek logs 100%+#1"
    d.mkdir()
    for uid, name in (("a", "conn a.log"), ("b", "conn%41+b#.log")):
        (d / name).write_text(
            "#separator \\x09\n#fields\tuid\n#types\tstring\n" f"{uid}\n"
        )

    def echoed(df):
        return {(r.uid, r.filename) for r in df.select("uid", "filename").collect()}

    def expected(prefix):
        return {("a", f"{prefix}/conn a.log"), ("b", f"{prefix}/conn%41+b#.log")}

    absolute = f"{d}/conn*.log"
    assert echoed(read_zeek(spark, absolute, filename=True)) == expected(str(d))
    assert echoed(
        spark.read.format("zeek").option("filename", "true").load(absolute)
    ) == expected(str(d))
    # relative globs echo relative (the DataSource resolves paths in a
    # worker process with its own cwd, so only the composed reader here)
    monkeypatch.chdir(tmp_path)
    assert echoed(
        read_zeek(spark, f"{d.name}/conn*.log", filename=True)
    ) == expected(d.name)


# --- list types (zeek.test:49-71) --------------------------------------

def test_vector_string(spark):
    v = read_zeek(spark, KH0, inet=False).select("annotations").first()[0]
    assert v == ["foo", "bar", "baz"]


def test_dns_vectors(spark):
    r = read_zeek(spark, f"{REF}/dns.log.gz", inet=False).select("answers", "TTLs").first()
    assert r.answers == ["vhost-account.vip.icann.org", "192.0.32.17"]
    assert r.TTLs == [us(2735.0), us(30.0)]  # INTERVAL[] == array<daytimeinterval>


def test_dhcp_set(spark):
    v = read_zeek(spark, f"{REF}/dhcp.log.gz", inet=False).select("uids").first()[0]
    assert v == ["Cxkiqn3Sto5tM1CHA4", "C1qMR61z0VQe1sDqYk"]  # order kept, no dedup


def test_list_column_types(spark):
    df1 = read_zeek(spark, KH0, inet=False)
    df2 = read_zeek(spark, f"{REF}/dns.log.gz", inet=False)
    assert df1.schema["annotations"].dataType == T.ArrayType(T.StringType(), True)
    ttl_t = df2.schema["TTLs"].dataType
    assert isinstance(ttl_t, T.ArrayType) and isinstance(
        ttl_t.elementType, T.DayTimeIntervalType
    )


# --- timestamps / intervals / ports (zeek.test:73-107) -----------------

def test_timestamp_comparison(spark):
    df = read_zeek(spark, KH0, inet=False)
    assert df.select(F.col("ts") > F.to_timestamp(F.lit("2026-01-01"))).first()[0] is True


def test_interval_values(spark):
    r = read_zeek(spark, KH0, inet=False).select("duration", "last_active_interval").first()
    assert r.duration == us(323.126660)          # 00:05:23.12666
    assert r.last_active_interval == us(3895.038597)  # 01:04:55.038597


def test_dhcp_lease_time_one_day(spark):
    v = read_zeek(spark, f"{REF}/dhcp.log.gz", inet=False).select("lease_time").first()[0]
    assert v == datetime.timedelta(days=1)


def test_port_type_and_values(spark):
    df = read_zeek(spark, f"{REF}/dns.log.gz", inet=False)
    assert df.schema["id_orig_p"].dataType == T.IntegerType()
    r = df.select("id_orig_p", "id_resp_p").first()
    assert (r.id_orig_p, r.id_resp_p) == (51168, 53)


def test_inet_false_addr_is_string(spark):
    df = read_zeek(spark, KH0, inet=False)
    assert df.schema["host_ip"].dataType == T.StringType()


# --- filter pushdown block (zeek.test:109-206) --------------------------

@pytest.fixture(scope="module")
def dns(spark):
    return read_zeek(spark, f"{REF}/dns.log.gz", inet=False)


def test_filter_eq_varchar(dns):
    assert dns.filter(F.col("proto") == "udp").count() == 2
    assert dns.filter(F.col("proto") == "tcp").count() == 0


def test_filter_eq_port(dns):
    assert dns.filter(F.col("id_orig_p") == 51168).count() == 1


def test_filter_range_port(dns):
    assert dns.filter(F.col("id_orig_p") > 50000).count() == 1


def test_filter_range_timestamp(dns):
    assert dns.filter(F.col("ts") > F.to_timestamp(F.lit("2026-01-01"))).count() == 2


def test_filter_in(dns):
    assert dns.filter(F.col("proto").isin("udp", "tcp")).count() == 2
    assert dns.filter(F.col("proto").isin("icmp", "tcp")).count() == 0
    assert dns.filter(F.col("id_orig_p").isin(51168, 49581)).count() == 2


def test_filter_and_or(dns):
    assert dns.filter((F.col("proto") == "udp") & (F.col("id_orig_p") == 51168)).count() == 1
    assert dns.filter((F.col("id_orig_p") == 51168) | (F.col("id_orig_p") == 49581)).count() == 2
    assert dns.filter((F.col("id_orig_p") == 51168) | (F.col("id_orig_p") == 99999)).count() == 1


def test_filter_projected_value(dns):
    r = dns.filter(F.col("id_orig_p") == 51168).select("id_orig_p", "proto").first()
    assert (r.id_orig_p, r.proto) == (51168, "udp")


def test_filter_on_unprojected_column(dns):
    r = dns.filter(F.col("id_orig_p") == 49581).select("uid").first()
    assert r.uid == "C61GeE23uDUeX311zl"


def test_is_null_filters(spark):
    df = read_zeek(spark, KH0, inet=False)
    assert df.filter(F.col("host_inner_vlan").isNull()).count() == 1
    assert df.filter(F.col("host_inner_vlan").isNotNull()).count() == 0
    assert df.filter(F.col("host_vlan").isNotNull()).count() == 1


# --- empty marker on vector (zeek.test:191-206 analog) ------------------

def test_empty_vector_marker_is_null(spark):
    # some known_hosts files carry '(empty)' annotations -> NULL, not []
    df = read_zeek(spark, f"{REF}/known_hosts*.gz", inet=False)
    n_null = df.filter(F.col("annotations").isNull()).count()
    n_empty_list = df.filter(F.size("annotations") == 0).count()
    assert n_null > 0
    assert n_empty_list == 0


# --- schema validation block (zeek.test:209-242) ------------------------

def test_schema_match_reads_all(spark):
    assert read_zeek(spark, f"{REF}/schema_match/*.log", inet=False).count() == 3


def test_schema_match_single_file_values(spark):
    rows = (
        read_zeek(spark, f"{REF}/schema_match/a.log", inet=False)
        .orderBy("id")
        .collect()
    )
    assert [(r.id, r.value) for r in rows] == [("A1", 10), ("A2", 20)]
    assert rows[0].ts.replace(tzinfo=datetime.timezone.utc) == ts_utc(1768540789.0)


def test_schema_extra_errors(spark):
    with pytest.raises(ZeekHeaderError, match="different field count"):
        read_zeek(spark, f"{REF}/schema_extra/*.log", inet=False)


def test_schema_reorder_errors(spark):
    with pytest.raises(ZeekHeaderError, match="field 0 differs"):
        read_zeek(spark, f"{REF}/schema_reorder/*.log", inet=False)


def test_schema_type_errors(spark):
    with pytest.raises(ZeekHeaderError, match="type for field 'value' differs"):
        read_zeek(spark, f"{REF}/schema_type/*.log", inet=False)


# --- union_by_name block (zeek.test:244-301) -----------------------------

@pytest.fixture(scope="module")
def union_df(spark):
    return read_zeek(spark, f"{REF}/schema_union_overlap/*.log", inet=False,
                     union_by_name=True)


def test_union_row_count(union_df):
    assert union_df.count() == 4


def test_union_schema_five_cols(union_df):
    assert len(union_df.schema) == 5
    assert [f.name for f in union_df.schema] == ["ts", "id", "value", "extra", "newfield"]


def test_union_old_rows_null_extra(union_df):
    rows = union_df.filter(F.col("id").like("A%")).agg(
        F.count("*").alias("n"), F.count("extra").alias("n_extra")
    ).first()
    assert (rows.n, rows.n_extra) == (2, 0)


def test_union_new_rows_values(union_df):
    rows = union_df.filter(F.col("id").like("B%")).orderBy("id").collect()
    assert [(r.id, r.extra, r.newfield) for r in rows] == [
        ("B1", "hello", True),
        ("B2", "world", False),
    ]


def test_union_filter_shared_field(union_df):
    assert union_df.filter(F.col("value") > 15).count() == 3


def test_union_is_null_filters(union_df):
    assert union_df.filter(F.col("extra").isNull()).count() == 2
    assert union_df.filter(F.col("extra").isNotNull()).count() == 2


def test_union_strict_mode_still_errors(spark):
    with pytest.raises(ZeekHeaderError, match="different field count"):
        read_zeek(spark, f"{REF}/schema_union_overlap/*.log", inet=False)


def test_union_type_conflict(spark):
    with pytest.raises(ZeekHeaderError, match="field 'value' has type"):
        read_zeek(spark, f"{REF}/schema_union_typeconflict/*.log", inet=False,
                  union_by_name=True)


# --- cross join (zeek.test:69, the one join the corpus exercises) -------

def test_cross_join(spark):
    df1 = read_zeek(spark, KH0, inet=False).select("annotations")
    df2 = read_zeek(spark, f"{REF}/dns.log.gz", inet=False).select("TTLs")
    assert df1.crossJoin(df2).count() == 2


# --- replace_periods=false ----------------------------------------------

def test_replace_periods_false(spark):
    df = read_zeek(spark, f"{REF}/dns.log.gz", inet=False, replace_periods=False)
    assert "id.orig_h" in df.columns
    assert df.select(F.col("`id.orig_h`")).first()[0] == "10.20.40.41"


# --- filter on the virtual filename column (pushdown path analog) -------

def test_filter_on_filename_column(spark):
    df = read_zeek(spark, f"{REF}/known_hosts*.gz", filename=True, inet=False)
    one = df.filter(F.col("filename").endswith(
        "known_hosts_20260116_00.00.00-01.00.00-0500.log.gz"))
    assert one.count() == 1
    assert one.first().kuid == "Kfoql5dpOG1K1"
