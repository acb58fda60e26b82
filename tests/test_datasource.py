"""Python Data Source path (spark.read.format('zeek')) — must agree
with the composed-reader read_zeek on the reference fixtures."""

import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from zeek_duckdb_spark import read_zeek
from zeek_duckdb_spark.sources.datasource import register_zeek_datasource

REF = "/root/reference/data"


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    register_zeek_datasource(spark)


def _fmt(spark, path, **opts):
    r = spark.read.format("zeek")
    for k, v in opts.items():
        r = r.option(k, str(v).lower())
    return r.load(path)


def _normalize(df):
    rows = [tuple(r) for r in df.collect()]
    def key(r):
        return tuple("<null>" if v is None else str(v) for v in r)
    return sorted(rows, key=key)


def test_dns_matches_composed_reader(spark):
    a = _fmt(spark, f"{REF}/dns.log.gz", inet=False)
    b = read_zeek(spark, f"{REF}/dns.log.gz", inet=False)
    assert a.schema == b.schema
    assert _normalize(a) == _normalize(b)


def test_glob_count_and_filename(spark):
    df = _fmt(spark, f"{REF}/known_hosts*.gz", filename=True, inet=False)
    assert df.count() == 27
    assert df.select("filename").distinct().count() == 24


def test_union_by_name(spark):
    df = _fmt(
        spark, f"{REF}/schema_union_overlap/*.log", union_by_name=True, inet=False
    )
    assert [f.name for f in df.schema] == ["ts", "id", "value", "extra", "newfield"]
    assert df.count() == 4
    assert df.filter(F.col("extra").isNull()).count() == 2


def test_ignore_file_errors(spark):
    df = _fmt(spark, f"{REF}/error_test/*.log.gz", ignore_file_errors=True, inet=False)
    assert df.count() == 3


def test_strict_mismatch_raises(spark):
    with pytest.raises(Exception, match="different field count"):
        _fmt(spark, f"{REF}/schema_extra/*.log", inet=False).count()


def test_dhcp_set_and_intervals(spark):
    row = _fmt(spark, f"{REF}/dhcp.log.gz", inet=False).first()
    assert row.uids == ["Cxkiqn3Sto5tM1CHA4", "C1qMR61z0VQe1sDqYk"]
    import datetime

    assert row.lease_time == datetime.timedelta(days=1)


# --- filter pushdown (Spark 4.1 pushFilters; ref src/zeek_scanner.cpp:720-771)

def test_pushed_filters_correct(spark):
    df = _fmt(spark, f"{REF}/dns.log.gz", inet=False)
    assert df.filter(F.col("proto") == "udp").count() == 2
    assert df.filter(F.col("proto") == "tcp").count() == 0
    assert df.filter(F.col("id_orig_p") > 50000).count() == 1
    assert df.filter(F.col("id_orig_p").isin(51168, 49581)).count() == 2
    kh = _fmt(
        spark,
        f"{REF}/known_hosts_20260116_00.00.00-01.00.00-0500.log.gz",
        inet=False,
    )
    assert kh.filter(F.col("host_inner_vlan").isNull()).count() == 1
    assert kh.filter(F.col("host_inner_vlan").isNotNull()).count() == 0


def test_unpushable_filters_still_correct(spark):
    # addr columns are declined (INET gating) -> Spark applies post-scan
    df = _fmt(spark, f"{REF}/dns.log.gz", inet=False)
    assert df.filter(F.col("id_resp_h") == "8.8.4.4").count() == 2
    # mixed pushable + declined conjunction
    assert df.filter(
        (F.col("proto") == "udp") & (F.col("id_resp_h") == "8.8.4.4")
    ).count() == 2
    # filter on an array column (declined)
    assert df.filter(F.size("answers") == 2).count() == 2


HDR_A = (
    "#separator \\x09\n#set_separator\t,\n#empty_field\t(empty)\n"
    "#unset_field\t-\n#path\tt\n#open\tx\n"
    "#fields\tid\tn\n#types\tstring\tcount\n"
)
HDR_B = HDR_A.replace("#types\tstring\tcount", "#types\tstring\tdouble")


def test_header_swap_between_bind_and_scan_raises(spark, tmp_path):
    # the reference re-validates each file's header at scan time
    # (src/zeek_scanner.cpp:296-303); a file whose schema changed after
    # bind must error, never silently mis-map columns
    p = tmp_path / "swap.log"
    p.write_text(HDR_A + "a\t1\n")
    df = spark.read.format("zeek").load(str(p))  # bind happens here
    p.write_text(HDR_B + "a\t1.5\n")             # swap schema on disk
    with pytest.raises(Exception, match="changed between bind and scan"):
        df.collect()


def test_header_swap_skipped_under_ignore_file_errors(spark, tmp_path):
    d = tmp_path / "swapdir"
    d.mkdir()
    good = d / "good.log"
    swapped = d / "swapped.log"
    good.write_text(HDR_A + "g\t1\n")
    swapped.write_text(HDR_A + "s\t2\n")
    df = (
        spark.read.format("zeek")
        .option("ignore_file_errors", "true")
        .load(f"{d}/*.log")
    )
    swapped.write_text(HDR_B + "s\t2.5\n")
    rows = df.collect()
    assert [r.id for r in rows] == ["g"]


def test_user_schema_renames_by_position_and_casts(spark, tmp_path):
    # a .schema(...) read decodes like the derived one; the requested
    # schema names the columns by position and casts a differing type
    p = tmp_path / "user.log"
    p.write_text(HDR_A + "a\t1\nb\t2\nc\t-\n")
    user = T.StructType([T.StructField("ID", T.StringType()),
                         T.StructField("N", T.DoubleType())])
    df = spark.read.format("zeek").schema(user).load(str(p))
    assert df.schema == user
    assert sorted(map(tuple, df.collect()), key=str) == [
        ("a", 1.0), ("b", 2.0), ("c", None)]
    # ID keeps its type (pushable); N was cast (left to Spark)
    assert [r.N for r in df.filter(F.col("ID") == "b").collect()] == [2.0]
    assert [r.ID for r in df.filter(F.col("N") > 1.5).collect()] == ["b"]


def test_user_schema_mismatch_raises_typed_error(spark, tmp_path):
    # the requested schema is checked once, on the driver, when the scan
    # is planned — before any task runs, naming the column
    p = tmp_path / "bad.log"
    p.write_text(HDR_A + "a\t1\n")
    short = T.StructType([T.StructField("id", T.StringType())])
    with pytest.raises(Exception, match=r"ZeekSchemaError: .* column 'n' has no"):
        spark.read.format("zeek").schema(short).load(str(p)).collect()
    uncastable = T.StructType([T.StructField("id", T.StringType()),
                               T.StructField("n", T.ArrayType(T.LongType()))])
    with pytest.raises(Exception, match=r"ZeekSchemaError: requested column 'n'"):
        spark.read.format("zeek").schema(uncastable).load(str(p)).collect()


def test_sql_only_usage_create_view_using_zeek(spark):
    # the reference's SQL-only entry (`FROM read_zeek('glob')`,
    # README.md:31) maps to Spark's CREATE ... USING <source> — no
    # Python between the user and the scan
    spark.sql(
        "CREATE OR REPLACE TEMPORARY VIEW kh_sql USING zeek "
        f"OPTIONS (path '{REF}/known_hosts_*.log.gz', filename 'true')"
    )
    out = spark.sql(
        "SELECT host_ip, sum(conns_opened) AS n FROM kh_sql GROUP BY host_ip"
    ).collect()
    assert [(r.host_ip, r.n) for r in out] == [("10.21.7.136", 43)]
    assert spark.sql(
        "SELECT count(DISTINCT filename) FROM kh_sql"
    ).first()[0] == 24
    # options flow through: union/inet/etc are the same named options
    spark.sql(
        "CREATE OR REPLACE TEMPORARY VIEW un_sql USING zeek OPTIONS ("
        "path '/root/reference/data/schema_union_overlap/*.log', "
        "union_by_name 'true', inet 'false')"
    )
    assert spark.sql("SELECT count(*) FROM un_sql").first()[0] == 4
