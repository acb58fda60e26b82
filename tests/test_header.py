"""Unit tests for the pure-Python header layer against the reference's
own fixture files (no Spark)."""

import pytest

from pyspark.sql import types as T

from zeek_duckdb_spark.header import (
    ZeekHeader,
    ZeekHeaderError,
    glob_zeek_files,
    parse_header,
    resolve_union_schema,
    same_schema,
    unescape_separator,
    zeek_type_to_spark,
)

REF = "/root/reference/data"


def test_unescape_separator():
    assert unescape_separator(r"\x09") == "\t"
    assert unescape_separator(r"\t") == "\t"
    assert unescape_separator(r"\x2c") == ","
    assert unescape_separator(",") == ","
    assert unescape_separator("||") == "|"  # first char only


def test_parse_dns_header():
    h = parse_header(f"{REF}/dns.log.gz")
    assert h.separator == "\t"
    assert h.set_separator == ","
    assert h.empty_field == "(empty)"
    assert h.unset_field == "-"
    assert h.log_path == "dns"
    assert len(h.fields) == 24 == len(h.types)
    assert h.fields[0] == "ts" and h.types[0] == "time"
    assert h.fields[2] == "id.orig_h" and h.types[2] == "addr"
    assert h.types[21] == "vector[string]"
    assert h.column_names()[2] == "id_orig_h"
    assert h.column_names(replace_periods=False)[2] == "id.orig_h"


def test_type_mapping():
    assert zeek_type_to_spark("time") == T.TimestampType()
    assert isinstance(zeek_type_to_spark("interval"), T.DayTimeIntervalType)
    assert zeek_type_to_spark("count") == T.LongType()
    assert zeek_type_to_spark("int") == T.LongType()
    assert zeek_type_to_spark("port") == T.IntegerType()
    assert zeek_type_to_spark("bool") == T.BooleanType()
    assert zeek_type_to_spark("addr") == T.StringType()
    assert zeek_type_to_spark("vector[string]") == T.ArrayType(T.StringType(), True)
    assert zeek_type_to_spark("set[count]") == T.ArrayType(T.LongType(), True)
    assert zeek_type_to_spark("vector[interval]").elementType == zeek_type_to_spark(
        "interval"
    )
    assert zeek_type_to_spark("mystery") == T.StringType()  # unknown -> string
    assert zeek_type_to_spark("vector[broken") == T.StringType()  # malformed


def test_same_schema_reference_error_strings():
    a = parse_header(f"{REF}/schema_extra/a.log")
    b = parse_header(f"{REF}/schema_extra/b.log")
    assert "different field count" in same_schema(a, b)

    a = parse_header(f"{REF}/schema_reorder/a.log")
    b = parse_header(f"{REF}/schema_reorder/b.log")
    assert "field 0 differs" in same_schema(a, b)

    a = parse_header(f"{REF}/schema_type/a.log")
    b = parse_header(f"{REF}/schema_type/b.log")
    assert "type for field 'value' differs" in same_schema(a, b)

    a = parse_header(f"{REF}/schema_match/a.log")
    b = parse_header(f"{REF}/schema_match/b.log")
    assert same_schema(a, b) is None


def test_union_schema():
    hs = [parse_header(p) for p in glob_zeek_files(f"{REF}/schema_union_overlap/*.log")]
    names, types = resolve_union_schema(hs)
    assert names == ["ts", "id", "value", "extra", "newfield"]
    assert types == ["time", "string", "count", "string", "bool"]


def test_union_type_conflict():
    hs = [
        parse_header(p)
        for p in glob_zeek_files(f"{REF}/schema_union_typeconflict/*.log")
    ]
    with pytest.raises(ZeekHeaderError, match="field 'value' has type"):
        resolve_union_schema(hs)


def test_corrupt_gzip_header():
    with pytest.raises(Exception):
        parse_header(f"{REF}/error_test/corrupted.log.gz")
    with pytest.raises(Exception):
        parse_header(f"{REF}/error_test/fake_gzip.log.gz")


def test_glob_errors_on_no_match():
    with pytest.raises(FileNotFoundError):
        glob_zeek_files("/nonexistent/nada*.log")


def test_union_separator_conflict_raises(tmp_path):
    a = tmp_path / "a.log"
    b = tmp_path / "b.log"
    a.write_text(
        "#separator \\x09\n#set_separator\t,\n#empty_field\t(empty)\n"
        "#unset_field\t-\n#fields\tx\n#types\tcount\n1\n"
    )
    b.write_text(
        "#separator \\x7c\n#set_separator|,\n#empty_field|(empty)\n"
        "#unset_field|-\n#fields|x\n#types|count\n2\n"
    )
    hs = [parse_header(str(a)), parse_header(str(b))]
    with pytest.raises(ZeekHeaderError, match="identical separators"):
        resolve_union_schema(hs)


def test_union_schema_order_and_conflict_origin():
    # fields union in first-encountered order; a shared field's type
    # conflict names the file the field was first seen in
    a = ZeekHeader(fields=["ts", "id"], types=["time", "string"],
                   source_file="a.log")
    b = ZeekHeader(fields=["id", "value"], types=["string", "count"],
                   source_file="b.log")
    c = ZeekHeader(fields=["value", "ts"], types=["double", "time"],
                   source_file="c.log")
    assert resolve_union_schema([a, b]) == (
        ["ts", "id", "value"], ["time", "string", "count"])
    with pytest.raises(ZeekHeaderError, match="union_by_name type conflict: "
                       "field 'value' has type 'count' in 'b.log' but "
                       "'double' in 'c.log'"):
        resolve_union_schema([a, b, c])
