"""Differential parity: the composed CSV reader (sources/zeek.py) and
the Python DataSource (sources/datasource.py) are two independent
implementations of the same Zeek semantics — on randomized generated
files they must produce identical results.  Catches semantics drift
that example-based tests miss.  The DataSource is read three ways —
with its derived schema, with a user ``.schema(...)`` that renames
every column, and as a ``readStream`` drain — and each must give the
composed reader's rows."""

import random

import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from zeek_duckdb_spark import read_zeek
from zeek_duckdb_spark.sources.datasource import register_zeek_datasource

TYPES = ["string", "count", "int", "port", "double", "bool", "time",
         "interval", "addr", "vector[string]", "vector[count]", "set[string]"]


def gen_cell(rng, zt):
    r = rng.random()
    if r < 0.12:
        return "-"           # unset marker
    if r < 0.18:
        return "(empty)"     # empty marker
    if r < 0.23:
        return rng.choice(["garbage", "x!y", ""])  # malformed
    if zt == "string" or zt == "addr":
        return rng.choice(["abc", "10.0.0.1", "hello world? no - tabs", "#notcomment", "a,b"])
    if zt == "count":
        return str(rng.randint(0, 2**40))
    if zt == "int":
        return str(rng.randint(-2**40, 2**40))
    if zt == "port":
        return str(rng.randint(-10, 70000))
    if zt == "double":
        return f"{rng.uniform(-1e6, 1e6):.6f}"
    if zt == "bool":
        return rng.choice(["T", "F", "true", "false", "weird"])
    if zt in ("time", "interval"):
        return f"{rng.uniform(0, 2e9):.6f}"
    if zt.startswith(("vector[", "set[")):
        inner = zt[zt.index("[") + 1 : -1]
        n = rng.randint(1, 4)
        return ",".join(gen_cell(rng, inner).replace(",", "") for _ in range(n))
    return "?"


def gen_file(rng, path, n_rows=25):
    n_cols = rng.randint(2, 8)
    types = [rng.choice(TYPES) for _ in range(n_cols)]
    names = [f"c{i}" for i in range(n_cols)]
    lines = [
        "#separator \\x09",
        "#set_separator\t,",
        "#empty_field\t(empty)",
        "#unset_field\t-",
        "#path\tfuzz",
        "#open\t2026-01-01-00-00-00",
        "#fields\t" + "\t".join(names),
        "#types\t" + "\t".join(types),
    ]
    for _ in range(n_rows):
        cells = [gen_cell(rng, t).replace("\t", " ") for t in types]
        lines.append("\t".join(cells))
    lines.append("#close\t2026-01-01-01-00-00")
    path.write_text("\n".join(lines) + "\n")
    return str(path)


def norm_rows(df):
    out = []
    for r in df.collect():
        row = []
        for v in r:
            if isinstance(v, float):
                row.append(repr(round(v, 9)))
            elif isinstance(v, list):
                row.append(str(["<n>" if e is None else str(e) for e in v]))
            else:
                row.append("<n>" if v is None else str(v))
        out.append(tuple(row))
    return sorted(out)


def fuzz_case(spark, tmp_path, seed):
    """The composed read of one seeded fuzz file, and the file's path."""
    register_zeek_datasource(spark)
    p = gen_file(random.Random(seed), tmp_path / f"fuzz_{seed}.log")
    return read_zeek(spark, p, inet=False), p


@pytest.mark.parametrize("seed", range(8))
def test_composed_vs_datasource_agree(spark, tmp_path, seed):
    a, p = fuzz_case(spark, tmp_path, seed)
    b = spark.read.format("zeek").option("inet", "false").load(p)
    assert a.schema == b.schema, f"schema mismatch seed={seed}"
    assert norm_rows(a) == norm_rows(b), f"row mismatch seed={seed}"


@pytest.mark.parametrize("seed", range(8))
def test_composed_vs_datasource_user_schema_agree(spark, tmp_path, seed):
    a, p = fuzz_case(spark, tmp_path, seed)
    user = T.StructType([T.StructField(f.name.upper(), f.dataType)
                         for f in a.schema.fields])
    b = spark.read.format("zeek").option("inet", "false").schema(user).load(p)
    assert b.schema == user, f"schema mismatch seed={seed}"
    assert norm_rows(a) == norm_rows(b), f"row mismatch seed={seed}"


@pytest.mark.parametrize("seed", range(8))
def test_composed_vs_datasource_stream_agree(spark, tmp_path, seed):
    a, p = fuzz_case(spark, tmp_path, seed)
    name = f"fuzz_stream_{seed}"
    q = (
        spark.readStream.format("zeek").option("inet", "false").load(p)
        .writeStream.format("memory").queryName(name)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    q.stop()
    b = spark.table(name)
    assert a.schema == b.schema, f"schema mismatch seed={seed}"
    assert norm_rows(a) == norm_rows(b), f"row mismatch seed={seed}"


# --- hostile headers under both string-literal parser modes -------------
#
# Markers, separators and paths reach the cast and wire projections as
# SQL literals; these files put regex metacharacters, quotes and
# backslashes in every header slot that does, and the reads must agree
# whether or not the session parses string literals with escapes.

HOSTILE_UNSET = "\\N"
HOSTILE_EMPTY = "o'e"
HOSTILE_TYPES = ["count", "string", "int", "port", "double", "bool", "time",
                 "interval", "addr", "vector[string]", "vector[count]",
                 "set[string]", "vector[bool]", "vector[interval]"]


def hostile_value(rng, zt):
    """A cell that also survives write_zeek's default markers: no '-',
    '(empty)' or '' strings, no ',' inside collection elements."""
    if zt in ("string", "addr"):
        return rng.choice(["it's", "back\\slash", "x|y", "q'\\'q", "plain",
                           "10.0.0.1", "2001:DB8::1", "\\N!", "o'e'"])
    if zt.startswith(("vector[", "set[")):
        inner = zt[zt.index("[") + 1 : -1]
        # two or more elements: a lone NULL element would share its wire
        # form with the cell-level unset marker
        return "|".join(
            rng.choice([HOSTILE_UNSET, HOSTILE_EMPTY, hostile_value(rng, inner)])
            .replace("|", "/")
            for _ in range(rng.randint(2, 4))
        )
    return gen_cell(rng, zt) if rng.random() > 0.25 else "garbage"


def gen_hostile_file(rng, path, n_rows=30):
    lines = [
        "#separator \\x09",
        "#set_separator\t|",
        f"#empty_field\t{HOSTILE_EMPTY}",
        f"#unset_field\t{HOSTILE_UNSET}",
        "#path\thostile",
        "#fields\t" + "\t".join(f"c{i}" for i in range(len(HOSTILE_TYPES))),
        "#types\t" + "\t".join(HOSTILE_TYPES),
    ]
    for _ in range(n_rows):
        cells = []
        for zt in HOSTILE_TYPES:
            r = rng.random()
            cells.append(HOSTILE_UNSET if r < 0.1 else HOSTILE_EMPTY
                         if r < 0.18 else hostile_value(rng, zt))
        lines.append("\t".join(cells))
    path.write_text("\n".join(lines) + "\n")
    return str(path)


@pytest.mark.parametrize("seed", range(2))
def test_hostile_markers_agree_under_literal_modes(spark, tmp_path, seed,
                                                   escaped_literals):
    from zeek_duckdb_spark import write_zeek
    from zeek_duckdb_spark.streaming.zeek_stream import read_zeek_stream

    register_zeek_datasource(spark)
    (tmp_path / "in").mkdir()
    p = gen_hostile_file(random.Random(100 + seed), tmp_path / "in" / "hostile.log")
    a = read_zeek(spark, p, inet=False)
    b = spark.read.format("zeek").option("inet", "false").load(p)
    assert a.schema == b.schema
    rows = norm_rows(a)
    assert rows == norm_rows(b)

    # the composed stream reader shares the batch reader's cast pipeline
    name = f"hostile_stream_{seed}_{escaped_literals}"
    q = (
        read_zeek_stream(spark, str(tmp_path / "in"), inet=False)
        .writeStream.format("memory").queryName(name)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    q.stop()
    assert spark.table(name).schema == a.schema
    assert norm_rows(spark.table(name)) == rows
    # markers really were applied, not read back as text
    cells = [v for r in a.collect() for v in r]
    values = cells + [e for v in cells if isinstance(v, list) for e in v]
    assert None in values
    assert HOSTILE_UNSET not in values and HOSTILE_EMPTY not in values

    out = str(tmp_path / "out")
    write_zeek(a, out)
    back = read_zeek(spark, f"{out}/*.log", inet=False)
    assert back.schema == a.schema
    assert norm_rows(back) == rows
