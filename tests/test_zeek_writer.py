"""write_zeek: Zeek TSV sink round-trip (read_zeek -> write_zeek ->
read_zeek equality), wire-form exactness, and the no-escaping guard."""

import glob
import gzip
import os

import pytest

from pyspark.sql import functions as F

from zeek_duckdb_spark import read_zeek, write_zeek

REF = "/root/reference/data"


@pytest.fixture(autouse=True)
def _register(spark):
    from zeek_duckdb_spark.sources.datasource import register_zeek_datasource

    register_zeek_datasource(spark)


def _round_trip_equal(spark, df, out, **kw):
    write_zeek(df, out, **kw)
    back = read_zeek(spark, f"{out}/*.log*")
    assert back.schema == df.schema
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))
    return back


def test_round_trip_known_hosts(spark, tmp_path):
    df = read_zeek(spark, f"{REF}/known_hosts_20260116_0[0-5]*.log.gz")
    _round_trip_equal(
        spark, df, str(tmp_path / "kh"),
        zeek_types={"host_ip": "addr", "conns_opened": "count",
                    "conns_closed": "count"},
    )


def test_round_trip_dns_vectors_and_unset(spark, tmp_path):
    # dns.log carries vector columns and unset markers
    df = read_zeek(spark, f"{REF}/dns.log.gz")
    _round_trip_equal(spark, df, str(tmp_path / "dns"))


def test_round_trip_dhcp_sets(spark, tmp_path):
    df = read_zeek(spark, f"{REF}/dhcp.log.gz")
    _round_trip_equal(spark, df, str(tmp_path / "dhcp"))


def test_round_trip_gz_and_one_file_per_partition(spark, tmp_path):
    df = read_zeek(spark, f"{REF}/known_hosts_20260116_0[0-2]*.log.gz")
    out = str(tmp_path / "gz")
    write_zeek(df, out, compress=True)
    files = sorted(glob.glob(f"{out}/part-*.log.gz"))
    assert len(files) == df.rdd.getNumPartitions()
    with gzip.open(files[0], "rt") as fh:
        assert fh.readline() == "#separator \\x09\n"
    back = read_zeek(spark, f"{out}/*.log.gz")
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_wire_forms_exact(spark, tmp_path):
    # µs-exact integer time/interval formatting, T/F bools, markers
    df = spark.sql(
        "SELECT timestamp_micros(1768540789230929) AS ts, "
        "INTERVAL '0 00:05:23.126660' DAY TO SECOND AS dur, "
        "-INTERVAL '0 00:00:01.000001' DAY TO SECOND AS neg, "
        "true AS b, CAST(NULL AS STRING) AS s0, '' AS s1, "
        "array('x', CAST(NULL AS STRING), '') AS v, "
        "array() AS e"
    ).select("ts", "dur", "neg", "b", "s0", "s1", "v",
             F.col("e").cast("array<string>").alias("e"))
    out = str(tmp_path / "wire")
    write_zeek(df, out)
    line = [
        l for l in open(glob.glob(f"{out}/part-*.log")[0])
        if not l.startswith("#")
    ][0].rstrip("\n")
    # -1.000001 naively parses back as -1000000µs (float truncation),
    # so the writer appends the half-µs guard digit for exactly that row
    assert line.split("\t") == [
        "1768540789.230929", "323.126660", "-1.0000015", "T", "-",
        "(empty)", "x,-,(empty)", "(empty)",
    ]


def test_unwritable_value_errors_loudly_or_strips(spark, tmp_path):
    df = spark.createDataFrame([(1, "a\tb")], "id long, text string")
    with pytest.raises(Exception, match="no\\s+escaping|escaping"):
        write_zeek(df, str(tmp_path / "bad"))
    write_zeek(df, str(tmp_path / "ok"), on_unwritable="strip")
    back = read_zeek(spark, str(tmp_path / "ok") + "/*.log")
    assert back.collect()[0].text == "a b"


def test_mode_error_refuses_existing_output(spark, tmp_path):
    df = spark.createDataFrame([(1,)], "id long")
    out = str(tmp_path / "dup")
    write_zeek(df, out)
    with pytest.raises(Exception, match="already contains"):
        write_zeek(df, out, mode="error")
    write_zeek(df, out)  # overwrite default replaces
    assert read_zeek(spark, f"{out}/*.log").count() == 1


def test_batch_writers_two_phase_commit(tmp_path):
    """All-or-nothing batch sinks (r13 advice): write() stages a
    dot-prefixed tmp only — no visible part-* until commit() renames;
    abort() discards; stale tmps from a SIGKILLed run reap at the next
    writer's construction.  Driven at the writer-class level so the
    mid-job window is deterministic, not a race."""
    import os

    from zeek_duckdb_spark.sources.datasource import WetShardWriter
    from zeek_duckdb_spark.sources.zeek_writer import ZeekLogWriter

    wdir = str(tmp_path / "wet")
    w = WetShardWriter({"path": wdir}, overwrite=True)
    msg = w.write(iter([("https://a.org/x", "2026-01-01T00:00:00Z", "hi")]))
    # the mid-job window: task done, commit not yet run -> nothing visible
    assert not any(f.startswith("part-") for f in os.listdir(wdir))
    assert msg.tmp is not None and os.path.exists(msg.tmp)
    w.commit([msg, None])
    assert os.path.exists(os.path.join(wdir, "part-00000.warc.gz"))
    assert not os.path.exists(msg.tmp)
    # abort discards the staged bytes
    msg2 = w.write(iter([("https://a.org/y", None, "t")]))
    w.abort([msg2])
    assert not os.path.exists(msg2.tmp)
    # empty partition stages nothing and commit tolerates it
    empty = w.write(iter([]))
    assert empty.tmp is None
    w.commit([empty])

    zdir = str(tmp_path / "zeek")
    z = ZeekLogWriter({"path": zdir, "zeek_header": "#separator \\x09"},
                      overwrite=True)
    m = z.write(iter([("a\tb",)]))
    assert not any(f.startswith("part-") for f in os.listdir(zdir))
    z.commit([m])
    final = os.path.join(zdir, "part-00000.log")
    assert os.path.exists(final)
    with open(final) as fh:
        assert fh.read() == "#separator \\x09\na\tb\n"
    # dot-tmp reaping at construction is AGE-GATED (r14 review: an
    # unconditional reap deleted a concurrent in-flight job's staged
    # files): an old tmp from a SIGKILLed run reaps, a fresh one —
    # some live job's staging — survives
    import time

    stale = os.path.join(zdir, ".part-00007.log.tmp-9")
    fresh = os.path.join(zdir, ".part-00008.log.tmp-2")
    open(stale, "wb").close()
    open(fresh, "wb").close()
    old = time.time() - 48 * 3600  # past the 24h staleness window
    os.utime(stale, (old, old))
    ZeekLogWriter({"path": zdir, "zeek_header": ""}, overwrite=True)
    assert not os.path.exists(stale)
    assert os.path.exists(fresh)


def test_dollar_brace_column_names_round_trip(spark, tmp_path):
    """A column named ``${...}`` is a name, not a variable reference:
    write_zeek lands it, read_zeek (strict and union) reads it back,
    and both agree with format("zeek"), whose path has no SQL text."""
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("${spark.app.name}", T.LongType()),
        T.StructField("${nosuch.var}", T.StringType()),
    ])
    df = spark.createDataFrame([(1, "a"), (2, None), (3, "$x")], schema)
    out = str(tmp_path / "dollar")
    write_zeek(df, out)
    with open(glob.glob(f"{out}/part-*.log")[0]) as fh:
        assert "#fields\t${spark.app.name}\t${nosuch.var}\n" in fh.read()
    want = sorted(map(tuple, df.collect()))
    ds = spark.read.format("zeek").load(f"{out}/*.log")
    assert ds.columns == ["${spark_app_name}", "${nosuch_var}"]
    assert sorted(map(tuple, ds.collect())) == want
    for kw in ({}, {"union_by_name": True}):
        back = read_zeek(spark, f"{out}/*.log", **kw)
        assert back.schema == ds.schema
        assert sorted(map(tuple, back.collect())) == want
    raw = read_zeek(spark, f"{out}/*.log", replace_periods=False)
    assert raw.columns == ["${spark.app.name}", "${nosuch.var}"]


def test_typed_api_required(spark, tmp_path):
    # raw format("zeek") writes need the pre-formatted single column
    df = spark.createDataFrame([(1, "x")], "id long, text string")
    with pytest.raises(Exception, match="pre-formatted string column"):
        df.write.format("zeek").mode("overwrite").option(
            "zeek_header", "#fields\tid"
        ).save(str(tmp_path / "raw"))


def test_unsupported_type_names_column(spark):
    df = spark.createDataFrame([(1, bytearray(b"x"))], "id long, blob binary")
    with pytest.raises(ValueError, match="blob"):
        write_zeek(df, "/tmp/never")


def test_randomized_typed_round_trip_fuzz(spark, tmp_path):
    # 400 random rows across every wire type, exact value equality —
    # including the ~1.2% of µs values where naive 6-digit decimal
    # formatting would read back 1µs low (the guard-digit path)
    import random

    rng = random.Random(42)

    def rand_str(charset="abcXYZ 0123,.:-()"):
        n = rng.randrange(0, 12)
        return "".join(rng.choice(charset) for _ in range(n))

    rows = []
    for i in range(400):
        us_ts = rng.randrange(0, 4_000_000_000_000_000)
        us_itv = rng.randrange(-(10**12), 10**12)
        rows.append((
            i,
            us_ts,
            us_itv,
            rng.choice([None, True, False]),
            rng.choice([None, rng.randrange(-(2**62), 2**62)]),
            rng.choice([None, rng.uniform(-1e6, 1e6), 1e300, -2.5e-7,
                        float("inf")]),
            rng.choice([None, "", rand_str()]),
            # elements may not carry the set separator (guarded loudly,
            # tested below); everything else round-trips
            rng.choice([None, [], [rand_str("abXY 0.:()"), None, ""],
                        [rng.choice(["x", "y"]) for _ in range(3)]]),
        ))
    df = spark.createDataFrame(
        rows,
        "id long, us_ts long, us_itv long, b boolean, l long, d double, "
        "s string, v array<string>",
    ).selectExpr(
        "id",
        "timestamp_micros(us_ts) AS ts",
        "us_itv * INTERVAL '0.000001' SECOND AS itv",
        "b", "l", "d", "s", "v",
    )
    out = str(tmp_path / "fuzz")
    write_zeek(df, out)
    back = read_zeek(spark, f"{out}/*.log")
    assert back.schema == df.schema

    # wire-inexpressible string values read back NULL (documented):
    # a string equal to a marker is indistinguishable from the marker
    def norm_s(x):
        return None if x in ("", "-", "(empty)") else x

    def norm(row):
        r = list(row)
        r[6] = norm_s(r[6])
        # [] is wire-inexpressible: the empty marker reads back NULL
        # (reference-pinned, zeek.test:191-206)
        r[7] = None if r[7] is None or r[7] == [] else [norm_s(e) for e in r[7]]
        return tuple(r)

    a = {r[0]: norm(tuple(r)) for r in df.collect()}
    b = {r[0]: tuple(r) for r in back.collect()}
    assert set(a) == set(b)
    for k in a:
        assert a[k] == b[k], (k, a[k], b[k])


def test_set_separator_inside_element_guarded(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, ["a,b", "c"])], "id long, v array<string>"
    )
    with pytest.raises(Exception, match="escaping"):
        write_zeek(df, str(tmp_path / "bad"))
    write_zeek(df, str(tmp_path / "ok"), on_unwritable="strip")
    back = read_zeek(spark, str(tmp_path / "ok") + "/*.log")
    assert back.collect()[0].v == ["a b", "c"]


# --- streaming sink -----------------------------------------------------

@pytest.mark.slow
def test_stream_round_trip_and_exactly_once_restart(spark, tmp_path):
    import shutil

    from zeek_duckdb_spark import write_zeek_stream

    src = tmp_path / "in"
    src.mkdir()
    hours = sorted(glob.glob(f"{REF}/known_hosts_*.log.gz"))
    for f in hours[:4]:
        shutil.copy(f, src)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = spark.readStream.format("zeek").load(f"{src}/*.log.gz")
        q = write_zeek_stream(
            stream, out, ckpt,
            zeek_types={"host_ip": "addr"},
            trigger_available_now=True,
        )
        q.awaitTermination(120)
        q.stop()

    run()
    batch_in = read_zeek(spark, f"{src}/*.log.gz")
    back = read_zeek(spark, f"{out}/batch-*.log")
    assert back.schema == batch_in.schema
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, batch_in.collect())
    )
    # rotate two more hours in; restart from the same checkpoint — only
    # the new files land, nothing is duplicated, staging is drained
    for f in hours[4:6]:
        shutil.copy(f, src)
    run()
    back2 = read_zeek(spark, f"{out}/batch-*.log")
    batch_in2 = read_zeek(spark, f"{src}/*.log.gz")
    assert sorted(map(tuple, back2.collect())) == sorted(
        map(tuple, batch_in2.collect())
    )
    assert glob.glob(f"{out}/.staging/*") == []


def _rotated_log(path, hour: int, rows: int = 5) -> None:
    """One generated hourly Zeek log (gzip), ``rows`` rows, distinct per
    hour so a duplicated file would show as duplicated rows."""
    header = "\n".join([
        "#separator \\x09", "#set_separator\t,", "#empty_field\t(empty)",
        "#unset_field\t-", "#path\tknown_hosts",
        "#fields\tts\thost_ip\tconns_opened\ttags",
        "#types\ttime\taddr\tcount\tset[string]",
    ])
    lines = [
        f"{1768500000 + hour * 3600 + i}.250000\t10.0.{hour}.{i}\t{hour * 10 + i}"
        f"\t{'-' if i % 2 else f'h{hour},n{i}'}"
        for i in range(rows)
    ]
    with gzip.open(path, "wt") as fh:
        fh.write(header + "\n" + "\n".join(lines) + "\n")


def test_stream_restart_exactly_once_generated_logs(spark, tmp_path):
    """The restart test on generated rotated logs: land four hours,
    stream them out, rotate two more in and restart from the same
    checkpoint — the output holds every input row once and the staging
    directory is drained."""
    from zeek_duckdb_spark import write_zeek_stream

    src = tmp_path / "in"
    src.mkdir()
    for h in range(4):
        _rotated_log(src / f"known_hosts_{h:02d}.log.gz", h)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = spark.readStream.format("zeek").load(f"{src}/*.log.gz")
        q = write_zeek_stream(stream, out, ckpt, zeek_types={"host_ip": "addr"},
                              trigger_available_now=True)
        q.awaitTermination(120)
        q.stop()

    def rows(pattern):
        return sorted(map(tuple, read_zeek(spark, pattern).collect()))

    run()
    assert rows(f"{out}/batch-*.log") == rows(f"{src}/*.log.gz")
    first = sorted(os.listdir(out))
    for h in (4, 5):
        _rotated_log(src / f"known_hosts_{h:02d}.log.gz", h)
    run()
    back = rows(f"{out}/batch-*.log")
    assert len(back) == 30 and len({r[:3] for r in back}) == 30
    assert back == rows(f"{src}/*.log.gz")
    # the first run's files are untouched; the restart added new ones
    assert set(first) < set(os.listdir(out))
    assert os.listdir(os.path.join(out, ".staging")) == []


def test_leading_hash_first_column_guarded(spark, tmp_path):
    # '#' at line start reads back as a comment — the row would vanish
    df = spark.createDataFrame(
        [("#fields evil", 1), ("ok", 2)], "msg string, id long"
    )
    with pytest.raises(Exception, match="comment"):
        write_zeek(df, str(tmp_path / "bad"))
    write_zeek(df, str(tmp_path / "ok"), on_unwritable="strip")
    back = read_zeek(spark, str(tmp_path / "ok") + "/*.log")
    assert back.count() == 2  # no silent row loss
    assert {r.msg for r in back.collect()} == {" fields evil", "ok"}
    # '#' in a NON-first column is harmless and untouched
    df2 = spark.createDataFrame([(1, "#tag")], "id long, msg string")
    write_zeek(df2, str(tmp_path / "mid"))
    assert read_zeek(spark, str(tmp_path / "mid") + "/*.log").first().msg == "#tag"


@pytest.mark.slow
def test_schema_randomized_round_trip_fuzz(spark, tmp_path):
    # 10 random schemas over the full wire-type vocabulary, random
    # typed rows each, exact round trip (modulo the documented
    # wire-inexpressible normalizations)
    import random

    from pyspark.sql import types as T

    rng = random.Random(7)
    POOL = [
        ("time", "timestamp"),
        ("interval", "interval day to second"),
        ("bool", "boolean"),
        ("int", "long"),
        ("count", "long"),
        ("port", "int"),
        ("double", "double"),
        ("string", "string"),
        ("vector[string]", "array<string>"),
        ("vector[int]", "array<long>"),
        ("vector[double]", "array<double>"),
    ]

    def rand_val(zt, in_vector=False):
        if rng.random() < 0.15:
            return None
        if zt == "time":
            import datetime

            us = rng.randrange(0, 4_000_000_000_000_000)
            return datetime.datetime.fromtimestamp(
                us / 1e6, datetime.timezone.utc
            ).replace(tzinfo=None)
        if zt == "interval":
            import datetime

            return datetime.timedelta(
                microseconds=rng.randrange(-(10**12), 10**12)
            )
        if zt == "bool":
            return rng.random() < 0.5
        if zt == "int":
            return rng.randrange(-(2**62), 2**62)
        if zt == "count":
            return rng.randrange(0, 2**62)
        if zt == "port":
            return rng.randrange(0, 65536)
        if zt == "double":
            return rng.uniform(-1e9, 1e9)
        if zt == "string":
            # scalar strings may carry the set separator; vector
            # ELEMENTS may not (guarded loudly — tested separately)
            cs = "abcXYZ 0123.:()" if in_vector else "abcXYZ 0123,.:()"
            return "".join(rng.choice(cs) for _ in range(rng.randrange(0, 10)))
        inner = zt[zt.index("[") + 1 : -1]
        return [rand_val(inner, True) for _ in range(rng.randrange(0, 4))]

    def norm_s(x):
        return None if x in ("", "-", "(empty)") else x

    for trial in range(10):
        n_cols = rng.randrange(1, 7)
        fields = [("id", "int", "long")] + [
            (f"c{j}", *rng.choice(POOL)) for j in range(n_cols)
        ]
        ddl = ", ".join(f"{n} {st}" for n, _zt, st in fields)
        rows = [
            tuple(
                i if n == "id" else rand_val(zt) for n, zt, _st in fields
            )
            for i in range(40)
        ]
        df = spark.createDataFrame(rows, ddl)
        ztypes = {n: zt for n, zt, _st in fields if zt in ("count", "port")}
        out = str(tmp_path / f"fz{trial}")
        write_zeek(df, out, zeek_types=ztypes)
        back = read_zeek(spark, f"{out}/*.log")
        assert back.schema == df.schema, trial

        def norm(row):
            r = list(row)
            for ci, (n, zt, _st) in enumerate(fields):
                if zt == "string":
                    r[ci] = norm_s(r[ci])
                elif zt.startswith("vector"):
                    if r[ci] is None or r[ci] == []:
                        r[ci] = None
                    else:
                        v = (
                            [norm_s(e) for e in r[ci]]
                            if zt == "vector[string]"
                            else list(r[ci])
                        )
                        # a SINGLE element rendering to a marker makes
                        # the whole cell the marker -> reads back NULL
                        r[ci] = None if v == [None] else v
            return tuple(r)

        a = {r[0]: norm(tuple(r)) for r in df.collect()}
        b = {r[0]: tuple(r) for r in back.collect()}
        assert a == b, trial


@pytest.mark.slow
def test_stream_to_stream_composition(spark, tmp_path):
    # rotated logs stream IN -> transformed -> stream OUT as rotated
    # zeek logs -> streamed back IN: the sink's batch-*.log layout IS
    # the rotation shape the streaming reader consumes
    import shutil

    from pyspark.sql import functions as F

    from zeek_duckdb_spark import write_zeek_stream

    src = tmp_path / "in"
    src.mkdir()
    hours = sorted(glob.glob(f"{REF}/known_hosts_*.log.gz"))[:6]
    for f in hours:
        shutil.copy(f, src)
    mid = str(tmp_path / "mid")
    q = write_zeek_stream(
        spark.readStream.format("zeek").load(f"{src}/*.log.gz")
        .select("ts", "kuid", "host_ip", "conns_opened"),
        mid, str(tmp_path / "ck1"),
        zeek_types={"host_ip": "addr", "conns_opened": "count"},
        trigger_available_now=True,
    )
    q.awaitTermination(120)
    q.stop()
    stream2 = spark.readStream.format("zeek").load(f"{mid}/batch-*.log")
    q2 = (
        stream2.groupBy("host_ip")
        .agg(F.sum("conns_opened").alias("n"))
        .writeStream.format("memory")
        .queryName("s2s")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    q2.stop()
    rows = spark.sql("SELECT * FROM s2s").collect()
    want = (
        read_zeek(spark, f"{src}/*.log.gz")
        .groupBy("host_ip").agg(F.sum("conns_opened").alias("n")).collect()
    )
    assert sorted(map(tuple, rows)) == sorted(map(tuple, want))


def test_write_zeek_zstd_roundtrip(spark, tmp_path):
    """compress='zst' writes real zstd frames through pyarrow's bundled
    codec; the scan path auto-detects .log.zst and returns identical
    values — Zeek's third compression format now round-trips too."""
    from zeek_duckdb_spark import read_zeek, write_zeek

    df = spark.createDataFrame(
        [(1, "alpha", 1.5), (2, None, -0.25), (3, "gamma", 0.0)],
        "n long, s string, x double",
    ).repartition(2)
    out = str(tmp_path / "zst_logs")
    write_zeek(df, out, compress="zst")
    import os

    files = sorted(os.listdir(out))
    assert files and all(f.endswith(".log.zst") for f in files)
    with open(os.path.join(out, files[0]), "rb") as fh:
        assert fh.read(4) == b"\x28\xb5\x2f\xfd"  # zstd frame magic

    back = read_zeek(spark, out + "/*.log.zst")
    want = {tuple(r) for r in df.collect()}
    assert {tuple(r) for r in back.collect()} == want

    import pytest as _pytest
    with _pytest.raises(Exception, match="compress"):
        write_zeek(df, str(tmp_path / "bad"), compress="lzma")
