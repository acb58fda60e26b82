"""Streaming Python DataSource: spark.readStream.format("zeek").

The streaming twin of the batch DS (sources/datasource.py
ZeekStreamReader): per-file microbatch planning with checkpointable
file-set offsets, and — unlike the composed CSV stream — the batch
scan's STRICT schema re-validation applied to every file rotated in
later (ref src/zeek_scanner.cpp:270-303 scan-time re-check)."""

import glob
import shutil

import pytest

from pyspark.sql import functions as F

from zeek_duckdb_spark import read_zeek
from zeek_duckdb_spark.sources.zeek import ZeekHeaderError

REF = "/root/reference/data"


@pytest.fixture(autouse=True)
def _register(spark):
    from zeek_duckdb_spark.sources.datasource import register_zeek_datasource

    register_zeek_datasource(spark)


def _stage(tmp_path, n):
    d = tmp_path / "logs"
    d.mkdir(exist_ok=True)
    files = sorted(glob.glob(f"{REF}/known_hosts_*.log.gz"))[:n]
    for f in files:
        shutil.copy(f, d)
    return str(d)


def _drain(stream, name):
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    q.stop()


def test_ds_stream_typed_rows_match_batch(spark, tmp_path):
    d = _stage(tmp_path, 6)
    stream = spark.readStream.format("zeek").load(f"{d}/*.log.gz")
    _drain(stream, "ds_typed")
    got = spark.sql("SELECT * FROM ds_typed")
    batch = read_zeek(spark, f"{d}/*.log.gz")
    assert got.schema == batch.schema  # same bind-time typing
    g = sorted(tuple(r) for r in got.collect())
    b = sorted(tuple(r) for r in batch.collect())
    assert g == b and len(g) > 0


@pytest.mark.slow
def test_ds_stream_checkpointed_incremental_pickup(spark, tmp_path):
    d = _stage(tmp_path, 6)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = spark.readStream.format("zeek").option("filename", "true").load(
            f"{d}/*.log.gz"
        )
        q = (
            stream.select("kuid", "filename")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        q.stop()

    run()
    n1 = spark.read.parquet(out).count()
    assert n1 == read_zeek(spark, f"{d}/*.log.gz").count()
    # rotate two more hours in; restart from the same checkpoint — the
    # file-set offset replans ONLY the new files
    for f in sorted(glob.glob(f"{REF}/known_hosts_*.log.gz"))[6:8]:
        shutil.copy(f, d)
    run()
    final = spark.read.parquet(out)
    assert final.count() == read_zeek(spark, f"{d}/*.log.gz").count()
    assert final.select("kuid").distinct().count() == final.count()  # no re-reads


def test_ds_stream_rejects_rotated_schema_divergence(spark, tmp_path):
    d = _stage(tmp_path, 3)
    stream = spark.readStream.format("zeek").load(f"{d}/*.log*")
    _drain(stream, "ds_strict")
    # a later rotation with a DIFFERENT schema must fail the microbatch
    # with the reference's wording — the strict guarantee the composed
    # CSV stream cannot give (it would emit NULLs instead)
    shutil.copy(f"{REF}/schema_extra/b.log", f"{d}/known_hosts_zzz.log")
    with pytest.raises(Exception, match="Schema mismatch|different field count"):
        q = (
            stream.writeStream.format("memory")
            .queryName("ds_strict2")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        raise RuntimeError(f"microbatch unexpectedly succeeded")


def test_ds_stream_ignore_file_errors_skips_divergent(spark, tmp_path):
    d = _stage(tmp_path, 3)
    shutil.copy(f"{REF}/schema_extra/b.log", f"{d}/known_hosts_zzz.log")
    stream = (
        spark.readStream.format("zeek")
        .option("ignore_file_errors", "true")
        .load(f"{d}/*.log*")
    )
    _drain(stream, "ds_skip")
    # the three clean hours land; the divergent rotation is skipped
    n = spark.sql("SELECT count(*) FROM ds_skip").first()[0]
    assert n == read_zeek(spark, f"{d}/known_hosts_2*.log.gz").count()

UNION = "/root/reference/data/schema_union_overlap"


def _write_log(path, fields, types, rows):
    lines = [
        "#separator \t",
        "#set_separator\t,",
        "#empty_field\t(empty)",
        "#unset_field\t-",
        "#path\ttest",
        "#fields\t" + "\t".join(fields),
        "#types\t" + "\t".join(types),
    ]
    lines += ["\t".join(r) for r in rows]
    with open(path, "w") as fh:
        fh.write("\n".join(lines) + "\n")


def test_ds_stream_union_rotated_subset_maps_by_name(spark, tmp_path):
    # union stream bound over old+new; a later rotation that carries a
    # REORDERED SUBSET of the union fields must map by name (per-file
    # fmap computed at planning), not by position
    d = tmp_path / "logs"
    d.mkdir()
    shutil.copy(f"{UNION}/old.log", d)
    shutil.copy(f"{UNION}/new.log", d)
    stream = (
        spark.readStream.format("zeek")
        .option("union_by_name", "true")
        .option("inet", "false")
        .load(f"{d}/*.log")
    )
    _drain(stream, "ds_union1")
    assert spark.sql("SELECT count(*) FROM ds_union1").first()[0] == 4
    # rotation: value before id, no ts/extra/newfield
    _write_log(
        str(d / "rot.log"), ["value", "id"], ["count", "string"],
        [["70", "C1"]],
    )
    _drain(stream, "ds_union1")
    row = spark.sql(
        "SELECT id, value, extra FROM ds_union1 WHERE id = 'C1'"
    ).first()
    assert row.value == 70 and row.extra is None


@pytest.mark.slow
def test_ds_stream_union_rejects_rotated_type_conflict(spark, tmp_path):
    # a rotated file whose SHARED field changed type must fail the
    # microbatch with the batch path's union wording — not stream
    # through as silent NULLs (the stale-parse-type misparse)
    d = tmp_path / "logs"
    d.mkdir()
    shutil.copy(f"{UNION}/old.log", d)
    stream = (
        spark.readStream.format("zeek")
        .option("union_by_name", "true")
        .option("inet", "false")
        .load(f"{d}/*.log")
    )
    _drain(stream, "ds_union2")
    _write_log(
        str(d / "rot.log"), ["ts", "id", "value"],
        ["time", "string", "string"],  # value: count -> string
        [["1768540999.000000", "X1", "oops"]],
    )
    with pytest.raises(Exception, match="union_by_name type conflict"):
        q = (
            stream.writeStream.format("memory")
            .queryName("ds_union2b")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        raise RuntimeError("microbatch unexpectedly succeeded")


@pytest.mark.slow
def test_ds_stream_union_ignore_file_errors_skips_conflict(spark, tmp_path):
    d = tmp_path / "logs"
    d.mkdir()
    shutil.copy(f"{UNION}/old.log", d)
    stream = (
        spark.readStream.format("zeek")
        .option("union_by_name", "true")
        .option("inet", "false")
        .option("ignore_file_errors", "true")
        .load(f"{d}/*.log")
    )
    _drain(stream, "ds_union3")
    # the conflicting file rotates in AFTER the stream bound its schema;
    # under ignore_file_errors the planning-time union re-check skips it
    _write_log(
        str(d / "rot.log"), ["ts", "id", "value"],
        ["time", "string", "string"],
        [["1768540999.000000", "X1", "oops"]],
    )
    _drain(stream, "ds_union3")
    got = spark.sql("SELECT id FROM ds_union3").collect()
    assert sorted(r.id for r in got) == ["A1", "A2"]


def test_ds_stream_union_rotations_checked_by_name(spark, tmp_path):
    # the union stream on generated files: a rotated reordered subset
    # maps by name, and a rotated shared-field type change fails the
    # microbatch naming the file the field was bound from
    d = tmp_path / "logs"
    d.mkdir()
    _write_log(str(d / "a.log"), ["ts", "id", "value"],
               ["time", "string", "count"], [["1768540000.000000", "A1", "10"]])
    _write_log(str(d / "b.log"), ["ts", "id", "value", "extra"],
               ["time", "string", "count", "string"],
               [["1768540100.000000", "A2", "20", "x"]])
    stream = (
        spark.readStream.format("zeek")
        .option("union_by_name", "true")
        .option("inet", "false")
        .load(f"{d}/*.log")
    )
    _drain(stream, "ds_union_gen")
    assert spark.sql("SELECT count(*) FROM ds_union_gen").first()[0] == 2
    _write_log(str(d / "c.log"), ["value", "id"], ["count", "string"],
               [["70", "C1"]])
    _drain(stream, "ds_union_gen")
    row = spark.sql(
        "SELECT value, extra FROM ds_union_gen WHERE id = 'C1'"
    ).first()
    assert row.value == 70 and row.extra is None
    _write_log(str(d / "d.log"), ["ts", "id", "value"],
               ["time", "string", "string"],
               [["1768540999.000000", "X1", "oops"]])
    with pytest.raises(Exception, match=r"type conflict: field 'value' has "
                                        r"type 'count' in '\S*a\.log'"):
        q = (
            stream.writeStream.format("memory")
            .queryName("ds_union_gen2")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        raise RuntimeError("microbatch unexpectedly succeeded")
