"""Zeek JSON-log reader — extension beyond the reference (which scans
only the self-describing TSV format; ref src/zeek_scanner.cpp).  Modern
Zeek deployments commonly run the JSON writer (``LogAscii::use_json``):
one JSON object per line, unset fields OMITTED, ``ts`` as epoch-seconds
double by default (``json_timestamps="epoch"``) or ISO8601 strings
(``JSON::TS_ISO8601``).

JSON logs are NOT self-describing the way TSV headers are — there is no
``#types`` line — so the caller either:

- passes ``types`` (field -> Zeek type name, the same names a ``#types``
  header would carry): the file is read with an explicit schema and the
  values get the SAME parse semantics as the TSV reader (``time`` =
  epoch double -> µs-truncated timestamp, ``port`` range-checked,
  ``count`` negative -> NULL, recursive ``vector[...]``/``set[...]``),
  or
- passes nothing: Spark's JSON schema inference decides (numbers stay
  longs/doubles, ``ts`` stays a double) — fine for exploration, not for
  parity with ``read_zeek``.

Scale shape: one ``spark.read.json`` over the glob — line-delimited
JSON splits per file (and gzip members scan whole-file, same as the
TSV path), filters/pruning push into the scan, and the typed-cast
pipeline is a pure projection fused into the scan stage.

Column names keep Zeek's dotted field ids (``id.orig_h``) unless
``replace_periods=True`` (default, like the reference's named option,
ref src/zeek_scanner.cpp:460-464) rewrites them to ``id_orig_h``.

``filename=True`` adds the source file as a column via
``input_file_name()`` — NOTE this is the resolved file URI, not the
as-given pattern echo the TSV reader implements for reference parity
(A24); JSON is an extension surface, and the resolved URI is what a
multi-file streaming job wants anyway.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from zeek_duckdb_spark.header import glob_zeek_files

__all__ = ["read_zeek_json"]


def _json_read_type(zeek_type: str) -> T.DataType:
    """The JSON-native type a Zeek-typed field arrives as (pre-cast):
    times/intervals/doubles are JSON numbers (read double), counts/
    ints/ports are JSON integers (read long), bools are JSON bools,
    everything stringy stays string; containers recurse."""
    zt = zeek_type.strip()
    if zt.startswith("vector[") or zt.startswith("set["):
        if not zt.endswith("]"):
            return T.StringType()
        inner = zt[zt.index("[") + 1 : -1]
        return T.ArrayType(_json_read_type(inner), containsNull=True)
    if zt in ("time", "interval", "double"):
        return T.DoubleType()
    if zt in ("count", "int", "port"):
        return T.LongType()
    if zt == "bool":
        return T.BooleanType()
    return T.StringType()


def _cast_json_scalar(col: Column, zeek_type: str, timestamps: str) -> Column:
    """JSON-native value -> the TSV reader's output type, with the
    reference's parse semantics where they apply (µs truncation, port
    range check, negative-count NULL — see sources/zeek.py
    _cast_scalar; ref src/zeek_scanner.cpp:806-884)."""
    if zeek_type == "time":
        if timestamps == "iso":
            return F.try_to_timestamp(col)
        return F.timestamp_micros((col * F.lit(1e6)).try_cast("long"))
    if zeek_type == "interval":
        micros = (col * F.lit(1e6)).try_cast("long")
        secs = micros.cast("decimal(20,0)") / F.lit(1000000)
        return F.make_dt_interval(F.lit(0), F.lit(0), F.lit(0), secs)
    if zeek_type == "port":
        return F.when(col.between(0, 65535), col.cast("int"))
    if zeek_type == "count":
        return F.when(col >= 0, col)
    return col


def _cast_json_field(col: Column, zeek_type: str, timestamps: str) -> Column:
    zt = zeek_type.strip()
    if zt.startswith("vector[") or zt.startswith("set["):
        if zt.endswith("]"):
            inner = zt[zt.index("[") + 1 : -1]
            return F.transform(
                col, lambda x: _cast_json_field(x, inner, timestamps)
            )
        return col
    return _cast_json_scalar(col, zt, timestamps)


def _json_projection(
    types: dict[str, str] | None, timestamps: str, replace_periods: bool
) -> tuple[T.StructType | None, list[Column] | None]:
    """The read schema and the typed cast select for ``types`` — one
    definition the batch and stream readers share.  ISO ``time``
    fields are read as strings; output names get ``.`` -> ``_`` when
    ``replace_periods``.  ``(None, None)`` when ``types`` is None
    (schema inference); ``timestamps`` is validated either way."""
    if timestamps not in ("epoch", "iso"):
        raise ValueError("timestamps must be 'epoch' or 'iso'")
    if types is None:
        return None, None
    schema = T.StructType(
        [
            T.StructField(
                name,
                T.StringType()
                if (zt.strip() == "time" and timestamps == "iso")
                else _json_read_type(zt),
                True,
            )
            for name, zt in types.items()
        ]
    )
    cols = [
        _cast_json_field(F.col(f"`{name}`"), zt, timestamps).alias(
            name.replace(".", "_") if replace_periods else name
        )
        for name, zt in types.items()
    ]
    return schema, cols


def read_zeek_json(
    spark: SparkSession,
    pattern: str,
    types: dict[str, str] | None = None,
    replace_periods: bool = True,
    filename: bool = False,
    timestamps: str = "epoch",
) -> DataFrame:
    """Read Zeek JSON logs (one object per line, ``.json``/``.json.gz``
    or any line-delimited files matching ``pattern``) into a typed
    DataFrame.  See the module docstring for the ``types`` contract.

    ``timestamps``: ``"epoch"`` (Zeek default; ``time`` fields are
    epoch-seconds doubles) or ``"iso"`` (``JSON::TS_ISO8601`` strings).
    """
    schema, cols = _json_projection(types, timestamps, replace_periods)
    files = glob_zeek_files(pattern)  # deterministic order + zero-match error
    if schema is None:
        df = spark.read.json(files)
        if replace_periods:
            df = df.toDF(*[c.replace(".", "_") for c in df.columns])
    else:
        df = spark.read.schema(schema).json(files).select(*cols)
    if filename:
        df = df.withColumn("filename", F.input_file_name())
    return df
