"""CSV source/sink with the reference's ingest semantics.

Reference: WarpConduit/Sources/CSVStream.swift:18-181 (read: header
dedup, per-cell type inference, ragged-row pad/truncate) and
Warp/Sources/Model/Steps/QBECSVStep.swift:16-133 (write: dates as
ISO8601, lists as pack strings).

Spark-first mapping: ``spark.read.csv`` in PERMISSIVE mode already
pads short rows with NULL and truncates extra cells when a schema is
supplied; type inference is Spark's sampler (≈ the reference's
per-cell ``Language.valueForLocalString``), run once per file version
and reader options (warp_spark.sources.parquet.read_inferred). The only
driver-side work is reading the header line of ONE file to dedupe
duplicate column names — O(1) regardless of data size.
"""

from __future__ import annotations

import glob as _glob
import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from warp_spark.sources.parquet import read_inferred


def _dedupe(names: list[str]) -> list[str]:
    """Duplicate header names get _2, _3… suffixes (case-insensitive,
    like the reference's column model, Schema.swift:17-44)."""
    seen: dict[str, int] = {}
    out = []
    for n in names:
        key = n.lower()
        seen[key] = seen.get(key, 0) + 1
        out.append(n if seen[key] == 1 else f"{n}_{seen[key]}")
    return out


def _read_header_line(path: str, separator: str, quote: str) -> list[str]:
    """Read the first physical line of the first file — a tiny
    driver-side peek, constant cost at any scale."""
    files = sorted(_glob.glob(path)) if any(c in path for c in "*?[") else [path]
    if os.path.isdir(files[0]):
        inner = sorted(
            f
            for f in _glob.glob(os.path.join(files[0], "*"))
            if os.path.isfile(f)
            and not os.path.basename(f).startswith(("_", "."))  # skip _SUCCESS etc.
        )
        files = inner or files
    import csv as _csv

    with open(files[0], newline="", encoding="utf-8", errors="replace") as fh:
        reader = _csv.reader(fh, delimiter=separator, quotechar=quote)
        return next(reader, [])


def read_csv(
    spark: SparkSession,
    path: str,
    separator: str = ",",
    header: bool = True,
    quote: str = '"',
    infer_schema: bool = True,
    multi_line: bool = True,
) -> DataFrame:
    """Read CSV with Warp semantics: header-dedup, ragged short rows
    padded with NULL, ragged long rows truncated to header width,
    quoted separators/newlines honored (escape is a doubled quote).
    The schema is inferred once per file version and options."""
    key = ("csv", separator, header, quote, infer_schema, multi_line)
    base = (
        spark.read.option("sep", separator)
        .option("quote", quote)
        .option("escape", quote)  # "" escaping, like the reference
        .option("multiLine", multi_line)
        .option("mode", "PERMISSIVE")
        .option("inferSchema", infer_schema)
    )
    if not header:
        base = base.option("header", False)
        return read_inferred(
            spark, key, path, lambda s: (base if s is None else base.schema(s)).csv(path)
        )

    raw_names = _read_header_line(path, separator, quote)
    names = _dedupe([n if n else f"col_{i+1}" for i, n in enumerate(raw_names)])
    # supplying the schema is what makes PERMISSIVE pad/truncate ragged
    # rows to exactly the header width (QBETests.swift:110-146 semantics)
    if infer_schema:
        with_header = base.option("header", True)
        inferred = read_inferred(
            spark, key, path,
            lambda s: (with_header if s is None else with_header.schema(s)).csv(path),
        ).schema
        fields = [
            T.StructField(names[i], inferred[i].dataType if i < len(inferred) else T.StringType())
            for i in range(len(names))
        ]
    else:
        fields = [T.StructField(n, T.StringType()) for n in names]
    return (
        base.option("header", True)
        .schema(T.StructType(fields))
        .csv(path)
    )


def write_csv(
    df: DataFrame,
    path: str,
    separator: str = ",",
    header: bool = True,
    mode: str = "overwrite",
) -> None:
    """Write CSV per the reference's export rules: timestamps as UTC
    ISO8601, arrays as pack-encoded strings (QBECSVStep.swift:16-133)."""
    from warp_spark.values import pack_list

    cols = []
    for f in df.schema.fields:
        c = F.col(f.name)
        if isinstance(f.dataType, T.TimestampType):
            c = F.date_format(c, "yyyy-MM-dd'T'HH:mm:ss'Z'").alias(f.name)
        elif isinstance(f.dataType, T.ArrayType):
            c = pack_list(c.cast("array<string>")).alias(f.name)
        else:
            c = c.alias(f.name)
        cols.append(c)
    (
        df.select(*cols)
        .write.option("sep", separator)
        .option("header", header)
        .option("quote", '"')
        .option("escape", '"')
        .mode(mode)
        .csv(path)
    )
