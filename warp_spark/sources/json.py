"""JSON source/sink with the reference's three-shape detection.

Reference: WarpConduit/Sources/JSONStream.swift:18-168 — a JSON file is
(1) an array of objects → one row per object, keys as columns;
(2) an array of scalar values → one ``items`` column;
(3) a single scalar/object → a single-row ``data`` column.

Spark-first mapping: shape (1) is ``spark.read.json(multiLine=True)``
— fully distributed; its schema is inferred once per file version
(warp_spark.sources.parquet.read_inferred). Shapes (2)/(3) are
config-file-sized by construction (a single JSON scalar array); they
parse driver-side and become a small DataFrame. Newline-delimited JSON (the cluster-scale
format) passes straight through to ``spark.read.json``.
"""

from __future__ import annotations

import glob as _glob
import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from warp_spark.sources.parquet import read_inferred


def _first_file(path: str) -> str:
    files = sorted(_glob.glob(path)) if any(c in path for c in "*?[") else [path]
    if os.path.isdir(files[0]):
        inner = sorted(
            f
            for f in _glob.glob(os.path.join(files[0], "*"))
            if os.path.isfile(f)
            and not os.path.basename(f).startswith(("_", "."))  # skip _SUCCESS etc.
        )
        files = inner or files
    return files[0]


def read_json(spark: SparkSession, path: str, multi_line: bool = True) -> DataFrame:
    """Read JSON, detecting the reference's three shapes."""
    reader = spark.read.option("multiLine", multi_line)
    df = read_inferred(
        spark, ("json", multi_line), path,
        lambda s: (reader if s is None else reader.schema(s)).json(path),
    )
    if not multi_line:
        return df  # NDJSON: one object per line
    cols = df.columns
    if cols and cols != ["_corrupt_record"]:
        return df  # shape 1: array of objects (or a single object)

    # shapes 2/3: array-of-scalars or single scalar — parse driver-side
    with open(_first_file(path), encoding="utf-8") as fh:
        doc = json.load(fh)
    if isinstance(doc, list):
        return spark.createDataFrame([(v,) for v in doc], ["items"])
    return spark.createDataFrame([(doc,)], ["data"])


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Write as newline-delimited JSON (the scalable interchange form)."""
    df.write.mode(mode).json(path)
