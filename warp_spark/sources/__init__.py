from warp_spark.sources.csv import read_csv, write_csv
from warp_spark.sources.dbf import read_dbf, write_dbf
from warp_spark.sources.http import fetch_url
from warp_spark.sources.jdbc import (
    jdbc_url,
    read_jdbc,
    read_mysql,
    read_postgres,
    read_sqlite,
    write_jdbc,
)
from warp_spark.sources.json import read_json, write_json
from warp_spark.sources.parquet import current_sample, preview_source, read_parquet, read_source
from warp_spark.sources.xml import read_xml, write_xml

__all__ = [
    "read_csv", "write_csv",
    "read_json", "write_json",
    "read_parquet", "read_source", "preview_source", "current_sample",
    "read_xml", "write_xml",
    "read_dbf", "write_dbf",
    "fetch_url",
    "jdbc_url", "read_jdbc", "write_jdbc",
    "read_sqlite", "read_mysql", "read_postgres",
]
