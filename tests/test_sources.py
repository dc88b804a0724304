"""Source/sink tests: the reference's CSV golden-file suite
(Warp/Tests/QBETests.swift:57-147, fixtures per FIXTURES.md §1) and the
JSON three-shape detection (JSONStream.swift:18-168)."""

import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from warp_spark.sources import read_csv, read_json, read_parquet, write_csv, write_json


def rows(df):
    return [tuple(r) for r in df.collect()]


# --- CSV golden files (separator ';', quote '"', escape '""') --------------

def test_csv_regular(spark, tmp_path):
    p = tmp_path / "regular.csv"
    p.write_text("a;b;c\n1;2;3\n4;5;6\n7;8;9\n")
    df = read_csv(spark, str(p), separator=";")
    assert df.columns == ["a", "b", "c"]
    assert sorted(rows(df)) == [(1, 2, 3), (4, 5, 6), (7, 8, 9)]


def test_csv_missing_columns_pad(spark, tmp_path):
    # short row '1;2' → [1, 2, NULL] (QBETests.swift:110-122)
    p = tmp_path / "missing.csv"
    p.write_text("a;b;c\n1;2\n4;5;6\n")
    df = read_csv(spark, str(p), separator=";")
    assert sorted(rows(df), key=str) == [(1, 2, None), (4, 5, 6)]


def test_csv_extraneous_columns_truncate(spark, tmp_path):
    # long row '4;5;6;10' → [4, 5, 6] (QBETests.swift:123-127)
    p = tmp_path / "extra.csv"
    p.write_text("a;b;c\n1;2;3\n4;5;6;10\n")
    df = read_csv(spark, str(p), separator=";")
    assert df.columns == ["a", "b", "c"]
    assert sorted(rows(df)) == [(1, 2, 3), (4, 5, 6)]


def test_csv_escapes(spark, tmp_path):
    # header contains the separator (quoted); a cell contains separator +
    # newline; expected raster [[1,'a;\nb',3],[4,'5',6]] (QBETests.swift:128-146)
    p = tmp_path / "escapes.csv"
    p.write_text('"a;a";b;c\n1;"a;\nb";3\n4;5;6\n')
    df = read_csv(spark, str(p), separator=";")
    assert df.columns == ["a;a", "b", "c"]
    got = sorted(rows(df), key=lambda t: str(t[0]))
    assert got == [(1, "a;\nb", 3), (4, "5", 6)]


def test_csv_quote_escape_doubled(spark, tmp_path):
    p = tmp_path / "quotes.csv"
    p.write_text('a;b\n1;"say ""hi"""\n')
    df = read_csv(spark, str(p), separator=";")
    assert rows(df) == [(1, 'say "hi"')]


def test_csv_duplicate_headers_deduped(spark, tmp_path):
    p = tmp_path / "dup.csv"
    p.write_text("x;x;X\n1;2;3\n")
    df = read_csv(spark, str(p), separator=";")
    assert df.columns == ["x", "x_2", "X_3"]


def test_csv_no_inference_all_strings(spark, tmp_path):
    p = tmp_path / "str.csv"
    p.write_text("a;b\n1;2\n")
    df = read_csv(spark, str(p), separator=";", infer_schema=False)
    assert [f.dataType.simpleString() for f in df.schema.fields] == ["string", "string"]
    assert rows(df) == [("1", "2")]


def test_csv_roundtrip_write_read(spark, tmp_path):
    df = spark.createDataFrame([(1, "x"), (2, "y;z")], "a int, b string")
    out = tmp_path / "out"
    write_csv(df, str(out), separator=";")
    back = read_csv(spark, str(out), separator=";")
    assert sorted(rows(back)) == [(1, "x"), (2, "y;z")]


def test_csv_write_timestamp_iso8601(spark, tmp_path):
    df = spark.sql("SELECT timestamp'2001-01-01 00:00:00' AS ts")
    out = tmp_path / "ts"
    write_csv(df, str(out), separator=",")
    back = read_csv(spark, str(out), infer_schema=False)
    assert rows(back) == [("2001-01-01T00:00:00Z",)]


def test_csv_write_array_as_pack(spark, tmp_path):
    df = spark.sql("SELECT array('a,b', 'c$d') AS xs")
    out = tmp_path / "arr"
    write_csv(df, str(out))
    back = read_csv(spark, str(out), infer_schema=False)
    # pack escaping: ',' → $0, '$' → $1 (Value.swift:266-380)
    assert rows(back) == [("a$0b,c$1d",)]


# --- JSON three shapes (JSONStream.swift:18-168) ---------------------------

def test_json_array_of_objects(spark, tmp_path):
    p = tmp_path / "objs.json"
    p.write_text(json.dumps([{"a": 1, "b": "x"}, {"a": 2, "b": "y"}]))
    df = read_json(spark, str(p))
    assert sorted(df.columns) == ["a", "b"]
    assert sorted(rows(df)) == [(1, "x"), (2, "y")]


def test_json_array_of_values(spark, tmp_path):
    p = tmp_path / "vals.json"
    p.write_text("[1, 2, 3]")
    df = read_json(spark, str(p))
    assert df.columns == ["items"]
    assert sorted(r[0] for r in df.collect()) == [1, 2, 3]


def test_json_single_value(spark, tmp_path):
    p = tmp_path / "scalar.json"
    p.write_text('"hello"')
    df = read_json(spark, str(p))
    assert df.columns == ["data"]
    assert rows(df) == [("hello",)]


def test_json_ndjson(spark, tmp_path):
    p = tmp_path / "nd.json"
    p.write_text('{"a": 1}\n{"a": 2}\n')
    df = read_json(spark, str(p), multi_line=False)
    assert sorted(r["a"] for r in df.collect()) == [1, 2]


def test_json_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([(1, "x")], "a int, b string")
    out = tmp_path / "out"
    write_json(df, str(out))
    back = read_json(spark, str(out), multi_line=False)
    assert rows(back.select("a", "b")) == [(1, "x")]


# --- XML (QBEXMLStep.swift:16-120; Spark 4 native XML source) --------------

def test_xml_roundtrip(spark, tmp_path):
    from warp_spark.sources import read_xml, write_xml

    df = spark.createDataFrame([(1, "a"), (2, "b<&>c")], "id int, name string")
    out = tmp_path / "x"
    write_xml(df, str(out))
    back = read_xml(spark, str(out))
    assert sorted(rows(back.select("id", "name"))) == [(1, "a"), (2, "b<&>c")]


# --- DBF (DBFStream.swift:16-132; dBase III spec) --------------------------

def test_dbf_roundtrip(spark, tmp_path):
    import datetime

    from warp_spark.sources import read_dbf, write_dbf

    df = spark.createDataFrame(
        [
            (1, "alpha", 1.5, True, datetime.date(2020, 1, 2)),
            (2, "beta", -2.25, False, datetime.date(1999, 12, 31)),
            (3, None, None, None, None),
        ],
        "id int, name string, score double, flag boolean, d date",
    )
    p = tmp_path / "t.dbf"
    write_dbf(df, str(p))
    back = read_dbf(spark, str(p))
    got = {r["id"]: r for r in back.collect()}
    assert got[1]["name"] == "alpha" and got[1]["flag"] is True
    assert abs(got[2]["score"] + 2.25) < 1e-9
    assert got[1]["d"] == datetime.date(2020, 1, 2)
    assert got[3]["name"] is None and got[3]["score"] is None


def test_dbf_directory_distributed(spark, tmp_path):
    from warp_spark.sources import read_dbf, write_dbf

    d = tmp_path / "dir"
    d.mkdir()
    df1 = spark.createDataFrame([(1, "x")], "id int, name string")
    df2 = spark.createDataFrame([(2, "y")], "id int, name string")
    write_dbf(df1, str(d / "a.dbf"))
    write_dbf(df2, str(d / "b.dbf"))
    back = read_dbf(spark, str(d / "*.dbf"))
    assert sorted((r["id"], r["name"]) for r in back.collect()) == [(1, "x"), (2, "y")]


# --- HTTP single-fetch source (QBEHTTPStep.swift:16-130) -------------------

def test_http_fetch_local_server(spark):
    import http.server
    import threading

    from warp_spark.sources import fetch_url

    class H(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            body = b'{"ok": true}'
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):
            pass

    srv = http.server.HTTPServer(("127.0.0.1", 0), H)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        url = f"http://127.0.0.1:{srv.server_port}/data"
        row = fetch_url(spark, url).collect()[0]
        assert row["status"] == 200
        assert row["body"] == '{"ok": true}'
        assert row["error"] is None
        assert "json" in row["content_type"]
    finally:
        srv.shutdown()


def test_http_fetch_error_row(spark):
    from warp_spark.sources import fetch_url

    row = fetch_url(spark, "http://127.0.0.1:9/nope", timeout=0.5).collect()[0]
    assert row["status"] is None and row["error"] is not None


# --- JDBC construction (SQLiteStream/MySQLStream/PostgresStream dialects) --

def test_jdbc_urls():
    from warp_spark.sources import jdbc_url

    assert jdbc_url("sqlite", database="/tmp/x.db") == "jdbc:sqlite:/tmp/x.db"
    assert jdbc_url("mysql", "h", None, "db") == "jdbc:mysql://h:3306/db"
    assert jdbc_url("postgresql", "h", 5433, "db") == "jdbc:postgresql://h:5433/db"


def test_jdbc_read_requires_driver(spark):
    # no JDBC drivers are bundled in this container: constructing the read
    # plan must fail with the driver-class error, proving the option
    # plumbing reaches the JVM (not an import error in our code)
    import pytest as _pytest

    from warp_spark.sources import read_sqlite

    with _pytest.raises(Exception, match="(?i)driver|class"):
        read_sqlite(spark, "/tmp/none.db", "t").collect()


# --- schema memo (warp_spark.sources.parquet.read_inferred) ---------------

TEXT_READS = {
    "csv": (read_csv, lambda ks: "k,name\n" + "".join(f"{k},n\n" for k in ks)),
    "json": (read_json, lambda ks: json.dumps([{"k": k, "name": "n"} for k in ks])),
    "ndjson": (lambda spark, p: read_json(spark, p, multi_line=False),
               lambda ks: "".join(json.dumps({"k": k, "name": "n"}) + "\n" for k in ks)),
}


@pytest.mark.parametrize("fmt", sorted(TEXT_READS))
def test_text_source_infers_schema_once_per_file_version(spark, tmp_path, fmt, jobs_of):
    read, text = TEXT_READS[fmt]
    p = tmp_path / f"t.{fmt}"
    p.write_text(text([1, 2]))
    first, cold = jobs_of(lambda: read(spark, str(p)))
    again, warm = jobs_of(lambda: read(spark, str(p)))
    assert cold >= 1 and warm == 0
    assert again.schema == first.schema
    assert dict(again.dtypes)["k"] in ("int", "bigint")
    # an in-place rewrite (a new size) is a new version: inferred again
    p.write_text(text(["x", "yy", "zzz"]))
    df, jobs = jobs_of(lambda: read(spark, str(p)))
    assert jobs >= 1 and dict(df.dtypes)["k"] == "string"
    assert sorted(r.k for r in df.collect()) == ["x", "yy", "zzz"]


def _nested_frame(spark):
    """Non-nullable fields at every level, and a field with metadata."""
    schema = T.StructType([
        T.StructField("k", T.LongType(), False, {"comment": "the key"}),
        T.StructField("s", T.StructType([T.StructField("a", T.IntegerType(), False)]), False),
        T.StructField("xs", T.ArrayType(T.StringType(), False), False),
        T.StructField("m", T.MapType(T.StringType(), T.DoubleType(), False), True),
        T.StructField("d", T.DecimalType(12, 2), True),
        T.StructField("ts", T.TimestampType(), True),
    ])
    rows = [(1, (2,), ["x"], {"a": 1.0}, None, None), (2, (3,), [], None, None, None)]
    return spark.createDataFrame(rows, schema)


def test_written_parquet_reads_back_with_its_schema(spark, tmp_path, jobs_of):
    """A directory noted by its writer reads back with the schema it
    wrote — the one inference would find — and runs no job; rewriting
    its files is a new version, inferred again."""
    from warp_spark.sources.parquet import remember_parquet

    df = _nested_frame(spark)
    p = str(tmp_path / "w")
    df.write.parquet(p)
    remember_parquet(spark, p, df.schema)
    back, jobs = jobs_of(lambda: read_parquet(spark, p))
    assert jobs == 0
    assert back.schema == spark.read.parquet(p).schema
    assert sorted(map(str, back.collect())) == sorted(map(str, df.collect()))

    df.withColumn("extra", F.lit(1)).write.mode("overwrite").parquet(p)
    again, jobs = jobs_of(lambda: read_parquet(spark, p))
    assert jobs >= 1 and "extra" in again.columns
