"""MutableDataset surface tests (MutableData.swift:40-63 contract):
insert / update / delete / truncate / alter / rename / drop over
parquet-backed managed tables with atomic version swaps."""

import pytest
from pyspark.sql import functions as F

from warp_spark.mutable import Warehouse


@pytest.fixture()
def wh(spark, tmp_path):
    return Warehouse(spark, str(tmp_path / "wh"))


def rows(df):
    return sorted(
        (tuple(r) for r in df.collect()),
        key=lambda t: tuple((x is None, str(x)) for x in t),
    )


def test_create_and_read(spark, wh):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    t = wh.create("t1", df)
    assert rows(t.read()) == [(1, "a"), (2, "b")]
    assert wh.tables() == ["t1"]


def test_insert_appends_and_aligns_by_name(spark, wh):
    t = wh.create("t", spark.createDataFrame([(1, "a")], "id int, v string"))
    # insert with reordered + missing columns: aligns by name, pads NULL
    t.insert(spark.createDataFrame([("c",)], "v string"))
    t.insert(spark.createDataFrame([(3, "d")], "id int, v string"))
    assert rows(t.read()) == [(1, "a"), (3, "d"), (None, "c")]


def test_update_sees_pre_update_row(spark, wh):
    t = wh.create("t", spark.createDataFrame([(1, 10), (2, 20)], "id int, x int"))
    # swap-style update: both assignments read the pre-update row
    t.update(F.col("id") == 1, {"x": F.col("x") + F.col("id"), "id": F.col("x")})
    assert rows(t.read()) == [(10, 11), (2, 20)]


def test_delete_null_predicate_keeps_row(spark, wh):
    t = wh.create(
        "t", spark.createDataFrame([(1, 5), (2, None), (3, 50)], "id int, x int")
    )
    t.delete(F.col("x") > 10)  # NULL predicate → keep (SQL DELETE)
    assert rows(t.read()) == [(1, 5), (2, None)]


def test_truncate_keeps_schema(spark, wh):
    t = wh.create("t", spark.createDataFrame([(1,)], "id int"))
    t.truncate()
    assert t.read().count() == 0
    assert t.read().columns == ["id"]


def test_alter_add_drop_rename(spark, wh):
    t = wh.create("t", spark.createDataFrame([(1,)], "id int"))
    t.add_column("tag", "string", default=F.lit("x"))
    assert rows(t.read()) == [(1, "x")]
    t.rename_column("tag", "label")
    assert t.read().columns == ["id", "label"]
    t.drop_column("label")
    assert t.read().columns == ["id"]


def test_failed_rewrite_preserves_old_version(spark, wh):
    t = wh.create("t", spark.createDataFrame([(1,)], "id int"))
    with pytest.raises(Exception):
        # a plan that fails at write time: division enforced via ANSI expr
        t.overwrite(spark.range(1).select(F.expr("raise_error('boom')").alias("id")))
    assert rows(t.read()) == [(1,)]  # old version intact


def test_drop(spark, wh):
    t = wh.create("t", spark.createDataFrame([(1,)], "id int"))
    wh.drop("t")
    assert not t.exists()
    assert wh.tables() == []


def test_time_travel_versions(spark, tmp_path):
    """keep_versions retains history; read(version=k) time-travels;
    pruned versions raise with guidance."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from warp_spark.mutable import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    df = spark.range(0, 10).select(F.col("id"), (F.col("id") * 2).alias("x"))
    t = wh.create("tt", df, keep_versions=3)
    t.update("id >= 5", {"x": F.col("x") + 100})
    t.delete("id < 2")
    assert len(t.versions()) == 3
    assert t.read(version=0).count() == 10
    assert t.read(version=1).filter("x >= 100").count() == 5
    assert t.read(version=2).count() == 8
    assert t.read().count() == 8  # current == last
    # negative indexing from the end
    assert t.read(version=-1).count() == 8

    # with keep_versions=1 (default) history is pruned but logged
    t2 = wh.create("nott", df)
    t2.delete("id = 0")
    assert len(t2.versions()) == 2
    with _pytest.raises(FileNotFoundError, match="pruned"):
        t2.read(version=0)
    assert t2.read(version=1).count() == 9


def test_insert_merge_schema_evolution(spark, tmp_path):
    """merge_schema=True keeps new columns on append; old rows read as
    NULL for the evolved column; default insert still drops extras."""
    from pyspark.sql import functions as F

    from warp_spark.mutable import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    base = spark.range(0, 5).select(F.col("id"), (F.col("id") * 2).alias("x"))
    t = wh.create("evo", base)
    newer = spark.range(5, 8).select(
        F.col("id"), (F.col("id") * 2).alias("x"), F.lit("tagged").alias("tag")
    )
    t.insert(newer, merge_schema=True)
    got = t.read()
    assert set(got.columns) == {"id", "x", "tag"}
    assert got.count() == 8
    assert got.filter(F.col("tag").isNull()).count() == 5
    assert got.filter(F.col("tag") == "tagged").count() == 3

    # default path: extra column silently dropped (reference union align)
    t2 = wh.create("noevo", base)
    t2.insert(newer)
    assert set(t2.read().columns) == {"id", "x"}
    assert t2.read().count() == 8


def test_compact_and_vacuum(spark, tmp_path):
    """Compaction shrinks the file count without changing data; vacuum
    prunes history beyond the retention count."""
    import glob

    from pyspark.sql import functions as F

    from warp_spark.mutable import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    base = spark.range(0, 100).select(F.col("id"), (F.col("id") % 7).alias("x"))
    t = wh.create("cmp", base.repartition(8), keep_versions=10)
    for i in (0, 1, 2):
        t.insert(spark.range(100 + i, 101 + i).select(
            F.col("id"), (F.col("id") % 7).alias("x")))
    before = len(glob.glob(f"{t._current_dir()}/part-*.parquet"))
    assert before >= 4
    rows_before = sorted(r["id"] for r in t.read().collect())
    t.compact(target_files=1)
    after = len(glob.glob(f"{t._current_dir()}/part-*.parquet"))
    assert after == 1
    assert sorted(r["id"] for r in t.read().collect()) == rows_before
    # pre-compaction dir still reachable (keep_versions=10). NOTE:
    # inserts append INTO the current version directory (no rewrite),
    # so version 0 carries the appends — versions snapshot rewrites
    # (update/delete/compact), not appends.
    assert t.read(version=0).count() == 103
    n_versions_on_disk = len([v for v in t.versions()
                              if (tmp_path / "wh" / "cmp" / v).is_dir()])
    assert n_versions_on_disk == 2
    t.vacuum(keep=1)
    n_after = len([v for v in t.versions()
                   if (tmp_path / "wh" / "cmp" / v).is_dir()])
    assert n_after == 1
    assert t.read().count() == 103


def test_merge_changes_lww(spark, wh):
    """Conflicting changes per key resolve by (seq desc, op desc): the
    second upsert wins; upsert-then-delete deletes; an upsert on an
    absent key inserts; a delete on an absent key is a no-op."""
    t = wh.create(
        "m", spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "id int, v string")
    )
    changes = spark.createDataFrame(
        [
            (1, "u1", 1, "U"),
            (1, "u2", 2, "U"),  # conflicting upserts: seq 2 wins
            (2, "x", 1, "U"),
            (2, None, 2, "D"),  # upsert then delete: gone
            (4, "new", 1, "U"),  # insert (absent key)
            (9, None, 1, "D"),  # delete absent key: no-op
        ],
        "id int, v string, seq int, op string",
    )
    t.merge_changes(changes, "id", "seq")
    assert rows(t.read()) == [(1, "u2"), (3, "c"), (4, "new")]


def test_merge_changes_of_an_empty_batch_keeps_the_rows(spark, wh):
    """An empty micro-batch merges to the same rows."""
    t = wh.create("z", spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string"))
    empty = spark.createDataFrame([], "id int, v string, seq int, op string")
    t.merge_changes(empty, "id", "seq")
    assert rows(t.read()) == [(1, "a"), (2, "b")]


def test_merge_stream_applies_batches_in_order(spark, tmp_path):
    """Two staged change files drained with maxFilesPerTrigger=1 (mtimes
    force the order): the second micro-batch overwrites the first, so
    streaming delivery equals the global last-writer-wins merge."""
    import glob
    import os
    import shutil

    wh = Warehouse(spark, str(tmp_path / "wh"))
    t = wh.create("s", spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string"))
    d = tmp_path / "changes"
    d.mkdir()
    b1 = spark.createDataFrame(
        [(1, "s1", 1, "U"), (3, "s1", 1, "U")], "id int, v string, seq int, op string"
    )
    b2 = spark.createDataFrame(
        [(1, "s2", 2, "U"), (2, None, 2, "D")], "id int, v string, seq int, op string"
    )
    for i, b in enumerate((b1, b2), 1):
        b.coalesce(1).write.mode("overwrite").parquet(str(d / f"stage{i}"))
        part = glob.glob(str(d / f"stage{i}" / "part-*.parquet"))[0]
        tgt = str(d / f"file_{i:03d}.parquet")
        os.rename(part, tgt)
        shutil.rmtree(d / f"stage{i}", ignore_errors=True)
        os.utime(tgt, (1_700_000_000 + 100 * i,) * 2)
    stream = (
        spark.readStream.schema("id int, v string, seq int, op string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    t.merge_stream(stream, "id", "seq")
    assert rows(t.read()) == [(1, "s2"), (3, "s1")]


def test_changes_cdf(spark, wh):
    """table_changes between two versions: insert / delete /
    update_preimage+postimage, computed from a keyed version diff."""
    t = wh.create(
        "cdf",
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "id int, v string"
        ),
        keep_versions=3,
    )
    changes = spark.createDataFrame(
        [(2, "B", 1, "U"), (3, None, 1, "D"), (4, "d", 1, "U")],
        "id int, v string, seq int, op string",
    )
    t.merge_changes(changes, "id", "seq")
    got = sorted(
        (r["_change_type"], r["id"], r["v"]) for r in t.changes("id", 0).collect()
    )
    assert got == [
        ("delete", 3, "c"),
        ("insert", 4, "d"),
        ("update_postimage", 2, "B"),
        ("update_preimage", 2, "b"),
    ]


def test_changes_cdf_across_schema_evolution(spark, wh):
    """changes() diffs on the SHARED columns when the TO version carries
    an evolved (wider) schema — the version diff never fails on column
    drift, it narrows to the comparable surface."""
    from pyspark.sql import functions as F

    t = wh.create(
        "cdfe",
        spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string"),
        keep_versions=3,
    )
    t.update(F.col("id") == 2, {"v": F.lit("B")})  # rewrite commit (v1)
    t.add_column("extra", "string", default=F.lit("x"))  # widens schema (v2)
    got = sorted(
        (r["_change_type"], r["id"], r["v"]) for r in t.changes("id", 0).collect()
    )
    assert got == [("update_postimage", 2, "B"), ("update_preimage", 2, "b")]
    assert set(t.changes("id", 0).columns) == {"_change_type", "id", "v"}


# --- edge cases and config independence of merge_changes -------------------

def test_merge_changes_edge_cases(spark, wh):
    """Duplicate base keys the batch does not touch stay duplicated; an
    equal seq is broken by op ('U' > 'D'); a 'D' on an absent key is a
    no-op; a NULL key matches no base row, so its winning 'U' is
    inserted, its 'D' deletes nothing, and NULL-key base rows stay."""
    t = wh.create(
        "e",
        spark.createDataFrame(
            [(1, "a"), (1, "a2"), (2, "b"), (None, "n0"), (5, "e")], "id int, v string"
        ),
    )
    changes = spark.createDataFrame(
        [
            (2, "b2", 1, "U"),
            (5, "e-del", 3, "D"),
            (5, "e2", 3, "U"),  # equal seq: the 'U' wins
            (7, None, 1, "D"),  # absent key: no-op
            (None, "n1", 1, "U"),
        ],
        "id int, v string, seq int, op string",
    )
    t.merge_changes(changes, "id", "seq")
    assert rows(t.read()) == [
        (1, "a"), (1, "a2"), (2, "b2"), (5, "e2"), (None, "n0"), (None, "n1")
    ]
    nulls = spark.createDataFrame(
        [(None, "n2", 1, "U"), (None, None, 2, "D")], "id int, v string, seq int, op string"
    )
    t.merge_changes(nulls, "id", "seq")
    assert rows(t.read()) == [
        (1, "a"), (1, "a2"), (2, "b2"), (5, "e2"), (None, "n0"), (None, "n1")
    ]


def _merge_case(spark, root):
    base = spark.range(0, 3000).select(
        (F.col("id") % 2500).cast("int").alias("id"), F.concat(F.lit("b"), F.col("id")).alias("v")
    )
    changes = spark.range(0, 1200).select(
        (F.col("id") * 7 % 4000).cast("int").alias("id"),
        F.concat(F.lit("c"), F.col("id")).alias("v"),
        (F.col("id") % 3).cast("int").alias("seq"),
        F.when(F.col("id") % 5 == 0, "D").otherwise("U").alias("op"),
    )
    t = Warehouse(spark, root).create("c", base)
    t.merge_changes(changes, "id", "seq")
    return rows(t.read())


@pytest.mark.parametrize(
    "conf",
    [{"spark.sql.autoBroadcastJoinThreshold": "-1"}, {"spark.sql.adaptive.enabled": "false"}],
    ids=["no_broadcast", "aqe_off"],
)
def test_merge_changes_rows_do_not_depend_on_config(spark, tmp_path, conf):
    expected = _merge_case(spark, str(tmp_path / "default"))
    old = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        got = _merge_case(spark, str(tmp_path / "perturbed"))
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
    assert got == expected


def test_merge_changes_scans_the_batch_once(spark, wh, tmp_path, sql_plans):
    """The upserts and the anti-join keys share one ranking of the batch:
    the executed plans of the merge scan the batch's source once."""
    src = str(tmp_path / "batch")
    spark.range(0, 300).select(
        (F.col("id") * 5 % 1200).cast("int").alias("id"),
        F.lit("w").alias("v"),
        (F.col("id") % 3).cast("int").alias("seq"),
        F.when(F.col("id") % 4 == 0, "D").otherwise("U").alias("op"),
    ).write.parquet(src)
    t = wh.create("p", spark.range(0, 1000).select(
        F.col("id").cast("int").alias("id"), F.lit("b").alias("v")
    ))
    _, plans = sql_plans(lambda: t.merge_changes(spark.read.parquet(src), "id", "seq"))
    assert plans.count(f"InMemoryFileIndex [file:{src}]") == 1, plans


# --- schema-known read-back ------------------------------------------------

WRITERS = {
    "overwrite": lambda spark, t: t.overwrite(
        spark.createDataFrame([(7, "z", 0.5)], "id int not null, v string, x double")
    ),
    "update": lambda spark, t: t.update("id = 1", {"v": "'u'", "x": "x * 2"}),
    "delete": lambda spark, t: t.delete("id = 2"),
    "merge": lambda spark, t: t.merge_changes(
        spark.createDataFrame(
            [(1, "m", 9.0, 1, "U"), (2, None, None, 1, "D"), (3, "n", None, 1, "U")],
            "id int, v string, x double, seq int, op string",
        ),
        "id",
        "seq",
    ),
    "compact": lambda spark, t: t.compact(),
    "add_column": lambda spark, t: t.add_column("n", "bigint", "id * 2"),
    "drop_column": lambda spark, t: t.drop_column("x"),
    "rename_column": lambda spark, t: t.rename_column("v", "w"),
}


@pytest.mark.parametrize("verb", sorted(WRITERS))
def test_rewrite_reads_back_with_the_schema_it_wrote(spark, wh, jobs_of, memo_schema, verb):
    t = wh.create(
        "r",
        spark.createDataFrame([(1, "a", 1.5), (2, "b", None)], "id int not null, v string, x double"),
    )
    WRITERS[verb](spark, t)
    cur = t._current_dir()
    inferred = spark.read.parquet(cur).schema
    assert memo_schema(cur) == inferred
    got, jobs = jobs_of(t.read)
    assert jobs == 0 and got.schema == inferred


def test_versions_changed_behind_the_memo_are_inferred_again(spark, wh, jobs_of, tmp_path):
    import glob
    import os
    import shutil

    df = spark.createDataFrame([(1, "a")], "id int, v string").coalesce(1)
    t = wh.create("i", df)
    _, jobs = jobs_of(t.read)
    assert jobs == 0
    # an append adds files the memo never saw
    t.insert(spark.createDataFrame([(2, "b")], "id int, v string"))
    got, jobs = jobs_of(t.read)
    assert jobs >= 1 and rows(got) == [(1, "a"), (2, "b")]
    # a part file rewritten in place, here with a wider schema (and
    # without its now stale checksum file)
    t.overwrite(df)
    other = str(tmp_path / "other")
    df.withColumn("extra", F.lit(1)).coalesce(1).write.parquet(other)
    (part,) = glob.glob(f"{t._current_dir()}/part-*.parquet")
    shutil.copy(glob.glob(f"{other}/part-*.parquet")[0], part)
    os.remove(os.path.join(os.path.dirname(part), f".{os.path.basename(part)}.crc"))
    got, jobs = jobs_of(t.read)
    assert jobs >= 1 and "extra" in got.columns


def test_merged_table_keeps_its_merge_schema_read(spark, wh, jobs_of):
    """After a merge_schema insert every read merges the file schemas,
    also after a later rewrite registered the version it wrote."""
    t = wh.create("g", spark.range(0, 3).select("id"))
    t.insert(spark.range(3, 5).select("id", F.lit("t").alias("tag")), merge_schema=True)
    got, jobs = jobs_of(t.read)
    assert jobs >= 1 and got.columns == ["id", "tag"]
    t.update("id = 0", {"tag": "'u'"})
    got, jobs = jobs_of(t.read)
    assert jobs >= 1 and got.columns == ["id", "tag"]
    assert got.filter(F.col("tag").isNull()).count() == 2


def test_pruned_versions_leave_the_read_memo(spark, wh, memo_schema):
    import os

    from warp_spark.sources.parquet import session_reads

    t = wh.create("v", spark.range(0, 3))
    first = t._current_dir()
    assert memo_schema(first) is not None
    t.update("id = 1", {"id": "id + 10"})
    assert not os.path.isdir(first)
    assert [k for k in session_reads(spark).schemas if k[-2] == first] == []
    assert memo_schema(t._current_dir()) is not None
