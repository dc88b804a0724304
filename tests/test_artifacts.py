"""The shared artifact-publication discipline (warp_spark/artifacts.py):
unique sibling scratch dirs, the flock-guarded two-rename swap, and the
no-re-append preconditions of the three index append legs (r12 verdict
items 2-3 / r12 ADVICE)."""

import os
import threading
import time

import pytest


def test_unique_sibling_tmp_is_unique_and_adjacent(tmp_path):
    from warp_spark.artifacts import unique_sibling_tmp

    path = str(tmp_path / "artifact")
    a = unique_sibling_tmp(path, tag="build")
    b = unique_sibling_tmp(path, tag="build")
    assert a != b  # two concurrent builders never share a scratch tree
    for t in (a, b):
        assert os.path.isdir(t)
        # same parent as the target => same filesystem => atomic rename
        assert os.path.dirname(t) == str(tmp_path)
        assert os.path.basename(t).startswith("artifact.build.")


def test_swap_artifact_dir_blocks_on_the_flock(tmp_path):
    """The swap must serialize on <path>.lock: while another writer
    holds the flock, swap_artifact_dir may not touch the published
    tree.  This is the discipline the r12 compaction legs skipped —
    they rmtree'd the live artifact with no lock at all."""
    import fcntl

    from warp_spark.artifacts import swap_artifact_dir

    path = str(tmp_path / "art")
    os.makedirs(path)
    with open(os.path.join(path, "data"), "w") as f:
        f.write("old")
    tmp = str(tmp_path / "art.staged")
    os.makedirs(tmp)
    with open(os.path.join(tmp, "data"), "w") as f:
        f.write("new")

    lk = open(path + ".lock", "w")
    fcntl.flock(lk, fcntl.LOCK_EX)
    t = threading.Thread(target=swap_artifact_dir, args=(path, tmp))
    t.start()
    try:
        # the swap is blocked on the flock: the published tree must
        # still be the OLD one for as long as we hold the lock
        time.sleep(0.4)
        assert t.is_alive()
        with open(os.path.join(path, "data")) as f:
            assert f.read() == "old"
    finally:
        fcntl.flock(lk, fcntl.LOCK_UN)
        lk.close()
    t.join(timeout=10)
    assert not t.is_alive()
    with open(os.path.join(path, "data")) as f:
        assert f.read() == "new"
    # the displaced tree and the staged tree are both reclaimed
    leftovers = [n for n in os.listdir(tmp_path) if ".trash." in n or n == "art.staged"]
    assert leftovers == []


def test_swap_artifact_dir_first_publish(tmp_path):
    """No prior tree: the swap is a single rename, no trash dance."""
    from warp_spark.artifacts import swap_artifact_dir

    path = str(tmp_path / "fresh")
    tmp = str(tmp_path / "fresh.staged")
    os.makedirs(tmp)
    with open(os.path.join(tmp, "data"), "w") as f:
        f.write("v1")
    swap_artifact_dir(path, tmp)
    with open(os.path.join(path, "data")) as f:
        assert f.read() == "v1"
    assert not os.path.exists(tmp)


def test_compaction_survives_a_concurrent_reader_loop(spark, tmp_path):
    """Compact the dedup index while a reader hammers the artifact:
    the reader may hit the momentary two-rename ENOENT window (it
    retries, the standing self-heal contract) but must NEVER observe a
    half-deleted or half-built tree — every successful read of the
    stats tier parses to the same doc count before, during, and after
    the swap."""
    from warp_spark.pipeline.dedup import compact_dedup_index, persist_dedup_index

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma doc{i} delta epsilon zeta eta theta") for i in range(40)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "idx")
    persist_dedup_index(docs, path)
    stop = threading.Event()
    bad: list = []
    counts: list = []

    def reader():
        while not stop.is_set():
            try:
                n = int(spark.read.parquet(f"{path}/stats").first()["n_docs"])
                counts.append(n)
                if n != 40:
                    bad.append(n)
            except Exception:
                # ENOENT window or in-flight listing: acceptable, retry
                pass

    t = threading.Thread(target=reader)
    t.start()
    try:
        for _ in range(3):
            compact_dedup_index(spark, path)
    finally:
        stop.set()
        t.join(timeout=30)
    assert not bad, f"reader observed inconsistent stats: {bad}"
    assert counts, "reader never completed a read"
    # post-state intact
    assert int(spark.read.parquet(f"{path}/stats").first()["n_docs"]) == 40


def test_append_refuses_redelivered_slice(spark, tmp_path):
    """No-re-append precondition across all three index families (r12
    verdict item 3): feeding a slice that contains already-indexed ids
    must return False (caller rebuilds honestly) instead of silently
    doubling postings/codes and inflating the stats."""
    from warp_spark.pipeline.dedup import append_dedup_index, persist_dedup_index
    from warp_spark.pipeline.similarity import append_ivfpq_index, persist_ivfpq_index
    from warp_spark.pipeline.text import append_bm25_index, build_bm25_index

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma doc{i} delta epsilon zeta eta theta") for i in range(20)],
        "doc_id long, text string",
    )
    base = docs.filter("doc_id < 12")
    slice_ = docs.filter("doc_id >= 12")

    p = str(tmp_path / "dedup")
    persist_dedup_index(base, p)
    assert append_dedup_index(spark, p, slice_) is True
    n_after = spark.read.parquet(f"{p}/bands").count()
    assert append_dedup_index(spark, p, slice_) is False  # exact re-delivery
    assert append_dedup_index(spark, p, docs.filter("doc_id >= 15")) is False  # overlap
    # the refused appends wrote NOTHING
    assert spark.read.parquet(f"{p}/bands").count() == n_after

    p = str(tmp_path / "bm25")
    build_bm25_index(base, p)
    assert append_bm25_index(spark, p, slice_) is True
    n_post = spark.read.parquet(f"{p}/postings").count()
    n_docs = int(spark.read.parquet(f"{p}/stats").first()["n_docs"])
    assert n_docs == 20
    assert append_bm25_index(spark, p, slice_) is False
    assert spark.read.parquet(f"{p}/postings").count() == n_post
    assert int(spark.read.parquet(f"{p}/stats").first()["n_docs"]) == 20

    import random

    rng = random.Random(7)
    emb = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    vb, vs = emb.filter("vec_id < 30"), emb.filter("vec_id >= 30")
    p = str(tmp_path / "ann")
    persist_ivfpq_index(vb, p, n_centroids=4, m=4, n_codes=8)
    assert append_ivfpq_index(spark, p, vs) is True
    n_codes = spark.read.parquet(f"{p}/codes").count()
    assert append_ivfpq_index(spark, p, vs) is False
    assert spark.read.parquet(f"{p}/codes").count() == n_codes


def test_publish_artifact_concurrent_builders_do_not_clobber(tmp_path):
    """Two publish_artifact calls racing on the same path must each
    complete and leave ONE winner's consistent tree (r12 ADVICE: the
    old fixed '.build' sibling let builder B rmtree builder A's
    in-progress scratch).  Build bodies deliberately overlap in time."""
    from warp_spark.artifacts import publish_artifact

    path = str(tmp_path / "art")
    errs: list = []

    def build(tag):
        def body(tmp):
            with open(os.path.join(tmp, "payload"), "w") as f:
                f.write(tag)
            time.sleep(0.3)  # keep both scratch trees alive at once

        try:
            publish_artifact(path, "_DONE", f"stamp-{tag}", body)
        except Exception as e:  # pragma: no cover - the failure we pin
            errs.append(e)

    ts = [threading.Thread(target=build, args=(tag,)) for tag in ("a", "b")]
    for t in ts:
        t.start()
    for t in ts:
        t.join(timeout=30)
    assert not errs
    with open(os.path.join(path, "payload")) as f:
        payload = f.read()
    with open(os.path.join(path, "_DONE")) as f:
        stamp = f.read().strip()
    # whichever builder won, its marker and payload are the SAME build
    assert stamp == f"stamp-{payload}"
    assert not [n for n in os.listdir(tmp_path) if ".build." in n or ".trash." in n]


def test_delete_from_dedup_index_equals_rebuild_on_remaining(spark, tmp_path):
    """Index DELETE (the third mutation verb): removing a slice from a
    persisted dedup index must leave band postings, shingles, and
    stats IDENTICAL to a fresh build over the remaining corpus — and
    the honest-refusal contract must trip on an id that was never
    indexed and on an id indexed under different text."""
    from pyspark.sql import functions as F

    from warp_spark.pipeline.dedup import (
        delete_from_dedup_index,
        persist_dedup_index,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma doc{i} delta epsilon zeta eta theta") for i in range(20)],
        "doc_id long, text string",
    )
    keep, drop = docs.filter("doc_id < 14"), docs.filter("doc_id >= 14")
    p_del, p_ref = str(tmp_path / "del"), str(tmp_path / "ref")
    persist_dedup_index(docs, p_del)
    assert delete_from_dedup_index(spark, p_del, drop) is True
    persist_dedup_index(keep, p_ref)
    for sub, key in (("bands", None), ("shingles", None), ("stats", None)):
        a = sorted(map(str, spark.read.parquet(f"{p_del}/{sub}").collect()))
        b = sorted(map(str, spark.read.parquet(f"{p_ref}/{sub}").collect()))
        assert a == b and len(a) > 0, sub

    # refusal: id never indexed
    ghost = spark.createDataFrame(
        [(99, "nine nine nine nine nine nine")], "doc_id long, text string"
    )
    n_rows = spark.read.parquet(f"{p_del}/bands").count()
    assert delete_from_dedup_index(spark, p_del, ghost) is False
    # refusal: id indexed under DIFFERENT text (signature mismatch)
    wrong = spark.createDataFrame(
        [(3, "totally different content here now friend")], "doc_id long, text string"
    )
    assert delete_from_dedup_index(spark, p_del, wrong) is False
    # refused deletes wrote nothing
    assert spark.read.parquet(f"{p_del}/bands").count() == n_rows
    assert int(spark.read.parquet(f"{p_del}/stats").first()["n_docs"]) == 14


def test_dedup_index_delete_entry_takes_the_fast_path(spark):
    """The catalog entry must exercise the PRUNED delete, not the
    fallback rebuild: on the shipped corpus delete_from_dedup_index
    accepts the 12..15 slice (every id indexed under exactly its
    text), so the marker reads 'deleted', never 'rebuilt'."""
    import os

    import __spark_entry__ as m
    from warp_spark.artifacts import artifact_path

    sf = "/root/testdata/sf0.001"
    m.queries()["dedup_index_delete"](spark, sf).count()
    path = artifact_path("warp_dedup_idxdel_v1", sf)
    with open(os.path.join(path, "_INDEX_COMPLETE")) as f:
        assert "deleted" in f.read()


def test_delete_from_bm25_index_equals_rebuild_on_remaining(spark, tmp_path):
    """BM25 delete must leave postings and stats identical to a fresh
    build over the remaining corpus, and refuse absent ids or text
    drift."""
    from warp_spark.pipeline.text import build_bm25_index, delete_from_bm25_index

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma doc{i} delta epsilon zeta eta theta") for i in range(20)],
        "doc_id long, text string",
    )
    keep, drop = docs.filter("doc_id < 14"), docs.filter("doc_id >= 14")
    p_del, p_ref = str(tmp_path / "del"), str(tmp_path / "ref")
    build_bm25_index(docs, p_del)
    assert delete_from_bm25_index(spark, p_del, drop) is True
    build_bm25_index(keep, p_ref)
    for sub in ("postings", "stats"):
        a = sorted(map(str, spark.read.parquet(f"{p_del}/{sub}").collect()))
        b = sorted(map(str, spark.read.parquet(f"{p_ref}/{sub}").collect()))
        assert a == b and len(a) > 0, sub
    ghost = spark.createDataFrame(
        [(99, "nine nine nine")], "doc_id long, text string"
    )
    assert delete_from_bm25_index(spark, p_del, ghost) is False
    wrong = spark.createDataFrame(
        [(3, "totally different words now")], "doc_id long, text string"
    )
    assert delete_from_bm25_index(spark, p_del, wrong) is False
    assert int(spark.read.parquet(f"{p_del}/stats").first()["n_docs"]) == 14


def test_delete_from_ivfpq_index_inverts_append(spark, tmp_path):
    """Under a frozen model, append and delete are exact inverses:
    delete(append(build(B), S), S) must equal build(B) table-for-table
    — and absent/drifted vectors refuse."""
    import random

    from pyspark.sql import functions as F

    from warp_spark.pipeline.similarity import (
        append_ivfpq_index,
        delete_from_ivfpq_index,
        persist_ivfpq_index,
    )

    rng = random.Random(11)
    emb = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    base, slice_ = emb.filter("vec_id < 30"), emb.filter("vec_id >= 30")
    p_del, p_ref = str(tmp_path / "del"), str(tmp_path / "ref")
    persist_ivfpq_index(base, p_del, n_centroids=4, m=4, n_codes=8)
    append_ivfpq_index(spark, p_del, slice_)
    assert delete_from_ivfpq_index(spark, p_del, slice_) is True
    persist_ivfpq_index(base, p_ref, n_centroids=4, m=4, n_codes=8)
    for sub in ("codes", "storage", "centroids", "codebooks"):
        a = sorted(map(str, spark.read.parquet(f"{p_del}/{sub}").collect()))
        b = sorted(map(str, spark.read.parquet(f"{p_ref}/{sub}").collect()))
        assert a == b and len(a) > 0, sub
    # refusal: id never indexed
    ghost = spark.createDataFrame(
        [(999, [0.5] * 16)], "vec_id long, embedding array<float>"
    )
    assert delete_from_ivfpq_index(spark, p_del, ghost) is False
    # refusal: id indexed under a DIFFERENT vector
    drift = emb.filter("vec_id = 3").select(
        "vec_id", F.transform("embedding", lambda x: x + F.lit(2.0)).alias("embedding")
    )
    assert delete_from_ivfpq_index(spark, p_del, drift) is False


def test_delete_from_ivfpq_index_refuses_repeated_id(spark, tmp_path):
    """A delete slice that names an id twice refuses and leaves the index
    as it was — both when the repeats are identical rows and when one
    occurrence carries a drifted vector while the other matches."""
    import random

    from pyspark.sql import functions as F

    from warp_spark.pipeline.similarity import delete_from_ivfpq_index, persist_ivfpq_index

    rng = random.Random(5)
    emb = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(30)],
        "vec_id long, embedding array<float>",
    )
    p = str(tmp_path / "idx")
    persist_ivfpq_index(emb, p, n_centroids=4, m=4, n_codes=8)
    snapshot = {
        sub: sorted(map(str, spark.read.parquet(f"{p}/{sub}").collect()))
        for sub in ("codes", "storage")
    }
    one = emb.filter("vec_id = 3")
    drifted = one.select(
        "vec_id", F.transform("embedding", lambda x: x + F.lit(2.0)).alias("embedding")
    )
    for slice_ in (one.union(one), one.union(drifted)):
        assert delete_from_ivfpq_index(spark, p, slice_) is False
        for sub, rows in snapshot.items():
            assert sorted(map(str, spark.read.parquet(f"{p}/{sub}").collect())) == rows
    assert delete_from_ivfpq_index(spark, p, one) is True


def test_mutation_verbs_serialize_on_the_index_root_lock(spark, tmp_path):
    """r13 verdict item 3: EVERY mutation verb (append / delete /
    compact) must hold the canonical <index>.lock for its whole
    read-verify-write span — an external holder of the root lock
    blocks the verb entirely, so two verbs on the same index can
    never interleave their sub-artifact swaps or both pass a
    precondition."""
    import fcntl

    from warp_spark.pipeline.dedup import (
        append_dedup_index,
        compact_dedup_index,
        delete_from_dedup_index,
        persist_dedup_index,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma doc{i} delta epsilon zeta eta theta") for i in range(20)],
        "doc_id long, text string",
    )
    p = str(tmp_path / "idx")
    persist_dedup_index(docs.filter("doc_id < 14"), p)

    for verb in (
        lambda: append_dedup_index(spark, p, docs.filter("doc_id >= 14")),
        lambda: delete_from_dedup_index(spark, p, docs.filter("doc_id >= 14")),
        lambda: compact_dedup_index(spark, p),
    ):
        lk = open(p + ".lock", "w")
        fcntl.flock(lk, fcntl.LOCK_EX)
        before = sorted(map(str, spark.read.parquet(f"{p}/stats").collect()))
        t = threading.Thread(target=verb)
        t.start()
        try:
            time.sleep(0.5)
            # the verb is parked on the root flock: it has not read,
            # verified, or written ANYTHING yet
            assert t.is_alive()
            assert sorted(map(str, spark.read.parquet(f"{p}/stats").collect())) == before
        finally:
            fcntl.flock(lk, fcntl.LOCK_UN)
            lk.close()
        t.join(timeout=120)
        assert not t.is_alive()


def test_delete_racing_compact_converges_on_remaining(spark, tmp_path):
    """Cross-verb interleaving (r13 verdict item 3): a delete and a
    compact fired concurrently at the same index must serialize on the
    root lock — whichever order wins, the surviving tree equals a
    fresh build over the remaining corpus (compaction is content-
    preserving, so delete-then-compact == compact-then-delete)."""
    from warp_spark.pipeline.dedup import (
        compact_dedup_index,
        delete_from_dedup_index,
        persist_dedup_index,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma doc{i} delta epsilon zeta eta theta") for i in range(20)],
        "doc_id long, text string",
    )
    p_race, p_ref = str(tmp_path / "race"), str(tmp_path / "ref")
    persist_dedup_index(docs, p_race)
    results = {}

    def do_delete():
        results["deleted"] = delete_from_dedup_index(
            spark, p_race, docs.filter("doc_id >= 14")
        )

    threads = [
        threading.Thread(target=do_delete),
        threading.Thread(target=compact_dedup_index, args=(spark, p_race)),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
        assert not t.is_alive()
    assert results["deleted"] is True
    persist_dedup_index(docs.filter("doc_id < 14"), p_ref)
    for sub in ("bands", "shingles", "stats"):
        a = sorted(map(str, spark.read.parquet(f"{p_race}/{sub}").collect()))
        b = sorted(map(str, spark.read.parquet(f"{p_ref}/{sub}").collect()))
        assert a == b and len(a) > 0, sub


def test_delete_from_bm25_index_refuses_zero_token_rows(spark, tmp_path):
    """r13 verdict item 7: a slice row whose text tokenizes to nothing
    has no postings to verify, so its indexed-ness is unverifiable —
    a never-indexed zero-token id would otherwise pass the 0 == 0
    verification and over-decrement n_docs.  Such slices refuse, and
    the refused delete writes nothing."""
    from warp_spark.pipeline.text import build_bm25_index, delete_from_bm25_index

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma doc{i} delta") for i in range(10)],
        "doc_id long, text string",
    )
    p = str(tmp_path / "bm25")
    build_bm25_index(docs, p)
    n_post = spark.read.parquet(f"{p}/postings").count()

    # a NEVER-indexed empty doc smuggled into an otherwise-valid slice
    sneaky = docs.filter("doc_id >= 8").union(
        spark.createDataFrame([(99, "   ")], "doc_id long, text string")
    )
    assert delete_from_bm25_index(spark, p, sneaky) is False
    # null text is the same unverifiable shape
    nully = spark.createDataFrame([(98, None)], "doc_id long, text string")
    assert delete_from_bm25_index(spark, p, nully) is False
    # the refused deletes wrote NOTHING
    assert spark.read.parquet(f"{p}/postings").count() == n_post
    assert int(spark.read.parquet(f"{p}/stats").first()["n_docs"]) == 10


def _tree(path):
    """relpath -> bytes of every file under ``path``."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for name in files:
            full = os.path.join(root, name)
            with open(full, "rb") as f:
                out[os.path.relpath(full, path)] = f.read()
    return out


def test_build_that_raises_leaves_previous_tree_and_marker(tmp_path):
    """A failed rebuild never touches the published artifact: tree and
    marker stay byte-identical and no scratch or trash sibling is left."""
    from warp_spark.artifacts import ensure, read_marker

    path = str(tmp_path / "art")

    def build_v1(tmp):
        os.makedirs(os.path.join(tmp, "sub"))
        with open(os.path.join(tmp, "sub", "part-0.parquet"), "wb") as f:
            f.write(b"v1 payload")

    assert ensure(path, "_X_COMPLETE", "v1", build_v1) == (path, "v1")
    before = _tree(path)

    def build_fails(tmp):
        with open(os.path.join(tmp, "half-written"), "wb") as f:
            f.write(b"partial")
        raise RuntimeError("injected build failure")

    with pytest.raises(RuntimeError, match="injected"):
        ensure(path, "_X_COMPLETE", "v2", build_fails)
    assert _tree(path) == before
    assert read_marker(path, "_X_COMPLETE") == "v1"
    assert not [n for n in os.listdir(tmp_path) if ".build." in n or ".trash." in n]
    # an ensure at the current stamp does not build at all
    assert ensure(path, "_X_COMPLETE", "v1", build_fails) == (path, "v1")


def test_refused_mutation_publishes_the_rebuild_label(tmp_path):
    from warp_spark.artifacts import mutate, publish_artifact, read_marker

    path = str(tmp_path / "art")

    def write(tag):
        def build(tmp):
            with open(os.path.join(tmp, "data"), "w") as f:
                f.write(tag)

        return build

    publish_artifact(path, "_X_COMPLETE", "base", write("base"))
    seen = []

    def refuse():
        seen.append(read_marker(path, "_X_COMPLETE"))
        return False

    mutate(
        path, "_X_COMPLETE", "mutating", refuse, "mutated", write("rebuilt"), "rebuilt (refused)"
    )
    assert seen == ["mutating"]  # the sentinel is in place while apply runs
    assert read_marker(path, "_X_COMPLETE") == "rebuilt (refused)"
    with open(os.path.join(path, "data")) as f:
        assert f.read() == "rebuilt"
    # without a rebuild label the rebuild carries the final label
    mutate(path, "_X_COMPLETE", "mutating", lambda: False, "final", write("again"))
    assert read_marker(path, "_X_COMPLETE") == "final"


def test_table_fingerprint_skips_the_cache_for_an_unstatable_source(tmp_path, monkeypatch):
    import warp_spark.artifacts as arts

    calls = []

    def scan(spark, src):
        calls.append(src)
        return f"n={len(calls)}"

    monkeypatch.setattr(arts, "_fingerprint_scan", scan)
    missing = str(tmp_path / "absent.parquet")
    assert arts.table_fingerprint(None, missing) == "n=1"
    assert arts.table_fingerprint(None, missing) == "n=2"
    src = tmp_path / "t.parquet"
    src.write_bytes(b"abc")
    assert arts.table_fingerprint(None, str(src)) == "n=3"
    assert arts.table_fingerprint(None, str(src)) == "n=3"  # memo hit
    src.write_bytes(b"abcd")
    assert arts.table_fingerprint(None, str(src)) == "n=4"


def test_table_fingerprint_tells_a_null_shift_apart(spark, tmp_path):
    """Rows that differ only in which column holds the null get
    different fingerprints."""
    from warp_spark.artifacts import table_fingerprint

    fps = set()
    for tag, row in (("a", (None, 1)), ("b", (1, None)), ("c", (1, 1))):
        src = str(tmp_path / f"{tag}.parquet")
        spark.createDataFrame([row], "x long, y long").write.parquet(src)
        fps.add(table_fingerprint(spark, src))
    assert len(fps) == 3, fps


def _crc(path):
    """Hadoop's checksum sidecar of a local file."""
    return os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc")


def _jobs(spark, fn, tag):
    sc = spark.sparkContext
    sc.setJobGroup(tag, tag)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(tag))


def test_second_ensure_on_an_unchanged_source_launches_no_job(spark, tmp_path, monkeypatch):
    """The fingerprint memo: on an unchanged sf dir a second
    _ensure_tdigest and _ensure_graph_edges run no Spark job at all; an
    in-place rewrite of a part file re-fingerprints and rebuilds."""
    import glob
    import shutil
    import tempfile

    import warp_spark.catalog as cat
    from warp_spark.artifacts import read_marker

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "artifacts"))
    os.makedirs(tempfile.tempdir)
    sf = str(tmp_path / "sf")
    schema = "l_orderkey long, l_partkey long, l_extendedprice double, l_returnflag string"

    def lineitem(rows, dst):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(dst)

    lineitem([(1, 10, 5.25, "A"), (1, 11, 7.5, "N"), (2, 11, 3.0, "A")], f"{sf}/lineitem.parquet")
    first = (cat._ensure_tdigest(spark, sf), cat._ensure_graph_edges(spark, sf))
    stamps = (
        read_marker(first[0], "_SKETCH_COMPLETE"),
        read_marker(first[1], "_EDGES_COMPLETE"),
    )
    for tag, fn in (
        ("memo_tdigest", lambda: cat._ensure_tdigest(spark, sf)),
        ("memo_edges", lambda: cat._ensure_graph_edges(spark, sf)),
    ):
        _, n = _jobs(spark, fn, tag)
        assert n == 0, tag

    # rewrite the one part file (and its checksum) in place: same
    # names, new content
    lineitem([(1, 10, 6.25, "A"), (1, 12, 7.5, "N"), (2, 11, 3.0, "A")], str(tmp_path / "new"))
    (part,) = glob.glob(f"{sf}/lineitem.parquet/part-*.parquet")
    (new_part,) = glob.glob(str(tmp_path / "new" / "part-*.parquet"))
    for src, dst in ((new_part, part), (_crc(new_part), _crc(part))):
        shutil.copyfile(src, dst)
    _, n = _jobs(spark, lambda: cat._ensure_tdigest(spark, sf), "memo_rewritten")
    assert n > 0
    assert read_marker(first[0], "_SKETCH_COMPLETE") != stamps[0]
    assert read_marker(cat._ensure_graph_edges(spark, sf), "_EDGES_COMPLETE") != stamps[1]


def test_graph_append_demo_rebuilds_a_lost_census(spark, tmp_path, monkeypatch):
    """With the appended edges still certified, a wedge census that was
    removed is rebuilt on the next ensure, with the same rows."""
    import shutil
    import tempfile

    import warp_spark.catalog as cat
    from warp_spark.pipeline.graph import load_wedge_census

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "artifacts"))
    os.makedirs(tempfile.tempdir)
    sf = str(tmp_path / "sf")
    rows = [(o, (o * p) % 23) for o in range(1, 151) for p in (1, 2, 3)]
    spark.createDataFrame(rows, "l_orderkey long, l_partkey long").coalesce(1).write.parquet(
        f"{sf}/lineitem.parquet"
    )
    _, wp = cat._ensure_graph_append_demo(spark, sf)
    want = sorted(map(str, load_wedge_census(spark, wp).collect()))
    shutil.rmtree(wp)
    assert cat._ensure_graph_append_demo(spark, sf)[1] == wp
    assert sorted(map(str, load_wedge_census(spark, wp).collect())) == want and want


def _documents_dir(spark, root):
    """An sf dir holding only a small ``documents`` table: 80 docs in ten
    near-duplicate families (doc_id % 10) over the BM25 query terms, so
    every probe slice has hits."""
    sf = os.path.join(str(root), "sf")
    words = "hash join stream window agg slow query scan alpha beta".split()
    rows = [
        (i, " ".join(words[i % 10 :] + words[: i % 10] + [f"tok{i % 10}", f"v{i // 10}"]))
        for i in range(80)
    ]
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.parquet(
        f"{sf}/documents.parquet"
    )
    return sf


def _embeddings_dir(spark, root):
    """An sf dir holding only a small ``embeddings`` table: 80 vectors
    of dimension 16."""
    import random

    sf = os.path.join(str(root), "sf")
    rng = random.Random(5)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(80)]
    spark.createDataFrame(rows, "vec_id long, embedding array<float>").coalesce(1).write.parquet(
        f"{sf}/embeddings.parquet"
    )
    return sf


# per source table: its sf dir, the edit of row 7 that keeps the row
# count, and the artifacts built from it
_FINGERPRINTED = {
    "documents": (
        _documents_dir,
        lambda text: text + " edited",
        (
            "_ensure_dedup_index",
            "_ensure_dedup_index_appended",
            "_ensure_dedup_base12",
            "_ensure_bm25_index",
            "_ensure_bm25_index_appended",
        ),
    ),
    "embeddings": (
        _embeddings_dir,
        lambda vec: [x + 0.5 for x in vec],
        ("_ensure_ann_index", "_ensure_ann_index_appended"),
    ),
}


@pytest.mark.parametrize("table", sorted(_FINGERPRINTED))
def test_table_fingerprint_is_scanned_once_and_stamps_every_artifact(
    spark, tmp_path, monkeypatch, table
):
    """A cold ensure of every artifact built from a table scans the
    table once; a second ensure runs no Spark job; an edit of one row
    at an unchanged row count changes every stamp."""
    import glob
    import shutil
    import tempfile

    import warp_spark.artifacts as arts
    import warp_spark.catalog as cat
    from warp_spark.artifacts import read_marker

    make_dir, edit, ensures = _FINGERPRINTED[table]
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "artifacts"))
    os.makedirs(tempfile.tempdir)
    sf = make_dir(spark, tmp_path)
    scans = []
    scan = arts._fingerprint_scan
    monkeypatch.setattr(
        arts, "_fingerprint_scan", lambda s, src: scans.append(src) or scan(s, src)
    )

    def stamps():
        paths = [getattr(cat, name)(spark, sf) for name in ensures]
        return [read_marker(p, "_INDEX_COMPLETE") for p in paths]

    first = stamps()
    assert scans == [f"{sf}/{table}.parquet"]
    again, n = _jobs(spark, stamps, f"memo_{table}")
    assert again == first and n == 0
    assert len(scans) == 1

    # rewrite the one part file in place: row 7 edited, same row count
    df = cat._t(spark, sf, table).to_df()
    rows = [(r[0], edit(r[1]) if r[0] == 7 else r[1]) for r in sorted(df.collect())]
    new = str(tmp_path / "new")
    spark.createDataFrame(rows, df.schema).coalesce(1).write.parquet(new)
    (part,) = glob.glob(f"{sf}/{table}.parquet/part-*.parquet")
    (new_part,) = glob.glob(f"{new}/part-*.parquet")
    for src, dst in ((new_part, part), (_crc(new_part), _crc(part))):
        shutil.copyfile(src, dst)
    edited = stamps()
    assert len(scans) == 2
    assert all(a != b for a, b in zip(first, edited)), (first, edited)


def test_append_dedup_index_of_an_empty_slice_changes_no_probe(spark, tmp_path):
    """An empty micro-batch appended to the dedup index leaves it as it
    was: the probe answers the same rows."""
    import warp_spark.catalog as cat
    from pyspark.sql import functions as F

    from warp_spark.pipeline.dedup import append_dedup_index, persist_dedup_index

    sf = _documents_dir(spark, tmp_path)
    docs = cat._t(spark, sf, "documents").to_df()
    path = str(tmp_path / "idx")
    persist_dedup_index(docs.filter(F.col("doc_id") % 20 < 16), path)
    batch = docs.filter(F.col("doc_id") % 20 >= 16)
    before = sorted(map(str, cat._dedup_probe(spark, path, batch).collect()))
    assert append_dedup_index(spark, path, docs.limit(0))
    after = sorted(map(str, cat._dedup_probe(spark, path, batch).collect()))
    assert after == before and any("is_dup=True" in r for r in before)


def test_catalog_owns_no_stamp_code():
    """Every artifact stamp is a line over artifacts.table_fingerprint,
    and every marker read or publish goes through an artifacts verb:
    catalog.py defines no ``_fp`` fingerprint closure and neither
    imports nor calls crc32, memo_stamp, read_marker or
    publish_artifact."""
    import ast
    import pathlib

    path = pathlib.Path(__file__).resolve().parent.parent / "warp_spark/catalog.py"
    tree = ast.parse(path.read_text())
    banned = {"crc32", "memo_stamp", "read_marker", "publish_artifact"}
    found = sorted(
        (n.lineno, name)
        for n in ast.walk(tree)
        for name in (
            [n.func.attr if isinstance(n.func, ast.Attribute) else getattr(n.func, "id", None)]
            if isinstance(n, ast.Call)
            else [a.name for a in n.names] if isinstance(n, ast.ImportFrom) else []
        )
        if name in banned
    )
    fps = sorted(
        n.lineno
        for n in ast.walk(tree)
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)) and n.name == "_fp"
    )
    assert not found and not fps, (found, fps)


def test_pipeline_mutation_verbs_own_no_swap_code():
    """Every ``@locked_mutation`` verb in warp_spark/pipeline/ only
    decides which rows to add or remove; its files change through
    artifacts.rewrite.  No verb calls unique_sibling_tmp,
    swap_artifact_dir, shutil.* or os.rename, or writes with
    ``.mode("overwrite")`` or ``.mode("append")``."""
    import ast
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent / "warp_spark/pipeline"
    verbs, found = [], []
    for src in sorted(root.glob("*.py")):
        for fn in ast.walk(ast.parse(src.read_text())):
            if not isinstance(fn, ast.FunctionDef) or not any(
                getattr(d, "id", getattr(d, "attr", None)) == "locked_mutation"
                for d in fn.decorator_list
            ):
                continue
            verbs.append(fn.name)
            for n in ast.walk(fn):
                if not isinstance(n, ast.Call):
                    continue
                f = n.func
                name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
                owner = getattr(f.value, "id", None) if isinstance(f, ast.Attribute) else None
                mode = (
                    name == "mode"
                    and n.args
                    and isinstance(n.args[0], ast.Constant)
                    and n.args[0].value in ("overwrite", "append")
                )
                if (
                    name in ("unique_sibling_tmp", "swap_artifact_dir")
                    or owner == "shutil"
                    or (owner, name) == ("os", "rename")
                    or mode
                ):
                    found.append(f"{src.name}:{n.lineno} {fn.name}")
    assert len(verbs) == 13 and not found, (verbs, found)


def test_delete_never_shows_a_reader_part_of_the_bands(spark, tmp_path, monkeypatch):
    """A lock-free reader counting the band postings at any rename the
    delete makes under the index sees the old total, the new total or
    an error, never a table with a touched partition missing."""
    from pyspark.sql import functions as F

    from warp_spark.pipeline.dedup import delete_from_dedup_index, persist_dedup_index

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma doc{i} delta epsilon zeta eta theta") for i in range(40)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "idx")
    persist_dedup_index(docs, path)
    bands = spark.read.parquet(f"{path}/bands")
    old_total = bands.count()
    removed = bands.filter(F.col("corpus_id") == 7).count()
    first = bands.filter(F.col("corpus_id") == 7).agg(F.min("bucket")).first()[0]
    # a reader that misses the first touched bucket sees neither total
    assert bands.filter(F.col("bucket") == first).count() != removed

    real_rename = os.rename
    seen = []

    def rename(src, dst, *args, **kwargs):
        if str(src).startswith(path + os.sep) or str(dst).startswith(path + os.sep):
            try:
                seen.append(spark.read.parquet(f"{path}/bands").count())
            except Exception:
                seen.append(None)
        return real_rename(src, dst, *args, **kwargs)

    monkeypatch.setattr(os, "rename", rename)
    assert delete_from_dedup_index(spark, path, docs.filter("doc_id = 7")) is True
    monkeypatch.undo()
    new_total = spark.read.parquet(f"{path}/bands").count()
    assert new_total == old_total - removed
    assert seen and set(seen) <= {old_total, new_total, None}, seen


@pytest.mark.parametrize(
    "family, verb",
    [
        ("dedup", "warp_spark.pipeline.dedup.append_dedup_index"),
        ("bm25", "warp_spark.pipeline.text.append_bm25_index"),
    ],
)
def test_append_that_raises_leaves_the_sentinel_and_the_next_ensure_rebuilds(
    spark, tmp_path, monkeypatch, family, verb
):
    """A mutation that dies after the sentinel is written leaves the
    marker at the sentinel (never at a stamp), so the next ensure
    rebuilds instead of appending twice — and probes the same rows as
    the one-shot index."""
    import tempfile

    from pyspark.sql import functions as F

    import warp_spark.catalog as cat
    from warp_spark.artifacts import artifact_path, read_marker

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    sf = _documents_dir(spark, tmp_path)
    appended = getattr(cat, f"_ensure_{family}_index_appended")

    def crash(*args, **kwargs):
        raise RuntimeError("injected mutation failure")

    with monkeypatch.context() as m:
        m.setattr(verb, crash)
        with pytest.raises(RuntimeError, match="injected"):
            appended(spark, sf)
    path = artifact_path(f"warp_{family}_idxapp_v1", sf)
    assert read_marker(path, "_INDEX_COMPLETE") == "appending"

    assert appended(spark, sf) == path
    assert read_marker(path, "_INDEX_COMPLETE").startswith(f"{family}app base n=")
    docs = cat._t(spark, sf, "documents").to_df()
    if family == "dedup":
        batch = docs.filter(F.col("doc_id") % 20 >= 16)
        got = cat._dedup_probe(spark, path, batch).collect()
        want = cat._dedup_probe(spark, cat._ensure_dedup_index(spark, sf), batch).collect()
        assert any(r["is_dup"] for r in got)
    else:
        from warp_spark.pipeline.text import bm25_index_probe

        got = bm25_index_probe(spark, path, cat._BM25_QUERIES, k=10).collect()
        want = bm25_index_probe(
            spark, cat._ensure_bm25_index(spark, sf), cat._BM25_QUERIES, k=10
        ).collect()
    assert sorted(map(str, got)) == sorted(map(str, want)) and len(got) > 0


def test_refused_catalog_delete_publishes_the_rebuild(spark, tmp_path, monkeypatch):
    """dedup_index_delete with its delete verb refusing: the entry
    publishes the rebuild over the remaining corpus, labelled as such,
    and answers with the same rows as the fast path."""
    import tempfile

    import __spark_entry__ as m
    from warp_spark.artifacts import artifact_path, read_marker

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    sf = _documents_dir(spark, tmp_path)
    entry = m.queries()["dedup_index_delete"]
    fast = sorted(map(str, entry(spark, sf).collect()))
    path = artifact_path("warp_dedup_idxdel_v1", sf)
    assert "deleted" in read_marker(path, "_INDEX_COMPLETE")
    monkeypatch.setattr(
        "warp_spark.pipeline.dedup.delete_from_dedup_index", lambda *a, **k: False
    )
    assert sorted(map(str, entry(spark, sf).collect())) == fast and fast
    assert read_marker(path, "_INDEX_COMPLETE") == "delete rebuilt (refused)"
