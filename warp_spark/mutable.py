"""Mutable-table surface: the reference's ``MutableDataset``/``Warehouse``
DML/DDL contract (WarpCore/Sources/MutableData.swift:40-63, 125-196;
raster impl Raster.swift:1165-1270, SQL impl SQL.swift:304-614)
re-expressed over parquet-backed managed tables.

Design for scale:
- ``insert`` is a pure append (new files; no rewrite).
- ``update``/``delete``/``merge_changes`` are copy-on-write rewrites of
  the full table — the honest cost model without a transactional table
  format. On a real deployment the same API binds to Delta/Iceberg
  ``MERGE``/``DELETE`` (row-level, file-pruned); the parquet path keeps
  the semantics testable here with zero extra dependencies.
- every rewrite goes to a fresh version directory, then atomically
  swaps a pointer file, so readers never observe a half-written table
  and a failed rewrite leaves the previous version intact (poor-man's
  MVCC, one live version).
- a rewrite launches only the jobs its data needs: the new version's
  schema goes into the session's read memo as it is written
  (warp_spark.sources.parquet.remember_parquet), so reading it back —
  the next verb's base, or the caller's result — runs no
  schema-inference job. An append changes the version's files and is
  inferred again; a table with schema-merged appends (``_MERGED``)
  keeps its ``mergeSchema`` read.
"""

from __future__ import annotations

import os
import shutil
import uuid
from typing import Mapping, Optional, Union

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from warp_spark.sources.parquet import forget_parquet, read_parquet, remember_parquet

ExprLike = Union[Column, str]


def _col(e: ExprLike) -> Column:
    return F.expr(e) if isinstance(e, str) else e


class Warehouse:
    """A directory of managed tables (MutableData.swift:40-63)."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def table(self, name: str, keep_versions: int = 1) -> "MutableTable":
        return MutableTable(
            self.spark, os.path.join(self.root, name), keep_versions
        )

    def create(
        self, name: str, df: DataFrame, keep_versions: int = 1
    ) -> "MutableTable":
        t = self.table(name, keep_versions)
        t.overwrite(df)
        return t

    def drop(self, name: str) -> None:
        self.table(name).drop()

    def tables(self) -> list[str]:
        return sorted(
            d for d in os.listdir(self.root)
            if os.path.isdir(os.path.join(self.root, d))
        )


class MutableTable:
    """One managed table = a directory holding versioned parquet dirs, a
    ``_CURRENT`` pointer file, and a ``_LOG`` of every version ever
    committed (poor-man's transaction log). With ``keep_versions > 1``
    older versions stay on disk and ``read(version=k)`` time-travels to
    them — the Delta/Iceberg VERSION AS OF shape on plain parquet."""

    def __init__(self, spark: SparkSession, path: str, keep_versions: int = 1):
        self.spark = spark
        self.path = path
        self.keep_versions = max(1, keep_versions)

    # -- plumbing ----------------------------------------------------------
    def _pointer(self) -> str:
        return os.path.join(self.path, "_CURRENT")

    def _log(self) -> str:
        return os.path.join(self.path, "_LOG")

    def _current_dir(self) -> Optional[str]:
        try:
            with open(self._pointer()) as fh:
                return os.path.join(self.path, fh.read().strip())
        except FileNotFoundError:
            return None

    def versions(self) -> list[str]:
        """Every version name ever committed, oldest first (pruned ones
        included — reading them raises)."""
        try:
            with open(self._log()) as fh:
                return [ln.strip() for ln in fh if ln.strip()]
        except FileNotFoundError:
            return []

    def _swap_in(self, df: DataFrame) -> None:
        """Write a new version directory and note its schema in the read
        memo, append to the log, atomically repoint, then prune beyond
        ``keep_versions`` (:meth:`vacuum`)."""
        os.makedirs(self.path, exist_ok=True)
        version = f"v_{uuid.uuid4().hex[:12]}"
        d = os.path.join(self.path, version)
        df.write.mode("overwrite").parquet(d)
        remember_parquet(self.spark, d, df.schema)
        with open(self._log(), "a") as fh:
            fh.write(version + "\n")
        tmp = self._pointer() + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(version)
        os.replace(tmp, self._pointer())  # atomic on POSIX
        self.vacuum()

    def exists(self) -> bool:
        return self._current_dir() is not None

    # -- read --------------------------------------------------------------
    def read(self, version: Optional[int] = None) -> DataFrame:
        """Read the current state, or time-travel to ``version`` — an
        index into ``versions()`` (0 = first commit, negative from the
        end). Raises if that version has been pruned."""
        if version is None:
            cur = self._current_dir()
            if cur is None:
                raise FileNotFoundError(f"table {self.path} does not exist")
            if os.path.exists(os.path.join(self.path, "_MERGED")):
                return self.spark.read.option("mergeSchema", "true").parquet(cur)
            return read_parquet(self.spark, cur)
        names = self.versions()
        if not names:
            raise FileNotFoundError(f"table {self.path} does not exist")
        name = names[version]
        d = os.path.join(self.path, name)
        if not os.path.isdir(d):
            raise FileNotFoundError(
                f"version {version} ({name}) was pruned — construct the "
                f"table with keep_versions > {self.keep_versions} to retain it"
            )
        return read_parquet(self.spark, d)

    # -- DML (MutableData.swift:125-196) -----------------------------------
    def overwrite(self, df: DataFrame) -> None:
        self._swap_in(df)

    def insert(self, df: DataFrame, merge_schema: bool = False) -> None:
        """Append rows; aligns columns by name, missing → NULL (the
        reference's union semantics, Data.swift:300-304). Pure append —
        new parquet files into the current version, no rewrite.

        With ``merge_schema=True``, columns in ``df`` that the table
        does not yet have are KEPT (schema evolution): the new files
        carry the wider schema and subsequent reads merge file schemas,
        back-filling NULL for pre-evolution rows — the Delta
        ``mergeSchema`` behavior on plain parquet, still append-only."""
        cur = self._current_dir()
        if cur is None:
            self._swap_in(df)
            return
        existing = self.read()
        lower = {c.lower() for c in df.columns}
        aligned = df.select(
            *[
                (F.col(c) if c.lower() in lower else F.lit(None)).cast(t).alias(c)
                for c, t in existing.dtypes
            ],
            *(
                [
                    F.col(c)
                    for c in df.columns
                    if merge_schema
                    and c.lower() not in {e.lower() for e, _ in existing.dtypes}
                ]
            ),
        )
        aligned.write.mode("append").parquet(cur)
        if merge_schema and len(aligned.columns) > len(existing.columns):
            # remember that reads need schema merging from now on
            with open(os.path.join(self.path, "_MERGED"), "w") as fh:
                fh.write("1")

    def update(self, condition: ExprLike, assignments: Mapping[str, ExprLike]) -> None:
        """UPDATE ... SET ... WHERE: copy-on-write rewrite. Assignments
        see the pre-update row (calculate semantics, Data.swift:221-230)."""
        df = self.read()
        cond = _col(condition)
        updated = df.withColumns(
            {
                name: F.when(cond, _col(expr)).otherwise(F.col(name))
                for name, expr in assignments.items()
            }
        )
        self._swap_in(updated)

    def delete(self, condition: ExprLike) -> None:
        """DELETE WHERE: keep rows NOT matching (NULL-safe: rows where
        the predicate is NULL are kept, SQL DELETE semantics)."""
        df = self.read()
        self._swap_in(df.filter(~F.coalesce(_col(condition), F.lit(False))))

    def truncate(self) -> None:
        self._swap_in(self.read().limit(0))

    def merge_changes(
        self,
        changes: DataFrame,
        key_col: str,
        seq_col: str,
        op_col: str = "op",
    ) -> None:
        """Apply a CDC change batch (MERGE/upsert): ``changes`` carries
        one row per change with ``op_col`` ∈ {'U','D'} (upsert / delete)
        and a ``seq_col`` ordering concurrent changes to one key — the
        LAST change per key wins (ties broken by preferring the higher
        op lexicographically, a total order so replays are
        deterministic). Keys absent from the base are inserted by 'U';
        'D' on an absent key is a no-op.

        Shape: one window over the CHANGE BATCH ranks each key's
        changes, and the winners are pinned with ``localCheckpoint`` (no
        CacheManager entry): the batch is scanned and shuffled once,
        although the rewrite uses the winners twice — their keys in a
        left anti join that drops every base row they touch, their
        upserts in a union. Without the pin, column pruning gives the
        two uses different plans and the batch is read twice. The base
        stays on the streamed side of the anti join, so a batch whose
        winners can be broadcast never shuffles the base, and the base
        is never sorted. The result is a copy-on-write rewrite — the
        plain-parquet analog of Delta/Iceberg MERGE, where a real table
        format would prune the rewrite to matched files."""
        w = Window.partitionBy(key_col).orderBy(
            F.col(seq_col).desc(), F.col(op_col).desc()
        )
        winners = (
            changes.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", seq_col)
            .localCheckpoint(eager=False)
        )
        base = self.read()
        kept = base.join(winners.select(key_col), key_col, "left_anti")
        upserts = winners.filter(F.col(op_col) == "U").select(*base.columns)
        self._swap_in(kept.unionByName(upserts))

    def merge_stream(
        self,
        changes: DataFrame,
        key_col: str,
        seq_col: str,
        op_col: str = "op",
        checkpoint: Optional[str] = None,
    ) -> None:
        """Apply a CDC change STREAM (a streaming DataFrame) to this
        table: each micro-batch goes through :meth:`merge_changes` via
        ``foreachBatch`` — the Structured Streaming MERGE-sink pattern
        (Delta's streaming upsert) on plain parquet. Batches commit in
        micro-batch order, so when the stream delivers changes in
        non-decreasing ``seq_col`` order the final state equals one
        global last-writer-wins merge of the whole change log; within a
        batch ``seq_col`` (then ``op_col``) resolves conflicts exactly
        as in the batch path. ``availableNow`` drains all staged input
        and stops, so callers read the final state synchronously.

        At scale each micro-batch costs one copy-on-write rewrite (the
        honest plain-parquet bound); bind the same ``foreachBatch`` body
        to Delta/Iceberg MERGE for file-pruned row-level batches.
        Ref: MutableData.swift:40-63 (mutation contract); streaming
        delivery is this port's extension tier."""
        ckpt = checkpoint or os.path.join(self.path, f"_ckpt_{uuid.uuid4().hex[:8]}")

        def _apply(batch_df: DataFrame, batch_id: int) -> None:
            self.merge_changes(batch_df, key_col, seq_col, op_col)

        q = (
            changes.writeStream.foreachBatch(_apply)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        if checkpoint is None:
            shutil.rmtree(ckpt, ignore_errors=True)

    def changes(
        self, key_col: str, version_from: int, version_to: int = -1
    ) -> DataFrame:
        """Change data feed between two RETAINED versions (Delta's
        ``table_changes`` on plain parquet): a keyed row diff emitting
        one row per change — ``insert`` (key only in TO), ``delete``
        (key only in FROM), and ``update_preimage``/``update_postimage``
        pairs for keys in both whose payload differs (null-safe struct
        comparison). Requires key-unique versions and ``keep_versions``
        retention covering ``version_from``; appends land in the current
        version directory (no snapshot), so diff against rewrite commits
        (update/delete/merge/overwrite/compact).

        Shape: ONE full outer join on the key; the per-row change list
        is built as an array of typed structs and exploded — no second
        pass, no EXCEPT (which would diff whole rows and read both
        versions twice)."""
        f = self.read(version=version_from)
        t = self.read(version=version_to)
        shared = [c for c in t.columns if c != key_col and c in f.columns]
        pre = F.col("__pre")
        post = F.col("__post")

        def typed(kind: str, payload: Column) -> Column:
            return F.struct(F.lit(kind).alias("_change_type"), payload.alias("p"))

        j = (
            f.select(key_col, F.struct(*shared).alias("__pre"))
            .join(
                t.select(key_col, F.struct(*shared).alias("__post")),
                key_col,
                "full_outer",
            )
        )
        differs = pre.isNotNull() & post.isNotNull() & ~pre.eqNullSafe(post)
        arr = F.array_compact(
            F.array(
                F.when(pre.isNotNull() & post.isNull(), typed("delete", pre)),
                F.when(pre.isNull() & post.isNotNull(), typed("insert", post)),
                F.when(differs, typed("update_preimage", pre)),
                F.when(differs, typed("update_postimage", post)),
            )
        )
        c = F.col("__c")
        return (
            j.select(F.col(key_col), F.explode(arr).alias("__c"))
            .select(
                c["_change_type"].alias("_change_type"),
                F.col(key_col),
                *[c["p"][s].alias(s) for s in shared],
            )
        )

    def compact(self, target_files: int = 1) -> None:
        """Small-file compaction: rewrite the current version into
        ``target_files`` files (inserts append one file per call — at
        ingest rates that accretes thousands of small files, the
        classic 100 TB-lake killer). Data is unchanged; the rewrite is
        a new version, so time travel still sees the pre-compaction
        state if retained."""
        self._swap_in(self.read().coalesce(max(1, target_files)))

    def vacuum(self, keep: Optional[int] = None) -> None:
        """Prune version directories beyond the newest ``keep``
        (defaults to ``keep_versions``), and their schemas from the read
        memo. The log keeps every name — reads of pruned versions raise,
        as in ``read``."""
        keep = self.keep_versions if keep is None else max(1, keep)
        for stale in self.versions()[:-keep]:
            d = os.path.join(self.path, stale)
            if os.path.isdir(d):
                shutil.rmtree(d, ignore_errors=True)
                forget_parquet(self.spark, d)

    # -- DDL ---------------------------------------------------------------
    def add_column(self, name: str, dtype: str = "string", default: ExprLike = None) -> None:
        df = self.read()
        value = _col(default).cast(dtype) if default is not None else F.lit(None).cast(dtype)
        self._swap_in(df.withColumn(name, value))

    def drop_column(self, name: str) -> None:
        self._swap_in(self.read().drop(name))

    def rename_column(self, old: str, new: str) -> None:
        self._swap_in(self.read().withColumnRenamed(old, new))

    def drop(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
