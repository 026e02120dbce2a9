"""Snapshot table: Iceberg-shaped parquet tables for the corpus state.

The north rule stores the corpus in an Iceberg table and resumes rounds
from Iceberg snapshot checkpoints (reference analog: the HBase tables
the incload jobs bulk-load into, SelectAndSendJob.java:241-426).  This
container ships no Iceberg runtime jar and has no network, so this
module provides the same SEMANTIC contract over plain parquet:

  * atomic snapshot commits   — data files are written first, then the
    snapshot log is swapped in with an atomic os.replace; a reader never
    sees a half-written table state.
  * snapshot isolation        — a read pins the file list of the
    snapshot current at read time; concurrent commits don't change it.
  * optimistic concurrency    — a commit whose parent is no longer the
    table head raises ConcurrentCommit (Iceberg's commit conflict).
  * MERGE INTO                — upsert by key: matched target rows are
    replaced, unmatched source rows inserted (copy-on-write rewrite,
    like Iceberg's `MERGE INTO t USING s ON t.k = s.k WHEN MATCHED THEN
    UPDATE * WHEN NOT MATCHED THEN INSERT *`).
  * time travel               — read(snapshot_id=...) = VERSION AS OF.

On a real cluster, swap this class for the Iceberg catalog:
  spark.sql("CREATE TABLE corpus (...) USING iceberg")
  spark.sql("MERGE INTO corpus t USING updates s ON t.entity_id = s.entity_id "
            "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
Everything else in the pipeline only sees DataFrames, so nothing else
changes.  Each snapshot entry records its schema (Spark's JSON form),
as Iceberg keeps the schema in table metadata: a read passes it to the
reader instead of inferring it from a parquet footer, which costs a
Spark job per read.  An entry without `schema` (an older log) is read
by inference.  Layout:

  table_dir/
    _snapshots.json        # [{"id", "parent", "op", "rows", "dirs", "schema"}]
    snap-00000001/ *.parquet
    snap-00000002/ *.parquet
"""

from __future__ import annotations

import json
import os
import tempfile

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


class ConcurrentCommit(RuntimeError):
    """Another writer committed since this operation's snapshot was
    pinned (Iceberg optimistic-concurrency conflict)."""


class SnapshotTable:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        os.makedirs(path, exist_ok=True)

    # --- log --------------------------------------------------------
    @property
    def _log_path(self) -> str:
        return os.path.join(self.path, "_snapshots.json")

    def _log(self) -> list[dict]:
        if not os.path.exists(self._log_path):
            return []
        with open(self._log_path) as f:
            return json.load(f)

    def snapshots(self) -> list[dict]:
        return self._log()

    def current_snapshot(self) -> int | None:
        log = self._log()
        return log[-1]["id"] if log else None

    # --- read -------------------------------------------------------
    def read(self, snapshot_id: int | None = None) -> DataFrame:
        """DataFrame of the table at `snapshot_id` (default: current).
        The file list is pinned NOW — later commits don't affect this
        DataFrame (snapshot isolation)."""
        log = self._log()
        if not log:
            raise FileNotFoundError(f"empty snapshot table at {self.path}")
        if snapshot_id is None:
            snap = log[-1]
        else:
            matches = [s for s in log if s["id"] == snapshot_id]
            if not matches:
                raise KeyError(f"no snapshot {snapshot_id} in {self.path}")
            snap = matches[0]
        dirs = [os.path.join(self.path, d) for d in snap["dirs"]]
        reader = self.spark.read
        if snap.get("schema") is not None:
            reader = reader.schema(StructType.fromJson(snap["schema"]))
        return reader.parquet(*dirs)

    def is_empty(self) -> bool:
        return not self._log()

    # --- commit machinery --------------------------------------------
    def _commit(
        self,
        parent: int | None,
        op: str,
        dirs: list[str],
        rows: int,
        schema: StructType | None = None,
    ) -> int:
        """Atomically append a snapshot whose parent must still be the
        head (optimistic concurrency).  The read-check-replace sequence
        holds an exclusive flock on `_commit.lock`, so two local writers
        serialize; the loser of a parent race gets ConcurrentCommit, and
        its orphaned data dir is never referenced by any snapshot (an
        Iceberg catalog's compare-and-swap plays this role on a real
        cluster).  `schema` is the written frame's schema; without it,
        reads of this snapshot infer the schema from the files."""
        import fcntl

        lock_path = os.path.join(self.path, "_commit.lock")
        with open(lock_path, "w") as lock:
            fcntl.flock(lock, fcntl.LOCK_EX)
            log = self._log()
            head = log[-1]["id"] if log else None
            if head != parent:
                raise ConcurrentCommit(
                    f"table head moved {parent} -> {head} during the operation"
                )
            new_id = (head or 0) + 1
            entry = {"id": new_id, "parent": parent, "op": op,
                     "rows": rows, "dirs": dirs}
            if schema is not None:
                entry["schema"] = schema.jsonValue()
            log.append(entry)
            fd, tmp = tempfile.mkstemp(dir=self.path, suffix=".json.tmp")
            with os.fdopen(fd, "w") as f:
                json.dump(log, f, indent=1)
            os.replace(tmp, self._log_path)  # atomic on POSIX
            return new_id

    def _write_data(self, df: DataFrame, snap_id_hint: int) -> tuple[str, int]:
        # UNIQUE dir per write attempt: two writers racing from the same
        # parent must never target the same path, or the loser's
        # mode('overwrite') would corrupt the winner's COMMITTED files
        # before the loser's _commit raises
        import uuid

        d = f"snap-{snap_id_hint:08d}-{uuid.uuid4().hex[:8]}"
        full = os.path.join(self.path, d)
        # the row count is observed on the write itself, not re-read
        obs = Observation(f"rows:{d}")
        df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(
            "overwrite"
        ).parquet(full)
        return d, obs.get["rows"]

    # --- operations ----------------------------------------------------
    def append(self, df: DataFrame) -> int:
        """Fast append: new data files only; previous files are reused
        by reference (no rewrite — Iceberg append semantics)."""
        parent = self.current_snapshot()
        log = self._log()
        prev_dirs = log[-1]["dirs"] if log else []
        prev_rows = log[-1]["rows"] if log else 0
        d, rows = self._write_data(df, (parent or 0) + 1)
        return self._commit(
            parent, "append", prev_dirs + [d], prev_rows + rows, df.schema
        )

    def overwrite(self, df: DataFrame) -> int:
        parent = self.current_snapshot()
        d, rows = self._write_data(df, (parent or 0) + 1)
        return self._commit(parent, "overwrite", [d], rows, df.schema)

    def merge(self, source: DataFrame, key_cols: list[str]) -> int:
        """MERGE INTO this table USING source ON key_cols:
        WHEN MATCHED THEN UPDATE * / WHEN NOT MATCHED THEN INSERT *.

        Copy-on-write rewrite of the table (matched target rows dropped
        via left_anti on the keys, then union with the full source).
        Real Iceberg prunes the rewrite to touched files via its
        manifest-level key ranges; semantics are identical."""
        parent = self.current_snapshot()
        if parent is None:
            return self.overwrite(source)
        target = self.read(parent)
        # an anti join needs no distinct build side: duplicate keys drop
        # the same target rows, so no aggregation exchange runs
        merged = target.join(
            source.select(*key_cols), key_cols, "left_anti"
        ).unionByName(source)
        d, rows = self._write_data(merged, parent + 1)
        return self._commit(parent, "merge", [d], rows, merged.schema)


def snapshot_diff(
    table: SnapshotTable,
    old_id: int,
    new_id: int,
    key_cols: list[str],
) -> DataFrame:
    """Row-level delta between two snapshots of a table: one row per
    key whose state differs, tagged `change` in
    ('added', 'removed', 'changed').

    The Iceberg-changelog analog (`CALL system.create_changelog_view` /
    `table_changes`): time travel pins both file lists, so the diff is
    stable no matter how many commits land afterwards.  Plan shape: one
    full-outer sort-merge join on the key columns with a null-safe
    struct comparison of the remaining columns — a single key shuffle
    of the two pinned snapshots, no driver-side state.  (Real Iceberg
    additionally prunes unchanged FILES via manifest-level key ranges
    before the join; the join itself is identical.)

    Reference analog: the incload round ships delete/modify lists
    computed against the previous corpus state
    (SelectAndSendJob.java:241-426); this is the same question asked of
    the committed table after the fact.

    Precondition: `key_cols` must uniquely identify rows within each
    snapshot (the same contract `merge` relies on); duplicate keys
    would fan out through the join.  NULL key values are handled
    null-safely (a NULL-keyed row pairs with its counterpart instead
    of reporting a spurious added+removed).
    """
    import functools
    import operator

    from pyspark.sql import functions as F

    old = table.read(old_id)
    new = table.read(new_id)
    val_cols = [c for c in old.columns if c not in key_cols]
    o = old.select(
        *[F.col(k).alias(f"_ok_{k}") for k in key_cols],
        F.struct(*val_cols).alias("_old_val"),
    )
    n = new.select(
        *[F.col(k).alias(f"_nk_{k}") for k in key_cols],
        F.struct(*val_cols).alias("_new_val"),
    )
    # null-safe equality still plans as a hash/sort-merge equi-join
    # (Spark's EqualNullSafe join key support)
    cond = functools.reduce(
        operator.and_,
        [F.col(f"_ok_{k}").eqNullSafe(F.col(f"_nk_{k}")) for k in key_cols],
    )
    j = o.join(n, cond, "full_outer")
    change = (
        F.when(F.col("_old_val").isNull(), F.lit("added"))
        .when(F.col("_new_val").isNull(), F.lit("removed"))
        .when(
            ~F.col("_old_val").eqNullSafe(F.col("_new_val")),
            F.lit("changed"),
        )
    )
    return (
        j.withColumn("change", change)
        .filter(F.col("change").isNotNull())
        .select(
            *[
                F.coalesce(F.col(f"_ok_{k}"), F.col(f"_nk_{k}")).alias(k)
                for k in key_cols
            ],
            "change",
        )
    )
