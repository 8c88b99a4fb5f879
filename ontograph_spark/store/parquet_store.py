"""Parquet-backed quad store with a snapshot commit log and
partition-scoped commits.

The persistent backend for graphs bigger than memory. In a production
deployment the quad table is an Iceberg table and every mutation is a
single MERGE/DELETE commit; this sandbox has no Iceberg runtime jar, so the
same commit discipline is reproduced with a minimal snapshot protocol:

```
root/
  _meta.json                  {"uri": ..., "version": 1}
  CURRENT                     text: name of the live snapshot, e.g. "v00000003"
  snapshots/v00000003/        parquet dir, Hive-partitioned graph=<g>/salt=<b>
  snapshots/v00000003.json    commit manifest: op, rows, parent, scoped parts
```

* Readers resolve ``CURRENT`` then scan one snapshot directory — filters
  and column pruning push into the parquet scan, and the ``graph=``
  partition column gives graph-scoped operators partition pruning for
  free.
* Writers materialize the next state into a new snapshot dir, then commit
  by atomically replacing ``CURRENT`` (write-temp + ``os.replace``).
  A crashed writer leaves an orphan directory, never a corrupt table —
  the same observable guarantee as an Iceberg commit.
* **Partition-scoped commits** (the Iceberg MERGE-granularity behavior):
  every mutation passes a ``touched`` hint (the added/removed rows).
  When the touched (graph, salt) partition set is small, the new
  snapshot HARD-LINKS every untouched partition's files from the parent
  (no rewrite, no extra storage — link count is the only change) and
  rewrites only the affected partitions. A single checked ``add_triple``
  therefore rewrites one salt bucket, not the table. Wide batches
  (> ``scope_limit`` partitions, or a first commit) fall back to a full
  rewrite, which is then the cheaper plan anyway. Snapshot expiry is
  link-safe: unlinking an old snapshot's files never affects a newer one
  that still references the same inodes.
* Data is laid out by **graph + salted subject** (``SALT_BUCKETS``
  buckets, fixed for every root so a reopened table keeps one
  subject → bucket map) so one hot subject (or the ``rdf:type``
  fan-in) cannot skew file sizes; see pipeline/materialize.py for the
  salting rationale.
* Writers in this process are serialized per root (``realpath``): every
  store over one root, whichever graph it serves, shares one writer
  lock, so two commits never race for the same snapshot name. Writers
  in separate processes stay out of scope.

This mirrors the role of the reference's Blazegraph backend
(/root/reference/blazegraph_store.go) — the durable, larger-than-memory
store behind the same GraphStore operator set.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
from functools import reduce
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.errors import AnalysisException

from ontograph_spark.store.base import QUAD_SCHEMA, QuadStoreBase

CURRENT_FILE = "CURRENT"
SNAPSHOT_DIR = "snapshots"
#: subject-salt buckets per graph partition
SALT_BUCKETS = 16

#: realpath of a store root → the writer lock every store on it shares
_ROOT_LOCKS: dict[str, threading.RLock] = {}


def _atomic_write(path: str, content: str) -> None:
    tmp = f"{path}.tmp.{os.getpid()}"
    with open(tmp, "w") as f:
        f.write(content)
    os.replace(tmp, path)


def _link_or_copy(src: str, dst: str) -> None:
    try:
        os.link(src, dst)
    except OSError:  # cross-device or FS without hard links
        shutil.copy2(src, dst)


class ParquetQuadStore(QuadStoreBase):
    """One named graph over a snapshot-versioned parquet quad table."""

    def __init__(
        self,
        spark: SparkSession,
        uri: str,
        root: str,
        write_partitions: int | None = None,
        scope_limit: int = 64,
    ) -> None:
        super().__init__(spark, uri)
        self.root = root
        self.write_partitions = write_partitions
        #: commits touching more partitions than this rewrite fully
        self.scope_limit = scope_limit
        os.makedirs(os.path.join(root, SNAPSHOT_DIR), exist_ok=True)
        meta_path = os.path.join(root, "_meta.json")
        if not os.path.exists(meta_path):
            _atomic_write(meta_path, json.dumps({"uri": uri, "version": 1}))
        # dict.setdefault is atomic, so racing constructors get one lock
        self._write_lock = _ROOT_LOCKS.setdefault(
            os.path.realpath(root), threading.RLock()
        )

    # -- snapshot protocol ------------------------------------------------

    def current_snapshot(self) -> str | None:
        path = os.path.join(self.root, CURRENT_FILE)
        if not os.path.exists(path):
            return None
        with open(path) as f:
            return f.read().strip() or None

    def _snapshot_path(self, name: str) -> str:
        return os.path.join(self.root, SNAPSHOT_DIR, name)

    def _next_snapshot_name(self) -> str:
        cur = self.current_snapshot()
        n = int(cur[1:]) + 1 if cur else 1
        return f"v{n:08d}"

    def _salt_col(self):
        return F.pmod(F.xxhash64(F.col("subj")), F.lit(SALT_BUCKETS)).cast(
            "int"
        )

    def _read_snapshot(self, path: str) -> DataFrame:
        """Read one snapshot dir. ``graph``/``salt`` are Hive partition
        columns; an all-deleted snapshot has no partition dirs at all and
        reads as the empty table."""
        try:
            df = self.spark.read.parquet(path)
        except AnalysisException:
            return self.spark.createDataFrame([], QUAD_SCHEMA)
        return df.select(
            "subj", "pred", "obj", F.col("graph").cast("string").alias("graph")
        )

    def _df(self) -> DataFrame:
        cur = self.current_snapshot()
        if cur is None:
            return self.spark.createDataFrame([], QUAD_SCHEMA)
        return self._read_snapshot(self._snapshot_path(cur))

    def _list_partitions(self, snapshot: str) -> dict[tuple[str, int], str]:
        """(graph, salt) → partition dir path for one snapshot (decoded
        from the Hive-escaped directory names Spark writes)."""
        out: dict[tuple[str, int], str] = {}
        base = self._snapshot_path(snapshot)
        for gdir in os.listdir(base):
            if not gdir.startswith("graph="):
                continue
            graph = unquote(gdir[len("graph="):])
            gpath = os.path.join(base, gdir)
            for sdir in os.listdir(gpath):
                if sdir.startswith("salt="):
                    out[(graph, int(sdir[len("salt="):]))] = os.path.join(
                        gpath, sdir
                    )
        return out

    def _touched_partitions(
        self, touched: DataFrame
    ) -> set[tuple[str, int]] | None:
        """The (graph, salt) partitions a mutation affects, or None when
        the set exceeds ``scope_limit`` (full rewrite is cheaper). One
        small distinct over the mutation batch — never the table."""
        rows = (
            touched.select(F.col("graph"), self._salt_col().alias("salt"))
            .distinct()
            .limit(self.scope_limit + 1)
            .collect()
        )
        if len(rows) > self.scope_limit:
            return None
        return {(r["graph"], r["salt"]) for r in rows}

    def _commit(
        self, df: DataFrame, op: str = "mutate", touched: DataFrame | None = None
    ) -> None:
        """Materialize the next table state and swap the pointer. With a
        ``touched`` hint and a live parent snapshot, only the affected
        (graph, salt) partitions are rewritten; every other partition's
        files are hard-linked from the parent unchanged."""
        parent = self.current_snapshot()
        name = self._next_snapshot_name()
        path = self._snapshot_path(name)
        out = df.select(*QUAD_SCHEMA.fieldNames()).withColumn(
            "salt", self._salt_col()
        )
        scoped: list[list] | None = None
        if touched is not None and parent is not None:
            parts = self._touched_partitions(touched)
            if parts is not None:
                untouched = {
                    k: v
                    for k, v in self._list_partitions(parent).items()
                    if k not in parts
                }
                if untouched:
                    self._commit_scoped(out, path, parts, untouched)
                    scoped = sorted([g, s] for g, s in parts)
        if scoped is None:
            # Salted repartition by (graph, subject-salt): co-locates a
            # subject's triples for downstream per-subject folds while
            # bounding the damage of a hot subject; rdf:type-heavy batches
            # can't skew a single output file. One file per partition dir
            # (each (graph, salt) group lands whole in one task).
            n = self.write_partitions or max(
                2, self.spark.sparkContext.defaultParallelism
            )
            (
                out.repartition(n, F.col("graph"), F.col("salt"))
                .write.partitionBy("graph", "salt")
                .mode("overwrite")
                .parquet(path)
            )
        count = self._read_snapshot(path).count()
        _atomic_write(
            f"{path}.json",
            json.dumps(
                {
                    "snapshot": name,
                    "parent": parent,
                    "op": op,
                    "rows": count,
                    "scoped_partitions": scoped,
                    "committed_at": time.time(),
                }
            ),
        )
        _atomic_write(os.path.join(self.root, CURRENT_FILE), name)

    def _commit_scoped(
        self,
        out: DataFrame,
        path: str,
        parts: set[tuple[str, int]],
        untouched: dict[tuple[str, int], str],
    ) -> None:
        """Hard-link every untouched partition from the parent snapshot,
        then write only the touched partitions' next state. The filter's
        ``graph`` conjunct prunes the parent scan to the touched graphs
        (graph is a partition column); the rewrite shuffles only the
        touched rows."""
        os.makedirs(path, exist_ok=True)
        base = self._snapshot_path(self.current_snapshot())
        for (_g, _s), src in untouched.items():
            dst = os.path.join(path, os.path.relpath(src, base))
            os.makedirs(dst, exist_ok=True)
            for fname in os.listdir(src):
                _link_or_copy(os.path.join(src, fname), os.path.join(dst, fname))
        if not parts:  # no-op mutation (nothing matched): pure-link snapshot
            return
        cond = reduce(
            lambda a, b: a | b,
            [
                (F.col("graph") == F.lit(g)) & (F.col("salt") == F.lit(s))
                for g, s in sorted(parts)
            ],
        )
        (
            out.where(cond)
            .repartition(max(1, min(len(parts), 8)), F.col("graph"), F.col("salt"))
            .write.partitionBy("graph", "salt")
            .mode("append")
            .parquet(path)
        )

    # _drop_backend: inherited — the base implementation already passes
    # this graph's rows as the touched hint, so every OTHER graph's
    # partitions are hard-linked, not rewritten, by the scoped commit.

    # -- maintenance ------------------------------------------------------

    def expire_snapshots(self, keep: int = 2) -> list[str]:
        """Delete all but the most recent ``keep`` snapshots; returns the
        expired names. Never touches the live snapshot. Safe with scoped
        commits: deleting an old snapshot only unlinks its directory
        entries — files hard-linked into newer snapshots persist."""
        cur = self.current_snapshot()
        snap_root = os.path.join(self.root, SNAPSHOT_DIR)
        names = sorted(
            n for n in os.listdir(snap_root)
            if n.startswith("v") and os.path.isdir(os.path.join(snap_root, n))
        )
        expired = [n for n in names[:-keep] if n != cur] if keep else []
        for n in expired:
            shutil.rmtree(os.path.join(snap_root, n), ignore_errors=True)
            manifest = os.path.join(snap_root, f"{n}.json")
            if os.path.exists(manifest):
                os.remove(manifest)
        return expired

    def history(self) -> list[dict]:
        """Commit manifests, oldest first."""
        snap_root = os.path.join(self.root, SNAPSHOT_DIR)
        out = []
        for n in sorted(os.listdir(snap_root)):
            if n.endswith(".json"):
                with open(os.path.join(snap_root, n)) as f:
                    out.append(json.load(f))
        return out

    def snapshots(self) -> list[str]:
        """Retained snapshot names, oldest first (directories still on
        disk; :meth:`expire_snapshots` garbage-collects a snapshot's
        data and manifest together)."""
        snap_root = os.path.join(self.root, SNAPSHOT_DIR)
        if not os.path.isdir(snap_root):
            return []
        return sorted(
            n
            for n in os.listdir(snap_root)
            if n.startswith("v") and os.path.isdir(os.path.join(snap_root, n))
        )

    def df_at(self, snapshot: str) -> DataFrame:
        """Time-travel read: the quad table as of a retained snapshot —
        the Iceberg ``VERSION AS OF`` analogue the snapshot log exists
        for. Returns the same pushdown-friendly scan as the live
        :meth:`df`; raises ``ValueError`` for an unknown or expired
        snapshot (run within the expiry window, like any time travel)."""
        path = self._snapshot_path(snapshot)
        if not os.path.isdir(path):
            raise ValueError(
                f"unknown or expired snapshot {snapshot!r}; retained: "
                f"{self.snapshots()}"
            )
        return self._read_snapshot(path)

    def diff(self, old: str, new: str | None = None) -> DataFrame:
        """Row-level change set between two snapshots: the quad rows
        plus a ``change`` column (``added`` / ``removed``). ``new``
        defaults to the live snapshot. Two pushdown scans + one
        left-anti each way — the CDC read pattern an incremental
        downstream (index refresh, closure maintenance) consumes."""
        cols = ["subj", "pred", "obj", "graph"]
        old_df = self.df_at(old)
        new_df = self.df_at(new) if new else self._df()
        added = new_df.join(old_df, cols, "left_anti").withColumn(
            "change", F.lit("added")
        )
        removed = old_df.join(new_df, cols, "left_anti").withColumn(
            "change", F.lit("removed")
        )
        return added.unionByName(removed)
