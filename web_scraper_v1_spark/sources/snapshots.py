"""Snapshot tables: an Iceberg-style append-only table layout on plain
parquet, with a single atomically-committed JSON manifest per engine run.

Why not Iceberg itself: the sandbox has no Iceberg runtime jars; this module
provides the same guarantees the engine needs from it — atomic snapshot
commits, readers that only see committed data, and resumability — behind a
small API so a real deployment can swap in ``df.writeTo(table).append()``
without touching the engine. (SURVEY.md §7 "hard parts" (d).)

Layout::

    run_dir/
      manifest.json                  # single source of truth, atomic rename
      trace/round=00000003/*.parquet # one snapshot dir per (table, round)
      seen/round=00000003/*.parquet
      ...
      _staging/round=00000003/       # a multi-table write in flight

A crawl round writes all of its tables with ONE Spark write: the rows of
every table go out together, ``partitionBy`` the table name, into
``_staging/round=R/_table=<table>/``; each table's subdir is then renamed
to its ``<table>/round=R`` snapshot dir and the staging dir is removed,
all before the manifest commit. A multi-table snapshot's parquet files
carry the union of the tables' columns (a table's unused columns are
null); readers project their table's schema, so the layout seen by
``read``, ``read_as_of``, ``rollback``, ``compact`` and ``clean_orphans``
is the per-table one above.

Each round record also keeps its own table->path map, giving the two other
Iceberg table-format affordances the engine relies on: time travel
(``read_as_of(round)`` — the table exactly as round R committed it) and
``rollback(round)`` (atomically rewind the run and resume from R+1); both
stop at compaction points, the snapshot-expiry trade.

The manifest maps table -> [committed snapshot dirs] plus per-round metadata
(the RabbitMQ "batch" analog: one crawl round == one committed snapshot set,
replacing the at-most-once auto-ack stream at
/root/reference/internal/message/consumer/rabbitmq_consumer.go:59 with
exactly-once batch commits). A crash mid-round leaves orphan dirs — staged
or already renamed — that are never referenced by the manifest and are
ignored (and cleaned) on resume.

At 10^10-URL scale each table is additionally hash-partitioned by
``host_bucket`` inside a snapshot: ``write_snapshot(partition_by=
"host_bucket")`` lays files out as ``round=R/host_bucket=B/*.parquet`` and
per-host readers prune to one bucket directory (CrawlEngine.host_processed —
partition filters asserted in tests/test_plans.py). A compaction job folds
old snapshots; both are orthogonal to the commit protocol here.
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# the column naming each row's table in a multi-table write
TABLE_COL = "_table"
STAGING_DIR = "_staging"
# the partition dir Spark writes for a null partition value
_NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"


class SnapshotStore:
    def __init__(self, run_dir: str):
        self.run_dir = run_dir
        os.makedirs(run_dir, exist_ok=True)
        self.manifest_path = os.path.join(run_dir, "manifest.json")
        self._manifest = self._load()

    # -- manifest ----------------------------------------------------------
    def _load(self) -> dict:
        if os.path.exists(self.manifest_path):
            with open(self.manifest_path) as fh:
                m = json.load(fh)
                m.setdefault("partitioned", {})
                return m
        return {"tables": {}, "rounds": [], "partitioned": {}}

    def _commit_manifest(self) -> None:
        tmp = self.manifest_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(self._manifest, fh, indent=1, sort_keys=True)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, self.manifest_path)  # atomic on POSIX

    # -- writes ------------------------------------------------------------
    def snapshot_dir(self, table: str, round_id: int) -> str:
        return os.path.join(self.run_dir, table, f"round={round_id:08d}")

    def write_snapshot(
        self,
        df: DataFrame,
        table: str | Sequence[str],
        round_id: int,
        partition_by: str | dict[str, str] | None = None,
    ) -> str | dict[str, str]:
        """Write snapshot dirs; NOT visible to readers until
        ``commit_round`` lands the manifest.

        ``table`` names one table: ``df`` is written to its snapshot dir,
        whose path is returned; ``partition_by`` hash-buckets the files by
        that column (host_bucket at scale) so per-bucket readers prune
        whole directories.

        ``table`` lists several tables: ``df`` carries a ``TABLE_COL``
        column naming each row's table, and all of them are written by ONE
        Spark write (see the module docstring); returns ``{table: path}``
        for the tables that got rows. ``partition_by`` then maps the
        partitioned tables to their (shared) partition column; the other
        tables' rows must hold null in it."""
        if isinstance(table, str):
            path = self._fresh_dir(self.snapshot_dir(table, round_id))
            writer = df.write.mode("overwrite")
            if partition_by is not None:
                writer = writer.partitionBy(partition_by)
                self._mark_partitioned(table, partition_by)
            writer.parquet(path)
            return path
        parts = partition_by or {}
        pcols = sorted(set(parts.values()))
        assert len(pcols) <= 1, "partitioned tables must share one column"
        staging = self._fresh_dir(
            os.path.join(self.run_dir, STAGING_DIR, f"round={round_id:08d}")
        )
        df.write.mode("overwrite").partitionBy(TABLE_COL, *pcols).parquet(
            staging
        )
        paths = {}
        for name in table:
            src = os.path.join(staging, f"{TABLE_COL}={name}")
            if not os.path.isdir(src):  # the table got no rows
                continue
            if name in parts:
                self._mark_partitioned(name, parts[name])
            elif pcols:  # a flat table's rows sit in the null partition
                src = os.path.join(src, f"{pcols[0]}={_NULL_PARTITION}")
            dest = self._fresh_dir(self.snapshot_dir(name, round_id))
            os.makedirs(os.path.dirname(dest), exist_ok=True)
            os.rename(src, dest)
            paths[name] = dest
        shutil.rmtree(staging)
        return paths

    @staticmethod
    def _fresh_dir(path: str) -> str:
        if os.path.exists(path):  # orphan from a crashed attempt
            shutil.rmtree(path)
        return path

    def _mark_partitioned(self, table: str, column: str) -> None:
        # remembered (and committed with the round) so readers union the
        # snapshot dirs instead of a single multi-root read: roots named
        # round=N with partition subdirs beneath them trip Spark's
        # conflicting-directory-structure detection
        self._manifest["partitioned"][table] = column

    def commit_round(self, round_id: int, tables: dict[str, str], meta: dict) -> None:
        """Atomically publish all of a round's snapshots + its lineage row.
        The round record keeps its own table->path map, which is what makes
        time travel (``read_as_of``) and ``rollback`` possible."""
        for table, path in tables.items():
            self._manifest["tables"].setdefault(table, []).append(path)
        self._manifest["rounds"].append(
            {"round": round_id, "tables": dict(tables), **meta}
        )
        self._commit_manifest()

    # -- reads -------------------------------------------------------------
    def committed_paths(self, table: str) -> list[str]:
        return list(self._manifest["tables"].get(table, []))

    def _read_paths(
        self, spark: SparkSession, table: str, schema: T.StructType,
        paths: list[str],
    ) -> DataFrame:
        if not paths:
            return spark.createDataFrame([], schema)
        if table not in self._manifest["partitioned"]:
            return spark.read.schema(schema).parquet(*paths)
        # partitioned snapshots: one relation per snapshot dir, unioned —
        # each scan keeps its own partition discovery (and pruning); the
        # union width is bounded by compaction at scale
        dfs = [spark.read.schema(schema).parquet(p) for p in paths]
        out = dfs[0]
        for df in dfs[1:]:
            out = out.unionByName(df)
        return out

    def read(self, spark: SparkSession, table: str, schema: T.StructType) -> DataFrame:
        return self._read_paths(
            spark, table, schema, self.committed_paths(table)
        )

    def read_as_of(
        self,
        spark: SparkSession,
        table: str,
        schema: T.StructType,
        round_id: int,
    ) -> DataFrame:
        """Time travel (Iceberg ``VERSION AS OF`` analog): the table as it
        stood after round ``round_id`` committed — only snapshot dirs
        published by rounds <= round_id. Raises if that history has been
        folded away by compaction (the snapshot-expiry trade: compaction
        keeps current-state reads O(1 dir) at the cost of pre-compaction
        time travel, exactly like expiring Iceberg snapshots)."""
        paths = [
            r["tables"][table]
            for r in self._manifest["rounds"]
            if r["round"] <= round_id and table in r.get("tables", {})
        ]
        gone = [p for p in paths if not os.path.exists(p)]
        if gone:
            raise ValueError(
                f"time travel to round {round_id} crosses compacted/expired "
                f"snapshots of '{table}': {gone[:3]}"
            )
        return self._read_paths(spark, table, schema, paths)

    def rollback(self, round_id: int) -> list[dict]:
        """Atomically rewind the run to the state after round ``round_id``
        committed: later rounds' lineage rows are dropped and every table's
        committed-path list is rebuilt from the surviving rounds, so a
        subsequent engine start resumes from round ``round_id + 1`` (the
        crawl-operations undo button — e.g. discard rounds poisoned by a
        bad robots push). The discarded snapshot dirs become unreferenced
        and are removed by the next ``clean_orphans()``. Refuses to cross
        a compaction point (per-round history is folded away there)."""
        for table, paths in self._manifest["tables"].items():
            in_history = {
                r["tables"][table]
                for r in self._manifest["rounds"]
                if table in r.get("tables", {})
            }
            stray = [p for p in paths if p not in in_history]
            if stray:
                raise ValueError(
                    f"cannot rollback across compaction of '{table}': "
                    f"{stray[:3]}"
                )
        kept = [
            r for r in self._manifest["rounds"] if r["round"] <= round_id
        ]
        dropped = [
            r for r in self._manifest["rounds"] if r["round"] > round_id
        ]
        tables: dict[str, list[str]] = {}
        for r in kept:
            for table, path in r.get("tables", {}).items():
                tables.setdefault(table, []).append(path)
        self._manifest["rounds"] = kept
        self._manifest["tables"] = tables
        self._commit_manifest()
        return dropped

    def partition_column(self, table: str) -> str | None:
        """The column this table's committed snapshots are partitioned by
        (None for flat snapshots). A reopening engine must match it — a
        partition-filtered reader over mixed flat/partitioned snapshots
        would silently see null partition values for the flat dirs."""
        return self._manifest["partitioned"].get(table)

    def rounds(self) -> list[dict]:
        return list(self._manifest["rounds"])

    def last_round(self) -> int:
        rs = self._manifest["rounds"]
        return max((r["round"] for r in rs), default=-1)

    def compact(
        self,
        spark: SparkSession,
        table: str,
        schema: T.StructType,
        delete_now: bool = False,
    ) -> str | None:
        """Fold all committed snapshot dirs of a table into one — the
        engine analog of the TTL cache's periodic cleanup goroutine
        (/root/reference/internal/cache/in_memory.go:91-109) and of
        Iceberg compaction/snapshot-expiry maintenance. Readers see either
        the old snapshot list or the compacted dir (atomic manifest swap).

        Superseded dirs are deleted LAZILY by default: after the manifest
        swap they are unreferenced, so the next engine start's
        ``clean_orphans()`` removes them — this keeps any live (lazy)
        DataFrame built from the old paths in the current session valid,
        so compaction is safe mid-crawl. Pass ``delete_now=True`` only
        when no reader from this session can still reference the old
        paths (e.g. a standalone maintenance job)."""
        paths = self.committed_paths(table)
        if len(paths) <= 1:
            return None
        # self.read handles partitioned snapshot layouts (per-dir union);
        # for those, ``schema`` must include the partition column and the
        # compacted dir keeps the same partitioning
        df = self.read(spark, table, schema)
        dest = os.path.join(
            self.run_dir, table, f"compacted={len(self._manifest['rounds']):08d}"
        )
        if os.path.exists(dest):
            shutil.rmtree(dest)
        writer = df.write.mode("overwrite")
        pcol = self._manifest["partitioned"].get(table)
        if pcol is not None:
            writer = writer.partitionBy(pcol)
        writer.parquet(dest)
        self._manifest["tables"][table] = [dest]
        self._commit_manifest()
        if delete_now:
            for p in paths:
                shutil.rmtree(p, ignore_errors=True)
        return dest

    def clean_orphans(self) -> list[str]:
        """Remove snapshot dirs never committed (crash debris)."""
        committed = {
            os.path.normpath(p)
            for ps in self._manifest["tables"].values()
            for p in ps
        }
        removed = []
        for table in os.listdir(self.run_dir):
            tdir = os.path.join(self.run_dir, table)
            if not os.path.isdir(tdir):
                continue
            for snap in os.listdir(tdir):
                sdir = os.path.normpath(os.path.join(tdir, snap))
                if sdir not in committed:
                    shutil.rmtree(sdir)
                    removed.append(sdir)
        return removed
