"""Manifest-committed Parquet tables with per-append lineage.

Stands in for Iceberg in this sandbox (no Iceberg runtime jar is available):
same write discipline, toy-scale implementation —

- every append writes a fresh snapshot directory, then commits it by
  atomically replacing ``manifest.json`` (``os.replace``, the same atomic
  primitive the reference uses for its CSV rewrite dance,
  scrapper/core/storage.py:53-82 — but appends here are O(new data), never a
  full-table rewrite);
- the manifest records per-append lineage: round, stage, row count, snapshot
  id — the "per-partition lineage manifests" of the north_rule (file-level
  lineage; Iceberg would track per-data-file stats natively);
- the manifest also records the table's schema once (``df.schema`` of the
  first append, replaced by ``overwrite``), as Iceberg table metadata does,
  and every read scans with it: no Spark job infers a schema from footers,
  and a directory partition column reads back with its written type (a
  boolean stays boolean). An append whose schema differs in anything but
  nullability raises instead of mixing schemas. A manifest written before
  schemas were recorded is still read with inference;
- reads list committed snapshot dirs only, so a crashed half-written append
  is invisible (snapshot isolation for a single writer).

In production every call site maps 1:1 onto Iceberg:
``append(df)`` → ``df.writeTo(tbl).append()``; ``read`` → catalog table scan;
manifest lineage → Iceberg snapshot summary + manifests.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import threading
import uuid
from functools import reduce

import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def _rows_from_footers(path: str) -> int:
    """Row count from parquet footers on the local FS — no Spark job.

    On a real cluster this is the Iceberg snapshot summary (row counts are
    manifest metadata there too; never re-scan data to count it)."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
    return total


def _entry(snap_id, path, rows, round_idx, stage) -> dict:
    return {"id": snap_id, "path": path, "rows": rows, "round": round_idx,
            "stage": stage}


# the nullability flags of a schema's compact JSON form (StructType.json())
_NULLABILITY = re.compile(
    r'"(?:nullable|containsNull|valueContainsNull)":(?:true|false)'
)


def _same_but_nullability(a: str, b: str) -> bool:
    return _NULLABILITY.sub("", a) == _NULLABILITY.sub("", b)


def _scan(spark: SparkSession, path: str, schema: str | None) -> DataFrame:
    """Scan one snapshot with the table's recorded schema (no inference
    job); a manifest written before schemas were recorded infers it."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(StructType.fromJson(json.loads(schema)))
    return reader.parquet(path)


class ParquetTable:
    def __init__(self, root: str, name: str):
        self.dir = os.path.join(root, name)
        self.name = name
        os.makedirs(self.dir, exist_ok=True)
        self._manifest_path = os.path.join(self.dir, "manifest.json")
        # Serializes the manifest read-modify-commit so key-disjoint appends
        # (e.g. the engine's per-round insert + update deltas) can run as
        # CONCURRENT Spark jobs; the parquet writes themselves go to unique
        # snapshot dirs and never contend. Iceberg gives the same guarantee
        # via optimistic snapshot commits.
        self._commit_lock = threading.Lock()
        # snapshot ordinal allocator — taken under the lock so concurrent
        # appends can't mint the same numeric prefix (ADVICE r5); seeded
        # from the persisted manifest so reopened tables keep counting up
        self._snap_counter = len(self._manifest()["snapshots"])

    # ------------------------------------------------------------ manifest
    def _manifest(self) -> dict:
        if not os.path.exists(self._manifest_path):
            return {"snapshots": []}
        with open(self._manifest_path) as f:
            return json.load(f)

    def _commit(self, manifest: dict) -> None:
        tmp = self._manifest_path + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, self._manifest_path)  # atomic commit point

    # ------------------------------------------------------------------ io
    def append(
        self,
        df: DataFrame,
        *,
        round_idx: int = -1,
        stage: str = "",
        partition_by: list[str] | None = None,
    ) -> int:
        return self.append_with_path(
            df, round_idx=round_idx, stage=stage, partition_by=partition_by
        )[0]

    def append_with_path(
        self,
        df: DataFrame,
        *,
        round_idx: int = -1,
        stage: str = "",
        partition_by: list[str] | None = None,
    ) -> tuple[int, str]:
        """Append a snapshot and return ``(rows, snapshot_path)`` — callers
        that read the delta back must name THIS snapshot, not "the latest"
        (another thread's append may have committed since)."""
        with self._commit_lock:
            ordinal = self._snap_counter
            self._snap_counter += 1
        snap_id = f"snap-{ordinal:05d}-{uuid.uuid4().hex[:8]}"
        path = os.path.join(self.dir, snap_id)
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)
        rows = _rows_from_footers(path)
        schema = df.schema.json()
        with self._commit_lock:
            m = self._manifest()
            if "schema" not in m:
                if not m["snapshots"]:
                    m["schema"] = schema
            elif not _same_but_nullability(m["schema"], schema):
                raise ValueError(
                    f"append to {self.name} has schema {schema}, "
                    f"the table has {m['schema']}"
                )
            m["snapshots"].append(_entry(snap_id, path, rows, round_idx, stage))
            self._commit(m)
        return rows, path

    def overwrite(self, df: DataFrame, *, round_idx: int = -1, stage: str = "") -> int:
        """Replace table contents (used by checkpoint snapshots)."""
        old = [s["path"] for s in self._manifest()["snapshots"]]
        snap_id = f"snap-{uuid.uuid4().hex[:8]}"
        path = os.path.join(self.dir, snap_id)
        df.write.mode("overwrite").parquet(path)
        rows = _rows_from_footers(path)
        with self._commit_lock:
            self._commit({
                "schema": df.schema.json(),
                "snapshots": [_entry(snap_id, path, rows, round_idx, stage)],
            })
            self._snap_counter = 1
        for p in old:
            shutil.rmtree(p, ignore_errors=True)
        return rows

    @staticmethod
    def _live(m: dict) -> list[dict]:
        # zero-row snapshots have no parquet files to scan — the manifest
        # row count lets reads skip them
        return [s for s in m["snapshots"] if s["rows"] > 0]

    def _scans(self, spark: SparkSession) -> list[DataFrame]:
        """One scan per live snapshot, all from one manifest read."""
        m = self._manifest()
        return [_scan(spark, s["path"], m.get("schema")) for s in self._live(m)]

    def read(self, spark: SparkSession) -> DataFrame | None:
        """Union of the committed snapshots. Snapshots may be individually
        partitioned (k=v subdirs); one multi-path scan would trip partition
        discovery, so each snapshot is its own scan (Iceberg reads via
        manifests and has no such issue)."""
        dfs = self._scans(spark)
        return reduce(DataFrame.unionByName, dfs) if dfs else None

    def read_snapshot(self, spark: SparkSession, path: str) -> DataFrame:
        """One committed snapshot (a path ``append_with_path`` returned)."""
        return _scan(spark, path, self._manifest().get("schema"))

    def read_versioned(self, spark: SparkSession) -> "DataFrame | None":
        """Union of committed snapshots with a ``_seq`` commit-order column.

        Lets callers reconcile delta snapshots latest-wins (the sandbox
        stand-in for Iceberg MERGE INTO / position deletes): write status
        transitions as O(batch) delta appends, resolve on read with a window
        over ``_seq``. Compaction (overwrite with the reconciled view) resets
        the history to one snapshot."""
        dfs = [
            df.withColumn("_seq", F.lit(i))
            for i, df in enumerate(self._scans(spark))
        ]
        return reduce(DataFrame.unionByName, dfs) if dfs else None

    def snapshot_paths(self, stages: set[str] | None = None) -> list[str]:
        """Data paths of committed snapshots, optionally filtered by stage."""
        return [
            s["path"]
            for s in self._live(self._manifest())
            if stages is None or s["stage"] in stages
        ]

    def lineage(self) -> list[dict]:
        return self._manifest()["snapshots"]

    def exists(self) -> bool:
        return bool(self._manifest()["snapshots"])
