"""Bucketed URL-seen store — the O(1)-exchange side of the J4/O1 anti-join.

The round-2 design scanned every frontier insert delta and SHUFFLED that
whole seen side through the per-round anti-join — O(total frontier) exchange
per round, the one flagged scale-killer at 10^10 URLs. This store fixes the
physics:

- the seen set lives in a Spark **bucketed table** (``CLUSTERED BY
  (url_canon) … INTO n BUCKETS``, hash = Spark's murmur3 bucketing): the scan
  reports ``HashPartitioning(url_canon, n)`` so the anti-join needs **no
  exchange and no re-sort of the seen side** — only the (small) maybe-seen
  candidate batch is shuffled, into n partitions that line up with the
  buckets. ``Bucketed: true`` + exactly one Exchange is asserted in
  tests/test_seen_store.py.
- per-round inserts are O(new URLs) bucketed appends, each coalesced to one
  task so a round writes ≤ n files;
- every ``compact_every`` appends the store is rewritten to one file per
  bucket — **task-parallel, one task per bucket** (the rewrite repartitions
  on ``url_canon`` into exactly ``n_buckets`` partitions, which is the same
  murmur3 hash the bucket spec uses, so each task holds exactly one bucket's
  rows and writes exactly one file) — keeping the per-round file count, and
  with it the seen-scan's open/plan cost, O(appends-since-compaction), never
  O(rounds). The swap is crash-atomic: the compacted files land in a
  sibling directory, the row count is validated against the live table, and
  only then is the live directory replaced via rename.

Durability: the data lives under ``run_dir/seen_bucketed`` (survives the
session) together with a ``_meta.json`` recording the bucket count; the
bucketing METADATA lives in the session catalog, so resume in a fresh
session re-registers the table with a ``CREATE TABLE … CLUSTERED BY …
LOCATION`` DDL over the existing files (``ensure_registered``) — using the
PERSISTED bucket count, so a resume under a different session parallelism
(the engine derives its default from ``defaultParallelism``) can never
mis-declare the on-disk bucketing. If the directory is absent entirely
(pre-upgrade run dirs), the store is rebuilt from the frontier's
insert-delta snapshots.

In production this maps to an Iceberg table with a bucket partition transform
(``bucket(n, url_canon)``) + storage-partitioned joins; compaction is
``rewrite_data_files`` (which is likewise per-file-group parallel and
commits via atomic snapshot swap). The sandbox has no Iceberg jar, so
Spark's native bucketed tables stand in — same join physics.

Replaces: the reference's in-memory DedupeSet (scrapper/core/dedup.py:17-27)
as the durable half of the dedupe-before-fetch gate. The Bloom/cuckoo
prefilter (crawl/bloom.py, crawl/cuckoo.py) is derived from this store on
demand; the crawl round loop runs the exact check alone.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class BucketedSeenStore:
    def __init__(
        self,
        spark: SparkSession,
        run_dir: str,
        *,
        n_buckets: int = 8,
        compact_every: int = 8,
    ):
        self.spark = spark
        self.dir = os.path.join(run_dir, "seen_bucketed")
        # catalog names are session-global; key them by run_dir so parallel
        # engines in one session can't collide
        self.table = (
            "seen_" + hashlib.md5(os.path.abspath(run_dir).encode()).hexdigest()[:12]
        )
        # an existing store keeps its on-disk bucket count — the bucket spec
        # is a property of the FILES, not of whoever reopens them
        persisted = self._load_meta()
        self.n_buckets = persisted if persisted is not None else n_buckets
        self.compact_every = compact_every
        self._appends_since_compact = 0

    # ------------------------------------------------------------ lifecycle
    def _meta_path(self) -> str:
        return os.path.join(self.dir, "_meta.json")

    def _load_meta(self) -> int | None:
        try:
            with open(self._meta_path()) as f:
                return int(json.load(f)["n_buckets"])
        except (OSError, ValueError, KeyError):
            return None

    def _save_meta(self) -> None:
        os.makedirs(self.dir, exist_ok=True)
        tmp = self._meta_path() + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump({"n_buckets": self.n_buckets}, f)
        os.replace(tmp, self._meta_path())

    def registered(self) -> bool:
        return self.spark.catalog.tableExists(self.table)

    def _has_files(self) -> bool:
        if not os.path.isdir(self.dir):
            return False
        return any(f.endswith(".parquet") for f in os.listdir(self.dir))

    def reset(self) -> None:
        """Fresh start (seed time): drop catalog entry + data files."""
        if self.registered():
            self.spark.sql(f"DROP TABLE {self.table}")
        shutil.rmtree(self.dir, ignore_errors=True)
        self._appends_since_compact = 0

    def _register_ddl(self, location: str | None = None) -> None:
        # single quotes in the path would break the LOCATION literal — the
        # standard SQL escape is doubling them (run dirs are caller-supplied)
        loc = (location or self.dir).replace("'", "''")
        self.spark.sql(
            f"CREATE TABLE {self.table} (url_canon STRING) USING PARQUET "
            f"CLUSTERED BY (url_canon) SORTED BY (url_canon) "
            f"INTO {self.n_buckets} BUCKETS LOCATION '{loc}'"
        )

    def ensure_registered(self, rebuild_from: DataFrame | None = None) -> None:
        """Make the catalog know the table. Existing files → DDL-register the
        PERSISTED bucket spec over them; no files → bucketed rewrite of
        ``rebuild_from`` (the frontier insert-delta scan) if given."""
        if self.registered():
            return
        if self._has_files():
            persisted = self._load_meta()
            if persisted is not None:
                self.n_buckets = persisted
            self._register_ddl()
        elif rebuild_from is not None:
            self.append(rebuild_from)

    # ------------------------------------------------------------------- io
    def append(self, df: DataFrame) -> None:
        """O(new URLs) bucketed append; periodic compaction keeps the file
        count O(compact_every × n_buckets)."""
        # one task → ≤ n_buckets files per append
        (
            df.select("url_canon").coalesce(1)
            .write.mode("append")
            .format("parquet")
            .bucketBy(self.n_buckets, "url_canon")
            .sortBy("url_canon")
            .option("path", self.dir)
            .saveAsTable(self.table)
        )
        self._save_meta()
        self._appends_since_compact += 1
        if self._appends_since_compact >= self.compact_every:
            self.compact()

    def df(self) -> DataFrame:
        """The seen set as a bucketed scan (url_canon only)."""
        return self.spark.table(self.table).select("url_canon")

    def compact(self) -> None:
        """Merge delta files to one file per bucket (Iceberg
        rewrite_data_files). Rows are unique by construction (every insert
        passed the anti-join), so this is a pure file merge.

        Parallelism: the rewrite repartitions on the EXPLICIT bucket id
        ``pmod(hash(url_canon), n_buckets)`` (verified == Spark's bucket
        assignment) into ``n_buckets`` partitions, so every bucket's rows
        land wholly in one task and each task writes at most two buckets'
        files — exactly ``n_buckets`` output files, written task-parallel
        (a bare ``repartition(n, url_canon)`` does NOT align shuffle
        placement with bucket ids and fans out to O(tasks × buckets)
        files).

        Crash-atomicity: the compacted bucketed files are written to a
        sibling directory first and validated by row count against the live
        table; only then is the live directory swapped via rename + the
        catalog entry re-pointed. A crash at any step leaves either the old
        files (registered or re-registrable from meta) or a stray temp dir —
        never a truncated live store (ADVICE r3)."""
        if not self.registered():
            return
        live_count = self.spark.table(self.table).count()
        self._atomic_rewrite(self.spark.table(self.table), live_count)

    def delete(self, minus: DataFrame) -> int:
        """Remove ``url_canon`` rows — the frontier-eviction half of
        re-crawl-after-TTL (``CrawlEngine.evict_seen``): a bucket-parallel
        rewrite of the store minus the evicted keys, with the same
        crash-atomic sibling-dir swap as :meth:`compact`. The evicted side
        is TTL-window-sized, so it broadcasts into the anti-join and the
        store side never shuffles. Returns the number of rows removed."""
        if not self.registered():
            return 0
        minus = minus.select("url_canon")
        live = self.spark.table(self.table)
        del_count = live.join(
            F.broadcast(minus), "url_canon", "left_semi"
        ).count()
        if del_count == 0:
            return 0
        live_count = live.count()
        kept = live.join(F.broadcast(minus), "url_canon", "left_anti")
        self._atomic_rewrite(kept, live_count - del_count)
        return del_count

    def _atomic_rewrite(self, source: DataFrame, expected_count: int) -> None:
        """Rewrite the store from ``source`` into one file per bucket
        (task-parallel on the explicit bucket id) and swap atomically after
        validating the row count — shared by compact() and delete()."""
        tmp = self.dir + ".compact.tmp"
        tmp_table = self.table + "_compact_tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        if self.spark.catalog.tableExists(tmp_table):
            self.spark.sql(f"DROP TABLE {tmp_table}")
        bucket_id = F.pmod(F.hash(F.col("url_canon")), F.lit(self.n_buckets))
        (
            source.repartition(self.n_buckets, bucket_id)
            .write.mode("overwrite")
            .format("parquet")
            .bucketBy(self.n_buckets, "url_canon")
            .sortBy("url_canon")
            .option("path", tmp)
            .saveAsTable(tmp_table)
        )
        compacted_count = self.spark.table(tmp_table).count()
        self.spark.sql(f"DROP TABLE {tmp_table}")
        if compacted_count != expected_count:
            # refuse the swap — the live store stays authoritative
            shutil.rmtree(tmp, ignore_errors=True)
            raise RuntimeError(
                f"seen-store rewrite row mismatch: expected={expected_count} "
                f"compacted={compacted_count}; keeping the live store"
            )
        # swap: drop catalog entry (data untouched), rename dirs, re-register
        self.spark.sql(f"DROP TABLE {self.table}")
        old = self.dir + f".old.{uuid.uuid4().hex[:8]}"
        os.replace(self.dir, old)
        os.replace(tmp, self.dir)
        self._save_meta()
        self._register_ddl()
        shutil.rmtree(old, ignore_errors=True)
        self._appends_since_compact = 0

    def n_files(self) -> int:
        if not os.path.isdir(self.dir):
            return 0
        return sum(1 for f in os.listdir(self.dir) if f.endswith(".parquet"))
