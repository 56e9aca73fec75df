"""The crawl round loop — ST1-ST9 (SURVEY.md §2.9) as rounds-as-batch-jobs.

One round =
  1. take the eligible PENDING working set (ALL known pending listing pages
     + all pending offer/investment pages; rows under a Retry-After hold are
     excluded until their round arrives),
  2. politeness-governed fused fetch+parse (mapInArrow, partitioned by
     domain_salt), cached and materialized by the round's fetch summary,
  3. listings → link extraction → classify → canonicalize → exact anti-join
     dedupe against the seen store (O1) → new PENDING frontier rows,
  4. offers → parse cascade → refine (expressions) → one staged append,
  5. frontier DELTA appends (inserts + status updates) and the seen-store
     append; every output job joined, then metrics and checkpoint.

Termination (ST2): per-source done when no pending pages remain (no_links),
two consecutive listing pages yield no new offer URLs (no_new, A5 —
morizon.py:703-709), or max_pages (L2). A global offer limit (ST3) brakes the
whole crawl. Hard-failed regions stay not-done and re-enter via
``retry_failed()`` (ST5); Retry-After rows re-enter IN-RUN via ``retry_at``
(ST8, http.py:69-76).

Resume (ST4): CrawlEngine.resume() rebuilds the working set + counters
from the run directory with AGGREGATIONS ONLY — frontier *rows* are
never collected to the driver at any point in the engine's lifecycle.

Scale discipline (the parts that must survive 10^10 frontier rows):
- **No O(frontier) driver transfer.** Driver-side state is counters, the
  per-source pending listing-page sets (bounded by pagination depth — the
  same metadata the reference keeps as ``last_page_done``), and, once
  something reads it, the prefilter (Bloom bitmaps or cuckoo tables,
  ~KB/shard). Every collect() in this file is an aggregate or a
  metadata-scale set, never frontier rows.
- **O(batch) table writes per round.** The durable frontier is a sequence of
  delta snapshots: `insert` deltas (new URLs) and `update` deltas (status
  transitions, full rows). ``frontier()`` reconciles latest-wins with a
  window over commit order — the sandbox stand-in for Iceberg MERGE INTO —
  and ``run()`` compacts to a single snapshot at checkpoint granularity.
- **The working set is a cached DataFrame**, rebuilt per round as
  (ineligible leftover ∪ transient re-enqueues ∪ new rows) — all O(batch)
  unions, localCheckpoint()ed so the plan never grows with round count.
- **The seen set is a BUCKETED table** (crawl/seenstore.py): the per-round
  anti-join needs no exchange or sort on the seen side (only the small
  candidate batch shuffles), and compaction every K appends keeps the file
  count O(K), never O(rounds). Every candidate takes this exact check;
  nothing is collected.
- **Only the fused fetch+parse runs on Python workers.** On this PySpark
  4.1.2 / CPython 3.11 stack a Python task costs ~0.2 CPU-s of worker set-up
  on its own, whatever its row count, so round bookkeeping stays in the
  JVM: the round's counters come back from one count aggregate over the
  insert delta.
- **The prefilter is a view of the seen store.** ``self.bloom`` (Bloom or
  cuckoo) is built from the store the first time something reads it and
  dropped whenever the store grows; nothing per round feeds it and nothing
  snapshots it. The round loop never consults it, because the anti-join
  hashes every seen bucket either way; ``evict_seen`` keeps a live one
  correct across its delete.

One round schedule, the same on every master: the summary aggregation
runs first and materializes the fused cache, so the output jobs (staged,
insert, update, then the seen append and new-row counters over the insert
delta) overlap on one round pool over warm blocks and never recompute the
Python stage; all of them are joined before ``checkpoint.json`` is written,
so a checkpointed round never names offers that are not yet on disk.

Finalize runs the way the rounds do: AQE stays off for all of ``run()``, and
the five finalize writes (metrics, frontier compaction, curated offers,
photos and quarantine) share one pool, each under its own phase tag, so
every Spark job of a crawl carries a tag. Every table read takes its schema
from the table's manifest (sources/tables.py), so no job infers one.

The driver-side loop is the one intentionally imperative piece (the crawl is
inherently iterative — same as the reference's `while True` pagination,
otodom.py:484-617); every step inside a round is a declarative DataFrame op.
"""

from __future__ import annotations

import os
import time
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from realestate_scraper_spark.crawl import fetch as fetch_mod
from realestate_scraper_spark.crawl import frontier as frontier_mod
from realestate_scraper_spark.crawl import parse as parse_mod
from realestate_scraper_spark.crawl import refine as refine_mod
from realestate_scraper_spark.crawl.bloom import ShardedBloom
from realestate_scraper_spark.crawl.seenstore import BucketedSeenStore
from realestate_scraper_spark.functions.codegen import ref_lit
from realestate_scraper_spark.functions.urlnorm import (
    domain_salt,
    url_hash32,
    url_hash64,
)
from realestate_scraper_spark.schemas import (
    FRONTIER_SCHEMA,
    METRICS_SCHEMA,
    STATUS_DONE,
    STATUS_FAILED,
    STATUS_MISSING,
    STATUS_PENDING,
    STATUS_ROBOTS,
)
from realestate_scraper_spark.session import local_df
from realestate_scraper_spark.sources.tables import ParquetTable, _rows_from_footers

FRONTIER_COLS = [f.name for f in FRONTIER_SCHEMA.fields]
# manifest stages whose snapshots INTRODUCE urls (the seen set); update /
# retry / refresh deltas only re-state already-seen urls
_SEEN_STAGES = {"seed", "insert", "compact"}


def _rows_under(path: str) -> int:
    return _rows_from_footers(path) if os.path.isdir(path) else 0


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        run_dir: str,
        graph_rows: list[dict],
        *,
        n_salts: int | None = None,
        max_pages: int | None = None,
        offer_limit: int | None = None,
        photo_limit: int | None = None,
        no_new_stop: int = 2,
        real_sleep: bool = False,
        bloom_fpp: float = 0.01,
        append_coalesce: int | str = "auto",
        robots_rules: dict | None = None,
        max_transient_attempts: int = 3,
        lookahead: int = 0,
        seen_buckets: int | None = None,
        seen_compact_every: int = 8,
        geocode_dim: "DataFrame | None" = None,
        prefilter: str = "bloom",
        prefilter_expected_per_shard: int | None = None,
    ):
        self.spark = spark
        self.run_dir = run_dir
        # opt-in instrumentation: a LongAccumulator counting fused-stage
        # partition computes (duplicate-compute probe; see fetch_parse)
        self.parse_computes_acc = None
        # Widths scale with the session's parallelism by default (the r3
        # scale finding: fixed constants capped the in-loop data plane at
        # 4-8 tasks regardless of core count). Callers pin explicit values
        # for toy-scale runs / reference-equivalence tests.
        dp = spark.sparkContext.defaultParallelism
        # salt KEYS ≈ 4× partitions: balls-into-bins at keys == partitions
        # leaves ~1/3 of partitions empty; politeness divides each domain's
        # budget by the salt count, so the aggregate per-domain rate is
        # invariant in n_salts and the knob is free to scale.
        self.n_salts = n_salts if n_salts is not None else max(4, 4 * dp)
        self.max_pages = max_pages
        self.offer_limit = offer_limit
        self.photo_limit = photo_limit
        self.no_new_stop = no_new_stop
        self.real_sleep = real_sleep
        self.bloom_fpp = bloom_fpp
        # per-round append width: "auto" follows the executor pool so the
        # staged/insert/update write stages scale with the cluster (file
        # count stays bounded by run-end compaction).
        self.append_coalesce = (
            max(4, dp) if append_coalesce == "auto" else append_coalesce
        )
        # domain → RobotsRules; when set, robots gating runs as a pure
        # expression BEFORE any politeness budget is spent (crawl/politeness)
        self.robots_rules = robots_rules
        # ST8: Retry-After rows re-enter until this many attempts burn out
        self.max_transient_attempts = max_transient_attempts
        # J8 OSM streetwise memo (city, street, dim_lat, dim_lon): when set,
        # the refine stage applies the _snap_geo_if_far override
        # (morizon.py:472-487) via a broadcast join before the completeness
        # gate; None = page geo stands (use_osm_geocode=False).
        self.geocode_dim = geocode_dim
        # Pagination lookahead (opt-in): each fetched listing page N also
        # enqueues speculative pages N+1..N+lookahead by bumping the page
        # param — rounds ≈ depth/lookahead instead of ≈ depth. Beyond-end
        # pages come back MISSING and are treated as end-of-pagination
        # (portals 404 past the last page), never as fetch_fail. Default 0:
        # lookahead preserves the canonical URL-seen set and every parsed
        # field, but may (a) fetch pages past a no_new stop the strictly
        # sequential reference would never reach, and (b) record the OTHER
        # spelling of a canonically-equal duplicate (relist) when rounds
        # interleave — so the strict reference-equivalence mode keeps it off.
        self.lookahead = lookahead

        os.makedirs(run_dir, exist_ok=True)
        self.t_frontier = ParquetTable(run_dir, "frontier")
        # raw zone: one staged append per round (refined parse output,
        # partitioned by validity so counts come from parquet footers);
        # curated offers/photos/quarantine are views over it, durably
        # materialized once per run by _finalize().
        self.t_staged = ParquetTable(run_dir, "staged")
        self.t_offers = ParquetTable(run_dir, "offers")
        self.t_photos = ParquetTable(run_dir, "photos")
        self.t_quarantine = ParquetTable(run_dir, "quarantine")
        self.t_metrics = ParquetTable(run_dir, "metrics")
        # Bucketed URL-seen store: no seen-side exchange in the per-round
        # anti-join; file count bounded by periodic compaction. The bucket
        # count is a one-time table choice — default it to ≥2× the session
        # parallelism (rounded to a power of two) so the seen-side scan and
        # compaction stay task-parallel at this cluster size; production:
        # buckets sized to frontier/target-file-size (e.g. 4096 at 10^10
        # URLs). A store that already exists on disk keeps its persisted
        # bucket count (seenstore meta) regardless of this default.
        if seen_buckets is None:
            seen_buckets = 1 << max(3, (2 * dp - 1).bit_length())
        self.seen_store = BucketedSeenStore(
            spark,
            run_dir,
            n_buckets=seen_buckets,
            compact_every=seen_compact_every,
        )
        # checkpoint state is tiny driver state → atomic JSON, exactly the
        # reference's *_state.json pattern (cli.py:128-139)
        self.checkpoint_path = os.path.join(run_dir, "checkpoint.json")

        self.page_store_bc = spark.sparkContext.broadcast(
            fetch_mod.build_page_store(graph_rows)
        )
        # URL-seen prefilter: "bloom" (default) or "cuckoo" — the deletable
        # variant (crawl/cuckoo.ShardedCuckoo, duck-type identical) that the
        # evict_seen() re-crawl-after-TTL path needs.
        if prefilter == "cuckoo":
            from realestate_scraper_spark.crawl.cuckoo import ShardedCuckoo

            self._pf_cls = ShardedCuckoo
        else:
            self._pf_cls = ShardedBloom
        # Shard capacity knob: cuckoo shards RAISE (never silently drop a
        # fingerprint → false negative → duplicate fetch) when a shard
        # outgrows this; size it above the expected per-(domain#salt) URL
        # volume. Default 2^16 suits the sandbox corpora; production sizes
        # it to frontier/(domains×salts).
        self._pf_kw = {"fpp": bloom_fpp}
        if prefilter_expected_per_shard is not None:
            self._pf_kw["expected_per_shard"] = prefilter_expected_per_shard
        # built from the seen store on first read of ``bloom``; None again
        # whenever the store grows (seed, every round's seen append)
        self._bloom = None
        # populated by evict_seen(): {"evicted", "affected_shards",
        # "rebuilt_rows"} — the O(affected shards) rebuild evidence (tests +
        # eviction bench read it)
        self.last_evict_stats: dict | None = None
        # cached PENDING working set (full frontier-schema rows); None until
        # seed()/resume(). Rebuilt per round from O(batch) unions; lineage
        # cut (localCheckpoint) every few rounds.
        self._pending: DataFrame | None = None
        self._rounds_since_cut = 0
        # per-source streak of consecutive listing pages with zero new offers
        self._no_new_streak: dict[str, int] = {}
        self._stopped: dict[str, str] = {}  # source → stop_reason
        self._sources: set[str] = set()
        self._offers_total = 0
        self.round_idx = 0
        # Driver-tracked frontier progress (metadata-scale only: page-number
        # sets bounded by pagination depth + per-source row COUNTS):
        self._pending_listing_pages: dict[str, set[int]] = {}
        self._pending_offers: dict[str, int] = {}
        self._last_page_done: dict[str, int] = {}
        self._had_fetch_fail: dict[str, bool] = {}  # listing-page failures
        self._metrics_buf: list[tuple] = []
        # ST7 cross-round politeness continuity: per-domain_salt high-water
        # mark of consumed virtual ms (≤ domains×salts entries — metadata
        # scale), seeding the next round's token buckets; plus the run's
        # wall anchor for real_sleep mode. A NEW RUN starts a fresh clock —
        # same as the reference's process-lifetime limiter (http.py:13-21).
        self._salt_clock: dict[str, float] = {}
        self._wall_t0: float | None = None
        # cumulative driver wall per phase across the run (always on: two
        # time.monotonic() calls per phase); scaling_bench joins it with jobs
        self.phase_times: dict[str, float] = defaultdict(float)

    @contextmanager
    def _phase(self, name: str):
        # tag every job submitted from this (thread, phase) with the phase
        # name — thread-local, so the overlapped pool threads each label
        # their own jobs and Spark's status store maps every job to a phase
        sc = self.spark.sparkContext
        prev = sc.getLocalProperty("spark.job.description")
        sc.setLocalProperty("spark.job.description", name)
        t0 = time.monotonic()
        try:
            yield
        finally:
            self.phase_times[name] += time.monotonic() - t0
            sc.setLocalProperty("spark.job.description", prev)

    def _tagged(self, name: str, fn, *args, **kwargs):
        """Run ``fn`` under a phase tag on the CALLING thread — the pool
        helper for jobs submitted off worker threads, where the main
        thread's thread-local description is invisible."""
        with self._phase(name):
            return fn(*args, **kwargs)

    # ----------------------------------------------------------- prefilter
    @property
    def bloom(self):
        """The URL-seen prefilter (Bloom or cuckoo): a view of the seen
        store, built the first time it is read after the store last grew.
        The round loop never reads it (the exact anti-join hashes every seen
        bucket either way), so a crawl that nobody probes never builds it."""
        if self._bloom is None:
            with self._phase("bloom_build"):
                self._bloom = self._pf_cls.build(
                    self._seen_keyed(), **self._pf_kw
                )
        return self._bloom

    def _seen_keyed(self) -> DataFrame:
        """The seen store under the prefilter's keys — the same
        (domain_salt, url_hash64) the frontier rows carry, derived from
        url_canon."""
        return self._seen().select(
            domain_salt(F.col("url_canon"), self.n_salts).alias("domain_salt"),
            url_hash64(F.col("url_canon")).alias("url_hash64"),
        )

    # ------------------------------------------------------------- seeding
    def seed(self, seeds: list[tuple[str, str]]) -> None:
        if self.robots_rules is None:
            self._bootstrap_robots(seeds)
        df = frontier_mod.seed_frontier(self.spark, seeds, self.n_salts)
        frontier_mod.assert_frontier_schema(df)
        # The seed frame is a driver-local literal, so the three output
        # steps below — durable seed snapshot, bucketed seen store, and the
        # metadata-scale counter aggregate — share no data dependency and
        # run as concurrent jobs (each recomputes the trivial local plan).
        # The serialized form paid ~1 s of first-job latency per step on a
        # fresh session.
        self.seen_store.reset()
        self._bloom = None
        with ThreadPoolExecutor(max_workers=2) as pool:
            w_fut = pool.submit(
                self._tagged,
                "seed_snapshot",
                self.t_frontier.overwrite,
                df.coalesce(1),
                round_idx=0,
                stage="seed",
            )
            s_fut = pool.submit(
                self._tagged, "seed_seen", self.seen_store.append, df
            )
            with self._phase("seed_bootstrap"):
                self._track_new_agg(self._new_rows_agg(df))
            w_fut.result()
            s_fut.result()
        # the durable snapshot (not the driver literal) roots the working
        # set, so it stays lazily recomputable from disk; a disk-rooted scan
        # needs no checkpoint job
        self._pending = self.t_frontier.read(self.spark)
        self._write_checkpoint()

    def _bootstrap_robots(self, seeds: list[tuple[str, str]]) -> None:
        """Fetch + parse each seed domain's /robots.txt from the page store
        before the first crawl round (the standard pre-crawl handshake; the
        reference never does this — robots handling is a north_rule add)."""
        from urllib.parse import urlsplit

        from realestate_scraper_spark.crawl.politeness import parse_robots_txt

        store = self.page_store_bc.value
        rules = {}
        for _source, url in seeds:
            domain = urlsplit(url).netloc
            if domain in rules:
                continue
            rec = store.get(f"https://{domain}/robots.txt")
            if rec is not None:
                rules[domain] = parse_robots_txt(domain, rec[0])
        if rules:
            self.robots_rules = rules

    # -------------------------------------------------------------- resume
    @classmethod
    def resume(cls, spark: SparkSession, run_dir: str, graph_rows: list[dict], **kw):
        """ST4: rebuild working set + counters from the run dir. Aggregations
        and metadata-scale collects only — never frontier rows."""
        import json

        eng = cls(spark, run_dir, graph_rows, **kw)
        if os.path.exists(eng.checkpoint_path):
            with open(eng.checkpoint_path) as f:
                state = json.load(f)
            for src, v in state.items():
                eng._sources.add(src)
                eng.round_idx = max(eng.round_idx, v["round"])
                if v["done"] and v["stop_reason"] not in (None, "no_links"):
                    eng._stopped[src] = v["stop_reason"]
                if v["stop_reason"] == "fetch_fail":
                    # a checkpointed fetch_fail region must NOT flip to
                    # done/no_links just because its pending set drained —
                    # it re-enters via retry_failed() (ST5; ADVICE r1)
                    eng._had_fetch_fail[src] = True
                eng._offers_total = max(
                    eng._offers_total, v["processed_offers_last_run"]
                )
        fr = eng.frontier()
        if fr is not None:
            fr = fr.localCheckpoint()  # materialize the reconciliation once
            eng._pending = fr.filter(
                F.col("status") == STATUS_PENDING
            ).localCheckpoint()
            # per-(source, kind, status) counters in ONE aggregation
            for r in (
                fr.groupBy("source", "kind", "status")
                .agg(F.count("*").alias("n"), F.max("page_idx").alias("max_page"))
                .collect()
            ):
                eng._sources.add(r["source"])
                if r["kind"] == "listing" and r["status"] == STATUS_DONE:
                    eng._last_page_done[r["source"]] = max(
                        eng._last_page_done.get(r["source"], 0), r["max_page"]
                    )
                elif r["kind"] != "listing" and r["status"] == STATUS_PENDING:
                    eng._pending_offers[r["source"]] = (
                        eng._pending_offers.get(r["source"], 0) + r["n"]
                    )
            # pending listing PAGE NUMBERS: bounded by pagination depth — the
            # same metadata scale as the reference's last_page_done cursor
            for r in (
                fr.filter(
                    (F.col("status") == STATUS_PENDING)
                    & (F.col("kind") == "listing")
                )
                .select("source", "page_idx")
                .distinct()
                .collect()
            ):
                eng._pending_listing_pages.setdefault(r["source"], set()).add(
                    r["page_idx"]
                )
        return eng

    # ---------------------------------------------------------- round loop
    def run(self, max_rounds: int = 1000) -> dict:
        stats = {"rounds": 0, "pages_fetched": 0, "offers_parsed": 0}
        # AQE OFF for all of run(), rounds and finalize: every exchange is
        # explicitly sized or alignment-pinned — the politeness repartition
        # is count-pinned, the insert exchange is pinned to the seen store's
        # bucket count (an alignment AQE must not change), the appends are
        # explicit repartitions, and skew is handled by domain salting — so
        # adaptive re-planning has nothing to decide, but it materializes
        # every query stage as its OWN job with a driver re-plan between
        # (the r7 event logs read 3-4 jobs per in-round write), submitted
        # from AQE's own futures, which carry no phase tag. Measured on the
        # bench crawl: 18.1 → 15.8 s for the loop; with finalize too, 55 →
        # 31 jobs per crawl, none untagged.
        conf = self.spark.conf
        prev_aqe = conf.get("spark.sql.adaptive.enabled")
        conf.set("spark.sql.adaptive.enabled", "false")
        try:
            for _ in range(max_rounds):
                progressed, fetched_n, offers_n = self._one_round()
                stats["offers_parsed"] += offers_n
                if not progressed:
                    break
                stats["rounds"] += 1
                stats["pages_fetched"] += fetched_n
                if self.offer_limit and self._offers_total >= self.offer_limit:
                    for src in self._sources:
                        self._stopped.setdefault(src, "offer_limit")
                    self._write_checkpoint()
                    break
            with self._phase("run_finalize"):
                self._finalize()
        finally:
            conf.set("spark.sql.adaptive.enabled", prev_aqe)
        return stats

    def _finalize(self) -> None:
        """The run's five writes, to DISJOINT tables — metrics, the
        compacted frontier, and the curated offers/photos/quarantine views
        of the raw staged zone (the reference's batched flush, O4, at run
        granularity) — submitted to one pool, so the executor pool schedules
        them together (the in-round output jobs' overlap rationale). Each is
        tagged on its OWN pool thread: _phase is thread-local, so the tag
        set on the main thread does not reach jobs submitted from a
        worker."""
        legs = [
            ("finalize_metrics", self._flush_metrics),
            ("finalize_compact", self._compact_frontier),
            ("finalize_offers", self._write_curated, self.t_offers, self.offers),
            ("finalize_photos", self._write_curated, self.t_photos, self.photos),
            ("finalize_quarantine", self._write_curated, self.t_quarantine,
             self.quarantine),
        ]
        with ThreadPoolExecutor(max_workers=len(legs)) as pool:
            futs = [pool.submit(self._tagged, *leg) for leg in legs]
            for f in futs:
                f.result()

    def _write_curated(self, table: ParquetTable, view) -> None:
        df = view()
        if df is not None:
            table.overwrite(
                self._coalesced(df), round_idx=self.round_idx, stage="curated"
            )

    def _flush_metrics(self) -> None:
        if not self._metrics_buf:
            return
        self.t_metrics.append(
            local_df(self.spark, self._metrics_buf, METRICS_SCHEMA),
            round_idx=self.round_idx,
            stage="metrics",
        )
        self._metrics_buf = []

    def _compact_frontier(self) -> None:
        """Collapse the delta history into one snapshot (checkpoint-time
        compaction: O(frontier) I/O once per RUN, never per round)."""
        if len(self.t_frontier.snapshot_paths()) <= 1:
            return
        fr = self.frontier()
        if fr is not None:
            self.t_frontier.overwrite(
                self._coalesced(fr.select(*FRONTIER_COLS)),
                round_idx=self.round_idx,
                stage="compact",
            )
            # the lazy working set referenced the just-deleted delta files —
            # rebase it onto the compacted snapshot (disk-backed, no job)
            self._pending = self.t_frontier.read(self.spark).filter(
                F.col("status") == STATUS_PENDING
            )
            self._rounds_since_cut = 0

    def retry_failed(self) -> int:
        """ST5 retry rounds: re-enqueue FAILED rows as PENDING with
        attempts+1 — the reference's 'retry only fetch_fail regions' loop
        (cli.py:731-816) at URL granularity. Robots-blocked rows carry
        STATUS_ROBOTS and 404s STATUS_MISSING — both terminal, never
        re-enqueued (they can only re-fail / re-miss).
        Written as an O(failed) update delta; returns the re-enqueued count.
        """
        n = self._requeue(F.col("status") == STATUS_FAILED, "retry_reset")
        if n == 0:
            return 0
        # failed sources get another chance at their stop state
        self._stopped = {
            k: v for k, v in self._stopped.items() if v in ("no_new", "offer_limit")
        }
        self._no_new_streak.clear()
        self._had_fetch_fail.clear()
        return n

    def evict_seen(self, ttl_rounds: int) -> int:
        """Re-crawl-after-TTL (frontier eviction): forget DONE offer URLs
        whose last status round is older than ``ttl_rounds``, so the next
        listing sweep that links them re-admits them through the anti-join
        as fresh PENDING rows. (The reference achieves re-crawls only by
        starting a whole run over a fresh DedupeSet, cli.py:128-139; here
        the eviction is surgical and the rest of the seen set keeps
        protecting the crawl — the 10^10-frontier need named in SURVEY §7.4.)

        Deletes from the durable bucketed store (bucket-parallel broadcast
        anti-join rewrite, crash-atomic). A prefilter that was never built
        needs nothing: its first read builds from the post-delete store. A
        live one is kept correct: a cuckoo prefilter (``prefilter="cuckoo"``)
        vector-deletes fingerprints in place, distributed per shard — the
        reason it exists (north_rule "cuckoo-filter fallback for deletable
        entries"); a Bloom prefilter cannot delete and is rebuilt
        SHARD-LOCALLY from the post-delete store — only the (domain#salt)
        shards that actually lost keys are re-keyed and re-built,
        O(affected shards), not O(seen set).

        Exact-delete handshake: only keys the durable store ACTUALLY held
        (semi-join against the bucketed scan, computed BEFORE the delete)
        reach the prefilter delete — a repeated eviction over the same TTL
        window can therefore never decrement a cuckoo refcount it did not
        increment (the false-negative-by-double-delete path). Returns the
        evicted row count; per-eviction evidence lands in
        ``self.last_evict_stats``."""
        fr = self.frontier()
        if fr is None:
            return 0
        # read BEFORE the delete: building after it and then deleting would
        # decrement cuckoo refcounts that colliding kept keys own
        live = self._bloom
        evict = fr.filter(
            (F.col("kind") == "offer")
            & (F.col("status") == STATUS_DONE)
            & (F.col("round") <= F.lit(self.round_idx - ttl_rounds))
        ).select("url_canon", "url_hash64", "domain_salt")
        # keys actually present in the store (the frontier may hold DONE
        # rows whose URL an earlier eviction already forgot) — shuffle-hash
        # semi against the bucketed scan: no sort, no store-side broadcast
        present = evict.join(
            self.seen_store.df().hint("shuffle_hash"), "url_canon", "left_semi"
        ).localCheckpoint()
        with self._phase("evict_store"):
            n = self.seen_store.delete(present)
        if n == 0:
            self.last_evict_stats = {
                "evicted": 0, "affected_shards": 0, "rebuilt_rows": 0,
            }
            return 0
        # O(shards) metadata collect — which (domain#salt) shards lost keys
        salts = [
            r[0] for r in present.select("domain_salt").distinct().collect()
        ]
        rebuilt_rows = 0
        if live is None:
            pass  # nothing to maintain: the first read builds post-delete
        elif hasattr(live, "delete_df"):
            # affected-shards list bounds the broadcast to the shards that
            # actually lost keys — O(affected), never O(total filter)
            with self._phase("evict_prefilter"):
                live.delete_df(present, shard_keys=salts)
        else:
            # shard-local rebuild: re-key + re-build ONLY the shards that
            # lost keys; untouched shards keep their bitmaps as-is
            with self._phase("evict_prefilter"):
                keyed = (
                    self._seen_keyed()
                    .filter(F.col("domain_salt").isin(salts))
                    .localCheckpoint()
                )
                rebuilt_rows = keyed.count()
                partial = self._pf_cls.build(keyed, **self._pf_kw)
                for s in salts:
                    if s in partial.shards:
                        live.shards[s] = partial.shards[s]
                    else:
                        # every key of the shard was evicted — absent shard
                        # reads definitely-new, exactly right
                        live.shards.pop(s, None)
        self.last_evict_stats = {
            "evicted": n,
            "affected_shards": len(salts),
            "rebuilt_rows": rebuilt_rows,
        }
        return n

    def refresh_offers(self) -> int:
        """Re-enqueue DONE offer pages for a refresh pass (the reference's
        repeated `detail` runs over an existing urls.csv re-parse every URL;
        first_seen/last_seen split on the merge, detail.py:83,89-90).
        attempts bumps so flaky pages don't re-fail. O(done-offers) delta."""
        n = self._requeue(
            (F.col("status") == STATUS_DONE) & (F.col("kind") == "offer"),
            "refresh_reset",
        )
        if n == 0:
            return 0
        self._stopped = {
            k: v for k, v in self._stopped.items() if v == "offer_limit"
        }
        self._no_new_streak.clear()
        return n

    def _requeue(self, which, stage: str) -> int:
        """Re-enqueue the reconciled frontier rows matching ``which`` as
        PENDING with attempts+1: one O(matched) update delta, read back into
        the driver counters and the working set. Returns the row count."""
        fr = self.frontier()
        if fr is None:
            return 0
        reset = fr.filter(which).withColumns({
            "attempts": F.col("attempts") + 1,
            "status": F.lit(STATUS_PENDING),
            "round": F.lit(self.round_idx),
            "retry_at": F.lit(None).cast("double"),
        })
        n, path = self.t_frontier.append_with_path(
            self._coalesced(reset.select(*FRONTIER_COLS)),
            round_idx=self.round_idx,
            stage=stage,
        )
        if n == 0:
            return 0
        requeued = self.t_frontier.read_snapshot(self.spark, path)
        self._track_new_agg(self._new_rows_agg(requeued))
        self._pending = (
            requeued
            if self._pending is None
            else self._pending.unionByName(requeued)
        ).localCheckpoint()
        return n

    def _coalesced(self, df: DataFrame) -> DataFrame:
        """Bound the file count of small per-round appends WITHOUT collapsing
        the compute stage above the write: ``coalesce`` propagates upstream
        (the fused fetch+parse would run at the coalesced width — the
        same failure mode as r2's AQE exchange collapse, self-inflicted),
        so this is a ``repartition`` exchange barrier. The shuffled rows are
        post-parse (no html payload), so the exchange is metadata-cheap;
        upstream keeps full parallelism, the write emits N files."""
        return df.repartition(self.append_coalesce)

    def _eligible_pending_total(self) -> int:
        return sum(
            self._n_pending(src)
            for src in self._sources
            if src not in self._stopped
        )

    def _one_round(self) -> tuple[bool, int, int]:
        t_start = time.monotonic()
        self.round_idx += 1
        if self._pending is None or self._eligible_pending_total() == 0:
            self._finalize_done()
            return False, 0, 0

        # Eligibility is a pure filter over the cached working set: ALL known
        # pending listing pages drain together (rounds ≪ O(frontier); order
        # is a RECORDED key, not an execution order), offers drain always,
        # Retry-After holds wait for their round (ST8).
        eligible = F.col("retry_at").isNull() | (
            F.col("retry_at") <= F.lit(float(self.round_idx))
        )
        if self.max_pages is not None:
            eligible = eligible & (
                (F.col("kind") != "listing")
                | (F.col("page_idx") <= self.max_pages)
            )
        if self._stopped:
            eligible = eligible & ~F.col("source").isin(list(self._stopped))
        batch = self._pending.filter(eligible)
        leftover = self._pending.filter(~eligible)

        # robots gating runs INSIDE the fetch stage over the once-per-engine
        # broadcast rules (zero extra plan stages; blocked rows surface as
        # FETCH_ROBOTS and spend no budget).
        if self.real_sleep and self._wall_t0 is None:
            self._wall_t0 = time.time()
        with self._phase("fetch_plan"):
            # FUSED fetch+parse (fetch.make_fetch_parse_stage): the page
            # html is built, link-extracted and field-parsed inside ONE
            # python pass and never crosses the stage boundary — the round
            # caches only structured rows (page bookkeeping + links + raw
            # offer fields), not a multi-GB html corpus. This was the
            # measured in-loop scale limiter after the write widths were
            # parallelism-derived.
            fetched = fetch_mod.fetch_parse(
                batch, self.page_store_bc, self.n_salts,
                real_sleep=self.real_sleep,
                robots_rules_bc=self._robots_bc(),
                start_offsets=dict(self._salt_clock),
                t0_wall=self._wall_t0,
                # opt-in probe (benches/tests): counts fused-stage partition
                # COMPUTES; == n_partitions iff the cache was shared
                computes_acc=self.parse_computes_acc,
            ).cache()
            pages = fetched.filter(F.col("row_kind") == "page")

        # ---- ACTION 1: fetch summary (batch size, lineage counters, status
        #      mix, per-page yield accounting, politeness high-water marks)
        #      in one aggregation. It runs BEFORE any output job is
        #      submitted: its one narrow pass materializes the fused cache,
        #      so the output jobs below read warm blocks on every master.
        #      Output jobs racing over an uncached partition are
        #      compute-once only inside one JVM (the BlockManager's
        #      get-or-compute lock is executor-local); on a multi-executor
        #      master they re-ran the fused python parse up to
        #      min(racers, executors) times (tests/test_cache_race.py).
        with self._phase("fetch_summary"):
            summary = self._collect_fetch_summary(pages)
        batch_n = sum(r["n"] for r in summary)
        # defensive backstop: an empty batch normally never reaches here
        # (the round-start eligible-counter check returns first)
        if batch_n == 0:
            fetched.unpersist()
            self._finalize_done()
            return False, 0, 0
        # advance the cross-round politeness clock (ST7); rows that spent
        # no budget (robots/missing) record -1 and are ignored
        for r in summary:
            if r["max_at"] is not None and r["max_at"] >= 0:
                k = r["domain_salt"]
                if r["max_at"] > self._salt_clock.get(k, -1.0):
                    self._salt_clock[k] = r["max_at"]
        self._sources.update(r["source"] for r in summary)
        self._track_fetched(summary)
        # listing pages whose fetch RESOLVED this round (not re-enqueued) —
        # the per-source page count feeding A5
        listing_pages_fetched: dict[str, set[int]] = defaultdict(set)
        for r in summary:
            if (
                r["kind"] == "listing"
                and not r["requeue"]  # re-enters PENDING (ST8)
                # MISSING = beyond-end-of-pagination (404 past the last
                # page): no content was observed, so it neither feeds the
                # A5 no-new streak nor counts as content
                and r["fetch_status"] != fetch_mod.FETCH_MISSING
            ):
                listing_pages_fetched[r["source"]].add(r["page_key"])

        # ---- link rows (already extracted inside the fused stage) → new
        #      frontier candidates; url/slot/kind on a link row are the
        #      PARENT page's
        links = fetched.filter(F.col("row_kind") == "link").select(
            "source",
            "page_idx",
            F.col("url").alias("parent_url"),
            F.col("slot").alias("parent_slot"),
            F.col("kind").alias("parent_kind"),
            "dom_idx",
            "href",
        )
        if self.lookahead:
            # speculative page-param bumps; a real next-page link discovered
            # on page N canonicalizes identically to the N+1 speculation, so
            # the in-batch window + anti-join collapse them to one row
            ok_listings = pages.filter(
                (F.col("kind") == "listing")
                & (F.col("fetch_status") == fetch_mod.FETCH_OK)
            )
            deltas = F.array(*[F.lit(i) for i in range(1, self.lookahead + 1)])
            look = (
                ok_listings.select("source", "url", "page_idx")
                .withColumn("_d", F.explode(deltas))
                .select(
                    "source",
                    (F.col("page_idx") + F.col("_d")).alias("page_idx"),
                    F.col("url").alias("parent_url"),
                    F.lit(0).alias("parent_slot"),
                    F.lit("listing").alias("parent_kind"),
                    # huge dom_idx: if the REAL next link coexists in the
                    # batch, the order-preserving dedup keeps its slot
                    (F.lit(1_000_000) + F.col("_d")).cast("int").alias("dom_idx"),
                    F.regexp_replace(
                        F.col("url"),
                        r"((?:page|strona)=)\d+",
                        F.concat(
                            F.lit("$1"),
                            (F.col("page_idx") + F.col("_d")).cast("string"),
                        ),
                    ).alias("href"),
                )
            )
            links = links.unionByName(look)
        with self._phase("links_plan"):
            # Single-shuffle, SINGLE-BRANCH insert path: classify exprs →
            # ONE exchange on url_canon aligned to the seen store's bucket
            # count → dedup agg (SO5) → LeftAnti against the bucketed seen
            # scan (shuffle-hash, so the seen side is neither sorted nor
            # broadcast) → direct write at the join's partitioning. Every
            # candidate takes the exact check: the join's build side hashes
            # every seen bucket either way, so a prefilter verdict here
            # would save no read and no hash build, only add an Arrow UDF
            # stage of Python tasks to every round.
            candidates = frontier_mod.classify_and_key_links(
                links, self.n_salts,
                dedup_partitions=self.seen_store.n_buckets,
            )
            fresh = frontier_mod.anti_join_seen(candidates, self._seen())

        # ---- ACTION 2: insert delta (O(new rows)) + update delta (status
        # transitions for this round's batch). The two appends touch
        # DISJOINT keys — a URL discovered this round is never fetched this
        # round (its fetch happens a later round), and every fetched URL is
        # already seen so the anti-join excludes it from inserts — so they
        # run as CONCURRENT jobs; the manifest commit is lock-serialized in
        # ParquetTable and each append reads back its OWN snapshot path.
        new_rows = frontier_mod.finish_new_rows(fresh, self.round_idx)
        with self._phase("updates_plan"):
            updates = self._status_updates(pages)

        def _ins() -> tuple[int, str]:
            with self._phase("insert_append"):
                return self.t_frontier.append_with_path(
                    new_rows.select(*FRONTIER_COLS),
                    round_idx=self.round_idx,
                    stage="insert",
                )

        def _upd() -> tuple[int, str]:
            # written straight off the fetched cache's partitions — a
            # narrow zero-shuffle job (run-end compaction bounds files)
            with self._phase("update_append"):
                return self.t_frontier.append_with_path(
                    updates.select(*FRONTIER_COLS),
                    round_idx=self.round_idx,
                    stage="update",
                )

        def _seen() -> None:
            # seen-store append: O(new URLs), bucketed (url_canon only)
            with self._phase("seen_append"):
                self.seen_store.append(new_df)

        def _deltas():
            # the new rows' driver counters: one JVM count aggregate
            with self._phase("insert_deltas"):
                return self._new_rows_agg(new_df)

        # ---- the round-output jobs overlap: staged ∥ insert ∥ update first,
        # then (seen table ∥ driver counters) over the insert delta while
        # the others may still be writing. ~3-5 s/round of serialized
        # small-job latency at depth-bench load becomes the max() of the
        # chains. Every job is joined before the checkpoint,
        # so a checkpointed round's offers are already durable.
        new_n = 0
        new_offer_counts: dict[str, int] = defaultdict(int)
        with ThreadPoolExecutor(max_workers=5) as pool:
            staged_fut = pool.submit(self._stage_offers, pages)
            ins_fut = pool.submit(_ins)
            upd_fut = pool.submit(_upd)
            ins_n, ins_path = ins_fut.result()
            new_df = (
                self.t_frontier.read_snapshot(self.spark, ins_path)
                if ins_n
                else None
            )
            if new_df is not None:
                seen_fut = pool.submit(_seen)
                deltas_fut = pool.submit(_deltas)
                seen_fut.result()
                self._bloom = None  # the seen store grew
                agg = deltas_fut.result()
                self._track_new_agg(agg)
                for r in agg:
                    new_n += r["n"]
                    if r["kind"] != "listing":  # offers + investments
                        new_offer_counts[r["source"]] += r["n"]
            upd_n, upd_path = upd_fut.result()
            with self._phase("staged_join"):
                offers_n = staged_fut.result()
        self._offers_total += offers_n

        # ---- next working set: O(batch) unions whose roots are all ON DISK
        # (previous checkpoint + this round's delta parquet), so the lazy
        # plan is recomputable without the unpersisted fetch; lineage is cut
        # every few rounds instead of paying a materialization job per round.
        nxt = leftover
        # only ST8 transient rows re-enter PENDING via the update delta;
        # when the round had none (the common case), skip the read-back —
        # it would add a dead parquet scan to the working-set plan per round
        requeue_n = sum(r["n"] for r in summary if r["requeue"])
        if upd_n and requeue_n:
            requeues = self.t_frontier.read_snapshot(self.spark, upd_path)
            nxt = nxt.unionByName(
                requeues.filter(F.col("status") == STATUS_PENDING)
            )
        if new_df is not None:
            nxt = nxt.unionByName(new_df.select(*FRONTIER_COLS))
        self._rounds_since_cut += 1
        if self._rounds_since_cut >= 4:
            prev = self._pending
            with self._phase("lineage_cut"):
                self._pending = nxt.select(*FRONTIER_COLS).localCheckpoint()
            self._rounds_since_cut = 0
            try:
                prev.unpersist()
            except Exception:
                pass
        else:
            self._pending = nxt.select(*FRONTIER_COLS)

        # ---- stop rules (A5 no-new streak): a source with k listing pages
        # resolved this round and zero new yield advances its streak by k
        # (identical to the reference's per-page rule at one page per round)
        for src, pages in listing_pages_fetched.items():
            if new_offer_counts.get(src, 0) == 0:
                streak = self._no_new_streak.get(src, 0) + len(pages)
                self._no_new_streak[src] = streak
                if streak >= self.no_new_stop:
                    self._stopped[src] = "no_new"
            else:
                self._no_new_streak[src] = 0

        # ---- metrics (per-partition lineage: per domain_salt counters)
        wall_ms = (time.monotonic() - t_start) * 1000
        per_part: dict[str, list[int]] = defaultdict(lambda: [0, 0, 0])
        for r in summary:
            acc = per_part[r["domain_salt"]]
            acc[0] += r["n"]
            if r["fetch_status"] == fetch_mod.FETCH_OK:
                acc[1] += r["n"]
            else:
                acc[2] += r["n"]
        self._metrics_buf.extend(
            [
                (self.round_idx, "fetch", i, salt, a[0], a[1], a[2], wall_ms)
                for i, (salt, a) in enumerate(sorted(per_part.items()))
            ]
            + [
                (self.round_idx, "discover", -1, None, batch_n, new_n, 0, wall_ms),
                (self.round_idx, "offers", -1, None, batch_n, offers_n, 0, wall_ms),
            ]
        )

        # checkpoint from driver-tracked progress — no read-back aggregation
        self._write_checkpoint()
        fetched.unpersist()
        return True, batch_n, offers_n

    def _stage_offers(self, pages: DataFrame) -> int:
        """Parsed offer rows (raw fields came out of the fused fetch+parse
        stage) → refine → one staged append; returns the round's
        valid-offer count (parquet footers, no extra job). Runs on a round
        pool thread — touches only t_staged and the fetched cache."""
        with self._phase("staged_plan"):
            parsed = pages.filter(
                (F.col("kind") == "offer")
                & (F.col("fetch_status") == fetch_mod.FETCH_OK)
            ).select(
                "url", "url_canon", "source", "page_idx", "slot", "sub_slot",
                *parse_mod.RAW_COL_NAMES,
            )
            if self.geocode_dim is not None:
                # broadcast streetwise memo join keyed on the PAGE's own
                # address fields — the same (street, city) query string the
                # reference sends to Nominatim (morizon.py:430-436)
                dim = self.geocode_dim.select(
                    F.col("city").alias("raw_city"),
                    F.col("street").alias("raw_street"),
                    "dim_lat",
                    "dim_lon",
                )
                parsed = parsed.join(
                    F.broadcast(dim), ["raw_city", "raw_street"], "left"
                )
            staged = (
                refine_mod.refined(parsed)
                .drop("dim_lat", "dim_lon")
                # ref_lit: this projection (the full refine expression map —
                # the largest codegen unit in the loop) is rebuilt every
                # round; an inlined round literal would force a multi-second
                # Janino recompile per round (functions/codegen.py)
                .withColumn("round", ref_lit(self.round_idx, "int"))
            )
        with self._phase("staged_append"):
            _, snap_path = self.t_staged.append_with_path(
                self._coalesced(staged),
                round_idx=self.round_idx,
                stage="staged",
                partition_by=["is_valid"],
            )
        return _rows_under(os.path.join(snap_path, "is_valid=true"))

    # ------------------------------------------------- round-loop helpers
    def _robots_bc(self):
        """Broadcast the robots rules once per engine (lazily — seed() may
        bootstrap them after __init__)."""
        if self.robots_rules is None:
            return None
        if getattr(self, "_robots_bc_cache", None) is None:
            self._robots_bc_cache = self.spark.sparkContext.broadcast(
                self.robots_rules
            )
        return self._robots_bc_cache

    def _seen(self) -> DataFrame:
        """The URL-seen set as a BUCKETED scan (url_canon only): the exact
        per-round dedup check (J4/O1) joins with no seen-side exchange (crawl/seenstore.py). Durable, partition-parallel, zero
        driver memory. On a pre-upgrade run dir (no bucketed store on disk)
        the store is rebuilt once from the frontier insert deltas."""
        if not self.seen_store.registered():
            self.seen_store.ensure_registered(
                rebuild_from=self._seen_delta_scan()
            )
        return self.seen_store.df()

    def _seen_delta_scan(self) -> DataFrame | None:
        """Fallback seen source: multi-snapshot scan of the frontier insert
        deltas — only used to (re)build the bucketed store."""
        paths = self.t_frontier.snapshot_paths(_SEEN_STAGES)
        if not paths:
            return None
        return self.spark.read.parquet(*paths).select("url_canon")

    def _collect_fetch_summary(self, pages: DataFrame) -> list:
        """One aggregation over the round's page rows → the driver's
        bookkeeping rows. Cardinality is structurally bounded: ``attempts``
        is collapsed into the boolean ST8 ``requeue`` verdict and
        ``page_idx`` is kept ONLY for listing rows (the same
        pagination-depth-bounded metadata the driver already tracks), so
        the collect is O(salts × statuses) for the offer bulk +
        O(pagination depth) for listings — never O(depth × salts ×
        attempts) at 10^10-frontier scale."""
        requeue_expr = (
            F.col("fetch_status") == fetch_mod.FETCH_TRANSIENT
        ) & (F.col("attempts") + 1 < self.max_transient_attempts)
        page_key = F.when(F.col("kind") == "listing", F.col("page_idx"))
        return (
            pages.groupBy(
                "source", "domain_salt", "kind", "fetch_status",
                requeue_expr.alias("requeue"),
                page_key.alias("page_key"),
            )
            .agg(
                F.count("*").alias("n"),
                F.max("fetched_at_ms").alias("max_at"),
            )
            .collect()
        )

    def _status_updates(self, fetched: DataFrame) -> DataFrame:
        """Fetched rows → full-schema frontier rows with their new status.

        OK → DONE; robots-blocked → ROBOTS (terminal, never retried);
        404/absent → MISSING (terminal too — benign end-of-pagination, a
        retry can only re-miss, ADVICE r2); Retry-After TRANSIENT → PENDING
        with retry_at = next round and attempts+1 until the in-run budget
        burns out (ST8, http.py:69-76); hard failures → FAILED (ST5)."""
        is_ok = F.col("fetch_status") == fetch_mod.FETCH_OK
        is_robots = F.col("fetch_status") == fetch_mod.FETCH_ROBOTS
        is_missing = F.col("fetch_status") == fetch_mod.FETCH_MISSING
        is_transient = F.col("fetch_status") == fetch_mod.FETCH_TRANSIENT
        requeue = is_transient & (
            F.col("attempts") + 1 < self.max_transient_attempts
        )
        return fetched.select(
            "url",
            "url_canon",
            url_hash32(F.col("url_canon")).alias("url_hash32"),
            "url_hash64",
            "source",
            "domain",
            "domain_salt",
            "kind",
            "page_idx",
            "slot",
            "sub_slot",
            F.lit(None).cast("string").alias("offer_id"),
            F.when(is_ok, STATUS_DONE)
            .when(is_robots, STATUS_ROBOTS)
            .when(is_missing, STATUS_MISSING)
            .when(requeue, STATUS_PENDING)
            .otherwise(STATUS_FAILED)
            .alias("status"),
            # ref_lit (not F.lit): the update projection is rebuilt per
            # round; inlined round literals would recompile its codegen
            # unit every round (functions/codegen.py)
            ref_lit(self.round_idx, "int").alias("round"),
            frontier_mod.priority_expr(F.col("page_idx"), F.col("kind")).alias(
                "priority"
            ),
            F.when(requeue, ref_lit(float(self.round_idx + 1), "double"))
            .otherwise(F.lit(None).cast("double"))
            .alias("retry_at"),
            F.when(is_transient, F.col("attempts") + 1)
            .otherwise(F.col("attempts"))
            .alias("attempts"),
        )

    @staticmethod
    def _new_rows_agg(df: DataFrame):
        """(source, kind, page_idx, n) — the metadata-scale aggregate that
        feeds driver counters in place of collecting rows."""
        return (
            df.groupBy("source", "kind", "page_idx")
            .agg(F.count("*").alias("n"))
            .collect()
        )

    # ------------------------------------------------------------ teardown
    def _finalize_done(self) -> None:
        for src in sorted(self._sources):
            if self._had_fetch_fail.get(src):
                continue  # retryable — stays not-done with fetch_fail (ST5)
            self._stopped.setdefault(src, "no_links")
        self._write_checkpoint()

    def _track_new_agg(self, agg_rows) -> None:
        for r in agg_rows:
            src = r["source"]
            self._sources.add(src)
            if r["kind"] == "listing":
                self._pending_listing_pages.setdefault(src, set()).add(
                    r["page_idx"]
                )
            else:
                self._pending_offers[src] = (
                    self._pending_offers.get(src, 0) + r["n"]
                )

    def _track_fetched(self, summary) -> None:
        for r in summary:
            src = r["source"]
            if r["requeue"]:
                continue  # stays pending under a Retry-After hold (ST8)
            if r["kind"] == "listing":
                self._pending_listing_pages.get(src, set()).discard(r["page_key"])
                if r["fetch_status"] == fetch_mod.FETCH_OK:
                    self._last_page_done[src] = max(
                        self._last_page_done.get(src, 0), r["page_key"]
                    )
                elif r["fetch_status"] not in (
                    fetch_mod.FETCH_ROBOTS,
                    fetch_mod.FETCH_MISSING,
                ):
                    # a listing page failed for real → the region ends as
                    # fetch_fail, NOT done/no_links (the reference retries
                    # exactly these regions next round, cli.py:799-806).
                    # Robots-blocked listings are a deliberate permanent
                    # skip; MISSING ones are beyond-end lookahead pages
                    # (404 past the last page = end of pagination, L2).
                    self._had_fetch_fail[src] = True
            else:
                self._pending_offers[src] = max(
                    0, self._pending_offers.get(src, 0) - r["n"]
                )

    def _n_pending(self, src: str) -> int:
        pages = self._pending_listing_pages.get(src, set())
        if self.max_pages is not None:
            pages = {p for p in pages if p <= self.max_pages}
        return len(pages) + self._pending_offers.get(src, 0)

    def _write_checkpoint(self) -> None:
        import json

        state = {}
        for src in sorted(self._sources):
            reason = self._stopped.get(src)
            drained = self._n_pending(src) == 0
            done = reason is not None or drained
            state[src] = {
                "region": src,
                "done": done,
                "last_page_done": int(self._last_page_done.get(src, 0)),
                "stop_reason": reason if reason else ("no_links" if done else None),
                "processed_offers_last_run": int(self._offers_total),
                "round": self.round_idx,
            }
            if reason is None and drained and self._had_fetch_fail.get(src):
                # drained only because pages failed → retryable, not done
                # (ST5: fetch_fail regions stay not-done and re-enter)
                state[src].update(done=False, stop_reason="fetch_fail")
        tmp = self.checkpoint_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(state, f, indent=1)
        os.replace(tmp, self.checkpoint_path)

    # ------------------------------------------------------- image pipeline
    def process_images(
        self, images_input: DataFrame, thumbnails: int | None = None
    ) -> DataFrame:
        """The input_hint image stage: photos discovered by the crawl are
        joined to their binary payloads, decoded + verified in Arrow batches
        (sniff, w/h, sha256, pHash — functions/images.py), captioned from the
        owning offer, and written to the partitioned ``images`` table in the
        EXACT input_hint shape (image_id, bytes, w, h, fmt, caption, phash).

        ``thumbnails`` (max dimension, px): when set, the bilinear
        aspect-preserving downscale stage (functions/images.py
        make_thumbnail_batches) runs over the same decoded-ok rows and the
        curated table additionally carries (thumb, thumb_w, thumb_h) — the
        brief's multimodal resize step wired end-to-end into the engine
        sink, still zero-shuffle per Arrow batch.

        ``images_input`` carries (image_id, bytes) at minimum — the stand-in
        for the image-fetch stage (scrapper/core/images.py:48-91); rows whose
        bytes fail to decode are dropped the way the reference marks
        status=failed and skips the write (images.py:66-76).
        """
        from realestate_scraper_spark.functions.images import (
            IMAGE_META_FIELDS,
            decode_meta_batches,
            magic_sniff_expr,
        )

        photos = self.photos().filter(F.col("image_id").isNotNull())
        # caption (FIXTURES.md §1 template) travels with images_input when
        # present; otherwise falls back to the owning offer id.
        linked = photos.join(
            images_input.select("image_id", "bytes"), "image_id", "inner"
        )
        # S4/F21 pre-gate, JVM-side: the HEAD/Content-Type check of the
        # reference (images.py:54-58) — bytes whose magic matches no allowed
        # format are quarantined BEFORE any Arrow transfer / Python decode
        # (at 100 TB this is what keeps HTML-pretending-to-be-JPEG out of
        # the expensive stage).
        sniffed = linked.withColumn(
            "sniffed_fmt", magic_sniff_expr(F.col("bytes"))
        )
        bad = sniffed.filter(F.col("sniffed_fmt").isNull()).select(
            "image_id", F.lit("mime_mismatch").alias("reject_reason")
        )
        self.t_images_quarantine = ParquetTable(self.run_dir, "images_quarantine")
        self.t_images_quarantine.overwrite(
            self._coalesced(bad), round_idx=self.round_idx, stage="img_quarantine"
        )
        linked = sniffed.filter(F.col("sniffed_fmt").isNotNull()).drop(
            "sniffed_fmt"
        )
        meta = (
            linked.select("image_id", "bytes")
            .mapInPandas(decode_meta_batches, schema=IMAGE_META_FIELDS)
            .filter(F.col("decode_ok"))
            .drop("decode_ok", "sha256")
        )
        caption_src = (
            images_input.select("image_id", "caption")
            if "caption" in images_input.columns
            else photos.select(
                "image_id", F.col("offer_id").alias("caption")
            )
        )
        out = (
            linked.select("image_id", "bytes")
            .join(meta, "image_id")
            .join(caption_src, "image_id", "left")
            .select("image_id", "bytes", "w", "h", "fmt", "caption", "phash")
        )
        if thumbnails is not None:
            from realestate_scraper_spark.functions.images import (
                THUMB_FIELDS,
                make_thumbnail_batches,
            )

            thumbs = (
                linked.select("image_id", "bytes")
                .mapInPandas(
                    make_thumbnail_batches(max_dim=thumbnails),
                    schema=THUMB_FIELDS,
                )
                .filter(F.col("decode_ok"))
                .select("image_id", "thumb", "thumb_w", "thumb_h")
            )
            out = out.join(thumbs, "image_id", "left")
        self.t_images = ParquetTable(self.run_dir, "images")
        self.t_images.overwrite(
            self._coalesced(out), round_idx=self.round_idx, stage="images"
        )
        return self.t_images.read(self.spark)

    # ------------------------------------------------------------- results
    def staged(self) -> DataFrame | None:
        return self.t_staged.read(self.spark)

    def offers(self) -> DataFrame | None:
        """Curated offers view: latest parse wins per offer_id (idempotent
        MERGE semantics, ST6 — re-crawls update rather than duplicate),
        first_seen/last_seen carried as crawl rounds (F14 stamping, made
        deterministic by using logical time)."""
        return self._latest_offers()

    def offers_wide(self) -> DataFrame | None:
        """The wide storage variant (scrapper/core/storage.py:13-20 plus the
        validated-model breadth of validate.py:25-40): canonical 11 +
        title/district/street/floor/floors/market_type/property_type +
        year_built, posted_at/updated_at (F11/F12 cascade), the F28
        ``features`` array, and first/last_seen (as crawl rounds) — same
        latest-wins merge as offers()."""
        return self._latest_offers(
            F.col("raw_title").alias("title"),
            F.col("raw_district").alias("district"),
            F.col("raw_street").alias("street"),
            F.col("raw_floor").alias("floor"),
            F.col("raw_floors").alias("floors"),
            F.col("raw_market").alias("market_type"),
            F.col("raw_ptype").alias("property_type"),
            "year_built",
            "posted_at",
            "updated_at",
            "features",
        )

    def _latest_offers(self, *wide) -> DataFrame | None:
        """Each valid offer's latest staged row (``OFFER_COLUMNS``, its
        first/last seen round, then ``wide``) in ONE window pass: the
        row_number that picks the latest row and the min/max over the same
        partition share one sort, so every column comes from the same row
        even when two parses of an offer tie on round."""
        from realestate_scraper_spark.schemas import OFFER_COLUMNS

        st = self.staged()
        if st is None:
            return None
        # every valid row has an offer_id (refine's gate)
        w = Window.partitionBy("offer_id").orderBy(F.desc("round"))
        every_round = w.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        return (
            st.filter(F.col("is_valid"))
            .select(
                *OFFER_COLUMNS,
                F.min("round").over(every_round).alias("first_seen_round"),
                F.max("round").over(every_round).alias("last_seen_round"),
                *wide,
                F.row_number().over(w).alias("_rn"),
            )
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    def photos(self) -> DataFrame | None:
        st = self.staged()
        if st is None:
            return None
        return refine_mod.explode_photos(st, self.photo_limit)

    def quarantine(self) -> DataFrame | None:
        st = self.staged()
        if st is None:
            return None
        return st.filter(~F.col("is_valid")).select(
            "url", "source", "page_idx", "slot", "reject_reason"
        )

    def frontier(self) -> DataFrame | None:
        """Reconciled frontier: latest status wins per url_canon across the
        delta snapshots (window over commit order — the read-side half of
        the MERGE-INTO stand-in; see sources/tables.read_versioned)."""
        fr = self.t_frontier.read_versioned(self.spark)
        if fr is None:
            return None
        w = Window.partitionBy("url_canon").orderBy(F.desc("_seq"))
        return (
            fr.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(*FRONTIER_COLS)
        )
