"""``crawl_small_rounds``: closed-loop crawls of the bench.py crawl shape.

One client runs complete crawls back to back (engine construction →
``seed`` → ``run``) on a fresh run dir each time. Every crawl's output is
checked against expectations computed from the generated corpus. The
traced run adds one traced crawl, then drives each crawl layer's public
functions standalone on inputs captured from that crawl's run dir, and
finishes with a resume → refresh → recrawl of the same run dir.
"""

from __future__ import annotations

import math
import time
import traceback

from harness import Tracer, count_files, dir_bytes, force

N_PAGES = 4
CARDS_PER_PAGE = 64
LOOKAHEAD = 4
# the warm-up crawl: same engine and portals, one listing page × 16 cards.
# A cold crawl is mostly first-use cost, so the full shape took 7 s longer
# to warm up and the timed crawl after it was no faster.
WARM_PAGES, WARM_CARDS = 1, 16
# Every tag CrawlEngine._phase can record during seed/run; absent tags
# report 0.
PHASES = (
    "seed_snapshot", "seed_seen", "seed_bootstrap", "fetch_plan",
    "fetch_summary", "links_plan", "updates_plan", "insert_append",
    "update_append", "seen_append", "insert_deltas", "bloom_build",
    "new_rows_agg", "staged_join", "lineage_cut", "staged_plan",
    "staged_append", "run_finalize", "finalize_metrics", "finalize_compact",
    "finalize_curated",
)


class Corpus:
    """The seeded synthetic web plus everything a crawl of it must yield."""

    def __init__(self, seed: int, n_pages: int = N_PAGES, cards: int = CARDS_PER_PAGE):
        from realestate_scraper_spark.sources.synth import (
            SOURCES,
            make_offers,
            make_site_graph,
            seed_urls,
        )

        self.offers = make_offers(seed=seed, n_pages=n_pages, cards_per_page=cards)
        self.graph = make_site_graph(self.offers, n_pages=n_pages)
        self.seeds = seed_urls()
        # same rule as tests/test_crawl_equivalence: robots.txt blocks
        # ordinal % 23 == 21, every other offer with a golden row is valid
        self.golden = {}
        for o in self.offers:
            g = o.golden_row()
            if g is not None and o.ordinal % 23 != 21:
                self.golden[g["offer_id"]] = g
        self.offer_urls = {g["url"] for g in self.graph if g["kind"] == "offer"}
        # every graph page (robots.txt aside) plus the lookahead's
        # past-the-end listing pages, each fetched exactly once
        self.pages = sum(1 for g in self.graph if g["kind"] != "robots") + (
            len(SOURCES) * LOOKAHEAD
        )


def _new_engine(spark, run_dir: str, corpus: Corpus):
    from realestate_scraper_spark.crawl.engine import CrawlEngine

    return CrawlEngine(spark, run_dir, corpus.graph, lookahead=LOOKAHEAD)


def crawl(spark, run_dir: str, corpus: Corpus, tr=None, rep=None):
    """One complete crawl; returns (engine, stats, wall seconds)."""
    tr = tr or Tracer("", enabled=False)
    t0 = time.monotonic()
    with tr.span("crawl.engine", rep):
        eng = _new_engine(spark, run_dir, corpus)
        with tr.span("crawl.engine.seed", rep):
            eng.seed(corpus.seeds)
        with tr.span("crawl.engine.run", rep):
            stats = eng.run()
    return eng, stats, time.monotonic() - t0


def _field_eq(key: str, a, b) -> bool:
    from realestate_scraper_spark.functions.urlnorm import canonicalize_url_py

    if key == "url" and a is not None:
        # with lookahead a relisted offer may keep its other, canonically
        # equal spelling (see CrawlEngine's lookahead note)
        return canonicalize_url_py(a) == canonicalize_url_py(b)
    if isinstance(b, float) and a is not None:
        return math.isclose(a, b, rel_tol=0.0, abs_tol=1e-6)
    return a == b


def check_crawl(spark, eng, stats, corpus: Corpus) -> list[str]:
    """Mismatches between one crawl's outputs and the corpus expectations."""
    from pyspark.sql import functions as F

    errs = []
    if stats["pages_fetched"] != corpus.pages:
        errs.append(f"pages_fetched {stats['pages_fetched']} != {corpus.pages}")
    if stats["offers_parsed"] != len(corpus.golden):
        errs.append(
            f"offers_parsed {stats['offers_parsed']} != {len(corpus.golden)}"
        )
    got = {r["offer_id"]: r.asDict() for r in eng.t_offers.read(spark).collect()}
    if set(got) != set(corpus.golden):
        errs.append(
            f"offer ids: {len(set(got) - set(corpus.golden))} unexpected, "
            f"{len(set(corpus.golden) - set(got))} missing"
        )
    bad = [
        (oid, k)
        for oid, exp in corpus.golden.items()
        if oid in got
        for k, v in exp.items()
        if not _field_eq(k, got[oid][k], v)
    ]
    if bad:
        errs.append(f"{len(bad)} offer fields differ from golden, e.g. {bad[:3]}")
    seen = {
        r["url_canon"]
        for r in eng.t_frontier.read(spark)
        .filter(F.col("kind") == "offer")
        .select("url_canon")
        .distinct()
        .collect()
    }
    if seen != corpus.offer_urls:
        errs.append(
            f"offer URL-seen set: {len(seen - corpus.offer_urls)} unexpected, "
            f"{len(corpus.offer_urls - seen)} missing"
        )
    return errs


def run(sess, tr, work, seed: int, seconds: float, log) -> dict:
    spark = sess.spark
    runs = work / "runs"
    runs.mkdir(parents=True, exist_ok=True)
    layer: dict[str, float] = {}

    # ---- inputs (not part of set-up time): corpus + goldens
    t0 = time.monotonic()
    with tr.span("sources.synth"):
        corpus = Corpus(seed)
        warm_corpus = Corpus(seed, WARM_PAGES, WARM_CARDS)
    layer["synth.corpus_s"] = time.monotonic() - t0
    # ---- set-up ends with one untimed, unchecked warm-up crawl (pays
    # JVM/codegen first use and the engine's once-per-session warmup)
    cpu0, t1 = sess.cpu_s(), time.monotonic()
    crawl(spark, str(runs / "warm"), warm_corpus)
    layer["warm.crawl_s"] = time.monotonic() - t1
    setup_cpu_s = sess.cpu_s() - cpu0
    attempted = failed = 0

    # ---- timed closed loop: crawls back to back until the window has
    # passed (a warm crawl takes 15-25 s on 4 cores, so usually one). The
    # traced run times a single traced crawl and then probes the layers.
    walls: list[float] = []
    cpu: list[float] = []
    traced = None
    loop_t0 = time.monotonic()
    while True:
        rep = len(walls)
        run_dir = str(runs / f"rep{rep}")
        attempted += 1
        jobs0 = sess.job_ids() if tr.enabled else set()
        cpu0, jit0 = sess.cpu_s(), sess.jit_cpu_s()
        try:
            eng, stats, wall = crawl(spark, run_dir, corpus, tr, rep)
        except Exception:
            failed += 1
            log(traceback.format_exc())
            break
        walls.append(wall)
        cpu.append(sess.cpu_s() - cpu0)
        log(f"crawl {rep}: wall {wall:.2f} s, cpu {cpu[-1]:.2f} s, "
            f"JIT cpu {sess.jit_cpu_s() - jit0:.2f} s")
        t = time.monotonic()
        errs = check_crawl(spark, eng, stats, corpus)
        log(f"crawl {rep} checked in {time.monotonic() - t:.1f} s")
        if errs:
            failed += 1
            log(f"crawl {rep} output wrong: {errs}")
        if tr.enabled:
            counts = sess.job_counts(sess.job_ids() - jobs0)
            traced = (eng, stats, run_dir, counts)
            break
        if time.monotonic() - loop_t0 >= seconds:
            break
    peak_rss_mb = sess.peak_rss_mb()

    result = {
        "attempted": attempted,
        "failed": failed,
        "setup_cpu_s": setup_cpu_s,
        "walls": walls,
        "cpu": cpu,
        "peak_rss_mb": peak_rss_mb,
        "layer": layer,
    }
    if traced is not None:
        result["attempted"] += 1
        result["failed"] += _trace_layers(sess, tr, corpus, layer, log, *traced)
    return result


def _trace_layers(
    sess, tr, corpus: Corpus, layer: dict, log, eng, stats, run_dir, counts
) -> int:
    """Per-layer metrics of the traced crawl, then standalone probes of each
    crawl layer on inputs captured from its run dir; returns failures."""
    from pyspark.sql import functions as F

    from realestate_scraper_spark.crawl import fetch as fetch_mod
    from realestate_scraper_spark.crawl import frontier as frontier_mod
    from realestate_scraper_spark.crawl import refine as refine_mod
    from realestate_scraper_spark.crawl.bloom import ShardedBloom
    from realestate_scraper_spark.crawl.cuckoo import ShardedCuckoo
    from realestate_scraper_spark.crawl.engine import CrawlEngine
    from realestate_scraper_spark.crawl.parse import RAW_COL_NAMES

    spark = sess.spark
    failures = 0

    # ---- crawl.engine: the traced crawl, counted through StatusTracker
    rounds = max(stats["rounds"], 1)
    layer.update({
        "engine.seed_s": tr.wall("crawl.engine.seed"),
        "engine.run_s": tr.wall("crawl.engine.run"),
        "engine.round_s": tr.wall("crawl.engine.run") / rounds,
        "engine.jobs_per_round": counts["jobs"] / rounds,
        "engine.stages_per_round": counts["stages"] / rounds,
        "engine.tasks_per_round": counts["tasks"] / rounds,
        "engine.failed_tasks": counts["failed_tasks"],
        "engine.disk_mb": dir_bytes(run_dir) / 2**20,
        "tables.n_files": count_files(run_dir),
        "tables.bytes_per_page": dir_bytes(run_dir) / max(stats["pages_fetched"], 1),
    })
    for tag in PHASES:
        layer[f"engine.phase.{tag}_s"] = eng.phase_times.get(tag, 0.0)

    # ---- captured inputs (untimed): the frontier rows round 2 fetched (a
    # row's ``round`` is that of its last status change, its fetch) and the
    # seen set as round 2 left it: every URL fetched by then, since each
    # round drains every URL the round before discovered
    fr = eng.frontier().localCheckpoint()
    batch = fr.filter(F.col("round") == 2).localCheckpoint()
    seen_r2 = fr.filter(F.col("round") <= 2).select(
        "url_canon", "url_hash64", "domain_salt"
    ).localCheckpoint()
    n_batch = batch.count()
    robots_bc = spark.sparkContext.broadcast(eng.robots_rules)

    # ---- crawl.fetch: fused fetch+parse of the round-2 batch
    def fetch_parse():
        return fetch_mod.fetch_parse(
            batch, eng.page_store_bc, eng.n_salts, robots_rules_bc=robots_bc
        )

    with tr.span("crawl.fetch"):
        t = time.monotonic()
        force(fetch_parse())
        dt = time.monotonic() - t
    m = eng.t_metrics.read(spark).filter(F.col("stage") == "fetch")
    agg = m.agg(F.sum("rows_in").alias("n"), F.sum("failures").alias("f")).first()
    layer.update({
        "fetch.fetch_parse_s": dt,
        "fetch.pages_per_s": n_batch / dt,
        "fetch.fail_ratio": agg["f"] / max(agg["n"], 1),
    })
    fetched = fetch_parse().localCheckpoint()
    links = fetched.filter(F.col("row_kind") == "link").select(
        "source", "page_idx", F.col("url").alias("parent_url"),
        F.col("slot").alias("parent_slot"), F.col("kind").alias("parent_kind"),
        "dom_idx", "href",
    ).localCheckpoint()
    parsed = fetched.filter(
        (F.col("row_kind") == "page") & (F.col("kind") == "offer")
        & (F.col("fetch_status") == fetch_mod.FETCH_OK)
    ).select(
        "url", "url_canon", "source", "page_idx", "slot", "sub_slot",
        *RAW_COL_NAMES,
    ).localCheckpoint()

    # ---- crawl.bloom / crawl.cuckoo: each prefilter built from the round-2
    # seen set; its observed false-positive rate is the share of the truly
    # new candidates it still sends to the exact check
    cands = frontier_mod.classify_and_key_links(links, eng.n_salts).localCheckpoint()
    new = cands.join(seen_r2.select("url_canon"), "url_canon", "left_anti")
    n_new = new.count()
    built = {}
    for prefix, cls, span, arrays in (
        ("prefilter.", ShardedBloom, "crawl.bloom", lambda s: (s.bits,)),
        ("prefilter.cuckoo_", ShardedCuckoo, "crawl.cuckoo",
         lambda s: (s.table, s.counts)),
    ):
        with tr.span(span):
            t = time.monotonic()
            built[cls] = pf = cls.build(
                seen_r2, expected_per_shard=eng.bloom.expected_per_shard,
                fpp=eng.bloom_fpp,
            )
            layer[f"{prefix}build_s"] = time.monotonic() - t
        layer[f"{prefix}bytes"] = sum(
            a.nbytes for s in pf.shards.values() for a in arrays(s)
        )
        n_pass = pf.filter_maybe_seen(new).filter(F.col("maybe_seen")).count()
        layer[f"{prefix}pass_ratio_new"] = n_pass / max(n_new, 1)
    bloom = built[ShardedBloom]

    # ---- crawl.frontier: classify + anti-join of the round-2 links against
    # the run's bucketed seen store (every candidate is seen by now, so all
    # of them take the exact check); counts against the round-2 seen set
    with tr.span("crawl.frontier"):
        t = time.monotonic()
        c = frontier_mod.classify_and_key_links(
            links, eng.n_salts, dedup_partitions=eng.seen_store.n_buckets,
            bloom=eng.bloom,
        )
        force(frontier_mod.anti_join_seen(c, eng.seen_store.df(), eng.bloom))
        layer["frontier.classify_antijoin_s"] = time.monotonic() - t
    n_cand = cands.count()
    n_fresh = frontier_mod.anti_join_seen(cands, seen_r2, bloom).count()
    layer.update({
        "frontier.candidates": n_cand,
        "frontier.fresh_ratio": n_fresh / max(n_cand, 1),
    })

    # ---- crawl.refine on the round-2 parsed offer rows
    with tr.span("crawl.refine"):
        t = time.monotonic()
        valid, quarantined = refine_mod.refine_offers(parsed)
        valid.count(), quarantined.count()
        layer["refine.s"] = time.monotonic() - t

    # ---- sources.tables: reconciled frontier read
    with tr.span("sources.tables"):
        t = time.monotonic()
        force(eng.frontier())
        layer["tables.frontier_read_s"] = time.monotonic() - t

    # ---- recrawl: resume the finished run dir in place, re-enqueue every
    # DONE offer page, run one refresh round
    offers_before = {
        r["offer_id"]: r.asDict()
        for r in eng.t_offers.read(spark).drop("first_seen_round", "last_seen_round").collect()
    }
    with tr.span("crawl.engine"):
        t = time.monotonic()
        eng2 = CrawlEngine.resume(spark, run_dir, corpus.graph, lookahead=LOOKAHEAD)
        layer["engine.resume_s"] = time.monotonic() - t
        t = time.monotonic()
        eng2.refresh_offers()
        layer["engine.refresh_s"] = time.monotonic() - t
        t = time.monotonic()
        st2 = eng2.run()
        dt = time.monotonic() - t
    layer["engine.recrawl_run_s"] = dt
    layer["engine.recrawl_pages_per_s"] = st2["pages_fetched"] / dt
    after = eng2.t_offers.read(spark).drop("first_seen_round", "last_seen_round")
    rows = after.collect()
    offers_after = {r["offer_id"]: r.asDict() for r in rows}
    if len(rows) != len(offers_after) or offers_after != offers_before:
        failures += 1
        log(
            f"recrawl changed the offer set: {len(rows)} rows, "
            f"{len(offers_after)} ids, {len(offers_before)} before"
        )

    # ---- crawl.seenstore: bucketed scan, then one compaction
    store = eng2.seen_store
    layer["seenstore.n_files"] = store.n_files()
    layer["seenstore.mb"] = dir_bytes(store.dir) / 2**20
    with tr.span("crawl.seenstore"):
        t = time.monotonic()
        force(store.df())
        layer["seenstore.scan_s"] = time.monotonic() - t
        t = time.monotonic()
        store.compact()
        layer["seenstore.compact_s"] = time.monotonic() - t
    return failures
