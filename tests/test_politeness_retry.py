"""Politeness (robots rules + token-bucket schedule) and retry rounds."""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import functions as F

from realestate_scraper_spark.crawl.engine import CrawlEngine
from realestate_scraper_spark.crawl.politeness import parse_robots_txt
from realestate_scraper_spark.sources.synth import (
    CRAWL_DELAY_MS,
    build_corpus,
    make_offers,
    make_robots_txt,
    make_site_graph,
    seed_urls,
)


def test_parse_robots_txt_semantics():
    text = (
        "# comment\n"
        "User-agent: googlebot\nDisallow: /private\n\n"
        "User-agent: *\n"
        "Disallow: /blocked\n"
        "Allow: /blocked/open\n"
        "Crawl-delay: 0.5\n"
    )
    r = parse_robots_txt("example.com", text)
    assert r.disallow == ["/blocked"]
    assert r.allow == ["/blocked/open"]
    assert r.crawl_delay_ms == 500
    assert r.allows("/anything")
    assert not r.allows("/blocked/page")
    assert r.allows("/blocked/open/page")  # longest match wins


def test_robots_txt_roundtrip_matches_graph_flags():
    offers = make_offers(n_pages=6, cards_per_page=8)
    graph = make_site_graph(offers, n_pages=6)
    texts = make_robots_txt(offers)
    from urllib.parse import urlsplit

    rules = {
        dom: parse_robots_txt(dom, text) for dom, text in texts.items()
    }
    for row in graph:
        parts = urlsplit(row["url"])
        assert rules[parts.netloc].allows(parts.path) == row["robots_allow"], row["url"]


def test_engine_with_rules_table_equals_flag_path(spark, tmp_path):
    """Robots enforced from the parsed rules table must yield exactly the
    same offers as the page-store flag path (tri-consistency)."""
    offers, _, graph = build_corpus(seed=42, n_pages=3, cards_per_page=8)
    texts = make_robots_txt(offers)
    from realestate_scraper_spark.crawl.politeness import parse_robots_txt

    rules = {dom: parse_robots_txt(dom, t) for dom, t in texts.items()}

    e1 = CrawlEngine(spark, str(tmp_path / "flags"), graph, n_salts=2)
    e1.seed(seed_urls())
    e1.run(max_rounds=10)

    e2 = CrawlEngine(
        spark, str(tmp_path / "rules"), graph, n_salts=2, robots_rules=rules
    )
    e2.seed(seed_urls())
    e2.run(max_rounds=10)

    a = {tuple(sorted(r.asDict().items())) for r in e1.offers().collect()}
    b = {tuple(sorted(r.asDict().items())) for r in e2.offers().collect()}
    assert a == b and len(a) > 0


def test_politeness_schedule_respects_budget(spark, tmp_path):
    """Virtual fetch times within each domain must be spaced by at least the
    per-shard share of the domain budget (ST7/O11)."""
    from realestate_scraper_spark.crawl import fetch as fetch_mod
    from realestate_scraper_spark.crawl import frontier as frontier_mod

    offers, _, graph = build_corpus(seed=42, n_pages=2, cards_per_page=8)
    n_salts = 2
    store = spark.sparkContext.broadcast(fetch_mod.build_page_store(graph))
    fr = frontier_mod.seed_frontier(
        spark, [(o.source, o.url) for o in offers], n_salts=n_salts
    )
    fetched = (
        fetch_mod.fetch_parse(fr, store, n_salts)
        .filter(F.col("row_kind") == "page")
        .collect()
    )
    by_shard: dict = {}
    for r in fetched:
        if r["fetch_status"] == "OK":
            by_shard.setdefault((r["domain_salt"]), []).append(r["fetched_at_ms"])
    assert by_shard
    for shard, times in by_shard.items():
        domain = shard.rsplit("#", 1)[0]
        src = [s for s, d in
               [("otodom", "www.otodom.pl"), ("morizon", "www.morizon.pl"),
                ("gratka", "gratka.pl"), ("trojmiasto", "ogloszenia.trojmiasto.pl")]
               if d == domain][0]
        budget = CRAWL_DELAY_MS[src] * n_salts
        times = sorted(times)
        for a, b in zip(times, times[1:]):
            assert b - a >= budget - 1e-6, (shard, a, b, budget)


def test_retry_after_recovered_in_run_no_manual_retry(spark, tmp_path):
    """ST8: Retry-After (429/503) pages re-enter via retry_at and complete
    within the SAME run — zero retry_failed() calls (the engine twin of the
    reference's in-client sleep+retry, scrapper/core/http.py:69-76)."""
    offers = make_offers(seed=42, n_pages=3, cards_per_page=8)
    graph = make_site_graph(offers, n_pages=3, retry_after_mod=29)
    affected = [o for o in offers if o.ordinal % 29 == 7]
    assert affected, "retry-after case vacuous — widen the corpus"

    eng = CrawlEngine(spark, str(tmp_path / "ra"), graph, n_salts=2)
    eng.seed(seed_urls())
    eng.run(max_rounds=15)

    fr = eng.frontier()
    assert fr.filter(F.col("status") == "FAILED").count() == 0
    # the in-run retry is recorded in attempts
    assert fr.filter(F.col("attempts") > 0).count() >= len(affected)
    got_ids = {r["offer_id"] for r in eng.offers().collect()}
    for o in affected:
        if o.golden_row() is not None and o.ordinal % 23 != 21:
            assert o.offer_id in got_ids, o.offer_id


def test_no_frontier_row_collects(spark, tmp_path, monkeypatch):
    """Scale gate: neither resume() nor the round loop may collect frontier
    ROWS to the driver — only aggregates / metadata-scale sets (pending
    listing-page numbers). Counts every DataFrame.collect() result while a
    resumed crawl completes and asserts all are far below frontier size."""
    offers = make_offers(seed=42, n_pages=4, cards_per_page=8)
    graph = make_site_graph(offers, n_pages=4)
    run_dir = str(tmp_path / "nc")
    eng = CrawlEngine(spark, run_dir, graph, n_salts=2)
    eng.seed(seed_urls())
    eng.run(max_rounds=2)  # leave work pending

    sizes: list[int] = []
    # patch the CONCRETE class (pyspark 4 splits classic/connect DataFrames;
    # instances override the pyspark.sql.DataFrame base method)
    df_cls = type(spark.range(1))
    orig = df_cls.collect

    def spy(self):
        rows = orig(self)
        sizes.append(len(rows))
        return rows

    monkeypatch.setattr(df_cls, "collect", spy)
    eng2 = CrawlEngine.resume(spark, run_dir, graph, n_salts=2)
    eng2.run(max_rounds=20)
    monkeypatch.setattr(df_cls, "collect", orig)

    n_frontier = eng2.frontier().count()
    assert n_frontier > 150, "corpus too small for the bound to mean anything"
    assert sizes, "no aggregates collected?"
    assert max(sizes) <= 64, f"driver-side collect of {max(sizes)} rows"


def test_retry_rounds_recover_transient_failures(spark, tmp_path):
    """ST5: hard-flaky pages fail on attempt 0, the retry round re-enqueues
    them with attempts+1 and the second pass completes the crawl."""
    offers = make_offers(seed=42, n_pages=3, cards_per_page=8)
    graph = make_site_graph(offers, n_pages=3, flaky_mod=29)
    n_flaky = sum(1 for o in offers if o.ordinal % 29 == 13)
    assert n_flaky > 0

    eng = CrawlEngine(spark, str(tmp_path / "retry"), graph, n_salts=2)
    eng.seed(seed_urls())
    eng.run(max_rounds=10)
    failed_first = (
        eng.frontier().filter(F.col("status") == "FAILED").count()
    )
    assert failed_first >= n_flaky

    n_retried = eng.retry_failed()
    assert n_retried >= n_flaky
    eng.run(max_rounds=10)

    # after the retry round the flaky offers are parsed
    got_ids = {r["offer_id"] for r in eng.offers().collect()}
    for o in offers:
        if o.ordinal % 29 == 13 and o.golden_row() is not None and o.ordinal % 23 != 21:
            assert o.offer_id in got_ids, o.offer_id


def test_engine_bootstraps_robots_from_site(spark, tmp_path):
    """seed() fetches each domain's /robots.txt from the web itself and
    compiles the rules table — no externally provided rules."""
    offers, _, graph = build_corpus(seed=42, n_pages=2, cards_per_page=6)
    eng = CrawlEngine(spark, str(tmp_path / "boot"), graph, n_salts=2)
    eng.seed(seed_urls())
    assert eng.robots_rules and set(eng.robots_rules) == {
        "www.otodom.pl", "www.morizon.pl", "gratka.pl",
        "ogloszenia.trojmiasto.pl",
    }
    eng.run(max_rounds=6)
    # robots-blocked offers never parsed, everything else intact
    got = {r["offer_id"] for r in eng.offers().collect()}
    for o in offers:
        if o.ordinal % 23 == 21:
            assert o.offer_id not in got


def test_real_sleep_enforces_budget(spark, tmp_path):
    """With real_sleep the wall clock respects the per-domain budget."""
    import time

    from realestate_scraper_spark.crawl import fetch as fetch_mod
    from realestate_scraper_spark.crawl import frontier as frontier_mod

    offers, _, graph = build_corpus(seed=42, n_pages=1, cards_per_page=5)
    chosen = [o for o in offers if o.source == "trojmiasto"][:4]  # 100ms budget
    store = spark.sparkContext.broadcast(fetch_mod.build_page_store(graph))
    fr = frontier_mod.seed_frontier(
        spark, [(o.source, o.url) for o in chosen], n_salts=1
    )
    t0 = time.monotonic()
    rows = (
        fetch_mod.fetch_parse(fr, store, n_salts=1, real_sleep=True)
        .filter(F.col("row_kind") == "page")
        .collect()
    )
    elapsed = time.monotonic() - t0
    ok = [r for r in rows if r["fetch_status"] == "OK"]
    assert len(ok) >= 3
    # (n-1) gaps × 100 ms minimum
    assert elapsed >= (len(ok) - 1) * 0.1


def test_fetch_fail_region_not_marked_done(spark, tmp_path):
    """ST2/ST5 parity: a source whose listing page failed transiently ends
    the run with stop_reason=fetch_fail and done=False; after retry_failed()
    + rerun it completes as done/no_links."""
    offers = make_offers(seed=42, n_pages=2, cards_per_page=5)
    graph = make_site_graph(offers, n_pages=2)
    # break morizon's page-2 listing: make it flaky
    from realestate_scraper_spark.sources.synth import listing_url

    broken = listing_url("morizon", 2)
    for row in graph:
        if row["url"] == broken:
            row["flaky"] = True

    eng = CrawlEngine(spark, str(tmp_path / "ff"), graph, n_salts=2)
    eng.seed(seed_urls())
    eng.run(max_rounds=8)
    cp = json.loads(Path(eng.checkpoint_path).read_text())
    assert cp["morizon"]["stop_reason"] == "fetch_fail"
    assert not cp["morizon"]["done"]
    assert cp["otodom"]["done"] and cp["otodom"]["stop_reason"] == "no_links"

    eng.retry_failed()
    eng.run(max_rounds=8)
    cp = json.loads(Path(eng.checkpoint_path).read_text())
    assert cp["morizon"]["done"]
    assert cp["morizon"]["last_page_done"] == 2


def test_missing_pages_terminal_not_retried(spark, tmp_path):
    """ADVICE r2: FETCH_MISSING must be a terminal frontier status. With
    lookahead on, beyond-end speculative pages 404 (benign end-of-pagination)
    — retry_failed() must NOT re-enqueue them: a missing URL can only
    re-miss, so retrying it loops forever with unbounded attempts."""
    from realestate_scraper_spark.schemas import STATUS_MISSING

    _, _, graph = build_corpus(seed=7, n_pages=2, cards_per_page=4)
    eng = CrawlEngine(
        spark, str(tmp_path / "run"), graph, n_salts=1, lookahead=3
    )
    eng.seed(seed_urls())
    eng.run(max_rounds=10)
    fr = eng.frontier()
    n_missing = fr.filter(F.col("status") == STATUS_MISSING).count()
    assert n_missing > 0, "lookahead produced no beyond-end pages — vacuous"
    # no flaky pages in this graph → nothing is legitimately retryable;
    # before the fix MISSING rows were FAILED and re-enqueued here forever
    assert eng.retry_failed() == 0


def test_politeness_clock_continuous_across_rounds(spark, tmp_path):
    """ST7 run-level budget (VERDICT r2 #2): the token-bucket clock must NOT
    re-zero at round boundaries — the reference's limiter lives for the whole
    process (core/http.py:13-21). The final per-salt high-water mark must
    cover ALL of the run's budget-consuming fetches at the configured
    spacing, (n_granted − 1) × delay × n_salts, not just the last round's."""
    from realestate_scraper_spark.sources.synth import DOMAINS

    _, _, graph = build_corpus(seed=11, n_pages=3, cards_per_page=4)
    eng = CrawlEngine(spark, str(tmp_path / "run"), graph, n_salts=1)
    eng.seed(seed_urls())
    per_round = []
    while eng._one_round()[0]:
        per_round.append(dict(eng._salt_clock))
    assert len(per_round) >= 3, "crawl too shallow to cross round boundaries"
    # monotone: a later round never rewinds a salt's clock
    for a, b in zip(per_round, per_round[1:]):
        for k in a:
            assert b.get(k, a[k]) >= a[k]
    # run-level spacing: in this graph (no flaky/missing/lookahead) the
    # budget-consuming fetches are exactly the DONE frontier rows
    delay_by_domain = {DOMAINS[s]: CRAWL_DELAY_MS[s] for s in DOMAINS}
    granted = {
        r["domain_salt"]: r["n"]
        for r in eng.frontier()
        .filter(F.col("status") == "DONE")
        .groupBy("domain_salt")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    final = per_round[-1]
    for salt, n in granted.items():
        eff = delay_by_domain[salt.rsplit("#", 1)[0]]  # n_salts=1
        assert final[salt] >= (n - 1) * eff - 1e-6, (salt, n, final[salt])


def test_robots_crawl_delay_overrides_smaller_budget(spark, tmp_path):
    """A robots.txt Crawl-delay LARGER than the configured per-domain budget
    must win: the polite delay is the max of the two. The synth graph's
    otodom delay is 50 ms; a rules table demanding 400 ms must stretch the
    virtual schedule accordingly."""
    from realestate_scraper_spark.crawl.politeness import RobotsRules
    from realestate_scraper_spark.sources.synth import DOMAINS

    _, _, graph = build_corpus(seed=5, n_pages=2, cards_per_page=4)
    rules = {
        DOMAINS[s]: RobotsRules(domain=DOMAINS[s], crawl_delay_ms=400)
        for s in DOMAINS
    }
    eng = CrawlEngine(
        spark, str(tmp_path / "run"), graph, n_salts=1, robots_rules=rules
    )
    eng.seed(seed_urls())
    eng.run(max_rounds=8)
    granted = {
        r["domain_salt"]: r["n"]
        for r in eng.frontier()
        .filter(F.col("status") == "DONE")
        .groupBy("domain_salt")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    for salt, n in granted.items():
        # final virtual clock must reflect 400 ms spacing, not the store's
        # 50-100 ms
        assert eng._salt_clock[salt] >= (n - 1) * 400 - 1e-6, (
            salt, n, eng._salt_clock[salt],
        )
