"""North-rule gate: the Spark engine's URL-seen set and crawl ordering equal
the reference's under the identical seed list + politeness budget, plus field
equality of parsed offers vs the golden expectations.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from realestate_scraper_spark.crawl.engine import CrawlEngine
from realestate_scraper_spark.sources.synth import build_corpus, seed_urls
from tests.reference_sim import simulate_reference_crawl

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "scripts"))

N_PAGES = 4
CARDS = 6


@pytest.fixture(scope="module")
def corpus():
    return build_corpus(seed=42, n_pages=N_PAGES, cards_per_page=CARDS)


@pytest.fixture(scope="module")
def crawl_with_jobs(spark, corpus, tmp_path_factory):
    """The module's crawl, plus its own Spark jobs per phase tag, read from
    the status store right after run() (before later tests add jobs)."""
    from scaling_bench import job_ids, phase_rows

    offers, images, graph = corpus
    run_dir = str(tmp_path_factory.mktemp("crawl_run"))
    eng = CrawlEngine(spark, run_dir, graph, n_salts=2)
    sc = spark.sparkContext
    before = job_ids(sc)
    eng.seed(seed_urls())
    stats = eng.run(max_rounds=20)
    return eng, stats, phase_rows(sc, skip=before)


@pytest.fixture(scope="module")
def engine_run(crawl_with_jobs):
    eng, stats, _ = crawl_with_jobs
    return eng, stats


def test_url_seen_set_equals_reference(engine_run, corpus):
    offers, _, graph = corpus
    eng, _ = engine_run
    yields, _, _ = simulate_reference_crawl(graph, seed_urls())
    ref_set = {y["url_canon"] for y in yields}
    got = {
        r["url_canon"]
        for r in eng.frontier().filter(F.col("kind") == "offer").collect()
    }
    assert got == ref_set


def test_crawl_order_equals_reference(engine_run, corpus):
    """After sorting by the recorded total-order key (page_idx, slot), the
    engine's per-source offer order equals the reference's sequential yield
    order (SURVEY.md §7.5 item 1)."""
    _, _, graph = corpus
    eng, _ = engine_run
    yields, _, _ = simulate_reference_crawl(graph, seed_urls())
    fr = (
        eng.frontier()
        .filter(F.col("kind") == "offer")
        .select("source", "url_canon", "page_idx", "slot", "sub_slot")
        .collect()
    )
    for src in {y["source"] for y in yields}:
        ref_order = [y["url_canon"] for y in yields if y["source"] == src]
        eng_order = [
            r["url_canon"]
            for r in sorted(
                (r for r in fr if r["source"] == src),
                key=lambda r: (r["page_idx"], r["slot"], r["sub_slot"]),
            )
        ]
        assert eng_order == ref_order, f"crawl order mismatch for {src}"


def test_offer_fields_equal_golden(engine_run, corpus):
    """Per-row field equality vs golden (input_hint: caption/field equality).
    Covers F17/F18 reconciliation, P2/P5 gates, inquiry-price nulling."""
    offers, _, graph = corpus
    eng, _ = engine_run
    got = {r["offer_id"]: r.asDict() for r in eng.offers().collect()}

    robots_blocked = {o.offer_id for o in offers if o.ordinal % 23 == 21}
    expected = {}
    for o in offers:
        g = o.golden_row()
        if g is not None and o.offer_id not in robots_blocked:
            expected[g["offer_id"]] = g

    assert set(got) == set(expected)
    for oid, exp in expected.items():
        row = got[oid]
        for k, v in exp.items():
            if isinstance(v, float):
                assert row[k] == pytest.approx(v, abs=1e-6), (oid, k, row[k], v)
            else:
                assert row[k] == v, (oid, k, row[k], v)


def test_rejections_quarantined_not_dropped(engine_run, corpus, spark):
    offers, _, _ = corpus
    eng, _ = engine_run
    q = {r["url"]: r["reject_reason"] for r in eng.quarantine().collect()}
    robots_blocked = {o.offer_id for o in offers if o.ordinal % 23 == 21}
    for o in offers:
        if o.offer_id in robots_blocked:
            continue
        if o.golden_row() is None:
            assert o.url in q, f"rejected offer {o.offer_id} missing from quarantine"
            # precedence mirrors the reference: pydantic raises (range)
            # BEFORE the completeness gate (detail.py:92 then :94)
            if not o.year_built_valid():
                assert q[o.url] == "range"
            elif o.inquiry_price:
                assert q[o.url] == "no_price"
            elif o.missing_geo or o.out_of_bbox:
                assert q[o.url] == "no_geo"


def test_photos_match_golden(engine_run, corpus, spark):
    """W1 gallery numbering + image-id linkage + srcset best-width pick."""
    offers, _, _ = corpus
    eng, _ = engine_run
    got = {}
    for r in eng.photos().collect():
        got.setdefault(r["offer_id"], []).append(r)
    robots_blocked = {o.offer_id for o in offers if o.ordinal % 23 == 21}
    checked = 0
    for o in offers:
        if o.offer_id in robots_blocked or not o.photo_urls:
            continue
        rows = sorted(got.get(o.offer_id, []), key=lambda r: r["seq"])
        assert [r["seq"] for r in rows] == list(range(len(o.photo_urls))), o.offer_id
        assert [r["image_id"] for r in rows] == o.photo_image_ids, o.offer_id
        # W4: the srcset best-variant width lands in the photos table for
        # css pages (synth srcset is 400w/800w/1200w → 1200); JSON variants
        # carry no width (validate.py:58-60 keeps it nullable)
        for r in rows:
            assert r["width"] == (1200 if o.variant == "css" else None), (
                o.offer_id, o.variant, r["width"],
            )
        checked += 1
    assert checked > 20


def test_images_join_photos(engine_run, corpus, spark):
    """photos ⨝ images by image_id — every linked image decodes and captions
    carry the owning offer's descriptor (caption equality, input_hint)."""
    from realestate_scraper_spark.schemas import IMAGES_SCHEMA

    offers, images, _ = corpus
    eng, _ = engine_run
    img_df = spark.createDataFrame(images, schema=IMAGES_SCHEMA)
    joined = eng.photos().join(img_df, "image_id", "inner")
    by_offer = {o.offer_id: o for o in offers}
    for r in joined.select("offer_id", "caption").collect():
        assert r["caption"] == by_offer[r["offer_id"]].caption()


def test_checkpoint_and_metrics_written(engine_run, spark):
    eng, stats = engine_run
    cp = json.loads(Path(eng.checkpoint_path).read_text())
    assert set(cp) == {"otodom", "morizon", "gratka", "trojmiasto"}
    for src, row in cp.items():
        assert row["done"], src
        assert row["last_page_done"] == N_PAGES, src
    m = eng.t_metrics.read(spark)
    assert m.filter(F.col("stage") == "fetch").count() > 0
    assert stats["pages_fetched"] > 0
    # lineage manifests recorded per append
    assert len(eng.t_staged.lineage()) >= 1


def test_kill_and_resume_equals_uninterrupted(spark, corpus, tmp_path_factory, engine_run):
    """ST4: stop after 2 rounds, resume in a fresh engine, final tables equal
    the uninterrupted run's. The run dir holds no prefilter snapshot, and
    resume ignores one left by an older run (file and checkpoint key); the
    resumed engine's filter, built from the seen store on first read, has
    no false negative over the uninterrupted run's frontier."""
    import json
    import os

    _, _, graph = corpus
    run_dir = str(tmp_path_factory.mktemp("crawl_resume"))
    eng1 = CrawlEngine(spark, run_dir, graph, n_salts=2)
    eng1.seed(seed_urls())
    eng1.run(max_rounds=2)
    snapshot = os.path.join(run_dir, "bloom.npz")
    assert not os.path.exists(snapshot)
    with open(eng1.checkpoint_path) as f:
        state = json.load(f)
    for v in state.values():
        v["bloom_snapshot"] = snapshot
    with open(eng1.checkpoint_path, "w") as f:
        json.dump(state, f)
    with open(snapshot, "wb") as f:
        f.write(b"not a filter")

    eng2 = CrawlEngine.resume(spark, run_dir, graph, n_salts=2)
    resumed_state = json.loads(Path(eng2.checkpoint_path).read_text())
    assert resumed_state.keys() == state.keys()
    eng2.run(max_rounds=20)

    base, _ = engine_run
    a = {tuple(sorted(r.asDict().items())) for r in base.offers().collect()}
    b = {tuple(sorted(r.asDict().items())) for r in eng2.offers().collect()}
    assert a == b
    fa = {r["url_canon"] for r in base.frontier().collect()}
    fb = {r["url_canon"] for r in eng2.frontier().collect()}
    assert fa == fb
    flagged = eng2.bloom.filter_maybe_seen(
        base.frontier().select("url_hash64", "domain_salt")
    )
    assert flagged.filter(~F.col("maybe_seen")).count() == 0


def test_resume_preserves_fetch_fail_state(spark, tmp_path):
    """ADVICE r1: a resumed engine must restore the fetch_fail flag from the
    checkpoint — a drained-but-failed region must NOT flip to done/no_links
    on the resumed run's finalize; it completes only after retry_failed()."""
    from realestate_scraper_spark.sources.synth import (
        listing_url,
        make_offers,
        make_site_graph,
    )

    offers = make_offers(seed=42, n_pages=2, cards_per_page=5)
    graph = make_site_graph(offers, n_pages=2)
    broken = listing_url("morizon", 2)
    for row in graph:
        if row["url"] == broken:
            row["flaky"] = True

    run_dir = str(tmp_path / "rff")
    eng = CrawlEngine(spark, run_dir, graph, n_salts=2)
    eng.seed(seed_urls())
    eng.run(max_rounds=8)
    cp = json.loads(Path(eng.checkpoint_path).read_text())
    assert cp["morizon"]["stop_reason"] == "fetch_fail"

    eng2 = CrawlEngine.resume(spark, run_dir, graph, n_salts=2)
    eng2.run(max_rounds=8)  # nothing pending — must not stamp done/no_links
    cp = json.loads(Path(eng2.checkpoint_path).read_text())
    assert cp["morizon"]["stop_reason"] == "fetch_fail"
    assert not cp["morizon"]["done"]

    eng2.retry_failed()
    eng2.run(max_rounds=8)
    cp = json.loads(Path(eng2.checkpoint_path).read_text())
    assert cp["morizon"]["done"]
    assert cp["morizon"]["last_page_done"] == 2


def test_missing_area_backsolved_not_quarantined(engine_run, corpus):
    """F18 `(ar is None)` branch (morizon.py:591-593): offers whose page
    shows price + ppm2 but NO area must back-solve area = price/ppm2 and
    pass the completeness gate — not land in quarantine as 'incomplete'."""
    offers, _, _ = corpus
    eng, _ = engine_run
    affected = [
        o
        for o in offers
        if o.missing_area and o.golden_row() is not None and o.ordinal % 23 != 21
    ]
    assert affected, "adversarial case vacuous — widen the corpus"
    got = {r["offer_id"]: r.asDict() for r in eng.offers().collect()}
    for o in affected:
        row = got.get(o.offer_id)
        assert row is not None, f"{o.offer_id} quarantined despite back-solve"
        g = o.golden_row()
        assert row["area_m2"] == pytest.approx(g["area_m2"], abs=1e-6)
        # displayed ppm2 is KEPT, never recomputed from the corrected area
        assert row["price_per_m2"] == pytest.approx(g["price_per_m2"], abs=1e-6)


def test_missing_price_derived_from_ppm2_not_quarantined(engine_run, corpus):
    """F19 (otodom.py:158-165): offers whose page shows ppm2 + area but NO
    price must derive price = round(ppm2 × area) with currency PLN and pass
    the completeness gate — not land in quarantine as 'no_price'."""
    offers, _, _ = corpus
    eng, _ = engine_run
    affected = [
        o
        for o in offers
        if o.price_missing and not o.inquiry_price
        and o.golden_row() is not None and o.ordinal % 23 != 21
    ]
    assert affected, "adversarial case vacuous — widen the corpus"
    got = {r["offer_id"]: r.asDict() for r in eng.offers().collect()}
    for o in affected:
        row = got.get(o.offer_id)
        assert row is not None, f"{o.offer_id} quarantined despite F19 fill-in"
        g = o.golden_row()
        assert row["price_amount"] == pytest.approx(g["price_amount"], abs=1e-9)
        assert row["price_amount"] == float(int(row["price_amount"]))  # whole PLN
        assert row["price_currency"] == "PLN"


def test_relative_hrefs_absolutized(engine_run, corpus):
    """F4 (core/http.py:113-114): every 3rd listing-card href is rendered
    path-relative; the frontier must still record the ABSOLUTE canonical URL
    (no scheme-less garbage rows, no lost offers)."""
    eng, _ = engine_run
    fr = eng.frontier()
    bad = fr.filter(~F.col("url").rlike(r"^https?://")).count()
    assert bad == 0, "relative hrefs leaked into the frontier unabsolutized"


def test_hydrated_bounds_centre_geo_fallback(engine_run, corpus):
    """F16 (morizon.py:115-138): css pages with ord%47==9 carry coordinates
    ONLY as hydrated map bounds; the parser must take the bbox centre."""
    offers, _, _ = corpus
    eng, _ = engine_run
    affected = [
        o
        for o in offers
        if o.ordinal % 47 == 9 and o.variant == "css"
        and o.golden_row() is not None and o.ordinal % 23 != 21
    ]
    assert affected, "adversarial case vacuous — widen the corpus"
    got = {r["offer_id"]: r.asDict() for r in eng.offers().collect()}
    for o in affected:
        row = got.get(o.offer_id)
        assert row is not None, f"{o.offer_id} lost its bounds-only geo"
        assert row["lat"] == pytest.approx(o.lat, abs=1e-6)
        assert row["lon"] == pytest.approx(o.lon, abs=1e-6)


def test_city_slug_fallback_exercised(engine_run, corpus):
    """F8: css pages with ord%31==17 omit the address block; the engine must
    recover the city from the URL slug (guard that the case is non-vacuous
    and the fallback produces the exact city)."""
    offers, _, _ = corpus
    eng, _ = engine_run
    affected = [
        o
        for o in offers
        if o.ordinal % 31 == 17 and o.variant == "css"
        and o.golden_row() is not None and o.ordinal % 23 != 21
    ]
    assert affected, "adversarial case vacuous — widen the corpus"
    got = {r["offer_id"]: r["city"] for r in eng.offers().collect()}
    for o in affected:
        assert got.get(o.offer_id) == o.city, (o.offer_id, got.get(o.offer_id))


def test_geo_snap_override_with_osm_dim(spark, tmp_path):
    """J8 _snap_geo_if_far (morizon.py:472-487): an engine given the OSM
    streetwise memo OVERRIDES wrong-but-in-bbox page geo (>800 m rule) with
    the dim's point; without the dim the page value stands — per-row golden
    equality in both modes, honest rows identical across them."""
    from realestate_scraper_spark.sources.synth import geocode_dim_rows

    offers, _, graph = build_corpus(seed=42, n_pages=3, cards_per_page=4)
    adversaries = [o for o in offers if o.geo_snap_wrong]
    assert adversaries, "corpus must contain snap adversaries"
    dim = spark.createDataFrame(
        geocode_dim_rows(offers),
        "city string, street string, dim_lat double, dim_lon double",
    )

    def run(run_dir, **kw):
        eng = CrawlEngine(spark, run_dir, graph, n_salts=2, **kw)
        eng.seed(seed_urls())
        eng.run(max_rounds=12)
        return {r["offer_id"]: r.asDict() for r in eng.offers().collect()}

    with_dim = run(str(tmp_path / "snap"), geocode_dim=dim)
    without = run(str(tmp_path / "nosnap"))

    for o in offers:
        if o.offer_id in with_dim and o.ordinal % 23 != 21:
            g_snap = o.golden_row(osm_snap=True)
            g_page = o.golden_row()
            for k in ("lat", "lon"):
                assert with_dim[o.offer_id][k] == pytest.approx(
                    g_snap[k], abs=1e-6
                ), (o.offer_id, k, "with dim")
                assert without[o.offer_id][k] == pytest.approx(
                    g_page[k], abs=1e-6
                ), (o.offer_id, k, "without dim")
    for o in adversaries:
        # the override actually moved the adversary (≈2.5 km apart)
        assert with_dim[o.offer_id]["lat"] != without[o.offer_id]["lat"]


def test_alt_listing_url_fallback(spark, tmp_path):
    """O9 (morizon.py:631-635,672-679): morizon pages whose primary template
    serves an empty shell recover through the /nieruchomosci/ alternate
    spelling — the region completes the full pagination instead of stopping
    no_new, and the URL-seen set still equals the reference simulator's
    (which mirrors the same fallback)."""
    from realestate_scraper_spark.sources.synth import (
        make_offers,
        make_site_graph,
    )

    offers = make_offers(seed=42, n_pages=4, cards_per_page=5)
    graph = make_site_graph(offers, n_pages=4, alt_listing_mod=2)
    run_dir = str(tmp_path / "alt")
    eng = CrawlEngine(spark, run_dir, graph, n_salts=2)
    eng.seed(seed_urls())
    eng.run(max_rounds=20)

    yields, _, stop_reasons = simulate_reference_crawl(graph, seed_urls())
    ref_set = {y["url_canon"] for y in yields}
    got = {
        r["url_canon"]
        for r in eng.frontier().filter(F.col("kind") == "offer").collect()
    }
    assert got == ref_set
    # the fallback actually mattered: page-2/4 morizon offers were reachable
    # only through the alt spelling, and both crawls got them
    assert any(
        y["source"] == "morizon" and y["page_idx"] in (2, 4) for y in yields
    )
    assert any(
        o.source == "morizon"
        and o.page_idx in (2, 4)
        and o.url.replace("//", "//") in {y["url"] for y in yields}
        for o in offers
    )
    assert stop_reasons.get("morizon") != "no_new"


def test_q52_board_corpus_resume_equivalence(spark, tmp_path):
    """The q52 board row's flagship property the rows-only check can't see:
    on the EXACT board corpus and engine widths (plans/images_queries.q52 —
    1 listing page × 6 cards per portal, n_salts=2, append=1, 2 seen
    buckets), killing the crawl after round 1 and resuming yields offers
    VALUE-IDENTICAL to the uninterrupted run (ST4 + idempotent staging)."""
    _, _, graph = build_corpus(seed=42, n_pages=1, cards_per_page=6)
    widths = dict(
        n_salts=2, append_coalesce=1, seen_buckets=2, seen_compact_every=64
    )

    full = CrawlEngine(
        spark, str(tmp_path / "q52_full"), graph, **widths
    )
    full.seed(seed_urls())
    full.run(max_rounds=4)

    run_dir = str(tmp_path / "q52_killed")
    eng1 = CrawlEngine(spark, run_dir, graph, **widths)
    eng1.seed(seed_urls())
    eng1.run(max_rounds=1)  # killed mid-crawl after the first round
    eng2 = CrawlEngine.resume(spark, run_dir, graph, **widths)
    eng2.run(max_rounds=4)

    def rows(eng):
        return sorted(
            tuple(sorted(r.asDict().items())) for r in eng.offers().collect()
        )

    a, b = rows(full), rows(eng2)
    assert len(a) > 0
    assert a == b


def test_fused_stage_closure_stays_small(spark):
    """The fused fetch+parse closure must capture the page-store BROADCAST
    HANDLE, never its materialized value: a driver-side ``.value`` deref
    made every round's mapInPandas cloudpickle the whole corpus into the
    task binary (~2 s/round of core-invariant driver time at the fat depth
    cells). Pickle the stage against a deliberately bloated store and pin
    the closure size at handle scale."""
    import cloudpickle

    from realestate_scraper_spark.crawl.fetch import make_fetch_parse_stage

    big_store = {
        f"https://big.example/offer-{i}": ("x" * 10_000, True, 0, False, False, 0)
        for i in range(2_000)  # ~20 MB materialized
    }
    bc = spark.sparkContext.broadcast(big_store)
    try:
        stage = make_fetch_parse_stage(bc, n_salts=4)
        blob = cloudpickle.dumps(stage)
        assert len(blob) < 512_000, (
            f"fused stage closure pickled to {len(blob)} bytes — the page "
            "store is being captured by value again"
        )
    finally:
        bc.unpersist()


def test_fused_stage_types_round_trip(spark, corpus):
    """The fused stage's Arrow output reads back typed through Spark: a
    64-bit hash above 2**53 stays exact on its page row, link rows read
    NULL (not 0 or NaN) in every page-only field, page rows read NULL in
    the link-only fields, and the photo structs and feature arrays of an
    offer page come back as the parse cascade produced them."""
    from realestate_scraper_spark.crawl import fetch as fetch_mod
    from realestate_scraper_spark.crawl import parse as parse_mod

    def parsed(html):
        cols = {k: [] for k in parse_mod.RAW_COL_NAMES}
        parse_mod.append_parsed_offer(cols, html)
        return {k: v[0] for k, v in cols.items()}

    _, _, graph = corpus
    offer = next(
        r for r in graph
        if r["kind"] == "offer" and len(parsed(r["html"])["photo_urls"]) >= 2
    )
    want = parsed(offer["html"])
    assert want["raw_features"] and want["raw_rooms"] is not None
    listing_html = '<a href="/offer-a">a</a> <a href="/offer-b">b</a>'
    store = spark.sparkContext.broadcast({
        "https://t.example/list?page=1": (listing_html, True, 0, False, False, 0),
        "https://t.example/offer": (offer["html"], True, 0, False, False, 0),
    })
    big = [2**53 + 1, 2**63 - 3, -(2**62) - 5]
    fr = spark.createDataFrame(
        [
            ("u-list", "https://t.example/list?page=1", big[0], "t",
             "t.example", "t.example#0", "listing", 1, 0, 0, 0),
            ("u-offer", "https://t.example/offer", big[1], "t",
             "t.example", "t.example#0", "offer", 1, 3, 2, 1),
            ("u-gone", "https://t.example/gone", big[2], "t",
             "t.example", "t.example#0", "offer", 1, 4, 0, 0),
        ],
        "url string, url_canon string, url_hash64 long, source string, "
        "domain string, domain_salt string, kind string, page_idx int, "
        "slot int, sub_slot int, attempts int",
    )
    try:
        rows = fetch_mod.fetch_parse(fr, store, n_salts=1).collect()
    finally:
        store.unpersist()
    pages = {r["url"]: r for r in rows if r["row_kind"] == "page"}
    links = sorted(
        (r for r in rows if r["row_kind"] == "link"), key=lambda r: r["dom_idx"]
    )

    assert [pages[u]["url_hash64"] for u in ("u-list", "u-offer", "u-gone")] == big
    assert [pages[u]["fetch_status"] for u in ("u-list", "u-offer", "u-gone")] == [
        fetch_mod.FETCH_OK, fetch_mod.FETCH_OK, fetch_mod.FETCH_MISSING,
    ]
    for r in pages.values():
        assert r["dom_idx"] is None and r["href"] is None
        assert r["fetched_at_ms"] is not None
    assert (pages["u-offer"]["sub_slot"], pages["u-offer"]["attempts"]) == (2, 1)

    offer_row = pages["u-offer"].asDict(recursive=True)
    assert {k: offer_row[k] for k in parse_mod.RAW_COL_NAMES} == want
    for u in ("u-list", "u-gone"):
        assert pages[u]["parse_ok"] is False and pages[u]["photo_urls"] == []
        assert pages[u]["raw_rooms"] is None and pages[u]["raw_features"] is None

    assert [(r["dom_idx"], r["href"]) for r in links] == [
        (0, "/offer-a"), (1, "/offer-b"),
    ]
    for r in links:
        assert (r["url"], r["source"], r["kind"], r["page_idx"], r["slot"]) == (
            "u-list", "t", "listing", 1, 0,
        )
        assert r["parse_ok"] is False
        page_only = (
            "url_canon", "url_hash64", "domain", "domain_salt", "sub_slot",
            "attempts", "fetch_status", "fetched_at_ms",
            *(k for k in parse_mod.RAW_COL_NAMES if k != "parse_ok"),
        )
        assert {k: r[k] for k in page_only} == dict.fromkeys(page_only)


def test_every_crawl_job_is_phase_tagged(crawl_with_jobs):
    """Observability contract: every Spark job of the crawl lifecycle —
    seed's three bootstrap jobs, every per-round output job, and the five
    finalize writes — carries a ``spark.job.description`` phase tag,
    including jobs submitted from pool worker threads (where the main
    thread's thread-local description is invisible; engine._tagged re-tags
    them) and the query-stage jobs AQE would submit from its own futures
    (run() keeps AQE off throughout). The per-phase tables of
    scripts/scaling_bench.py group the status store's jobs by exactly this
    tag; the r5/r6 inverse-scaling root causes were found through it."""
    eng, _, jobs = crawl_with_jobs
    untagged = jobs.get("(untagged)", {}).get("jobs", 0)
    assert untagged == 0, f"{untagged} crawl jobs carry no phase tag: {jobs}"
    finalize = sum(
        row["jobs"] for tag, row in jobs.items() if tag.startswith("finalize_")
    )
    assert finalize <= 10, f"{finalize} finalize jobs: {jobs}"
    required = {
        "seed_snapshot", "seed_seen", "seed_bootstrap",
        "fetch_plan", "fetch_summary", "links_plan", "updates_plan",
        "insert_append", "update_append", "seen_append", "insert_deltas",
        "staged_plan", "staged_append", "staged_join",
        "run_finalize", "finalize_metrics", "finalize_compact",
        "finalize_offers", "finalize_photos", "finalize_quarantine",
    }
    missing = required - set(eng.phase_times)
    assert not missing, f"untimed crawl phases: {sorted(missing)}"
