"""Frontier eviction (re-crawl-after-TTL) and the deletable cuckoo
prefilter — the consumer of crawl/cuckoo.py (north_rule: "broadcast-
partitioned Bloom filter (with cuckoo-filter fallback for deletable
entries)").

The eviction semantics: a DONE offer URL older than the TTL is removed from
the durable bucketed seen store AND the in-memory prefilter, so the next
listing sweep that links it re-admits it through the exact anti-join as
a fresh PENDING row. The reference can only re-crawl by starting a whole run
over a fresh DedupeSet (cli.py:128-139); at a 10^10-URL frontier the
eviction must be surgical.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from realestate_scraper_spark.crawl import frontier as frontier_mod
from realestate_scraper_spark.crawl.engine import CrawlEngine
from realestate_scraper_spark.schemas import STATUS_DONE
from realestate_scraper_spark.sources.synth import build_corpus, seed_urls

N_PAGES = 2
CARDS = 4

_LINK_SCHEMA = (
    "source string, page_idx int, parent_url string, parent_slot int, "
    "parent_kind string, dom_idx int, href string"
)


def _rediscovery_candidates(spark, eng, row):
    """One link row re-linking an already-crawled offer URL (what a later
    listing sweep emits), pushed through the exact insert path the engine
    runs per round: classify → dedup exchange → bucketed anti-join."""
    links = spark.createDataFrame(
        [
            (
                row["source"], row["page_idx"],
                f"https://{row['domain']}/?page=1", 0, "listing", 0,
                row["url"],
            )
        ],
        _LINK_SCHEMA,
    )
    cands = frontier_mod.classify_and_key_links(
        links, eng.n_salts, dedup_partitions=eng.seen_store.n_buckets
    )
    return frontier_mod.anti_join_seen(cands, eng._seen())


@pytest.fixture(scope="module")
def cuckoo_run(spark, tmp_path_factory):
    _, _, graph = build_corpus(seed=42, n_pages=N_PAGES, cards_per_page=CARDS)
    run_dir = str(tmp_path_factory.mktemp("cuckoo_crawl"))
    eng = CrawlEngine(spark, run_dir, graph, n_salts=2, prefilter="cuckoo")
    eng.seed(seed_urls())
    stats = eng.run(max_rounds=12)
    return eng, stats


def test_cuckoo_prefilter_crawl_equals_bloom(spark, cuckoo_run, tmp_path_factory):
    """The prefilter choice is invisible to crawl semantics: identical
    frontier (url_canon, status) sets and offer counts under bloom vs
    cuckoo (false positives route through the same exact anti-join; false
    negatives cannot occur for inserted keys in either structure)."""
    eng, stats = cuckoo_run
    _, _, graph = build_corpus(seed=42, n_pages=N_PAGES, cards_per_page=CARDS)
    ref = CrawlEngine(
        spark, str(tmp_path_factory.mktemp("bloom_crawl")), graph, n_salts=2
    )
    ref.seed(seed_urls())
    ref_stats = ref.run(max_rounds=12)
    assert stats == ref_stats
    got = sorted(
        (r["url_canon"], r["status"]) for r in eng.frontier().collect()
    )
    want = sorted(
        (r["url_canon"], r["status"]) for r in ref.frontier().collect()
    )
    assert got == want
    assert eng.offers().count() == ref.offers().count()


def test_sharded_cuckoo_delete(spark, cuckoo_run):
    """The cuckoo filter built from the crawl's seen store holds every
    frontier URL, and deleting one key flips exactly that key to new."""
    eng, _ = cuckoo_run
    fr = eng.frontier().select("url_hash64", "domain_salt")
    flagged = eng.bloom.filter_maybe_seen(fr)
    # no false negatives on inserted keys
    assert flagged.filter(~F.col("maybe_seen")).count() == 0
    # delete one key → that key (and only structurally-colliding ones) drops
    one = fr.limit(1).localCheckpoint()
    assert eng.bloom.delete_df(one) == 1
    again = eng.bloom.filter_maybe_seen(one)
    assert again.filter(F.col("maybe_seen")).count() == 0
    # the key is still in the store: drop the filter so the next read
    # rebuilds it from the store for the tests after this one
    eng._bloom = None


def test_evict_seen_readmits_after_ttl(spark, cuckoo_run):
    """The end-to-end eviction property on the cuckoo path: a re-discovered
    DONE offer URL is blocked before eviction, admitted after; other URLs
    stay protected. (Runs LAST against the shared engine — it mutates the
    seen set.)"""
    eng, _ = cuckoo_run
    done = (
        eng.frontier()
        .filter((F.col("kind") == "offer") & (F.col("status") == STATUS_DONE))
        .select("url", "url_canon", "source", "domain", "page_idx")
        .limit(1)
        .collect()[0]
    )
    assert _rediscovery_candidates(spark, eng, done).count() == 0
    n = eng.evict_seen(ttl_rounds=0)
    assert n > 0
    fresh = _rediscovery_candidates(spark, eng, done)
    assert [r["url_canon"] for r in fresh.collect()] == [done["url_canon"]]
    # listing pages were NOT evicted (kind == "offer" only) — still blocked
    listing = (
        eng.frontier()
        .filter(F.col("kind") == "listing")
        .select("url", "url_canon", "source", "domain", "page_idx")
        .limit(1)
        .collect()[0]
    )
    assert _rediscovery_candidates(spark, eng, listing).count() == 0


def test_cuckoo_refcount_collision_survives_delete():
    """Two keys colliding on (bucket-pair, fingerprint) occupy ONE
    refcounted slot; deleting one leaves the other present — the false-
    negative-by-collision path ADVICE r5 flagged is closed."""
    import numpy as np

    from realestate_scraper_spark.crawl.cuckoo import CuckooFilter

    f = CuckooFilter(1 << 10)
    h1 = 123456789
    h2 = h1 + (f.nb << 16)  # same low-16 fp, same bucket → collision
    arr = np.array([h1, h2], dtype=np.int64)
    assert f._fp(arr)[0] == f._fp(arr)[1] and f._i1(arr)[0] == f._i1(arr)[1]
    assert f.insert(h1) and f.insert(h2)
    assert (f.counts > 0).sum() == 1 and f.counts.sum() == 2
    assert f.delete(h1)
    assert f.maybe_contains(np.array([h2])).all(), "collider must survive"
    assert f.delete(h2)
    assert not f.maybe_contains(np.array([h1, h2])).any()


def test_cuckoo_insert_paths_raise_on_overflow(spark):
    """The insert path may not silently drop a fingerprint (a dropped
    fingerprint is a future false negative → duplicate fetch): build
    raises when a shard outgrows its capacity."""
    from realestate_scraper_spark.crawl.cuckoo import ShardedCuckoo

    df = spark.range(1, 500).select(
        F.lit("d#0").alias("domain_salt"), F.col("id").alias("url_hash64")
    )
    with pytest.raises(RuntimeError, match="overflow"):
        ShardedCuckoo.build(df, expected_per_shard=8)
    # the same keys fit a shard sized for them
    assert ShardedCuckoo.build(df, expected_per_shard=1024).shards


def _synth_done_state(spark, eng, n_rows: int, old_cond):
    """Fabricate a frontier of ``n_rows`` DONE offer URLs (those matching
    ``old_cond`` discovered at round 0, the rest at round 10), push them
    into the durable seen store and read the prefilter so it is live — the
    exact state a long, probed crawl leaves behind, without paying for the
    crawl."""
    from realestate_scraper_spark.functions.urlnorm import (
        domain_salt as domain_salt_expr,
    )

    url = F.concat(F.lit("https://www.otodom.pl/pl/oferta/synt-"), F.col("id"))
    df = (
        spark.range(n_rows)
        .withColumn("domain_salt", domain_salt_expr(url, eng.n_salts))
        .select(
            url.alias("url"),
            url.alias("url_canon"),
            F.hash(url).alias("url_hash32"),
            F.xxhash64(url).alias("url_hash64"),
            F.lit("otodom").alias("source"),
            F.lit("www.otodom.pl").alias("domain"),
            "domain_salt",
            F.lit("offer").alias("kind"),
            F.lit(1).alias("page_idx"),
            F.col("id").cast("int").alias("slot"),
            F.lit(0).alias("sub_slot"),
            F.col("id").cast("string").alias("offer_id"),
            F.lit(STATUS_DONE).alias("status"),
            F.when(old_cond, F.lit(0)).otherwise(F.lit(10))
            .cast("int")
            .alias("round"),
            F.lit(0).cast("long").alias("priority"),
            F.lit(None).cast("double").alias("retry_at"),
            F.lit(0).alias("attempts"),
        )
    )
    eng.t_frontier.append(df, round_idx=0, stage="synth")
    snap = eng.frontier()
    eng.seen_store.ensure_registered()
    eng.seen_store.append(snap)
    eng.bloom  # builds the live filter from the store that now holds snap
    eng.round_idx = 10
    return snap


def test_evict_seen_volume_distributed_delete(spark, tmp_path, monkeypatch):
    """Scale gate (VERDICT r5 ask #1): TTL-evicting 10^5 URLs under the
    cuckoo prefilter must never collect O(evicted) rows — the per-shard
    applyInPandas delete ships ~KB table blobs only. Spied like
    test_no_frontier_row_collects."""
    _, _, graph = build_corpus(seed=42, n_pages=1, cards_per_page=2)
    eng = CrawlEngine(
        spark,
        str(tmp_path / "vol"),
        graph,
        n_salts=8,
        prefilter="cuckoo",
        prefilter_expected_per_shard=1 << 16,
    )
    n_rows, n_old = 100_000, 60_000
    _synth_done_state(spark, eng, n_rows, F.col("id") < n_old)

    sizes: list[int] = []
    df_cls = type(spark.range(1))
    orig = df_cls.collect

    def spy(self):
        rows = orig(self)
        sizes.append(len(rows))
        return rows

    monkeypatch.setattr(df_cls, "collect", spy)
    n = eng.evict_seen(ttl_rounds=5)  # rounds ≤ 5 → the n_old mass
    monkeypatch.setattr(df_cls, "collect", orig)

    assert n == n_old
    assert sizes, "no driver collects at all?"
    # blobs + metadata only: ≤ shards-scale, never ≈ evicted-row-scale
    assert max(sizes) <= 8 * eng.n_salts, f"driver collect of {max(sizes)} rows"
    assert eng.last_evict_stats["evicted"] == n_old
    assert eng.seen_store.df().count() == n_rows - n_old
    # the prefilter verdict flipped for evicted keys (a residual handful of
    # structural false positives — kept keys colliding on the same
    # (bucket, fp) — is the prefilter contract, routed to the exact join),
    # and held for EVERY kept key (false negatives are the unsound case)
    fr = eng.frontier().select("url_hash64", "domain_salt", "round")
    flagged = eng.bloom.filter_maybe_seen(fr)
    assert flagged.filter((F.col("round") == 0) & F.col("maybe_seen")).count() <= 20
    assert (
        flagged.filter((F.col("round") == 10) & ~F.col("maybe_seen")).count() == 0
    )
    # double-eviction handshake: same TTL window again is a no-op (the
    # store no longer holds those keys, so no refcount is decremented)
    assert eng.evict_seen(ttl_rounds=5) == 0
    flagged2 = eng.bloom.filter_maybe_seen(fr)
    assert (
        flagged2.filter((F.col("round") == 10) & ~F.col("maybe_seen")).count() == 0
    ), "repeated eviction must not create false negatives for kept keys"


def test_evict_seen_bloom_shard_local_rebuild(spark, tmp_path):
    """VERDICT r5 ask #2: the Bloom fallback rebuilds ONLY the shards that
    lost keys — rebuild row volume is the affected shards' post-delete
    mass, not the whole store."""
    _, _, graph = build_corpus(seed=42, n_pages=1, cards_per_page=2)
    eng = CrawlEngine(spark, str(tmp_path / "shardloc"), graph, n_salts=8)
    n_rows = 20_000
    # old = half of ONE salt shard → exactly one affected shard, partial
    old_cond = (F.col("domain_salt") == "www.otodom.pl#0") & (
        F.pmod(F.col("id"), F.lit(2)) == 0
    )
    snap = _synth_done_state(spark, eng, n_rows, old_cond)
    n_old = snap.filter(F.col("round") == 0).count()
    shard0_total = snap.filter(
        F.col("domain_salt") == "www.otodom.pl#0"
    ).count()
    assert 0 < n_old < shard0_total < n_rows

    before = {k: v.bits.copy() for k, v in eng.bloom.shards.items()}
    n = eng.evict_seen(ttl_rounds=5)
    assert n == n_old
    st = eng.last_evict_stats
    assert st["evicted"] == n_old
    assert st["affected_shards"] == 1
    # the rebuild re-keyed ONLY shard #0's surviving rows — O(affected
    # shards), not the O(seen) wholesale re-key the pre-r6 code did
    assert st["rebuilt_rows"] == shard0_total - n_old
    # untouched shards kept their exact bitmaps
    for k, bits in before.items():
        if k != "www.otodom.pl#0":
            assert (eng.bloom.shards[k].bits == bits).all(), k
    assert not (eng.bloom.shards["www.otodom.pl#0"].bits == before[
        "www.otodom.pl#0"
    ]).all()
    # kept keys still read seen; evicted keys read new
    fr = eng.frontier().select("url_hash64", "domain_salt", "round")
    flagged = eng.bloom.filter_maybe_seen(fr)
    assert (
        flagged.filter((F.col("round") == 10) & ~F.col("maybe_seen")).count() == 0
    )
    assert flagged.filter((F.col("round") == 0) & F.col("maybe_seen")).count() == 0


def test_evict_seen_bloom_fallback_rebuilds(spark, tmp_path):
    """Under the default Bloom prefilter eviction still works — the filter
    is rebuilt from the post-delete store (the O(seen) cost the cuckoo
    variant avoids)."""
    _, _, graph = build_corpus(seed=42, n_pages=1, cards_per_page=4)
    eng = CrawlEngine(spark, str(tmp_path / "bloom_evict"), graph, n_salts=2)
    eng.seed(seed_urls())
    eng.run(max_rounds=8)
    done = (
        eng.frontier()
        .filter((F.col("kind") == "offer") & (F.col("status") == STATUS_DONE))
        .select("url", "url_canon", "source", "domain", "page_idx")
        .limit(1)
        .collect()[0]
    )
    assert _rediscovery_candidates(spark, eng, done).count() == 0
    assert eng.evict_seen(ttl_rounds=0) > 0
    fresh = _rediscovery_candidates(spark, eng, done)
    assert [r["url_canon"] for r in fresh.collect()] == [done["url_canon"]]


def test_cuckoo_delete_broadcast_ships_affected_shards_only(spark, monkeypatch):
    """The distributed delete's broadcast payload is bounded by the shards
    the eviction set touches — a TTL window touching 1 of N shards must not
    ship the other N-1 shards' tables (O(affected), mirroring the Bloom
    path's shard-local rebuild)."""
    import numpy as np

    from realestate_scraper_spark.crawl.cuckoo import ShardedCuckoo

    df = spark.range(600).select(
        F.concat(F.lit("s"), (F.col("id") % 6).cast("string")).alias(
            "domain_salt"
        ),
        F.xxhash64("id").alias("url_hash64"),
    )
    filt = ShardedCuckoo.build(df, expected_per_shard=1024)
    before = dict(filt.shards)

    captured = []
    sc = spark.sparkContext
    orig = sc.broadcast

    def spy(value):
        captured.append(value)
        return orig(value)

    monkeypatch.setattr(sc, "broadcast", spy)
    removed = filt.delete_df(df.filter(F.col("domain_salt") == "s3"))
    monkeypatch.setattr(sc, "broadcast", orig)

    assert removed == 100
    payloads = [c for c in captured if isinstance(c, dict)]
    assert payloads, "delete_df broadcast not captured"
    assert set(payloads[-1]) == {"s3"}, sorted(payloads[-1])
    # untouched shard objects keep identity — never round-tripped
    assert all(filt.shards[k] is before[k] for k in before if k != "s3")
    # and the deleted shard's keys now read definitely-new
    hashes = np.array(
        [
            r["url_hash64"]
            for r in df.filter(F.col("domain_salt") == "s3").collect()
        ],
        dtype=np.int64,
    )
    assert not filt.shards["s3"].maybe_contains(hashes).any()
