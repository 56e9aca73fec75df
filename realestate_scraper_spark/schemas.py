"""Canonical StructTypes for every engine table.

Mirrors the reference's logical data model (SURVEY.md §1) with fixed,
schema-on-write tables replacing its append-only CSVs:

- frontier      ← urls.csv            (scrapper/adapters/otodom.py:622 header)
- offers        ← offers.csv 11-col   (scrapper/pipelines/detail.py:22)
- offers_wide   ← storage 20-col      (scrapper/core/storage.py:13-20)
- photos        ← photos.csv          (scrapper/adapters/otodom.py:818-822)
- images        ← image blobs + meta  (BASELINE.json input_hint, non-negotiable)
- metrics       ← JSONL log events    (scrapper/core/log.py:10-27)
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------- frontier
# Status lifecycle of a frontier row (reference: implicit pending→ok/fail,
# scrapper/pipelines/detail.py:107-131).
STATUS_PENDING = "PENDING"
STATUS_FETCHED = "FETCHED"
STATUS_FAILED = "FAILED"
STATUS_DONE = "DONE"
# Permanently robots-blocked — distinct from FAILED so retry passes never
# re-enqueue URLs that can only re-fail (reference treats robots as a hard
# skip; ADVICE r1: don't collapse ROBOTS into FAILED).
STATUS_ROBOTS = "ROBOTS"
# 404/absent — terminal like ROBOTS. The engine treats MISSING as benign
# end-of-pagination (a portal 404s past the last page), so retry passes must
# never re-enqueue it: a missing URL can only re-miss (ADVICE r2: collapsing
# MISSING into FAILED made retry_failed() refetch beyond-end pages forever).
STATUS_MISSING = "MISSING"

FRONTIER_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("url_canon", T.StringType(), False),
        # murmur3_32 of url_canon (BASELINE.json: "murmur3-hashed URLs").
        T.StructField("url_hash32", T.IntegerType(), False),
        # xxhash64 of url_canon — Bloom-filter key (64-bit, low collision).
        T.StructField("url_hash64", T.LongType(), False),
        T.StructField("source", T.StringType(), False),
        T.StructField("domain", T.StringType(), False),
        # domain plus a small salt — partitioning key that breaks hot-domain
        # skew while keeping per-domain politeness accountable (north_rule).
        T.StructField("domain_salt", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),  # listing | offer
        # Total crawl-order key (SURVEY.md §2.5 W3): listing page the URL was
        # found on, DOM slot within the page, sub-slot for investment
        # expansion (otodom.py:539-604 depth-first sub-crawl).
        T.StructField("page_idx", T.IntegerType(), False),
        T.StructField("slot", T.IntegerType(), False),
        T.StructField("sub_slot", T.IntegerType(), False),
        T.StructField("offer_id", T.StringType(), True),
        T.StructField("status", T.StringType(), False),
        T.StructField("round", T.IntegerType(), False),  # crawl round discovered
        # Priority key (O12): smaller = sooner. freshness_days then depth.
        T.StructField("priority", T.LongType(), False),
        T.StructField("retry_at", T.DoubleType(), True),  # Retry-After re-enqueue (ST8)
        T.StructField("attempts", T.IntegerType(), False),  # retry rounds (ST5)
    ]
)

# ------------------------------------------------------------------ offers
# Canonical 11-column projection — scrapper/pipelines/detail.py:22.
OFFER_COLUMNS = [
    "offer_id",
    "source",
    "url",
    "price_amount",
    "price_currency",
    "price_per_m2",
    "city",
    "lat",
    "lon",
    "area_m2",
    "rooms",
]

OFFERS_SCHEMA = T.StructType(
    [
        T.StructField("offer_id", T.StringType(), False),
        T.StructField("source", T.StringType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("price_amount", T.DoubleType(), True),
        T.StructField("price_currency", T.StringType(), True),
        T.StructField("price_per_m2", T.DoubleType(), True),
        T.StructField("city", T.StringType(), True),
        T.StructField("lat", T.DoubleType(), True),
        T.StructField("lon", T.DoubleType(), True),
        T.StructField("area_m2", T.DoubleType(), True),
        T.StructField("rooms", T.IntegerType(), True),
    ]
)

# Wide storage variant — scrapper/core/storage.py:13-20 plus the validated
# pydantic-model breadth (validate.py:25-40: year_built, posted_at/updated_at,
# the list-typed features field).
OFFERS_WIDE_EXTRA = [
    "title",
    "district",
    "street",
    "floor",
    "floors",
    "market_type",
    "property_type",
    "year_built",
    "posted_at",
    "updated_at",
    "features",
    "first_seen",
    "last_seen",
]

# ------------------------------------------------------------------ photos
PHOTOS_SCHEMA = T.StructType(
    [
        T.StructField("offer_id", T.StringType(), False),
        T.StructField("seq", T.IntegerType(), False),  # 0..k-1 gallery order (W1)
        T.StructField("url", T.StringType(), False),
        T.StructField("image_id", T.StringType(), True),
        # srcset best-variant width (W4); height measured at decode time
        # (scrapper/core/validate.py:58-60 Photo.width/height)
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
    ]
)

# ------------------------------------------------------------------ images
# EXACT shape fixed by BASELINE.json input_hint:
# (image_id:string, bytes:binary, w:int32, h:int32, fmt:string,
#  caption:string, phash:int64)
IMAGES_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), False),
        T.StructField("w", T.IntegerType(), False),
        T.StructField("h", T.IntegerType(), False),
        T.StructField("fmt", T.StringType(), False),
        T.StructField("caption", T.StringType(), False),
        T.StructField("phash", T.LongType(), False),
    ]
)

# ----------------------------------------------------------------- metrics
# Per-partition lineage + counters (north_rule: "per-partition lineage +
# metrics"); replaces the JSONL log stream the reference replays for recovery
# (scrapper/cli.py:181-275).
METRICS_SCHEMA = T.StructType(
    [
        T.StructField("round", T.IntegerType(), False),
        T.StructField("stage", T.StringType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("domain_salt", T.StringType(), True),
        T.StructField("rows_in", T.LongType(), False),
        T.StructField("rows_out", T.LongType(), False),
        T.StructField("failures", T.LongType(), False),
        T.StructField("wall_ms", T.DoubleType(), False),
    ]
)

# -------------------------------------------------------------- site graph
# Deterministic synthetic web (FIXTURES.md §2) — replaces live portals.
SITE_GRAPH_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),  # listing | offer
        T.StructField("source", T.StringType(), False),
        T.StructField("page_idx", T.IntegerType(), False),
        T.StructField("child_urls", T.ArrayType(T.StringType()), False),
        T.StructField("html", T.StringType(), False),
        T.StructField("crawl_delay_ms", T.IntegerType(), False),
        T.StructField("robots_allow", T.BooleanType(), False),
    ]
)
