"""Frontier construction and expansion — J4/SO2/SO4/W3 (SURVEY.md §2).

The frontier is the engine's ``urls.csv`` (scrapper/adapters/otodom.py:622)
re-imagined as a partitioned table with explicit crawl-order and priority
keys. All link classification, canonicalization and in-batch dedup here is
pure Spark expressions; the whole insert path (dedup + anti-join against the
seen set) runs on a SINGLE candidate-side shuffle (see
classify_and_key_links).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from realestate_scraper_spark.functions.codegen import ref_lit
from realestate_scraper_spark.functions.urlnorm import with_url_keys
from realestate_scraper_spark.schemas import FRONTIER_SCHEMA, STATUS_PENDING
from realestate_scraper_spark.session import local_df

# listing-page URL page-number parameter per source (synth.listing_url shapes)
_PAGE_PARAM_RE = r"[?&](?:page|strona)=(\d+)"
# investment (multi-unit development) pages — second crawl hop (SO2)
_INVESTMENT_RE = r"/pl/inwestycja/"


def priority_expr(page_idx, kind):
    """O12/W3: priority = (pagination depth, offers before deeper listings).

    Smaller = sooner. Freshness would prepend here once posted_at exists on
    listing cards; at crawl time pagination depth is the freshness proxy the
    reference uses (newest listings surface on page 1).
    """
    return (page_idx.cast("long") * 10 + F.when(kind == "offer", 0).otherwise(1))


def seed_frontier(
    spark: SparkSession, seeds: list[tuple[str, str]], n_salts: int = 8
) -> DataFrame:
    """(source, url) seed list → frontier rows.

    Seeds are classified like discovered links: URLs with a pagination param
    are listing pages (the `full`/`live` entry), everything else seeds as an
    offer page directly — the reference's `detail` re-parse entry point
    (scrapper/pipelines/detail.py:33-42 reads an arbitrary urls.csv)."""
    rows = []
    for slot, (source, url) in enumerate(seeds):
        m = re.search(_PAGE_PARAM_RE, url)
        kind = "listing" if m else "offer"
        page = int(m.group(1)) if m else 1
        rows.append((url, source, kind, page, slot if kind == "offer" else 0, 0))
    df = local_df(
        spark, rows,
        "url string, source string, kind string, page_idx int, slot int, sub_slot int",
    )
    return finish_new_rows(with_url_keys(df, n_salts=n_salts), 0)


def absolutize_href_expr(href, parent_url):
    """F4: resolve a possibly-relative href against the parent page URL —
    the reference's urljoin (core/http.py:113-114) as pure expressions.

    Covers the link shapes portals emit: absolute, protocol-relative
    (``//host/…``), path-absolute (``/…``), and bare-relative (resolved
    against the parent's directory). Exotic urljoin cases (``../``, ``./``)
    don't appear in crawl hrefs and fall through as parent_dir + href."""
    scheme = F.regexp_extract(parent_url, r"^(https?:)", 1)
    origin = F.regexp_extract(parent_url, r"^(https?://[^/?#]+)", 1)
    # greedy up-to-last-slash of the parent PATH (query/fragment excluded)
    parent_dir = F.regexp_extract(parent_url, r"^([^?#]*/)", 1)
    # a path-less parent ("https://host" or "https://host?page=2") has no
    # slash after the origin, so parent_dir degenerates to "scheme://" —
    # urljoin resolves a bare-relative href against the root there
    # (ADVICE r3): fall back to origin + "/" + href.
    rootless = parent_dir == F.concat(scheme, F.lit("//"))
    return (
        F.when(href.rlike(r"^https?://"), href)
        .when(href.startswith("//"), F.concat(scheme, href))
        .when(href.startswith("/"), F.concat(origin, href))
        .when(rootless, F.concat(origin, F.lit("/"), href))
        .otherwise(F.concat(parent_dir, href))
    )


_CLASSIFY_COLS: dict | None = None


def _classify_col_maps() -> tuple[dict, dict]:
    """Memoized projection maps for classify_and_key_links (built once per
    process — these Column trees are identical every crawl round)."""
    global _CLASSIFY_COLS
    if _CLASSIFY_COLS is not None:
        return _CLASSIFY_COLS
    href_map = {
        "href": absolutize_href_expr(F.col("href"), F.col("parent_url"))
    }
    page_from_url = F.regexp_extract(F.col("href"), _PAGE_PARAM_RE, 1)
    is_listing = page_from_url != ""
    is_investment = F.col("href").rlike(_INVESTMENT_RE)
    from_investment = F.col("parent_kind") == "investment"
    class_map = {
        "kind": F.when(is_listing, "listing")
        .when(is_investment, "investment")
        .otherwise("offer"),
        "page_idx": F.when(is_listing, page_from_url.cast("int")).otherwise(
            F.col("page_idx")
        ),
        # depth-first order keys: investment children keep the investment's
        # card slot and take their in-page position as sub_slot (W3)
        "slot": F.when(from_investment, F.col("parent_slot")).otherwise(
            F.col("dom_idx")
        ),
        "sub_slot": F.when(from_investment, F.col("dom_idx")).otherwise(
            F.lit(0)
        ),
    }
    _CLASSIFY_COLS = (href_map, class_map)
    return _CLASSIFY_COLS


# SO5 order keys: the candidate kept for a url_canon is the one with the
# smallest (page_idx, slot, sub_slot) — first DOM occurrence on the earliest
# page, same order the window-based dedup used (the remaining fields break
# exact-key ties deterministically, which row_number never guaranteed).
_DEDUP_ORDER = ("page_idx", "slot", "sub_slot")


def classify_and_key_links(
    links: DataFrame,
    n_salts: int,
    dedup_partitions: int | None = None,
    bloom=None,
) -> DataFrame:
    """Raw extracted links → typed frontier candidates.

    - hrefs are absolutized against the parent URL first (F4 — real portals
      mix relative and absolute links; core/http.py:113-114).
    - kind: listing iff the URL carries a pagination param; offer otherwise
      (P8: non-offer junk URLs are dropped later by the offer-id gate in
      refine; here every article link is one or the other by construction).
    - offers inherit the parent listing's page_idx (W3 crawl-order key);
      discovered listing pages get their own page number from the URL.
    - in-batch dedup keeps the first DOM occurrence (SO5: order-preserving)
      as ``min`` over the order-key struct instead of a window. A struct
      buffer is not hash-aggregable, so the physical agg is a SortAggregate
      — ONE per-partition sort of the round's candidate batch, O(batch),
      never O(frontier) (the window it replaced additionally funneled each
      partition through a single-threaded row_number pass) — and the one
      exchange it needs is ALIGNED with the seen store's buckets.

    ``dedup_partitions`` (the engine passes the seen store's bucket count):
    pre-partition on ``url_canon`` into exactly that many partitions, so the
    dedup aggregate AND the downstream bucketed anti-join both run on this
    single exchange — the r4 frontier-maintenance path paid three candidate
    shuffles per round (window sort, anti-join re-shuffle, append
    repartition); this collapses them to one.

    ``bloom``: optional, and the crawl round loop passes none — there every
    candidate takes the exact check, because the anti-join's build side
    hashes every seen bucket either way. When given (and non-empty), the
    prefilter's ``maybe_seen`` verdict is attached HERE, before the exchange. The membership test is an Arrow
    pandas UDF, and ``EvalPythonExec`` does not propagate its child's
    output partitioning — a post-shuffle Bloom test (the r4 shape) silently
    re-inserted an ENSURE_REQUIREMENTS exchange in front of the bucketed
    anti-join. Pre-exchange the flag is a narrow map; it rides through the
    dedup struct unchanged (it is a function of ``url_canon``, the grouping
    key) and ``anti_join_seen`` splits on it with no data movement.
    """
    href_map, class_map = _classify_col_maps()
    candidates = (
        links.withColumns(href_map)
        .withColumns(class_map)
        .withColumnRenamed("href", "url")
        .select("url", "source", "kind", "page_idx", "slot", "sub_slot")
    )
    keyed = with_url_keys(candidates, n_salts=n_salts)
    if bloom is not None and bloom.shards:
        keyed = bloom.filter_maybe_seen(keyed)
    if dedup_partitions:
        keyed = keyed.repartition(dedup_partitions, F.col("url_canon"))
    rest = [
        c for c in keyed.columns
        if c != "url_canon" and c not in _DEDUP_ORDER
    ]
    packed = F.struct(*_DEDUP_ORDER, *rest)
    return (
        keyed.groupBy("url_canon")
        .agg(F.min(packed).alias("_first"))
        .select("url_canon", "_first.*")
    )


_FINISH_STATIC: dict | None = None


def finish_new_rows(candidates: DataFrame, round_idx: int) -> DataFrame:
    """Keyed candidates (from classify_and_key_links) → full frontier rows.

    All columns but the per-round ``round`` literal are memoized."""
    global _FINISH_STATIC
    if _FINISH_STATIC is None:
        _FINISH_STATIC = {
            "offer_id": F.lit(None).cast("string"),
            "status": F.lit(STATUS_PENDING),
            "priority": priority_expr(F.col("page_idx"), F.col("kind")),
            "retry_at": F.lit(None).cast("double"),
            "attempts": F.lit(0),
        }
    s = _FINISH_STATIC
    return candidates.select(
        "url",
        "url_canon",
        "url_hash32",
        "url_hash64",
        "source",
        "domain",
        "domain_salt",
        "kind",
        "page_idx",
        "slot",
        "sub_slot",
        s["offer_id"].alias("offer_id"),
        s["status"].alias("status"),
        # ref_lit: this projection lands in the insert write stage (dedup
        # agg + seen anti-join + write — a fat codegen unit rebuilt every
        # round); an inlined round literal would recompile it per round
        # (functions/codegen.py)
        ref_lit(round_idx, "int").alias("round"),
        s["priority"].alias("priority"),
        s["retry_at"].alias("retry_at"),
        s["attempts"].alias("attempts"),
    )


def anti_join_seen(
    candidates: DataFrame, seen: DataFrame, bloom=None
) -> DataFrame:
    """O1/J4: drop already-seen URLs with the exact anti-join, optionally
    gated by a prefilter verdict (the crawl round loop passes no filter).

    The prefilter verdict (``maybe_seen``) gates the exact check as an extra
    conjunct INSIDE one LeftAnti join condition::

        candidates LEFT ANTI JOIN seen
            ON cand.url_canon = seen.url_canon AND cand.maybe_seen

    A definitely-new row (``maybe_seen`` false — impossible for a Bloom to
    get wrong; deliberate for an evicted cuckoo fingerprint) can never
    satisfy the condition, so it is admitted without the exact check; a
    maybe-seen row is admitted iff its URL is absent from the store. These
    are exactly the semantics of the former fresh/maybe split — but as ONE
    plan branch. The split (two filters + unionByName over the same
    aggregate) made Catalyst DUPLICATE the whole upstream candidate
    pipeline: the classify regexes, the Arrow prefilter UDF and the dedup
    aggregate each ran twice per round (measured in the r5 depth probe —
    the duplicated subtree was the largest core-count-invariant slice of
    the round loop).

    Join strategy: ``shuffle_hash`` hint on the seen side. Both sides
    already satisfy the join's distribution (candidates were exchanged onto
    the store's bucket count by classify_and_key_links; the bucketed scan
    reports its own partitioning), so the hint only picks the ALGORITHM:
    a per-bucket hash set of the seen bucket, candidates streamed through
    it — no sort of either side, and never a driver-side broadcast of the
    GROWING seen store (which is what Catalyst's size estimate picks at
    small scale, re-collecting the whole store every round). Per-task build
    memory is one bucket = seen/n_buckets rows, and n_buckets derives from
    cluster parallelism (engine.py), so the build stays bounded at 10^10
    URLs — the sharded in-memory DedupeSet of the reference
    (scrapper/core/dedup.py:17-27), one shard per bucket task.

    The exact join keys on ``url_canon`` (the full canonical string), NOT
    on xxhash64: at 10^10 URLs the 64-bit birthday bound yields ~3 expected
    collisions, and a collision in the anti-join silently drops a distinct
    URL. Hashes are for the Bloom prefilter only.

    When ``candidates`` already carries ``maybe_seen`` (attached
    pre-exchange by classify_and_key_links — see its docstring for why),
    the condition reuses it; otherwise the flag is computed here (or, with
    no prefilter at all, the condition degenerates to the plain equi-anti).
    """
    seen_side = seen.select("url_canon").hint("shuffle_hash")
    if "maybe_seen" not in candidates.columns:
        if bloom is None or not bloom.shards:
            return candidates.join(
                seen_side, on="url_canon", how="left_anti"
            )
        candidates = bloom.filter_maybe_seen(candidates)
    cand = candidates.alias("cand")
    cond = (
        F.col("cand.url_canon") == F.col("seen.url_canon")
    ) & F.col("cand.maybe_seen")
    return (
        cand.join(seen_side.alias("seen"), cond, "left_anti")
        .drop("maybe_seen")
    )


def assert_frontier_schema(df: DataFrame) -> None:
    expected = [f.name for f in FRONTIER_SCHEMA.fields]
    got = df.columns
    assert got == expected, f"frontier columns {got} != {expected}"
