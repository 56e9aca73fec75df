#!/usr/bin/env python
"""Eviction at volume (VERDICT r5 ask #3): TTL-evict ~10^5 URLs out of a
10^6-URL seen state and measure the two prefilter maintenance strategies
side by side:

- **cuckoo in-place delete** — per-shard applyInPandas vector delete
  (crawl/cuckoo.ShardedCuckoo.delete_df): cost ∝ evicted keys, independent
  of the seen-set size;
- **bloom shard-local rebuild** — re-key + re-build only the shards that
  lost keys (engine.evict_seen fallback): cost ∝ the affected shards'
  TOTAL mass (survivors included), because a Bloom filter cannot subtract.

Two eviction shapes expose the crossover:

- *uniform* (every 10th URL, the common TTL shape): every shard is
  affected, so the bloom rebuild re-keys the whole store — the O(seen)
  cost the cuckoo variant exists to avoid;
- *concentrated* (two of 16 salt shards): the bloom rebuild touches ~1/8
  of the store and closes most of the gap.

The r5 wholesale rebuild (re-key the ENTIRE store regardless of shape) is
timed alongside for reference. Rewrites its own section of
BENCH/BASELINE.md and leaves every other section as it is.
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from scaling_bench import replace_own_section  # noqa: E402

MARKER = "## Eviction at volume"
N_ROWS = 1_000_000
N_SALTS = 16
CPUS = 16


def synth_done_state(spark, eng, n_rows: int, old_cond):
    """A frontier of ``n_rows`` DONE offer URLs (``old_cond`` rows at round
    0, the rest at round 10) pushed into the seen store + prefilter — the
    state a long crawl leaves behind, without paying for the crawl."""
    from pyspark.sql import functions as F

    from realestate_scraper_spark.functions.urlnorm import (
        domain_salt as domain_salt_expr,
    )
    from realestate_scraper_spark.schemas import STATUS_DONE

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
    eng.seen_store.append(snap)
    eng.bloom  # builds the live filter from the store that now holds snap
    eng.round_idx = 10


def run_cell(spark, graph, prefilter: str, shape: str) -> dict:
    from pyspark.sql import functions as F

    from realestate_scraper_spark.crawl.engine import CrawlEngine

    run_dir = tempfile.mkdtemp(prefix=f"evict_{prefilter}_{shape}_")
    eng = CrawlEngine(
        spark,
        run_dir,
        graph,
        n_salts=N_SALTS,
        prefilter=prefilter,
        prefilter_expected_per_shard=1 << 17,
    )
    if shape == "uniform":
        old_cond = F.pmod(F.col("id"), F.lit(10)) == 0
    else:  # concentrated: HALF of two of the 16 salt shards (partial
        # shards, so the bloom rebuild has survivors to re-key)
        old_cond = F.col("domain_salt").isin(
            "www.otodom.pl#0", "www.otodom.pl#1"
        ) & (F.pmod(F.col("id"), F.lit(2)) == 0)
    t0 = time.monotonic()
    synth_done_state(spark, eng, N_ROWS, old_cond)
    build_sec = time.monotonic() - t0

    t0 = time.monotonic()
    n = eng.evict_seen(ttl_rounds=5)
    wall = time.monotonic() - t0
    out = {
        "prefilter": prefilter,
        "shape": shape,
        "seen_rows": N_ROWS,
        "evicted": n,
        "evict_sec": round(wall, 2),
        "store_delete_sec": round(eng.phase_times.get("evict_store", 0.0), 2),
        "prefilter_sec": round(eng.phase_times.get("evict_prefilter", 0.0), 2),
        "affected_shards": eng.last_evict_stats["affected_shards"],
        "rebuilt_rows": eng.last_evict_stats["rebuilt_rows"],
        "state_build_sec": round(build_sec, 2),
    }
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(out), flush=True)
    return out


def main() -> None:
    from realestate_scraper_spark.session import get_spark
    from realestate_scraper_spark.sources.synth import build_corpus

    spark = get_spark(
        app_name="eviction_bench",
        master=f"local[{CPUS}]",
        shuffle_partitions=2 * CPUS,
    )
    _, _, graph = build_corpus(seed=42, n_pages=1, cards_per_page=2)

    cells = [
        run_cell(spark, graph, pf, shape)
        for shape in ("uniform", "concentrated")
        for pf in ("cuckoo", "bloom")
    ]

    # r5 reference: the wholesale rebuild (re-key + rebuild the WHOLE
    # store), the cost the shard-local path replaced
    from pyspark.sql import functions as F

    from realestate_scraper_spark.crawl.bloom import ShardedBloom
    from realestate_scraper_spark.functions.urlnorm import (
        domain_salt as domain_salt_expr,
    )

    url = F.concat(F.lit("https://www.otodom.pl/pl/oferta/synt-"), F.col("id"))
    keyed = spark.range(N_ROWS).select(
        url.alias("url_canon"),
        F.xxhash64(url).alias("url_hash64"),
        domain_salt_expr(url, N_SALTS).alias("domain_salt"),
    )
    t0 = time.monotonic()
    ShardedBloom.build(keyed, expected_per_shard=1 << 17)
    wholesale_sec = time.monotonic() - t0
    print(json.dumps({"r5_wholesale_rebuild_sec": round(wholesale_sec, 2)}))

    by = {(c["prefilter"], c["shape"]): c for c in cells}
    u_c, u_b = by[("cuckoo", "uniform")], by[("bloom", "uniform")]
    c_c, c_b = by[("cuckoo", "concentrated")], by[("bloom", "concentrated")]

    lines = [
        MARKER,
        "",
        f"TTL-evicting ~10^5 of {N_ROWS:,} seen URLs ({N_SALTS} domain#salt "
        f"shards, local[{CPUS}], `scripts/eviction_bench.py`). The durable "
        "store delete (bucket-parallel anti-join rewrite) is common to both "
        "prefilters; the columns that differ are the prefilter-maintenance "
        "walls. Cuckoo deletes fingerprints in place (per-shard "
        "applyInPandas vector delete, cost ∝ evicted); Bloom cannot "
        "subtract and re-builds the affected shards (cost ∝ affected-shard "
        "mass, survivors included).",
        "",
        "| eviction shape | evicted | affected shards | cuckoo prefilter s "
        "| bloom shard-local rebuild s (rows re-keyed) | store delete s "
        "(common) |",
        "|---|---|---|---|---|---|",
        f"| uniform (every 10th URL) | {u_c['evicted']:,} | "
        f"{u_c['affected_shards']}/{N_SALTS} | {u_c['prefilter_sec']} | "
        f"{u_b['prefilter_sec']} ({u_b['rebuilt_rows']:,}) | "
        f"~{u_c['store_delete_sec']} |",
        f"| concentrated (2/{N_SALTS} shards) | {c_c['evicted']:,} | "
        f"{c_c['affected_shards']}/{N_SALTS} | {c_c['prefilter_sec']} | "
        f"{c_b['prefilter_sec']} ({c_b['rebuilt_rows']:,}) | "
        f"~{c_c['store_delete_sec']} |",
        "",
        f"- r5 wholesale rebuild (re-key the whole {N_ROWS/1e6:.0f}M-row "
        f"store, any shape): **{wholesale_sec:.1f} s** — the cost the "
        "shard-local path replaced; under uniform eviction the shard-local "
        "rebuild degenerates to exactly this shape (every shard affected). "
        "(Timed over a synthetic range scan — the in-engine walls above "
        "additionally pay the bucketed-store read-back + checkpoint, which "
        "is why the 900k-row shard-local cell reads higher; the per-row "
        "build cost is identical.)",
        "- **Crossover**: the bloom fallback is competitive only while the "
        "affected shards' total mass stays near the evicted mass "
        "(concentrated evictions); for the common uniform-TTL shape the "
        "cuckoo in-place delete costs "
        f"{u_c['prefilter_sec']:.1f} s vs {u_b['prefilter_sec']:.1f} s and "
        "the gap widens linearly with seen-set size (the rebuild re-keys "
        "survivors; the delete never touches them). At 10^10 URLs the "
        "rebuild is ~10^4× the eviction mass — the cuckoo path is the only "
        "viable one, which is why it exists (north_rule: \"cuckoo-filter "
        "fallback for deletable entries\").",
        "- Store-delete wall is shape-invariant (bucket-parallel rewrite "
        "of survivors) and amortizes across however many TTL windows a "
        "compaction cadence batches together.",
        "",
        "```json",
        *[json.dumps(c) for c in cells],
        json.dumps({"r5_wholesale_rebuild_sec": round(wholesale_sec, 2)}),
        "```",
        "",
    ]
    md_path = REPO / "BENCH" / "BASELINE.md"
    md_path.write_text(replace_own_section(md_path.read_text(), lines, MARKER))
    print("written to", md_path)
    spark.stop()


if __name__ == "__main__":
    main()
