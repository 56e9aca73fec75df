#!/usr/bin/env python
"""spark-submit entry point for the crawl engine (north_rule: "run via
spark-submit --py-files on a multi-executor cluster").

Cluster usage:

    cd /root/repo && zip -r /tmp/engine.zip realestate_scraper_spark
    spark-submit --py-files /tmp/engine.zip \\
        --conf spark.sql.adaptive.enabled=true \\
        --conf spark.sql.adaptive.skewJoin.enabled=true \\
        scripts/run_crawl.py --run-dir /data/crawl_run --pages 50 --cards 64

Local sandbox: ``python scripts/run_crawl.py --run-dir /tmp/run`` (the
session factory picks local[$SPARK_GRAFT_CPUS]).

The job crawls the deterministic synthetic web (no network in the sandbox;
swap sources/synth for a real fetcher implementation of the same page-store
interface to crawl live portals) and prints a one-line JSON summary.
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

# When shipped via --py-files the package is on the PYTHONPATH already; when
# run from the repo, add the repo root.
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--pages", type=int, default=6)
    ap.add_argument("--cards", type=int, default=8)
    ap.add_argument("--n-salts", type=int, default=8)
    ap.add_argument("--max-pages", type=int, default=None)
    ap.add_argument("--offer-limit", type=int, default=None)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--retry-failed", action="store_true")
    ap.add_argument("--lookahead", type=int, default=0,
                    help="speculative pagination pages per fetched listing "
                         "(rounds ~ depth/lookahead; 0 = strict reference-"
                         "equivalent ordering)")
    ap.add_argument("--real-sleep", action="store_true",
                    help="enforce politeness in wall-clock (live crawls)")
    args = ap.parse_args()

    from realestate_scraper_spark.crawl.engine import CrawlEngine
    from realestate_scraper_spark.crawl.politeness import parse_robots_txt
    from realestate_scraper_spark.session import get_spark
    from realestate_scraper_spark.sources.synth import (
        make_offers,
        make_robots_txt,
        make_site_graph,
        seed_urls,
    )

    # on local-cluster[n,c,mem] get_spark returns once all n executors have
    # registered, before the engine sizes its exchanges off them
    spark = get_spark(app_name="crawl")
    offers = make_offers(seed=42, n_pages=args.pages, cards_per_page=args.cards)
    graph = make_site_graph(offers, n_pages=args.pages)
    rules = {
        dom: parse_robots_txt(dom, txt)
        for dom, txt in make_robots_txt(offers).items()
    }

    kw = dict(
        n_salts=args.n_salts,
        max_pages=args.max_pages,
        offer_limit=args.offer_limit,
        real_sleep=args.real_sleep,
        robots_rules=rules,
        lookahead=args.lookahead,
    )
    if args.resume:
        eng = CrawlEngine.resume(spark, args.run_dir, graph, **kw)
    else:
        eng = CrawlEngine(spark, args.run_dir, graph, **kw)
        eng.seed(seed_urls())
    if args.retry_failed:
        eng.retry_failed()
    stats = eng.run()
    offers_df = eng.offers()
    print(
        json.dumps(
            {
                **stats,
                "offers_rows": offers_df.count() if offers_df is not None else 0,
                "run_dir": args.run_dir,
            }
        )
    )


if __name__ == "__main__":
    main()
