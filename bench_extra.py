#!/usr/bin/env python
"""Round-7 optimization measurement harness (bench.py stays FROZEN).

Modes:
  queries  — time every headline query twice in one session (run1 = cold
             plan+codegen+scan, run2 = warm) through the noop sink, and
             dump .explain("formatted") to plans/r07/<q>_{before,after}.txt
  crawl    — run the EXACT bench.py crawl configuration once and print
             stats + the engine's per-phase wall attribution
  images   — time the image-decode stage like bench.py does

Usage: python bench_extra.py queries|crawl|images [--plans before|after|none]
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

from bench import HEADLINE, _force  # noqa: E402  (bench.main() is guarded)


def _spark():
    from realestate_scraper_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    extra = None
    evdir = os.environ.get("BX_EVLOG_DIR")
    if evdir:
        os.makedirs(evdir, exist_ok=True)
        extra = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evdir,
        }
    return get_spark(
        app_name="bench_extra", master=f"local[{cpus}]",
        shuffle_partitions=cpus, extra_conf=extra,
    ), cpus


def _warm(spark, sf_dir):
    """Same warmup block as bench.py (first-use execution paths)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from realestate_scraper_spark.session import local_df

    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    wdf = local_df(
        spark, [(i, f"k{i % 4}", float(i)) for i in range(64)],
        "id long, k string, v double", n_partitions=4,
    )
    _force(wdf.groupBy("k").agg(F.sum("v").alias("s"), F.avg("v").alias("a")))
    _force(wdf.repartition(8, "k").join(
        wdf.select(F.col("id").alias("id2"), "k"), "k"))
    _force(wdf.join(F.broadcast(wdf.select("k").distinct()), "k"))
    _force(wdf.withColumn(
        "r", F.row_number().over(Window.partitionBy("k").orderBy("v"))))
    _force(wdf.mapInPandas(lambda it: it, schema="id long, k string, v double"))
    wdf.write.mode("overwrite").parquet(
        os.path.join(tempfile.mkdtemp(prefix="bx_warm_"), "w"))


def mode_queries(plans_tag: str) -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from realestate_scraper_spark.plans import relational, trainingdata

    spark, _ = _spark()
    _warm(spark, sf_dir)
    registry: dict = {}
    registry.update(relational.REGISTRY)
    registry.update(trainingdata.REGISTRY)

    plans_dir = REPO / "plans" / "r07"
    plans_dir.mkdir(parents=True, exist_ok=True)
    out = {}
    for name in HEADLINE:
        fn, _sql = registry[name]
        spark.sparkContext.setJobDescription(name)
        df = fn(spark, sf_dir)
        if plans_tag != "none":
            import contextlib
            import io

            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            (plans_dir / f"{name}_{plans_tag}.txt").write_text(buf.getvalue())
        t0 = time.monotonic()
        _force(df)
        t1 = time.monotonic()
        _force(fn(spark, sf_dir))
        t2 = time.monotonic()
        out[name] = {"cold": round(t1 - t0, 3), "warm": round(t2 - t1, 3)}
        spark.sparkContext.setJobDescription(None)
    print(json.dumps(out, indent=1))


def mode_crawl() -> None:
    cpus_env = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark, cpus = _spark()
    from realestate_scraper_spark.crawl.engine import CrawlEngine
    from realestate_scraper_spark.sources.synth import (
        make_offers, make_site_graph, seed_urls,
    )

    offers = make_offers(seed=42, n_pages=4, cards_per_page=64)
    graph = make_site_graph(offers, n_pages=4)
    run_dir = tempfile.mkdtemp(prefix="bx_crawl_")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    t0 = time.monotonic()
    eng = CrawlEngine(
        spark, run_dir, graph, n_salts=16, lookahead=4,
        append_coalesce=4, seen_buckets=8,
    )
    eng.seed(seed_urls())
    stats = eng.run(max_rounds=30)
    crawl_sec = time.monotonic() - t0
    print(json.dumps({
        "crawl_sec": round(crawl_sec, 3),
        "stats": stats,
        "pages_per_sec": round(stats["pages_fetched"] / crawl_sec, 2),
        "phases": {k: round(v, 3) for k, v in sorted(eng.phase_times.items())},
        "cpus": cpus_env,
    }, indent=1))


def mode_images() -> None:
    spark, cpus = _spark()
    from realestate_scraper_spark.functions.images import (
        IMAGE_META_FIELDS, decode_meta_batches,
    )
    from realestate_scraper_spark.session import local_df
    from realestate_scraper_spark.sources.synth import (
        SYNTH_IMAGE_FIELDS, image_spec_rows, make_offers, synth_image_batches,
    )

    offers = make_offers(seed=42, n_pages=4, cards_per_page=64)
    img_path = os.path.join(tempfile.mkdtemp(prefix="bx_imgs_"), "images")
    specs = local_df(
        spark, image_spec_rows(offers),
        "image_id string, seed long, ordinal long, k long", n_partitions=cpus,
    )
    specs.repartition(cpus).mapInPandas(
        synth_image_batches, schema=SYNTH_IMAGE_FIELDS
    ).write.parquet(img_path)
    img_df = spark.read.parquet(img_path).repartition(cpus)
    n_images = img_df.count()
    timings = []
    for _ in range(3):
        t0 = time.monotonic()
        _force(
            img_df.select("image_id", "bytes").mapInPandas(
                decode_meta_batches, schema=IMAGE_META_FIELDS
            )
        )
        timings.append(round(time.monotonic() - t0, 3))
    print(json.dumps({"n_images": n_images, "decode_secs": timings}))


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "queries"
    tag = "none"
    if "--plans" in sys.argv:
        tag = sys.argv[sys.argv.index("--plans") + 1]
    if mode == "queries":
        mode_queries(tag)
    elif mode == "crawl":
        mode_crawl()
    elif mode == "images":
        mode_images()
    else:
        raise SystemExit(f"unknown mode {mode}")
