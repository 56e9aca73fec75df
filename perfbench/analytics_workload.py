"""``analytics_sf0.1``: closed loop over the 14 bench.py headline queries.

One client cycles the headline queries (each forced through the noop
sink) over seeded sf0.1-sized tables, and after every pass runs the
``decode_meta_batches`` image stage over a seeded image table, as bench.py
does. An operation is one pass: the 14 queries and the decode. Set-up ends
with one untimed, unchecked warm-up pass. Then, before the timed loop, every
query is compared with its DuckDB oracle under ``tests/duck_compare``'s
rules, on sf0.01 tables of the same seed, and the decoded ``w``/``h``/``fmt``
with the generator's spec.
"""

from __future__ import annotations

import time
import traceback
from concurrent.futures import ThreadPoolExecutor

import tablegen
from harness import force, median

# the image table holds the photos of one listing page × 64 cards per portal
# (541 images), a quarter of bench.py's, so a run stays near a minute and
# the queries, not the decode, take most of a pass
N_IMAGE_PAGES = 1


def run(sess, tr, work, seed: int, seconds: float, log) -> dict:
    from bench import HEADLINE
    from pyspark.sql import functions as F

    from realestate_scraper_spark.functions.images import (
        IMAGE_META_FIELDS,
        decode_meta_batches,
    )
    from realestate_scraper_spark.plans import relational, trainingdata
    from tests.duck_compare import run_oracle, to_multiset

    spark, cpus = sess.spark, sess.cpus
    layer: dict[str, float] = {}
    queries = {
        name: (*relational.REGISTRY[name], "plans.relational")
        if name in relational.REGISTRY
        else (*trainingdata.REGISTRY[name], "plans.trainingdata")
        for name in HEADLINE
    }
    tables = str(work / "tables")
    check_tables = str(work / "tables-sf0.01")
    img_path = str(work / "images.parquet")

    # ---- inputs (not part of set-up time): seeded tables + image table
    t0 = time.monotonic()
    with tr.span("sources.synth"):
        tablegen.write_tables(tables, seed)
        tablegen.write_tables(check_tables, seed, sf="0.01")
        n_images = tablegen.write_images(img_path, seed, N_IMAGE_PAGES)
    layer["synth.corpus_s"] = time.monotonic() - t0
    images = spark.read.parquet(img_path).repartition(cpus)

    def decode():
        return images.select("image_id", "bytes").mapInPandas(
            decode_meta_batches, schema=IMAGE_META_FIELDS
        )

    attempted = failed = 0
    walls: list[float] = []
    cpu: list[float] = []
    per_query: dict[str, list[float]] = {q: [] for q in queries}
    decode_walls: list[float] = []
    tasks: dict[str, int] = {}

    def one_pass(rep, timed: bool) -> None:
        """The 14 queries through noop, then the decode stage."""
        nonlocal attempted, failed
        for name, (fn, _sql, span) in queries.items():
            attempted += 1
            jobs0 = sess.job_ids() if timed and tr.enabled else set()
            t = time.monotonic()
            try:
                with tr.span(span, rep):
                    force(fn(spark, tables))
            except Exception:
                failed += 1
                log(f"{name}: {traceback.format_exc()}")
                continue
            if timed:
                per_query[name].append(time.monotonic() - t)
                if tr.enabled:
                    tasks[name] = sess.job_counts(sess.job_ids() - jobs0)["tasks"]
        attempted += 1
        t = time.monotonic()
        try:
            with tr.span("functions.images", rep):
                force(decode())
        except Exception:
            failed += 1
            log(f"image decode: {traceback.format_exc()}")
        else:
            if timed:
                decode_walls.append(time.monotonic() - t)

    def check() -> tuple[int, int]:
        """Every query against its DuckDB oracle, every decoded w/h/fmt
        against the generator's spec; returns (checks, failures). The
        oracles of the minhash queries take DuckDB about 40 s on the sf0.1
        tables, which a run cannot afford, so the check runs the same plans
        on the sf0.01 tables of the same seed. The rules are
        tests/duck_compare.compare's (same sorted columns, equal multisets
        of normalised rows). Spark and DuckDB run the small jobs side by
        side."""

        def spark_rows(fn):
            return to_multiset(fn(spark, check_tables).toPandas())

        def decode_errors():
            wrong = (
                ~F.col("d.decode_ok")
                | (F.col("d.w") != F.col("i.w"))
                | (F.col("d.h") != F.col("i.h"))
                | (F.col("d.fmt") != F.col("i.fmt"))
            )
            return decode().alias("d").join(images.alias("i"), "image_id").agg(
                F.count("*"), F.sum(wrong.cast("int"))
            ).first()

        bad_queries = 0
        with ThreadPoolExecutor(cpus) as pool:
            decoded = pool.submit(decode_errors)
            checks = {
                name: (pool.submit(spark_rows, fn),
                       pool.submit(lambda sql=sql: to_multiset(run_oracle(sql, check_tables))))
                for name, (fn, sql, _span) in queries.items()
            }
            for name, (got, want) in checks.items():
                got, want = got.result(), want.result()
                if got != want:
                    bad_queries += 1
                    log(f"{name} differs from its DuckDB oracle on sf0.01 tables: columns "
                        f"{got[0]} vs {want[0]}, {len(got[1])} vs {len(want[1])} rows")
            n_dec, bad = decoded.result()
        if bad or n_dec != n_images:
            log(f"image decode: {bad} rows differ from spec, {n_dec}/{n_images} decoded")
        return len(checks) + 1, bad_queries + bool(bad or n_dec != n_images)

    # ---- set-up ends with one untimed, unchecked warm-up pass
    cpu0, t1 = sess.cpu_s(), time.monotonic()
    one_pass("warm", timed=False)
    layer["warm.pass_s"] = time.monotonic() - t1
    setup_cpu_s = sess.cpu_s() - cpu0

    # ---- correctness gate, outside set-up and before the timed loop: it
    # runs every plan once more, so less first use lands in the timed pass
    t2 = time.monotonic()
    n_checks, n_bad = check()
    attempted += n_checks
    failed += n_bad
    log(f"inputs {layer['synth.corpus_s']:.1f} s, warm-up pass {layer['warm.pass_s']:.1f} s, "
        f"check {time.monotonic() - t2:.1f} s")

    # ---- timed closed loop: whole passes until the window has passed (one
    # when traced). A pass is the operation: the median of its 15 unlike
    # steps spread twice as wide between runs as the pass total.
    loop_t0 = time.monotonic()
    while True:
        cpu0, pass_t0 = sess.cpu_s(), time.monotonic()
        one_pass(len(walls), timed=True)
        walls.append(time.monotonic() - pass_t0)
        cpu.append(sess.cpu_s() - cpu0)
        if tr.enabled or time.monotonic() - loop_t0 >= seconds:
            break
    peak_rss_mb = sess.peak_rss_mb()

    if tr.enabled:
        for name in queries:
            layer[f"query.{name}_s"] = median(per_query[name]) if per_query[name] else 0.0
            layer[f"query.{name}_tasks"] = tasks.get(name, 0)
        q_walls = [w for ws in per_query.values() for w in ws]
        layer["query.s_p50"] = median(q_walls) if q_walls else 0.0
        if decode_walls:
            layer["images.decode_s"] = median(decode_walls)
            layer["images.per_s"] = n_images / median(decode_walls)
    return {
        "attempted": attempted,
        "failed": failed,
        "setup_cpu_s": setup_cpu_s,
        "walls": walls,
        "cpu": cpu,
        "peak_rss_mb": peak_rss_mb,
        "layer": layer,
    }
