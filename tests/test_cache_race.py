"""One round schedule on every master: summary first, outputs joined
before the checkpoint.

The round's output jobs (staged, insert, update) all read the fused
fetch+parse cache. Racing them over an UNCACHED partition is compute-once
only inside a single JVM, where the BlockManager's per-block get-or-compute
lock serializes racing computes; on a multi-executor master (local-cluster /
standalone / YARN / k8s) that lock is executor-local, so two racing jobs can
compute the SAME partition on different executors and re-run the fused
python parse up to min(racers, executors) times per round. The engine
therefore runs the fetch summary first on every master: its one narrow pass
materializes the cache, and the output jobs then read warm blocks.

These tests pin compute-once under that order in one JVM (local[N]) and on
real local-cluster executor JVMs (via a subprocess — a second SparkSession
cannot share this suite's gateway), and that a round's checkpoint is written
only after its staged offers append has landed.
"""

from __future__ import annotations

import json
import subprocess
import sys
import tempfile
import textwrap
import threading
import time

from realestate_scraper_spark.crawl.engine import CrawlEngine
from realestate_scraper_spark.sources.synth import (
    make_offers,
    make_site_graph,
    seed_urls,
)
from tests.conftest import REPO


def test_local_order_is_compute_once(spark, tmp_path):
    """local[N]: the round's consumers (summary, then staged / insert /
    update) share ONE compute of every fused-stage partition — the
    accumulator ticks once per partition compute, so it must read exactly
    rounds x fetch-exchange-width."""
    offers = make_offers(seed=42, n_pages=3, cards_per_page=8)
    graph = make_site_graph(offers, n_pages=3, page_weight_kb=8)
    eng = CrawlEngine(spark, str(tmp_path / "run"), graph, lookahead=2)
    eng.parse_computes_acc = spark.sparkContext.accumulator(0)
    eng.seed(seed_urls())
    stats = eng.run(max_rounds=10)
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert stats["rounds"] > 0
    assert eng.parse_computes_acc.value == stats["rounds"] * n_part


_PROBE = textwrap.dedent(
    """
    import sys, tempfile
    sys.path.insert(0, {repo!r})
    from realestate_scraper_spark.session import get_spark
    from realestate_scraper_spark.crawl.engine import CrawlEngine
    from realestate_scraper_spark.sources.synth import (
        make_offers, make_site_graph, seed_urls,
    )

    spark = get_spark(
        app_name="mjvm-race-test", master="local-cluster[2,2,2048]",
        shuffle_partitions=4,
        extra_conf={{"spark.executorEnv.PYTHONPATH": {repo!r}}},
    )
    sc = spark.sparkContext  # get_spark waited for both executors
    assert sc.defaultParallelism == 4, sc.defaultParallelism
    offers = make_offers(seed=42, n_pages=3, cards_per_page=8)
    graph = make_site_graph(offers, n_pages=3, page_weight_kb=8)
    eng = CrawlEngine(spark, tempfile.mkdtemp(), graph, lookahead=2)
    eng.parse_computes_acc = sc.accumulator(0)
    eng.seed(seed_urls())
    stats = eng.run(max_rounds=10)
    print("RESULT", stats["pages_fetched"], stats["rounds"],
          eng.parse_computes_acc.value, flush=True)
    spark.stop()
    """
)


def test_multi_executor_order_is_compute_once():
    """local-cluster (2 executor JVMs): with the summary materializing the
    cache first, the fused stage computes each partition exactly once per
    round. (Racing the output jobs over the uncached stage on the same
    master measured 22 computes for 16 partitions — the duplicate-compute
    failure this order prevents; see BENCH/BASELINE.md.)"""
    with tempfile.NamedTemporaryFile("w", suffix=".py", delete=False) as fh:
        fh.write(_PROBE.format(repo=str(REPO)))
        path = fh.name
    out = subprocess.run(
        [sys.executable, path], capture_output=True, text=True, timeout=600
    )
    assert out.returncode == 0, out.stderr[-2000:]
    line = [l for l in out.stdout.splitlines() if l.startswith("RESULT")][-1]
    _, pages, rounds, acc = line.split()
    assert int(pages) == 125
    assert int(acc) == int(rounds) * 4, line


def test_staged_append_is_durable_before_checkpoint(spark, tmp_path):
    """A round's checkpoint is written only after its staged offers append
    returned, and it counts exactly the offers staged so far — so a crash
    right after any checkpoint loses no offer that the checkpoint (which
    marks the round's pages done) already covers. A slow staged append
    must hold the checkpoint back, not race it."""
    offers = make_offers(seed=42, n_pages=2, cards_per_page=4)
    graph = make_site_graph(offers, n_pages=2)
    eng = CrawlEngine(spark, str(tmp_path / "run"), graph, n_salts=2)
    lock = threading.Lock()
    calls = {"entered": 0, "returned": 0, "staged": 0}
    n_checkpoints = 0
    stage_offers, write_checkpoint = eng._stage_offers, eng._write_checkpoint

    def slow_stage(pages):
        with lock:
            calls["entered"] += 1
        time.sleep(1.5)
        n = stage_offers(pages)
        with lock:
            calls["staged"] += n
            calls["returned"] += 1
        return n

    def checked_checkpoint():
        nonlocal n_checkpoints
        with lock:
            seen = dict(calls)
        assert seen["entered"] == seen["returned"], seen
        write_checkpoint()
        with open(eng.checkpoint_path) as f:
            state = json.load(f)
        for src, v in state.items():
            assert v["processed_offers_last_run"] == seen["staged"], (src, v)
        n_checkpoints += 1

    eng._stage_offers = slow_stage
    eng._write_checkpoint = checked_checkpoint
    eng.seed(seed_urls())
    stats = eng.run(max_rounds=10)
    assert stats["rounds"] > 1 and calls["staged"] > 0
    assert calls["entered"] == calls["returned"] == stats["rounds"]
    assert stats["offers_parsed"] == calls["staged"]
    # seed + one per round + the finalize checkpoint
    assert n_checkpoints == stats["rounds"] + 2
