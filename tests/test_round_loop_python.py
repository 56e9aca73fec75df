"""The crawl round loop runs Python only in the fused fetch+parse stage.

On PySpark 4.1.2 / CPython 3.11 a Python task costs ~0.2 CPU-s of worker
set-up on its own, whatever its row count, so the round's bookkeeping
(insert deltas, prefilter updates, counters, the exact dedup check) runs as
JVM plans. These tests read the physical plan of every SQL execution a
crawl's ``run()`` submits from the SQL status store (which works with
``spark.ui.enabled=false``), and check that the driver prefilter the loop
grows from the JVM deltas has no false negatives.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from realestate_scraper_spark.crawl.bloom import ShardedBloom
from realestate_scraper_spark.crawl.engine import CrawlEngine
from realestate_scraper_spark.sources.synth import build_corpus, seed_urls

_MAP_IN_PANDAS_FN = re.compile(
    r"^\(\d+\) MapInPandas\n(?:.*\n)*?Arguments: (\w+)\(", re.M
)


def _executions(store) -> dict[int, tuple[str, str]]:
    execs = store.executionsList()
    out = {}
    for i in range(execs.size()):
        e = execs.apply(i)
        out[e.executionId()] = (e.description(), e.physicalPlanDescription())
    return out


@pytest.fixture(scope="module")
def crawl(spark, tmp_path_factory):
    _, _, graph = build_corpus(seed=42, n_pages=3, cards_per_page=4)
    eng = CrawlEngine(
        spark, str(tmp_path_factory.mktemp("py_stages")), graph, n_salts=2
    )
    eng.seed(seed_urls())
    store = spark._jsparkSession.sharedState().statusStore()
    before = set(_executions(store))
    stats = eng.run()
    during = {
        eid: v for eid, v in _executions(store).items() if eid not in before
    }
    return eng, stats, during


def test_run_plans_keep_python_to_fused_fetch_parse(crawl):
    _, stats, during = crawl
    assert stats["rounds"] > 1
    assert any(desc == "insert_deltas" for desc, _ in during.values())
    fused = 0
    for eid, (desc, plan) in sorted(during.items()):
        for op in ("ArrowEvalPython", "FlatMapGroupsInPandas"):
            assert op not in plan, f"execution {eid} ({desc}) runs {op}"
        fns = _MAP_IN_PANDAS_FN.findall(plan)
        assert len(fns) == plan.count(") MapInPandas\n"), plan
        assert set(fns) <= {"fused_batches"}, (eid, desc, fns)
        fused += len(fns)
    assert fused > 0, "the fused fetch+parse stage never showed up"


def test_prefilter_has_no_false_negatives_after_crawl(crawl):
    """Every frontier URL reads maybe_seen on the driver prefilter the loop
    grew from the JVM insert deltas, and on its bloom.npz snapshot."""
    eng, _, _ = crawl
    fr = eng.frontier().select("url_hash64", "domain_salt")
    for pf in (eng.bloom, ShardedBloom.load(eng.bloom_path)):
        flagged = pf.filter_maybe_seen(fr)
        assert flagged.filter(~F.col("maybe_seen")).count() == 0
