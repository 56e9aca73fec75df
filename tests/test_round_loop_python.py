"""The crawl round loop runs Python only in the fused fetch+parse stage.

On PySpark 4.1.2 / CPython 3.11 a Python task costs ~0.2 CPU-s of worker
set-up on its own, whatever its row count, so the round's bookkeeping
(new-row counters, the exact dedup check) runs as JVM plans. These tests
read the physical plan of every SQL execution a crawl's ``run()`` submits
from the SQL status store (which works with ``spark.ui.enabled=false``).
The round loop feeds no prefilter: the filter is a view of the seen
store, built on first read and dropped whenever the store grows, so the
tests also check that it has no false negatives whenever it is read.
"""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F

from realestate_scraper_spark.crawl.engine import CrawlEngine
from realestate_scraper_spark.sources.synth import build_corpus, seed_urls

# the header line of every physical node that runs Python: per-row and
# Arrow UDF evaluation, the pandas and Arrow map/group/cogroup/window
# operators, and UDTFs
_PYTHON_NODE = r"^\(\d+\) (\w*(?:EvalPython|InPandas|InArrow|PythonUDTF)\w*)"
# that node with the Python function of its ``Arguments:`` line
_PYTHON_NODE_FN = re.compile(
    _PYTHON_NODE + r".*\n(?:.*\n)*?Arguments: (\w+)\(", re.M
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
        assert "MapInPandas" not in plan, f"execution {eid} ({desc})"
        nodes = _PYTHON_NODE_FN.findall(plan)
        assert len(nodes) == len(re.findall(_PYTHON_NODE, plan, re.M)), plan
        assert set(nodes) <= {("MapInArrow", "fused_batches")}, (eid, desc, nodes)
        fused += len(nodes)
    assert fused > 0, "the fused fetch+parse stage never showed up"


def _false_negatives(eng, fr) -> int:
    flagged = eng.bloom.filter_maybe_seen(fr.select("url_hash64", "domain_salt"))
    return flagged.filter(~F.col("maybe_seen")).count()


def test_insert_deltas_collect_no_hashes(crawl):
    """The round's insert-delta job returns counters only: no per-URL hash
    list travels to the driver."""
    _, _, during = crawl
    tagged = [plan for desc, plan in during.values() if desc == "insert_deltas"]
    assert tagged
    for plan in tagged:
        assert "collect_list" not in plan, plan


def test_prefilter_has_no_false_negatives_after_crawl(crawl):
    """Every frontier URL reads maybe_seen on the filter built from the seen
    store, and the crawl leaves no prefilter snapshot in its run dir."""
    eng, _, _ = crawl
    assert not os.path.exists(os.path.join(eng.run_dir, "bloom.npz"))
    assert _false_negatives(eng, eng.frontier()) == 0


def test_prefilter_read_mid_crawl_follows_later_rounds(spark, tmp_path):
    """A filter read after round 1 is dropped when later rounds grow the
    seen store: read again after the crawl, it covers every frontier URL."""
    _, _, graph = build_corpus(seed=42, n_pages=2, cards_per_page=4)
    eng = CrawlEngine(spark, str(tmp_path / "mid"), graph, n_salts=2)
    eng.seed(seed_urls())
    eng.run(max_rounds=1)
    assert eng.bloom.shards
    assert eng.run()["rounds"] > 0
    assert _false_negatives(eng, eng.frontier()) == 0
