#!/usr/bin/env python3
"""Repo benchmark: one workload per invocation, last stdout line = result.

    python3 perfbench/run.py --workload crawl_small_rounds --seed 42 \\
        --seconds 5 --trace 0

Runs from the root of a checkout on local[nproc] with
``spark.sql.shuffle.partitions`` = nproc. Inputs are generated from
``--seed``. With ``--trace 0`` the result carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer metrics of a traced run, and
the spans are written to ``.perfbench_work/traces/``. Every output is
checked; a failed operation or a wrong output makes ``correct`` false and
the exit code 1. See perfbench/NOTES.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

WORKLOADS = ("crawl_small_rounds", "analytics_sf0.1")
END_TO_END = {"setup_s": "s", "op_cpu_s_p50": "s"}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric with its unit. Every workload's traced run
    reports all of them; a layer the workload does not run reads 0."""
    from bench import HEADLINE
    from crawl_workload import PHASES

    return {
        "session.start_s": "s",
        "synth.corpus_s": "s",
        "warm.crawl_s": "s",
        "warm.pass_s": "s",
        "host.images_per_s": "1/s",
        "host.parse_pages_per_s": "1/s",
        "trace.op_s_p50": "s",
        "trace.op_cpu_s_p50": "s",
        "mem.peak_rss_mb": "MB",
        "jvm.jit_cpu_s": "s",
        "engine.seed_s": "s",
        "engine.run_s": "s",
        "engine.round_s": "s",
        "engine.jobs_per_round": "count",
        "engine.stages_per_round": "count",
        "engine.tasks_per_round": "count",
        "engine.failed_tasks": "count",
        **{f"engine.phase.{p}_s": "s" for p in PHASES},
        "engine.resume_s": "s",
        "engine.refresh_s": "s",
        "engine.recrawl_run_s": "s",
        "engine.recrawl_pages_per_s": "1/s",
        "engine.disk_mb": "MB",
        "fetch.fetch_parse_s": "s",
        "fetch.pages_per_s": "1/s",
        "fetch.fail_ratio": "ratio",
        "frontier.classify_antijoin_s": "s",
        "frontier.candidates": "count",
        "frontier.fresh_ratio": "ratio",
        "prefilter.build_s": "s",
        "prefilter.bytes": "bytes",
        "prefilter.pass_ratio_new": "ratio",
        "prefilter.cuckoo_build_s": "s",
        "prefilter.cuckoo_bytes": "bytes",
        "prefilter.cuckoo_pass_ratio_new": "ratio",
        "seenstore.scan_s": "s",
        "seenstore.n_files": "count",
        "seenstore.mb": "MB",
        "seenstore.compact_s": "s",
        "refine.s": "s",
        "tables.frontier_read_s": "s",
        "tables.n_files": "count",
        "tables.bytes_per_page": "bytes",
        **{f"query.{q}_s": "s" for q in HEADLINE},
        **{f"query.{q}_tasks": "count" for q in HEADLINE},
        "query.s_p50": "s",
        "images.decode_s": "s",
        "images.per_s": "1/s",
    }


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def _prepare_env(work: Path) -> None:
    """Keep every file Spark and Python write inside the checkout, and let
    Spark's python workers import the package and these modules."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    paths = [str(ROOT), str(HERE), os.environ.get("PYTHONPATH", "")]
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in paths if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    for p in (str(HERE), str(ROOT)):
        sys.path.insert(0, p)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [
        p for p in ("realestate_scraper_spark", "bench.py", "tests/duck_compare.py",
                    "scripts/scaling_bench.py")
        if not (ROOT / p).exists()
    ]
    if missing:
        _log(f"not a repo checkout: missing {missing} under {ROOT}")
        return 2

    base = ROOT / ".perfbench_work"
    work = base / f"{args.workload}-seed{args.seed}-pid{os.getpid()}"
    _prepare_env(work)
    # late imports: the environment above must be in place first
    import harness

    cpus = os.cpu_count() or 1
    tr = harness.Tracer(args.workload, enabled=bool(args.trace))
    sess = None
    try:
        t0 = time.monotonic()
        probe = harness.host_probe(cpus)
        print(json.dumps({"host_probe": probe}), flush=True)
        _log(f"host probe took {time.monotonic() - t0:.1f} s")
        with tr.span("session"):
            sess = harness.Session(work, cpus)
        if args.workload == "crawl_small_rounds":
            import crawl_workload as wl
        else:
            import analytics_workload as wl
        res = wl.run(sess, tr, work, args.seed, args.seconds, _log)
        res["jit_cpu_s"] = sess.jit_cpu_s()
    finally:
        t0 = time.monotonic()
        if sess is not None:
            sess.stop()
        shutil.rmtree(work, ignore_errors=True)
        _log(f"stop took {time.monotonic() - t0:.1f} s")

    walls, cpu = res["walls"], res["cpu"]
    op_cpu_s_p50 = harness.median(cpu) if cpu else 0.0
    op_s_p50 = harness.median(walls) if walls else 0.0
    if args.trace:
        units = per_layer_units()
        layer = {k: 0.0 for k in units}
        layer.update(res["layer"])
        layer.update({
            "session.start_s": sess.start_s,
            "mem.peak_rss_mb": res["peak_rss_mb"],
            "jvm.jit_cpu_s": res["jit_cpu_s"],
            "host.images_per_s": probe["images_per_s"],
            "host.parse_pages_per_s": probe["parse_pages_per_s"],
            "trace.op_s_p50": op_s_p50,
            "trace.op_cpu_s_p50": op_cpu_s_p50,
        })
        metrics = {k: {"value": layer[k], "unit": u} for k, u in units.items()}
        tr.write(base / "traces" / f"{args.workload}-seed{args.seed}-{int(time.time())}.json")
    else:
        values = {
            "setup_s": sess.start_cpu_s + res["setup_cpu_s"],
            "op_cpu_s_p50": op_cpu_s_p50,
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    _log(f"{args.workload}: set-up cpu {sess.start_cpu_s + res['setup_cpu_s']:.2f} s, "
         f"{len(walls)} timed ops, walls {[round(w, 3) for w in walls]}, "
         f"cpu {[round(c, 2) for c in cpu]}, JIT cpu over the run {res['jit_cpu_s']:.2f}")
    correct = res["failed"] == 0 and bool(walls)
    print(json.dumps({
        "correct": correct,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
