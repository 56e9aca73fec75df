#!/usr/bin/env python
"""N vs 4N scaling on this host, attributed per crawl phase.

The paper's gate is throughput scaling efficiency ≥ 0.8 from N to 4N
executors. The levels come from the host: N = max(1, nproc // 4) cores
and 4N, so a 4-core box runs local[1] vs local[4]. Every (level, cell)
runs in a fresh JVM, alternating levels, min of ``TRIALS`` per level;
the driver heap is 2 GiB per core of the level (a real cluster brings a
heap per executor) and the shuffle width is the level's core count.

- Crawl cells (``CELLS``): a full crawl of the synthetic web through the
  round loop. Each crawl's Spark jobs are read back from the status store
  and grouped by the phase tag the engine sets (``spark.job.description``),
  then joined with the engine's driver-side phase walls
  (``eng.phase_times``), so phases that submit no job show too.
- Data planes: one fused fetch→parse→refine batch over ~100 KB pages, and
  the image pipeline (synthesize → encode → decode → sha256 → pHash).

Writes the ``MARKER`` section of BENCH/BASELINE.md and leaves every other
section as it is::

    python scripts/scaling_bench.py              # local[N] vs local[4N]
    python scripts/scaling_bench.py --executors  # local-cluster[1|4,N,2048·N]

``hardware_baseline`` and ``hardware_parse_baseline`` (the same per-image
and per-page work through a bare multiprocessing pool) are also imported
by bench.py and perfbench.
"""

from __future__ import annotations

import argparse
import json
import multiprocessing as mp
import os
import re
import subprocess
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
MARKER = "## N vs 4N on this host: per-phase efficiency"

N = max(1, len(os.sched_getaffinity(0)) // 4)
# name → (cards per listing page, listing depth, lookahead, page KB)
CELLS = {
    "bench": (64, 4, 4, 0),  # the perfbench crawl_small_rounds shape
    "512x16": (512, 16, 8, 48),
    "2048x8": (2048, 8, 8, 48),
}
TRIALS = 2  # min-of-2: single runs of one cell swing by tens of % here
# plane sizes grow with N so each plane runs ≥10 s at the N level
IMAGES = 4000 * N
DATAPLANE_CARDS = 256 * N  # 4 portals × 4 listing pages × cards offer pages


def heading_start(text: str, *markers: str) -> int | None:
    """Offset of the first of ``markers`` that is a whole heading line of
    ``text`` (a prose mention never counts), or None."""
    found = [re.search(rf"^{re.escape(h)}[ \t]*$", text, re.M) for h in markers]
    return min((m.start() for m in found if m), default=None)


def replace_own_section(
    text: str, lines: list[str], marker: str = MARKER
) -> str:
    """Replace ONLY one report section in ``text``: the ``marker`` heading
    line → the next ``## `` heading (or EOF when it is last); append when
    absent. ``marker`` counts only as a whole heading line, so a prose
    mention of it elsewhere never starts the section. Every bench script
    that owns a BENCH/BASELINE.md section writes it through here, so a
    re-run never deletes another script's section (pinned by
    tests/test_report_sections.py)."""
    block = "\n".join(lines).rstrip() + "\n"
    start = heading_start(text, marker)
    if start is None:
        return text.rstrip() + "\n\n" + block
    nxt = text.find("\n## ", start)
    tail = "" if nxt == -1 else text[nxt + 1:]
    return (text[:start].rstrip() + "\n\n" + block + "\n" + tail).rstrip() + "\n"


def _mp_work(n: int) -> int:
    sys.path.insert(0, str(REPO))
    from realestate_scraper_spark.functions.images import (
        decode_image,
        encode_image,
        phash64,
        sha256_hex,
        synth_pixels,
    )

    for i in range(n):
        fmt = ["jpeg", "png", "webp"][i % 3]
        rgb = synth_pixels((i, 0), 128, 96)
        data = encode_image(rgb, fmt)
        dec = decode_image(data, fmt)
        phash64(dec)
        sha256_hex(data)
    return n


def hardware_baseline(procs: int, total: int = 48000) -> float:
    """img/s for the identical per-image work through a bare mp.Pool —
    the ceiling Spark's scaling is judged against."""
    with mp.Pool(procs) as pool:
        pool.map(_mp_work, [10] * procs)  # warm imports
        t0 = time.monotonic()
        pool.map(_mp_work, [total // procs] * procs)
        dt = time.monotonic() - t0
    return total / dt


def _mp_parse(n: int) -> int:
    """The dataplane's per-page work (parse cascade over a ~100 KB page),
    outside Spark — the string-workload hardware ceiling."""
    sys.path.insert(0, str(REPO))
    from realestate_scraper_spark.crawl import parse as parse_mod
    from realestate_scraper_spark.sources.synth import (
        make_offers,
        render_offer_html,
    )

    offers = make_offers(seed=42, n_pages=1, cards_per_page=16)
    unit = "lorem ipsum dolor sit amet consectetur "
    filler = "<p>" + unit * (96 * 1024 // len(unit)) + "</p>"
    pages = [render_offer_html(o) + filler for o in offers[:48]]
    for i in range(n):
        out: dict = {}
        html = pages[i % len(pages)]
        parse_mod._from_ldjson(html, out)
        parse_mod._from_nextdata(html, out)
        parse_mod._from_css(html, out)
    return n


def hardware_parse_baseline(procs: int, total: int = 24000) -> float:
    """pages/s for the dataplane's parse work through a bare mp.Pool."""
    with mp.Pool(procs) as pool:
        pool.map(_mp_parse, [10] * procs)  # warm imports + page build
        t0 = time.monotonic()
        pool.map(_mp_parse, [total // procs] * procs)
        dt = time.monotonic() - t0
    return total / dt


# ------------------------------------------------ per-phase attribution
def _jobs(sc):
    """The status store's jobs (works with the UI off), once the listener
    bus has caught up with every finished job."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    jobs = jsc.statusStore().jobsList(None)  # a Scala Seq
    return [jobs.apply(i) for i in range(jobs.length())]


def job_ids(sc) -> set[int]:
    return {j.jobId() for j in _jobs(sc)}


def phase_rows(sc, skip=frozenset()) -> dict[str, dict]:
    """Jobs not in ``skip``, summed per ``spark.job.description``:
    {phase: {jobs, tasks, cpu_s, input_mb, shuffle_read_mb,
    shuffle_write_mb}}; jobs without a description count as
    "(untagged)"."""
    store = sc._jsc.sc().statusStore()
    rows: dict[str, dict] = {}
    for job in _jobs(sc):
        if job.jobId() in skip:
            continue
        desc = job.description()  # a Scala Option
        row = rows.setdefault(
            desc.get() if desc.isDefined() else "(untagged)",
            dict.fromkeys(("jobs", "tasks", "cpu_s", "input_mb",
                           "shuffle_read_mb", "shuffle_write_mb"), 0),
        )
        row["jobs"] += 1
        sids = job.stageIds()
        for k in range(sids.length()):
            st = store.lastStageAttempt(sids.apply(k))
            row["tasks"] += st.numCompleteTasks()
            row["cpu_s"] += st.executorCpuTime() / 1e9
            row["input_mb"] += st.inputBytes() / 1e6
            row["shuffle_read_mb"] += st.shuffleReadBytes() / 1e6
            row["shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6
    return rows


# ------------------------------------------------------------ workers
def _crawl(spark, cards: int, depth: int, lookahead: int, weight_kb: int):
    from realestate_scraper_spark.crawl.engine import CrawlEngine
    from realestate_scraper_spark.sources.synth import (
        make_offers,
        make_site_graph,
        seed_urls,
    )

    def graph(pages: int, cards: int) -> list[dict]:
        offers = make_offers(seed=42, n_pages=pages, cards_per_page=cards)
        return make_site_graph(offers, n_pages=pages, page_weight_kb=weight_kb)

    sc = spark.sparkContext
    with tempfile.TemporaryDirectory(prefix="scaling_") as tmp:
        # a one-page warm-up crawl keeps first-use cost (codegen, python
        # worker start) out of the timed crawl
        warm = CrawlEngine(spark, f"{tmp}/warm", graph(1, 16), lookahead=lookahead)
        warm.seed(seed_urls())
        warm.run()
        timed_graph = graph(depth, cards)  # driver python, untimed
        skip = job_ids(sc)
        t0 = time.monotonic()
        eng = CrawlEngine(spark, f"{tmp}/run", timed_graph, lookahead=lookahead)
        eng.seed(seed_urls())
        stats = eng.run(max_rounds=depth + 4)
        wall = time.monotonic() - t0
    rows = phase_rows(sc, skip)
    for name, sec in eng.phase_times.items():
        rows.setdefault(name, {"jobs": 0, "tasks": 0, "cpu_s": 0.0})["wall_s"] = sec
    return {"wall_s": wall, "pages": stats["pages_fetched"],
            "rounds": stats["rounds"], "phases": rows}


def _planes(spark, cores: int):
    from pyspark.sql import functions as F

    from realestate_scraper_spark.crawl import fetch, frontier, parse, refine
    from realestate_scraper_spark.functions.images import (
        SYNTH_DECODE_FIELDS,
        synth_decode_batches,
    )
    from realestate_scraper_spark.sources.synth import make_offers, make_site_graph

    sc = spark.sparkContext
    offers = make_offers(seed=42, n_pages=4, cards_per_page=DATAPLANE_CARDS)
    store = sc.broadcast(fetch.build_page_store(
        make_site_graph(offers, n_pages=4, page_weight_kb=96)))
    # the round loop's widths: shuffle = cores, salt keys = 4 × cores (a
    # fixed 128 partitions costs ~0.3 s of python task set-up each at N)
    salts = 4 * cores
    fr = frontier.seed_frontier(
        spark, [(o.source, o.url) for o in offers], n_salts=salts).cache()
    fr.count()

    def dataplane() -> None:  # the fused stage the round loop runs
        parsed = fetch.fetch_parse(fr, store, salts).filter(
            F.col("row_kind") == "page").select(
            "url", "url_canon", "source", "page_idx", "slot", "sub_slot",
            *parse.RAW_COL_NAMES)
        refine.refined(parsed).filter("is_valid").count()

    specs = spark.range(IMAGES).select(
        F.concat(F.lit("img"), F.col("id").cast("string")).alias("image_id"),
        F.col("id").alias("seed"), F.lit(0).alias("k"),
        F.lit(128).alias("w"), F.lit(96).alias("h"),
        F.element_at(F.array(F.lit("jpeg"), F.lit("png"), F.lit("webp")),
                     (F.col("id") % 3 + 1).cast("int")).alias("fmt"),
    ).repartition(cores * 2)

    def images() -> None:
        (specs.mapInPandas(synth_decode_batches, schema=SYNTH_DECODE_FIELDS)
         .write.format("noop").mode("overwrite").save())

    phases = {}
    for name, plane, items in (("dataplane", dataplane, len(offers)),
                               ("images", images, IMAGES)):
        sc.setLocalProperty("spark.job.description", name)
        plane()  # warm: python workers, codegen, broadcast fetch
        skip = job_ids(sc)
        t0 = time.monotonic()
        plane()
        wall = time.monotonic() - t0
        phases[name] = {**phase_rows(sc, skip)[name], "wall_s": wall,
                        "items": items}
    sc.setLocalProperty("spark.job.description", None)
    return {"wall_s": sum(p["wall_s"] for p in phases.values()),
            "phases": phases}


def _cores(master: str) -> int:
    """local[k] → k; local-cluster[n,c,mem] → n·c."""
    n = [int(x) for x in re.findall(r"\d+", master)]
    return n[0] * n[1] if master.startswith("local-cluster") else n[0]


def worker(cell: str, master: str) -> dict:
    sys.path.insert(0, str(REPO))
    from realestate_scraper_spark.session import get_spark

    cores = _cores(master)
    spark = get_spark(
        app_name=f"scaling-{cell}-{cores}", master=master,
        shuffle_partitions=cores,
        # executor JVMs start their own python workers, which do not
        # inherit the driver's sys.path
        extra_conf={"spark.executorEnv.PYTHONPATH": str(REPO)}
        if master.startswith("local-cluster") else None,
    )
    out = (_planes(spark, cores) if cell == "planes"
           else _crawl(spark, *CELLS[cell]))
    spark.stop()
    return {"cell": cell, "master": master, **out}


def _spawn(cell: str, master: str) -> dict:
    env = dict(os.environ, SPARK_DRIVER_MEM=f"{2 * _cores(master)}g")
    out = subprocess.run(
        [sys.executable, __file__, "--worker", cell, master],
        capture_output=True, text=True, cwd=REPO, env=env,
    )
    if out.returncode:
        sys.exit(f"worker {cell} {master} failed:\n{out.stderr[-4000:]}")
    return json.loads([l for l in out.stdout.splitlines() if l.startswith("{")][-1])


# ------------------------------------------------------------- report
def _eff(wall_n: float | None, wall_4n: float | None) -> str:
    return f"{wall_n / (4 * wall_4n):.2f}" if wall_n and wall_4n else "–"


def _pair(lo: dict, hi: dict, key: str, fmt: str) -> str:
    return " / ".join(
        "–" if d.get(key) is None else format(d[key], fmt) for d in (lo, hi))


def _render(levels: list[str], best: dict, hw: list[tuple[float, float]]):
    lines = [
        MARKER,
        "",
        f"The same work at {levels[0]} and {levels[1]} on this "
        f"{len(os.sched_getaffinity(0))}-core host "
        "(`python scripts/scaling_bench.py`): a fresh JVM per (level, cell), "
        f"levels alternating, min of {TRIALS} runs per level, driver heap "
        "2 GiB per core of the level, shuffle width = the level's cores. "
        "Efficiency is `wall_N / (4 · wall_4N)`; 1.0 is linear scaling, "
        "the paper's gate is ≥ 0.8.",
        "",
        "| cell | work | wall s | items/s | efficiency |",
        "|---|---|---|---|---|",
    ]
    for cell, (cards, depth, lookahead, kb) in CELLS.items():
        lo, hi = best[cell]
        lines.append(
            f"| crawl `{cell}` | {lo['pages']:,} pages, {lo['rounds']} rounds "
            f"({cards} cards × {depth} pages, lookahead {lookahead}, "
            f"{kb or '~3'} KB pages) | {_pair(lo, hi, 'wall_s', '.1f')} | "
            f"{lo['pages'] / lo['wall_s']:,.0f} / "
            f"{hi['pages'] / hi['wall_s']:,.0f} | "
            f"**{_eff(lo['wall_s'], hi['wall_s'])}** |")
    lo, hi = (b["phases"] for b in best["planes"])
    for name, work, h in (
        ("dataplane", "one fused fetch→parse→refine batch, ~100 KB each", 1),
        ("images", "synthesize→encode→decode→sha256→pHash", 0),
    ):
        a, b = lo[name], hi[name]
        lines.append(
            f"| {name} | {a['items']:,} {'pages' if h else 'images'}: {work} "
            f"| {_pair(a, b, 'wall_s', '.1f')} | "
            f"{a['items'] / a['wall_s']:,.0f} / {b['items'] / b['wall_s']:,.0f} "
            f"| **{_eff(a['wall_s'], b['wall_s'])}** |")
        lines.append(
            f"| {name} hardware ceiling | same work, bare `mp.Pool({N})` / "
            f"`mp.Pool({4 * N})` | – | {hw[0][h]:,.0f} / {hw[1][h]:,.0f} | "
            f"{hw[1][h] / (4 * hw[0][h]):.2f} |")
    lines += [
        "",
        "Per phase, each crawl's jobs come from Spark's status store "
        "(`statusStore().jobsList`, grouped by the `spark.job.description` "
        "phase tag; tasks and executor CPU from each job's stages) and the "
        "wall from the engine's driver-side phase timers "
        "(`eng.phase_times`). Executor CPU counts the JVM task threads "
        "only: Python worker time (the fused fetch+parse, the image codecs) "
        "is outside it. Phases with no jobs (`*_plan`, "
        "`staged_join`) are pure driver time; `(untagged)` jobs have no "
        "phase timer. Phase walls nest (`run_finalize` holds the three "
        "`finalize_*` legs) and overlap (insert / update / staged run on "
        "pool threads), so they do not sum to the crawl wall. Each pair "
        f"reads {levels[0]} / {levels[1]}.",
    ]
    for cell in CELLS:
        lo, hi = best[cell]
        lp, hp = lo["phases"], hi["phases"]
        order = sorted(set(lp) | set(hp), key=lambda p: (
            p == "(untagged)", -(lp.get(p, {}).get("wall_s") or 0)))
        lines += [
            "",
            f"**crawl `{cell}`** (min-of-{TRIALS} runs, walls per trial: "
            f"{lo['trial_walls']} / {hi['trial_walls']} s)",
            "",
            "| phase | wall s | jobs | tasks | executor CPU s | efficiency |",
            "|---|---|---|---|---|---|",
            f"| **crawl** | {_pair(lo, hi, 'wall_s', '.2f')} | | | | "
            f"**{_eff(lo['wall_s'], hi['wall_s'])}** |",
        ]
        for p in order:
            a, b = lp.get(p, {}), hp.get(p, {})
            lines.append(
                f"| {p} | {_pair(a, b, 'wall_s', '.2f')} | "
                f"{_pair(a, b, 'jobs', 'd')} | {_pair(a, b, 'tasks', 'd')} | "
                f"{_pair(a, b, 'cpu_s', '.2f')} | "
                f"{_eff(a.get('wall_s'), b.get('wall_s'))} |")
    lo, hi = best["planes"]
    lines += [
        "",
        f"**data planes** (walls per trial: {lo['trial_walls']} / "
        f"{hi['trial_walls']} s, both planes)",
        "",
        "| plane | wall s | jobs | tasks | executor CPU s | efficiency |",
        "|---|---|---|---|---|---|",
        *(f"| {p} | {_pair(a, b, 'wall_s', '.2f')} | "
          f"{_pair(a, b, 'jobs', 'd')} | {_pair(a, b, 'tasks', 'd')} | "
          f"{_pair(a, b, 'cpu_s', '.2f')} | {_eff(a['wall_s'], b['wall_s'])} |"
          for p in ("dataplane", "images")
          for a, b in [(lo["phases"][p], hi["phases"][p])]),
        "",
        "The depth table (\"Round-loop amortization at depth\", local[4] vs "
        "local[16]) and the 1×4 / 4×4 executor tables (\"Multi-JVM "
        "evidence\") above were measured on a 32-core host by the "
        "`depth_bench`, `depth_worker`, `scaling_worker` and `mjvm_bench` "
        "scripts this harness replaced (git history at `2f980be`). This "
        "harness re-runs the same shapes: on a 16+-core host its levels are "
        "local[4] vs local[16], and `--executors` runs "
        "`local-cluster[1,N,2048·N]` vs `local-cluster[4,N,2048·N]`.",
    ]
    return lines


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument(
        "--executors", action="store_true",
        help="scale executor JVMs: local-cluster[1,N,2048·N] vs "
             "local-cluster[4,N,2048·N] instead of local[N] vs local[4N]")
    # one (cell, master) run in this process: how the harness starts a
    # fresh JVM per run
    ap.add_argument("--worker", nargs=2, metavar=("CELL", "MASTER"),
                    help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.worker:
        print(json.dumps(worker(*args.worker)))
        return
    levels = ([f"local-cluster[{k},{N},{2048 * N}]" for k in (1, 4)]
              if args.executors else [f"local[{k * N}]" for k in (1, 4)])
    best = {}
    for cell in (*CELLS, "planes"):
        runs: list[list[dict]] = [[], []]
        for _ in range(TRIALS):
            for level_runs, master in zip(runs, levels):
                level_runs.append(_spawn(cell, master))
        best[cell] = [min(r, key=lambda d: d["wall_s"]) for r in runs]
        for b, r in zip(best[cell], runs):
            b["trial_walls"] = [round(d["wall_s"], 1) for d in r]
        print(json.dumps({cell: best[cell]}), flush=True)
    # ceilings are throughputs: any item count that runs ≥10 s at N will do
    hw = [(hardware_baseline(c, total=IMAGES),
           hardware_parse_baseline(c, total=IMAGES)) for c in (N, 4 * N)]
    path = REPO / "BENCH" / "BASELINE.md"
    path.write_text(replace_own_section(path.read_text(), _render(levels, best, hw)))
    print("updated", path)


if __name__ == "__main__":
    main()
