"""Profile every registry query at the driver's correctness SF (sf0.01).

Mimics the driver: one SparkSession with the engine's defaults
(``session.get_spark`` on local[nproc], nproc shuffle partitions), run each
queries() entry, collect, time.
Prints a sorted per-query wall table + total so the registry can be budgeted
to fit the driver's per-run time limit (the r3 failure mode: board stopped
after q51).

Usage: python scripts/profile_registry.py [sf_dir] [only_prefix...]
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

_REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(_REPO))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2:]

    from realestate_scraper_spark.session import get_spark

    nproc = os.cpu_count() or 1
    spark = get_spark(
        app_name="profile_registry",
        master=f"local[{nproc}]",
        shuffle_partitions=nproc,
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    if only:
        qs = {k: v for k, v in qs.items() if any(k.startswith(p) for p in only)}

    timings: dict[str, float] = {}
    rows: dict[str, int] = {}
    t_all = time.monotonic()
    for name, fn in qs.items():
        t0 = time.monotonic()
        try:
            df = fn(spark, sf_dir)
            out = df.collect()
            rows[name] = len(out)
        except Exception as exc:  # noqa: BLE001
            rows[name] = -1
            print(f"{name}: ERROR {exc}")
        timings[name] = time.monotonic() - t0
    total = time.monotonic() - t_all

    print("\n== per-query wall (sorted desc) ==")
    for name, sec in sorted(timings.items(), key=lambda kv: -kv[1]):
        print(f"{sec:8.2f}s  {rows[name]:>8} rows  {name}")
    print(f"\nTOTAL {total:.1f}s over {len(timings)} queries")
    Path("/tmp/registry_profile.json").write_text(
        json.dumps({"total": total, "timings": timings, "rows": rows})
    )
    spark.stop()


if __name__ == "__main__":
    main()
