"""SparkSession factory with scale-appropriate defaults.

Settings chosen for the 100 TB design point (SURVEY.md §4):

- AQE on (runtime re-plan, skew-join splitting) for the query registry. The
  crawl engine switches it off inside ``CrawlEngine.run()``: every crawl
  exchange is explicitly sized, and domain salting handles the Otodom
  hot-domain skew named in BASELINE.json.
- Arrow on — every Python-side stage is an Arrow-batched pandas UDF; raw
  per-row Python UDFs are banned in this codebase.
- ``maxRecordsPerBatch`` bounded so ~100 KB binary image payloads cannot blow
  executor memory inside an Arrow batch (SURVEY.md §7.5 item 5).
- shuffle partitions default to a fixed 32 unless the caller passes
  ``shuffle_partitions``; on a real cluster this is set per-job (2-3× total
  cores) and AQE coalesces down.
- the codegen class cache holds 1,000 compiled classes, not Spark's 100: the
  engine re-runs the same plans in one long-lived session, and one crawl or
  query pass alone has more than 100 distinct generated units, so at the
  default LRU evicts each class before its reuse.
"""

from __future__ import annotations

import os
import re
import time

from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession

# Arrow batches carry `bytes` image blobs; 512 rows × ~100 KB ≈ 50 MB/batch,
# comfortably inside a 4 GB executor even with a few batches in flight.
ARROW_MAX_RECORDS_PER_BATCH = 512

# Static (JVM-global) conf: it must be on the builder, before the JVM starts.
# The cap only bounds the cache; memory grows with the classes actually used
# (measured on local[4]: about 146 for the 14 headline queries, about 172
# for the bench crawl and its warm-up crawl).
STATIC_DEFAULTS = {"spark.sql.codegen.cache.maxEntries": "1000"}


def get_spark(
    app_name: str = "realestate-scraper-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's tuned defaults.

    Two launch shapes:

    - **Driver-owned** (tests, bench, sandbox scripts): python starts the JVM.
      ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default all
      cores) and every engine default is set on the builder.
    - **spark-submit-owned** (the cluster shape in BASELINE.json's north
      rule: ``spark-submit --py-files engine.zip scripts/run_crawl.py``):
      the JVM gateway already exists (``PYSPARK_GATEWAY_PORT`` is exported
      by PythonRunner) and ``--master`` / ``--conf`` / ``--driver-memory``
      belong to the operator. The builder then sets nothing that would
      shadow the submitted conf: a static default goes on the builder only
      when ``SparkConf().contains`` (the system properties spark-submit
      sets) says it was not submitted, and the runtime defaults are applied
      *after* ``getOrCreate`` via ``spark.conf.set``, again only for keys
      the operator did not submit (``contains`` is true only for explicit
      settings, never Spark's own defaults).
    """
    submit_owned = master is None and "PYSPARK_GATEWAY_PORT" in os.environ
    if master is None and not submit_owned:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"

    engine_defaults = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": str(
            ARROW_MAX_RECORDS_PER_BATCH
        ),
        "spark.sql.session.timeZone": "UTC",
        # Deterministic float formatting across JVM/Python boundaries.
        "spark.sql.legacy.allowUntypedScalaUDF": "false",
        "spark.sql.shuffle.partitions": (
            "32" if shuffle_partitions is None else str(shuffle_partitions)
        ),
    }

    if submit_owned:
        builder = SparkSession.builder.appName(app_name)
        # connect to the gateway first: without a JVM, SparkConf() is an
        # empty Python-side dict that never sees the submitted conf
        SparkContext._ensure_initialized()
        submitted = SparkConf()
        for k, v in STATIC_DEFAULTS.items():
            if not submitted.contains(k):
                builder = builder.config(k, v)
        for k, v in (extra_conf or {}).items():
            builder = builder.config(k, v)
        spark = builder.getOrCreate()
        submitted = spark.sparkContext.getConf()
        for k, v in engine_defaults.items():
            if not submitted.contains(k):
                spark.conf.set(k, v)
        return _await_executors(spark)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    for k, v in {**STATIC_DEFAULTS, **engine_defaults}.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return _await_executors(builder.getOrCreate())


def _await_executors(spark: SparkSession) -> SparkSession:
    """local-cluster[n,c,mem] registers its n executors asynchronously and
    the engine sizes its exchanges off them: wait up to 120 s for all n.
    Counts executors, as ``defaultParallelism`` never reads below 2."""
    sc = spark.sparkContext
    m = re.match(r"local-cluster\[(\d+),", sc.master)
    deadline = time.monotonic() + 120
    while m and sc._jsc.sc().getExecutorIds().size() < int(m.group(1)):
        if time.monotonic() > deadline:
            raise RuntimeError(f"executors never registered in 120 s: {sc.master}")
        time.sleep(0.5)
    return spark


def fan_out(df, *key_cols: str, path: str | None = None):
    """Spread a narrow scan across the session's cores when the source gives
    fewer splits than cores — the 'input skew: one huge unsplittable file'
    case of the optimization guide (§2.5): the sandbox tables are single-file
    single-ROW-GROUP parquet, so every scan (and everything pipelined above
    it — explodes, digests, partial aggregates, broadcast-join probes) runs
    in ONE task regardless of core count.

    No-op when the scan already has at least half the session's parallelism
    in splits — a production many-file table takes that branch (decided from
    the FILE COUNT alone, no footers read), so this never adds an exchange
    at cluster scale. Only few-file inputs read parquet footers to count ROW
    GROUPS — the true split floor (Spark byte-range splits assign each row
    group to the one task holding its midpoint, so a 3-split single-row-
    group file still computes in one task; ``df.rdd.getNumPartitions`` both
    over-reports that and pays a ~0.7 s first-use RDD-conversion toll).
    The exchange HASH-partitions on ``key_cols`` (a deterministic
    high-cardinality key) rather than round-robin: no sort-before-
    repartition pass, and retried tasks re-produce the same row placement
    (guide §2.5 on rand-derived keys / SPARK-38388).

    ``path``: the source table's path, when the caller knows it — the
    file/row-group census then runs on the local filesystem directly
    (microseconds) instead of the ``df.inputFiles()`` py4j round-trip,
    whose FIRST per-session call costs ~0.25 s of one-time plan/RDD-path
    initialization that would otherwise land inside the first timed query.
    """
    from urllib.parse import unquote, urlparse

    from pyspark.sql import functions as F

    spark = df.sparkSession
    dp = spark.sparkContext.defaultParallelism
    files: list[str] | None = None
    if path is not None:
        p = unquote(urlparse(path).path) if "://" in path else path
        if os.path.isfile(p):
            files = [p]
        elif os.path.isdir(p):
            files = [
                os.path.join(p, f)
                for f in os.listdir(p)
                if f.endswith(".parquet")
            ]
    if files is None:
        try:
            files = df.inputFiles()
        except Exception:
            return df
    if not files or 2 * len(files) >= dp:
        return df
    try:
        import pyarrow.parquet as pq

        splits = 0
        for f in files:
            p = unquote(urlparse(f).path) if "://" in f or f.startswith("file:") else f
            splits += pq.ParquetFile(p).num_row_groups
            if 2 * splits >= dp:
                return df
    except Exception:
        return df
    return df.repartition(dp, *[F.col(c) for c in key_cols])


def local_df(spark: SparkSession, rows, schema, n_partitions: int = 1):
    """Driver-local literal rows → DataFrame via the Arrow batch path.

    ``spark.createDataFrame(list, schema)`` builds a pickled-Python RDD with
    ``defaultParallelism`` partitions — on local[32] a 4-row seed list becomes
    32 tasks, each forking a Python worker, so every downstream action on the
    tiny literal costs ~5 s. Routing through pandas makes the driver build
    Arrow batches once and the JVM execute them without any Python worker;
    with ``coalesce(1)`` the same action costs ~0.2 s. Use for metadata-scale
    literals only (seed lists, dim tables, checkpoint/metrics rows) — bulk
    data belongs in parquet, never in a driver list.
    """
    import pandas as pd

    if not rows:
        # the empty-literal path never schedules real work; keep the plain API
        return spark.createDataFrame([], schema)
    pdf = pd.DataFrame.from_records(list(rows))
    # positional mapping: pandas columns are 0..n-1; the explicit schema
    # names+types them (verified: None → NULL, bytes → binary, int → int)
    return spark.createDataFrame(pdf, schema=schema).coalesce(n_partitions)
