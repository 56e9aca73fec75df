"""ParquetTable: the manifest records each snapshot's schema, and reads scan
with it instead of inferring one from parquet footers."""

from __future__ import annotations

import json
import sys
from pathlib import Path

from realestate_scraper_spark.sources.tables import ParquetTable

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "scripts"))
from scaling_bench import job_ids  # noqa: E402

SCHEMA = "k int, v string, ok boolean"
ROWS = [
    [(1, "a", True), (2, "b", False)],
    [(3, "c", True), (4, None, False), (5, "e", True)],
    [(6, "f", False)],
]


def _three_snapshots(spark, root) -> ParquetTable:
    t = ParquetTable(str(root), "t")
    for i, rows in enumerate(ROWS):
        t.append(
            spark.createDataFrame(rows, SCHEMA),
            round_idx=i,
            # the middle snapshot keeps ``ok`` only in its k=v directories
            partition_by=["ok"] if i == 1 else None,
        )
    return t


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.select("k", "v", "ok").collect())


def test_reads_scan_with_recorded_schema_and_submit_no_job(spark, tmp_path):
    t = _three_snapshots(spark, tmp_path)
    assert all("schema" in s for s in t.lineage())
    sc = spark.sparkContext
    before = job_ids(sc)
    plain = t.read(spark)
    versioned = t.read_versioned(spark)
    one = t.read_snapshot(spark, t.snapshot_paths()[1])
    assert job_ids(sc) == before, "building a table scan submitted a job"

    expected = sorted(r for rows in ROWS for r in rows)
    assert _rows(plain) == expected
    assert _rows(versioned) == expected
    assert _rows(one) == sorted(ROWS[1])
    for df in (plain, versioned, one):
        # a directory partition column reads back with its written type
        assert dict(df.dtypes)["ok"] == "boolean"
    assert sorted(
        tuple(r) for r in versioned.groupBy("_seq").count().collect()
    ) == [(0, 2), (1, 3), (2, 1)]


def test_entry_without_schema_is_still_read(spark, tmp_path):
    """A run dir written before the manifest recorded schemas: the scan
    infers the schema, as it always did."""
    t = _three_snapshots(spark, tmp_path)
    with open(t._manifest_path) as f:
        manifest = json.load(f)
    for s in manifest["snapshots"]:
        del s["schema"]
    t._commit(manifest)

    expected = sorted(r for rows in ROWS for r in rows)
    assert _rows(t.read(spark)) == expected
    # the inferred read types a directory partition column as a string
    middle = t.read_snapshot(spark, t.snapshot_paths()[1])
    assert dict(middle.dtypes)["ok"] == "string"
