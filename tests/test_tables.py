"""ParquetTable: the manifest records the table's schema once, and reads scan
with it instead of inferring one from parquet footers."""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

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
    assert "schema" in t._manifest()
    assert not any("schema" in s for s in t.lineage())
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
    infers the schema, as it always did, and a later append records none."""
    t = _three_snapshots(spark, tmp_path)
    with open(t._manifest_path) as f:
        manifest = json.load(f)
    del manifest["schema"]
    t._commit(manifest)
    t.append(spark.createDataFrame([], SCHEMA))
    assert "schema" not in t._manifest()

    expected = sorted(r for rows in ROWS for r in rows)
    assert _rows(t.read(spark)) == expected
    # the inferred read types a directory partition column as a string
    middle = t.read_snapshot(spark, t.snapshot_paths()[1])
    assert dict(middle.dtypes)["ok"] == "string"


def test_append_with_another_schema_raises(spark, tmp_path):
    """Appends may differ from the table's schema only in nullability."""
    t = ParquetTable(str(tmp_path), "t")
    t.append(spark.createDataFrame(ROWS[0], SCHEMA))
    with pytest.raises(ValueError, match="schema"):
        t.append(spark.createDataFrame([(7, "g", 1)], "k int, v string, ok int"))
    with pytest.raises(ValueError, match="schema"):
        t.append(spark.createDataFrame([("h", 8, True)], "v string, k int, ok boolean"))
    assert len(t.lineage()) == 1

    # a NOT NULL column appends to the nullable table and reads back
    strict = spark.createDataFrame(ROWS[1], SCHEMA).withColumn(
        "k", F.coalesce("k", F.lit(0))
    )
    assert not strict.schema["k"].nullable
    t.append(strict)
    assert _rows(t.read(spark)) == sorted(ROWS[0] + ROWS[1])


def test_overwrite_replaces_the_schema(spark, tmp_path):
    t = _three_snapshots(spark, tmp_path)
    t.overwrite(spark.createDataFrame([(1, 2.5)], "k int, w double"))
    df = t.read(spark)
    assert df.dtypes == [("k", "int"), ("w", "double")]
    assert [tuple(r) for r in df.collect()] == [(1, 2.5)]
    t.append(spark.createDataFrame([(2, None)], "k int, w double"))
    with pytest.raises(ValueError, match="schema"):
        t.append(spark.createDataFrame(ROWS[0], SCHEMA))
