"""Report-integrity guards (r7).

The r6 depth-sweep re-run silently deleted every BENCH/BASELINE.md section
after its own marker (truncate-at-marker + append). These tests pin:

1. the replacement helper touches ONLY its own section — unrelated
   sections before AND after the marker survive a re-render;
2. the shipped report actually contains the sections its prose references
   (the "Multi-JVM evidence" / "Cluster launch shape" sections the r6
   truncation ate, restored in r7);
3. the status-store reading behind the scaling report's per-phase tables
   counts a phase's jobs under its tag and the rest as "(untagged)".
"""

from __future__ import annotations

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO / "scripts"))

from scaling_bench import MARKER, replace_own_section  # noqa: E402


def test_replace_preserves_unrelated_sections():
    text = (
        "# Title\n\nintro\n\n## Before section\n\nkeep me\n\n"
        f"{MARKER}\n\nOLD depth content\nmore old\n\n"
        "## Multi-JVM evidence: separate executor processes\n\nkeep this\n\n"
        "## Cluster launch shape: spark-submit --py-files\n\nand this\n"
    )
    out = replace_own_section(text, [MARKER, "", "NEW depth content"])
    assert "OLD depth content" not in out
    assert "NEW depth content" in out
    assert "## Before section" in out and "keep me" in out
    assert "## Multi-JVM evidence: separate executor processes" in out
    assert "keep this" in out
    assert "## Cluster launch shape: spark-submit --py-files" in out
    assert "and this" in out
    # exactly one marker occurrence after the rewrite
    assert out.count(MARKER) == 1


def test_replace_when_section_is_last():
    text = f"# T\n\n## Keep\n\nx\n\n{MARKER}\n\nOLD\n"
    out = replace_own_section(text, [MARKER, "", "NEW"])
    assert "OLD" not in out and "NEW" in out and "## Keep" in out


def test_replace_ignores_prose_mention_of_marker():
    """An earlier prose mention of the marker text is not the section
    start; only the heading line is."""
    text = (
        "# T\n\n## Notes\n\n"
        f"The depth sweep writes `{MARKER}` below.\n\nkeep me\n\n"
        f"{MARKER}\n\nOLD\n\n## After\n\ntail\n"
    )
    out = replace_own_section(text, [MARKER, "", "NEW"])
    assert "OLD" not in out and "NEW" in out
    assert f"writes `{MARKER}` below." in out and "keep me" in out
    assert "## After" in out and "tail" in out
    assert out.index("keep me") < out.index("NEW") < out.index("## After")


def test_replace_with_non_default_marker():
    """Other bench scripts pass their own heading: only that heading line
    starts the section, and the default-marker section is left alone."""
    own = "## Multi-JVM evidence: separate executor processes"
    text = (
        "# T\n\n## Notes\n\nsee `## Multi-JVM evidence` below\n\n"
        f"{MARKER}\n\ndepth body\n\n{own}\n\nOLD\n\n## After\n\ntail\n"
    )
    out = replace_own_section(text, [own, "", "NEW"], own)
    assert "OLD" not in out and "NEW" in out
    assert "see `## Multi-JVM evidence` below" in out
    assert "depth body" in out and "## After" in out and "tail" in out
    assert out.count(own) == 1
    assert out.index("depth body") < out.index("NEW") < out.index("## After")


def test_replace_appends_when_absent():
    text = "# T\n\n## Keep\n\nx\n"
    out = replace_own_section(text, [MARKER, "", "NEW"])
    assert "## Keep" in out and out.index("NEW") > out.index("## Keep")


def test_shipped_report_has_all_referenced_sections():
    md = (REPO / "BENCH" / "BASELINE.md").read_text()
    headings = {
        line[3:].strip() for line in md.splitlines() if line.startswith("## ")
    }
    for required in (
        "Multi-JVM evidence: separate executor processes",
        "Cluster launch shape: spark-submit --py-files",
        "Round-loop amortization at depth",
        MARKER[3:],
    ):
        assert required in headings, f"missing section: {required}"


def test_phase_rows_count_tagged_and_untagged_jobs(spark):
    from scaling_bench import job_ids, phase_rows

    sc = spark.sparkContext

    def one_job() -> None:
        spark.range(8, numPartitions=2).write.format("noop").mode(
            "overwrite"
        ).save()

    skip = job_ids(sc)
    sc.setLocalProperty("spark.job.description", "probe_phase")
    try:
        one_job()
        one_job()
    finally:
        sc.setLocalProperty("spark.job.description", None)
    one_job()
    rows = phase_rows(sc, skip)
    assert rows["probe_phase"]["jobs"] == 2, rows
    assert rows["(untagged)"]["jobs"] == 1, rows
    for row in rows.values():
        assert row["tasks"] > 0 and row["cpu_s"] >= 0, rows
