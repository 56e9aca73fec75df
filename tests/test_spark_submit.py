"""North-rule launch shape: ``spark-submit --py-files engine.zip`` on a
multi-executor master (BASELINE.json: "run via spark-submit --py-files on a
multi-executor cluster at two cluster sizes").

The test proves the packaging end-to-end, not just the API: the package is
zipped, the entry script is copied OUT of the repo, PYTHONPATH is stripped
from the subprocess env, and the job runs on ``local-cluster[2,2,2048]`` —
two separate executor JVMs whose Python workers can only import the engine
from the ``--py-files`` zip. The submitted ``--conf`` must win over the
engine's builder defaults (session.get_spark's spark-submit-owned path).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

import pyspark

from tests.conftest import REPO

SPARK_SUBMIT = Path(pyspark.__file__).parent / "bin" / "spark-submit"


def _zip_package(dest: Path) -> Path:
    zip_path = dest / "engine.zip"
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
        pkg = REPO / "realestate_scraper_spark"
        for p in sorted(pkg.rglob("*.py")):
            if "__pycache__" in p.parts:
                continue
            zf.write(p, p.relative_to(REPO))
    return zip_path


def _submit_env() -> dict:
    """No PYTHONPATH: the engine is importable only from --py-files."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    return env


def test_spark_submit_py_files_local_cluster(tmp_path):
    zip_path = _zip_package(tmp_path)
    # The entry script leaves the repo so its own sys.path bootstrap cannot
    # reach the package — only --py-files can provide it.
    script = tmp_path / "run_crawl.py"
    shutil.copy(REPO / "scripts" / "run_crawl.py", script)

    env = _submit_env()

    out = subprocess.run(
        [
            str(SPARK_SUBMIT),
            "--master", "local-cluster[2,2,2048]",
            "--conf", "spark.ui.enabled=false",
            # must survive into the session: get_spark's builder default is
            # 32, the submitted conf must win (asserted via rounds below
            # being the same as the in-process local-cluster probe at 4).
            "--conf", "spark.sql.shuffle.partitions=4",
            "--py-files", str(zip_path),
            str(script),
            "--run-dir", str(tmp_path / "run"),
            "--pages", "3", "--cards", "8", "--lookahead", "2",
        ],
        capture_output=True,
        text=True,
        timeout=540,
        env=env,
        cwd=str(tmp_path),
    )
    assert out.returncode == 0, out.stderr[-3000:]
    summary = json.loads(
        [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
    )
    # Same corpus + engine parameters as the in-process local-cluster probe
    # (tests/test_cache_race.py): the launch mechanism must not change the
    # crawl's result set.
    assert summary["pages_fetched"] == 125, summary
    assert summary["offers_rows"] == 79, summary
    assert summary["rounds"] > 0, summary


_CONF_PROBE = """
import json
from realestate_scraper_spark.session import get_spark
spark = get_spark()
keys = ["spark.sql.codegen.cache.maxEntries", "spark.sql.session.timeZone"]
print(json.dumps({k: spark.conf.get(k) for k in keys}))
spark.stop()
"""


def test_spark_submit_static_default_yields_to_submitted_conf(tmp_path):
    """The codegen cache size is a static conf, so the spark-submit-owned
    path sets it on the builder: applied when the operator did not submit
    it, never over a submitted ``--conf``."""
    zip_path = _zip_package(tmp_path)
    script = tmp_path / "conf_probe.py"
    script.write_text(_CONF_PROBE)
    env = _submit_env()

    def submitted(*conf: str) -> dict:
        args = [a for kv in conf for a in ("--conf", kv)]
        out = subprocess.run(
            [str(SPARK_SUBMIT), "--master", "local[1]",
             "--conf", "spark.ui.enabled=false", *args,
             "--py-files", str(zip_path), str(script)],
            capture_output=True, text=True, timeout=240, env=env,
            cwd=str(tmp_path),
        )
        assert out.returncode == 0, out.stderr[-3000:]
        return json.loads(
            [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
        )

    assert submitted() == {
        "spark.sql.codegen.cache.maxEntries": "1000",
        "spark.sql.session.timeZone": "UTC",
    }
    assert submitted("spark.sql.codegen.cache.maxEntries=7")[
        "spark.sql.codegen.cache.maxEntries"] == "7"
