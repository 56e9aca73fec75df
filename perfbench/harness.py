"""Shared pieces of the benchmark: the Spark session it owns, memory and
Spark-job accounting, the host-noise probe, and the span tracer.

Everything the benchmark writes goes under its work directory inside the
checkout: Spark's local and warehouse dirs, the JVM's and Python's temp
dirs, run dirs and generated inputs.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
from contextlib import contextmanager
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def median(xs) -> float:
    return float(statistics.median(xs))


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            fp = os.path.join(dirpath, f)
            if not os.path.islink(fp):
                total += os.path.getsize(fp)
    return total


def count_files(path: str, suffix: str = ".parquet") -> int:
    return sum(
        1 for _d, _s, files in os.walk(path) for f in files if f.endswith(suffix)
    )


def force(df) -> None:
    """Run ``df`` to completion without collecting it (noop sink)."""
    df.write.format("noop").mode("overwrite").save()


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _stat_fields(path: str) -> list[str]:
    """Fields of a /proc stat file after the command name: [0] is the
    state, [1] the parent pid, [11:15] utime, stime, cutime, cstime."""
    with open(path) as f:
        return f.read().rsplit(")", 1)[1].split()


def _children(pid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            fields = _stat_fields(f"/proc/{entry}/stat")
        except OSError:
            continue
        if int(fields[1]) == pid:
            out.append(int(entry))
    return out


def _descendants(pid: int) -> list[int]:
    found, todo = [], [pid]
    while todo:
        kids = _children(todo.pop())
        found += kids
        todo += kids
    return found


def _alive(pid: int) -> bool:
    try:
        return _stat_fields(f"/proc/{pid}/stat")[0] != "Z"
    except OSError:
        return False


def host_probe(procs: int) -> dict:
    """Bare-multiprocessing host speed (images/s, parse pages/s) from
    ``scripts/scaling_bench``. Run before the JVM starts (fork safety)."""
    sys.path.insert(0, str(ROOT / "scripts"))
    from scaling_bench import hardware_baseline, hardware_parse_baseline

    return {
        "procs": procs,
        "images_per_s": hardware_baseline(procs, total=100 * procs),
        "parse_pages_per_s": hardware_parse_baseline(procs, total=50 * procs),
    }


class Session:
    """One local[nproc] SparkSession for the whole run, stopped together
    with its JVM and the JVM's python workers."""

    def __init__(self, work: Path, cpus: int):
        from pyspark import SparkContext

        from realestate_scraper_spark.session import get_spark

        local = work / "spark-local"
        tmp = work / "tmp"
        for d in (local, tmp):
            d.mkdir(parents=True, exist_ok=True)
        self.cpus = cpus
        self.jvm_pid = None
        self._jit: dict[int, int] = {}
        cpu0, t0 = self.cpu_s(), time.monotonic()
        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{cpus}]",
            shuffle_partitions=cpus,
            extra_conf={
                "spark.driver.memory": "2g",
                "spark.local.dir": str(local),
                "spark.sql.warehouse.dir": str(work / "warehouse"),
                # -XX:-UsePerfData: no hsperfdata file in the system /tmp
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work} "
                    "-XX:-UsePerfData"
                ),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.start_s = time.monotonic() - t0
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")
        self._gateway = SparkContext._gateway
        self.jvm_pid = self._gateway.proc.pid
        self.start_cpu_s = self.cpu_s() - cpu0

    def peak_rss_mb(self) -> float:
        """Driver python plus JVM peak resident set (kernel high-water
        marks), in MiB."""
        return _vm_hwm_mb(os.getpid()) + _vm_hwm_mb(self.jvm_pid)

    def cpu_s(self) -> float:
        """CPU seconds used so far by the driver, the JVM and every process
        under it (exited children that were waited for included), without
        the JVM's JIT compiler threads: compiling is warm-up, which a
        long-lived session finishes, and when it lands in a timed operation
        it varies from run to run. Before the JVM has started, the driver's
        alone."""
        pids = [os.getpid()]
        if self.jvm_pid is not None:
            pids += [self.jvm_pid, *_descendants(self.jvm_pid)]
        ticks = 0
        for pid in pids:
            try:
                fields = _stat_fields(f"/proc/{pid}/stat")
            except OSError:
                continue
            ticks += sum(int(x) for x in fields[11:15])
        return (ticks - self._jit_ticks()) / os.sysconf("SC_CLK_TCK")

    def jit_cpu_s(self) -> float:
        """CPU seconds the JVM's JIT compiler threads have used so far."""
        return self._jit_ticks() / os.sysconf("SC_CLK_TCK")

    def _jit_ticks(self) -> int:
        # compiler threads come and go; an exited one keeps its last reading
        if self.jvm_pid is None:
            return 0
        task = f"/proc/{self.jvm_pid}/task"
        for tid in os.listdir(task):
            try:
                with open(f"{task}/{tid}/comm") as f:
                    if "CompilerThre" not in f.read():
                        continue
                fields = _stat_fields(f"{task}/{tid}/stat")
            except OSError:
                continue
            self._jit[int(tid)] = int(fields[11]) + int(fields[12])
        return sum(self._jit.values())

    def job_ids(self) -> set[int]:
        return set(self.sc.statusTracker().getJobIdsForGroup())

    def job_counts(self, job_ids) -> dict:
        """Jobs, stages, completed and failed tasks of ``job_ids``, from
        the public StatusTracker API."""
        st = self.sc.statusTracker()
        stages: set[int] = set()
        for jid in job_ids:
            info = st.getJobInfo(jid)
            if info is not None:
                stages.update(info.stageIds)
        tasks = failed = 0
        for sid in stages:
            info = st.getStageInfo(sid)
            if info is not None:
                tasks += info.numCompletedTasks
                failed += info.numFailedTasks
        return {
            "jobs": len(job_ids),
            "stages": len(stages),
            "tasks": tasks,
            "failed_tasks": failed,
        }

    def stop(self) -> None:
        """Stop the SparkContext, then the JVM, and wait until the JVM and
        every process under it have exited."""
        procs = _descendants(self.jvm_pid)
        try:
            self.spark.stop()
        finally:
            proc = self._gateway.proc
            self._gateway.shutdown()
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
            deadline = time.monotonic() + 30
            while any(_alive(p) for p in procs):
                if time.monotonic() > deadline:
                    for p in procs:
                        if _alive(p):
                            os.kill(p, 9)
                    break
                time.sleep(0.1)


class Tracer:
    """Spans kept in memory as (name, start, end, parent, workload,
    repetition) and written out when the run ends. Spans are recorded by
    the benchmark around its calls into a layer, all on one thread, so a
    span's children are nested and sequential."""

    def __init__(self, workload: str, enabled: bool):
        self.workload = workload
        self.enabled = enabled
        self.spans: list[list] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, rep: int | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append([name, time.monotonic(), None, parent, self.workload, rep])
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx][2] = time.monotonic()

    def wall(self, name: str) -> float:
        """Total wall of every span called ``name``."""
        return sum(s[2] - s[1] for s in self.spans if s[0] == name)

    def self_times(self) -> dict[str, float]:
        """Per span name: duration minus the time its child spans cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s[3] is not None:
                child[s[3]] += s[2] - s[1]
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s[0]] = out.get(s[0], 0.0) + (s[2] - s[1]) - child[i]
        return out

    def write(self, path: Path) -> None:
        """Write the spans and each span name's self time as JSON."""
        import json

        path.parent.mkdir(parents=True, exist_ok=True)
        keys = ("name", "start", "end", "parent", "workload", "repetition")
        with open(path, "w") as f:
            json.dump({
                "spans": [dict(zip(keys, s)) for s in self.spans],
                "self_s": self.self_times(),
            }, f)
