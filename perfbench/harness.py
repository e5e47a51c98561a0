"""What both workloads share: machine sizing, the Spark session's life,
the generator process, and readers for the engine's public outputs
(checkpoint logs, progress reports, the status tracker, ``/proc``).

Everything the benchmark writes lives under ``.perfbench_work`` in the
checkout: inputs, checkpoints, sink output, Spark's local and temp
directories, and the traces of traced runs.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

from generator import parse_iso_ms
from stats import median

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
ENGINE = ROOT / "spark_kafka_streaming_spark"
WORK = ROOT / ".perfbench_work"

#: Longest a generator process may run past its schedule.
GENERATOR_GRACE_S = 60.0


def machine() -> dict:
    """Session sizing from the machine: every CPU this process may run
    on, and a driver heap of a quarter of physical RAM but at most
    1 GiB, a quarter of it young generation.  The workloads keep a few
    MB of state; a larger heap only lets garbage pile up between
    collections, which turns peak RSS into a measure of collector timing
    and crowds a shared host."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    mem_mb = min(1024, kb // (4 * 1024))
    return {
        "cpus": cpus,
        "mem_total_gb": round(kb / 1024 / 1024, 1),
        "driver_mem": f"{mem_mb}m",
        "young_gen": f"{mem_mb // 4}m",
    }


def configure_env(run_dir: Path) -> dict:
    """Point the engine's sizing knobs and every temp directory into
    the run directory.  Must run before the first gateway touch."""
    m = machine()
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(m["cpus"])
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = m["driver_mem"]
    os.environ["TMPDIR"] = str(tmp)
    # A fixed young generation: G1 otherwise resizes it from run to run,
    # and the pages it touches set most of the JVM's peak RSS.
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -Xmn{m['young_gen']}' pyspark-shell"
    )
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    return m


def versions(spark) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        "python": sys.version.split()[0],
        "pyspark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "master": spark.sparkContext.master,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "state_store": spark.conf.get("spark.sql.streaming.stateStore.providerClass").rsplit(".", 1)[-1],
    }


class Session:
    """One Spark session built by the engine's own factory, and the
    JVM behind it, which :meth:`stop` ends and waits for."""

    def __init__(self, run_dir: Path):
        self.run_dir = run_dir
        self.spark = None
        self._jvm_proc = None
        self._jobs_seen = -1

    def start(self) -> float:
        from spark_kafka_streaming_spark.session import get_spark

        t = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            # The engine reads its default from the environment when first
            # imported; passing it keeps the sizing independent of import order.
            shuffle_partitions=int(os.environ["SPARK_GRAFT_CPUS"]),
            extra_conf={
                "spark.local.dir": str(self.run_dir / "spark-local"),
                "spark.sql.warehouse.dir": str(self.run_dir / "warehouse"),
            },
        )
        elapsed = time.perf_counter() - t
        from pyspark import SparkContext

        self._jvm_proc = SparkContext._gateway.proc
        return elapsed

    def peak_rss_mb(self) -> float:
        """VmHWM of the driver JVM plus this Python process."""
        pids = [os.getpid()] + ([self._jvm_proc.pid] if self._jvm_proc else [])
        return sum(vm_hwm_kb(p) for p in pids) / 1024.0

    def rss_split_mb(self) -> dict:
        return {
            "python": vm_hwm_kb(os.getpid()) / 1024.0,
            "jvm": vm_hwm_kb(self._jvm_proc.pid) / 1024.0 if self._jvm_proc else 0.0,
        }

    def job_counts(self) -> tuple[int, int]:
        """(jobs, tasks) started since the previous call, from the
        status tracker.  Job ids are dense, so new jobs are probed by id;
        tasks are the completed and failed tasks of their stages."""
        tracker = self.spark.sparkContext.statusTracker()
        jobs = tasks = 0
        jid = self._jobs_seen + 1
        while True:
            info = tracker.getJobInfo(jid)
            if info is None:
                break
            jobs += 1
            for sid in info.stageIds:
                st = tracker.getStageInfo(sid)
                if st is not None:
                    tasks += st.numCompletedTasks + st.numFailedTasks
            jid += 1
        self._jobs_seen = jid - 1
        return jobs, tasks

    def stop(self) -> None:
        if self.spark is not None:
            for q in self.spark.streams.active:
                q.stop()
            self.spark.stop()
            self.spark = None
        proc, self._jvm_proc = self._jvm_proc, None
        if proc is not None and proc.poll() is None:
            # The gateway JVM exits when its stdin pipe closes.
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


def cpu_times() -> list[int]:
    """The machine's aggregate CPU counters from ``/proc/stat``."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor took from this machine between
    two readings: a slow run on a shared host shows up here."""
    d = [b - a for a, b in zip(before, after)]
    return 100.0 * d[7] / max(1, sum(d[:8]))


def vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except FileNotFoundError:
        pass
    return 0


def generator_cmd(kind: str, seed: int, out: Path, files: int, per_file: int, interval: float, log: Path) -> list[str]:
    return [
        sys.executable, str(HERE / "generator.py"),
        "--kind", kind, "--seed", str(seed), "--out", str(out),
        "--files", str(files), "--per-file", str(per_file),
        "--interval", str(interval), "--log", str(log),
    ]  # fmt: skip


def start_generator(cmd: list[str], start_at: float | None = None) -> subprocess.Popen:
    if start_at is not None:
        cmd = cmd + ["--start-at", repr(start_at)]
    return subprocess.Popen(cmd, stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL)


def finish_generator(proc: subprocess.Popen, log: Path, timeout: float) -> dict:
    try:
        proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
        raise RuntimeError("load generator overran its schedule") from None
    if proc.returncode != 0:
        raise RuntimeError(f"load generator exited with {proc.returncode}")
    with open(log) as fh:
        return json.load(fh)


def stage_backlog(kind: str, seed: int, out: Path, files: int, per_file: int, interval: float) -> dict:
    """Land a whole input set at once with the generator process."""
    log = out.parent / f"{out.name}.gen.json"
    cmd = generator_cmd(kind, seed, out, files, per_file, interval, log) + ["--backlog"]
    return finish_generator(start_generator(cmd), log, GENERATOR_GRACE_S)


# -- checkpoint logs ------------------------------------------------------


def _log_entries(d: Path) -> dict[str, list[str]]:
    """Metadata-log files of one checkpoint log directory: batch id (or
    ``<id>.compact``) -> lines after the version header."""
    out = {}
    if not d.is_dir():
        return out
    for name in os.listdir(d):
        if name.startswith(".") or not (name.isdigit() or name.endswith(".compact")):
            continue
        with open(d / name, "rb") as fh:
            out[name] = fh.read().decode("utf-8").splitlines()[1:]
    return out


def batch_files(ck: Path) -> dict[str, int]:
    """File name -> id of the batch that read it, from the file
    source's log (compacted entries included)."""
    out = {}
    for lines in _log_entries(ck / "sources" / "0").values():
        for line in lines:
            if line.strip():
                e = json.loads(line)
                out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def batch_watermarks(ck: Path) -> dict[int, int]:
    """Batch id -> the watermark (epoch ms) the batch evicted state by,
    from the offset log's metadata line."""
    return {int(b): int(json.loads(lines[0])["batchWatermarkMs"]) for b, lines in _log_entries(ck / "offsets").items()}


def late_watermarks(wm: dict[int, int]) -> dict[int, int]:
    """Batch id -> the watermark its late-row filter applies: the
    previous batch's (0 for the first)."""
    return {b: wm.get(b - 1, 0) for b in wm}


def _log_mtimes(d: Path) -> dict[int, float]:
    if not d.is_dir():
        return {}
    return {int(n): os.stat(d / n).st_mtime_ns / 1e9 for n in os.listdir(d) if n.isdigit()}


def commit_times(ck: Path) -> dict[int, float]:
    """Batch id -> wall time its commit-log entry was written (the end
    of the micro-batch)."""
    return _log_mtimes(ck / "commits")


def start_times(ck: Path) -> dict[int, float]:
    """Batch id -> wall time its offset-log entry was written (the
    instant the batch's input was fixed)."""
    return _log_mtimes(ck / "offsets")


def dir_bytes(path: Path) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except FileNotFoundError:
                continue
    return total


def backlog_files_max(landed: list[float], batch_start: dict[int, float], files_per_batch: dict[int, int]) -> int:
    """Most files that had landed but were not yet taken by a batch,
    seen at the start of any batch."""
    taken = 0
    worst = 0
    for b in sorted(batch_start):
        arrived = sum(1 for t in landed if t <= batch_start[b])
        worst = max(worst, arrived - taken)
        taken += files_per_batch.get(b, 0)
    return worst


# -- progress reports -----------------------------------------------------


def add_trigger_spans(spans, events: list[dict], query_ids: set[str], parent: int | None) -> None:
    """One span per trigger of the given queries, from their progress
    reports (start stamp plus ``triggerExecution``)."""
    for p in events:
        if p.get("id") in query_ids:
            start = parse_iso_ms(p["timestamp"]) / 1000.0
            spans.add("pipeline.trigger", start, start + p["durationMs"]["triggerExecution"] / 1000.0, parent, batch=p["batchId"])


def progress_stats(events: list[dict]) -> dict:
    """Per-trigger p50s and totals from ``StreamingQueryProgress``
    reports of data-carrying triggers."""
    data = [p for p in events if p.get("numInputRows", 0) > 0] or events
    d = [p.get("durationMs", {}) for p in data]

    def med(xs):
        return float(median(xs)) if xs else 0.0

    ops = [p.get("stateOperators") or [] for p in data]
    last_ops = (events[-1].get("stateOperators") or []) if events else []
    return {
        "triggers": len(data),
        "rows_per_trigger": med([p["numInputRows"] for p in data]),
        "trigger_ms": med([x.get("triggerExecution", 0) for x in d]),
        "overhead_ms": med([x.get("triggerExecution", 0) - x.get("addBatch", 0) for x in d]),
        "planning_ms": med([x.get("queryPlanning", 0) for x in d]),
        "wal_commit_ms": med([x.get("walCommit", 0) for x in d]),
        "commit_offsets_ms": med([x.get("commitOffsets", 0) for x in d]),
        "add_batch_ms": med([x.get("addBatch", 0) for x in d]),
        "state_commit_ms": med([sum(o.get("commitTimeMs", 0) for o in os_) for os_ in ops]),
        "state_update_ms": med([sum(o.get("allUpdatesTimeMs", 0) for o in os_) for os_ in ops]),
        "state_rows_total": sum(int(o.get("numRowsTotal", 0)) for o in last_ops),
        "state_memory_bytes": sum(int(o.get("memoryUsedBytes", 0)) for o in last_ops),
        "state_rows_dropped": sum(int(o.get("numRowsDroppedByWatermark", 0)) for p in events for o in p.get("stateOperators") or []),
    }


def noop_p50_ms(df, passes: int = 3) -> float:
    """Per-call p50 of writing ``df`` to the noop sink."""
    times = []
    for _ in range(passes):
        t = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        times.append((time.perf_counter() - t) * 1000.0)
    return median(times)


def reset_dir(path: Path) -> Path:
    shutil.rmtree(path, ignore_errors=True)
    path.mkdir(parents=True)
    return path
