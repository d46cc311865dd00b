"""Shared plumbing for the benchmark: paths, Spark session, host context,
latency summaries, process-tree sampling and Spark status-store counters.

Everything the benchmark writes goes under ``.bench_out/`` at the root of
the checkout (git-ignored).
"""

from __future__ import annotations

import json
import os
import shlex
import statistics
import subprocess
import sys
import threading
import time

from py4j.protocol import Py4JJavaError

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(REPO, ".bench_out")
SEC = 1_000_000_000
# 2024-01-01T00:00:00Z in epoch ns: the start of every generated stream.
T0 = 1_704_067_200_000_000_000


def nproc() -> int:
    """Spark cores, at most 4: the workloads are sized for a 4-CPU host."""
    return min(4, len(os.sched_getaffinity(0)))


def prepare_env(workdir: str) -> None:
    """Point every scratch location the engine and Spark use into the
    checkout, before the JVM starts: Python temp dirs (the registry's
    per-query workdirs), Spark's local dirs, and the console progress bar
    off so stdout stays clean."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false"
        # Keep every job and stage of a run in the status store the
        # per-op counters read.
        " --conf spark.ui.retainedJobs=100000 --conf spark.ui.retainedStages=100000"
        # The JVM's temp files go to the checkout too; its perf-data file
        # would go to /tmp whatever the temp dir, so it is turned off.
        " --conf " + shlex.quote(
            f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        )
        + " pyspark-shell"
    )
    if REPO not in sys.path:
        sys.path.insert(0, REPO)


def spark_session(app: str):
    from btrdb_server_spark.session import get_spark

    spark = get_spark(app, cpus=nproc())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM this process launched to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


# ------------------------------------------------------------ summaries --


def latency_summary(lat_ms: list) -> dict:
    """Median plus the highest percentile with at least 10 samples beyond
    it: the 11th-largest sample, at percentile 100 * (1 - 10 / n). With
    fewer than 11 samples no such percentile exists and the maximum is
    reported at percentile 100."""
    xs = sorted(lat_ms)
    n = len(xs)
    if n == 0:
        return {"n": 0, "p50_ms": 0.0, "tail_ms": 0.0, "tail_pct": 100.0}
    if n >= 11:
        tail, pct = xs[n - 11], 100.0 * (1 - 10 / n)
    else:
        tail, pct = xs[-1], 100.0
    return {
        "n": n,
        "p50_ms": statistics.median(xs),
        "tail_ms": tail,
        "tail_pct": round(pct, 2),
    }


# ---------------------------------------------------------- host context --


def cpu_stat() -> tuple:
    """(steal ticks, total ticks) from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = list(map(int, f.readline().split()[1:]))
    return vals[7] if len(vals) > 7 else 0, sum(vals)


def steal_pct(a: tuple, b: tuple) -> float:
    return 100.0 * (b[0] - a[0]) / max(1, b[1] - a[1])


def anchor_s(spark) -> float:
    """Calibration anchor: a fixed spark.range groupBy with no I/O and no
    Python (the same probe shape as bench.py), best of 3."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        n = (
            spark.range(0, 5_000_000, 1, 8)
            .selectExpr("id % 997 AS k", "id * 2654435761 % 1000003 AS v")
            .groupBy("k")
            .agg({"v": "sum", "*": "count"})
            .count()
        )
        if n != 997:
            raise RuntimeError(f"anchor returned {n} groups")
        best = min(best, time.perf_counter() - t0)
    return best


# ---------------------------------------------------- process-tree sampler --


def _children(pid: int) -> list:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return out


def process_tree(root: int) -> list:
    seen, todo = [], [root]
    while todo:
        p = todo.pop()
        seen.append(p)
        todo.extend(_children(p))
    return seen


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _cpu_ticks(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return int(fields[11]) + int(fields[12])  # utime + stime
    except (OSError, IndexError, ValueError):
        return 0


class TreeSampler:
    """Samples the RSS of a process tree every `period` seconds on a
    background thread and keeps the peak; also reads the tree's CPU ticks
    at window boundaries for CPU utilisation."""

    def __init__(self, root_pid: int, period: float = 0.1):
        self.root = root_pid
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.period)

    def sample(self) -> None:
        kb = sum(_rss_kb(p) for p in process_tree(self.root))
        self.peak_kb = max(self.peak_kb, kb)

    def cpu_seconds(self) -> float:
        ticks = sum(_cpu_ticks(p) for p in process_tree(self.root))
        return ticks / os.sysconf("SC_CLK_TCK")

    def start(self) -> "TreeSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# ------------------------------------------------- Spark status counters --


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.length())]


class SparkCounters:
    """Job and stage counters from the Spark status store, which is
    readable with spark.ui.enabled=false. Jobs are selected either by job
    group (ops that run on the caller's thread) or by submission time
    inside a window (ops whose jobs run on the streaming thread)."""

    FIELDS = (
        "jobs", "stages", "tasks", "executor_run_ms", "shuffle_bytes",
        "spill_bytes", "input_bytes", "input_records",
    )

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()

    def jobs_for_group(self, group: str) -> list:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def submit_times(self) -> dict:
        """job id -> submission time (epoch s) of every retained job."""
        out = {}
        for jd in _seq(self.store.jobsList(None)):
            sub = jd.submissionTime()
            if sub.isDefined():
                out[jd.jobId()] = sub.get().getTime() / 1000.0
        return out

    @staticmethod
    def in_window(submits: dict, t0: float, t1: float) -> list:
        """Job ids submitted in [t0, t1] (epoch seconds)."""
        return [j for j, t in submits.items() if t0 <= t <= t1]

    def collect(self, job_ids: list) -> dict:
        """Summed counters plus each job's [submit, complete] interval."""
        acc = dict.fromkeys(self.FIELDS, 0)
        intervals = []
        for j in job_ids:
            try:
                jd = self.store.job(j)
            except Py4JJavaError:  # not in the store
                continue
            acc["jobs"] += 1
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append(
                    (sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0)
                )
            for sid in _seq(jd.stageIds()):
                try:
                    sd = self.store.lastStageAttempt(sid)
                except Py4JJavaError:  # the stage never ran
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                acc["stages"] += 1
                acc["tasks"] += sd.numTasks()
                acc["executor_run_ms"] += sd.executorRunTime()
                acc["shuffle_bytes"] += sd.shuffleReadBytes() + sd.shuffleWriteBytes()
                acc["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                acc["input_bytes"] += sd.inputBytes()
                acc["input_records"] += sd.inputRecords()
        acc["intervals"] = intervals
        return acc


def union_length(intervals, lo=float("-inf"), hi=float("inf")):
    """Length of the union of (start, end) intervals, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0)


def spark_layer_metrics(per_op: list, rows_out: int) -> dict:
    """spark.* per-layer metrics from per-op counter dicts, each carrying
    its op's wall window as `t0`/`t1`."""
    n = max(1, len(per_op))
    tot = {k: sum(c[k] for c in per_op) for k in SparkCounters.FIELDS}
    wall = sum(c["t1"] - c["t0"] for c in per_op)
    busy = sum(union_length(c["intervals"], c["t0"], c["t1"]) for c in per_op)
    return {
        "spark.jobs_per_op": tot["jobs"] / n,
        "spark.stages_per_op": tot["stages"] / n,
        "spark.tasks_per_op": tot["tasks"] / n,
        "spark.executor_run_ms_per_op": tot["executor_run_ms"] / n,
        "spark.shuffle_bytes_per_op": tot["shuffle_bytes"] / n,
        "spark.spill_bytes": float(tot["spill_bytes"]),
        "spark.input_bytes_per_op": tot["input_bytes"] / n,
        "spark.rows_read_per_row_out": tot["input_records"] / max(1, rows_out),
        "spark.idle_share": 1.0 - busy / wall if wall > 0 else 0.0,
    }


def dir_bytes(path: str) -> int:
    """Bytes on disk under `path`, counting each hard-linked file once
    (compaction carries untouched buckets into a new generation as links)."""
    total, seen = 0, set()
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                st = os.stat(os.path.join(root, f))
            except OSError:
                continue
            if (st.st_dev, st.st_ino) not in seen:
                seen.add((st.st_dev, st.st_ino))
                total += st.st_size
    return total


def parquet_files(path: str) -> int:
    return sum(f.endswith(".parquet") for _r, _d, fs in os.walk(path) for f in fs)


def write_json(path: str, obj) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True, default=float)
