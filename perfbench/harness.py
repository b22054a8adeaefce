"""Benchmark plumbing: the Spark session, spans, Spark job counts, peak
RSS sampling and sample statistics.

Everything here observes the program from outside. Spans wrap calls
into the program's public functions; job, stage and task counts come
from ``SparkContext.statusTracker`` under a job group this module sets
around each traced call. Nothing in ``filters_spark`` is patched.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import threading
import time

# local[k] width: the host's CPUs, capped at 4 so runs on wider hosts
# keep the shape the bounds were fixed on
CPUS = min(4, len(os.sched_getaffinity(0)))
DRIVER_MEM = "1g"


def start_spark(work: str, root: str):
    """Start a local SparkSession sized for a small host.

    Spark's scratch, the JVM's temp dir and Python's temp dir all live
    under ``work``. The repo root goes on the Python workers'
    ``PYTHONPATH`` so kernels resolve ``filters_spark`` from any cwd."""
    os.environ.setdefault("FILTERS_SPARK_DRIVER_MEM", DRIVER_MEM)
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)

    from filters_spark.session import get_spark

    spark = get_spark(
        "filters-spark-perfbench",
        master=f"local[{CPUS}]",
        shuffle_partitions=CPUS,
        extra_conf={
            # C1 only: tiered C2 keeps recompiling for dozens of seconds
            # after the first calls, so a short run would time a point on
            # a warm-up curve whose slope is set by how much CPU the
            # compiler threads got from the host. With C1 alone the calls
            # are steady from the second unit of work on
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:TieredStopAtLevel=1",
            "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
            # the same two scan/AQE settings bench.py's make_spark uses
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16m",
            "spark.sql.files.maxPartitionBytes": "33554432",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()  # session ready: JVM up, first job scheduled
    return spark


def stop_spark(spark) -> None:
    """Stop the session, end its JVM and wait until the JVM and every
    process under it (the Python workers) have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    procs = descendants(spark._jvm.ProcessHandle.current().pid())
    spark.stop()
    jvm = getattr(gateway, "proc", None)
    if jvm is not None:
        gateway.shutdown()
        jvm.stdin.close()  # the gateway JVM exits when its stdin closes
        jvm.wait(timeout=60)
    deadline = time.time() + 30
    while any(os.path.exists(f"/proc/{p}") for p in procs) and time.time() < deadline:
        time.sleep(0.1)


def descendants(pid: int) -> list[int]:
    """``pid`` and every process below it, from ``/proc``."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def median(xs):
    return statistics.median(xs)


def tail(xs) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile with at least ten
    samples beyond it. Below 20 samples that percentile would sit at or
    under the median, so the max is reported instead (percentile 100)."""
    s = sorted(xs)
    n = len(s)
    if n < 20:
        return s[-1], 100.0, n
    return s[n - 11], round(100.0 * (n - 10) / n, 1), n


class RssSampler:
    """Peak resident memory of the driver JVM and its Python workers,
    sampled from ``/proc`` every ``interval`` seconds."""

    def __init__(self, jvm_pid: int, interval: float = 0.2):
        self.jvm_pid = jvm_pid
        self.interval = interval
        self.peak_kb = 0
        self.peak_jvm_kb = 0
        self.peak_procs = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def _rss_kb(pid: int) -> int:
        """Proportional resident set (Pss): pages shared between the
        forked Python workers count once in the sum, not once each."""
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def _run(self):
        while not self._stop.is_set():
            tree = descendants(self.jvm_pid)
            self.peak_kb = max(self.peak_kb, sum(self._rss_kb(p) for p in tree))
            self.peak_jvm_kb = max(self.peak_jvm_kb, self._rss_kb(self.jvm_pid))
            self.peak_procs = max(self.peak_procs, len(tree))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


class Tracer:
    """Spans around calls into the program, plus the Spark jobs, stages
    and tasks each traced call ran. Disabled, every span is a no-op so
    the untraced run pays nothing.

    Jobs from the calling thread carry the span's job group. Jobs from
    the program's own worker threads (fan-out stages routes in a thread
    pool) carry none; the benchmark is the only client, so ungrouped
    jobs that appear during the call belong to it too."""

    def __init__(self, spark, run_id: str, enabled: bool):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str, jobs: bool = False, **attrs):
        if not self.enabled:
            yield {}
            return
        sid = len(self.spans)
        rec = {
            "id": sid, "run": self.run_id, "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter() - self._t0, "end": None, **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        tracker = self.sc.statusTracker()
        if jobs:
            group = f"{self.run_id}/{sid}/{name}"
            before = set(tracker.getJobIdsForGroup(None))
            self.sc.setJobGroup(group, name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()
            if jobs:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
                rec.update(self._job_counts(tracker, group, before))

    @staticmethod
    def _job_counts(tracker, group: str, before: set) -> dict:
        ids = set(tracker.getJobIdsForGroup(group))
        ids |= set(tracker.getJobIdsForGroup(None)) - before
        # the status store is fed by an async listener: wait until the
        # call's jobs stop showing as active before reading task counts
        deadline = time.time() + 5
        while ids & set(tracker.getActiveJobsIds()) and time.time() < deadline:
            time.sleep(0.02)
        stages = tasks = failed = 0
        for jid in ids:
            info = tracker.getJobInfo(jid)
            for st in (info.stageIds if info else []):
                s = tracker.getStageInfo(st)
                if s is None or s.numCompletedTasks + s.numFailedTasks == 0:
                    continue  # skipped (reused shuffle) or evicted
                stages += 1
                tasks += s.numCompletedTasks + s.numFailedTasks
                failed += s.numFailedTasks
        return {"spark_jobs": len(ids), "spark_stages": stages,
                "spark_tasks": tasks, "failed_tasks": failed}
