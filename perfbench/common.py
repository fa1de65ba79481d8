"""Shared harness: pinned Spark environment, process-tree accounting,
timed passes, Spark event-log parsing and the result line.

Everything the benchmark writes goes under ``<checkout>/.perfbench``.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")
RSS_INTERVAL_S = 0.1  # how often a pass samples the tree's RSS


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def host_mem_bytes() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def pin_environment() -> dict:
    """Pin the Spark environment through the environment variables
    ``session.get_spark`` reads, before any JVM starts.  Returns the
    values set, for the run record."""
    # leave one core to the JIT compiler, GC and the driver process:
    # with every core running tasks, pass times vary far more
    cpus = max(1, min(3, host_cpus() - 1))
    # The session default is a 16g driver; 2g fits a host of 8 GiB or
    # more beside other tenants, 1g anything smaller.
    mem_gb = 2 if host_mem_bytes() >= 8 << 30 else 1
    local = os.path.join(WORK, "spark-local")
    tmp = os.path.join(WORK, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    # a fixed-size heap (initial = max) keeps the JVM's resident size
    # from following G1's run-to-run heap resizing
    java_opts = f"-Xms{mem_gb}g -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    confs = [
        f"spark.driver.extraJavaOptions={java_opts}",
        f"spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
        "spark.ui.showConsoleProgress=false",
    ]
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": f"{mem_gb}g",
        "SPARK_LOCAL_DIRS": local,
        "SPARK_UI_ENABLED": "false",
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": " ".join(f'--conf "{c}"' for c in confs) + " pyspark-shell",
    }
    os.environ.update(env)
    return env


# ---------------------------------------------------------------------------
# process tree: CPU time and resident memory of driver + JVM + workers
# ---------------------------------------------------------------------------


def _proc_stats() -> dict[int, list[str]]:
    """``/proc/<pid>/stat`` of every process, split after the command
    name: field N of proc(5) is at index N - 3."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        out[int(entry)] = stat[stat.rindex(")") + 2 :].split()
    return out


def _tree(stats: dict[int, list[str]]) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, f in stats.items():
        kids.setdefault(int(f[1]), []).append(pid)
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_pids() -> list[int]:
    """This process and every descendant of it."""
    return _tree(_proc_stats())


def tree_cpu_s() -> float:
    """utime+stime+cutime+cstime summed over the live tree.  A child
    reaped between two readings moves its whole lifetime into its
    parent's c-times, so the difference of two readings is the CPU the
    tree spent in between."""
    stats = _proc_stats()
    ticks = 0
    for pid in _tree(stats):
        f = stats[pid]
        ticks += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return ticks / CLK_TCK


def tree_rss_bytes() -> int:
    """Resident bytes summed over the tree.  A child with its parent's
    virtual size is still in its parent's memory image, between clone
    and exec: the JVM starts ``chmod`` and ``jspawnhelper`` that way
    during a pass, and counting such a child counted the JVM's 2-3 GB
    twice in about one pass in ten."""
    stats = _proc_stats()
    tree = _tree(stats)
    total = 0
    for pid in tree:
        f = stats[pid]
        if pid == tree[0] or stats[int(f[1])][20] != f[20]:
            total += int(f[21]) * PAGE
    return total


class RssSampler:
    """Samples the tree's summed RSS on a thread; ``peak`` is the max."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes())
            self._stop.wait(RSS_INTERVAL_S)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_rss_bytes())


class Pass:
    """One timed pass: wall, tree CPU and peak tree RSS."""

    def __enter__(self) -> "Pass":
        self._rss = RssSampler().__enter__()
        self._cpu0 = tree_cpu_s()
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.wall_s = time.perf_counter() - self._t0
        self.cpu_s = tree_cpu_s() - self._cpu0
        self._rss.__exit__()
        self.peak_rss_mb = self._rss.peak / (1 << 20)


def timed_passes(run_one, inspect, seconds: float, min_passes: int) -> list:
    """Run ``run_one(i)`` inside a :class:`Pass` until ``seconds`` of
    passes have elapsed and at least ``min_passes`` ran; right after
    each pass, untimed, ``inspect(result)`` checks its output.  Returns
    ``[(Pass, inspection), ...]``."""
    out = []
    t0 = time.perf_counter()
    while len(out) < min_passes or time.perf_counter() - t0 < seconds:
        with Pass() as p:
            res = run_one(len(out))
        out.append((p, inspect(res)))
    return out


# ---------------------------------------------------------------------------
# Spark session lifetime
# ---------------------------------------------------------------------------


def start_session():
    """Start the package's session; return (spark, seconds)."""
    t0 = time.perf_counter()
    from textract_farmdata_pipeline_spark.session import get_spark

    spark = get_spark(app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark, then the gateway JVM, then wait for every process
    the run started (JVM, Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    while len(tree_pids()) > 1 and time.time() < deadline:
        time.sleep(0.1)
    for pid in tree_pids()[1:]:
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def release_new_rdds(spark, before: set[int]) -> None:
    """Release every block-manager RDD created since ``before`` (the
    staging checkpoints a finished pass leaves behind)."""
    from textract_farmdata_pipeline_spark.operators.checkpoints import release

    release(spark, persistent_rdd_ids(spark) - before)


def persistent_rdd_ids(spark) -> set[int]:
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().toList().iterator()
    out = set()
    while it.hasNext():
        out.add(it.next()._1())
    return out


def tree_bytes(path: str, suffix: str = "") -> tuple[int, int]:
    """(bytes, files) of regular files under ``path`` ending in ``suffix``."""
    total = n = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(suffix) and not f.startswith("."):
                total += os.path.getsize(os.path.join(root, f))
                n += 1
    return total, n


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


# ---------------------------------------------------------------------------
# Spark event log → per-job-group engine metrics
# ---------------------------------------------------------------------------

SPARK_FIELDS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)


class CheckFailed(RuntimeError):
    """A workload's output check failed during a traced pass."""


class EventLog:
    """Spark's own event log, on only inside the ``with`` block and
    outside :meth:`paused`: Spark's ``EventLoggingListener``
    (uncompressed, not rolling) is attached to the running session while
    it is on, so work done while it is off pays nothing for it.
    :meth:`jobs` parses what it wrote."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._dir = os.path.join(WORK, "eventlog")

    def _settle(self) -> None:
        """Wait until every event posted so far has reached the listeners."""
        self._jsc.listenerBus().waitUntilEmpty()

    def __enter__(self) -> "EventLog":
        jvm = self._sc._jvm
        conf = (
            self._jsc.conf()
            .clone()
            .set("spark.eventLog.compress", "false")
            .set("spark.eventLog.rolling.enabled", "false")
        )
        self._listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            self._sc.applicationId,
            jvm.scala.Option.apply(None),
            jvm.java.net.URI(f"file://{fresh_dir(self._dir)}"),
            conf,
        )
        self._listener.start()
        self._jsc.addSparkListener(self._listener)
        return self

    def __exit__(self, *exc) -> None:
        self._settle()
        self._jsc.removeSparkListener(self._listener)
        self._listener.stop()

    @contextlib.contextmanager
    def paused(self):
        self._settle()
        self._jsc.removeSparkListener(self._listener)
        try:
            yield
        finally:
            self._settle()
            self._jsc.addSparkListener(self._listener)

    def jobs(self) -> list[dict]:
        return parse_event_log(os.path.join(self._dir, self._sc.applicationId))


def parse_event_log(path: str) -> list[dict]:
    """Read an uncompressed event log into one record per job: its job
    group, submission time (epoch s) and the task metrics of its
    stages, summed."""
    jobs: list[dict] = []
    stage_job: dict[int, dict] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                job = {
                    "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                    "time": ev["Submission Time"] / 1e3,
                    "metrics": dict.fromkeys(SPARK_FIELDS, 0.0),
                }
                job["metrics"]["jobs"] = 1
                jobs.append(job)
                for sid in ev.get("Stage IDs", ()):
                    stage_job[sid] = job
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                job = stage_job.get(info["Stage ID"])
                if job is not None and "Submission Time" in info:
                    job["metrics"]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                job = stage_job.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if job is None or not m:
                    continue
                b = job["metrics"]
                b["tasks"] += 1
                b["executor_run_s"] += m["Executor Run Time"] / 1e3
                b["executor_cpu_s"] += m["Executor CPU Time"] / 1e9
                b["gc_s"] += m["JVM GC Time"] / 1e3
                sr = m["Shuffle Read Metrics"]
                b["shuffle_read_bytes"] += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
                b["shuffle_write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                b["spill_bytes"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
    return jobs


def sum_jobs(jobs: list[dict], keep) -> dict[str, float]:
    """Engine metrics summed over the jobs ``keep(job)`` selects."""
    out = dict.fromkeys(SPARK_FIELDS, 0.0)
    for job in jobs:
        if keep(job):
            for k in SPARK_FIELDS:
                out[k] += job["metrics"][k]
    return out


# ---------------------------------------------------------------------------
# result line
# ---------------------------------------------------------------------------


def emit(correct: bool, attempted: int, failed: int, metrics: dict, units: dict) -> None:
    out = {
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }
    sys.stdout.write(json.dumps(out) + "\n")
    sys.stdout.flush()


def log(msg: str) -> None:
    sys.stderr.write(f"[perfbench] {msg}\n")
    sys.stderr.flush()
