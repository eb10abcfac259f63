"""Shared plumbing for the crawl benchmark: run directory, Spark start,
machine stamp, CPU and memory readings and the traced run's layer
folding.

Everything here observes the program from outside: it starts the
engine through ``ptt_spider_go_spark.session.get_spark``, reads
``/proc`` for CPU time, steal and memory, and folds Spark's own event
log per job group.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

#: job groups the traced run sets before each outside call; both
#: workloads report every group, zero where the group never ran.
JOB_GROUPS = ("loop", "assembly", "winnow", "cdc")

#: per-group engine metrics, in the order they are reported.
ENGINE_METRICS = (
    ("jobs", "count"),
    ("tasks", "count"),
    ("executor_run_s", "s"),
    ("executor_cpu_s", "s"),
    ("gc_s", "s"),
    ("shuffle_read_bytes", "B"),
    ("shuffle_write_bytes", "B"),
    ("spill_bytes", "B"),
    ("python_start_s", "s"),
    ("python_init_s", "s"),
    ("python_run_s", "s"),
    ("bytes_to_python", "B"),
    ("bytes_from_python", "B"),
)

# Arrow/pandas UDF SQL metrics (PythonSQLMetrics) as the event log
# names them -> (metric, scale to seconds or bytes); timings are in ms.
_PY_ACCUMULABLES = {
    "time to start Python workers": ("python_start_s", 1e-3),
    "time to initialize Python workers": ("python_init_s", 1e-3),
    "time to run Python workers": ("python_run_s", 1e-3),
    "data sent to Python workers": ("bytes_to_python", 1.0),
    "data returned from Python workers": ("bytes_from_python", 1.0),
}


def cpu_count() -> int:
    """Cores this process may run on (``nproc``)."""
    return len(os.sched_getaffinity(0))


def cpu_probe() -> float:
    """Fixed pure-Python loop, timed: tells a slow box from a slow
    program. Same work on every run and every machine."""
    t = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x = (x * 31 + i) % 1_000_003
    if x < 0:  # keeps the loop result live
        raise AssertionError
    return time.perf_counter() - t


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system) this process tree has used so far:
    every live process's own time plus the time of the children it has
    reaped, so workers that exit between two readings still count."""
    total = 0
    for pid, _, _ in _proc_tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited since the tree was read
        fields = stat[stat.rfind(")") + 2:].split()
        # proc(5) stat: fields 14-17 are utime, stime, cutime, cstime
        total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def steal_s() -> float:
    """CPU seconds the hypervisor has taken from this machine's CPUs
    (the steal column of /proc/stat), summed over CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK


def prepare_run_dir(run_dir: str, checkout: str) -> None:
    """Point every scratch path the driver process, the JVM and the
    Python workers use at `run_dir`, so a run leaves nothing behind."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # Spark prefers this variable to spark.local.dir, so set it, not the conf
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    # the JVMs keep their temp and perf-data files out of /tmp; the
    # launcher JVM that spark-submit starts first reads this variable
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = tmp
    # Python workers import the package from the checkout.
    prev = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = checkout + (os.pathsep + prev if prev else "")


def start_spark(run_dir: str, cpus: int, trace: bool):
    """Fresh local[cpus] session with the repository's engine settings;
    only scratch locations and (traced run) the event log are added."""
    from ptt_spider_go_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
        # the same JVM options for the driver JVM itself
        "spark.driver.extraJavaOptions": os.environ["SPARK_LAUNCHER_OPTS"],
    }
    if trace:
        ev = os.path.join(run_dir, "events")
        os.makedirs(ev, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": ev,
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(app_name="crawlbench", master=f"local[{cpus}]",
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, then the JVM it launched, and wait until no
    process started under this one is left (the Python worker daemons
    exit with the JVM)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout)
    deadline = time.monotonic() + timeout
    while len(_proc_tree(os.getpid())) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)


def write_split(table, dest: str, files: int = 8) -> None:
    """Write a pyarrow table as `files` parquet files under `dest`: Spark
    packs small files into about one scan split per core, so the scan
    of a generated input spreads across cores."""
    import pyarrow.parquet as pq

    os.makedirs(dest)
    step = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(dest, f"part-{i:02d}.parquet"),
                       coerce_timestamps="us")


def tree_bytes_files(path: str) -> tuple[int, int]:
    """(bytes, regular files) under `path`."""
    total = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return total, files


# --------------------------------------------------------------------------
# memory of this process tree (driver Python, JVM, Python workers)
# --------------------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _proc_tree(root: int) -> list[tuple[int, str, int]]:
    """(pid, comm, rss bytes) of `root` and every process below it."""
    kids = defaultdict(list)
    info = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listing
        lp, rp = stat.find("("), stat.rfind(")")
        fields = stat[rp + 2:].split()
        pid = int(name)
        # proc(5) stat: field 4 is ppid, field 24 rss in pages
        info[pid] = (stat[lp + 1:rp], int(fields[21]) * _PAGE)
        kids[int(fields[1])].append(pid)
    out, stack = [], [root]
    while stack:
        p = stack.pop()
        if p in info:
            out.append((p, *info[p]))
        stack.extend(kids.get(p, ()))
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: pages the forked Python workers share count
    once across them, not once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass  # exited since the tree was read
    return 0


class MemSampler:
    """Samples the memory of this process tree every `interval` seconds
    on a background thread; peaks are split into the JVM (RSS) and the
    Python processes (PSS: driver, worker daemons, workers). The JVM is
    read from /proc/<pid>/stat only: reading its smaps_rollup costs tens
    of milliseconds under the JVM's memory-map lock. Short-lived forks
    of the JVM, before they exec a worker, are neither and are skipped."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_total = self.peak_jvm = self.peak_python = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        jvm = py = 0
        for pid, comm, rss in _proc_tree(os.getpid()):
            if comm == "java":
                jvm += rss
            elif comm.startswith("python"):
                py += _pss_bytes(pid)
        self.peak_jvm = max(self.peak_jvm, jvm)
        self.peak_python = max(self.peak_python, py)
        self.peak_total = max(self.peak_total, jvm + py)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()


# --------------------------------------------------------------------------
# traced run: wall inside CheckpointManager.write_step, event-log folding
# --------------------------------------------------------------------------

@contextmanager
def timed_write_step(acc: dict):
    """Wrap ``CheckpointManager.write_step`` so `acc['s']` accumulates
    the wall spent inside it."""
    from ptt_spider_go_spark.plans.checkpoint import CheckpointManager

    orig = CheckpointManager.write_step

    def wrapped(self, *a, **kw):
        t = time.perf_counter()
        try:
            return orig(self, *a, **kw)
        finally:
            acc["s"] = acc.get("s", 0.0) + time.perf_counter() - t

    CheckpointManager.write_step = wrapped
    try:
        yield acc
    finally:
        CheckpointManager.write_step = orig


def fold_event_log(events_dir: str) -> dict[str, dict[str, float]]:
    """Task metrics from the (uncompressed) Spark event log, summed per
    job group. Jobs outside JOB_GROUPS (set-up, reads for the checks)
    are ignored."""
    stage_group: dict[int, str] = {}
    per = {g: defaultdict(float) for g in JOB_GROUPS}
    jobs = {g: set() for g in JOB_GROUPS}
    for path in _event_files(events_dir):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g in per:
                        jobs[g].add(ev["Job ID"])
                        for sid in ev.get("Stage IDs", ()):
                            stage_group[sid] = g
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev.get("Stage ID"))
                    if g is None:
                        continue
                    _fold_task(per[g], ev)
    out = {}
    for g in JOB_GROUPS:
        m = per[g]
        m["jobs"] = float(len(jobs[g]))
        out[g] = {k: m.get(k, 0.0) for k, _ in ENGINE_METRICS}
    return out


def _event_files(events_dir: str) -> list[str]:
    """Event files in write order; Spark 4 rolls the log into
    ``eventlog_v2_<app>/events_<n>_<app>`` files."""
    found = []
    for dirpath, _, names in os.walk(events_dir):
        for n in names:
            if n.startswith("events_"):
                found.append((int(n.split("_")[1]), os.path.join(dirpath, n)))
            elif not n.startswith(("appstatus_", ".")):
                found.append((0, os.path.join(dirpath, n)))
    return [p for _, p in sorted(found)]


def _fold_task(m: dict, ev: dict) -> None:
    m["tasks"] += 1
    tm = ev.get("Task Metrics") or {}
    m["executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
    m["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
    m["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
    sr = tm.get("Shuffle Read Metrics") or {}
    m["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                + sr.get("Local Bytes Read", 0))
    sw = tm.get("Shuffle Write Metrics") or {}
    m["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    m["spill_bytes"] += (tm.get("Memory Bytes Spilled", 0)
                         + tm.get("Disk Bytes Spilled", 0))
    for acc in (ev.get("Task Info") or {}).get("Accumulables", ()):
        hit = _PY_ACCUMULABLES.get(acc.get("Name"))
        if hit is None or acc.get("Update") is None:
            continue
        key, scale = hit
        m[key] += float(acc["Update"]) * scale
