"""CPU of one board crawl round, split by JVM thread class and by
Python process.

    python tools/thread_cpu.py [--seed 1] [--cores 2]

Run from the root of a checkout. The script starts a local[cores]
session from `session.get_spark`, generates the inputs of
`crawlbench/board_crawl.py` for --seed and runs one round of that
workload in this process: the session's first, cold round, with every
`CrawlResult` table written and read back. While the round runs, a
sampler thread reads the user + system CPU of every thread of the
driver JVM and of every other process below this one, every 0.25 s,
from /proc of this process tree only (each process's
`task/<tid>/children` names its children). It prints the round's CPU
per class, then the same numbers as one JSON object.

JVM thread classes, by the thread names HotSpot gives the OS (at most
15 characters): `C2` and `C1` compiler threads, `py4j` (the gateway's
threads, named `Thread-<n>`), `executor` task threads, `gc` (`GC
Thread#<n>` and `G1 ...`) and `jvm_other`. Python processes: `driver`
(this process, the sampler included), `daemon` (pyspark daemons the
JVM starts) and `workers` (the processes they fork). `other` is every
other process (the JVM's shell helpers). A thread or process that ends
between two samples loses up to 0.25 s of its CPU to `unsampled`, the
tree total minus every class; the tree total counts a reaped child
through its parent, as crawlbench's `cpu_s` does.

It reads no crawlbench metric: the numbers are for finding where CPU
goes, not for comparison with the benchmark's.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import sys
import tempfile
import threading
import time
from collections import defaultdict

CHECKOUT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_TICK = os.sysconf("SC_CLK_TCK")

JVM_CLASSES = (
    ("C2", re.compile(r"C2 CompilerThre")),
    ("C1", re.compile(r"C1 CompilerThre")),
    ("py4j", re.compile(r"Thread-\d+$")),
    ("executor", re.compile(r"Executor task l")),
    ("gc", re.compile(r"GC Thread#|G1 ")),
)
PY_CLASSES = ("driver", "daemon", "workers")


def _stat(path: str) -> tuple[str, int, int]:
    """(comm, own CPU ticks, reaped children's CPU ticks) of a proc
    stat file."""
    with open(path) as f:
        s = f.read()
    rp = s.rfind(")")
    fields = s[rp + 2:].split()
    # proc(5) stat: fields 14-17 are utime, stime, cutime, cstime
    return (s[s.find("(") + 1:rp], int(fields[11]) + int(fields[12]),
            int(fields[13]) + int(fields[14]))


def _children(pid: int) -> list[int]:
    out = []
    for tid in os.listdir(f"/proc/{pid}/task"):
        with open(f"/proc/{pid}/task/{tid}/children") as f:
            out += [int(c) for c in f.read().split()]
    return out


def _tree(root: int) -> dict[int, int]:
    """{pid: parent pid} of `root` and every process below it."""
    out, stack = {root: 0}, [root]
    while stack:
        p = stack.pop()
        try:
            kids = _children(p)
        except OSError:
            continue  # exited while walking
        for c in kids:
            out[c] = p
            stack.append(c)
    return out


def _jvm_class(name: str) -> str:
    for cls, rx in JVM_CLASSES:
        if rx.match(name):
            return cls
    return "jvm_other"


class Sampler:
    """Last-seen CPU ticks of every JVM thread and every other process
    of this tree, plus the tree total at start and at stop."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.root = os.getpid()
        self.first: dict[tuple, int] = {}
        self.last: dict[tuple, int] = {}
        self.cls: dict[tuple, str] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _read(self) -> int:
        """Sample every thread and process once; returns the tree total
        (own plus reaped ticks of every live process)."""
        tree, total = _tree(self.root), 0
        for pid, ppid in tree.items():
            try:
                comm, own, reaped = _stat(f"/proc/{pid}/stat")
            except OSError:
                continue
            total += own + reaped
            if comm == "java" and ppid == self.root:
                for tid in os.listdir(f"/proc/{pid}/task"):
                    try:
                        name, t_own, _ = _stat(f"/proc/{pid}/task/{tid}/stat")
                    except OSError:
                        continue
                    self._seen(("thread", pid, tid), _jvm_class(name), t_own)
                continue
            if pid == self.root:
                cls = "driver"
            elif not comm.startswith("python"):
                cls = "other"
            elif tree.get(ppid) == self.root:
                cls = "daemon"  # a child of the JVM
            else:
                cls = "workers"
            self._seen(("proc", pid), cls, own)
        return total

    def _seen(self, key: tuple, cls: str, ticks: int) -> None:
        # a thread or process born during the round counts from 0
        self.first.setdefault(key, 0 if self._started else ticks)
        self.last[key] = ticks
        self.cls[key] = cls

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._read()

    def __enter__(self):
        self._started = False
        self.total0 = self._read()
        self._started = True
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.total = self._read() - self.total0

    def split(self) -> dict[str, float]:
        """CPU seconds per class; `unsampled` and `total` last."""
        out: dict[str, float] = defaultdict(float)
        for key, ticks in self.last.items():
            out[self.cls[key]] += (ticks - self.first[key]) / _TICK
        classes = [c for c, _ in JVM_CLASSES] + ["jvm_other", *PY_CLASSES,
                                                 "other"]
        res = {c: out.get(c, 0.0) for c in classes}
        res["unsampled"] = self.total / _TICK - sum(res.values())
        res["total"] = self.total / _TICK
        return res


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--cores", type=int, default=2)
    args = ap.parse_args(argv)

    work = tempfile.mkdtemp(prefix="thread-cpu-")
    # Spark scratch under the work dir; Python workers import the
    # package from this checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (CHECKOUT, os.environ.get("PYTHONPATH")) if p)
    sys.path[:0] = [CHECKOUT, os.path.join(CHECKOUT, "crawlbench")]
    import board_crawl

    from ptt_spider_go_spark.session import get_spark

    spark = get_spark(app_name="thread-cpu", master=f"local[{args.cores}]",
                      extra_conf={
                          "spark.sql.warehouse.dir":
                              os.path.join(work, "warehouse"),
                          "spark.driver.extraJavaOptions":
                              f"-Djava.io.tmpdir={work}"})
    spark.sparkContext.setLogLevel("ERROR")
    try:
        inputs = os.path.join(work, "inputs")
        board_crawl.make_inputs(args.seed, inputs)
        exp = board_crawl.expected(args.seed)

        def set_group(group):
            spark.sparkContext.setJobGroup(group, group)

        with Sampler() as sampler:
            t = time.perf_counter()
            out = board_crawl.run_round(spark, inputs,
                                        os.path.join(work, "round"), set_group)
            run_s = time.perf_counter() - t
        problems = [p for _, ps in board_crawl.check(out["outputs"], exp)
                    for p in ps]
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)

    res = sampler.split()
    print(f"board_crawl seed {args.seed}, local[{args.cores}]: "
          f"run_s={run_s:.2f} pages={out['pages']} "
          f"check={'ok' if not problems else '; '.join(problems)}")
    for c, v in res.items():
        print(f"  {c:<10} {v:7.2f} s")
    print(json.dumps({"seed": args.seed, "cores": args.cores,
                      "run_s": run_s, "correct": not problems,
                      "cpu_s": res}))
    return 0 if not problems else 1


if __name__ == "__main__":
    sys.exit(main())
