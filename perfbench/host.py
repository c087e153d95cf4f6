"""Host-side helpers: the Spark process tree, its peak RSS, a CPU probe, and
stopping every process the session started.

Everything reads /proc directly (no third-party process library), so the
benchmark runs with the engine's own dependencies only.
"""

from __future__ import annotations

import os
import signal
import statistics
import subprocess
import threading
import time

import numpy as np

_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue  # the process ended while we listed /proc
        # the command name may hold spaces or ')' — ppid follows the last ')'
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root_pid: int) -> list[int]:
    """root_pid and all its live descendants."""
    kids = _children_map()
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def spark_tree(jvm_pid: int) -> list[int]:
    """The JVM and its Python descendants (PySpark daemon and workers).

    Short-lived helpers the JVM spawns are left out: until it execs, a
    spawned child shares the JVM's memory and would count it twice."""
    return [jvm_pid] + [p for p in process_tree(jvm_pid)[1:]
                        if _comm(p).startswith("python")]


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE_KB
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Samples the summed RSS of the Spark process tree (see spark_tree) on
    a background thread.

    `peak_mb()` is the largest sum seen while `active` was set. The tree is
    re-listed every `relist_s`, because Spark forks Python workers lazily."""

    def __init__(self, root_pid: int, interval_s: float = 0.05,
                 relist_s: float = 0.5):
        self.root_pid = root_pid
        self.interval_s = interval_s
        self.relist_s = relist_s
        self.active = threading.Event()
        self._stop = threading.Event()
        self._peak_kb = 0
        self._lock = threading.Lock()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        pids: list[int] = []
        listed = 0.0
        while not self._stop.is_set():
            if self.active.is_set():
                now = time.monotonic()
                if now - listed > self.relist_s:
                    pids, listed = spark_tree(self.root_pid), now
                total = sum(_rss_kb(p) for p in pids)
                with self._lock:
                    self._peak_kb = max(self._peak_kb, total)
            self._stop.wait(self.interval_s)

    def peak_mb(self) -> float:
        with self._lock:
            return self._peak_kb / 1024.0


def cpu_probe(reps: int = 5) -> float:
    """Median seconds of a fixed single-threaded numpy workload (sort plus
    a small matmul chain). It does not depend on the engine; a slow reading
    flags a slow host window, not a slow program."""
    rng = np.random.default_rng(12345)
    a = rng.random(400_000)
    m = rng.random((160, 160))
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        np.sort(a, kind="quicksort")
        x = m
        for _ in range(20):
            x = (x @ m) / 160.0
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def cpu_probe_parallel(threads: int, reps: int = 5) -> float:
    """Median seconds for `threads` threads to each sort their own array of
    2M floats at once (numpy releases the GIL while it sorts). The arrays
    outgrow the caches, so unlike cpu_probe this reading also moves when
    other tenants of the host load its cores or memory."""
    arrays = [np.random.default_rng(12345 + i).random(2_000_000)
              for i in range(threads)]
    times = []
    for _ in range(reps):
        workers = [threading.Thread(target=np.sort, args=(a,),
                                    kwargs={"kind": "quicksort"})
                   for a in arrays]
        t0 = time.perf_counter()
        for w in workers:
            w.start()
        for w in workers:
            w.join()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def cpu_counters() -> tuple[int, int]:
    """(steal ticks, all ticks) of the host's CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between."""
    return (after[0] - before[0]) / max(1, after[1] - before[1])


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(b")") + 2:stat.rindex(b")") + 3] != b"Z"


def stop_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop the session, end its JVM, and wait until the JVM and every
    process it forked (the PySpark daemon and workers) have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    tree = process_tree(proc.pid) if proc is not None else []
    spark.stop()
    if proc is None:
        return
    gateway.shutdown()
    # the JVM's gateway server exits when its stdin closes
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=timeout_s / 2)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=timeout_s / 2)
    deadline = time.monotonic() + timeout_s / 2
    rest = [p for p in tree if p != proc.pid]
    while rest and time.monotonic() < deadline:
        rest = [p for p in rest if _alive(p)]
        if rest:
            time.sleep(0.05)
    for pid in rest:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    while any(_alive(p) for p in rest) and time.monotonic() < deadline + 5:
        time.sleep(0.05)
