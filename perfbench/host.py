"""Host-side helpers: control rows, peak memory of the engine's
processes, and stopping the Spark JVM and its Python workers."""

from __future__ import annotations

import multiprocessing as mp
import os
import signal
import threading
import time

import bench_extra

# bench_extra.controls() runs a 30M-iteration CPU loop, about 4.7 s on a
# 4-core host, so calling it before and after every run would add about
# 9.5 s to each run; its two tasks run here with a tenth of that loop
CPU_LOOP = 3_000_000


def controls(cpus: int) -> dict:
    """In-process CPU and memory-stream control rows: bench_extra's own
    CPU task at CPU_LOOP iterations, reported as seconds per million
    iterations, and its memory-stream task on every core, as in
    bench_extra.controls()."""
    t0 = time.perf_counter()
    bench_extra._cpu_task(CPU_LOOP)
    cpu = time.perf_counter() - t0
    # fork is safe here: controls run before the session starts and after
    # the JVM has been shut down, when this process has no other threads
    with mp.get_context("fork").Pool(cpus) as pool:
        t0 = time.perf_counter()
        pool.map(bench_extra._mem_task, [20] * cpus)
        mem = time.perf_counter() - t0
    return {"cpu_s_per_m": cpu / (CPU_LOOP / 1e6), "mem_stream_sec": mem}


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree(root: int) -> list[int]:
    """root and all its descendants."""
    kids = _children()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def cpu_seconds(pids) -> float:
    """User + system CPU time of the processes, their reaped children
    included (a vCPU's stolen time is not counted)."""
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(v) for v in fields[11:15])
    return total / os.sysconf("SC_CLK_TCK")


def steal_seconds() -> float:
    """CPU time the hypervisor gave to others, summed over all vCPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class PeakRss:
    """Samples the summed resident memory of a process tree (the driver
    JVM and the Python workers it forks) every `period` seconds."""

    def __init__(self, root: int, period: float = 0.05):
        self.root = root
        self.period = period
        self.samples: list[int] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        pids = tree(self.root)
        last_scan = time.monotonic()
        while not self._stop.is_set():
            if time.monotonic() - last_scan > 0.5:  # workers come and go
                pids, last_scan = tree(self.root), time.monotonic()
            self.samples.append(sum(_rss_bytes(p) for p in pids))
            self._stop.wait(self.period)

    @property
    def peak(self) -> int:
        return max(self.samples, default=0)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def shutdown_jvm(spark_context_cls, timeout: float = 60.0) -> None:
    """Stop the py4j gateway JVM the session ran in and wait until it and
    every process it started have exited."""
    gw = spark_context_cls._gateway
    if gw is None:
        return
    proc = gw.proc
    pids = [p for p in tree(proc.pid) if p != proc.pid]
    try:
        gw.shutdown()
    except Exception:  # the gateway may already be gone
        pass
    proc.stdin.close()  # the gateway server exits when its stdin closes
    try:
        proc.wait(timeout)
    except Exception:
        proc.kill()
        proc.wait(10)
    spark_context_cls._gateway = None
    spark_context_cls._jvm = None
    deadline = time.time() + timeout
    for p in pids:
        while _alive(p) and time.time() < deadline:
            time.sleep(0.05)
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass


def _alive(pid: int) -> bool:
    """True while the process exists and has not exited (a zombie whose
    parent is gone counts as exited)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False
