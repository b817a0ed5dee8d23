"""Per-run host record: what the machine gave this run, measured without Spark.

A co-tenant slowdown shows here (effective CPUs, load average) instead of
being hunted in query plans."""

from __future__ import annotations

import hashlib
import multiprocessing as mp
import os
import statistics
import time


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def _probe_work(_) -> float:
    t0 = time.perf_counter()
    h = b"x"
    for _ in range(100_000):
        h = hashlib.md5(h).digest()
    return time.perf_counter() - t0


def parallel_probe(n: int, repeats: int = 3) -> dict:
    """n processes x 100k chained md5 vs one: n * single / parallel wall,
    each wall the median of `repeats`.

    The pool is started and used once before the timed maps, so process
    start-up is not charged to the parallel wall. Its workers are forked:
    call this before anything in the process has started a thread."""
    single = statistics.median(_probe_work(0) for _ in range(repeats))
    with mp.get_context("fork").Pool(n) as pool:
        pool.map(abs, range(n))
        walls = []
        for _ in range(repeats):
            t0 = time.perf_counter()
            pool.map(_probe_work, range(n), chunksize=1)
            walls.append(time.perf_counter() - t0)
        pool.close()
        pool.join()
    par = statistics.median(walls)
    return {"processes": n, "single_ms": round(1e3 * single, 1),
            "parallel_ms": round(1e3 * par, 1), "effective_cpus": round(n * single / par, 2)}


def record(n_cpus: int, master: str | None = None, probe: bool = True) -> dict:
    out = {
        "nproc": cpus(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "master": master,
        "loadavg": list(os.getloadavg()),
    }
    if probe:
        out["probe"] = parallel_probe(n_cpus)
    return out


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            with open(f"/proc/{p}/task/{p}/children") as fh:
                kids = [int(k) for k in fh.read().split()]
        except OSError:
            kids = []
        out.extend(kids)
        todo.extend(kids)
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Peak resident memory of this process plus its live descendants (the
    JVM and its Python workers), each process's own high-water mark summed."""
    me = os.getpid()
    return sum(_hwm_kb(p) for p in [me, *_descendants(me)]) / 1024.0


def process_start_time() -> float:
    """Epoch seconds at which this process started."""
    with open("/proc/self/stat") as fh:
        ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as fh:
        btime = next(int(line.split()[1]) for line in fh if line.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")
