"""Summary statistics, memory and host-contention probes."""

from __future__ import annotations

import gc
import hashlib
import os
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

TAIL_BEYOND = 10
# full collections at most, while waiting for the heap to settle
LIVE_HEAP_TRIES = 12


def median(values: list[float]) -> float:
    return statistics.median(values)


def tail(values: list[float]) -> tuple[float, float, int]:
    """The highest percentile that still has at least ``TAIL_BEYOND``
    samples beyond it: the (TAIL_BEYOND+1)-th largest sample, at
    percentile 100*(n-TAIL_BEYOND)/n. A sample of fewer than
    2*TAIL_BEYOND supports no percentile above the median, and then
    the median is returned at percentile 50. Returns
    (value, percentile, n)."""
    n = len(values)
    if n < 2 * TAIL_BEYOND:
        return median(values), 50.0, n
    return sorted(values)[n - TAIL_BEYOND - 1], 100.0 * (n - TAIL_BEYOND) / n, n


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise OSError(f"no VmHWM for pid {pid}")


def jvm_heap_peaks_mb(spark) -> dict[str, float]:
    """Peak used size of each JVM heap pool since the JVM started, in
    MiB."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return {
        pool.getName(): pool.getPeakUsage().getUsed() / 2**20
        for pool in mf.getMemoryPoolMXBeans()
        if pool.getType().toString() == "Heap memory"
    }


def live_heap_mb(spark) -> float:
    """JVM heap in use right after a full collection, in MiB: what the
    engine keeps alive beyond its cached relations (broadcasts,
    driver-side state), without the garbage whose amount depends on
    when the collector last ran."""
    # the workloads clear the cache before every operation, so what is
    # cached now is the last operation's, and which operation ran last
    # depends on the seed
    spark.catalog.clearCache()
    # Python objects that proxy JVM objects pin them until collected
    gc.collect()
    jvm = spark.sparkContext._jvm
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    # G1 runs a full, stop-the-world collection on System.gc(). A
    # collection also hands Spark's context cleaner the shuffles and
    # broadcasts of finished jobs, which it releases some time later;
    # collect until three readings in a row agree
    readings: list[float] = []
    for _ in range(LIVE_HEAP_TRIES):
        jvm.java.lang.System.gc()
        readings.append(heap.getHeapMemoryUsage().getUsed() / 2**20)
        last = readings[-3:]
        if len(last) == 3 and max(last) - min(last) <= 1.0:
            break
        time.sleep(0.5)
    return readings[-1]


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def calib_par(n_threads: int) -> float:
    """Parallel CPU probe: sha256 over a 4 MiB buffer 32 times on each
    of ``n_threads`` threads (hashing a large buffer releases the
    GIL). On an idle host this is about the single-thread time of one
    share; a larger value means other processes held the cores."""
    buf = b"x" * (4 * 1024 * 1024)

    def work(_: int) -> None:
        for _ in range(32):
            hashlib.sha256(buf).digest()

    t0 = time.perf_counter()
    with ThreadPoolExecutor(max_workers=n_threads) as ex:
        list(ex.map(work, range(n_threads)))
    return time.perf_counter() - t0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole machine since boot, from
    /proc/stat. Steal is time the hypervisor ran other guests while
    this one had work: the share of steal over a run shows how
    contended the host was."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    steal = fields[7] if len(fields) > 7 else 0
    return steal, sum(fields[:8])


def tree_files(root: str) -> dict[str, int]:
    """path -> size of every regular file under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                out[p] = os.path.getsize(p)
            except FileNotFoundError:
                pass
    return out
