"""Host-side readings that sit outside every timed region: the CPU split of
the driver, the JVM and its Python workers from ``/proc``, a fixed CPU-bound
noise meter, and a one-off record of the environment."""

from __future__ import annotations

import hashlib
import os
import statistics
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, float] | None:
    """(ppid, CPU seconds of the process and its reaped children)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            rest = f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None
    utime, stime, cutime, cstime = (int(v) for v in rest[11:15])
    return int(rest[1]), (utime + stime + cutime + cstime) / _TICK


def cpu_split(jvm_pid: int) -> dict[str, float]:
    """Cumulative CPU seconds of this process (the Spark driver's Python
    side), the JVM, and every process below the JVM (the Python workers)."""
    t = os.times()
    jvm = _stat(jvm_pid)
    children: dict[int, list[int]] = {}
    cpu: dict[int, float] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st is not None:
                children.setdefault(st[0], []).append(int(entry))
                cpu[int(entry)] = st[1]
    workers, todo = 0.0, list(children.get(jvm_pid, []))
    while todo:
        pid = todo.pop()
        workers += cpu.get(pid, 0.0)
        todo.extend(children.get(pid, []))
    return {
        "proc.driver_cpu_s": t.user + t.system,
        "proc.jvm_cpu_s": jvm[1] if jvm else 0.0,
        "proc.pyworker_cpu_s": workers,
    }


_BLOCK = bytes(range(256)) * 4096  # 1 MiB


def _hash_work() -> None:
    h = hashlib.sha256()
    for _ in range(64):
        h.update(_BLOCK)  # releases the GIL: the threads run in parallel


def noise_meter(reps: int = 3) -> float:
    """Median seconds of a fixed CPU-bound job on every core at once: one
    thread per core hashing the same 64 MiB. It does the same work on every
    run, so a change in it is the host's: slower cores or cores taken by
    another tenant."""
    times = []
    for _ in range(reps):
        threads = [threading.Thread(target=_hash_work) for _ in range(os.cpu_count() or 1)]
        t0 = time.perf_counter()
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def environment(spark) -> dict:
    """What about the host changes the numbers: cores, load, versions, and
    which PQ scoring path the engine selects here."""
    import pyspark

    from syncmaven_spark.operators import pq

    gemm = getattr(pq, "_gemm_scores_exact", None)
    return {
        "nproc": os.cpu_count(),
        "affinity": len(os.sched_getaffinity(0)),
        "loadavg": list(os.getloadavg()),
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "spark_master": spark.sparkContext.master,
        "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory", None),
        "pq_gemm_scores_exact": bool(gemm()) if gemm is not None else None,
    }
