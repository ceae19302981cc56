"""Environment pinning and recording, and the peak-memory sampler."""

from __future__ import annotations

import os
import threading

# Driver heap, well below a 16 GB machine's RAM: an n=1000 join-kernel
# run at the engine's 16g default was OOM-killed at 15.9 GB RSS on a
# 15.7 GB machine.
DRIVER_MEM = "3g"
MAX_CPUS = 4


def cpus() -> int:
    """Local parallelism: the usable CPUs, at most MAX_CPUS;
    ``FXBENCH_CPUS`` overrides it (e.g. 1 for a single-threaded
    baseline)."""
    return int(os.environ.get("FXBENCH_CPUS", 0)) or min(
        len(os.sched_getaffinity(0)), MAX_CPUS)


def pin(work: str) -> dict:
    """Set the engine's env knobs for a run rooted at ``work`` and return
    the extra Spark conf that keeps every scratch file under it."""
    n = str(cpus())
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": n,
        "SPARK_GRAFT_SHUFFLE_PARTITIONS": n,
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
    })
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    return {
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed, pre-touched heap keeps G1's heap-sizing choices out of
        # RSS; MemorySampler puts the heap in use back in
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
            f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
    }


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


class HostRecorder:
    """nproc, RAM, load average and the CPU steal share over a run."""

    def __init__(self) -> None:
        self._start = _cpu_times()

    def snapshot(self) -> dict:
        end = _cpu_times()
        delta = [b - a for a, b in zip(self._start, end)]
        total = sum(delta) or 1
        steal = delta[7] if len(delta) > 7 else 0
        with open("/proc/meminfo") as f:
            mem_kb = int(f.readline().split()[1])
        return {
            "nproc": os.cpu_count(),
            "cpus_used": cpus(),
            "driver_mem": DRIVER_MEM,
            "ram_mb": mem_kb // 1024,
            "loadavg": list(os.getloadavg()),
            "steal_frac": round(steal / total, 4),
        }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def alive(pid: int) -> bool:
    """True while ``pid`` runs; an exited, unreaped zombie counts as
    ended."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def descendants(root: int) -> list[int]:
    kids = _children()
    out, stack = [], list(kids.get(root, []))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, []))
    return out


def python_rss_mb(root: int) -> float:
    """RSS of the Python processes below ``root`` (the JVM). Other
    descendants are skipped: a child the JVM is still spawning shares the
    JVM's address space and would count it twice."""
    return sum(_rss_kb(p) for p in descendants(root)
               if _comm(p).startswith("python")) / 1024.0


class MemorySampler(threading.Thread):
    """Peak memory of the engine: the peak, over samples every ``period``
    seconds, of the JVM's RSS less its committed heap (off-heap memory:
    metaspace, code, threads, direct and native buffers) plus the RSS of
    its Python workers, both from /proc; plus, at ``stop()``, the heap
    still in use after a full GC. The pinned heap is all resident, so its
    committed size is taken out of the RSS and the heap the program
    keeps (cached blocks, state) is counted instead. Heap in use at a
    sample would depend on when G1 last collected."""

    def __init__(self, spark, period: float = 0.25) -> None:
        super().__init__(daemon=True)
        self.period = period
        self.root = spark.sparkContext._gateway.proc.pid
        jvm = spark.sparkContext._jvm
        self._jvm = jvm
        self._memory = jvm.java.lang.management.ManagementFactory \
            .getMemoryMXBean()
        self._committed_mb = (self._memory.getHeapMemoryUsage()
                              .getCommitted() / 2**20)
        self.peak_mb = 0.0
        self.parts: dict[str, float] = {}
        self._stop_evt = threading.Event()

    def _sample(self) -> None:
        offheap = _rss_kb(self.root) / 1024.0 - self._committed_mb
        py = python_rss_mb(self.root)
        if offheap + py > self.peak_mb:
            self.peak_mb = offheap + py
            self.parts = {"jvm_offheap_mb": offheap, "python_rss_mb": py}

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self._sample()
            self._stop_evt.wait(self.period)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        self._sample()
        self._jvm.System.gc()
        live = self._memory.getHeapMemoryUsage().getUsed() / 2**20
        self.parts["heap_live_mb"] = live
        return self.peak_mb + live
