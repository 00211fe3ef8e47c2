"""Host-side readings (Linux /proc) and Spark process lifetime.

Peak memory is the sum of VmHWM over the driver Python process, the Spark
JVM and the JVM's descendants (the Python workers).  Steal time comes from
the aggregate ``cpu`` line of /proc/stat.
"""

from __future__ import annotations

import os
import signal
import subprocess
import time


def _read(path: str) -> str | None:
    try:
        with open(path, encoding="utf-8") as f:
            return f.read()
    except OSError:
        return None


def vm_hwm_kb(pid: int) -> int:
    text = _read(f"/proc/{pid}/status") or ""
    for line in text.splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1])
    return 0


def descendants(pid: int) -> list[int]:
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        stat = _read(f"/proc/{d}/stat")
        if stat:
            # the command name may hold spaces: fields resume after ')'
            parent[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


def cpu_ticks() -> tuple[int, int]:
    """(steal, busy) clock ticks summed over all CPUs since boot; busy is
    user + nice + system + irq + softirq (guest time is already in user)."""
    f = [int(x) for x in (_read("/proc/stat") or "cpu 0").splitlines()[0].split()[1:]]
    f += [0] * (8 - len(f))
    return f[7], f[0] + f[1] + f[2] + f[5] + f[6]


def steal_seconds() -> float:
    return cpu_ticks()[0] / os.sysconf("SC_CLK_TCK")


class StealClock:
    """Wall time of a block, and that time less the hypervisor's steal.

    ``steal_share`` is the share of the CPU time the VM wanted during the
    block that the hypervisor gave to someone else: stolen ticks / (busy +
    stolen ticks), all CPUs together; idle ticks cannot be stolen, so they
    are left out.  ``adjusted = wall * (1 - steal_share)`` estimates the
    block's time had no CPU time been stolen -- fair for CPU-bound work,
    which is what a local-mode Spark call is."""

    def __enter__(self):
        self._t = time.perf_counter()
        self._steal, self._busy = cpu_ticks()
        return self

    def __exit__(self, *exc):
        self.wall = time.perf_counter() - self._t
        steal, busy = cpu_ticks()
        wanted = (steal - self._steal) + (busy - self._busy)
        self.steal_share = (steal - self._steal) / wanted if wanted > 0 else 0.0
        self.adjusted = self.wall * (1.0 - self.steal_share)
        return False


def jvm_gc_seconds(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(b.getCollectionTime(), 0) for b in beans) / 1000.0


def jvm_process() -> subprocess.Popen | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return getattr(gw, "proc", None) if gw is not None else None


def peak_rss_parts_mb() -> dict[str, float]:
    """VmHWM of the driver, the JVM and the Python workers (summed), read
    while the session is alive."""
    proc = jvm_process()
    workers = descendants(proc.pid) if proc is not None else []
    return {
        "driver": vm_hwm_kb(os.getpid()) / 1024.0,
        "jvm": (vm_hwm_kb(proc.pid) if proc is not None else 0) / 1024.0,
        "workers": sum(vm_hwm_kb(p) for p in workers) / 1024.0,
        "n_workers": float(len(workers)),
    }


def _alive(pid: int) -> bool:
    stat = _read(f"/proc/{pid}/stat")
    return stat is not None and stat.rsplit(")", 1)[1].split()[0] != "Z"


def stop_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop the session, end the JVM (it exits when its stdin closes) and
    wait until the JVM and every Python worker it started have exited."""
    from pyspark import SparkContext

    proc = jvm_process()
    workers = descendants(proc.pid) if proc is not None else []
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + timeout_s
    while any(_alive(p) for p in workers) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in workers:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
