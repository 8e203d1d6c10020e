"""Host facts and the host-sized launcher environment.

Everything the benchmark writes lives under ``WORK`` inside the checkout
(feed cache, tables, checkpoints, Spark local dirs, temp files), so a run
touches nothing outside the directory it was started from.
"""

from __future__ import annotations

import os
import platform
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".bench_work"
ENGINE_PKG = "tickers_daily_intraday_etl_spark"

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def jvm_mem() -> str:
    """A fifth of host RAM, between 1 and 4 GiB: the benchmark's inputs
    are small, and the host's memory is shared."""
    gib = mem_total_bytes() / 2**30
    return f"{max(1, min(4, int(gib / 5)))}g"


def configure(run_dir: Path) -> dict[str, str]:
    """Set the engine's launcher variables from the host, and point every
    temp and spill location into ``run_dir``.  Must run before the engine
    or pyspark is imported (``session.DEFAULT_CPUS`` reads the env once)."""
    tmp = run_dir / "tmp"
    local = run_dir / "spark-local"
    tmp.mkdir(parents=True, exist_ok=True)
    local.mkdir(parents=True, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(nproc()),
        "SPARK_GRAFT_DRIVER_MEM": jvm_mem(),
        "SPARK_LOCAL_DIRS": str(local),
        "TMPDIR": str(tmp),
        # every JVM the run starts (Spark's launcher and Spark): temp
        # files in the run dir, and no hsperfdata file in the system temp dir
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    os.environ.update(env)
    return env


def host_facts() -> dict:
    import importlib.metadata

    return {
        "nproc": nproc(),
        "mem_total_gib": round(mem_total_bytes() / 2**30, 2),
        "python": platform.python_version(),
        "pyspark": importlib.metadata.version("pyspark"),
    }


# --------------------------------------------------------------- processes


def _children(pid: int) -> list[int]:
    out = []
    for task in Path(f"/proc/{pid}/task").glob("*"):
        try:
            out += [int(c) for c in (task / "children").read_text().split()]
        except OSError:
            continue
    return out


def descendants(pid: int) -> list[int]:
    seen, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in _children(p):
            if c not in seen:
                seen.append(c)
                todo.append(c)
    return seen


def wait_gone(pids: list[int], timeout: float) -> list[int]:
    """Wait until none of ``pids`` runs any more (gone or a zombie);
    returns the ones still running at the timeout."""
    deadline = time.monotonic() + timeout
    while True:
        alive = []
        for p in pids:
            try:
                with open(f"/proc/{p}/stat") as f:
                    state = f.read().rsplit(")", 1)[1].split()[0]
            except OSError:
                continue
            if state != "Z":
                alive.append(p)
        if not alive or time.monotonic() >= deadline:
            return alive
        time.sleep(0.1)


def jvm_pids() -> list[int]:
    out = []
    for p in descendants(os.getpid()):
        try:
            exe = os.readlink(f"/proc/{p}/exe")
        except OSError:
            continue
        if os.path.basename(exe) == "java":
            out.append(p)
    return out


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Peak resident set of this process plus the JVM (VmHWM)."""
    kb = _vm_hwm_kb(os.getpid()) + sum(_vm_hwm_kb(p) for p in jvm_pids())
    return kb / 1024.0


def tree_cpu_s() -> float:
    """User + system CPU seconds of this process and its descendants."""
    total = 0
    for p in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += int(fields[11]) + int(fields[12])
        except (OSError, IndexError, ValueError):
            continue
    return total / _CLK_TCK


def _host_busy_s() -> float:
    with open("/proc/stat") as f:
        cpu = f.readline().split()[1:]
    vals = [int(v) for v in cpu]
    idle = vals[3] + (vals[4] if len(vals) > 4 else 0)
    return (sum(vals[:8]) - idle) / _CLK_TCK


class CoTenantMeter:
    """Busy cores on the host that are not this benchmark's process tree,
    averaged over the interval between ``start`` and ``stop``."""

    def start(self) -> None:
        self._t = time.monotonic()
        self._host = _host_busy_s()
        self._own = tree_cpu_s()

    def stop(self) -> float:
        dt = max(time.monotonic() - self._t, 1e-9)
        other = (_host_busy_s() - self._host) - (tree_cpu_s() - self._own)
        return max(other, 0.0) / dt
