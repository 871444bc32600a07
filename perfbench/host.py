"""Host facts, the fixed CPU noise probe, and process-tree memory.

Everything here reads ``/proc`` or runs one small Spark job; nothing
touches the engine's tables.
"""

from __future__ import annotations

import os
import subprocess
import time


def process_age_s() -> float:
    """Seconds since this interpreter process was created (``/proc``
    start time, 10 ms resolution), so set-up can be timed from process
    start rather than from the first line of the script."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def total_mem_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    return 0


def host_info(root: str) -> dict:
    import duckdb
    import pyspark

    try:
        commit = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        ).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        commit = "unknown"
    return {
        "nproc": os.cpu_count(),
        "mem_total_bytes": total_mem_bytes(),
        "git_commit": commit,
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
    }


def cpu_ticks() -> list[int]:
    """Aggregate CPU counters from /proc/stat (user ... steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_ticks`` readings: a host-noise signal next to the probe."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def _children(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        if ppid == pid:
            out.append(int(d))
    return out


def process_tree(pid: int | None = None) -> list[int]:
    """This process and every live descendant (the Spark JVM and its
    Python workers)."""
    todo = [pid or os.getpid()]
    seen: list[int] = []
    while todo:
        p = todo.pop()
        seen.append(p)
        todo.extend(_children(p))
    return seen


def rss_by_process() -> list[dict]:
    """Name, peak (VmHWM) and current (VmRSS) resident set of each live
    process in the tree."""
    out = []
    for p in process_tree():
        rec = {"pid": p}
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    k, _, v = line.partition(":")
                    if k == "Name":
                        rec["name"] = v.strip()
                    elif k in ("VmHWM", "VmRSS"):
                        rec[k] = int(v.split()[0]) * 1024
        except OSError:
            continue
        out.append(rec)
    return out


class NoiseProbe:
    """bench.py's host-noise anchor protocol: a fixed CPU-bound Spark
    job (``sum(xxhash64(id))``, here over 1M rows per core where
    bench.py uses 6M, to keep it short next to a pass), best of two,
    timed around each measured pass. A pass's window factor is the slower of
    its two bracketing probes over the fastest probe of the run, so a
    slow host window can be told apart from a code change."""

    def __init__(self, spark, cores: int):
        from pyspark.sql import functions as F

        self.rows = 1_000_000 * cores
        self._plan = lambda salt: spark.range(salt, salt + self.rows).select(
            F.sum(F.xxhash64("id").cast("decimal(38,0)")).alias("h")
        )
        self.samples: list[float] = []
        self._plan(0).collect()  # codegen warm-up, unrecorded

    def probe(self) -> float:
        best = None
        for k in (1, 2):
            t0 = time.perf_counter()
            self._plan(2 * len(self.samples) + k).collect()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        self.samples.append(best)
        return best

    def window_factors(self) -> list[float]:
        """Factor of the window around pass i (probes i and i+1)."""
        if not self.samples:
            return []
        floor = min(self.samples)
        return [
            round(max(self.samples[i], self.samples[i + 1]) / floor, 3)
            for i in range(len(self.samples) - 1)
        ]
