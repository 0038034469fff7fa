"""Metrics emission shaped like the reference's points.txt rows
``N k ls lsc device metric value`` (POINTSFILE, src/main.cpp:19-38),
with ``device`` generalized to a ``mode`` tag (SURVEY.md §2.11).

The reference brackets each kernel with START/STOP profiling
(src/helper.h:124-196); our analog is wall-time around Spark actions
plus warm-up iterations excluded from metrics (runprogram.sh:29-41).
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# Metric indices mirror the reference's sampleMetric switch
# (src/helper.h:212-232): 0=kernel time ms, 2=CPU util %, 4=host mem
# MB, 6=CPU temp C. The GPU slots (1/3/5) map to the JVM executor pool
# — our "device" — where Spark exposes one honest analog: peak
# execution (unified) memory, emitted as index 3. Shuffle traffic has
# no reference counterpart, so it takes fresh indices 7/8.
METRIC_TIME_MS = 0  # reference metric index 0 = kernel time in ms
METRIC_CPU_UTIL_PCT = 2  # /proc/stat busy% over START..STOP (helper.h:31-39)
METRIC_EXEC_PEAK_MEM_MB = 3  # peak Spark execution memory (GPU-mem slot)
METRIC_HOST_MEM_MB = 4  # /proc/meminfo MemTotal-MemAvailable (helper.h:67-79)
METRIC_CPU_TEMP_C = 6  # /sys/class/thermal zone0 (helper.h:82-88)
METRIC_SHUFFLE_WRITE_MB = 7  # Spark-native, no reference analog
METRIC_SHUFFLE_READ_MB = 8


@dataclass
class MetricsRecorder:
    rows: list[dict] = field(default_factory=list)

    def record(
        self,
        n: int,
        k: int,
        ls: int,
        lsc: int,
        mode: str,
        metric: int,
        value: float,
        warmup: bool = False,
    ) -> None:
        # warmup flag short-circuits emission, src/main.cpp:21
        if warmup:
            return
        self.rows.append(
            {
                "N": n,
                "k": k,
                "ls": ls,
                "lsc": lsc,
                "mode": mode,
                "metric": metric,
                "value": value,
            }
        )

    def write_points(self, path: str) -> None:
        """Append rows in the reference's space-separated points.txt order."""
        with open(path, "a", encoding="utf-8") as fh:
            for r in self.rows:
                fh.write(
                    f"{r['N']} {r['k']} {r['ls']} {r['lsc']} {r['mode']} "
                    f"{r['metric']} {r['value']}\n"
                )


class CpuMonitor:
    """Host-side sampler, a line-for-line semantic match of the
    reference's CpuMonitor (src/helper.h:29-89): /proc/stat busy%%
    between snapshots, /proc/meminfo used MB, thermal_zone0 temp.
    Every probe degrades to 0/None when the file is absent."""

    def __init__(self) -> None:
        self._snap_total = 0
        self._snap_idle = 0

    @staticmethod
    def _read_cpu_times() -> tuple[int, int]:
        try:
            with open("/proc/stat", encoding="ascii") as fh:
                parts = fh.readline().split()
            user, nice, system, idle, iowait, irq, softirq, steal = (
                int(x) for x in parts[1:9]
            )
        except (OSError, ValueError, IndexError):
            return 0, 0
        idle_all = idle + iowait
        total = user + nice + system + idle + iowait + irq + softirq + steal
        return total, idle_all

    def snapshot_start(self) -> None:
        self._snap_total, self._snap_idle = self._read_cpu_times()

    def util_since_snapshot(self) -> float:
        now_total, now_idle = self._read_cpu_times()
        totald = now_total - self._snap_total
        idled = now_idle - self._snap_idle
        self._snap_total, self._snap_idle = now_total, now_idle
        if totald <= 0:
            return 0.0
        return (totald - idled) * 100.0 / totald

    @staticmethod
    def mem_used_mb() -> int:
        mem_total = mem_avail = 0
        try:
            with open("/proc/meminfo", encoding="ascii") as fh:
                for line in fh:
                    key, val = line.split()[:2]
                    if key == "MemTotal:":
                        mem_total = int(val)
                    elif key == "MemAvailable:":
                        mem_avail = int(val)
                    if mem_total and mem_avail:
                        break
        except (OSError, ValueError, IndexError):
            return 0
        return (mem_total - mem_avail) // 1024 if mem_total else 0

    @staticmethod
    def temp_c() -> int:
        try:
            with open("/sys/class/thermal/thermal_zone0/temp", encoding="ascii") as fh:
                return int(fh.read().strip()) // 1000
        except (OSError, ValueError):
            return 0


@contextmanager
def timed():
    """Wall-clock bracket around a Spark action; yields a dict whose
    'sec' key is filled on exit."""
    out = {"sec": None}
    start = time.perf_counter()
    try:
        yield out
    finally:
        out["sec"] = time.perf_counter() - start
