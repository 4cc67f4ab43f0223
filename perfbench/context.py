"""Run context shared by the workloads, and process-level measurements."""

from __future__ import annotations

import os
import statistics
import subprocess
from dataclasses import dataclass, field

from spans import Tracer

@dataclass
class Context:
    root: str  # checkout root (holds the package)
    work: str  # per-run scratch directory inside the checkout
    seed: int
    tiny: bool  # smoke-test sizes
    corrupt_expected: bool  # smoke test: plant one wrong expected value
    tracer: Tracer
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)

    def record(self, ok: bool, what: str) -> None:
        """Count one operation; a raised error or a wrong result is a
        failure."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)


def median(values) -> float:
    return float(statistics.median(values))


def process_age_s() -> float:
    """Seconds since this process was created (from /proc)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size (VmHWM) of a process, in MB."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def java_pids() -> list[int]:
    r = subprocess.run(["pgrep", "-x", "java"], capture_output=True, text=True)
    return [int(p) for p in r.stdout.split()]


def driver_jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
