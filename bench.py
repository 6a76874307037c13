"""Host-contention receipts for benchmark runs: ``_cpu_ticks`` (CPU
steal from /proc/stat) and ``env_block`` (loadavg, memory, core count).
``perfbench/run.py`` imports both to stamp every run with the state of
the host it ran on.
"""

from __future__ import annotations

import os


def _cpu_ticks(stat_line: str | None = None) -> tuple[int, int] | None:
    """(steal_ticks, total_ticks) from the aggregate /proc/stat cpu
    line — a VM's ONLY direct signal for hypervisor contention. The
    preboot loadavg misses it entirely: the 585 s anomaly run started
    at loadavg 0.01 and still had its cold numbers inflated 2x
    mid-run by a noisy co-tenant; steal share during the run is the
    receipt that distinguishes 'our own load' from 'someone else's'."""
    try:
        if stat_line is None:
            with open("/proc/stat") as fh:
                stat_line = fh.readline()
        vals = [int(x) for x in stat_line.split()[1:]]
        # denominator = first 8 fields only (user..steal): the kernel
        # already folds guest/guest_nice into user/nice, so summing all
        # ten double-counts guest time and under-reports the steal
        # share — a run hovering just under the 1% warning threshold
        # could escape the contention flag (r16 ADVICE).
        return (vals[7], sum(vals[:8])) if len(vals) > 7 else None
    except (OSError, ValueError, IndexError):
        return None


def env_block(spark) -> dict:
    """Host context for the run (r12 verdict task 5): a 1.18× driver-vs-
    builder total delta cost a triage cycle to prove as host noise; with
    loadavg + free memory in the payload it's a 10-second check. See
    SCALE.md "Bench variance"."""
    env: dict = {}
    try:
        env["loadavg_1m"], env["loadavg_5m"], env["loadavg_15m"] = (
            round(x, 2) for x in os.getloadavg()
        )
    except OSError:
        pass
    try:
        with open("/proc/meminfo") as fh:
            mem = dict(
                (parts[0].rstrip(":"), int(parts[1]))
                for parts in (l.split() for l in fh)
                if len(parts) >= 2 and parts[1].isdigit()
            )
        env["mem_available_gib"] = round(mem.get("MemAvailable", 0) / 2**20, 2)
        env["mem_total_gib"] = round(mem.get("MemTotal", 0) / 2**20, 2)
    except (OSError, ValueError):
        pass
    env["cpu_count"] = os.cpu_count()
    env["spark_graft_cpus"] = os.environ.get("SPARK_GRAFT_CPUS")
    try:
        env["spark_driver_memory"] = spark.conf.get("spark.driver.memory", None)
    except Exception:
        pass
    return env
