"""Host hygiene before timing, and cleanup of every process the run starts.

A leftover JVM from an earlier run keeps its cores and heap and skews every
later number, so the guard looks for one before the session starts, together
with a load average above the core count and too little free memory for the
driver heap. ``stop_spark`` is called on every exit path: it stops the
session, ends the gateway JVM and waits for the JVM's own children (the
Python worker daemon) to exit.
"""

from __future__ import annotations

import os
import signal
import sys
import time


def _cmdline(pid: int) -> list[str]:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return [a.decode(errors="replace") for a in fh.read().split(b"\0") if a]
    except OSError:
        return []


def _pids() -> list[int]:
    try:
        return [int(p) for p in os.listdir("/proc") if p.isdigit()]
    except OSError:  # no procfs: nothing to inspect
        return []


def java_pids() -> list[int]:
    me = os.getpid()
    return [
        p for p in _pids()
        if p != me and os.path.basename((_cmdline(p) or [""])[0]) == "java"
    ]


def _mem_available_bytes() -> int | None:
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemAvailable:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return None


def check(cores: int, heap_bytes: int) -> list[str]:
    """Problems that would make timings unrepresentative; empty when clean."""
    problems = []
    stray = java_pids()
    if stray:
        problems.append(f"stray java processes: {stray}")
    load1, ncpu = os.getloadavg()[0], os.cpu_count() or cores
    if load1 > ncpu:
        problems.append(f"load average {load1:.1f} > {ncpu} cores")
    avail = _mem_available_bytes()
    if avail is not None and avail < heap_bytes:
        problems.append(
            f"free memory {avail / 2**30:.1f} GiB < driver heap {heap_bytes / 2**30:.1f} GiB"
        )
    return problems


def cpu_ticks() -> tuple[int, int]:
    """(all, stolen) CPU ticks since boot. Stolen ticks are time the
    hypervisor ran something else while this machine's CPUs had work."""
    try:
        with open("/proc/stat") as fh:
            fields = [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    # user nice system idle iowait irq softirq steal (guest time is in user)
    return sum(fields[:8]), fields[7] if len(fields) > 7 else 0


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[0] - before[0]
    return (after[1] - before[1]) / total if total > 0 else 0.0


def _children(pid: int) -> list[int]:
    kids = []
    for p in _pids():
        try:
            with open(f"/proc/{p}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == pid:
            kids.append(p)
    return kids


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        kids = _children(todo.pop())
        out.extend(kids)
        todo.extend(kids)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def stop_spark(spark, timeout_s: float = 20.0) -> None:
    """Stop the session and end the JVM and its children; never raises."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    doomed = _descendants(proc.pid) if proc is not None else []
    try:
        if spark is not None:
            spark.stop()
    except Exception as exc:  # cleanup must go on whatever stop() hit
        print(f"perfbench: spark.stop failed: {exc!r}", file=sys.stderr)
    if proc is None:
        return
    try:
        gateway.shutdown()
    except Exception:  # the gateway may already be gone
        pass
    # the gateway JVM exits when its stdin (our pipe) closes
    try:
        proc.stdin.close()
        proc.wait(timeout=timeout_s)
    except Exception:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + timeout_s
    for pid in doomed:
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
