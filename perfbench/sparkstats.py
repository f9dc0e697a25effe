"""Readers for Spark's own bookkeeping: the status store (per job group),
block-manager storage, process memory and versions."""

from __future__ import annotations

import os
import resource
import time

#: v1.StageData getter -> metric name (bytes unless noted).
_STAGE_FIELDS = {
    "executorRunTime": "exec.run_ms",
    "executorCpuTime": "exec.cpu_ms",  # ns, scaled below
    "inputBytes": "exec.input_bytes",
    "shuffleReadBytes": "exec.shuffle_read_bytes",
    "shuffleWriteBytes": "exec.shuffle_write_bytes",
    "memoryBytesSpilled": "exec.spill_bytes",
    "outputBytes": "exec.output_bytes",
}


def exec_metrics(sc, group: str, seen: set | None = None, timeout_s: float = 10.0) -> dict[str, float]:
    """Totals over every job of ``group`` once the listener has seen
    them end: jobs, stages, tasks, failed tasks, executor run and CPU
    time, input/shuffle/spill/output bytes and the peak stage memory.
    Job ids in ``seen`` are skipped, and the new ones are added to it."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    store = jsc.statusStore()
    out = {k: 0.0 for k in _STAGE_FIELDS.values()}
    out.update({"exec.jobs": 0.0, "exec.stages": 0.0, "exec.tasks": 0.0,
                "exec.failed_tasks": 0.0, "exec.peak_memory_bytes": 0.0})
    deadline = time.monotonic() + timeout_s
    for jid in tracker.getJobIdsForGroup(group):
        if seen is not None:
            if jid in seen:
                continue
            seen.add(jid)
        info = tracker.getJobInfo(jid)
        while info is not None and info.status == "RUNNING" and time.monotonic() < deadline:
            time.sleep(0.01)
            info = tracker.getJobInfo(jid)
        if info is None:
            continue
        out["exec.jobs"] += 1
        for sid in info.stageIds:
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # never-submitted (skipped) stage
                continue
            if str(sd.status()) == "SKIPPED":
                continue
            out["exec.stages"] += 1
            out["exec.tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
            out["exec.failed_tasks"] += sd.numFailedTasks()
            for getter, name in _STAGE_FIELDS.items():
                out[name] += getattr(sd, getter)()
            out["exec.spill_bytes"] += sd.diskBytesSpilled()
            out["exec.peak_memory_bytes"] = max(out["exec.peak_memory_bytes"], sd.peakExecutionMemory())
    out["exec.cpu_ms"] /= 1e6
    return out


def storage(sc) -> tuple[int, int]:
    """(persisted RDDs, bytes they hold in memory and on disk)."""
    infos = sc._jsc.sc().getRDDStorageInfo()
    return len(infos), sum(i.memSize() + i.diskSize() for i in infos)


def _vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(sc) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    py_kb = _vm_hwm_kb("self") or resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    proc = getattr(sc._gateway, "proc", None)
    jvm_kb = _vm_hwm_kb(proc.pid) if proc is not None else 0
    return (py_kb + jvm_kb) / 1024.0


def process_cpu_s(sc) -> float:
    """CPU seconds used so far by the driver JVM and this Python process
    (user plus system, all threads). Unlike wall time, this does not grow
    when a hypervisor takes the machine's CPUs away."""
    usage = resource.getrusage(resource.RUSAGE_SELF)
    total = usage.ru_utime + usage.ru_stime
    proc = getattr(sc._gateway, "proc", None)
    if proc is not None:
        with open(f"/proc/{proc.pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        total += (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")
    return total


def cpu_times() -> tuple[int, int] | None:
    """(steal, total) jiffies of all CPUs, to show how much of the
    machine a hypervisor took while the benchmark ran."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return (fields[7] if len(fields) > 7 else 0), sum(fields[:8])


def versions(spark) -> dict[str, str]:
    jvm = spark.sparkContext._jvm
    return {
        "spark": spark.version,
        "java": str(jvm.System.getProperty("java.version")),
        "nproc": str(os.cpu_count()),
    }
