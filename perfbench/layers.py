"""Measurement from outside the engine: /proc readers and the traced
run's per-layer records.

Nothing here reaches into the engine's internals. The traced run reads
three public Spark surfaces:

- ``df._jdf.queryExecution().tracker().phases()``: Catalyst analysis,
  optimization and planning time of each executed DataFrame;
- ``SparkContext.statusTracker()``: jobs, stages and tasks of each
  call's job group (exact counts);
- an uncompressed event log: task metrics and the Python-worker SQL
  metrics of every task, attributed to a call through its job group.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

CLK_TCK = os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------------------
# /proc
# ---------------------------------------------------------------------------
def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces and parentheses: split after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if d.isdigit():
            f = _stat_fields(int(d))
            if f is not None:
                children[int(f[1])].append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of ``root``'s live process tree,
    including reaped children (cutime/cstime), so a worker that exits
    mid-run is still counted once, in its parent."""
    ticks = 0
    for pid in descendants(root):
        f = _stat_fields(pid)
        if f is not None:
            ticks += sum(int(x) for x in f[11:15])
    return ticks / CLK_TCK


def vm_mb(pid: int, field: str = "VmHWM") -> float:
    """A memory field of ``pid`` from /proc/<pid>/status in MiB; VmHWM
    is the peak resident set, VmRSS the current one."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no {field} for pid {pid}")


def cpu_ticks() -> dict[str, int]:
    """Machine-wide steal and total ticks from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return {"steal": vals[7], "total": sum(vals[:8])}


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


# ---------------------------------------------------------------------------
# Traced run
# ---------------------------------------------------------------------------
def catalyst_ms(df) -> dict[str, float]:
    """Catalyst phase times (ms) of an executed DataFrame."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        out[phase] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def group_counts(sc, group: str) -> dict[str, int]:
    """Exact jobs / stages / tasks run under one job group."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for s in info.stageIds if info else []:
            sinfo = st.getStageInfo(s)
            # a skipped stage (its shuffle output reused) completes no task
            if sinfo is not None and sinfo.numCompletedTasks > 0:
                stages += 1
                tasks += sinfo.numCompletedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


_PY_ACCUMS = {
    "time to run Python workers": ("python.run_s", 1e-3),
    "time to start Python workers": ("python.start_s", 1e-3),
    "data sent to Python workers": ("python.bytes_sent", 1),
    "data returned from Python workers": ("python.bytes_returned", 1),
}


def event_log_by_group(event_dir: str) -> dict[str, dict[str, float]]:
    """Sum task metrics per job group from an uncompressed event log.
    ``executor.peak_mem_bytes`` is the maximum over tasks instead."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for path in glob.glob(os.path.join(event_dir, "*")):
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    group = (e.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        for s in e["Stage IDs"]:
                            stage_group[s] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(e["Stage ID"])
                    m = e.get("Task Metrics")
                    if group is None or not m:
                        continue
                    g = out[group]
                    sr, sw, inp = m["Shuffle Read Metrics"], m["Shuffle Write Metrics"], m["Input Metrics"]
                    g["executor.run_s"] += m["Executor Run Time"] / 1e3
                    g["executor.cpu_s"] += m["Executor CPU Time"] / 1e9
                    g["executor.gc_s"] += m["JVM GC Time"] / 1e3
                    g["shuffle.write_bytes"] += sw["Shuffle Bytes Written"]
                    g["shuffle.read_bytes"] += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
                    g["spill.bytes"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
                    g["scan.input_bytes"] += inp["Bytes Read"]
                    g["scan.input_rows"] += inp["Records Read"]
                    g["executor.peak_mem_bytes"] = max(
                        g["executor.peak_mem_bytes"], m["Peak Execution Memory"]
                    )
                    for acc in e["Task Info"].get("Accumulables", []):
                        name = _PY_ACCUMS.get(acc.get("Name"))
                        if name and acc.get("Update") is not None:
                            g[name[0]] += float(acc["Update"]) * name[1]
    return out
