"""Fold a Spark event log into per-layer ``spark.*`` metrics, stdlib only.

The benchmark's traced session writes an uncompressed, non-rolling event
log (one JSON object per line).  :func:`fold` sums task metrics and the
Python-runner SQL metrics (Spark 4.1 ``PythonSQLMetrics``) of every task
launched inside the given time windows, and counts the jobs submitted in
them.  Times in the log are epoch milliseconds.
"""

from __future__ import annotations

import json

# SQL accumulables of the Python runners (pandas UDF, mapInPandas, ...)
PY_RUN = "time to run Python workers"
PY_BOOT = ("time to start Python workers", "time to initialize Python workers")
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"

KEYS = (
    "jobs", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "python_total_s", "python_boot_s", "python_data_sent_bytes",
    "python_data_received_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
    "scan_bytes", "spill_bytes", "peak_exec_mem_bytes",
)


def _inside(t_ms: float, windows: list[tuple[float, float]]) -> bool:
    return any(lo <= t_ms <= hi for lo, hi in windows)


def fold_lines(lines, windows: list[tuple[float, float]]) -> dict:
    """Metric totals over the events in ``windows`` ((start_ms, end_ms)
    pairs).  ``peak_exec_mem_bytes`` is the largest single-task peak."""
    out = dict.fromkeys(KEYS, 0)
    for line in lines:
        if '"SparkListenerJobStart"' in line:
            ev = json.loads(line)
            if _inside(ev["Submission Time"], windows):
                out["jobs"] += 1
            continue
        if '"SparkListenerTaskEnd"' not in line:
            continue
        ev = json.loads(line)
        info = ev["Task Info"]
        if not _inside(info["Launch Time"], windows):
            continue
        out["tasks"] += 1
        m = ev.get("Task Metrics") or {}
        out["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
        out["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        out["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        out["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
            "Disk Bytes Spilled", 0
        )
        out["peak_exec_mem_bytes"] = max(
            out["peak_exec_mem_bytes"], m.get("Peak Execution Memory", 0)
        )
        rd = m.get("Shuffle Read Metrics") or {}
        out["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get(
            "Local Bytes Read", 0
        )
        wr = m.get("Shuffle Write Metrics") or {}
        out["shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
        out["scan_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
        for acc in info.get("Accumulables") or []:
            name = acc.get("Name")
            if name == PY_RUN:
                out["python_total_s"] += int(acc.get("Update", 0)) / 1e3
            elif name in PY_BOOT:
                out["python_boot_s"] += int(acc.get("Update", 0)) / 1e3
            elif name == PY_SENT:
                out["python_data_sent_bytes"] += int(acc.get("Update", 0))
            elif name == PY_RECV:
                out["python_data_received_bytes"] += int(acc.get("Update", 0))
    return out


def fold(path: str, windows: list[tuple[float, float]]) -> dict:
    with open(path) as f:
        return fold_lines(f, windows)
