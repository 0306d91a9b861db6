"""Fold Spark's event log into per-layer metrics for the measured jobs.

The traced run enables an uncompressed event log and tags the jobs it
measures with a local property (:data:`PHASE_KEY`). Only tasks of stages
that belong to tagged jobs are folded, so set-up, warm-up and the per-layer
probes do not leak into the numbers.
"""

from __future__ import annotations

import json
import pathlib
import statistics

PHASE_KEY = "perfbench.phase"

# MapInArrow / Python-UDF SQL metrics, by their accumulator names
_PY_METRICS = {
    "time to start Python workers": ("py.boot_s", 1e-3),
    "time to initialize Python workers": ("py.init_s", 1e-3),
    "time to run Python workers": ("py.run_s", 1e-3),
    "data sent to Python workers": ("py.bytes_to", 1),
    "data returned from Python workers": ("py.bytes_from", 1),
}


def event_files(log_dir: str | pathlib.Path) -> list[pathlib.Path]:
    """Event files of every application under ``log_dir`` (Spark 4 writes
    rolling ``eventlog_v2_*/events_*`` directories)."""
    return sorted(pathlib.Path(log_dir).glob("*/events_*"))


def fold(log_dir: str | pathlib.Path, phase: str) -> dict[str, float]:
    """Sum task metrics over the jobs whose ``PHASE_KEY`` equals ``phase``."""
    stages: set[int] = set()
    jobs = 0
    m = {
        "spark.jobs": 0, "spark.tasks": 0, "spark.executor_cpu_s": 0.0,
        "spark.executor_run_s": 0.0, "spark.gc_s": 0.0,
        "spark.shuffle_write_bytes": 0, "spark.shuffle_read_bytes": 0,
        "spark.spill_bytes": 0,
    }
    m.update({name: 0 for name, _ in _PY_METRICS.values()})
    run_ms: dict[int, list[int]] = {}
    for path in event_files(log_dir):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    if (ev.get("Properties") or {}).get(PHASE_KEY) == phase:
                        jobs += 1
                        stages.update(ev["Stage IDs"])
                elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stages:
                    tm = ev.get("Task Metrics") or {}
                    m["spark.tasks"] += 1
                    m["spark.executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    m["spark.executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
                    m["spark.gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                    sw = tm.get("Shuffle Write Metrics") or {}
                    sr = tm.get("Shuffle Read Metrics") or {}
                    m["spark.shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    m["spark.shuffle_read_bytes"] += (
                        sr.get("Local Bytes Read", 0) + sr.get("Remote Bytes Read", 0)
                    )
                    m["spark.spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
                    run_ms.setdefault(ev["Stage ID"], []).append(
                        tm.get("Executor Run Time", 0)
                    )
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        hit = _PY_METRICS.get(acc.get("Name"))
                        if hit is not None:
                            m[hit[0]] += int(acc.get("Update") or 0) * hit[1]
    m["spark.jobs"] = jobs
    m["spark.task_skew"] = task_skew(run_ms)
    return m


def task_skew(run_ms: dict[int, list[int]]) -> float:
    """Max over median task run time in the stage with the most run time —
    the stage whose slowest task most likely sets the job's wall time."""
    if not run_ms:
        return 0.0
    times = max(run_ms.values(), key=sum)
    return max(times) / max(statistics.median(times), 1)
