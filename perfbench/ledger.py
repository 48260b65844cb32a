"""Spark's own per-task accumulables, read back from the event log.

The traced session is built with ``spark.eventLog.enabled`` (uncompressed)
and every benchmark phase sets a job description ``pb:<phase>``. After the
session stops, :func:`read_event_log` groups task metrics and stage spans
by that description.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

PREFIX = "pb:"

# (event-log accumulable name, metric name, scale to seconds/bytes)
_ACCUMULABLES = [
    ("time to run Python workers", "spark.python_run_s", 1e-3),
    ("time to start Python workers", "spark.python_init_s", 1e-3),
    ("time to initialize Python workers", "spark.python_init_s", 1e-3),
    ("data sent to Python workers", "spark.to_python_bytes", 1.0),
    ("data returned from Python workers", "spark.from_python_bytes", 1.0),
]

LEDGER_METRICS = [
    "spark.python_run_s",
    "spark.python_init_s",
    "spark.to_python_bytes",
    "spark.from_python_bytes",
    "spark.shuffle_write_s",
    "spark.shuffle_write_bytes",
    "spark.fetch_wait_s",
    "spark.executor_run_s",
    "spark.executor_cpu_s",
    "spark.gc_s",
    "spark.driver_gap_s",
    "spark.stages",
    "spark.tasks",
]


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
    }


def _events(log_dir: str):
    # Spark 4 writes a v2 log: one directory per application holding
    # events_<n>_<app> files
    paths = sorted(glob.glob(os.path.join(log_dir, "*", "events_*")))
    for path in paths:
        with open(path) as f:
            for line in f:
                yield json.loads(line)


def _union_ms(spans: list[tuple[int, int]]) -> int:
    total, end = 0, None
    for s, e in sorted(spans):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


class PhaseLedger:
    """Per-phase sums of task metrics and the stage spans of that phase."""

    def __init__(self):
        self.sums: dict[str, float] = defaultdict(float)
        self.stage_spans: list[tuple[int, int]] = []
        self.stages: set[int] = set()
        self.tasks = 0

    def metrics(self, wall_s: float) -> dict[str, float]:
        out = {name: self.sums.get(name, 0.0) for name in LEDGER_METRICS}
        out["spark.driver_gap_s"] = max(0.0, wall_s - _union_ms(self.stage_spans) / 1e3)
        out["spark.stages"] = float(len(self.stages))
        out["spark.tasks"] = float(self.tasks)
        return out


def read_event_log(log_dir: str) -> dict[str, PhaseLedger]:
    """Ledgers keyed by job description (without the ``pb:`` prefix)."""
    stage_phase: dict[int, str | None] = {}
    spans: dict[int, tuple[int, int]] = {}
    ledgers: dict[str, PhaseLedger] = defaultdict(PhaseLedger)
    task_ends = []
    for ev in _events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
            phase = desc[len(PREFIX):] if desc.startswith(PREFIX) else None
            # a later job can list an earlier job's stage as skipped: the
            # stage belongs to the job that first ran it
            for sid in ev.get("Stage IDs", []):
                stage_phase.setdefault(sid, phase)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            if info.get("Submission Time") and info.get("Completion Time"):
                spans[info["Stage ID"]] = (info["Submission Time"], info["Completion Time"])
        elif kind == "SparkListenerTaskEnd":
            task_ends.append(ev)
    for ev in task_ends:
        phase = stage_phase.get(ev.get("Stage ID"))
        if phase is None:
            continue
        led = ledgers[phase]
        led.tasks += 1
        if ev["Stage ID"] not in led.stages:
            led.stages.add(ev["Stage ID"])
            if ev["Stage ID"] in spans:
                led.stage_spans.append(spans[ev["Stage ID"]])
        tm = ev.get("Task Metrics") or {}
        s = led.sums
        s["spark.executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
        s["spark.executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
        s["spark.gc_s"] += tm.get("JVM GC Time", 0) / 1e3
        sw = tm.get("Shuffle Write Metrics") or {}
        s["spark.shuffle_write_s"] += sw.get("Shuffle Write Time", 0) / 1e9
        s["spark.shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        sr = tm.get("Shuffle Read Metrics") or {}
        s["spark.fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
        for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
            for name, metric, scale in _ACCUMULABLES:
                if acc.get("Name") == name:
                    s[metric] += float(acc.get("Update") or 0) * scale
    return dict(ledgers)


def pass_ledger(
    ledgers: dict[str, PhaseLedger], phases: list[str], walls: list[float]
) -> dict[str, float]:
    """Mean over timed passes of each ledger metric (one pass = one phase)."""
    per_pass = [
        (ledgers.get(p) or PhaseLedger()).metrics(w) for p, w in zip(phases, walls)
    ]
    return {
        name: sum(m[name] for m in per_pass) / max(1, len(per_pass))
        for name in LEDGER_METRICS
    }
