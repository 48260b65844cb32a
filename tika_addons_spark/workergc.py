"""Freeze what survives PySpark's between-task garbage collection.

PySpark's daemon reuses a Python worker for task after task and runs a
full ``gc.collect()`` in it after each one (``pyspark/daemon.py``). That
collection walks every object the worker holds: pyspark, pandas, pyarrow,
numpy and this engine, 30-40 ms of CPU per task on a 4-core VM whether the
task did 2 ms of work or 2 s.

The hook below calls ``gc.freeze()`` after every generation-2 collection
that ran while no task was active. PySpark clears the task context before
the daemon collects (``TaskContext._setTaskContext(None)`` at the end of
``pyspark/worker.py``'s ``main``), so that is the between-task collection,
and what is alive then is long-lived state: modules, caches and tables.
Frozen objects are never walked again, so each between-task collection
walks only what the last task left behind.

Collections during a task never freeze, so a task's own garbage, cyclic
garbage included, is still reclaimed. The trade-off: an object alive at a
task boundary that later becomes *cyclic* garbage is never reclaimed.
Refcounting still frees everything else.

``tika_addons_spark/__init__.py`` installs the hook only when the package
is imported inside a task, so the driver never gets it.
"""

from __future__ import annotations

import gc

from pyspark.taskcontext import TaskContext


def _freeze_between_tasks(phase: str, info: dict) -> None:
    if phase == "stop" and info["generation"] == 2 and TaskContext.get() is None:
        gc.freeze()


def installed() -> bool:
    return _freeze_between_tasks in gc.callbacks


def install() -> None:
    """Install the hook (idempotent)."""
    if not installed():
        gc.callbacks.append(_freeze_between_tasks)
