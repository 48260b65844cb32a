"""workergc: a Python worker freezes what survives PySpark's between-task
``gc.collect()``, never collects frozen state again, and still reclaims a
task's own cyclic garbage; the driver keeps its collector as it is."""

from __future__ import annotations

import gc

import pytest
from pyspark.sql import functions as F
from pyspark.taskcontext import TaskContext

import tika_addons_spark  # noqa: F401  (installs the hooks)
from tika_addons_spark import workergc


@pytest.fixture
def unfrozen():
    gc.unfreeze()
    yield
    gc.unfreeze()


def test_freezes_only_after_full_collection_between_tasks(unfrozen, monkeypatch):
    cb = workergc._freeze_between_tasks
    monkeypatch.setattr(TaskContext, "_taskContext", None)

    for phase, generation in (("stop", 0), ("stop", 1), ("start", 2)):
        cb(phase, {"generation": generation, "collected": 0, "uncollectable": 0})
        assert gc.get_freeze_count() == 0, (phase, generation)

    monkeypatch.setattr(TaskContext, "_taskContext", object())
    cb("stop", {"generation": 2, "collected": 0, "uncollectable": 0})
    assert gc.get_freeze_count() == 0

    monkeypatch.setattr(TaskContext, "_taskContext", None)
    cb("stop", {"generation": 2, "collected": 0, "uncollectable": 0})
    assert gc.get_freeze_count() > 0


def test_reused_worker_is_frozen_and_still_reclaims_task_cycles(spark):
    """Single-partition engine-UDF jobs, one after another, until workers
    are handed a second task: the idle pool left by earlier tests can hold
    more workers than there are cores, and it hands them out in turn. Each
    task reports its worker's pid, its freeze count on entry, and whether
    the reference cycle the previous task on that worker made and dropped
    is dead; then makes and drops one itself."""
    from tika_addons_spark.operators.extract_arrow import extract_batch_arrow

    def probe(batches):
        import os
        import sys
        import types
        import weakref

        import pyarrow as pa

        for batch in batches:
            extract_batch_arrow(batch)
        state = sys.modules.setdefault("_workergc_probe", types.ModuleType("_workergc_probe"))
        prev = getattr(state, "cycle", None)
        frozen = gc.get_freeze_count()

        class Node:
            pass

        node = Node()
        node.self = node  # only the collector can free this
        state.cycle = weakref.ref(node)
        del node
        yield pa.RecordBatch.from_pydict({
            "pid": [os.getpid()],
            "frozen": [frozen],
            "prev_dead": [None if prev is None else prev() is None],
        })

    df = spark.range(4, numPartitions=1).select(
        F.lit("c").alias("conv_id"),
        F.col("id").cast("int").alias("turn_idx"),
        F.lit("<p>hello</p>").alias("text"),
    )
    schema = "pid long, frozen long, prev_dead boolean"
    rows, seen, reused = [], set(), 0
    while reused < spark.sparkContext.defaultParallelism and len(rows) < 200:
        r = df.mapInArrow(probe, schema).collect()[0]
        rows.append(r)
        if r.pid in seen:
            reused += 1
            assert r.frozen > 0, rows
            assert r.prev_dead is True, rows
        seen.add(r.pid)
    assert reused > 0, rows
    assert not workergc.installed()
