"""tika_addons_spark — a PySpark-native content-extraction & corpus-analytics engine.

A from-scratch reimplementation of the *capabilities* of tballison/tika-addons
(reference, read-only, at /root/reference) re-expressed Spark-first:

- DataFrame/SQL declarative plans (Catalyst optimizes; no hand scheduling)
- one extraction contract: ``oracle.extract_one`` is the per-turn spec and
  a vectorized mapInArrow UDF (operators/extract_arrow.py) the only engine
  path (HTML boilerplate strip, PDF-ish payload parse, markup normalization)
  — never per-row Python UDFs
- explicit partitioning / salting for skewed conversations
- checkpoint-table resumability: a run skips the buckets its checkpoint
  names (sources/catalog.py)

See SURVEY.md for the operator-by-operator mapping with reference file:line
citations.
"""

__version__ = "0.1.0"

import sys  # noqa: E402

# Every Spark Python worker that runs an engine UDF imports this package, so
# this is where the worker-side fixes for PySpark's fixed cost per task go.
# zipcache: per-task zip re-reads (a no-op on Python >= 3.12).
from . import zipcache as _zipcache  # noqa: E402

_zipcache.install()

# workergc: the between-task gc.collect(), only when imported inside a task
# so the driver's collector is left as it is. A process that has not
# imported pyspark.taskcontext runs no task and need not pay pyspark's
# import.
_taskcontext = sys.modules.get("pyspark.taskcontext")
if _taskcontext is not None and _taskcontext.TaskContext.get() is not None:
    from . import workergc as _workergc

    _workergc.install()
