"""SparkSession factory with scale-aware defaults.

Local sandbox runs on local[N]; the same config block is what we would submit
with ``spark-submit --py-files engine.zip`` on a real cluster — only
master/memory change.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Arrow batches into every Python UDF (mapInArrow, applyInArrow) close at
# whichever cap they reach first. The byte cap bounds a worker's memory: turn
# sizes vary widely (plain_big turns run past 65,536 code points), so batches
# held to a row count alone differ widely in bytes. A batch goes over the
# byte cap by at most one row. Chosen on 4 cores from perfbench job_mixed,
# five interleaved triples (medians; row cap alone → 1 MiB → 256 KiB):
# worker_rss_mb 697 → 619 → 604, pass_cpu_s 6.90 → 6.72 → 7.73. Only
# 256 KiB moved pass_cpu_s out of the row-cap runs' quartiles (6.53–7.14).
ARROW_MAX_BYTES = 1024 * 1024

# The row cap only amortizes per-batch cost over batches of small turns.
ARROW_MAX_RECORDS = 4096

# JVM→Python socket buffer of every Arrow-batched Python UDF (mapInArrow and
# applyInArrow too, despite the setting's pandas name): the 64 KiB default is
# smaller than one Arrow batch, which serializes each task into a strict
# produce/consume ping-pong (python workers idle while the JVM prepares the
# next batch). 16 MiB lets batches queue so both sides stay busy — measured
# ~1.4× extraction throughput at local[32] only; not re-measured on 4 cores.
PANDAS_UDF_BUFFER = str(16 * 1024 * 1024)

# Entries in Spark's JVM-wide cache of Janino-compiled classes (default
# 100). The 60 declared queries at sf0.001 generate ~545 classes; with 100
# entries a second pass over them recompiled 612, with 1024 entries 14
# (q33/q50/q54/q58, whose generated source differs between passes). A
# recompiled class is a new class, so the JIT interprets and compiles it
# again: on 4 cores the perfbench query_suite pass went 19.9 → 16.6 CPU-s
# (median of 10 pairs). ~2× the working set, because eviction is
# least-recently-used per cache segment, not globally. Static and
# JVM-wide: the first session of a JVM sets it.
CODEGEN_CACHE_ENTRIES = 1024


def _cpus() -> int:
    """CPUs this process may run on (its affinity mask under a cpuset or
    ``taskset``), not the host's count."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # no sched_getaffinity (macOS, Windows)
        return os.cpu_count() or 8


def _default_driver_memory() -> str:
    """Half the host's physical RAM, at most 32g. A heap as large as the
    host lets G1 grow the local-mode JVM (driver and executors in one
    process) until the kernel's OOM killer takes it."""
    try:
        ram = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    except (AttributeError, ValueError, OSError):  # no sysconf (Windows)
        return "32g"
    return f"{min(ram // 2, 32 * 1024**3) // 1024**2}m"


def get_spark(
    app_name: str = "tika_addons_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build a session tuned for the extraction workload.

    AQE on (runtime coalesce + skew-join splitting), Arrow on (toPandas and
    createDataFrame transfers), UTC timezone pinned so duckdb-oracle
    comparisons are stable.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or _cpus())
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        # match parallelism, not the 200 default: at sandbox scale 200
        # partitions means 6x scheduling overhead per shuffle; on a real
        # cluster this is set to ~2-3x total cores by the submitter.
        # Robust parse: "local[8]" → 8; "local[*]", "local", "local[2,3]",
        # "spark://..." → cpus.
        import re as _re

        m = _re.fullmatch(r"local\[(\d+)\]", master)
        shuffle_partitions = max(int(m.group(1)), 4) if m else cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_MAX_RECORDS)
        )
        .config("spark.sql.execution.arrow.maxBytesPerBatch", str(ARROW_MAX_BYTES))
        .config("spark.sql.execution.pandas.udf.buffer.size", PANDAS_UDF_BUFFER)
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM", _default_driver_memory()),
        )
        # Floor on scan parallelism, derived from the session's core count
        # (never a constant): single-file parquet inputs land on 1-2 scan
        # tasks otherwise, serializing the scan-stage work (partial
        # aggregation, mapInArrow synth) onto one core. Splits are still
        # bounded below by row-group layout, so this is a no-op for
        # many-file cluster-scale tables.
        .config("spark.sql.files.minPartitionNum", str(shuffle_partitions))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
