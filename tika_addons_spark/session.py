"""SparkSession factory with scale-aware defaults.

Local sandbox runs on local[N]; the same config block is what we would submit
with ``spark-submit --py-files engine.zip`` on a real cluster — only
master/memory change.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Arrow batch size: extraction turns can be large strings; keep batches
# bounded so a batch of giant poison turns doesn't balloon executor memory,
# but big enough to amortize per-batch Arrow overhead.
ARROW_MAX_RECORDS = 4096

# JVM→Python socket buffer of every Arrow-batched Python UDF (mapInArrow and
# applyInArrow too, despite the setting's pandas name): the 64 KiB default is
# smaller than one Arrow batch, which serializes each task into a strict
# produce/consume ping-pong (python workers idle while the JVM prepares the
# next batch). 16 MiB lets batches queue so both sides stay busy — measured
# ~1.4× extraction throughput at local[32].
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
        .config("spark.sql.execution.pandas.udf.buffer.size", PANDAS_UDF_BUFFER)
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "32g"))
        # Floor on scan parallelism, derived from the session's core count
        # (never a constant): single-file parquet inputs land on 1-2 scan
        # tasks otherwise, serializing the scan-stage work (partial
        # aggregation, mapInArrow synth) onto one core. Splits are still
        # bounded below by row-group layout, so this is a no-op for
        # many-file cluster-scale tables.
        .config("spark.sql.files.minPartitionNum", str(shuffle_partitions))
    )
    # Shuffle/spill on RAM-backed storage when available: local-mode shuffle
    # goes through spark.local.dir, and disk /tmp was measured to both slow
    # and destabilize the repartition stage (29k→82k turns/s swings; tmpfs
    # gives a stable ~1.5× on the extraction job at local[32]). On a real
    # cluster this is the NVMe/ramdisk shuffle-dir best practice. Guard:
    # only when the tmpfs has real headroom — shuffle spill competing with
    # executor memory in a nearly-full /dev/shm must degrade to disk, not
    # OOM the host (SPARK_GRAFT_SHM_MIN_FREE_GB overrides, default 8 GiB).
    if os.path.isdir("/dev/shm"):
        try:
            _st = os.statvfs("/dev/shm")
            _shm_free = _st.f_bavail * _st.f_frsize
        except OSError:
            _shm_free = 0
        _min_free = float(
            os.environ.get("SPARK_GRAFT_SHM_MIN_FREE_GB", "8")
        ) * (1024**3)
        if _shm_free >= _min_free:
            builder = builder.config("spark.local.dir", "/dev/shm/spark-local")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
