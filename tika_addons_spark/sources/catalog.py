"""Table-format seam: Iceberg in production, parquet in the sandbox.

The north rule names Iceberg (MERGE-based checkpoint skip, snapshot commits).
The sandbox has no Iceberg runtime jar, so this module exposes one API with
two backends chosen at runtime:

- ``iceberg``: ``spark.read.table`` / ``writeTo(...).append()`` /
  ``MERGE INTO`` — used when the Iceberg extension is on the classpath.
- ``parquet`` (sandbox default): identical *semantics* — partition-dynamic
  overwrite for idempotent bucket re-writes, checkpoint table + broadcast
  anti-join instead of MERGE (the reference's resume-by-existence:
  ``bugtracker-crawler/.../GithubScraper.java:253-263``).

All engine code goes through these functions; pytest runs the parquet
backend.
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..schema import CHECKPOINT_SCHEMA, EXTRACTED_SCHEMA, TRANSCRIPTS_SCHEMA

# The extraction output as written: EXTRACTED_SCHEMA + the partition column.
EXTRACTED_TABLE_SCHEMA = T.StructType(
    EXTRACTED_SCHEMA.fields + [T.StructField("bucket", T.IntegerType(), True)]
)


def read_transcripts(spark: SparkSession, source: str) -> DataFrame:
    """Read the transcripts table. ``source`` is an Iceberg table name
    (``cat.db.transcripts``) or a parquet path or URI. Schema is declared,
    never inferred — extra columns are pruned at the scan."""
    if _is_path(source):
        df = spark.read.schema(TRANSCRIPTS_SCHEMA).parquet(source)
    else:
        df = spark.read.table(source)
    return df.select([f.name for f in TRANSCRIPTS_SCHEMA.fields])


def write_extracted(df: DataFrame, target: str, partition_col: str = "bucket") -> None:
    """Write extraction output partitioned by bucket, idempotently:
    dynamic partition overwrite replaces exactly the buckets present in
    ``df`` (re-running a wave after a crash cannot double-write). The mode
    is a write option, which outranks the session conf, so the caller's
    session keeps its own overwrite mode. With Iceberg this is
    ``writeTo(target).overwritePartitions()``."""
    if _is_path(target):
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(partition_col)
            .parquet(target)
        )
    else:
        df.writeTo(target).overwritePartitions()


def read_extracted(spark: SparkSession, target: str) -> DataFrame:
    """Read the extraction output. The schema is declared: inferring it
    from the parquet footers costs one Spark job per read, i.e. per wave."""
    if _is_path(target):
        return spark.read.schema(EXTRACTED_TABLE_SCHEMA).parquet(target)
    return spark.read.table(target)


def read_extracted_committed(
    spark: SparkSession, target: str, ckpt: str, run_id: str
) -> DataFrame:
    """Snapshot-consistent read: only buckets whose checkpoint row says
    ``completed`` for this run — the checkpoint table doubles as the commit
    manifest, so readers never see a wave that is mid-write (with Iceberg
    this isolation comes from snapshot reads; this is the parquet-backend
    equivalent, SURVEY.md §8)."""
    committed = (
        completed_keys(spark, ckpt, run_id)
        .select(
            F.regexp_extract("partition_key", r"bucket=(\d+)", 1)
            .cast("int")
            .alias("bucket")
        )
    )
    return read_extracted(spark, target).join(F.broadcast(committed), "bucket")


def append_checkpoint(df: DataFrame, ckpt: str) -> None:
    """Append checkpoint rows (one per completed partition_key). Parquet
    append of new files is atomic-enough per wave; Iceberg path is a real
    snapshot append."""
    if _is_path(ckpt):
        df.write.mode("append").parquet(ckpt)
    else:
        df.writeTo(ckpt).append()


def read_checkpoint(spark: SparkSession, ckpt: str) -> DataFrame:
    if _is_path(ckpt):
        # A missing checkpoint means a fresh run. Ask the Hadoop FileSystem
        # of the path's scheme, not os.path: a driver-local exists() is wrong
        # for s3://, hdfs://... URIs, where an existing remote checkpoint
        # would read as empty and resume would redo all buckets (and
        # double-write the output). Nor by letting the read fail: Spark logs
        # an ERROR and two stack traces for it. Any other failure
        # (permissions, an unknown scheme) surfaces.
        if not _path_exists(spark, ckpt):
            return checkpoint_frame(spark, [])
        return spark.read.schema(CHECKPOINT_SCHEMA).parquet(ckpt)
    return spark.read.table(ckpt)


def checkpoint_frame(spark: SparkSession, rows: list[tuple]) -> DataFrame:
    """Checkpoint rows the driver already holds (tuples in CHECKPOINT_SCHEMA
    order), as a DataFrame built in the JVM from one Arrow table.
    ``createDataFrame`` over a Python list would ship the rows through a
    Python RDD: one Python task per core, and a second pool of Python
    workers next to the one the UDFs use."""
    table = pa.Table.from_pylist(
        [dict(zip(CHECKPOINT_SCHEMA.names, r)) for r in rows],
        schema=to_arrow_schema(CHECKPOINT_SCHEMA),
    )
    return spark.createDataFrame(table, CHECKPOINT_SCHEMA)


def completed_keys(spark: SparkSession, ckpt: str, run_id: str) -> DataFrame:
    """Distinct partition_keys already completed for this run_id.

    This is the MERGE-skip predicate: on resume the work table is
    ``left_anti``-joined against it (J2 — the resume operator)."""
    return (
        read_checkpoint(spark, ckpt)
        .filter((F.col("run_id") == run_id) & (F.col("status") == "completed"))
        .select("partition_key")
        .distinct()
    )


def _path_exists(spark: SparkSession, path: str) -> bool:
    sc = spark.sparkContext
    p = sc._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(sc._jsc.hadoopConfiguration()).exists(p)


def _is_path(target: str) -> bool:
    """A path or URI (``/``, ``.parquet``, or an existing local name such as
    a relative directory); anything else is a catalog table name."""
    return "/" in target or target.endswith(".parquet") or os.path.exists(target)
