"""Declared schemas — schema-on-write, no inference in the engine.

The reference declares fixed sink schemas (JDBC DDL
``batchlite/.../writer/JDBCMetadataWriter.java:68-78``, ES mapping
``tika-eval-solrj/config/tika_eval_es_config.json`` with ``dynamic:"false"``);
we do the same with explicit StructTypes.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Input: the transcripts table (BASELINE.json input_hint — authoritative).
# Production: Iceberg, partitioned bucket(N, conv_id); sandbox: parquet.
# ---------------------------------------------------------------------------
TRANSCRIPTS_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)

# ---------------------------------------------------------------------------
# Per-turn extraction result (the analogue of the reference's curated doc:
# TikaEvalDocMapper.java:130-177 projected fields + ParseStatus.java:21-71
# status taxonomy + FileProcessResult.java:19-102 lineage scalars).
# ---------------------------------------------------------------------------
SPAN_TYPE = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),
        T.StructField("start", T.IntegerType(), False),
        T.StructField("end", T.IntegerType(), False),
    ]
)

EXTRACTED_FIELDS = [
    T.StructField("extracted_text", T.StringType(), True),
    T.StructField("title", T.StringType(), True),
    T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True),
    T.StructField("spans", T.ArrayType(SPAN_TYPE), True),
    T.StructField("detected_content_type", T.StringType(), True),
    T.StructField("parse_status", T.StringType(), False),
    T.StructField("warnings", T.ArrayType(T.StringType()), True),
    T.StructField("chars_in", T.IntegerType(), False),
    T.StructField("chars_out", T.IntegerType(), False),
    T.StructField("n_pages", T.IntegerType(), True),
]

EXTRACTED_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
        *EXTRACTED_FIELDS,
    ]
)

# Parse-status vocabulary (reference: pdftotext/.../ParseStatus.java:25-56 —
# VALIDITY {valid, valid-warnings, rejected...}; we keep the three that apply
# to in-table payloads; failures are *recorded*, never thrown).
STATUS_VALID = "valid"
STATUS_VALID_WARNINGS = "valid-warnings"
STATUS_REJECTED = "rejected"

# ---------------------------------------------------------------------------
# Checkpoint table — resumability (FIXTURES.md §4; pattern:
# GithubScraper.java:253-263 resume-from-cache → anti-join/MERGE skip).
# ---------------------------------------------------------------------------
CHECKPOINT_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("partition_key", T.StringType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("n_turns", T.LongType(), False),
        T.StructField("chars_in", T.LongType(), False),
        T.StructField("chars_out", T.LongType(), False),
        T.StructField("n_parse_failures", T.LongType(), False),
        T.StructField(
            "content_types", T.MapType(T.StringType(), T.LongType()), True
        ),
        T.StructField("started_ts", T.TimestampType(), True),
        T.StructField("finished_ts", T.TimestampType(), True),
    ]
)
