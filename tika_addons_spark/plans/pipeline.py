"""The extraction job plan: resumable, skew-aware, metrics-emitting.

Physical strategy (SURVEY.md §4.2), designed for a 1000-executor cluster and
tested on local[N]:

- **Bucketing**: ``bucket = pmod(hash(conv_id), n_buckets)`` — the unit of
  checkpointing/resume and of output partitioning. At 10^12 turns this is
  tens of thousands of buckets; here 32–256.
- **Salting**: extraction is a per-turn map, so the *turn*, not the
  conversation, is the parallel unit — ``repartition(P, conv_id,
  floor(turn_idx / SALT_BLOCK))`` spreads whale conversations (100× median)
  across partitions while keeping blocks of adjacent turns together for
  Arrow-batch locality. AQE only fixes join skew, not UDF input skew, so the
  salt is explicit (SURVEY.md §4.2 item 1).
- **Deterministic order**: ``sortWithinPartitions(conv_id, turn_idx)`` before
  the UDF (W2) — results are order-independent but downstream fixtures and
  windowed consumers get stable order for free.
- **Waves**: buckets are processed in configurable waves; each wave =
  dynamic-partition-overwrite of its buckets + a checkpoint append. A killed
  run resumes by anti-joining buckets against the checkpoint (J2). One wave
  (default) = one snapshot commit, Iceberg-style; more waves = finer resume
  granularity (the reference's per-file cache skip taken to table scale).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..operators.extract import extract_turns
from ..schema import STATUS_REJECTED
from ..sources import catalog

SALT_BLOCK = 256  # turns per salt block: whale convs split every 256 turns


def with_bucket(df: DataFrame, n_buckets: int) -> DataFrame:
    return df.withColumn(
        "bucket", F.pmod(F.hash("conv_id"), F.lit(n_buckets)).cast("int")
    )


def salted_repartition(df: DataFrame, n_partitions: int) -> DataFrame:
    """Explicit skew spread for the per-turn map (§4.2 item 1).

    Key = (conv_id, turn_idx // SALT_BLOCK): a whale conversation lands on
    ~n_turns/SALT_BLOCK partitions instead of one, while blocks of adjacent
    turns stay together for Arrow-batch locality and ordered output."""
    return df.repartition(
        n_partitions,
        F.col("conv_id"),
        (F.col("turn_idx") / F.lit(SALT_BLOCK)).cast("int"),
    ).sortWithinPartitions("conv_id", "turn_idx")


def bucket_salted_repartition(
    df: DataFrame, n_partitions: int, n_buckets: int
) -> DataFrame:
    """Wave-write layout: co-locate rows by output *bucket* (so a
    ``partitionBy(bucket)`` write produces a bounded number of files per
    bucket — not #tasks × #buckets small files) while salting within the
    bucket by turn block so whale conversations still spread."""
    return df.repartition(
        n_partitions,
        F.col("bucket"),
        F.pmod(
            F.hash("conv_id", (F.col("turn_idx") / F.lit(SALT_BLOCK)).cast("int")),
            F.lit(max(2, n_partitions // n_buckets + 1)),
        ),
    ).sortWithinPartitions("conv_id", "turn_idx")


DEDUP_STAGE_KEY = "stage=near-dup"


def run_dedup_stage(
    spark: SparkSession,
    target: str,
    dedup_target: str,
    ckpt: str,
    run_id: str,
    n_bands: int = 16,
    rows_per_band: int = 4,
    max_bucket_size: int | None = None,
) -> dict:
    """Optional post-extraction near-dup stage: MinHash signatures over the
    committed extracted text → LSH dup clusters (min-label propagation,
    LINEAR output) → (conv_id, turn_idx, cluster_id, is_survivor) table.

    Resume semantics match the extraction waves: the stage is one checkpoint
    key (``stage=near-dup``) — clustering is a global operation over the
    corpus, so its resume granularity is the stage, and its INPUT is the
    snapshot-consistent committed read (buckets whose checkpoint rows say
    completed), never a mid-write wave.

    Scale shape: signature UDF is one narrow pass; candidate generation is
    the banded bucket equi-join (shuffle ∝ collisions, hot buckets cappable
    via ``max_bucket_size``); cluster output is one row per turn. Rejected
    turns (empty text) are excluded — they would otherwise form one
    degenerate all-pairs bucket, and exact dedup owns them anyway."""
    from ..operators import dedup as dedup_ops

    done = {
        r.partition_key
        for r in catalog.completed_keys(spark, ckpt, run_id).collect()
    }
    if DEDUP_STAGE_KEY in done:
        return {"dedup_skipped": True}

    started = dt.datetime.now(dt.timezone.utc)
    ext = catalog.read_extracted_committed(spark, target, ckpt, run_id)
    docs = ext.filter(F.col("parse_status") != STATUS_REJECTED).select(
        "conv_id",
        "turn_idx",
        F.concat_ws("#", "conv_id", F.col("turn_idx").cast("string")).alias(
            "turn_uid"
        ),
        "extracted_text",
    )
    sigs = dedup_ops.minhash_signatures(
        docs, "turn_uid", "extracted_text", unit="token"
    ).persist()
    sigs.count()
    clusters = dedup_ops.minhash_dup_clusters(
        sigs,
        n_bands=n_bands,
        rows_per_band=rows_per_band,
        max_bucket_size=max_bucket_size,
    )
    out = (
        docs.join(clusters, docs.turn_uid == clusters.id)
        .select(
            "conv_id",
            "turn_idx",
            "turn_uid",
            "cluster_id",
            (F.col("turn_uid") == F.col("cluster_id")).alias("is_survivor"),
        )
    )
    out.write.mode("overwrite").parquet(dedup_target)
    sigs.unpersist()

    # one scan of the committed table for both totals
    n_turns, n_survivors = spark.read.parquet(dedup_target).agg(
        F.count(F.lit(1)),
        F.coalesce(F.sum(F.col("is_survivor").cast("long")), F.lit(0)),
    ).first()
    finished = dt.datetime.now(dt.timezone.utc)
    ckpt_rows = catalog.checkpoint_frame(
        spark,
        [
            (
                run_id,
                DEDUP_STAGE_KEY,
                "completed",
                n_turns,
                0,
                0,
                0,
                {"clusters": n_survivors, "duplicates": n_turns - n_survivors},
                started,
                finished,
            )
        ],
    )
    catalog.append_checkpoint(ckpt_rows, ckpt)
    return {
        "dedup_skipped": False,
        "dedup_turns": n_turns,
        "dedup_clusters": n_survivors,
        "dedup_duplicates": n_turns - n_survivors,
    }


def run_extraction(
    spark: SparkSession,
    source: str,
    target: str,
    ckpt: str,
    run_id: str,
    n_buckets: int = 32,
    n_waves: int = 1,
    n_partitions: int | None = None,
    fail_after_waves: int | None = None,
    dedup_target: str | None = None,
) -> dict:
    """Execute the extraction job; returns run stats.

    ``fail_after_waves`` simulates a mid-run crash (resume test hook).
    ``dedup_target`` (optional) runs the near-dup stage after all waves
    commit, writing the cluster table there (resumable via its own
    checkpoint key)."""
    if n_partitions is None:
        n_partitions = spark.sparkContext.defaultParallelism

    src = with_bucket(catalog.read_transcripts(spark, source), n_buckets)

    # J2: resume — skip buckets already completed for this run_id.
    done_keys = {
        r.partition_key for r in catalog.completed_keys(spark, ckpt, run_id).collect()
    }
    remaining = [b for b in range(n_buckets) if f"bucket={b}" not in done_keys]

    waves = [remaining[i::n_waves] for i in range(n_waves)]
    waves = [w for w in waves if w]
    n_done = 0
    totals = {"n_turns": 0, "chars_in": 0, "chars_out": 0, "n_parse_failures": 0}
    for wi, wave_buckets in enumerate(waves):
        if fail_after_waves is not None and wi >= fail_after_waves:
            return {"completed_buckets": n_done, "killed": True}
        started = dt.datetime.now(dt.timezone.utc)
        wave_df = src.filter(F.col("bucket").isin(wave_buckets))
        extracted = extract_turns(
            bucket_salted_repartition(wave_df, n_partitions, len(wave_buckets))
        )
        # bucket is a pure function of conv_id — recompute, don't join (no
        # shuffle; the column is needed only for the partitioned write).
        out = with_bucket(extracted, n_buckets)

        # A14 — throughput/lineage counters piggyback on the write action
        # itself (df.observe: zero extra passes; the Spark-native form of
        # the reference's every-1000-rows progress logs).
        obs = Observation(f"wave_{wi}")
        out = out.observe(
            obs,
            F.count(F.lit(1)).alias("n_turns"),
            F.sum("chars_in").alias("chars_in"),
            F.sum("chars_out").alias("chars_out"),
            F.sum((F.col("parse_status") == STATUS_REJECTED).cast("long")).alias(
                "n_parse_failures"
            ),
        )
        catalog.write_extracted(out, target)
        wave_totals = obs.get

        # per-bucket lineage from the just-committed wave: ONE columnar
        # re-read (small metric columns only — no second extraction pass),
        # aggregated at (bucket, content_type) grain. That is at most
        # buckets × 12 MIME types rows, so the driver rolls them up per
        # bucket and builds the checkpoint rows itself: the wave's
        # timestamps never reach generated code, which as literals in a
        # plan made every wave compile a new class.
        per_type = (
            catalog.read_extracted(spark, target)
            .filter(F.col("bucket").isin(wave_buckets))
            .groupBy("bucket", "detected_content_type")
            .agg(
                F.count("*").alias("n_turns"),
                F.sum("chars_in").alias("chars_in"),
                F.sum("chars_out").alias("chars_out"),
                F.sum(
                    (F.col("parse_status") == STATUS_REJECTED).cast("long")
                ).alias("n_parse_failures"),
            )
            .collect()
        )
        stats: dict[int, list] = {}
        for bucket, content_type, *sums in sorted(per_type):
            acc = stats.setdefault(bucket, [0, 0, 0, 0, {}])
            for i, n in enumerate(sums):
                acc[i] += n
            acc[4][content_type] = sums[0]
        finished = dt.datetime.now(dt.timezone.utc)
        ckpt_rows = catalog.checkpoint_frame(
            spark,
            [
                (run_id, f"bucket={b}", "completed", *acc, started, finished)
                for b, acc in stats.items()
            ],
        )
        catalog.append_checkpoint(ckpt_rows, ckpt)
        n_done += len(wave_buckets)
        totals["n_turns"] += int(wave_totals.get("n_turns") or 0)
        totals["chars_in"] += int(wave_totals.get("chars_in") or 0)
        totals["chars_out"] += int(wave_totals.get("chars_out") or 0)
        totals["n_parse_failures"] += int(wave_totals.get("n_parse_failures") or 0)

    result = {"completed_buckets": n_done, "killed": False, **totals}
    if dedup_target is not None:
        result.update(
            run_dedup_stage(spark, target, dedup_target, ckpt, run_id)
        )
    return result
