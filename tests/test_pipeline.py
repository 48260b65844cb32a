"""End-to-end job tests: checkpointed run, kill-and-resume equivalence
(FIXTURES.md §4), comparison harness."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tika_addons_spark.operators.compare import align_runs, equality_gate, sim_sets
from tika_addons_spark.plans.pipeline import run_extraction
from tika_addons_spark.sources import catalog


def test_run_and_checkpoint(spark, transcripts_path, tmp_path):
    out = str(tmp_path / "extracted")
    ckpt = str(tmp_path / "ckpt")
    stats = run_extraction(
        spark, transcripts_path, out, ckpt, run_id="r1", n_buckets=8, n_waves=2
    )
    assert stats["completed_buckets"] == 8

    df = catalog.read_extracted(spark, out)
    # the declared read schema is what the job wrote; declaring it means the
    # per-wave lineage re-read starts no schema-inference job
    assert df.schema == spark.read.parquet(out).schema
    assert _jobs_started(spark, lambda: catalog.read_extracted(spark, out)) == 0
    n_in = spark.read.parquet(transcripts_path).count()
    assert df.count() == n_in

    ck = catalog.read_checkpoint(spark, ckpt)
    assert ck.count() == 8
    agg = ck.agg(F.sum("n_turns"), F.sum("chars_in")).collect()[0]
    assert agg[0] == n_in
    # lineage sums must equal recomputed sums from the data
    assert agg[1] == df.agg(F.sum("chars_in")).collect()[0][0]
    # content_types histogram covers every turn
    total_ct = ck.select(
        F.explode("content_types").alias("k", "v")
    ).agg(F.sum("v")).collect()[0][0]
    assert total_ct == n_in


def test_kill_and_resume_equals_clean_run(spark, transcripts_path, tmp_path):
    out_a = str(tmp_path / "a")
    ckpt_a = str(tmp_path / "cka")
    # clean single run
    run_extraction(spark, transcripts_path, out_a, ckpt_a, run_id="rA", n_buckets=8)

    # killed run: 2 of 4 waves committed, then resume with same run_id
    out_b = str(tmp_path / "b")
    ckpt_b = str(tmp_path / "ckb")
    st = run_extraction(
        spark, transcripts_path, out_b, ckpt_b,
        run_id="rB", n_buckets=8, n_waves=4, fail_after_waves=2,
    )
    assert st["killed"] and st["completed_buckets"] == 4
    done_before = catalog.completed_keys(spark, ckpt_b, "rB").count()
    assert done_before == 4

    st2 = run_extraction(
        spark, transcripts_path, out_b, ckpt_b, run_id="rB", n_buckets=8, n_waves=4
    )
    # resume processed ONLY the missing buckets
    assert st2["completed_buckets"] == 4

    a = catalog.read_extracted(spark, out_a)
    b = catalog.read_extracted(spark, out_b)
    cols = ["extracted_text", "parse_status", "detected_content_type", "chars_out"]
    assert equality_gate(b, a, cols).count() == 0
    assert a.count() == b.count()


def test_second_run_compiles_no_class(spark, transcripts_path, tmp_path):
    """The checkpoint rows are built on the driver, so a run's timestamps
    never become literals in generated code: a second run into fresh paths
    compiles nothing (as literals, they cost one class per wave)."""
    from test_session_codegen import _compiled_classes

    for i in range(2):
        c0 = _compiled_classes(spark)
        run_extraction(
            spark, transcripts_path, str(tmp_path / f"out{i}"),
            str(tmp_path / f"ckpt{i}"), run_id="r", n_buckets=4, n_waves=2,
        )
    assert _compiled_classes(spark) - c0 == 0


def test_run_extraction_keeps_session_overwrite_mode(spark, transcripts_path, tmp_path):
    """The job's dynamic partition overwrite is an option of its own write:
    the caller's session stays static, and a caller's partitioned
    overwrite afterwards still replaces every partition."""
    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    assert before.lower() == "static"
    run_extraction(
        spark, transcripts_path, str(tmp_path / "out"), str(tmp_path / "ck"),
        run_id="r", n_buckets=2,
    )
    assert spark.conf.get(key) == before

    t = str(tmp_path / "t")
    spark.createDataFrame([("a", 1), ("b", 2)], "v string, p int").write.mode(
        "overwrite").partitionBy("p").parquet(t)
    spark.createDataFrame([("c", 1)], "v string, p int").write.mode(
        "overwrite").partitionBy("p").parquet(t)
    assert [tuple(r) for r in spark.read.parquet(t).collect()] == [("c", 1)]


def test_committed_read_isolation(spark, transcripts_path, tmp_path):
    """Readers using the checkpoint-as-manifest see ONLY completed waves."""
    out = str(tmp_path / "iso")
    ckpt = str(tmp_path / "isock")
    st = run_extraction(
        spark, transcripts_path, out, ckpt,
        run_id="iso", n_buckets=8, n_waves=4, fail_after_waves=2,
    )
    assert st["killed"]
    raw = catalog.read_extracted(spark, out)
    committed = catalog.read_extracted_committed(spark, out, ckpt, "iso")
    # the manifest view only exposes checkpointed buckets...
    assert committed.select("bucket").distinct().count() == 4
    assert committed.count() == raw.filter(
        F.col("bucket").isin(
            [int(r.partition_key.split("=")[1])
             for r in catalog.completed_keys(spark, ckpt, "iso").collect()]
        )
    ).count()
    # ...and after resume it equals the raw table
    run_extraction(spark, transcripts_path, out, ckpt, run_id="iso",
                   n_buckets=8, n_waves=4)
    assert (
        catalog.read_extracted_committed(spark, out, ckpt, "iso").count()
        == catalog.read_extracted(spark, out).count()
    )


def test_dedup_stage_kill_resume_and_skip(spark, transcripts_path, tmp_path):
    """End-to-end near-dup stage: runs after a killed-then-resumed
    extraction, labels every non-rejected turn with a cluster, marks
    survivors, and is itself resume-skipped on re-run (its own checkpoint
    key)."""
    from tika_addons_spark.plans.pipeline import DEDUP_STAGE_KEY, run_dedup_stage

    out = str(tmp_path / "ext")
    ckpt = str(tmp_path / "ck")
    dd = str(tmp_path / "dedup")
    # kill mid-run: extraction incomplete, dedup must NOT have run
    st = run_extraction(
        spark, transcripts_path, out, ckpt, run_id="rd", n_buckets=8,
        n_waves=4, fail_after_waves=2, dedup_target=dd,
    )
    assert st["killed"] and "dedup_turns" not in st

    # resume: remaining waves + the dedup stage
    st2 = run_extraction(
        spark, transcripts_path, out, ckpt, run_id="rd", n_buckets=8,
        n_waves=4, dedup_target=dd,
    )
    assert st2["completed_buckets"] == 4 and st2["dedup_skipped"] is False
    n_eligible = (
        catalog.read_extracted(spark, out)
        .filter(F.col("parse_status") != "rejected")
        .count()
    )
    assert st2["dedup_turns"] == n_eligible
    labels = spark.read.parquet(dd)
    assert labels.count() == n_eligible
    # every turn labeled exactly once; survivor = the cluster's own label
    assert labels.select("turn_uid").distinct().count() == n_eligible
    surv = labels.filter("is_survivor")
    assert surv.count() == st2["dedup_clusters"]
    assert (
        surv.filter(F.col("turn_uid") != F.col("cluster_id")).count() == 0
    )
    # identical texts must share a cluster (exact dup ⊆ near dup)
    ext = catalog.read_extracted(spark, out).filter(
        (F.col("parse_status") != "rejected") & (F.length("extracted_text") > 0)
    )
    jd = (
        ext.select(
            F.concat_ws("#", "conv_id", F.col("turn_idx").cast("string")).alias(
                "turn_uid"
            ),
            F.sha2("extracted_text", 256).alias("digest"),
        )
        .join(labels, "turn_uid")
        .groupBy("digest")
        .agg(F.countDistinct("cluster_id").alias("n_clusters"), F.count("*").alias("n"))
        .filter((F.col("n") > 1) & (F.col("n_clusters") > 1))
    )
    assert jd.count() == 0

    # third run: everything (waves AND dedup) resume-skips
    st3 = run_extraction(
        spark, transcripts_path, out, ckpt, run_id="rd", n_buckets=8,
        n_waves=4, dedup_target=dd,
    )
    assert st3["completed_buckets"] == 0 and st3["dedup_skipped"] is True
    assert (
        catalog.read_checkpoint(spark, ckpt)
        .filter(F.col("partition_key") == DEDUP_STAGE_KEY)
        .count()
        == 1
    )


def _jobs_started(spark, action) -> int:
    """Number of Spark jobs ``action()`` starts."""
    import uuid

    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_dedup_totals_are_one_action(spark, transcripts_path, tmp_path, monkeypatch):
    """Between writing the dedup table and building its checkpoint row, the
    near-dup stage reads the table back once: one action yields both the
    turn and the survivor count."""
    import uuid

    from pyspark.sql.readwriter import DataFrameWriter

    from tika_addons_spark.plans.pipeline import DEDUP_STAGE_KEY, run_dedup_stage

    out, ckpt, dd = (str(tmp_path / n) for n in ("ext", "ck", "dedup"))
    run_extraction(spark, transcripts_path, out, ckpt, run_id="r1", n_buckets=4)

    sc = spark.sparkContext
    group = f"dedup-totals-{uuid.uuid4().hex}"
    marks: dict = {}

    def jobs() -> int:
        return len(sc.statusTracker().getJobIdsForGroup(group))

    write, frame = DataFrameWriter.parquet, catalog.checkpoint_frame

    def parquet(self, path, *a, **kw):
        write(self, path, *a, **kw)
        if path == dd:
            marks["written"] = jobs()

    def checkpoint_frame(spark_, rows):
        if rows and rows[0][1] == DEDUP_STAGE_KEY:
            marks["counted"], marks["row"] = jobs(), rows[0]
        return frame(spark_, rows)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    monkeypatch.setattr(catalog, "checkpoint_frame", checkpoint_frame)
    sc.setJobGroup(group, group)
    try:
        st = run_dedup_stage(spark, out, dd, ckpt, "r1")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    monkeypatch.undo()

    # as many jobs as one read plus one aggregate action over the table
    one_action = _jobs_started(
        spark, lambda: spark.read.parquet(dd).agg(F.count(F.lit(1))).first()
    )
    assert marks["counted"] - marks["written"] == one_action
    labels = spark.read.parquet(dd)
    n_turns, n_surv = labels.count(), labels.filter("is_survivor").count()
    assert n_turns > n_surv > 0
    assert (st["dedup_turns"], st["dedup_clusters"]) == (n_turns, n_surv)
    assert marks["row"][3] == n_turns
    assert marks["row"][7] == {"clusters": n_surv, "duplicates": n_turns - n_surv}


def test_fresh_checkpoint_starts_no_job(spark, tmp_path):
    """A missing checkpoint reads as an empty frame built in the JVM: learning
    that nothing is done must not run Python tasks (or any job)."""
    missing = str(tmp_path / "no-such-ckpt")
    keys = []
    assert _jobs_started(
        spark, lambda: keys.extend(catalog.completed_keys(spark, missing, "r").collect())
    ) == 0
    assert keys == []


def test_missing_checkpoint_is_probed_not_read(spark, tmp_path, monkeypatch):
    """A missing checkpoint is found by asking the path's Hadoop FileSystem,
    never by letting a parquet read fail (which logged an ERROR and two
    stack traces per fresh run); an existing one is still read, and a path
    no FileSystem can serve still raises."""
    from py4j.protocol import Py4JJavaError
    from pyspark.sql.readwriter import DataFrameReader

    from tika_addons_spark.schema import CHECKPOINT_SCHEMA

    existing = str(tmp_path / "ckpt")
    catalog.append_checkpoint(catalog.checkpoint_frame(spark, []), existing)

    def no_read(self, *paths, **kw):
        raise AssertionError(f"parquet read of {paths}")

    monkeypatch.setattr(DataFrameReader, "parquet", no_read)
    ck = catalog.read_checkpoint(spark, str(tmp_path / "no-such-ckpt"))
    assert ck.schema == CHECKPOINT_SCHEMA and ck.collect() == []
    with pytest.raises(AssertionError, match="parquet read"):
        catalog.read_checkpoint(spark, existing)
    monkeypatch.undo()

    assert catalog.read_checkpoint(spark, existing).collect() == []
    with pytest.raises(Py4JJavaError, match="No FileSystem for scheme"):
        catalog.read_checkpoint(spark, "nosuchscheme://bucket/ckpt")


def test_read_transcripts_accepts_uris(spark, tmp_path):
    """The source follows the same path-or-table rule as the target and the
    checkpoint: a ``file://`` URI of a parquet file without the suffix is a
    path, not a table name."""
    from tika_addons_spark.fixtures import write_transcripts_parquet

    src = tmp_path / "transcripts"
    write_transcripts_parquet(str(src), n_convs=3, seed=5)
    plain = catalog.read_transcripts(spark, str(src)).collect()
    assert plain
    uri = catalog.read_transcripts(spark, src.as_uri()).collect()
    assert sorted(uri) == sorted(plain)


def test_checkpoint_frame_matches_python_rows(spark):
    """checkpoint_frame (Arrow, no Python RDD) yields the same rows and
    schema as createDataFrame over the equivalent Python tuple."""
    import datetime as dt

    from tika_addons_spark.schema import CHECKPOINT_SCHEMA

    ts = dt.datetime(2026, 1, 2, 3, 4, 5, 678901, tzinfo=dt.timezone.utc)
    row = ("r", "stage=near-dup", "completed", 7, 0, 0, 0,
           {"clusters": 5, "duplicates": 2}, ts, ts)
    got = catalog.checkpoint_frame(spark, [row])
    want = spark.createDataFrame([row], CHECKPOINT_SCHEMA)
    assert got.schema == want.schema
    assert got.collect() == want.collect()


def test_align_runs_sentinel(spark):
    a = spark.createDataFrame(
        [("c", 0, 10), ("c", 1, 20)], "conv_id string, turn_idx int, chars_out int"
    )
    b = spark.createDataFrame(
        [("c", 0, 10)], "conv_id string, turn_idx int, chars_out int"
    )
    al = align_runs({"t1": a, "t2": b}, ["chars_out"]).orderBy("turn_idx").collect()
    assert al[1].chars_out_t1 == 20 and al[1].chars_out_t2 == -1


def test_sim_sets_grouping(spark):
    a = spark.createDataFrame(
        [("c", 0, "the quick fox"), ("c", 1, "alpha beta")],
        "conv_id string, turn_idx int, extracted_text string",
    )
    b = spark.createDataFrame(
        [("c", 0, "quick the fox"), ("c", 1, "gamma delta")],
        "conv_id string, turn_idx int, extracted_text string",
    )
    s = sim_sets({"t1": a, "t2": b}).orderBy("turn_idx", "sim_set").collect()
    # turn 0: same token bag → one set with both runs
    t0 = [r for r in s if r.turn_idx == 0]
    assert len(t0) == 1 and sorted(t0[0].runs) == ["t1", "t2"]
    # turn 1: different bags → two sets
    t1 = [r for r in s if r.turn_idx == 1]
    assert len(t1) == 2
    assert {r.sim_set for r in t1} == {"set_0", "set_1"}
