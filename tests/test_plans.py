"""Catalyst plan audits: the physical plans must have the shapes we designed
for 100 TB — pushdown + pruning at the scan, broadcast for small dims,
whole-stage codegen for column-expression operators (SURVEY.md §4.2)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry

SF = "/root/testdata/sf0.01"

# Every Python exec node Spark 4.1 plans, as plan-string substrings: row and
# scalar Arrow UDFs (and their UDTFs), grouped/window aggregates, maps,
# grouped and cogrouped maps (pandas and Arrow), stateful streaming.
PYTHON_NODES = (
    "BatchEvalPython", "ArrowEvalPython", "ArrowAggregatePython",
    "ArrowWindowPython", "MapInPandas", "MapInArrow", "FlatMapGroupsIn",
    "FlatMapCoGroupsIn", "TransformWithState",
)


def assert_no_python(p: str) -> None:
    found = [n for n in PYTHON_NODES if n in p]
    assert not found, (found, p)


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001


def formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def test_column_pruning_at_scan(spark):
    # q03 touches only doc_id/text — the parquet ReadSchema must not include
    # lang/source/n_chars
    df = entry.q03_sha256_digest(spark, SF)
    txt = formatted(df)
    scan = [l for l in txt.splitlines() if "ReadSchema" in l]
    assert scan, txt
    assert "lang" not in scan[0] and "n_chars" not in scan[0]


def test_predicate_pushdown_to_scan(spark):
    df = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .filter(F.col("l_orderkey") == 1)
        .select("l_orderkey", "l_quantity")
    )
    txt = formatted(df)
    assert "PushedFilters: [IsNotNull(l_orderkey), EqualTo(l_orderkey,1)" in txt, txt


def test_broadcast_join_for_small_dims(spark):
    df = entry.q12_region_customer_rollup(spark, SF)
    p = plan_of(df)
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, "dims must broadcast, not sort-merge"


def test_anti_join_shape(spark):
    df = entry.q11_resume_antijoin(spark, SF)
    p = plan_of(df)
    assert "LeftAnti" in p, p


def test_whole_stage_codegen_for_column_ops(spark):
    df = entry.q04_char_classes(spark, SF)
    p = plan_of(df)
    # '*(n)' prefixes mark whole-stage-codegen subtrees in the plan string
    assert "*(1)" in p or "WholeStageCodegen" in p, p
    assert_no_python(p)


def test_extraction_single_python_stage(spark, transcripts_df):
    from tika_addons_spark.operators.extract import extract_turns

    p = plan_of(extract_turns(transcripts_df))
    # exactly one Arrow-batched python operator (mapInArrow, the only
    # engine path), no pandas conversion, no per-row PythonUDF eval
    assert p.count("MapInArrow") == 1 and "MapInPandas" not in p, p
    assert "BatchEvalPython" not in p, p


def test_partial_aggregation_before_shuffle(spark):
    # groupBy aggregates must be map-side partial (HashAggregate appears
    # both below and above the Exchange)
    df = entry.q01_pricing_summary(spark, SF)
    p = plan_of(df)
    assert p.count("HashAggregate") >= 2, p


def test_lsh_pair_join_is_not_cartesian(spark):
    """q41's candidate generation must be a bucket equi-join — any
    Cartesian/BroadcastNestedLoop in the pair plan means the LSH key
    degraded to a cross join."""
    from tika_addons_spark.operators import dedup

    d = spark.read.parquet(f"{SF}/documents.parquet")
    sigs = dedup.minhash_signatures(d, "doc_id", "text", unit="token")
    pairs = dedup.minhash_lsh_pairs(sigs)
    p = plan_of(pairs)
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p


def test_dup_clusters_linear_plan(spark):
    """q42: no self-join of the banded membership anywhere — the cluster
    path aggregates per bucket instead of enumerating pairs."""
    from tika_addons_spark.operators import dedup

    d = spark.read.parquet(f"{SF}/documents.parquet")
    sigs = dedup.minhash_signatures(d, "doc_id", "text", unit="token")
    clusters = dedup.minhash_dup_clusters(sigs, iterations=2)
    p = plan_of(clusters)
    assert "CartesianProduct" not in p, p


def test_archive_explode_single_python_stage(spark):
    """q40's unpack is ONE mapInArrow stage over the packed containers —
    no shuffle between pack output and member explode."""
    from tika_addons_spark.operators import archive

    df = spark.createDataFrame(
        [("c1", archive.make_archive("c1", [("a", "x")]))],
        "container_id string, payload string",
    )
    p = plan_of(archive.explode_members(df, ["container_id"], "payload"))
    assert p.count("MapInArrow") == 1, p
    assert "Exchange" not in p, "explode must not shuffle"


def test_link_harvest_stays_jvm_side(spark):
    """q43 is pure column expressions: zero Python operators in the plan."""
    df = entry.q43_link_harvest(spark, SF)
    assert_no_python(plan_of(df))


def test_extension_fix_stays_jvm_side(spark):
    df = entry.q46_extension_fix_audit(spark, SF)
    assert_no_python(plan_of(df))


def test_lang_grid_stays_jvm_side(spark):
    """q48's detector grid (synthesis, stopword voting, accuracy agg) is
    pure column expressions — zero Python operators."""
    assert_no_python(plan_of(entry.q48_lang_grid(spark, SF)))


def test_binary_archive_rollup_plan(spark):
    """q47: packing is ONE grouped-map python op (round-6 fused the
    zip-per-(source,lang) and tar-per-source stages — byte-identical
    containers, one fewer Exchange), the unpack is ONE mapInArrow, and
    nothing in the plan is a cartesian product."""
    p = plan_of(entry.q47_binary_archive_rollup(spark, SF))
    assert p.count("FlatMapGroupsInArrow") == 1, p  # fused source pack
    assert p.count("MapInArrow") == 1, p            # the binary explode
    assert "CartesianProduct" not in p, p


def test_embedded_member_extract_plan(spark):
    """q49: synth + member-extract are two narrow mapInArrow stages with no
    shuffle between them (the only Exchange feeds the final rollup)."""
    p = plan_of(entry.q49_embedded_member_extract(spark, SF))
    assert p.count("MapInArrow") == 2, p
    pre_agg = p.split("MapInArrow")[1]  # between the two python stages
    assert "Exchange" not in pre_agg, p


def test_lsh_estimated_pairs_single_join(spark):
    """q31's flattened plan: signatures ride through the banded self-join —
    exactly one join and one aggregate-distinct, no re-join of sigs."""
    from tika_addons_spark.operators import dedup

    d = spark.read.parquet(f"{SF}/documents.parquet")
    sigs = dedup.minhash_signatures(d, "doc_id", "text")
    p = plan_of(dedup.minhash_lsh_estimated_pairs(sigs))
    assert p.count("SortMergeJoin") + p.count("BroadcastHashJoin") + p.count(
        "ShuffledHashJoin"
    ) == 1, p
    assert "CartesianProduct" not in p, p


def test_ann_ivf_plan_not_cartesian(spark):
    """q50: candidates meet via the centroid equi-join — no cartesian or
    nested-loop join anywhere in the plan."""
    p = plan_of(entry.q50_ann_ivf(spark, SF))
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p


def test_ann_planted_plan_not_cartesian(spark):
    """q54: the planted-oracle ANN still goes through the real bucket
    equi-join — candidates never meet via cartesian/nested-loop."""
    p = plan_of(entry.q54_ann_planted(spark, SF))
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p


def test_sevenz_rollup_single_python_explode(spark):
    """q52: synth + 7z member explode are two narrow mapInArrow stages;
    the only Exchange feeds the final rollup."""
    p = plan_of(entry.q52_sevenz_rollup(spark, SF))
    assert p.count("MapInArrow") == 2, p
    pre_agg = p.split("MapInArrow")[1]
    assert "Exchange" not in pre_agg, p


def test_exact_duplicates_single_exchange(spark):
    """Bounded-ids exact dedup: the rank window shares the groupBy's hash
    partitioning on digest, so the whole plan still has exactly one
    Exchange (the design claim in the docstring, pinned)."""
    from tika_addons_spark.operators import dedup

    d = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan_of(dedup.exact_duplicates(d, "doc_id", "text"))
    assert p.count("Exchange") == 1, p


def test_q59_extract_planted_single_python_stage(spark):
    """q59 (extraction planted oracle): text synthesis is pure JVM column
    concat feeding ONE Python (mapInArrow) stage — exactly one Exchange
    (the deliberate spread repartition), no cartesian, and the sha256
    reduction stays JVM-side."""
    df = entry.q59_extract_planted(spark, SF)
    p = plan_of(df)
    assert "CartesianProduct" not in p, p
    assert p.count("MapInArrow") == 1, p
    # repartition + orderBy range exchange only
    assert p.count("Exchange") <= 2, p


def test_q60_langid_planted_single_python_stage(spark):
    """q60 (trigram detector planted oracle): seed-prefix synthesis is an
    element_at over a literal array (JVM-side); detection is ONE
    mapInArrow stage; the per-language rollup is a partial-agg shuffle."""
    df = entry.q60_langid_planted(spark, SF)
    p = plan_of(df)
    assert "CartesianProduct" not in p, p
    assert p.count("MapInArrow") == 1, p
    assert "partial" in p.lower(), p  # map-side combine before the shuffle
