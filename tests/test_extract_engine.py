"""Tier-2 correctness: the Spark engine must equal the standalone oracle
per turn, under stable (conv_id, turn_idx) ordering, and be invariant to
shuffle-partition count, Arrow batch size and salting (FIXTURES.md §2, §6)."""

from __future__ import annotations

import pandas as pd
import pytest

from tika_addons_spark.operators.compare import equality_gate
from tika_addons_spark.operators.extract import extract_turns
from tika_addons_spark.oracle import extract_one
from tika_addons_spark.plans.pipeline import salted_repartition
from tika_addons_spark.schema import EXTRACTED_SCHEMA


def oracle_frame(pdf: pd.DataFrame) -> pd.DataFrame:
    rows = []
    for _, r in pdf.iterrows():
        out = extract_one(r["text"] if isinstance(r["text"], str) else None)
        out["conv_id"] = r["conv_id"]
        out["turn_idx"] = r["turn_idx"]
        rows.append(out)
    return pd.DataFrame(rows)


@pytest.fixture(scope="module")
def expected_df(spark, transcripts_pdf):
    exp = oracle_frame(transcripts_pdf)
    exp_schema = "conv_id string, turn_idx int, " + ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in EXTRACTED_SCHEMA.fields
        if f.name
        in {
            "extracted_text",
            "title",
            "detected_content_type",
            "parse_status",
            "chars_in",
            "chars_out",
        }
    )
    cols = [
        "conv_id",
        "turn_idx",
        "extracted_text",
        "title",
        "detected_content_type",
        "parse_status",
        "chars_in",
        "chars_out",
    ]
    return spark.createDataFrame(exp[cols], schema=exp_schema)


GATE_COLS = [
    "extracted_text",
    "title",
    "detected_content_type",
    "parse_status",
    "chars_in",
    "chars_out",
]


def test_engine_equals_oracle(spark, transcripts_df, expected_df):
    actual = extract_turns(transcripts_df)
    mism = equality_gate(actual, expected_df, GATE_COLS)
    rows = mism.limit(5).collect()
    assert not rows, f"mismatching turns: {rows}"


def test_spans_equal_oracle(spark, transcripts_df, transcripts_pdf):
    actual = (
        extract_turns(transcripts_df)
        .select("conv_id", "turn_idx", "spans")
        .toPandas()
        .set_index(["conv_id", "turn_idx"])
        .sort_index()
    )
    for _, r in transcripts_pdf.sample(60, random_state=1).iterrows():
        exp = extract_one(r["text"] if isinstance(r["text"], str) else None)
        got = actual.loc[(r["conv_id"], int(r["turn_idx"])), "spans"]
        got_norm = [
            {"kind": s["kind"], "start": s["start"], "end": s["end"]} for s in got
        ]
        assert got_norm == exp["spans"], (r["conv_id"], r["turn_idx"])


def test_engine_equals_oracle_nested_cols(spark, transcripts_df, transcripts_pdf):
    """Full-corpus gate over the nested/ordered fields the scalar gate
    misses: meta (map, key-sorted), warnings (exact order), spans (exact
    order+offsets), n_pages. A vectorized-path divergence in any of these
    now fails loudly."""
    actual = (
        extract_turns(transcripts_df)
        .select("conv_id", "turn_idx", "meta", "warnings", "spans", "n_pages")
        .toPandas()
        .set_index(["conv_id", "turn_idx"])
        .sort_index()
    )
    assert len(actual) == len(transcripts_pdf)
    n_checked = 0
    for _, r in transcripts_pdf.iterrows():
        exp = extract_one(r["text"] if isinstance(r["text"], str) else None)
        got = actual.loc[(r["conv_id"], int(r["turn_idx"]))]
        assert sorted((got["meta"] or {}).items()) == sorted(exp["meta"].items()), (
            r["conv_id"], r["turn_idx"],
        )
        assert list(got["warnings"]) == exp["warnings"], (r["conv_id"], r["turn_idx"])
        got_spans = [
            {"kind": s["kind"], "start": s["start"], "end": s["end"]}
            for s in got["spans"]
        ]
        assert got_spans == exp["spans"], (r["conv_id"], r["turn_idx"])
        got_np = None if pd.isna(got["n_pages"]) else int(got["n_pages"])
        assert got_np == exp["n_pages"], (r["conv_id"], r["turn_idx"])
        n_checked += 1
    assert n_checked == len(transcripts_pdf)


def test_invariance_shuffle_partitions_and_salt(spark, transcripts_df):
    base = extract_turns(transcripts_df).orderBy("conv_id", "turn_idx")
    base_pdf = base.select(*GATE_COLS).toPandas()

    # salted repartition at two widths must not change results
    for n in (2, 16):
        alt = (
            extract_turns(salted_repartition(transcripts_df, n))
            .orderBy("conv_id", "turn_idx")
            .select(*GATE_COLS)
            .toPandas()
        )
        pd.testing.assert_frame_equal(base_pdf, alt)


def test_invariance_arrow_batch_size(spark, transcripts_df):
    base = (
        extract_turns(transcripts_df)
        .orderBy("conv_id", "turn_idx")
        .select(*GATE_COLS)
        .toPandas()
    )
    records = "spark.sql.execution.arrow.maxRecordsPerBatch"
    nbytes = "spark.sql.execution.arrow.maxBytesPerBatch"
    old = {k: spark.conf.get(k) for k in (records, nbytes)}
    try:
        # 64 KiB puts each whale turn in a batch of its own
        for key, n in ((records, "16"), (records, "10000"), (nbytes, "65536")):
            spark.conf.set(key, n)
            alt = (
                extract_turns(transcripts_df)
                .orderBy("conv_id", "turn_idx")
                .select(*GATE_COLS)
                .toPandas()
            )
            pd.testing.assert_frame_equal(base, alt)
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_arrow_batches_close_at_the_byte_bound(spark):
    """48 whale turns of 150 KB (7.2 MB) in one partition reach a Python
    UDF in several batches, none over ``ARROW_MAX_BYTES`` by more than its
    largest row. Held to ``ARROW_MAX_RECORDS`` rows alone they arrive as
    one batch of the whole partition."""
    import pyarrow as pa
    from pyspark.sql import functions as F

    from tika_addons_spark.session import ARROW_MAX_BYTES

    def probe(batches):
        for rb in batches:
            row_max = max(rb.slice(i, 1).nbytes for i in range(rb.num_rows))
            yield pa.RecordBatch.from_pydict(
                {"rows": [rb.num_rows], "nbytes": [rb.nbytes], "row_max": [row_max]}
            )

    whales = spark.range(0, 48, 1, numPartitions=1).select(
        "id", F.repeat(F.lit("w"), 150_000).alias("text")
    )
    got = whales.mapInArrow(
        probe, "rows long, nbytes long, row_max long"
    ).collect()
    assert sum(r.rows for r in got) == 48
    assert len(got) >= 2
    largest_row = max(r.row_max for r in got)
    assert all(r.nbytes <= ARROW_MAX_BYTES + largest_row for r in got), got


def test_poison_rows_do_not_fail_job(spark):
    poison = [
        ("c0", 0, None),
        ("c0", 1, ""),
        ("c0", 2, "%PDF-1.4\n\x00\x01garbage"),
        ("c0", 3, "<html><body><div>" + "a" * 10),
        ("c0", 4, "x" * 200_000),
    ]
    df = spark.createDataFrame(poison, "conv_id string, turn_idx int, text string")
    out = extract_turns(df).collect()
    assert len(out) == 5
    statuses = {r.turn_idx: r.parse_status for r in out}
    assert statuses[0] == "rejected"
    assert statuses[2] == "rejected"
    assert statuses[4] == "valid-warnings"  # truncated megarow
