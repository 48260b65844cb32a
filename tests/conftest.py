from __future__ import annotations

import pytest

from tika_addons_spark.fixtures import generate_transcripts
from tika_addons_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def transcripts_pdf():
    # sf-smoke: ~50 convs incl. the whale (~1200 turns)
    return generate_transcripts(n_convs=30, seed=42).to_pandas()


@pytest.fixture(scope="session")
def transcripts_path(tmp_path_factory):
    from tika_addons_spark.fixtures import write_transcripts_parquet

    p = tmp_path_factory.mktemp("data") / "transcripts.parquet"
    return write_transcripts_parquet(str(p), n_convs=30, seed=42)


@pytest.fixture(scope="session")
def transcripts_df(spark, transcripts_path):
    from tika_addons_spark.sources.catalog import read_transcripts

    return read_transcripts(spark, transcripts_path)


@pytest.fixture(scope="session")
def assert_arrow_equals_oracle():
    """Checker: ``extract_batch_arrow`` over one batch of ``texts`` equals
    ``[extract_one(t) for t in texts]`` on every extracted column. Returns
    the engine rows as plain Python values."""
    import pyarrow as pa

    from tika_addons_spark.operators.extract_arrow import extract_batch_arrow
    from tika_addons_spark.oracle import extract_one
    from tika_addons_spark.schema import EXTRACTED_FIELDS

    cols = [f.name for f in EXTRACTED_FIELDS]

    def check(texts: list) -> list[dict]:
        rb = pa.RecordBatch.from_arrays(
            [
                pa.array([f"c{i}" for i in range(len(texts))], pa.string()),
                pa.array(range(len(texts)), pa.int32()),
                pa.array(texts, pa.string()),
            ],
            names=["conv_id", "turn_idx", "text"],
        )
        got = extract_batch_arrow(rb).to_pylist()
        assert len(got) == len(texts)
        for i, (text, row) in enumerate(zip(texts, got)):
            row["meta"] = dict(row["meta"])  # Arrow map → list of pairs
            exp = extract_one(text)
            for col in cols:
                assert row[col] == exp[col], (col, i, repr(text), row[col], exp[col])
        return got

    return check
