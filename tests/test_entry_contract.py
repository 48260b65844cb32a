"""Local replica of the driver's correctness gate: run every queries() entry
at sf0.01 and compare against its oracle_sql() via DuckDB — row count, sorted
column names, and order-insensitive values."""

from __future__ import annotations

import math

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        try:
            con.sql(
                f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
            )
        except Exception:
            pass
    return con


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    out = pdf.copy()
    out = out[sorted(out.columns)]
    for c in out.columns:
        if out[c].dtype == object:
            # Decimal → float-ish string stable form
            out[c] = out[c].map(
                lambda v: float(v) if hasattr(v, "as_tuple") else v
            )
        if pd.api.types.is_float_dtype(out[c]):
            out[c] = out[c].round(6)
        if pd.api.types.is_integer_dtype(out[c]):
            out[c] = out[c].astype("int64")
    return out.sort_values(by=list(out.columns)).reset_index(drop=True)


def _values_equal(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return abs(a - b) < 1e-9
    return a == b


def _assert_no_pandas_udf(name: str, df) -> None:
    """Every UDF takes and returns Arrow: no ``*InPandas`` node (MapInPandas,
    FlatMapGroupsInPandas, ...) in the query's executed plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert "InPandas" not in plan, f"{name}: pandas UDF in plan\n{plan}"


ORACLED = sorted(entry_mod.oracle_sql().keys())
ROWS_ONLY = sorted(set(entry_mod.queries()) - set(ORACLED))


@pytest.mark.parametrize("name", ORACLED)
def test_query_matches_oracle(spark, duck, name):
    q = entry_mod.queries()[name]
    df = q(spark, SF_DIR)
    actual = _normalize(df.toPandas())
    _assert_no_pandas_udf(name, df)
    expected = _normalize(duck.sql(entry_mod.oracle_sql()[name]).df())

    assert list(actual.columns) == list(expected.columns), (
        f"{name}: columns {list(actual.columns)} vs {list(expected.columns)}"
    )
    assert len(actual) == len(expected), (
        f"{name}: rows {len(actual)} vs {len(expected)}"
    )
    for col in actual.columns:
        av, ev = actual[col].tolist(), expected[col].tolist()
        bad = [
            (i, x, y) for i, (x, y) in enumerate(zip(av, ev))
            if not _values_equal(x, y)
        ]
        assert not bad, f"{name}.{col}: first mismatches {bad[:3]}"


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_queries_run(spark, name):
    q = entry_mod.queries()[name]
    df = q(spark, SF_DIR)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


# ---------------------------------------------------------------------------
# Golden pins for the rows-only queries: where DuckDB cannot express the
# oracle, a committed row-digest pins the full output at sf0.01 so silent
# drift in the kernels (minhash family, ANN, extraction, langid) is caught.
# Re-pin DELIBERATELY after a semantic change:
#     SPARK_GRAFT_REPIN=1 python -m pytest tests/test_entry_contract.py -k golden
# and bump "fixture_version" in the JSON in the same commit.
# ---------------------------------------------------------------------------
import hashlib
import json
import os

_GOLDEN_PATH = os.path.join(os.path.dirname(__file__), "golden_rows_only.json")


def _stable_cell(v):
    import numpy as np

    if isinstance(v, (list, tuple, np.ndarray)):
        return json.dumps([_stable_cell(x) for x in v])
    if isinstance(v, dict):
        return json.dumps({k: _stable_cell(x) for k, x in sorted(v.items())})
    if hasattr(v, "asDict"):  # pyspark Row
        return _stable_cell(v.asDict())
    if isinstance(v, float):
        return round(v, 6)
    if v is None or v != v:  # NaN
        return ""
    return v


def _row_digest(pdf: pd.DataFrame) -> str:
    out = pdf.copy()
    out = out[sorted(out.columns)]
    for c in out.columns:
        out[c] = out[c].map(_stable_cell)
    out = out.astype(str).sort_values(by=list(out.columns)).reset_index(drop=True)
    return hashlib.sha256(out.to_csv(index=False).encode()).hexdigest()


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_golden_digest(spark, name):
    df = entry_mod.queries()[name](spark, SF_DIR)
    pdf = df.toPandas()
    _assert_no_pandas_udf(name, df)
    digest = _row_digest(pdf)
    if os.environ.get("SPARK_GRAFT_REPIN"):
        data = {}
        if os.path.exists(_GOLDEN_PATH):
            data = json.load(open(_GOLDEN_PATH))
        data.setdefault("fixture_version", 1)
        data.setdefault("queries", {})[name] = {
            "digest": digest, "n_rows": len(pdf),
        }
        json.dump(data, open(_GOLDEN_PATH, "w"), indent=1, sort_keys=True)
        pytest.skip("re-pinned")
    assert os.path.exists(_GOLDEN_PATH), "goldens missing — run with SPARK_GRAFT_REPIN=1"
    pinned = json.load(open(_GOLDEN_PATH))["queries"][name]
    assert len(pdf) == pinned["n_rows"], f"{name}: rows {len(pdf)} != {pinned['n_rows']}"
    assert digest == pinned["digest"], (
        f"{name}: output drifted from the pinned golden — if intentional, "
        "re-pin with SPARK_GRAFT_REPIN=1 and bump fixture_version"
    )


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
