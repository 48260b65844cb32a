"""The ``query_suite`` workload: headline queries of
``__spark_entry__.queries()`` over the generated sf0.01 documents and
embeddings, one after another into a noop sink, checked against
``oracle_sql()`` via DuckDB."""

from __future__ import annotations

import math
import statistics
import time

import __spark_entry__ as entry
from . import host, inputs
from .harness import Failures, noop, quartiles, timed

# The headline queries of the repo's bench.py that reach the engine's own
# operators (stats, similarity, dedup, extraction, archives, 7z, image
# decoders, langid). Left out to keep a run within budget: the pure
# Spark-SQL queries (q01 q08 q10 q48), whose cost is mostly the per-query
# floor that query.floor_s measures, the second extraction leaf (q59) and
# the second dedup query (q42, the suite's slowest; q31 keeps dedup).
BENCH_QUERIES = [
    "q21_token_entropy",
    "q23_ann_bruteforce",
    "q31_minhash_lsh",
    "q30_extract_documents",
    "q47_binary_archive_rollup",
    "q52_sevenz_rollup",
    "q56_decoded_pixel_sum",
    "q60_langid_planted",
]
# the suite's extraction leaf: every document as a one-turn conversation
EXTRACT_LEAF = "q30_extract_documents"
TABLES = ["documents", "embeddings"]
# Extra samples per pass, outside the pass: the floor action and the
# extraction leaf are short enough that one sample is mostly noise from
# the JVM's background threads.
FLOOR_REPS = 15
EXTRACT_REPS = 3
WARM_THREADS = 4


def floor_s(spark) -> float:
    """Driver-side fixed cost of one action: a one-row noop write."""
    return statistics.median(
        timed(lambda: noop(spark.range(1))) for _ in range(FLOOR_REPS)
    )


def _normalize(pdf):
    import pandas as pd

    out = pdf.copy()
    out = out[sorted(out.columns)]
    for c in out.columns:
        if out[c].dtype == object:
            out[c] = out[c].map(lambda v: float(v) if hasattr(v, "as_tuple") else v)
        if pd.api.types.is_float_dtype(out[c]):
            out[c] = out[c].round(6)
        if pd.api.types.is_integer_dtype(out[c]):
            out[c] = out[c].astype("int64")
    return out.sort_values(by=list(out.columns)).reset_index(drop=True)


def _close(a, b) -> bool:
    """Exact for ints and strings. Floats may differ by one unit in the
    fourth decimal, the coarsest rounding the oracles apply: Spark and
    DuckDB can round a value that sits on a half-way point differently."""
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return abs(a - b) <= 1.01e-4 + 1e-9 * abs(b)
    return a == b


class QuerySuite:
    name = "query_suite"

    def __init__(self):
        self.walls: dict[str, list[float]] = {q: [] for q in BENCH_QUERIES}
        self.cpu: dict[str, list[float]] = {q: [] for q in BENCH_QUERIES}
        self.fixed_cost_s: list[float] = []
        self.fixed_cost_cpu_s: list[float] = []
        self.extract_s: list[float] = []
        self.extract_py_cpu_s: list[float] = []
        self.phases: list[str] = []

    def prepare(self) -> bool:
        self.input = inputs.sf_tables()
        self.sf_dir = self.input.dir
        self.n_docs = self.input.manifest["n_docs"]
        return False

    def locate(self, spark) -> None:
        for t in TABLES:
            spark.read.parquet(self.input.path(t)).schema

    def warm_pass(self, spark, fails: Failures) -> None:
        """Each query once, collected for ``check``: the warm-up of every
        query plan. The first executions overlap, so query planning,
        codegen and JIT of one query run while another's tasks do."""
        from concurrent.futures import ThreadPoolExecutor

        qmap = entry.queries()
        with ThreadPoolExecutor(WARM_THREADS) as pool:
            futures = {q: pool.submit(lambda q=q: qmap[q](spark, self.sf_dir).toPandas())
                       for q in BENCH_QUERIES}
        self.results = {}
        for q in BENCH_QUERIES:
            try:
                self.results[q] = futures[q].result()
            except Exception:
                fails.check(False, f"{q}: {futures[q].exception()!r}")

    def check(self, fails: Failures) -> int:
        """Compare the warm pass's results with each query's DuckDB oracle
        where one is declared. Returns the number of queries compared."""
        import duckdb

        oracles = entry.oracle_sql()
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.input.path(t)}'")
            for q, got in self.results.items():
                if q == EXTRACT_LEAF:
                    fails.check(len(got) == self.n_docs, f"{q}: {len(got)} rows for {self.n_docs} docs")
                    continue
                if q not in oracles:
                    fails.check(len(got.columns) > 0, f"{q}: no columns")
                    continue
                a = _normalize(got)
                e = _normalize(con.sql(oracles[q]).df())
                ok = list(a.columns) == list(e.columns) and len(a) == len(e)
                if ok:
                    for c in a.columns:
                        if not all(_close(x, y) for x, y in zip(a[c].tolist(), e[c].tolist())):
                            ok = False
                            break
                fails.check(ok, f"{q}: differs from its DuckDB oracle")
        finally:
            con.close()
        return len(self.results)

    def run_pass(self, spark, fails: Failures, phase: str) -> float | None:
        qmap = entry.queries()
        spark.sparkContext.setJobDescription(f"pb:{phase}")
        total = 0.0
        try:
            for q in BENCH_QUERIES:
                c0, p0 = host.tree_cpu_s(), host.tree_cpu_s(python_only=True)
                t0 = time.perf_counter()
                try:
                    noop(qmap[q](spark, self.sf_dir))
                except Exception:
                    fails.exception(q)
                    return None
                w = time.perf_counter() - t0
                self.cpu[q].append(host.tree_cpu_s() - c0)
                if q == EXTRACT_LEAF:
                    self.extract_py_cpu_s.append(host.tree_cpu_s(python_only=True) - p0)
                fails.check(True, q)
                self.walls[q].append(w)
                total += w
        finally:
            spark.sparkContext.setJobDescription(None)
        leaf = qmap[EXTRACT_LEAF]
        for _ in range(EXTRACT_REPS):
            p0 = host.tree_cpu_s(python_only=True)
            self.extract_s.append(timed(lambda: noop(leaf(spark, self.sf_dir))))
            self.extract_py_cpu_s.append(host.tree_cpu_s(python_only=True) - p0)
        c0 = host.tree_cpu_s()
        self.fixed_cost_s.append(floor_s(spark))
        self.fixed_cost_cpu_s.append((host.tree_cpu_s() - c0) / FLOOR_REPS)
        return total

    def timed_passes(self, spark, fails: Failures, seconds: float, tag: str) -> list[float]:
        walls, spent = [], 0.0
        self.walls = {q: [] for q in BENCH_QUERIES}
        self.cpu = {q: [] for q in BENCH_QUERIES}
        self.fixed_cost_s, self.extract_s, self.phases = [], [], []
        self.fixed_cost_cpu_s, self.extract_py_cpu_s = [], []
        while spent < seconds:
            phase = f"{tag}{len(self.phases)}"
            w = self.run_pass(spark, fails, phase)
            spent += w if w is not None else seconds
            if w is not None:
                walls.append(w)
                self.phases.append(phase)
        return walls

    def metrics(self, walls: list[float]) -> tuple[dict[str, float], dict]:
        def med(series: dict[str, list[float]]) -> float:
            return sum(statistics.median(v) for v in series.values())

        every = [w for v in self.walls.values() for w in v]
        m = {
            "pass_s": med(self.walls),
            "turns_per_s": self.n_docs / statistics.median(self.walls[EXTRACT_LEAF] + self.extract_s),
            "fixed_cost_s": statistics.median(self.fixed_cost_s),
            "pass_cpu_s": med(self.cpu),
            # the leaf's Python-worker CPU: its JVM side is mostly the
            # background threads' noise at this size
            "turns_per_cpu_s": self.n_docs / statistics.median(self.extract_py_cpu_s),
            "fixed_cost_cpu_s": statistics.median(self.fixed_cost_cpu_s),
        }
        detail = {
            "pass_s": {**quartiles(walls), "reported": "sum of per-query medians"},
            "query_s": {q: quartiles(v) for q, v in self.walls.items()},
            "query_cpu_s": {q: quartiles(v) for q, v in self.cpu.items()},
            "step_s": {**quartiles(every), "which": "one query"},
            "fixed_cost_s": quartiles(self.fixed_cost_s),
            "fixed_cost_cpu_s": quartiles(self.fixed_cost_cpu_s),
            "extract_leaf_python_cpu_s": quartiles(self.extract_py_cpu_s),
            "sf": 0.01,
            "documents": self.n_docs,
        }
        return m, detail

    def query_metrics(self) -> dict[str, float]:
        out = {f"query.{q}_s": statistics.median(v) for q, v in self.walls.items()}
        out["query.floor_s"] = statistics.median(self.fixed_cost_s)
        return out

    def lane_table(self):
        import pyarrow as pa
        import pyarrow.parquet as pq

        d = pq.read_table(self.input.path("documents"), columns=["doc_id", "text"])
        n = d.num_rows
        return pa.table(
            {
                "conv_id": pa.array([f"doc-{i}" for i in d.column("doc_id").to_pylist()]),
                "turn_idx": pa.array([0] * n, pa.int32()),
                "role": pa.array(["user"] * n),
                "ts": pa.nulls(n, pa.timestamp("us", tz="UTC")),
                "text": d.column("text"),
            }
        )
