"""The ``job_mixed`` workload: the extraction job, driven through
``plans.pipeline.run_extraction`` exactly as the product runs it."""

from __future__ import annotations

import datetime as dt
import os
import random
import shutil
import statistics
import time

import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from tika_addons_spark.oracle import extract_one
from tika_addons_spark.operators.extract import extract_turns
from tika_addons_spark.plans import pipeline
from tika_addons_spark.schema import CHECKPOINT_SCHEMA
from tika_addons_spark.sources import catalog

from . import host, inputs
from .harness import Failures, dir_bytes, fresh_dir, noop, quartiles, timed

N_CONVS = {"full": 2000, "tiny": 80}
N_BUCKETS = 16
CHECK_SAMPLE = 2000  # turns compared against oracle.extract_one per run
NO_OP_REPS = 2  # re-invocations of each completed run_id; one takes ~0.25 s
# a job pass varies by ~15% (task stragglers on 4 cores, GC): time at
# least three and report the median
MIN_PASSES = 3
WARM_PASSES = 2


def _epoch(ts: dt.datetime) -> float:
    """Spark stores UTC instants; a naive value read back is UTC too."""
    if ts.tzinfo is None:
        ts = ts.replace(tzinfo=dt.timezone.utc)
    return ts.timestamp()


def _rows(target: str) -> int:
    return ds.dataset(target, format="parquet", partitioning="hive").count_rows()


class JobWorkload:
    name = "job_mixed"

    def __init__(self, work: str, cache: str, seed: int, scale: str, cores: int):
        self.work = work
        self.cores = cores
        self.cache = cache
        self.seed = seed
        self.n_convs = N_CONVS[scale]
        self.cpu_s: list[float] = []
        self.fixed_cost_s: list[float] = []
        self.fixed_cost_cpu_s: list[float] = []
        self.wave_s: list[float] = []
        self.phases: list[str] = []
        self.last_target: str | None = None
        self._n = 0

    # -- inputs -----------------------------------------------------------
    def prepare(self) -> bool:
        ci, generated = inputs.mixed_transcripts(self.cache, self.seed, self.n_convs, self.cores)
        self.src = ci.path("transcripts")
        self.n_turns = ci.manifest["files"]["transcripts.parquet"]["rows"]
        self.text_bytes = ci.manifest["text_bytes"]
        return generated

    def locate(self, spark) -> None:
        catalog.read_transcripts(spark, self.src).schema  # resolves the scan

    def _paths(self) -> tuple[str, str, str]:
        self._n += 1
        base = fresh_dir(os.path.join(self.work, "job", f"p{self._n}"))
        return base + "/out", base + "/ckpt", f"run-{self._n}"

    def _no_op_rerun(self, spark, target, ckpt, run_id, fails: Failures) -> float:
        """Re-invoke a completed run_id; it must extract nothing. Buckets no
        conversation hashes to never get a checkpoint row and are visited
        again, empty."""
        t0 = time.perf_counter()
        again = pipeline.run_extraction(spark, self.src, target, ckpt, run_id, n_buckets=N_BUCKETS)
        wall = time.perf_counter() - t0
        fails.check(
            not again["killed"] and again.get("n_turns", 0) == 0,
            f"{self.name}: re-invoking completed {run_id} redid {again}",
        )
        return wall

    # -- untimed warm pass -------------------------------------------------
    def warm_pass(self, spark, fails: Failures) -> None:
        """Two untimed passes over the full input: the first pays codegen
        and Python worker start-up; without the second, the JIT still
        compiles during the first timed pass (~1.5x its CPU)."""
        for i in range(WARM_PASSES):
            self.run_pass(spark, fails, f"warm{i}")

    # -- one timed pass ---------------------------------------------------
    def run_pass(self, spark, fails: Failures, phase: str) -> float | None:
        """One real extraction into a fresh target, checkpoint and run_id.
        Returns its wall time, or None if it failed."""
        target, ckpt, run_id = self._paths()
        spark.sparkContext.setJobDescription(f"pb:{phase}")
        try:
            c0 = host.tree_cpu_s()
            t0 = time.time()
            res = pipeline.run_extraction(spark, self.src, target, ckpt, run_id, n_buckets=N_BUCKETS)
            t1 = time.time()
            cpu = host.tree_cpu_s() - c0
        except Exception:
            fails.exception(f"{self.name} pass {self._n}")
            return None
        finally:
            spark.sparkContext.setJobDescription(None)
        # -- outside the timed region: checks, wave wall, no-op re-run -----
        ok = fails.check(
            res["completed_buckets"] == N_BUCKETS and not res["killed"],
            f"{self.name}: completed {res['completed_buckets']}/{N_BUCKETS}",
        )
        ok &= fails.check(
            res.get("n_turns") == self.n_turns,
            f"{self.name}: observed {res.get('n_turns')} turns, input {self.n_turns}",
        )
        rows = _rows(target)
        ok &= fails.check(rows == self.n_turns, f"{self.name}: {rows} output rows, input {self.n_turns}")
        # the wave's wall starts at its checkpoint started_ts, after the
        # input scan is planned and completed_keys is read
        t = pq.read_table(ckpt, columns=["started_ts"]).column("started_ts").to_pylist()
        self.wave_s.append(t1 - _epoch(min(t)))
        c0 = host.tree_cpu_s()
        self.fixed_cost_s.extend(
            self._no_op_rerun(spark, target, ckpt, run_id, fails)
            for _ in range(NO_OP_REPS)
        )
        self.fixed_cost_cpu_s.append((host.tree_cpu_s() - c0) / NO_OP_REPS)
        if self.last_target:  # keep only the newest output on disk
            shutil.rmtree(os.path.dirname(self.last_target), ignore_errors=True)
        self.last_target = target
        if not ok:
            return None
        self.cpu_s.append(cpu)
        return t1 - t0

    def timed_passes(self, spark, fails: Failures, seconds: float, tag: str) -> list[float]:
        walls, spent = [], 0.0
        self.wave_s, self.fixed_cost_s, self.phases = [], [], []
        self.cpu_s, self.fixed_cost_cpu_s = [], []
        while spent < seconds or len(walls) < MIN_PASSES:
            phase = f"{tag}{len(self.phases)}"
            w = self.run_pass(spark, fails, phase)
            if w is None:
                break
            spent += w
            walls.append(w)
            self.phases.append(phase)
        return walls

    # -- correctness against the per-turn spec ----------------------------
    def check(self, fails: Failures) -> int:
        """Compare (extracted_text, parse_status, spans, content type) of a
        seeded sample of the last pass's output turns with
        ``oracle.extract_one``. Returns the number of turns compared."""
        src = pq.read_table(self.src, columns=["conv_id", "turn_idx", "text"])
        keys = list(zip(src.column("conv_id").to_pylist(), src.column("turn_idx").to_pylist()))
        n = min(CHECK_SAMPLE, len(keys))
        want = {keys[i]: i for i in random.Random(self.seed).sample(range(len(keys)), n)}
        out = ds.dataset(self.last_target, format="parquet", partitioning="hive").to_table(
            columns=["conv_id", "turn_idx", "extracted_text", "parse_status", "spans",
                     "detected_content_type"]
        )
        got = {}
        for r in out.to_pylist():
            k = (r["conv_id"], r["turn_idx"])
            if k in want:
                fails.check(k not in got, f"{self.name}: duplicate output turn {k}")
                got[k] = r
        texts = src.column("text")
        for k, i in want.items():
            o = extract_one(texts[i].as_py())
            r = got.get(k)
            fails.check(
                r is not None
                and r["extracted_text"] == o["extracted_text"]
                and r["parse_status"] == o["parse_status"]
                and r["detected_content_type"] == o["detected_content_type"]
                and [(s["kind"], s["start"], s["end"]) for s in (r["spans"] or [])]
                == [(s["kind"], s["start"], s["end"]) for s in o["spans"]],
                f"{self.name}: turn {k} differs from oracle.extract_one",
            )
        return n

    # -- per-layer probes (traced session) --------------------------------
    def probes(self, spark) -> dict[str, float]:
        sc = spark.sparkContext
        n_part = sc.defaultParallelism
        reps = 3

        def src():
            return catalog.read_transcripts(spark, self.src)

        def layout():
            return pipeline.bucket_salted_repartition(
                pipeline.with_bucket(src(), N_BUCKETS), n_part, N_BUCKETS
            )

        out = {}
        sc.setJobDescription("pb:probe.scan")
        out["catalog.scan_s"] = statistics.median(timed(lambda: noop(src())) for _ in range(reps))
        sc.setJobDescription("pb:probe.exchange")
        exch = statistics.median(timed(lambda: noop(layout())) for _ in range(reps))
        out["pipeline.exchange_s"] = exch - out["catalog.scan_s"]
        parts = (
            layout()
            .groupBy(F.spark_partition_id().alias("p"))
            .agg(F.count("*").alias("rows"), F.sum(F.octet_length("text")).alias("bytes"))
            .collect()
        )
        rows = [r["rows"] for r in parts]
        nbytes = [r["bytes"] or 0 for r in parts]
        out["pipeline.partition_rows_max_over_mean"] = max(rows) / (sum(rows) / n_part)
        out["pipeline.partition_bytes_max_over_mean"] = max(nbytes) / (sum(nbytes) / n_part)

        sc.setJobDescription("pb:probe.write")
        wave = pipeline.with_bucket(extract_turns(layout()), N_BUCKETS).persist()
        wave.count()
        walls = []
        for i in range(reps):
            target = fresh_dir(os.path.join(self.work, "probe", f"w{i}"))
            walls.append(timed(lambda: catalog.write_extracted(wave, target)))
        wave.unpersist()
        out["catalog.write_s"] = statistics.median(walls)

        sc.setJobDescription("pb:probe.checkpoint")
        ckpt = fresh_dir(os.path.join(self.work, "probe", "ckpt"))
        now = dt.datetime.now(dt.timezone.utc)
        rows_df = spark.createDataFrame(
            [("probe", f"bucket={b}", "completed", 1, 1, 1, 0, {}, now, now)
             for b in range(N_BUCKETS)],
            CHECKPOINT_SCHEMA,
        )
        out["catalog.append_checkpoint_s"] = statistics.median(
            timed(lambda: catalog.append_checkpoint(rows_df, ckpt)) for _ in range(reps)
        )
        out["catalog.completed_keys_s"] = statistics.median(
            timed(lambda: catalog.completed_keys(spark, ckpt, "probe").collect())
            for _ in range(reps)
        )
        sc.setJobDescription(None)
        files, size = dir_bytes(self.last_target)
        out["catalog.out_files"] = float(files)
        out["catalog.out_bytes"] = float(size)
        out["catalog.out_bytes_per_in_byte"] = size / self.text_bytes
        out["pipeline.resume_noop_s"] = statistics.median(self.fixed_cost_s)
        return out

    # -- end-to-end metrics -----------------------------------------------
    def metrics(self, walls: list[float]) -> tuple[dict[str, float], dict]:
        med = statistics.median(walls)
        cpu = statistics.median(self.cpu_s)
        m = {
            "pass_s": med,
            "turns_per_s": self.n_turns / med,
            "fixed_cost_s": statistics.median(self.fixed_cost_s),
            "pass_cpu_s": cpu,
            "turns_per_cpu_s": self.n_turns / cpu,
            "fixed_cost_cpu_s": statistics.median(self.fixed_cost_cpu_s),
        }
        detail = {
            "pass_s": quartiles(walls),
            "pass_cpu_s": quartiles(self.cpu_s),
            "fixed_cost_s": {**quartiles(self.fixed_cost_s), "which": "re-invoke a completed run_id"},
            "fixed_cost_cpu_s": quartiles(self.fixed_cost_cpu_s),
            "step_s": {**quartiles(self.wave_s), "which": "one wave"},
            "input_turns": self.n_turns,
            "input_text_bytes": self.text_bytes,
            "buckets": N_BUCKETS,
        }
        return m, detail

    def lane_table(self):
        return pq.read_table(self.src)
