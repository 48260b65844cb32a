"""Hardware-ceiling control for the scaling-efficiency evidence.

Runs the extraction kernel (the SAME `extract_batch_arrow` the Spark job uses)
as a pinned pure-Python process pool over the same bench corpus — no JVM,
no shuffle, no Arrow transfer — at 8 and 32 workers. Whatever 8→32
efficiency THIS shows is the host's own thread-scaling ceiling for the
workload (vCPU frequency scaling, memory bandwidth, hypervisor stealing):
no implementation on this box can beat it.

BENCH/BASELINE.md uses it to decompose the measured Spark efficiency into
hardware-attributable and engine-attributable factors:

    E_spark = (S32 / (4·S8))          measured end-to-end
    H       = (P32 / (4·P8))          this probe: hardware ceiling
    E_engine = E_spark / H            what transfers to a real cluster,
                                      where adding executors adds machines
                                      and per-core resources stay constant

Usage: python bench/hw_ceiling.py  (≈4 min; run on an idle host)
"""
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow.parquet as pq

from tika_addons_spark.operators.extract_arrow import extract_batch_arrow

CORPUS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ".bench",
    "transcripts_160000.parquet",
)
BATCH = 4096

t = pq.read_table(
    CORPUS, columns=["conv_id", "turn_idx", "role", "ts", "text"]
)
n = t.num_rows
batches = t.combine_chunks().to_batches(max_chunksize=BATCH)
print(f"batches: {len(batches)} turns: {n}", flush=True)


def work(idx):
    return extract_batch_arrow(batches[idx]).num_rows


from multiprocessing import get_context  # noqa: E402


def run_level(nproc: int) -> list[float]:
    os.sched_setaffinity(0, set(range(nproc)))
    ctx = get_context("fork")
    rates = []
    with ctx.Pool(nproc) as pool:
        for rep in range(4):  # first pass is warm-up
            t0 = time.time()
            total = sum(pool.map(work, range(len(batches)), chunksize=1))
            dt = time.time() - t0
            assert total == n
            if rep > 0:
                rates.append(n / dt)
    return rates


if __name__ == "__main__":
    r8 = run_level(8)
    print("N8 ", [round(r) for r in r8], flush=True)
    r32 = run_level(32)
    print("N32", [round(r) for r in r32], flush=True)
    print(
        json.dumps(
            {
                "r8_best": round(max(r8)),
                "r32_best": round(max(r32)),
                "hw_ceiling_best": round(max(r32) / max(r8) / 4, 3),
                "hw_ceiling_median": round(
                    sorted(r32)[1] / sorted(r8)[1] / 4, 3
                ),
            }
        )
    )
