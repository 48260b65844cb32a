"""Scaling-efficiency measurement: the same extraction job on the same input
at local[low] vs local[high], interleaved for noisy shared-tenant hosts.

Running all low-level passes, then all high-level passes puts the two
levels minutes apart, so on a host with bursty co-tenants they often
sample DIFFERENT noise regimes and the ratio is garbage (round-4 window E,
local[8] vs local[32]: the 8-core phase ran quiet, a burst arrived for the
32-core phase, and the "efficiency" read 0.53 despite nothing changing in
the engine).

This harness keeps BOTH pinned JVMs alive and alternates single timed
passes: pass i at local[low] is immediately followed by pass i at
local[high], so each PAIR shares (approximately) one noise regime and
yields its own efficiency estimate. Reported: per-pair efficiencies, their
max/median, and the classic best-of-N ratio — all raw samples printed.

The levels default to N/4 and N, N = the cores this process may run on
(what ``nproc`` prints). Each worker is pinned to the first ``cores`` of
them; they never run simultaneously (the driver strictly alternates), the
idle JVM costs only parked threads.

Usage:  python bench/scaling_interleaved.py [--pairs 6] [--low L --high H]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

WARMUPS = 7
# the cores this process may run on, lowest first (what `nproc` counts)
CPUS = sorted(os.sched_getaffinity(0))

WORKER = r"""
import json, sys, time
sys.path.insert(0, {repo!r})
from tika_addons_spark.session import get_spark
from tika_addons_spark.operators.extract import extract_turns
from tika_addons_spark.plans.pipeline import salted_repartition

cores = int(sys.argv[1]); path = sys.argv[2]; warmups = int(sys.argv[3])
spark = get_spark(app_name=f"scale-il-{{cores}}", master=f"local[{{cores}}]")
df = spark.read.parquet(path).persist()
n = df.count()
job = extract_turns(salted_repartition(df, cores * 2))
for _ in range(warmups):
    job.count()
print("READY", flush=True)
for line in sys.stdin:
    if line.strip() != "run":
        break
    t0 = time.time()
    assert job.count() == n
    print("RATE " + json.dumps(n / (time.time() - t0)), flush=True)
"""


class _Worker:
    def __init__(self, cores: int, path: str):
        self.cores = cores
        self.proc = subprocess.Popen(
            ["taskset", "-c", ",".join(map(str, CPUS[:cores])), sys.executable, "-c",
             WORKER.format(repo=REPO), str(cores), path, str(WARMUPS)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )

    def wait_ready(self) -> None:
        for line in self.proc.stdout:
            if line.startswith("READY"):
                return
        raise RuntimeError(f"worker {self.cores} died during warmup")

    def run_once(self) -> float:
        self.proc.stdin.write("run\n")
        self.proc.stdin.flush()
        for line in self.proc.stdout:
            if line.startswith("RATE "):
                return float(line[5:])
        raise RuntimeError(f"worker {self.cores} died mid-run")

    def close(self) -> None:
        try:
            self.proc.stdin.close()
            self.proc.wait(timeout=30)
        except Exception:
            self.proc.kill()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pairs", type=int, default=6)
    ap.add_argument("--n-convs", type=int, default=160_000)
    ap.add_argument("--low", type=int, default=max(1, len(CPUS) // 4))
    ap.add_argument("--high", type=int, default=len(CPUS))
    # opportunistic mode: wait out co-tenant bursts — fire a pair only when
    # the 1-min load is below --load-threshold, sleeping otherwise, until
    # --pairs clean pairs are collected or --max-minutes elapses. On a host
    # with ~30-min bursts this is the only way a 20-second measurement ever
    # lands in a genuinely quiet regime.
    ap.add_argument("--opportunistic", action="store_true")
    ap.add_argument("--load-threshold", type=float, default=1.5)
    ap.add_argument("--max-minutes", type=float, default=45)
    args = ap.parse_args()

    cache = os.path.join(REPO, ".bench", f"transcripts_{args.n_convs}.parquet")
    if not os.path.exists(cache):
        from tika_addons_spark.fixtures import generate_transcripts_spark
        from tika_addons_spark.session import get_spark

        spark = get_spark(app_name="gen", master=f"local[{len(CPUS)}]")
        os.makedirs(os.path.dirname(cache), exist_ok=True)
        generate_transcripts_spark(spark, args.n_convs, seed=42).write.mode(
            "overwrite"
        ).parquet(cache)
        spark.stop()

    # warm the low worker first (it only needs its own cores), then high
    lo = _Worker(args.low, cache)
    lo.wait_ready()
    hi = _Worker(args.high, cache)
    hi.wait_ready()

    import time

    pairs = []
    deadline = time.time() + args.max_minutes * 60
    i = 0
    while len(pairs) < args.pairs:
        if args.opportunistic:
            if time.time() > deadline:
                break
            load_now = os.getloadavg()[0]
            if load_now > args.load_threshold:
                time.sleep(20)
                continue
        load_before = round(os.getloadavg()[0], 1)
        r_lo = lo.run_once()
        r_hi = hi.run_once()
        load1 = round(os.getloadavg()[0], 1)
        eff = (r_hi / r_lo) / (args.high / args.low)
        pairs.append(
            {"pair": i, "r_low": round(r_lo), "r_high": round(r_hi),
             "eff": round(eff, 3), "load_before": load_before, "load1": load1}
        )
        print(json.dumps(pairs[-1]), flush=True)
        i += 1
        if args.opportunistic:
            time.sleep(45)  # let OUR own contribution to load1 decay
    lo.close()
    hi.close()
    if not pairs:
        print(json.dumps({"pairs": [], "note": "no quiet window found"}))
        return

    effs = [p["eff"] for p in pairs]
    best_ratio = (max(p["r_high"] for p in pairs) / max(p["r_low"] for p in pairs)) / (
        args.high / args.low
    )
    summary = {
        "pairs": pairs,
        "eff_per_pair_max": max(effs),
        "eff_per_pair_median": round(statistics.median(effs), 3),
        "eff_best_of_n": round(best_ratio, 3),
    }
    print(json.dumps(summary))
    out = os.path.join(REPO, "BENCH", "SCALING_INTERLEAVED.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        json.dump(summary, f, indent=1)


if __name__ == "__main__":
    main()
