"""Smoke run of the benchmark: every workload at tiny size, untraced and
traced. Asserts that each run prints exactly the metrics BENCHMARK.json
names, with their units, and that no operation failed.

    python3 perfbench/smoke.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bad = 0
    for wl in (w["name"] for w in spec["workloads"]):
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", wl,
                   "--seed", "1", "--seconds", "1", "--trace", str(trace), "--scale", "tiny"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
            lines = p.stdout.strip().splitlines()
            problems = []
            if p.returncode != 0 or len(lines) < 2:
                problems.append(f"exit {p.returncode}: {p.stderr[-1500:]}")
            else:
                result = json.loads(lines[-1])
                detail = json.loads(lines[-2])["perfbench_detail"]
                want = {m["name"]: m["unit"] for m in spec[kind]}
                got = {k: v["unit"] for k, v in result["metrics"].items()}
                if got != want:
                    problems.append(f"metrics differ: {sorted(set(got) ^ set(want))}")
                if result["failed"] or detail["fail_ratio"] != 0 or not result["correct"]:
                    problems.append(f"failures: {detail['failures']}")
            print(f"{wl} trace={trace}: {'ok' if not problems else problems}", flush=True)
            bad += bool(problems)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
