"""FIXTURES.md §6: identical extraction output across master parallelism
levels (local[2] vs local[8]) — each level in its own JVM subprocess, results
compared by a content digest over the full sorted output."""

from __future__ import annotations

import os
import subprocess
import sys

# This checkout, not a fixed path: the worker and Spark's Python workers
# (which put their working directory first on sys.path) must import the
# engine under test.
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WORKER = r"""
import sys, hashlib
sys.path.insert(0, sys.argv[3])
from tika_addons_spark.session import get_spark
from tika_addons_spark.operators.extract import extract_turns
from tika_addons_spark.plans.pipeline import salted_repartition

master, src = sys.argv[1], sys.argv[2]
spark = get_spark(master=master, shuffle_partitions=4)
df = spark.read.parquet(src)
out = (
    extract_turns(salted_repartition(df, 8))
    .orderBy("conv_id", "turn_idx")
    .select("conv_id", "turn_idx", "extracted_text", "parse_status",
            "detected_content_type", "chars_out")
    .toPandas()
)
h = hashlib.sha256(out.to_csv(index=False).encode()).hexdigest()
print("DIGEST", h, len(out))
"""


def _digest(master: str, src: str) -> tuple[str, str]:
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, env.get("PYTHONPATH")) if p
    )
    out = subprocess.run(
        [sys.executable, "-c", WORKER, master, src, REPO],
        capture_output=True, text=True, timeout=300, env=env, cwd=REPO,
    )
    for line in out.stdout.splitlines():
        if line.startswith("DIGEST"):
            _, h, n = line.split()
            return h, n
    raise AssertionError(f"worker failed: {out.stderr[-2000:]}")


def test_output_identical_across_masters(transcripts_path):
    h2, n2 = _digest("local[2]", transcripts_path)
    h8, n8 = _digest("local[8]", transcripts_path)
    assert n2 == n8
    assert h2 == h8
