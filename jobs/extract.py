"""CLI entry point: spark-submit --py-files engine.zip jobs/extract.py ...

Mirrors the reference's config lifecycle (``batchlite/.../ConfigSrc.java``:
srcRoot/targRoot/writer/numThreads as args) in Spark terms: source table,
target table, checkpoint table, run id, bucket/wave/parallelism knobs.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

# allow `python jobs/extract.py` from anywhere; under spark-submit the
# engine ships via --py-files and this is a no-op
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tika_addons_spark.plans.pipeline import run_extraction  # noqa: E402
from tika_addons_spark.session import get_spark  # noqa: E402


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="transcript extraction job")
    p.add_argument("--source", required=True, help="transcripts table/path")
    p.add_argument("--target", required=True, help="extracted table/path")
    p.add_argument("--checkpoint", required=True, help="checkpoint table/path")
    p.add_argument("--run-id", required=True)
    p.add_argument("--n-buckets", type=int, default=32)
    p.add_argument("--n-waves", type=int, default=1)
    p.add_argument("--n-partitions", type=int, default=None)
    p.add_argument(
        "--dedup-target",
        default=None,
        help="optional near-dup stage output table/path (runs after all "
        "waves commit; resumable via its own checkpoint key)",
    )
    p.add_argument("--master", default=None)
    p.add_argument(
        "--profile",
        action="store_true",
        help="run Spark's Python UDF profiler "
        "(spark.sql.pyspark.udf.profiler=perf) and print spark.profile.show() "
        "after the run. It profiles only the UDF body: the Python worker's "
        "set-up before each task (e.g. importlib.invalidate_caches) does not "
        "show in it",
    )
    args = p.parse_args(argv)
    if args.n_buckets < 1 or args.n_waves < 1:
        p.error("--n-buckets and --n-waves must be >= 1")

    spark = get_spark(app_name=f"extract-{args.run_id}", master=args.master)
    if args.profile:
        spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
    t0 = time.time()
    stats = run_extraction(
        spark,
        args.source,
        args.target,
        args.checkpoint,
        run_id=args.run_id,
        n_buckets=args.n_buckets,
        n_waves=args.n_waves,
        n_partitions=args.n_partitions,
        dedup_target=args.dedup_target,
    )
    stats["elapsed_sec"] = round(time.time() - t0, 2)
    print(json.dumps(stats))
    if args.profile:
        spark.profile.show(type="perf")
    return 0


if __name__ == "__main__":
    sys.exit(main())
