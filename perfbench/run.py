"""One benchmark run of the extraction engine on ``local[<cores>]``.

    python3 perfbench/run.py --workload job_mixed --seed 1 --seconds 3 --trace 0

Workloads: job_mixed, query_suite (see perfbench/README.md). The job's
inputs are generated from ``--seed`` and cached under
``.perfbench_cache/`` at the repository root; the suite's tables ship in
``perfbench/data/``. All Spark scratch lives in ``.perfbench_cache/`` and
is removed at the end of the run.

With ``--trace 0`` the last stdout line holds the end-to-end metrics;
with ``--trace 1`` it holds the per-layer metrics, taken from a second,
event-logged session in the same run. The line before it is a detail
record: host facts, sample counts and quartiles, failures.
"""

from __future__ import annotations

import os
import time


def _process_start() -> float:
    """perf_counter() value at this process's start (10 ms resolution)."""
    with open("/proc/self/stat", "rb") as f:
        stat = f.read()
    start_ticks = int(stat[stat.rfind(b")") + 2 :].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.perf_counter() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


T_PROCESS_START = _process_start()

import argparse  # noqa: E402
import json  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("job_mixed", "query_suite")
# Passes are counted in CPU seconds: on a shared VM the hypervisor's steal
# moved their wall time by up to 1.6x an hour apart. The wall-time twin of
# each figure, and the fixed cost of one action, are in the detail record.
END_TO_END = {
    "setup_s": "s",
    "pass_cpu_s": "cpu_s",
    "turns_per_cpu_s": "turns/cpu_s",
    "worker_rss_mb": "MB",
}


def per_layer_units() -> dict[str, str]:
    from perfbench import lanes, ledger, suite

    units = {"session.get_spark_s": "s", "session.jvm_peak_rss_mb": "MB"}
    units.update(
        {
            "catalog.scan_s": "s",
            "catalog.write_s": "s",
            "catalog.append_checkpoint_s": "s",
            "catalog.completed_keys_s": "s",
            "catalog.out_files": "count",
            "catalog.out_bytes": "bytes",
            "catalog.out_bytes_per_in_byte": "ratio",
            "pipeline.exchange_s": "s",
            "pipeline.resume_noop_s": "s",
            "pipeline.partition_rows_max_over_mean": "ratio",
            "pipeline.partition_bytes_max_over_mean": "ratio",
        }
    )
    for lane in lanes.LANES:
        units[f"extract.lane.{lane}.us_per_row"] = "us/row"
        units[f"extract.lane.{lane}.rows"] = "count"
    units["extract.mixed.us_per_row"] = "us/row"
    for name in ledger.LEDGER_METRICS:
        units[name] = (
            "count" if name in ("spark.stages", "spark.tasks")
            else "bytes" if name.endswith("_bytes") else "s"
        )
    for q in suite.BENCH_QUERIES:
        units[f"query.{q}_s"] = "s"
    units["query.floor_s"] = "s"
    units["trace.turns_per_s_delta"] = "turns/s"
    units["trace.pass_s_delta"] = "s"
    return units


def _isolate(work: str) -> None:
    """Keep every temporary file of this run, Python's and the JVM's,
    inside the run's work directory, and let Spark's Python workers
    import the engine from the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    # a modest heap: the host is shared and the inputs are small
    os.environ.setdefault("SPARK_DRIVER_MEM", "4g")


def run(args, work: str, cache: str) -> tuple[dict, dict]:
    import pyarrow
    import pyspark

    from perfbench import host, lanes, ledger
    from perfbench.harness import Failures, Sessions, noop
    from perfbench.jobs import JobWorkload
    from perfbench.suite import QuerySuite

    cores = host.cores()
    env = {
        "cores": cores,
        "load1_start": host.load1(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": sys.version.split()[0],
        "driver_memory": os.environ["SPARK_DRIVER_MEM"],
        "local_dir": "inside the checkout (pinned by the benchmark)",
        "get_spark_would_use_dev_shm": host.shm_would_be_used(),
    }
    if args.workload == "query_suite":
        w = QuerySuite()
    else:
        w = JobWorkload(work, cache, args.seed, args.scale, cores)
    fails = Failures()

    # inputs are generated (or validated) before the JVM launches; that
    # time is not set-up time
    t0 = time.perf_counter()
    env["inputs_generated"] = w.prepare()
    env["inputs_prepared_s"] = prepare_s = time.perf_counter() - t0

    sessions = Sessions(work, cores)
    phase_s: dict[str, float] = {}
    detail: dict = {"env": env, "phase_s": phase_s}

    def lap(name: str, t0: float) -> float:
        now = time.perf_counter()
        phase_s[name] = phase_s.get(name, 0.0) + now - t0
        return now

    try:
        # set-up, once and cold: from process start until the session is
        # ready, the inputs are located and the warm pass is done. The
        # warm pass runs every plan once, so Python worker start-up, JIT
        # and codegen are paid here and not in the timed passes.
        t = time.perf_counter()
        spark = sessions.start()
        t = lap("get_spark", t)
        w.locate(spark)
        noop(spark.range(1))
        t = lap("locate", t)
        w.warm_pass(spark, fails)
        t = lap("warm_pass", t)
        setup_s = t - T_PROCESS_START - prepare_s
        ticks = host.cpu_ticks()
        with host.RssSampler() as rss:
            walls = w.timed_passes(spark, fails, args.seconds, "pass")
        env["steal_share_timed"] = host.steal_share(ticks, host.cpu_ticks())
        if not walls:
            raise RuntimeError(f"no timed pass succeeded: {fails.messages}")
        t = lap("timed_passes", t)
        detail["checked"] = w.check(fails)
        t = lap("check", t)
        e2e, detail["passes"] = w.metrics(walls)
        e2e["setup_s"] = setup_s
        # the JVM's RSS follows G1's heap sizing, which varied by 1.6x over
        # identical runs; the Python workers' RSS follows the engine's code
        peak = rss.peak_by_command
        e2e["worker_rss_mb"] = sum(mb for c, mb in peak.items() if c.startswith("python"))
        detail["rss"] = {"samples": rss.samples, "peak_mb_by_command": peak}
        detail["figures"] = e2e  # the bounded metrics and their wall-time twins

        if not args.trace:
            metrics = {k: (e2e[k], u) for k, u in END_TO_END.items()}
        else:
            log_dir = os.path.join(work, "eventlog")
            spark = sessions.start(ledger.event_log_conf(log_dir))
            w.warm_pass(spark, fails)
            traced = w.timed_passes(spark, fails, args.seconds, "tpass")
            if not traced:
                raise RuntimeError(f"no traced pass succeeded: {fails.messages}")
            traced_e2e, _ = w.metrics(traced)
            layer = w.probes(spark) if isinstance(w, JobWorkload) else w.query_metrics()
            sessions.stop()  # flushes the event log
            layer.update(ledger.pass_ledger(ledger.read_event_log(log_dir), w.phases, traced))
            layer.update(lanes.lane_metrics(w.lane_table()))
            layer["session.get_spark_s"] = sessions.get_spark_s[0]  # the cold one
            layer["session.jvm_peak_rss_mb"] = peak.get("java", 0.0)
            layer["trace.turns_per_s_delta"] = traced_e2e["turns_per_s"] - e2e["turns_per_s"]
            layer["trace.pass_s_delta"] = traced_e2e["pass_s"] - e2e["pass_s"]
            units = per_layer_units()
            detail["not_exercised"] = sorted(set(units) - set(layer))
            metrics = {k: (float(layer.get(k, 0.0)), u) for k, u in units.items()}
            t = lap("trace", t)
    finally:
        t = time.perf_counter()
        killed = sessions.stop()
        lap("stop", t)
        env["load1_end"] = host.load1()
        env["killed_leftover_processes"] = len(killed)
    detail["fail_ratio"] = fails.failed / max(1, fails.attempted)
    detail["failures"] = fails.messages
    result = {
        "correct": fails.failed == 0,
        "attempted": fails.attempted,
        "failed": fails.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, detail


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full",
                   help="job input size; tiny is for the smoke run")
    args = p.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import __spark_entry__  # noqa: F401
        import tika_addons_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    cache_root = os.path.join(ROOT, ".perfbench_cache")
    work = os.path.join(cache_root, f"run-{os.getpid()}")
    _isolate(work)
    try:
        result, detail = run(args, work, os.path.join(cache_root, "inputs"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"perfbench_detail": {"workload": args.workload, "seed": args.seed,
                                           "trace": args.trace, **detail}}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
