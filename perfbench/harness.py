"""Session lifecycle, sample statistics and the failure ledger shared by
the workloads."""

from __future__ import annotations

import os
import shutil
import statistics
import time
import traceback

from pyspark import SparkContext
from pyspark.sql import SparkSession

from tika_addons_spark.session import get_spark

from . import host


def quartiles(values: list[float]) -> dict:
    """Median, quartiles and sample count; never a best-of."""
    v = sorted(values)
    if len(v) >= 2:
        q1, q2, q3 = statistics.quantiles(v, n=4)
    else:
        q1 = q2 = q3 = v[0] if v else None
    return {"n": len(v), "median": statistics.median(v) if v else q2, "q1": q1, "q3": q3}


class Failures:
    """attempted/failed counters; every mismatch or exception counts."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.messages: list[str] = []

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.messages) < 20:
                self.messages.append(what)
        return ok

    def exception(self, what: str) -> None:
        self.check(False, f"{what}: {traceback.format_exc(limit=3)}")


class Sessions:
    """Creates and tears down SparkSessions in one driver JVM. Every
    session keeps its scratch (local dir, JVM temp, warehouse, event log)
    under ``work``."""

    def __init__(self, work: str, cores: int):
        self.work = work
        self.cores = cores
        self.spark: SparkSession | None = None
        self.get_spark_s: list[float] = []
        for sub in ("spark-local", "jvm-tmp", "warehouse"):
            os.makedirs(os.path.join(work, sub), exist_ok=True)

    def conf(self, extra: dict[str, str] | None = None) -> dict[str, str]:
        conf = {
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(self.work, 'jvm-tmp')} -XX:-UsePerfData"
            ),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }
        conf.update(extra or {})
        return conf

    def start(self, extra: dict[str, str] | None = None) -> SparkSession:
        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench", master=f"local[{self.cores}]", extra_conf=self.conf(extra)
        )
        self.get_spark_s.append(time.perf_counter() - t0)
        return self.spark

    def stop(self) -> list[int]:
        """Stop the session, shut the gateway JVM down and wait for every
        child process. Returns pids that had to be killed."""
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            try:
                gw.shutdown()
            except Exception:  # the JVM may already be gone
                pass
            if proc is not None:
                # the gateway JVM exits when its stdin closes
                try:
                    proc.stdin.close()
                except OSError:
                    pass
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        return host.reap_descendants()


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    return path


def dir_bytes(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, ignoring Spark's markers."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


def noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0
