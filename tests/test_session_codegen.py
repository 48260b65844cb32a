"""What ``session.get_spark`` configures, checked against the running JVM.

- Spark's cache of generated classes holds the declared queries' working
  set, so a second pass over the benchmark's suite compiles nothing.
- The default ``local[N]`` follows the CPUs the process may run on.
- The default driver heap is at most half the host's RAM, and
  ``SPARK_DRIVER_MEM`` overrides it.
- Every ``spark.sql.*`` key ``get_spark`` sets is one Spark knows, and the
  built session carries the value it was given: Spark accepts any key
  without complaint, so a misspelt key would be a silent no-op.
"""

from __future__ import annotations

import ast
import json
import os
import subprocess
import sys
import time

import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from perfbench.suite import BENCH_QUERIES
from tika_addons_spark import session

SF_DIR = "/root/testdata/sf0.001"


def _compiled_classes(spark) -> int:
    """Janino compilations in this JVM so far (Spark's own counter)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def test_suite_second_round_compiles_nothing(spark):
    """With Spark's 100-entry default the second round recompiled 61–76 of
    the suite's ~122 generated classes; the cache now keeps them all."""
    c0 = _compiled_classes(spark)
    # a literal no earlier plan had is new generated source: the counter counts
    _noop(spark.range(3).select((F.col("id") + time.time_ns()).alias("x")))
    assert _compiled_classes(spark) > c0

    qmap = entry_mod.queries()
    for q in BENCH_QUERIES:
        _noop(qmap[q](spark, SF_DIR))
    c0 = _compiled_classes(spark)
    for q in BENCH_QUERIES:
        _noop(qmap[q](spark, SF_DIR))
    assert _compiled_classes(spark) - c0 == 0


class _RecordingBuilder:
    """Stands in for ``SparkSession.builder``: records what ``get_spark``
    asks for and hands back ``session`` (no JVM is started for it)."""

    def __init__(self, session):
        self.conf: dict[str, str] = {}
        self.session = session

    def master(self, m):
        self.conf["spark.master"] = m
        return self

    def appName(self, name):
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return self.session


_CHILD = """
import json, os, sys
from pyspark.sql import SparkSession
from tika_addons_spark import session

class B:
    conf = {}
    def master(self, m): B.conf["master"] = m; return self
    def appName(self, n): return self
    def config(self, k, v): return self
    def getOrCreate(self): raise SystemExit

SparkSession.builder = B()
os.sched_setaffinity(0, {min(os.sched_getaffinity(0))})
out = {}
for case, env, kw in [("pinned", {}, {}),
                      ("env", {"SPARK_GRAFT_CPUS": "3"}, {}),
                      ("explicit", {}, {"master": "local[2]"})]:
    os.environ.pop("SPARK_GRAFT_CPUS", None)
    os.environ.update(env)
    try:
        session.get_spark(**kw)
    except SystemExit:
        pass
    out[case] = B.conf["master"]
print(json.dumps(out))
"""


@pytest.mark.skipif(not hasattr(os, "sched_setaffinity"), reason="no CPU affinity API")
def test_default_master_follows_cpu_affinity():
    """A process pinned to one CPU gets ``local[1]``, not one task slot
    per host CPU; ``SPARK_GRAFT_CPUS`` and an explicit master still win."""
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_GRAFT_CPUS", "SPARK_MASTER")}
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env["PYTHONPATH"] = os.pathsep.join(filter(None, [root, env.get("PYTHONPATH")]))
    out = subprocess.run([sys.executable, "-c", _CHILD], env=env, cwd=root,
                         capture_output=True, text=True, timeout=120, check=True)
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got == {"pinned": "local[1]", "env": "local[3]", "explicit": "local[2]"}


def _sql_keys_in_get_spark() -> set[str]:
    """Every ``spark.sql.*`` key literal passed to ``.config(...)`` in the
    body of ``get_spark``, conditional branches included."""
    with open(session.__file__, encoding="utf-8") as f:
        module = ast.parse(f.read())
    (tree,) = (n for n in module.body
               if isinstance(n, ast.FunctionDef) and n.name == "get_spark")
    return {
        node.args[0].value
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "config"
        and node.args
        and isinstance(node.args[0], ast.Constant)
        and isinstance(node.args[0].value, str)
        and node.args[0].value.startswith("spark.sql.")
    }


def test_session_sql_keys_are_registered_and_applied(spark, monkeypatch):
    keys = _sql_keys_in_get_spark()
    assert "spark.sql.codegen.cache.maxEntries" in keys

    sql_conf = getattr(spark._jvm.org.apache.spark.sql.internal, "SQLConf$")
    registry = sql_conf.__getattr__("MODULE$")
    assert not registry.containsConfigKey("spark.sql.codegen.cache.maxEntrie")
    unknown = sorted(k for k in keys if not registry.containsConfigKey(k))
    assert unknown == []

    # the values get_spark gives, for the arguments the spark fixture uses
    rec = _RecordingBuilder(spark)
    monkeypatch.setattr(SparkSession, "builder", rec)
    assert session.get_spark(app_name="tests", master="local[4]",
                             shuffle_partitions=4) is spark
    assert keys <= rec.conf.keys()
    assert {k: spark.conf.get(k) for k in keys} == {k: rec.conf[k] for k in keys}


def test_default_driver_memory_fits_the_host(spark, monkeypatch):
    """A 32g default heap on a 16 GB host let the test JVM grow until the
    kernel's OOM killer took it."""
    rec = _RecordingBuilder(spark)
    monkeypatch.setattr(SparkSession, "builder", rec)
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    session.get_spark(app_name="tests", master="local[4]", shuffle_partitions=4)
    value = rec.conf["spark.driver.memory"]
    units = {"k": 1024, "m": 1024**2, "g": 1024**3, "t": 1024**4}
    ram = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    assert 0 < int(value[:-1]) * units[value[-1].lower()] <= ram // 2

    monkeypatch.setenv("SPARK_DRIVER_MEM", "3g")
    session.get_spark(app_name="tests", master="local[4]", shuffle_partitions=4)
    assert rec.conf["spark.driver.memory"] == "3g"
