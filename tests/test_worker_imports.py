"""The package does not import pandas: importing every package module, and
extracting one archive turn of each MIME the archive lane takes, must leave
pandas unloaded. Every UDF takes and returns Arrow batches; the only pandas
use left is the function-local import in ``dedup._hash_strings``. Runs in a
fresh interpreter (no Spark session), so nothing the test process already
imported can hide an import. This checks the package's own imports only:
pyarrow itself imports pandas, when installed, on its first ``pa.array``
call, so a Spark worker that builds Arrow arrays still loads it."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WORKER = r"""
import base64, importlib, pkgutil, sys

import tika_addons_spark
from tika_addons_spark.functions import sniff

for m in pkgutil.walk_packages(tika_addons_spark.__path__, "tika_addons_spark."):
    importlib.import_module(m.name)
assert "pandas" not in sys.modules, "importing the package loaded pandas"

from tika_addons_spark.operators import binarchive, lz4f, lzc, sevenz, snappyf
from tika_addons_spark.oracle import extract_one

inner = binarchive.make_zip([("m.txt", b"member text here")])
turns = {
    sniff.DATA_URI_ZIP: inner,
    sniff.DATA_URI_GZIP: binarchive.make_gzip(b"wrapped body text"),
    sniff.DATA_URI_7Z: sevenz.make_7z([("t.txt", b"seven zip member")]),
    sniff.DATA_URI_COMPRESS: lzc.compress(inner),
    sniff.DATA_URI_LZ4: lz4f.compress(inner),
    sniff.DATA_URI_SNAPPY: snappyf.compress(inner),
}
for prefix, data in turns.items():
    out = extract_one(prefix + base64.b64encode(data).decode())
    assert out["parse_status"] == "valid", (prefix, out["parse_status"])
    assert "pandas" not in sys.modules, f"an archive turn ({prefix}) loaded pandas"
print("OK", len(turns))
"""


def test_package_and_archive_lane_do_not_load_pandas():
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, env.get("PYTHONPATH")) if p
    )
    out = subprocess.run(
        [sys.executable, "-c", WORKER],
        capture_output=True, text=True, timeout=120, cwd=REPO, env=env,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.split() == ["OK", "6"], out.stdout
