"""The north rule's deployment shape, run for real: `spark-submit
--py-files engine.zip jobs/extract.py` in a SUBPROCESS whose working
directory is outside the repo and whose PYTHONPATH does not contain the
repo — so the engine imports MUST resolve from the zip artifact, exactly
as they would on a cluster where only `--py-files` ships the code."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spark_submit() -> str | None:
    home = os.environ.get("SPARK_HOME")
    cands = [os.path.join(home, "bin", "spark-submit")] if home else []
    cands.append(shutil.which("spark-submit") or "")
    import pyspark

    cands.append(os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit"))
    for c in cands:
        if c and os.path.exists(c):
            return c
    return None


@pytest.mark.skipif(_spark_submit() is None, reason="no spark-submit on host")
def test_spark_submit_pyfiles_end_to_end(tmp_path):
    from jobs.package import build_engine_zip
    from tika_addons_spark.fixtures import write_transcripts_parquet

    zip_path = build_engine_zip(str(tmp_path / "engine.zip"))
    # reproducible artifact
    again = build_engine_zip(str(tmp_path / "engine2.zip"))
    assert open(zip_path, "rb").read() == open(again, "rb").read()

    src = write_transcripts_parquet(str(tmp_path / "t.parquet"), n_convs=8, seed=7)
    job = tmp_path / "extract.py"  # copied AWAY from the repo
    shutil.copyfile(os.path.join(REPO, "jobs", "extract.py"), job)

    env = {
        k: v for k, v in os.environ.items()
        if k not in ("PYTHONPATH",)  # the repo must NOT be importable
    }
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    out = subprocess.run(
        [
            _spark_submit(),
            "--master", "local[4]",
            "--py-files", zip_path,
            str(job),
            "--source", src,
            # relative to the job's working directory, as an operator
            # types them: paths, never catalog table names
            "--target", "out",
            "--checkpoint", "ckpt",
            "--run-id", "submit-test",
            "--n-buckets", "4",
        ],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    stats_line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
    stats = json.loads(stats_line)
    assert stats["completed_buckets"] == 4
    assert stats["n_turns"] > 0

    # verify the landed table independently of the job process
    import pyarrow.parquet as pq

    landed = 0
    for dirpath, _dirs, files in os.walk(tmp_path / "out"):
        for f in files:
            if f.endswith(".parquet"):
                landed += pq.read_metadata(os.path.join(dirpath, f)).num_rows
    assert landed == stats["n_turns"]
    assert os.path.isdir(tmp_path / "ckpt")
