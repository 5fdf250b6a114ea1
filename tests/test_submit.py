"""spark-submit --py-files deployment smoke (north rule: the job ships
as a zip to a cluster; no repo checkout on the workers)."""

from __future__ import annotations

import json
import shutil
import subprocess
import zipfile


def test_spark_submit_py_files_resolves_package(tmp_path):
    """The curation job runs under spark-submit in a FRESH process with
    the engine provided ONLY via --py-files (job script copied outside
    the repo so sys.path tricks can't reach the checkout)."""
    if shutil.which("spark-submit") is None:
        import pytest

        pytest.skip("spark-submit not on PATH")
    z = tmp_path / "engine.zip"
    with zipfile.ZipFile(z, "w") as zf:
        import bitquery_kafka_streams_rust_spark as pkg
        import os

        root = os.path.dirname(os.path.dirname(pkg.__file__))
        for dirpath, _, files in os.walk(os.path.join(root, "bitquery_kafka_streams_rust_spark")):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(dirpath, f)
                    zf.write(full, os.path.relpath(full, root))
    job = tmp_path / "job.py"
    shutil.copy(os.path.join(root, "jobs", "run_curation.py"), job)
    out = subprocess.run(
        [
            "spark-submit", "--master", "local[2]", "--py-files", str(z), str(job),
            "--input", "/root/testdata/sf0.001/documents.parquet",
            "--output", str(tmp_path / "out"),
            "--splits", "train=0.9", "val=0.1",
        ],
        capture_output=True,
        text=True,
        cwd=str(tmp_path),
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    manifest = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(manifest["splits"]) == {"train", "val"}
    assert all(v["n_docs"] > 0 for v in manifest["splits"].values())
