"""The spark-submit --py-files artifact: buildable, importable from the zip
alone, reproducible (north_rule launch contract)."""

from __future__ import annotations

import subprocess
import sys
import zipfile


def test_pyfiles_zip_imports_standalone(tmp_path):
    from tools.package_pyfiles import build_zip
    import al_drift_detection_spark

    repo_root = str(
        __import__("pathlib").Path(al_drift_detection_spark.__file__).parent.parent
    )
    out = build_zip(repo_root, str(tmp_path / "engine.zip"))
    names = zipfile.ZipFile(out).namelist()
    assert "al_drift_detection_spark/__init__.py" in names
    assert "al_drift_detection_spark/runner.py" in names
    assert not any(n.startswith(("tests/", "tools/")) for n in names)
    # import the package from the ZIP ONLY, in a clean interpreter — what an
    # executor does after spark-submit ships the archive
    code = (
        "import sys; sys.path.insert(0, sys.argv[1]); "
        "import al_drift_detection_spark.suite, al_drift_detection_spark.kernels; "
        "print('ok')"
    )
    r = subprocess.run(
        [sys.executable, "-c", code, out], capture_output=True, text=True, timeout=60
    )
    assert r.returncode == 0 and r.stdout.strip() == "ok", r.stderr[-500:]


def test_pyfiles_zip_reproducible(tmp_path):
    from tools.package_pyfiles import build_zip
    import al_drift_detection_spark

    repo_root = str(
        __import__("pathlib").Path(al_drift_detection_spark.__file__).parent.parent
    )
    a = build_zip(repo_root, str(tmp_path / "a.zip"))
    b = build_zip(repo_root, str(tmp_path / "b.zip"))
    assert open(a, "rb").read() == open(b, "rb").read()


def test_pyfiles_zip_runs_udfs_on_warm_workers(tmp_path):
    """With the engine importable ONLY from the zip, a get_spark session
    still starts its Python daemon and runs a pandas UDF: on a local master
    the daemon module itself is imported from the archive."""
    import json
    import os

    from tools.package_pyfiles import build_zip
    import al_drift_detection_spark

    repo_root = str(
        __import__("pathlib").Path(al_drift_detection_spark.__file__).parent.parent
    )
    out = build_zip(repo_root, str(tmp_path / "engine.zip"))
    code = """
import json, sys
import pandas as pd
from al_drift_detection_spark.session import get_spark

def probe(batches):
    import al_drift_detection_spark
    for _ in batches:
        pass
    yield pd.DataFrame({"main": [sys.modules["__main__"].__spec__.name],
                        "pkg": [al_drift_detection_spark.__file__]})

spark = get_spark(app_name="zip-probe", master="local[1]")
rows = spark.range(2).mapInPandas(probe, "main string, pkg string").collect()
print(json.dumps([r.asDict() for r in rows]))
spark.stop()
"""
    env = dict(os.environ, PYTHONPATH=out, SPARK_DRIVER_MEM="512m")
    r = subprocess.run(
        [sys.executable, "-c", code], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    rows = json.loads(r.stdout.strip().splitlines()[-1])
    assert rows and all(
        row["main"] == "al_drift_detection_spark.worker_daemon"
        and row["pkg"].startswith(out)
        for row in rows
    ), rows
