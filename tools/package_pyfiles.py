"""Package the engine for `spark-submit --py-files` (north_rule launch mode).

    python tools/package_pyfiles.py [out_zip]        # default dist/engine.zip
    spark-submit --py-files dist/engine.zip \
        al_drift_detection_spark/runner.py --images ... --out ...

The zip contains the pure-python package only (no tests/tools); executors
unpack it onto sys.path, the driver script ships separately as the
spark-submit entry. Deterministic member order + zeroed timestamps so the
artifact hash is reproducible build-to-build.

Executors reach the zip only once a task runs, after their Python daemon has
started, so on a cluster master `session.get_spark` keeps the stock
`pyspark.daemon` instead of the engine's warm `worker_daemon` (which it uses
on a local master, where executors share the driver's PYTHONPATH).
"""

from __future__ import annotations

import os
import sys
import zipfile

PKG = "al_drift_detection_spark"


def build_zip(repo_root: str, out_path: str) -> str:
    os.makedirs(os.path.dirname(out_path) or ".", exist_ok=True)
    members: list[tuple[str, str]] = []
    pkg_dir = os.path.join(repo_root, PKG)
    for root, _dirs, files in os.walk(pkg_dir):
        for fname in sorted(files):
            if not fname.endswith(".py"):
                continue
            full = os.path.join(root, fname)
            arc = os.path.relpath(full, repo_root)
            members.append((full, arc))
    members.sort(key=lambda m: m[1])
    with zipfile.ZipFile(out_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for full, arc in members:
            with open(full, "rb") as fh:
                data = fh.read()
            info = zipfile.ZipInfo(arc, date_time=(1980, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            zf.writestr(info, data)
    return out_path


def main() -> int:
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = sys.argv[1] if len(sys.argv) > 1 else os.path.join(repo_root, "dist", "engine.zip")
    path = build_zip(repo_root, out)
    n = len(zipfile.ZipFile(path).namelist())
    print(f"{path}: {n} modules")
    return 0


if __name__ == "__main__":
    sys.exit(main())
