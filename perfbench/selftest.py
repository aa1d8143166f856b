"""Generator determinism self-test: for every workload, the same seed
writes byte-identical inputs and another seed writes different ones.

    python3 perfbench/selftest.py

Builds each workload's full-size inputs three times (seed 1, seed 1 again,
seed 2) under ``.perfbench_work/selftest`` and removes them afterwards.
Exits 1 on any mismatch.  Needs no Spark.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402
from run import WORKLOADS  # noqa: E402


def tree_digest(path: str) -> str:
    """sha256 over every file's relative path and bytes (not mtimes)."""
    h = hashlib.sha256()
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for name in sorted(files):
            if name == "_DONE":
                continue
            full = os.path.join(root, name)
            h.update(os.path.relpath(full, path).encode())
            with open(full, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def main() -> int:
    import importlib

    base = os.path.join(harness.WORK, "selftest")
    failures = 0
    for name, module in WORKLOADS.items():
        wl = importlib.import_module(module)
        digests = []
        for k, seed in enumerate((1, 1, 2)):
            root = harness.fresh_dir(os.path.join(base, str(k)))
            built = wl.make_inputs(root, seed)
            dirs = built.values() if isinstance(built, dict) else [built]
            digests.append("".join(tree_digest(d) for d in dirs))
        same = digests[0] == digests[1]
        differ = digests[0] != digests[2]
        failures += (not same) + (not differ)
        print(f"{name:16s} same seed identical: {same}  other seed differs: {differ}")
    shutil.rmtree(base, ignore_errors=True)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
