"""The benchmark drives RollupJob through its internals (``tables``,
``segments``, ``_all_tables()``, lineage rows) and its traced as-of path
reads ``asof_match``'s internal columns, so a refactor of either can
break it without failing any engine test. Run the benchmark's own smoke
check on the workloads that exercise them."""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _smoke(workload: str) -> None:
    out = subprocess.run(
        [sys.executable, os.path.join("perfbench", "smoke.py"), workload],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=1200,
    )
    assert out.returncode == 0, out.stdout[-3000:] + out.stderr[-3000:]
    assert out.stdout.count(" ok ") == 2, out.stdout


def test_perfbench_smoke_ingest_catchup():
    _smoke("ingest_catchup")


def test_perfbench_smoke_asof_features():
    _smoke("asof_features")
