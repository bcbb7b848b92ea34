"""The benchmark drives RollupJob through its internals (``tables``,
``segments``, ``_all_tables()``, lineage rows), so a refactor of the job
can break it without failing any engine test. Run the benchmark's own
smoke check on the workload that exercises RollupJob."""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_perfbench_smoke_ingest_catchup():
    out = subprocess.run(
        [sys.executable, os.path.join("perfbench", "smoke.py"), "ingest_catchup"],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=1200,
    )
    assert out.returncode == 0, out.stdout[-3000:] + out.stderr[-3000:]
    assert out.stdout.count(" ok ") == 2, out.stdout
