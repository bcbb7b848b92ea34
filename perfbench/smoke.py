"""Smoke test of the benchmark itself: every workload at the tiny size,
untraced and traced, must succeed, pass its checks, print every metric
BENCHMARK.json names (end-to-end ones non-zero) and leave a trace with
at least one span per named layer.

    python3 perfbench/smoke.py [workload ...]

Run from the root of a checkout; exits non-zero on the first problem.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# one span name per traced layer
LAYER_SPANS = [
    "session.warmup", "job.run", "checkpoint.append", "checkpoint.changes",
    "checkpoint.delete", "checkpoint.read", "rollup.from_raw", "rollup.cascade",
    "rollup.to_step", "gorilla.encode", "gorilla.decode", "gapfill", "downsample.lttb",
    "asof.match", "aggregates.battery", "fastprop", "textstats.gopher", "dedup.exact",
    "dedup.minhash", "textstats.contamination",
]
ALL_WORKLOADS = ["ingest_catchup", "range_read", "asof_features", "corpus_clean"]


def run(workload: str, trace: int) -> tuple[dict, dict]:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
        "--seconds", "1", "--trace", str(trace), "--scale", "tiny",
    ]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        raise SystemExit(f"{workload} trace={trace}: exit {out.returncode}\n{out.stderr[-3000:]}")
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-2].removeprefix("detail: ")), json.loads(lines[-1])


def main(argv: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    for wl in argv or ALL_WORKLOADS:
        for trace, want in ((0, e2e), (1, layers)):
            detail, res = run(wl, trace)
            problems = []
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                problems.append(f"checks failed: {detail['problems']}")
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want:
                problems.append(f"metrics/units differ from BENCHMARK.json: {set(got) ^ set(want)}")
            if trace == 0:
                zero = [k for k, v in res["metrics"].items() if not v["value"] > 0]
                if zero:
                    problems.append(f"zero end-to-end metrics: {zero}")
            else:
                if detail["unmeasured"]:
                    problems.append(f"unmeasured layers: {detail['unmeasured']}")
                with open(os.path.join(ROOT, ".perfbench_work", f"trace-{wl}-7.json")) as f:
                    spans = {r["name"] for recs in json.load(f).values() for r in recs}
                missing = [s for s in LAYER_SPANS if s not in spans]
                if missing:
                    problems.append(f"no span for layers: {missing}")
            status = "ok" if not problems else "FAIL"
            print(f"{wl:15s} trace={trace} {status} attempted={res['attempted']}", flush=True)
            if problems:
                print("  " + "\n  ".join(problems))
                return 1
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
