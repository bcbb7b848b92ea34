"""The repository benchmark: one seeded workload per run, end-to-end
metrics by default, per-layer metrics with ``--trace 1``.

    python3 perfbench/run.py --workload ingest_catchup --seed 1 --seconds 16 --trace 0

Run from the root of a checkout. Every file the run writes stays under
``.perfbench_work/`` in that root. The last line of standard output is
one JSON object ``{"correct", "attempted", "failed", "metrics"}``; the
line before it (``detail: {...}``) carries the workload's own named
metrics, the tail percentile and sample count, the host settings and,
in a traced run, every span's count, total and self time. See
``perfbench/README.md`` for the workloads and the layer map.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PREP_REPS = 3  # set-up is repeated and its median reported

E2E_UNITS = {
    "setup_s": "s",
    "rate_per_s": "1/s",
    "p50_ms": "ms",
    "peak_rss_mb": "MB",
}

LAYER_METRICS = [
    "session.start_s", "session.warmup_s", "trace.overhead_s",
    "job.run_s", "job.self_s", "job.spark_jobs", "job.days_processed",
    "checkpoint.append_s", "checkpoint.bytes_written", "checkpoint.files_written",
    "checkpoint.changes_s", "checkpoint.delete_s", "checkpoint.read_s",
    "checkpoint.files_planned",
    "rollup.from_raw_s", "rollup.cascade_s", "rollup.rows_in", "rollup.rows_out",
    "rollup.to_step_s",
    "gorilla.encode_s", "gorilla.segments", "gorilla.bits_per_point",
    "gorilla.decode_s", "gorilla.segments_read", "gorilla.segments_decoded",
    "gorilla.decode_share",
    "gapfill.s", "gapfill.rows_out", "gapfill.gap_rows", "gapfill.gap_share",
    "downsample.lttb_s",
    "asof.match_s", "asof.matched_pairs", "asof.candidate_pairs", "asof.match_ratio",
    "aggregates.battery_s", "fastprop.s",
    "textstats.gopher_s", "dedup.exact_s", "dedup.minhash_s", "textstats.contamination_s",
    "clean.survivors.input", "clean.survivors.gopher", "clean.survivors.exact",
    "clean.survivors.near", "clean.survivors.decontam",
]


def layer_unit(name: str) -> str:
    if name.endswith("_s") or name in ("gapfill.s", "fastprop.s"):
        return "s"
    if name.endswith("_share") or name.endswith("_ratio"):
        return "ratio"
    if name.endswith("bytes_written"):
        return "B"
    if name.endswith("bits_per_point"):
        return "bit"
    return "count"


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("bench", "tiny"), default="bench")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "getml_community_spark", "__init__.py")):
        print(f"no getml_community_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]

    from harness import (
        JobCounter, MemSampler, Tracer, fresh_dir, median, pin_host, start_spark,
        stop_spark, tail,
    )
    from workloads import TRACED, WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench_work")
    work = fresh_dir(os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}"))
    host = pin_host(work)
    tracer = Tracer(enabled=bool(args.trace))
    side: dict = {}  # traced run: the other workloads, at the tiny size

    with MemSampler() as mem:
        t0 = time.perf_counter()
        spark = start_spark(work)
        session_s = time.perf_counter() - t0
        try:
            jobs = JobCounter(spark)
            wl = WORKLOADS[args.workload](spark, args.seed, args.scale, work, tracer, jobs)
            prep = []
            for rep in range(PREP_REPS):
                t = time.perf_counter()
                wl.prepare(rep)
                prep.append(time.perf_counter() - t)
            with tracer.span("session.warmup"):
                t = time.perf_counter()
                wl.warm()
                warm_s = time.perf_counter() - t
            setup_s = session_s + median(prep) + warm_s
            if args.trace:
                wl.traced()
                # each workload replays the layers on its own path; the
                # other layers come from the other traced workloads at the
                # tiny size, so every traced run reports every layer
                for name in TRACED:
                    if name != args.workload:
                        w = WORKLOADS[name](spark, args.seed, "tiny", fresh_dir(os.path.join(work, name)),
                                Tracer(enabled=True), jobs)
                        w.prepare(0)
                        w.warm(reps=1)  # per-layer numbers carry no bound
                        w.traced()
                        side[name] = w
            else:
                wl.timed(args.seconds)
            spark_version = spark.version
        finally:
            stop_spark(spark)

    runs = [wl, *side.values()]
    attempted = sum(w.attempted for w in runs)
    failed = sum(w.failed for w in runs)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "scale": args.scale,
        "spark": spark_version,
        **{k: v for k, v in host.items() if k in ("nproc", "ram_mb", "SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEM")},
        "setup_parts_s": {"session": session_s, "prep": prep, "warmup": warm_s},
        "error_rate": failed / max(1, attempted),
        "problems": [p for w in runs for p in w.problems][:5],
    }
    if args.trace:
        layers = {"session.start_s": session_s, "session.warmup_s": warm_s, **wl.layers}
        source = dict.fromkeys(layers, args.workload)
        for name, w in side.items():
            for k, v in w.layers.items():
                if k not in layers:
                    layers[k], source[k] = v, f"{name}@tiny"
        metrics = {
            n: {"value": float(layers.get(n, 0.0)), "unit": layer_unit(n)} for n in LAYER_METRICS
        }
        detail["layer_source"] = source
        detail["unmeasured"] = [n for n in LAYER_METRICS if n not in layers]
        detail["spans"] = {
            args.workload: tracer.summary(),
            **{f"{n}@tiny": w.tracer.summary() for n, w in side.items()},
        }
        with open(os.path.join(base, f"trace-{args.workload}-{args.seed}.json"), "w") as f:
            json.dump(
                {args.workload: tracer.records(),
                 **{f"{n}@tiny": w.tracer.records() for n, w in side.items()}},
                f, indent=1,
            )
    else:
        lat = wl.latencies or [0.0]
        tv, tp, tn = tail(lat)
        values = {
            "setup_s": setup_s,
            "rate_per_s": wl.rate,
            "p50_ms": 1000.0 * median(lat),
            "peak_rss_mb": mem.peak_mb,
        }
        metrics = {n: {"value": float(v), "unit": E2E_UNITS[n]} for n, v in values.items()}
        detail["tail"] = {"ms": None if tv is None else 1000.0 * tv, "percentile": tp, "samples": tn}
        detail["named"] = {k: {"value": v, "unit": u} for k, (v, u) in wl.detail.items()}
    print("detail: " + json.dumps(detail, default=str))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": int(attempted),
                "failed": int(failed),
                "metrics": metrics,
            }
        )
    )
    shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
