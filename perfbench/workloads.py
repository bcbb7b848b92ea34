"""The four workloads. Each one has

- ``prepare(rep)``: generate its seeded inputs and write them (repeated
  by the runner; the median is part of ``setup_s``);
- ``warm(reps)``: run every code path before timing (twice where one
  pass left the JIT unsettled; a traced run's side workloads pass 1);
- ``timed(seconds)``: the closed loop (one client) the end-to-end
  metrics come from, checking every output;
- ``traced()``: replay each layer call one by one, materialising each
  output, so every span is that layer's busy time.

Outputs are checked against DuckDB (``oracle.py``); a failed check or a
raised exception counts the operation as failed.
"""

from __future__ import annotations

import os
import shutil
import time
import traceback

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from getml_community_spark.checkpoint import LineageLog, SnapshotTable
from getml_community_spark.operators.rollup import TIER_SECONDS
from getml_community_spark.plans.job import RollupJob
from getml_community_spark.plans.rollup_spec import RollupSpec

import gen
import oracle
from gen import DAY
from harness import dir_bytes_files, fresh_dir, median, spark_cores, tail

TIERS = ("1m", "1h", "1d")
LTTB_BUCKET = 6 * 3600  # seconds per LTTB bucket of the dense 1h tier


def done(df):
    """Materialise a lazy frame once (its lineage is cut here)."""
    return df.localCheckpoint(eager=True)


def timed_call(fn):
    t = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t


class Workload:
    name = ""
    # sizes per scale; "tiny" is the smoke-test size
    SCALES: dict = {}

    def __init__(self, spark, seed: int, scale: str, work: str, tracer, jobs):
        self.spark, self.seed, self.work = spark, seed, work
        self.size = self.SCALES[scale]
        self.tracer, self.jobs = tracer, jobs
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.latencies: list[float] = []  # seconds, the p50/tail population
        self.rate = 0.0  # work units per second
        self.detail: dict = {}  # the issue-named metrics: name -> (value, unit)
        self.layers: dict = {}  # per-layer metrics: name -> value

    # ---- accounting ------------------------------------------------- #
    def op(self, fn, check=None):
        """Run one timed operation; return (output, seconds). ``check``
        maps the output to a list of problems; any problem or exception
        fails the operation."""
        self.attempted += 1
        try:
            out, s = timed_call(fn)
        except Exception:  # noqa: BLE001 — a failed op is a measured outcome
            self._fail([traceback.format_exc(limit=3)])
            return None, None
        if check is not None:
            self.verify(check, out)
        return out, s

    def verify(self, check, *args) -> bool:
        try:
            problems = check(*args)
        except Exception:  # noqa: BLE001 — a crashing check is a failed check
            problems = [traceback.format_exc(limit=3)]
        if problems:
            self._fail(problems)
        return not problems

    def _fail(self, problems: list[str]) -> None:
        self.failed += 1
        self.problems += problems

    def sdf(self, pdf: pd.DataFrame):
        return self.spark.createDataFrame(pdf)

    def ingest_table(self, root: str, pdf: pd.DataFrame) -> str:
        SnapshotTable(root, partition_by=["event_date"]).append(
            self.sdf(pdf).withColumn("event_date", F.to_date("event_time"))
        )
        return root

    # ---- trace helpers ---------------------------------------------- #
    def checkpoint_wrappers(self):
        """Spans around RollupJob's public SnapshotTable/LineageLog calls."""
        from contextlib import ExitStack

        def appended(rec, args, out):
            table = args[0]
            snap = table._load(out)
            parent = table._load(snap.parent).entries if snap.parent else []
            old = {e["path"] for e in parent}
            for e in snap.entries:
                if e["path"] not in old:
                    b, n = dir_bytes_files(e["path"])
                    rec["bytes"] = rec.get("bytes", 0) + b
                    rec["files"] = rec.get("files", 0) + n

        def planned(rec, args, out):
            rec["files"] = len(out.inputFiles())

        t = self.tracer
        stack = ExitStack()
        stack.enter_context(t.patched(SnapshotTable, "append", "checkpoint.append", appended))
        stack.enter_context(t.patched(SnapshotTable, "changes", "checkpoint.changes"))
        stack.enter_context(t.patched(SnapshotTable, "delete_partitions", "checkpoint.delete"))
        stack.enter_context(t.patched(SnapshotTable, "read", "checkpoint.read", planned))
        stack.enter_context(t.patched(LineageLog, "append", "checkpoint.lineage"))
        return stack

    def checkpoint_layers(self) -> None:
        """Checkpoint metrics of the spans recorded so far; a call kind
        with no span is left out, not reported as zero."""
        s = self.tracer.summary()
        for call in ("append", "changes", "delete", "read"):
            if f"checkpoint.{call}" in s:
                self.layers[f"checkpoint.{call}_s"] = s[f"checkpoint.{call}"]["total_s"]
        t = self.tracer
        if "checkpoint.append" in s:
            self.layers["checkpoint.bytes_written"] = t.attr_sum("checkpoint.append", "bytes")
            self.layers["checkpoint.files_written"] = t.attr_sum("checkpoint.append", "files")
        if "checkpoint.read" in s:
            self.layers["checkpoint.files_planned"] = t.attr_sum("checkpoint.read", "files")

    def read_layers(self, job: RollupJob, t_from: int, t_to: int) -> None:
        """Replay the router's read path on ``job``'s store: manifest
        planning of a day-pruned tier read, ``rollup_to_step``, Gorilla
        decode of ``[t_from, t_to)`` after chunk-index pruning, gapfill
        of the 1h tier and LTTB over it."""
        from getml_community_spark.functions.gorilla import decompress_segments
        from getml_community_spark.operators.downsample import lttb_downsample
        from getml_community_spark.operators.gapfill import gapfill
        from getml_community_spark.operators.rollup import rollup_to_step

        t = self.tracer
        with t.span("checkpoint.read") as rec:
            rows = job.tables["1m"].read(self.spark, partition_filter=lambda p: p["day"] is not None)
        files = len(rows.inputFiles())
        rows = done(rows.drop("day"))
        with t.span("rollup.to_step"):
            done(rollup_to_step(rows, 7200))
        segs = done(job.segments.read(self.spark))
        pruned = segs.where((F.col("t_max") >= F.lit(t_from)) & (F.col("t_min") <= F.lit(t_to - 1)))
        n_read, n_dec = segs.count(), pruned.count()
        with t.span("gorilla.decode"):
            done(decompress_segments(pruned))
        hour = done(job.tables["1h"].read(self.spark).drop("day"))
        with t.span("gapfill"):
            dense = done(gapfill(hour, 3600))
        n_out = dense.count()
        n_gap = dense.where(F.col("cnt") == 0).count()
        with t.span("downsample.lttb"):
            done(
                lttb_downsample(
                    dense.select("source", F.col("bucket_start").alias("ts"), F.col("rate").alias("value")),
                    LTTB_BUCKET,
                )
            )
        self.layers.update(
            {
                "checkpoint.read_s": rec["end"] - rec["start"],
                "checkpoint.files_planned": files,
                "rollup.to_step_s": t.total("rollup.to_step"),
                "gorilla.decode_s": t.total("gorilla.decode"),
                "gorilla.segments_read": n_read,
                "gorilla.segments_decoded": n_dec,
                "gorilla.decode_share": n_dec / n_read,
                "gapfill.s": t.total("gapfill"),
                "gapfill.rows_out": n_out,
                "gapfill.gap_rows": n_gap,
                "gapfill.gap_share": n_gap / n_out,
                "downsample.lttb_s": t.total("downsample.lttb"),
            }
        )

    def overhead(self, fn) -> None:
        """Run ``fn`` untraced, then traced with the checkpoint wrappers;
        the wall difference is the tracing overhead."""
        _, plain = timed_call(fn)
        with self.checkpoint_wrappers():
            with self.tracer.span("trace.overhead_probe"):
                _, traced = timed_call(fn)
        self.layers["trace.overhead_s"] = traced - plain


# ===================================================================== #
class IngestCatchup(Workload):
    """Full RollupJob build over a day-partitioned SnapshotTable, then
    late-batch catch-ups that each re-roll one seeded day."""

    name = "ingest_catchup"
    SCALES = {
        "bench": {"rows": 12000, "days": 2, "late_rows": 500, "catchups": (3, 4)},
        "tiny": {"rows": 1500, "days": 2, "late_rows": 50, "catchups": (2, 2)},
    }
    SPEC = RollupSpec(
        hist_bin_width=64.0,
        distinct_col="doc_id",
        retention_seconds={"1m": DAY, "1h": None, "1d": None},
    )

    def prepare(self, rep: int) -> None:
        z = self.size
        self.raw = gen.corpus(self.seed, z["rows"], z["days"])
        n_late = z["catchups"][1]
        self.late = [
            gen.late_batch(self.seed, k, z["late_rows"], d)
            for k, d in enumerate(gen.late_days(self.seed, n_late, z["days"]))
        ]
        self.pristine = self.ingest_table(
            fresh_dir(os.path.join(self.work, f"pristine{rep}")), self.raw
        )

    def warm(self, reps: int = 2) -> None:
        """Nothing: the timed build is the first job of a fresh session,
        as a batch ingest run sees it; the catch-ups after it run warm.
        (A warm-up build and catch-up made a run 20 s longer and its
        build rate no steadier.)"""

    def _fresh_job(self, tag: str) -> RollupJob:
        """A job over a copy of the pristine input: catch-up appends
        land in the copy, never in the pristine table."""
        root = fresh_dir(os.path.join(self.work, tag))
        inp = os.path.join(root, "in")
        shutil.copytree(self.pristine, inp)
        return RollupJob(self.spark, self.SPEC, inp, os.path.join(root, "out"))

    # ---- checks ------------------------------------------------------ #
    def check_tiers(self, job: RollupJob, raw: pd.DataFrame, day: str | None) -> list[str]:
        """Tiers (all days, or one re-rolled day) against DuckDB's
        rollup_sql; the 1m tier holds only the days its retention keeps."""
        problems = []
        days = pd.to_datetime(raw["event_time"]).dt.strftime("%Y-%m-%d")
        newest = pd.Timestamp(days.max())
        for tier in TIERS:
            sec = TIER_SECONDS[tier]
            keep = self.SPEC.retention_seconds.get(tier)
            cutoff = newest - pd.Timedelta(seconds=keep) if keep else None
            want_days = sorted(
                d for d in set(days) if cutoff is None or pd.Timestamp(d) >= cutoff
            )
            if day is not None:
                want_days = [d for d in want_days if d == day]
            got_days = sorted(
                p["day"]
                for p in job.tables[tier].partitions()
                if day is None or p["day"] == day
            )
            if sorted(set(got_days)) != want_days:
                problems.append(f"{tier}: days {got_days} != {want_days}")
                continue
            if not want_days:
                continue
            got = oracle.tier_frame(
                job.tables[tier]
                .read(self.spark, partition_filter=lambda p: p["day"] in want_days)
                .toPandas()
            )
            want = oracle.rollup(raw[days.isin(want_days)], sec)
            problems += oracle.compare_rollup(got, want, f"tier {tier}")
        return problems

    def check_lineage(self, job: RollupJob, raw: pd.DataFrame) -> list[str]:
        """Σ rows_in per day of the newest base-tier lineage rows equals
        the input rows of that day."""
        lin = job.lineage.read_pandas()
        lin = lin[lin["tier"] == self.SPEC.tiers[0]].sort_values("committed_at")
        got = lin.groupby("partition_id")["rows_in"].last().to_dict()
        days = pd.to_datetime(raw["event_time"]).dt.strftime("%Y-%m-%d")
        want = days.value_counts().to_dict()
        if {k: int(v) for k, v in got.items()} != {k: int(v) for k, v in want.items()}:
            return [f"lineage rows_in per day {got} != input {want}"]
        return []

    def store_bytes(self, job: RollupJob) -> int:
        return sum(
            dir_bytes_files(t.root)[0] for t in job._all_tables().values()
        )

    # ---- runs -------------------------------------------------------- #
    def timed(self, seconds: float) -> None:
        t0 = time.perf_counter()
        job = self._fresh_job("run")
        raw = self.raw
        _, build_s = self.op(
            job.run,
            lambda _: self.check_tiers(job, raw, None) + self.check_lineage(job, raw),
        )
        build_rate = len(raw) / build_s if build_s else 0.0
        bytes_per_row = self.store_bytes(job) / len(raw)
        lo, hi = self.size["catchups"]
        for k in range(hi):
            if k >= lo and time.perf_counter() - t0 >= seconds:
                break
            self.ingest_table(job.input_path, self.late[k])
            raw = pd.concat([raw, self.late[k]], ignore_index=True)
            day = self.late[k]["event_time"].iloc[0].strftime("%Y-%m-%d")
            _, s = self.op(
                job.run,
                lambda _, r=raw, d=day: self.check_tiers(job, r, d)
                + self.check_lineage(job, r),
            )
            if s is not None:
                self.latencies.append(s)
        # rows ingested per second of job time over the build and every
        # catch-up: the one cold build alone spread 0.22 of its median
        # over ten seeds
        if build_s:
            self.rate = len(raw) / (build_s + sum(self.latencies))
        self.detail = {
            "build_rows_per_s": (build_rate, "rows/s"),
            "catchup_p50_s": (median(self.latencies) if self.latencies else 0.0, "s"),
            "store_bytes_per_row": (bytes_per_row, "B/row"),
        }

    def traced(self) -> None:
        from getml_community_spark.functions.gorilla import compress_rollup
        from getml_community_spark.operators.rollup import rollup_cascade, rollup_from_raw

        t = self.tracer
        job = self._fresh_job("trace")
        with self.checkpoint_wrappers(), t.span("job.run", kind="build"):
            self.op(job.run)
        # catch-up: once untraced, once traced — the difference is the
        # tracing overhead; the traced one gives the job-level layer
        self.ingest_table(job.input_path, self.late[0])
        _, plain = self.op(job.run)
        self.ingest_table(job.input_path, self.late[1])
        with self.checkpoint_wrappers(), self.jobs.group() as grp:
            with t.span("job.run", kind="catchup") as rec:
                summary, traced = self.op(job.run)
        self.checkpoint_layers()
        self.layers.update(
            {
                "trace.overhead_s": traced - plain,
                "job.run_s": rec["end"] - rec["start"],
                "job.self_s": t.self_time(rec),
                "job.spark_jobs": grp["jobs"],
                "job.days_processed": summary["days_processed"],
            }
        )
        # replay the build's operator chain on the same input
        sel = SnapshotTable(self.pristine).read(self.spark)
        with t.span("rollup.from_raw"):
            agg = done(rollup_from_raw(sel, "1m"))
        with t.span("rollup.cascade"):
            hour = done(rollup_cascade(agg, "1h"))
            day = done(rollup_cascade(hour, "1d"))
        with t.span("gorilla.encode"):
            segs = done(compress_rollup(agg, value_col="rate", with_stats=True))
        st = segs.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("bytes_compressed").alias("b"),
            F.sum("n_points").alias("p"),
        ).first()
        self.layers.update(
            {
                "rollup.from_raw_s": t.total("rollup.from_raw"),
                "rollup.cascade_s": t.total("rollup.cascade"),
                "rollup.rows_in": len(self.raw),
                "rollup.rows_out": agg.count() + hour.count() + day.count(),
                "gorilla.encode_s": t.total("gorilla.encode"),
                "gorilla.segments": st["n"],
                "gorilla.bits_per_point": 8.0 * st["b"] / st["p"],
            }
        )
        # the read path over the store this run built: one day decoded
        day0 = int(self.late[1]["event_time"].iloc[0].normalize().timestamp())
        self.read_layers(job, day0, day0 + DAY)


# ===================================================================== #
class RangeRead(Workload):
    """Closed-loop router reads against a store built during set-up."""

    name = "range_read"
    SCALES = {
        "bench": {"rows": 12000, "days": 3, "cycles": 6},
        "tiny": {"rows": 1500, "days": 2, "cycles": 1},
    }
    SPEC = RollupSpec(hist_bin_width=64.0, distinct_col="doc_id")

    def prepare(self, rep: int) -> None:
        z = self.size
        self.raw = gen.corpus(self.seed, z["rows"], z["days"])
        self.ops = gen.read_mix(self.seed, z["days"], z["cycles"])
        self.inp = self.ingest_table(
            fresh_dir(os.path.join(self.work, f"in{rep}")), self.raw
        )

    def warm(self, reps: int = 2) -> None:
        self.job = RollupJob(
            self.spark, self.SPEC, self.inp, fresh_dir(os.path.join(self.work, "store"))
        )
        self.job.run()
        kinds = {}
        for o in self.ops:
            kinds.setdefault(o["kind"], o)
        for o in kinds.values():
            self.read(o)

    def read(self, o: dict) -> pd.DataFrame:
        job, kind = self.job, o["kind"]
        if kind == "range":
            df = job.query_range(o["t_from"], o["t_to"], o["step"])
        elif kind == "quantiles":
            df = job.query_range_quantiles(o["t_from"], o["t_to"], o["step"])
        elif kind == "distinct":
            df = job.query_range_distinct(o["t_from"], o["t_to"], o["step"])
        elif kind == "compressed":
            df = job.query_compressed(o["t_from"], o["t_to"] - 1)
        elif kind == "archive":
            df = job.query_range_archive(o["t_from"], o["t_to"], o["step"])
        else:
            from getml_community_spark.operators.downsample import lttb_downsample

            dense = job.read_tier_dense("1h").select(
                "source", F.col("bucket_start").alias("ts"), F.col("rate").alias("value")
            )
            df = lttb_downsample(dense, LTTB_BUCKET)
        return df.toPandas()

    # ---- checks ------------------------------------------------------ #
    def check(self, o: dict, got: pd.DataFrame) -> list[str]:
        kind = o["kind"]
        if kind == "dense_lttb":
            h = self.tier_1h
            span = h.groupby("source")["b"].agg(["min", "max"])
            want = sum(
                len({b // LTTB_BUCKET for b in range(lo, hi + 1, 3600)})
                for lo, hi in zip(span["min"], span["max"])
            )
            return [] if len(got) == want else [f"lttb: {len(got)} rows, want {want}"]
        if kind == "compressed":
            m = self.tier_1m
            want = m[(m["b"] >= o["t_from"]) & (m["b"] < o["t_to"])]
            want = want.sort_values(["source", "b"])
            g = got.sort_values(["source", "ts"])
            ok = (
                len(g) == len(want)
                and (g["source"].to_numpy() == want["source"].to_numpy()).all()
                and (g["ts"].to_numpy() == want["b"].to_numpy()).all()
                and (g["value"].to_numpy() == want["rate"].to_numpy()).all()
            )
            return [] if ok else ["query_compressed decode != stored 1m rate"]
        want = oracle.rollup(self.raw, o["step"], o["t_from"], o["t_to"])
        if kind == "range":
            return oracle.compare_rollup(oracle.tier_frame(got), want, f"query_range {o}")
        keys = lambda d: sorted(zip(d["source"], d["b"]))  # noqa: E731
        gk = got.assign(b=oracle.epoch_s(got["bucket_start"]))
        if keys(gk) != keys(want):
            return [f"{kind}: bucket keys differ from the reference {o}"]
        if kind == "archive":
            m = gk.sort_values(["source", "b"])
            ok = np.allclose(m["value"].to_numpy(), want["rate"].to_numpy(), rtol=1e-9)
            return [] if ok else [f"archive values differ from the reference {o}"]
        if kind == "distinct":
            exact = oracle.distinct_ids(self.raw, o["step"], o["t_from"], o["t_to"])
            est = gk.sort_values(["source", "b"])
            col = [c for c in est.columns if c not in ("source", "bucket_start", "b")][0]
            err = np.abs(est[col].to_numpy(np.float64) - exact["n"].to_numpy(np.float64))
            ok = (err <= np.maximum(2.0, 0.05 * exact["n"].to_numpy())).all()
            return [] if ok else [f"distinct estimates off the exact count {o}"]
        return []

    # ---- runs -------------------------------------------------------- #
    def _tiers_for_checks(self) -> None:
        self.tier_1m = oracle.tier_frame(self.job.read_tier("1m").toPandas())
        self.tier_1h = oracle.tier_frame(self.job.read_tier("1h").toPandas())

    def timed(self, seconds: float) -> None:
        t0 = time.perf_counter()
        results = []
        for i, o in enumerate(self.ops):
            # whole cycles only, so every run reads the same mix
            if i % gen.CYCLE == 0 and i and time.perf_counter() - t0 >= seconds:
                break
            out, s = self.op(lambda o=o: self.read(o))
            if s is not None:
                results.append((o, out, s))
        self._tiers_for_checks()
        for o, out, _ in results:
            self.verify(self.check, o, out)
        all_s = [s for _, _, s in results]
        self.rate = len(all_s) / sum(all_s) if all_s else 0.0
        # p50 and tail over query_range alone: a mixed population's
        # median would jump between read kinds from run to run
        self.latencies = [s for o, _, s in results if o["kind"] == "range"]
        dec = [s for o, _, s in results if o["kind"] in ("compressed", "archive")]
        tv, tp, tn = tail(self.latencies)
        self.detail = {
            "range_p50_ms": (1000 * median(self.latencies) if self.latencies else 0.0, "ms"),
            "range_tail_ms": (None if tv is None else 1000 * tv, f"ms@p{tp}/n={tn}"),
            "decode_p50_ms": (1000 * median(dec) if dec else 0.0, "ms"),
            "reads_per_s": (self.rate, "1/s"),
        }

    def traced(self) -> None:
        o = next(x for x in self.ops if x["kind"] == "range")
        self.overhead(lambda: self.op(lambda: self.read(o)))
        c = next(x for x in self.ops if x["kind"] == "compressed")
        self.read_layers(self.job, c["t_from"], c["t_to"])


# ===================================================================== #
class AsofFeatures(Workload):
    """In-memory as-of battery and FastProp over the generated corpus."""

    name = "asof_features"
    SCALES = {
        "bench": {"rows": 20000, "pop": 3000, "sample": 40},
        "tiny": {"rows": 2000, "pop": 200, "sample": 10},
    }
    # FIXTURES §3 window: peripheral rows in (t - 7d, t - 1h]
    HORIZON, MEMORY = 3600.0, float(7 * DAY - 3600)
    INCLUDE = {*oracle.BATTERY, "q90"}

    def prepare(self, rep: int) -> None:
        z = self.size
        self.peri_pdf = gen.corpus(self.seed, z["rows"], 14)[["source", "event_time", "n_tok"]]
        self.pop_pdf = gen.population(self.seed, self.peri_pdf, z["pop"])
        self.peri = self.sdf(self.peri_pdf).cache()
        self.pop = self.sdf(self.pop_pdf).cache()
        self.peri.count(), self.pop.count()

    def kw(self) -> dict:
        return dict(
            on="source", population_id="pop_id", pop_ts="pop_ts",
            peri_ts="event_time", horizon=self.HORIZON, memory=self.MEMORY,
        )

    def asof(self) -> pd.DataFrame:
        from getml_community_spark.operators.asof_join import asof_features

        return asof_features(
            self.pop, self.peri, value_col="n_tok", include=self.INCLUDE, **self.kw()
        ).toPandas()

    def fastprop(self) -> pd.DataFrame:
        from getml_community_spark.operators.fastprop import fastprop_features

        return fastprop_features(self.pop, self.peri, value_cols=["n_tok"], **self.kw()).toPandas()

    def warm(self, reps: int = 2) -> None:
        # twice: the first timed call after a single warm-up still ran
        # slower than the rest (the JIT had not settled)
        for _ in range(reps):
            self.asof()
            self.fastprop()

    def check_fastprop(self, got: pd.DataFrame) -> list[str]:
        ids = got["pop_id"]
        if len(got) != len(self.pop_pdf) or ids.nunique() != len(ids):
            return [f"fastprop: {len(got)} rows for {len(self.pop_pdf)} population rows"]
        return []

    def timed(self, seconds: float) -> None:
        t0 = time.perf_counter()
        outs, asof_s, fp_s = [], [], []
        while len(asof_s) < 3 or time.perf_counter() - t0 < seconds:
            a, sa = self.op(self.asof)
            _, sf = self.op(self.fastprop, self.check_fastprop)
            if sa is None or sf is None:
                break
            outs.append(a)
            asof_s.append(sa)
            fp_s.append(sf)
            self.latencies.append(sa + sf)
        r = gen.rng(self.seed, 6)
        sample = self.pop_pdf.iloc[
            r.choice(len(self.pop_pdf), size=self.size["sample"], replace=False)
        ]
        want = oracle.asof_reference(sample, self.peri_pdf, self.HORIZON, self.MEMORY)
        for a in outs:
            self.verify(oracle.compare_asof, a, want)
        n = len(self.pop_pdf)
        # closed-loop throughput: population rows served per busy second
        self.rate = n * len(self.latencies) / sum(self.latencies) if self.latencies else 0.0
        self.detail = {
            "asof_pop_rows_per_s": (n / median(asof_s) if asof_s else 0.0, "rows/s"),
            "fastprop_pop_rows_per_s": (n / median(fp_s) if fp_s else 0.0, "rows/s"),
        }

    def traced(self) -> None:
        from getml_community_spark.operators.aggregates import battery
        from getml_community_spark.operators.asof_join import asof_match

        t = self.tracer
        self.overhead(lambda: self.op(self.asof))
        with t.span("asof.match"):
            matched = done(
                asof_match(
                    self.pop, self.peri, peri_cols=["n_tok", "event_time"],
                    pop_cols=[c for c in self.pop.columns if c != "pop_id"],
                    how="left", **self.kw(),
                )
            )
        pairs = matched.where(F.col("__t_peri").isNotNull()).count()
        with t.span("aggregates.battery"):
            v = F.when(F.col("__t_peri").isNotNull(), F.col("n_tok"))
            done(
                matched.groupBy("__pop_id").agg(
                    *battery(v, ts=F.col("__t_peri"), t_ref=F.col("__t_pop"), include=self.INCLUDE)
                )
            )
        with t.span("fastprop"):
            self.op(self.fastprop, self.check_fastprop)
        cand = oracle.candidate_pairs(self.pop_pdf, self.peri_pdf, self.HORIZON, self.MEMORY)
        self.layers.update(
            {
                "asof.match_s": t.total("asof.match"),
                "asof.matched_pairs": pairs,
                "asof.candidate_pairs": cand,
                "asof.match_ratio": pairs / cand if cand else 0.0,
                "aggregates.battery_s": t.total("aggregates.battery"),
                "fastprop.s": t.total("fastprop"),
            }
        )


# ===================================================================== #
class CorpusClean(Workload):
    """clean_corpus(report=True) over seeded document replicas, with a
    benchmark slice driving decontamination."""

    name = "corpus_clean"
    SCALES = {
        "bench": {"docs": 1500, "replicas": 2, "bench_docs": 20},
        "tiny": {"docs": 200, "replicas": 1, "bench_docs": 5},
    }
    # the Gopher defaults drop every document of this corpus (mean 54
    # words, no stop-word requirement met); these keep survivors at
    # every stage
    PARAMS = {"min_words": 5, "min_stop_hits": 0}
    STAGES = ("input", "gopher", "exact", "near", "decontam")

    def prepare(self, rep: int) -> None:
        z = self.size
        self.docs_pdf = gen.documents(self.seed, z["docs"], z["replicas"])
        self.bench_pdf = gen.contamination_slice(self.seed, self.docs_pdf, z["bench_docs"])
        self.docs = done(self.sdf(self.docs_pdf).repartition(spark_cores()))
        self.bench = done(self.sdf(self.bench_pdf))

    def clean(self):
        from getml_community_spark.operators.corpus import clean_corpus

        _, rep = clean_corpus(self.docs, benchmark=self.bench, report=True, **self.PARAMS)
        return dict(rep.stages)

    def warm(self, reps: int = 2) -> None:
        from getml_community_spark.operators.textstats import gopher_quality

        for _ in range(reps):  # as for asof_features: one warm-up left the JIT unsettled
            self.clean()
        keep = gopher_quality(self.docs, "text", "doc_id", **self.PARAMS).where("keep")
        ids = set(keep.select("doc_id").toPandas()["doc_id"])
        kept = self.docs_pdf[self.docs_pdf["doc_id"].isin(ids)]
        self.want = {
            "input": len(self.docs_pdf),
            "gopher": len(kept),
            "exact": oracle.distinct_normalized(kept),
        }

    def check(self, stages: dict) -> list[str]:
        if list(stages) != list(self.STAGES):
            return [f"clean stages {list(stages)}"]
        bad = {k: (stages[k], v) for k, v in self.want.items() if stages[k] != v}
        if bad:
            return [f"clean survivors (got, reference): {bad}"]
        if not stages["exact"] >= stages["near"] >= stages["decontam"] > 0:
            return [f"clean survivors not monotone: {stages}"]
        return []

    def timed(self, seconds: float) -> None:
        t0 = time.perf_counter()
        stages = {}
        while len(self.latencies) < 2 or time.perf_counter() - t0 < seconds:
            out, s = self.op(self.clean, self.check)
            if s is None:
                break
            stages = out
            self.latencies.append(s)
        n = len(self.docs_pdf)
        self.rate = n * len(self.latencies) / sum(self.latencies) if self.latencies else 0.0
        self.detail = {
            "clean_docs_per_s": (n / median(self.latencies) if self.latencies else 0.0, "docs/s"),
            **{f"survivors.{k}": (v, "docs") for k, v in stages.items()},
        }

    def traced(self) -> None:
        from getml_community_spark.operators.dedup import exact_dedup, minhash_lsh_dedup
        from getml_community_spark.operators.textstats import gopher_quality, ngram_contamination

        t = self.tracer
        self.overhead(lambda: self.op(self.clean, self.check))
        with t.span("clean_corpus"):
            stages, _ = self.op(self.clean, self.check)
        # replay each stage on the previous stage's materialised survivors
        docs = self.docs
        with t.span("textstats.gopher"):
            keep = done(gopher_quality(docs, "text", "doc_id", **self.PARAMS).where("keep"))
        s1 = done(docs.join(keep.select("doc_id"), "doc_id", "left_semi"))
        with t.span("dedup.exact"):
            win = done(exact_dedup(s1, "text", "doc_id"))
        s2 = done(s1.join(win.select("doc_id"), "doc_id", "left_semi"))
        with t.span("dedup.minhash"):
            s3 = done(minhash_lsh_dedup(s2, "text", "doc_id", threshold=0.8))
        with t.span("textstats.contamination"):
            done(ngram_contamination(s3, self.bench, "text", "doc_id", n=5))
        self.layers.update(
            {
                "textstats.gopher_s": t.total("textstats.gopher"),
                "dedup.exact_s": t.total("dedup.exact"),
                "dedup.minhash_s": t.total("dedup.minhash"),
                "textstats.contamination_s": t.total("textstats.contamination"),
                **{f"clean.survivors.{k}": (stages or {}).get(k, 0) for k in self.STAGES},
            }
        )


WORKLOADS = {w.name: w for w in (IngestCatchup, RangeRead, AsofFeatures, CorpusClean)}
# the workloads whose traced replays together cover every layer
# (range_read's read path is replayed by ingest_catchup); a traced run of
# one of them runs the others at the tiny size
TRACED = ("ingest_catchup", "asof_features", "corpus_clean")
