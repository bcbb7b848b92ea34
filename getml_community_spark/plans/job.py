"""RollupJob — the resumable tiered-rollup pipeline.

One run: for every not-yet-done input day partition, compute the 1m
tier, cascade 1h and 1d, Gorilla-compress the configured tier, append
everything to snapshot tables, emit one lineage row per (tier, day),
and apply retention. Resume-safety comes from snapshot isolation:

- the DONE set is read from the OUTPUT TABLE's current manifest (which
  day partitions exist), not from a side file — an append that crashed
  before its manifest commit is invisible, so re-running it cannot
  duplicate rows;
- day partitions are independent units (tier buckets nest within days),
  so partial progress is always a consistent prefix of the final state;
- lineage reconciliation (Σ rows_in per day == input rows) is a pytest
  invariant.

Scale notes: the per-day filter prunes the parquet scan to pending
partitions (partition pruning — the semi-join prune of the reference's
tsindex build, helpers/DataFrame.cpp:306-318); all pending days are
processed in ONE Spark job per tier (no per-day driver loop); rows_in
per day comes from the same shuffle as the rollup itself.
"""

from __future__ import annotations

import time
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..checkpoint import JobState, LineageLog, SnapshotTable
from ..functions.gorilla import compress_rollup
from ..operators.distinct import hll_family
from ..operators.gapfill import gapfill
from ..operators.histquantile import hist_family
from ..operators.rollup import TIER_SECONDS, TierFamily, bucket_rollup, core_family
from .rollup_spec import RollupSpec

__all__ = ["RollupJob"]


class _Family(NamedTuple):
    """One maintained tier family: its :class:`TierFamily` (raw stage
    for the base tier, merge stage for each coarser tier) and a table
    per tier. ``prefix`` ("" core, "hist_", "dist_") names the family's
    lineage/state tiers and its ``_all_tables`` keys."""

    prefix: str
    tables: dict
    family: TierFamily


def _days(table: SnapshotTable) -> set[str]:
    """Day partitions committed to ``table`` (manifest read, no scan)."""
    return {p.get("day") for p in table.partitions() if p.get("day")}


class RollupJob:
    def __init__(
        self,
        spark: SparkSession,
        spec: RollupSpec,
        input_path: str,
        out_root: str,
        job_id: str = "rollup",
    ):
        self.spark = spark
        self.spec = spec
        self.input_path = input_path
        self.out_root = out_root
        self.job_id = job_id

        def tier_tables(kind: str) -> dict:
            return {
                t: SnapshotTable(f"{out_root}/{kind}_{t}", partition_by=["day"])
                for t in spec.tiers
            }

        # THE family registry: rolling, reconcile, re-roll deletes,
        # retention and compaction all walk it (a family forgotten in one
        # of those loops silently corrupts re-rolls). Core comes first.
        self._families = [_Family("", tier_tables("agg"), core_family(spec.value_col))]
        if spec.hist_bin_width:
            self._families.append(
                _Family(
                    "hist_",
                    tier_tables("hist"),
                    hist_family(spec.value_col, spec.hist_bin_width),
                )
            )
        if spec.distinct_col:
            self._families.append(
                _Family(
                    "dist_",
                    tier_tables("dist"),
                    hll_family(spec.distinct_col, spec.hll_lg_k),
                )
            )
        by_prefix = {f.prefix: f.tables for f in self._families}
        self.tables = by_prefix[""]
        self.hist_tables = by_prefix.get("hist_", {})
        self.dist_tables = by_prefix.get("dist_", {})
        self.segments = SnapshotTable(f"{out_root}/segments", partition_by=["day"])
        self.lineage = LineageLog(f"{out_root}/lineage")
        self.state = JobState(f"{out_root}/state")
        # A SnapshotTable root as input (e.g. the streaming-ingest
        # store) is detected by its manifest layout and read through the
        # manifest — NEVER spark.read on its raw data/ dir (post-
        # compaction it holds multiple append dirs with different
        # layouts). It also unlocks the incremental fingerprint path in
        # run() via changes().
        import os as _os

        self.input_table = (
            SnapshotTable(input_path)
            if _os.path.exists(_os.path.join(input_path, "HEAD"))
            and _os.path.isdir(_os.path.join(input_path, "snapshots"))
            else None
        )

    # ------------------------------------------------------------ #
    def _input(self, snapshot_id: str | None = None) -> DataFrame:
        """``snapshot_id`` (snapshot-table inputs only) pins the read to
        one manifest version so data, fingerprints and the recorded
        input snapshot are consistent even while a streaming writer
        commits concurrently."""
        if self.input_table is not None and (
            snapshot_id or self.input_table.current_snapshot_id()
        ):
            df = self.input_table.read(self.spark, snapshot_id=snapshot_id)
        else:
            # drop Spark's shared file-status cache for the path:
            # late-data appends since the last read of this path would
            # otherwise be invisible to the fingerprint scan within one
            # driver process
            try:
                self.spark.catalog.refreshByPath(self.input_path)
            except Exception:  # noqa: BLE001 — path not yet read anywhere
                pass
            df = self.spark.read.parquet(self.input_path)
        if "event_date" not in df.columns:
            df = df.withColumn("event_date", F.to_date(self.spec.ts_col))
        return df

    def input_snapshot_id(self) -> str:
        """Fingerprint of the input (footer-file listing) — the job's
        'input snapshot id'. Snapshot-table inputs use the table's own
        manifest snapshot id (Iceberg semantics, and the anchor for the
        incremental changes() path)."""
        if self.input_table is not None:
            sid = self.input_table.current_snapshot_id()
            if sid:
                return sid
        import hashlib
        import os

        h = hashlib.sha256()
        for root, _, files in sorted(os.walk(self.input_path)):
            for f in sorted(files):
                if f.endswith(".parquet"):
                    p = os.path.join(root, f)
                    h.update(f"{p}:{os.path.getsize(p)}".encode())
        return h.hexdigest()[:16]

    def _refresh_day_stats(
        self, inp: DataFrame, last: dict | None, in_snap: str | None = None
    ):
        """(day_stats, fps, all_days) for a CHANGED input snapshot.

        Snapshot-table inputs whose recorded snapshot is still an
        ancestor of HEAD take the incremental path: ``changes()`` lists
        only the data dirs appended since the last run, ONE small scan
        over that delta yields the touched days, and fingerprints are
        recomputed for those days only (a day-partitioned input prunes
        the re-fingerprint read to those partitions; untouched days
        reuse the recorded fingerprint — appends never mutate existing
        dirs, so an untouched day is bit-identical by construction).
        At 10^12 rows this turns the per-run reconcile cost from
        O(full input) into O(delta + touched days). Falls back to the
        full one-scan fingerprint when the chain is broken (input
        compacted / base expired / first run)."""
        if (
            self.input_table is not None
            and last is not None
            and last.get("snapshot")
            and last.get("fps") is not None
        ):
            try:
                # on_delete="error": a retention delete between the
                # recorded and pinned snapshots may have removed rows
                # from days whose fingerprints we are about to REUSE —
                # the broad fallback below then recomputes the full
                # per-day fingerprint (mirrors the on_replace
                # compaction fallback; r5 ADVICE item #1)
                delta = self.input_table.changes(
                    self.spark,
                    last["snapshot"],
                    to_snapshot_id=in_snap,
                    on_delete="error",
                )
                if "event_date" not in delta.columns:
                    delta = delta.withColumn(
                        "event_date", F.to_date(self.spec.ts_col)
                    )
                touched = sorted(
                    str(r[0])
                    for r in delta.select("event_date").distinct().collect()
                )
                # all_days from the MANIFEST iff the table is partitioned
                # by event_date ITSELF: read() restores the event_date
                # column from those partition values, so distinct column
                # values == distinct manifest values BY CONSTRUCTION and
                # the day list costs zero scans — the piece that keeps
                # reconcile O(delta) instead of O(table) at 10^12 rows.
                # Any other partition key (arbitrary "day" renderings —
                # round-5 review) or an unpartitioned table falls back
                # to one column-pruned distinct scan.
                parts = self.input_table.partitions(in_snap)
                if parts and all(
                    set(p) == {"event_date"} and p["event_date"] is not None
                    for p in parts
                ):
                    all_days = sorted({str(p["event_date"]) for p in parts})
                else:
                    all_days = [
                        str(r[0])
                        for r in inp.select("event_date")
                        .distinct()
                        .orderBy("event_date")
                        .collect()
                    ]
                new_stats = (
                    self._day_stats(
                        inp.where(F.col("event_date").isin(touched))
                    )
                    if touched
                    else {}
                )
                fps = {
                    d: v
                    for d, v in last["fps"].items()
                    if d in set(all_days)
                }
                fps.update({d: [s[0], s[1]] for d, s in new_stats.items()})
                return new_stats, fps, all_days
            except Exception:  # noqa: BLE001 — any broken-chain shape
                # (non-ancestor ValueError, expired dirs surfacing as
                # AnalysisException from the delta read, ...): the full
                # one-scan fingerprint below is always a safe fallback
                pass
        day_stats = self._day_stats(inp)
        return (
            day_stats,
            {d: [s[0], s[1]] for d, s in day_stats.items()},
            sorted(day_stats),
        )

    def _day_stats(self, inp: DataFrame) -> dict:
        """Per-day (rows, hash-sum, token-sum) in ONE column-pruned
        aggregation scan. The hash-sum is the order-insensitive input
        fingerprint (late-data detection); rows/tokens feed lineage. At
        100 TB this single scan replaces three (distinct days,
        fingerprints, in-stats) on the snapshot-changed path."""
        h = F.xxhash64(
            F.col(self.spec.ts_col).cast("string"),
            F.col(self.spec.value_col),
            F.col(self.spec.source_col),
        )
        return {
            str(r["event_date"]): (int(r["rows"]), int(r["hs"]), int(r["toks"]))
            for r in inp.groupBy("event_date")
            .agg(
                F.count(F.lit(1)).alias("rows"),
                F.sum(h).alias("hs"),
                F.coalesce(F.sum(self.spec.value_col), F.lit(0)).alias("toks"),
            )
            .collect()
        }

    def _all_tables(self) -> dict:
        """Every table this spec maintains, keyed by display name (the
        family prefix + tier, and ``segments``)."""
        return {
            **{
                f.prefix + t: tbl
                for f in self._families
                for t, tbl in f.tables.items()
            },
            "segments": self.segments,
        }

    def _lineage_row(
        self,
        tier: str,
        partition_id: str,
        snapshot_id: str,
        rows_in: int,
        rows_out: int,
        wall_seconds: float,
        bytes_compressed: int = 0,
    ) -> dict:
        return {
            "job_id": self.job_id,
            "spec_hash": self.spec.spec_hash(),
            "tier": tier,
            "partition_id": partition_id,
            "snapshot_id": snapshot_id,
            "rows_in": rows_in,
            "rows_out": rows_out,
            "bytes_compressed": bytes_compressed,
            "wall_seconds": wall_seconds,
            "committed_at": time.time(),
        }

    def _tier_required(self, tier: str, day: str, frontier: str) -> bool:
        """Is ``day`` still inside ``tier``'s retention window (measured
        from the newest committed day, like apply_retention)?"""
        import datetime as dt

        keep_s = (self.spec.retention_seconds or {}).get(tier)
        if keep_s is None:
            return True
        cutoff = dt.date.fromisoformat(frontier) - dt.timedelta(seconds=keep_s)
        return dt.date.fromisoformat(day) >= cutoff

    def _reconcile_done(self, input_days: set[str] | None = None) -> set[str]:
        """A day is DONE iff every tier THAT IS STILL REQUIRED TO HOLD IT
        (i.e. inside that tier's retention window) has it, and the
        segments table (keep-forever) has it. A crash between tier
        commits leaves a day partially committed; those days are
        repaired by deleting their partitions everywhere (metadata-only)
        and recomputing the whole day — snapshot isolation makes the
        repair itself crash-safe.

        Retention-awareness matters (round-1 ADVICE, high): a day whose
        fine-tier partitions were expired BY POLICY is complete, not
        crash-partial — treating it as partial deleted retained
        coarse-tier history and reprocessed expired days forever.

        Repair is restricted to ``input_days`` (round-5 review): a day
        the raw input no longer holds CANNOT be recomputed, so deleting
        its partitions would permanently destroy history instead of
        repairing it — e.g. enabling hist/dist tiers on a long-lived
        store makes every pre-existing day "partial" w.r.t. the new
        (empty) family; days still in the input re-roll with the new
        family included (a deliberate, complete backfill), days the
        input has rotated out are preserved as-is (the new family just
        never covers them)."""
        days = {name: _days(tbl) for name, tbl in self._all_tables().items()}
        present: set[str] = set().union(*days.values())
        if not present:
            return set()
        frontier = max(present)
        complete = {
            d
            for d in present
            if d in days["segments"]
            and all(
                d in days[f.prefix + t] or not self._tier_required(t, d, frontier)
                for f in self._families
                for t in f.tables
            )
        }
        partial = present - complete
        if input_days is not None:
            partial &= input_days
        if partial:
            for table in self._all_tables().values():
                table.delete_partitions(lambda p: p.get("day") in partial)
        return complete

    # ------------------------------------------------------------ #
    def _from_raw(self, family: _Family, raw: DataFrame, tier: str) -> DataFrame:
        """``family``'s ``tier`` rolled from raw input rows."""
        spec = self.spec
        return bucket_rollup(
            raw, family.family.raw, tier, spec.source_col, spec.ts_col
        )

    def _roll_family(
        self,
        family: _Family,
        sel: DataFrame,
        pending: list,
        in_stats: dict,
        in_snap: str,
        lineage_rows: list,
        keep_base: bool = False,
    ) -> tuple[DataFrame, dict, str]:
        """Roll one tier family over the pending days — the base tier from
        raw (ONE Spark job for all pending days), then each coarser tier
        cascaded from the tier below, kept to the pending days. Per tier:
        cache → per-day row counts → append → lineage → mark, releasing
        each tier's cache once the next one is appended (a long-lived
        Spark driver otherwise accumulates block-manager storage across
        run() calls). ``keep_base`` leaves the base tier cached for the
        caller to release.

        Lineage ``rows_in`` is the input rows per day for the base tier
        and the source tier's ``rows_out`` for a cascaded one;
        ``wall_seconds`` is the tier's count + append wall. Returns the
        base tier, its per-day row counts and its snapshot id."""
        spec_hash = self.spec.spec_hash()
        rows_in = {d: s[0] for d, s in in_stats.items()}
        lower = base = None
        for tier in self.spec.tiers:
            if lower is None:
                cur = self._from_raw(family, sel, tier).withColumn(
                    "day", F.to_date("bucket_start")
                )
            else:
                cur = bucket_rollup(lower.drop("day"), family.family.merge, tier)
                cur = cur.withColumn("day", F.to_date("bucket_start")).where(
                    F.col("day").isin(pending)
                )
            cur = cur.cache()
            t0 = time.perf_counter()
            rows_out = {
                str(r["day"]): r["rows"]
                for r in cur.groupBy("day")
                .agg(F.count(F.lit(1)).alias("rows"))
                .collect()
            }
            snap = family.tables[tier].append(cur)
            wall = time.perf_counter() - t0
            name = family.prefix + tier
            lineage_rows += [
                self._lineage_row(
                    name, d, snap, rows_in.get(d, 0), rows_out.get(d, 0), wall
                )
                for d in pending
            ]
            self.state.mark(spec_hash, in_snap, [(name, d) for d in pending])
            if lower is None:
                base = (cur, rows_out, snap)
            elif lower is not base[0] or not keep_base:
                lower.unpersist()
            lower, rows_in = cur, rows_out
        if lower is not base[0] or not keep_base:
            lower.unpersist()
        return base

    def run(self, max_partitions: int | None = None) -> dict:
        """Process up to ``max_partitions`` pending input days (None =
        all); returns a summary. Call again to resume/finish."""
        spec, spark = self.spec, self.spark
        t0 = time.time()
        # resolve the input snapshot FIRST and pin every read to it:
        # a streaming writer committing between "read data" and "record
        # snapshot" must not let fps recorded under the new id describe
        # the old data (round-5 review — the gap batch would never roll)
        in_snap = self.input_snapshot_id()
        import os as _os

        pin = (
            in_snap
            if self.input_table is not None
            and _os.path.exists(
                _os.path.join(
                    self.input_table.root, "snapshots", f"{in_snap}.json"
                )
            )
            else None  # plain-dir input, or empty table (file-walk id)
        )
        inp = self._input(snapshot_id=pin)
        spec_hash = spec.spec_hash()

        # ---- late-data detection (round-1 ADVICE, medium) ----
        # The skip decision is keyed on (spec_hash, per-day input
        # fingerprint), not just output-partition presence: when the
        # global input snapshot changed, ONE _day_stats scan yields the
        # day list, the fingerprints AND the lineage row/token counts;
        # committed days whose fingerprint changed are re-rolled.
        # Unchanged snapshot = fast path: fingerprints are reused and
        # only the (cheap, single-column) day listing is scanned.
        last = self.state.last_input(spec_hash)
        day_stats: dict | None = None
        if last is not None and last.get("snapshot") == in_snap:
            fps = last["fps"]
            all_days = [
                str(r[0])
                for r in inp.select("event_date").distinct().orderBy("event_date").collect()
            ]
        else:
            day_stats, fps, all_days = self._refresh_day_stats(
                inp, last, in_snap=pin
            )
        done = self._reconcile_done(input_days=set(all_days))
        if day_stats is not None and last is not None:
            # only INPUT-PRESENT days can be "changed" (round-5 review):
            # a day the input rotated out is retained history, not late
            # data — deleting it would destroy it with nothing to
            # re-roll from. Every table family is deleted together: a
            # stale hist/dist partition surviving the re-roll would be
            # double-appended (duplicate rows on read).
            changed = {
                d
                for d in done
                if d in fps and fps[d] != last.get("fps", {}).get(d)
            }
            if changed:
                for table in self._all_tables().values():
                    table.delete_partitions(lambda p: p.get("day") in changed)
                done -= changed

        pending = [d for d in all_days if d not in done]
        if max_partitions is not None:
            pending = pending[:max_partitions]
        summary = {
            "job_id": self.job_id,
            "spec_hash": spec_hash,
            "input_snapshot": in_snap,
            "days_total": len(all_days),
            "days_done_before": len(done),
            "days_processed": len(pending),
            "tokens_processed": 0,
        }
        if not pending:
            self.state.record_input(spec_hash, in_snap, fps)
            summary["wall_seconds"] = time.time() - t0
            return summary

        sel = inp.where(F.col("event_date").isin(pending))
        # rows_in + token volume per pending day — already computed by
        # the _day_stats scan on the snapshot-changed path; otherwise
        # one pruned agg over the pending days only
        in_stats = (
            {
                d: (day_stats[d][0], day_stats[d][2])
                for d in pending
                if d in day_stats
            }
            if day_stats is not None
            else {}
        )
        # pending days the (incremental or fast-path) stats pass didn't
        # cover — e.g. never-processed old days outside the delta — get
        # one pruned agg over exactly those days
        missing = [d for d in pending if d not in in_stats]
        if missing:
            in_stats.update(
                {
                    str(r["event_date"]): (r["rows"], r["toks"])
                    for r in sel.where(F.col("event_date").isin(missing))
                    .groupBy("event_date")
                    .agg(
                        F.count(F.lit(1)).alias("rows"),
                        F.sum(spec.value_col).alias("toks"),
                    )
                    .collect()
                }
            )
        summary["tokens_processed"] = int(sum(t for _, t in in_stats.values()))

        # ---- every tier family: core first, then hist / dist ----
        # the core base tier stays cached until its Gorilla segments
        # are appended
        lineage_rows: list = []
        core, *aux = self._families
        agg, base_rows, snap = self._roll_family(
            core, sel, pending, in_stats, in_snap, lineage_rows, keep_base=True
        )
        for family in aux:
            self._roll_family(family, sel, pending, in_stats, in_snap, lineage_rows)

        # ---- Gorilla compression of the configured tier ----
        segs = compress_rollup(
            agg.drop("day"),
            ts_col="bucket_start",
            value_col=spec.compress_value,
            source_col="source",
            with_stats=spec.segment_stats,
        ).cache()
        t_seg = time.perf_counter()
        seg_stats = {
            str(r["day"]): (r["n"], r["b"])
            for r in segs.groupBy("day")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("bytes_compressed").alias("b"))
            .collect()
        }
        ssnap = self.segments.append(segs)
        t_seg = time.perf_counter() - t_seg
        lineage_rows += [
            self._lineage_row(
                f"segments[{spec.compress_tier}]",
                d,
                ssnap,
                base_rows.get(d, 0),
                seg_stats.get(d, (0, 0))[0],
                t_seg,
                int(seg_stats.get(d, (0, 0))[1] or 0),
            )
            for d in pending
        ]
        self.lineage.append(lineage_rows)
        segs.unpersist()
        agg.unpersist()
        self.state.record_input(spec_hash, in_snap, fps)

        # ---- retention: metadata-only expiry per tier ----
        self.apply_retention()

        summary["wall_seconds"] = time.time() - t0
        summary["snapshot_ids"] = {spec.tiers[0]: snap, "segments": ssnap}
        return summary

    # ------------------------------------------------------------ #
    def apply_retention(self) -> None:
        """Tier expiry (north rule): drop day partitions older than the
        tier's retention horizon, metadata-only (manifest rewrite — the
        Iceberg ``DELETE WHERE day < cutoff`` analogue)."""
        import datetime as dt

        for tier, keep_s in (self.spec.retention_seconds or {}).items():
            if keep_s is None or tier not in self.tables:
                continue
            days = _days(self.tables[tier])
            if not days:
                continue
            newest = dt.date.fromisoformat(max(days))
            cutoff = newest - dt.timedelta(seconds=keep_s)
            for family in self._families:
                family.tables[tier].delete_partitions(
                    lambda p: p.get("day")
                    and dt.date.fromisoformat(p["day"]) < cutoff
                )

    # ------------------------------------------------------------ #
    def compact(self, min_files: int = 2) -> dict:
        """Maintenance pass: rewrite fragmented day partitions of every
        tier / histogram / segment table into one file each
        (``SnapshotTable.compact_partitions``) and log one lineage row
        per table (tier=``compact[<table>]``; rows_in/rows_out carry
        files before/after — the rewrite moves files, not rows). Safe to
        run any time: compaction commits snapshots, so a concurrent
        resume sees either the old or the new layout, both complete."""
        reports, rows = {}, []
        for name, table in self._all_tables().items():
            t0 = time.perf_counter()
            rep = table.compact_partitions(self.spark, min_files=min_files)
            reports[name] = rep
            if rep["partitions"]:
                rows.append(
                    self._lineage_row(
                        f"compact[{name}]",
                        f"{rep['partitions']} partitions",
                        rep["snapshot"],
                        rep["files_before"],
                        rep["files_after"],
                        time.perf_counter() - t0,
                    )
                )
        self.lineage.append(rows)
        return reports

    def read_tier(self, tier: str) -> DataFrame:
        return self.tables[tier].read(self.spark)

    def query_compressed(
        self,
        t_from: int | None = None,
        t_to: int | None = None,
        v_from: float | None = None,
        v_to: float | None = None,
    ) -> DataFrame:
        """Point query over the job's compressed segment store with
        chunk-index pruning (requires spec.segment_stats)."""
        if not self.spec.segment_stats:
            raise ValueError("spec.segment_stats is off — no chunk index stored")
        from ..functions.gorilla import query_segments

        return query_segments(
            self.segments.read(self.spark), t_from, t_to, v_from, v_to
        )

    def _route(
        self,
        prefix: str,
        t_from: int,
        t_to: int,
        step_seconds: int,
        realtime: bool = False,
    ) -> DataFrame:
        """The range router shared by every family's range query:
        validate alignment, pick the coarsest maintained tier whose width
        divides the step, read it with MANIFEST-level day pruning, filter
        to the exact bucket range, optionally union the real-time head,
        and re-bucket with the family's merge stage (skipped when the
        step IS the tier width)."""
        import datetime as dt

        from ..operators.rollup import choose_tier

        family = next(f for f in self._families if f.prefix == prefix)
        sec = int(step_seconds)
        if t_from % sec or t_to % sec:
            raise ValueError("t_from/t_to must be multiples of step_seconds")
        if t_to <= t_from:
            raise ValueError("empty range")
        tier = choose_tier(sec, [t for t in self.spec.tiers if t in family.tables])
        d_from = dt.datetime.fromtimestamp(t_from, dt.timezone.utc).date()
        d_to = dt.datetime.fromtimestamp(t_to - 1, dt.timezone.utc).date()

        def _in_range(p: dict) -> bool:
            d = p.get("day")
            return bool(d) and d_from <= dt.date.fromisoformat(d) <= d_to

        try:
            rows = family.tables[tier].read(self.spark, partition_filter=_in_range)
            rows = rows.drop("day")
            epoch = F.col("bucket_start").cast("timestamp").cast("long")
            rows = rows.where((epoch >= t_from) & (epoch < t_to))
        except FileNotFoundError:
            if not realtime:
                raise
            rows = None

        if realtime:
            done = _days(family.tables[tier])
            day = F.col("event_date").cast("string")
            ts_epoch = F.col(self.spec.ts_col).cast("timestamp").cast("long")
            head = self._input().where(
                (day >= str(d_from))
                & (day <= str(d_to))
                & (~day.isin(sorted(done)) if done else F.lit(True))
                & (ts_epoch >= t_from)
                & (ts_epoch < t_to)
            )
            head_rolled = self._from_raw(family, head, tier)
            rows = head_rolled if rows is None else rows.unionByName(head_rolled)

        if sec != TIER_SECONDS[tier]:
            rows = bucket_rollup(rows, family.family.merge, sec)
        return rows

    def query_range(
        self,
        t_from: int,
        t_to: int,
        step_seconds: int,
        realtime: bool = False,
    ) -> DataFrame:
        """Tier-aware range query: (source, step-bucket) core aggregates
        for epoch range ``[t_from, t_to)`` at ``step_seconds`` resolution.

        The router (Thanos downsampled-read / TimescaleDB real-time
        aggregate pattern):

        1. picks the COARSEST maintained tier whose width divides the
           step (``choose_tier``) — a 2h chart reads the 1h tier, not
           60× as many 1m rows, and never raw;
        2. prunes day partitions at the MANIFEST level
           (``SnapshotTable.read(partition_filter=...)``) — days outside
           the range never enter the plan;
        3. re-buckets with the core merge (``rollup_to_step``; skipped
           when the step IS the tier width);
        4. with ``realtime=True``, unions an on-the-fly rollup of input
           days not yet committed to the chosen tier (the un-rolled
           head), so results are as fresh as raw without waiting for the
           next ``run()``.

        ``t_from``/``t_to`` must be step-aligned (exact bucket
        semantics). Days expired from the chosen tier by retention are
        absent from the result — query a coarser step (served by a
        longer-retained tier) for old history.
        """
        return self._route("", t_from, t_to, step_seconds, realtime)

    def query_range_archive(
        self, t_from: int, t_to: int, step_seconds: int
    ) -> DataFrame:
        """Serve history that retention has EXPIRED from the tier tables
        out of the keep-forever Gorilla archive: manifest-pruned day
        partitions → chunk-index-pruned blob decode (``query_segments``)
        → re-bucket the decoded ``compress_tier`` points to ``step``.

        Re-bucket rule per compressed value: cnt/sum compose by SUM,
        min/max by MIN/MAX, and rate by mass — ``sum(rate·tier_sec)/
        step`` (gap buckets carry zero mass, so sparsity is exact).
        The rate path round-trips through one IEEE divide/multiply, so
        results match a from-raw rollup to ~1 ulp, not bitwise.
        Returns (source, bucket_start, value)."""
        import datetime as dt

        from ..functions.gorilla import query_segments

        if not self.spec.segment_stats:
            raise ValueError("spec.segment_stats is off — no chunk index stored")
        sec = int(step_seconds)
        if t_from % sec or t_to % sec:
            raise ValueError("t_from/t_to must be multiples of step_seconds")
        base_sec = TIER_SECONDS[self.spec.compress_tier]
        if sec % base_sec:
            raise ValueError(
                f"step must be a multiple of the compressed tier ({base_sec}s)"
            )
        d_from = dt.datetime.fromtimestamp(t_from, dt.timezone.utc).date()
        d_to = dt.datetime.fromtimestamp(t_to - 1, dt.timezone.utc).date()

        def _in_range(p: dict) -> bool:
            d = p.get("day")
            return bool(d) and d_from <= dt.date.fromisoformat(d) <= d_to

        segs = self.segments.read(self.spark, partition_filter=_in_range)
        pts = query_segments(segs, t_from=t_from, t_to=t_to - 1)
        v = self.spec.compress_value
        if v == "rate":
            agg = (F.sum(F.col("value") * F.lit(float(base_sec))) / F.lit(float(sec)))
        elif v in ("cnt", "sum_n_tok"):
            agg = F.sum("value")
        elif v == "min_n_tok":
            agg = F.min("value")
        elif v == "max_n_tok":
            agg = F.max("value")
        else:
            raise ValueError(f"no archive re-bucket rule for {v!r}")
        def stage(df, _sec):  # decoded points carry a LONG epoch second "ts"
            ts = F.timestamp_seconds("ts")
            return df.withColumn("ts", ts), [], [agg.alias("value")], ["value"]

        return bucket_rollup(pts, stage, sec, ts_col="ts")

    def query_range_quantiles(
        self,
        t_from: int,
        t_to: int,
        step_seconds: int,
        qs: tuple = (0.5, 0.95, 0.99),
    ) -> DataFrame:
        """Range-routed percentiles: serve (source, step-bucket)
        quantiles for ``[t_from, t_to)`` from the coarsest maintained
        HISTOGRAM tier whose width divides the step — same router as
        ``query_range``, exact count-merge re-bucketing, then the type-1
        quantile extraction. Requires ``RollupSpec.hist_bin_width``."""
        if not self.hist_tables:
            raise ValueError("no histogram tiers (set RollupSpec.hist_bin_width)")
        from ..operators.histquantile import hist_quantiles

        rows = self._route("hist_", t_from, t_to, step_seconds)
        return hist_quantiles(rows, qs=qs, bin_width=self.spec.hist_bin_width)

    def query_range_distinct(
        self, t_from: int, t_to: int, step_seconds: int
    ) -> DataFrame:
        """Range-routed distinct counts: serve (source, step-bucket)
        HLL estimates for ``[t_from, t_to)`` from the coarsest
        maintained DISTINCT tier whose width divides the step — sketch
        unions are lossless, so the estimate equals a one-pass sketch
        over the same raw rows. Requires ``RollupSpec.distinct_col``."""
        if not self.dist_tables:
            raise ValueError("no distinct tiers (set RollupSpec.distinct_col)")
        from ..operators.distinct import hll_estimates

        return hll_estimates(self._route("dist_", t_from, t_to, step_seconds))

    def read_hist_quantiles(self, tier: str, qs: tuple = (0.5, 0.95, 0.99)) -> DataFrame:
        """Quantiles from the maintained histogram tier (requires
        spec.hist_bin_width)."""
        if tier not in self.hist_tables:
            raise ValueError(
                f"no histogram tier {tier!r} (set RollupSpec.hist_bin_width)"
            )
        from ..operators.histquantile import hist_quantiles

        return hist_quantiles(
            self.hist_tables[tier].read(self.spark).drop("day"),
            qs=qs,
            bin_width=self.spec.hist_bin_width,
        )

    def read_distinct(self, tier: str) -> DataFrame:
        """Distinct-count estimates from the maintained HLL tier
        (requires RollupSpec.distinct_col). Exact while per-bucket
        cardinality stays in the sketch's coupon range; ±~1% beyond."""
        if tier not in self.dist_tables:
            raise ValueError(
                f"no distinct tier {tier!r} (set RollupSpec.distinct_col)"
            )
        from ..operators.distinct import hll_estimates

        return hll_estimates(self.dist_tables[tier].read(self.spark).drop("day"))

    def read_tier_dense(self, tier: str) -> DataFrame:
        return gapfill(
            self.tables[tier].read(self.spark).drop("day"), TIER_SECONDS[tier]
        )
