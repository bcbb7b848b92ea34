"""Resume correctness: a job killed between partitions resumes from the
snapshot checkpoint and produces outputs identical to a single run;
lineage rows reconcile with the input (north-rule requirements)."""

from __future__ import annotations

import pandas as pd
import pytest

from getml_community_spark.checkpoint import SnapshotTable
from getml_community_spark.datagen import write_corpus_parquet
from getml_community_spark.plans import RollupJob, RollupSpec

from .conftest import assert_frames_equal_unordered


@pytest.fixture(scope="module")
def corpus_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("corpus") / "corpus")
    write_corpus_parquet(spark, 3000, p, with_tokens=False)
    return p


def _run_full(spark, corpus_path, out):
    job = RollupJob(spark, RollupSpec(), corpus_path, out)
    s = job.run()
    return job, s


def test_resume_equals_single_run(spark, corpus_path, tmp_path):
    single = str(tmp_path / "single")
    resumed = str(tmp_path / "resumed")

    job1, s1 = _run_full(spark, corpus_path, single)
    assert s1["days_processed"] == s1["days_total"] == 14

    # simulated kill: process only 4 days, then "restart" with a fresh
    # job object and finish
    job2a = RollupJob(spark, RollupSpec(), corpus_path, resumed)
    sa = job2a.run(max_partitions=4)
    assert sa["days_processed"] == 4
    job2b = RollupJob(spark, RollupSpec(), corpus_path, resumed)
    sb = job2b.run()
    assert sb["days_done_before"] == 4
    assert sb["days_processed"] == 10
    # idempotent: third run is a no-op
    sc = RollupJob(spark, RollupSpec(), corpus_path, resumed).run()
    assert sc["days_processed"] == 0

    for tier in ("1m", "1h", "1d"):
        a = job1.read_tier(tier).drop("day").toPandas()
        b = job2b.read_tier(tier).drop("day").toPandas()
        assert_frames_equal_unordered(a, b, ["source", "bucket_start"])

    # segments identical too (blob bytes equal)
    sa_ = job1.segments.read(spark).select("source", "day", "data").toPandas()
    sb_ = job2b.segments.read(spark).select("source", "day", "data").toPandas()
    sa_ = sa_.sort_values(["source", "day"]).reset_index(drop=True)
    sb_ = sb_.sort_values(["source", "day"]).reset_index(drop=True)
    assert len(sa_) == len(sb_)
    assert (sa_["data"].map(bytes) == sb_["data"].map(bytes)).all()


@pytest.fixture(scope="module")
def all_families_job(spark, corpus_path, tmp_path_factory):
    """One full run with the core, hist and dist tier families on."""
    out = str(tmp_path_factory.mktemp("lin") / "lin")
    spec = RollupSpec(hist_bin_width=16.0, distinct_col="doc_id")
    job = RollupJob(spark, spec, corpus_path, out)
    job.run()
    return job


def test_lineage_reconciles(spark, corpus_path, all_families_job):
    job = all_families_job
    lin = job.lineage.read_pandas()
    # Σ rows_in over 1m lineage == input rows
    rows_in = lin[lin["tier"] == "1m"]["rows_in"].sum()
    n_input = spark.read.parquet(corpus_path).count()
    assert rows_in == n_input
    for prefix in ("", "hist_", "dist_"):
        per_day = {
            t: lin[lin["tier"] == prefix + t].set_index("partition_id")
            for t in job.spec.tiers
        }
        # per-tier rows_out equals table row counts
        tables = job._all_tables()
        for t in job.spec.tiers:
            n_rows = tables[prefix + t].read(spark).count()
            assert per_day[t]["rows_out"].sum() == n_rows, prefix + t
        # every cascaded tier's rows_in per day is the rows_out of the
        # tier it was rolled from (1d from 1h, not from 1m)
        for finer, coarser in zip(job.spec.tiers, job.spec.tiers[1:]):
            src, dst = per_day[finer], per_day[coarser]
            assert (dst["rows_in"] == src["rows_out"].reindex(dst.index)).all(), (
                prefix + coarser
            )
        # base tiers of every family read the input rows
        assert per_day["1m"]["rows_in"].sum() == n_input, prefix
    # segment lineage: bytes_compressed recorded and positive overall
    seg = lin[lin["tier"].str.startswith("segments")]
    assert seg["bytes_compressed"].sum() > 0
    # every lineage row carries a snapshot id
    assert lin["snapshot_id"].notna().all()


def test_run_lineage_records_wall_seconds(all_families_job):
    """Every lineage row run() writes (each family's tiers and the
    segments) carries the tier's measured count + append wall."""
    lin = all_families_job.lineage.read_pandas()
    tiers = set(lin["tier"])
    assert {"1d", "hist_1d", "dist_1d"} <= tiers
    assert any(t.startswith("segments") for t in tiers)
    assert (lin["wall_seconds"] > 0).all(), lin[lin["wall_seconds"] <= 0]


def test_retention_expires_partitions(spark, corpus_path, tmp_path):
    out = str(tmp_path / "ret")
    spec = RollupSpec(retention_seconds={"1m": 5 * 86400, "1h": None, "1d": None})
    job = RollupJob(spark, spec, corpus_path, out)
    job.run()
    days_1m = sorted(
        p["day"] for p in job.tables["1m"].partitions() if p.get("day")
    )
    # newest day minus 5d cutoff: only ~6 day partitions survive (cutoff
    # day inclusive)
    assert len(days_1m) <= 6, days_1m
    # coarser tiers untouched
    assert len({p["day"] for p in job.tables["1d"].partitions()}) == 14
    # expiry was metadata-only: parquet files still on disk, snapshot
    # history still has the full set
    import glob

    assert glob.glob(f"{out}/agg_1m/data/*/day=*/*.parquet")


def test_snapshot_isolation_time_travel(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "tt"), partition_by=[])
    df1 = spark.range(3).toDF("x")
    s1 = t.append(df1)
    s2 = t.append(spark.range(10, 12).toDF("x"))
    assert t.read(spark).count() == 5
    assert t.read(spark, snapshot_id=s1).count() == 3  # time travel
    assert t.current_snapshot_id() == s2


def test_retention_expiry_is_not_crash_partial(spark, corpus_path, tmp_path):
    """Round-1 ADVICE (high): after apply_retention expired old 1m day
    partitions, a second run must NOT classify those days as partially
    committed — before the fix it reprocessed them (days_processed > 0)
    and deleted retained keep-forever 1d history."""
    out = str(tmp_path / "ret2")
    spec = RollupSpec(retention_seconds={"1m": 5 * 86400, "1h": None, "1d": None})
    job = RollupJob(spark, spec, corpus_path, out)
    s1 = job.run()
    assert s1["days_processed"] == 14
    days_1d_before = {p["day"] for p in job.tables["1d"].partitions()}
    assert len(days_1d_before) == 14

    # second run on UNCHANGED input: nothing to do, nothing destroyed
    job2 = RollupJob(spark, spec, corpus_path, out)
    s2 = job2.run()
    assert s2["days_processed"] == 0, s2
    assert {p["day"] for p in job2.tables["1d"].partitions()} == days_1d_before
    # 1m stays expired (retention respected, not refilled)
    assert len({p["day"] for p in job2.tables["1m"].partitions()}) <= 6


def test_late_input_rows_trigger_reroll(spark, corpus_path, tmp_path):
    """Round-1 ADVICE (medium): appending late rows for an already-
    committed day must re-roll that day (input-fingerprint keyed skip),
    keeping the lineage invariant rows_in == input rows."""
    import shutil

    import pyspark.sql.functions as F

    inp = str(tmp_path / "inp")
    shutil.copytree(corpus_path, inp)
    out = str(tmp_path / "late")
    job = RollupJob(spark, RollupSpec(), inp, out)
    job.run()
    before = (
        job.read_tier("1d").groupBy("day").agg(F.sum("cnt").alias("c")).toPandas()
    )

    # late data: append a copy of one committed day's rows (doubling it).
    # Materialize first — a lazy self-referential read-append on the
    # same path silently writes nothing.
    full = spark.read.parquet(inp)
    d0 = full.selectExpr("min(to_date(event_time))").collect()[0][0]
    late_pdf = full.where(F.to_date("event_time") == d0).toPandas()
    spark.createDataFrame(late_pdf).write.mode("append").partitionBy(
        "event_date"
    ).parquet(inp)

    job2 = RollupJob(spark, RollupSpec(), inp, out)
    s2 = job2.run()
    assert s2["days_processed"] == 1, s2  # exactly the changed day re-rolled
    after = (
        job2.read_tier("1d").groupBy("day").agg(F.sum("cnt").alias("c")).toPandas()
    )
    b = before.set_index(before["day"].astype(str))["c"]
    a = after.set_index(after["day"].astype(str))["c"]
    changed = sorted(d for d in a.index if a[d] != b.get(d))
    assert len(changed) == 1
    assert a[changed[0]] == 2 * b[changed[0]]

    # third run, input unchanged: fast path, nothing reprocessed
    assert RollupJob(spark, RollupSpec(), inp, out).run()["days_processed"] == 0


def test_partition_values_roundtrip_escapes_and_nulls(spark, tmp_path):
    """Round-1 ADVICE (low): partition values with spaces/'='/non-ASCII
    and NULLs must round-trip through the manifest, and partition
    columns come back with their original types."""
    import pyspark.sql.functions as F

    t = SnapshotTable(str(tmp_path / "esc"), partition_by=["k"])
    df = spark.createDataFrame(
        [("a b=c", 1), ("naïve", 2), (None, 3)], ["k", "x"]
    )
    t.append(df)
    got = t.read(spark).orderBy("x").collect()
    assert [r["k"] for r in got] == ["a b=c", "naïve", None]
    assert dict(t.read(spark).dtypes)["k"] == "string"

    # typed partition column (date) comes back as date, not string
    t2 = SnapshotTable(str(tmp_path / "typed"), partition_by=["day"])
    d2 = spark.range(2).withColumn("day", F.to_date(F.lit("2024-01-08")))
    t2.append(d2)
    assert dict(t2.read(spark).dtypes)["day"] == "date"


def test_expire_snapshots_and_remove_orphans(spark, tmp_path):
    """Iceberg-style maintenance: expired snapshot manifests disappear
    (time travel to them fails, current reads keep working); orphaned
    data dirs — referenced by NO kept snapshot — are removed, while
    live data survives."""
    import os

    import pytest

    t = SnapshotTable(str(tmp_path / "m"), partition_by=["day"])
    import pyspark.sql.functions as F

    a = spark.range(3).withColumn("day", F.lit("2024-01-01"))
    b = spark.range(5).withColumn("day", F.lit("2024-01-02"))
    s1 = t.append(a)
    s2 = t.append(b)
    # drop day-1 everywhere → append-dir of `a` becomes orphaned once s1/s2 expire
    t.delete_partitions(lambda p: p.get("day") == "2024-01-01")
    assert t.read(spark).count() == 5

    stats = t.expire_snapshots(keep_last=1, remove_orphan_data=True)
    assert stats["expired_snapshots"] == 2  # s1 and s2
    assert stats["removed_data_dirs"] == 1  # a's append dir
    assert t.read(spark).count() == 5  # current snapshot intact
    with pytest.raises(FileNotFoundError):
        t.read(spark, snapshot_id=s1)
    with pytest.raises(FileNotFoundError):
        t._load(s2)
    # data dir for b still present
    assert any(os.scandir(os.path.join(t.root, "data")))


def test_hist_tiers_maintained_resumable_and_expired(spark, corpus_path, tmp_path):
    """RollupSpec.hist_bin_width adds mergeable histogram tiers to the
    job: content equals a direct hist_rollup_from_raw over the input at
    every tier (exact cascade), resume across a simulated kill matches
    a single run, lineage carries hist_* rows, quantiles read through
    read_hist_quantiles, and retention expires hist partitions with the
    core tier."""
    from getml_community_spark.operators.histquantile import (
        hist_rollup_from_raw,
    )

    spec = RollupSpec(
        hist_bin_width=16.0,
        retention_seconds={"1m": 5 * 86400, "1h": None, "1d": None},
    )
    single = str(tmp_path / "hsingle")
    resumed = str(tmp_path / "hresumed")

    job1 = RollupJob(spark, spec, corpus_path, single)
    s1 = job1.run()
    assert s1["days_processed"] == s1["days_total"]

    # kill after 4 days, restart, finish
    ja = RollupJob(spark, spec, corpus_path, resumed)
    assert ja.run(max_partitions=4)["days_processed"] == 4
    jb = RollupJob(spark, spec, corpus_path, resumed)
    sb = jb.run()
    assert sb["days_done_before"] == 4
    assert RollupJob(spark, spec, corpus_path, resumed).run()["days_processed"] == 0

    raw = spark.read.parquet(corpus_path)
    for tier in ("1h", "1d"):  # 1m partially expired by retention
        want = hist_rollup_from_raw(raw, tier, bin_width=16.0).toPandas()
        a = job1.hist_tables[tier].read(spark).drop("day").toPandas()
        b = jb.hist_tables[tier].read(spark).drop("day").toPandas()
        assert_frames_equal_unordered(a, want, ["source", "bucket_start", "bin"])
        assert_frames_equal_unordered(b, want, ["source", "bucket_start", "bin"])

    # retention expired the same 1m days from core AND hist tables
    core_days = {p["day"] for p in job1.tables["1m"].partitions()}
    hist_days = {p["day"] for p in job1.hist_tables["1m"].partitions()}
    assert core_days == hist_days
    assert len(core_days) < s1["days_total"]  # something actually expired

    # lineage has one hist row per (tier, day)
    lin = job1.lineage.read_pandas()
    hist_rows = lin[lin["tier"].str.startswith("hist_")]
    assert len(hist_rows) == 3 * s1["days_total"]
    base_rows = hist_rows[hist_rows["tier"] == "hist_1m"]
    assert (base_rows["rows_in"] > 0).all()

    # quantile reader works over the maintained tier
    q = job1.read_hist_quantiles("1h", qs=(0.5, 0.99)).toPandas()
    assert {"p50", "p99", "cnt"} <= set(q.columns) and len(q) > 0


def test_job_segment_chunk_index_query(spark, corpus_path, tmp_path):
    """The job's segment store carries the chunk index by default and
    query_compressed prunes + matches a full decode-filter."""
    from pyspark.sql import functions as F

    from getml_community_spark.functions.gorilla import decompress_segments

    out = str(tmp_path / "qjob")
    job = RollupJob(spark, RollupSpec(), corpus_path, out)
    job.run()
    segs = job.segments.read(spark)
    assert {"t_min", "t_max", "v_min", "v_max"} <= set(segs.columns)

    days = sorted(p["day"] for p in job.segments.partitions())
    import datetime as dt

    mid = dt.date.fromisoformat(days[len(days) // 2])
    t_from = int(dt.datetime(mid.year, mid.month, mid.day, tzinfo=dt.timezone.utc).timestamp())
    t_to = t_from + 86400 - 1
    got = job.query_compressed(t_from=t_from, t_to=t_to).toPandas()
    want = (
        decompress_segments(segs)
        .where((F.col("ts") >= t_from) & (F.col("ts") <= t_to))
        .toPandas()
    )
    key = ["source", "ts"]
    got = got.sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)
    assert got.equals(want) and len(got) > 0


# --------------------------------------------------------------------- #
# tier-aware range-query router
# --------------------------------------------------------------------- #
EPOCH_2025 = 1735689600  # corpus origin (datagen.EPOCH_START)


def test_choose_tier_picks_coarsest_divisor():
    from getml_community_spark.operators.rollup import choose_tier

    assert choose_tier(60) == "1m"
    assert choose_tier(180) == "1m"  # 180 % 3600 != 0 — 1h can't serve it
    assert choose_tier(7200) == "1h"
    assert choose_tier(86400) == "1d"
    assert choose_tier(2 * 86400) == "1d"
    with pytest.raises(ValueError):
        choose_tier(90)  # no tier divides 90s
    with pytest.raises(ValueError):
        choose_tier(0)


def test_query_range_matches_raw_and_prunes(spark, corpus_path, tmp_path):
    """query_range == a from-scratch rollup of the raw rows in range,
    and the pruned read only plans files for in-range day partitions."""
    from pyspark.sql import functions as F

    from getml_community_spark.operators.rollup import (
        rollup_from_raw,
        rollup_to_step,
    )

    out = str(tmp_path / "router")
    job = RollupJob(spark, RollupSpec(), corpus_path, out)
    job.run()

    t0 = EPOCH_2025 + 3 * 86400  # day 4, midnight (2h-aligned)
    t1 = EPOCH_2025 + 5 * 86400 + 6 * 7200  # into day 6
    got = job.query_range(t0, t1, 7200).toPandas()

    raw = spark.read.parquet(corpus_path)
    ep = F.col("event_time").cast("timestamp").cast("long")
    want = rollup_to_step(
        rollup_from_raw(raw.where((ep >= t0) & (ep < t1)), "1m"), 7200
    ).toPandas()
    assert_frames_equal_unordered(got, want, ["source", "bucket_start"])
    assert len(got) > 0

    # manifest pruning: only in-range day dirs appear in the plan
    import datetime as dt

    def keep(p):
        return p.get("day") and "2025-01-04" <= p["day"] <= "2025-01-06"

    pruned = job.tables["1h"].read(spark, partition_filter=keep)
    files = pruned.inputFiles()
    assert files and all(
        any(f"day={d}" in f for d in ("2025-01-04", "2025-01-05", "2025-01-06"))
        for f in files
    )
    # empty prune returns a typed empty frame
    none = job.tables["1h"].read(spark, partition_filter=lambda p: False)
    assert none.count() == 0 and "bucket_start" in none.columns

    # unaligned range is rejected
    with pytest.raises(ValueError):
        job.query_range(t0 + 1, t1, 7200)

    # plan shape: the whole routed query is ONE shuffle (the re-bucket
    # aggregation) over JVM-only operators
    plan = (
        job.query_range(t0, t1, 7200)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") <= 1
    assert "Python" not in plan


def test_query_range_realtime_head(spark, corpus_path, tmp_path):
    """With only 10 of 14 days committed, realtime=True serves the
    un-rolled head from raw and matches a full from-scratch rollup;
    realtime=False sees only committed buckets."""
    from pyspark.sql import functions as F

    from getml_community_spark.operators.rollup import rollup_from_raw

    out = str(tmp_path / "rt")
    job = RollupJob(spark, RollupSpec(), corpus_path, out)
    job.run(max_partitions=10)  # days 11..14 pending

    t0 = EPOCH_2025 + 8 * 86400
    t1 = EPOCH_2025 + 14 * 86400
    raw = spark.read.parquet(corpus_path)
    ep = F.col("event_time").cast("timestamp").cast("long")
    want = rollup_from_raw(raw.where((ep >= t0) & (ep < t1)), "1h").toPandas()

    fresh = job.query_range(t0, t1, 3600, realtime=True).toPandas()
    assert_frames_equal_unordered(fresh, want, ["source", "bucket_start"])

    stale = job.query_range(t0, t1, 3600, realtime=False).toPandas()
    assert len(stale) < len(want)
    # after finishing the job, the stale path converges too
    job.run()
    done = job.query_range(t0, t1, 3600).toPandas()
    assert_frames_equal_unordered(done, want, ["source", "bucket_start"])

    # fresh store (never run): realtime serves entirely from raw;
    # non-realtime raises (nothing committed)
    cold = RollupJob(spark, RollupSpec(), corpus_path, str(tmp_path / "cold"))
    cold_df = cold.query_range(t0, t1, 3600, realtime=True).toPandas()
    assert_frames_equal_unordered(cold_df, want, ["source", "bucket_start"])
    with pytest.raises(FileNotFoundError):
        cold.query_range(t0, t1, 3600)


# --------------------------------------------------------------------- #
# compaction (rewrite_data_files)
# --------------------------------------------------------------------- #
def test_compaction_preserves_rows_and_time_travel(spark, corpus_path, tmp_path):
    """compact() rewrites fragmented day partitions into one file each;
    rows are bit-identical before/after; the pre-compaction snapshot
    still reads the old files (time travel); orphan cleanup then drops
    them."""
    out = str(tmp_path / "compact")
    job = RollupJob(spark, RollupSpec(), corpus_path, out)
    job.run(max_partitions=7)
    job.run()  # two appends → several entries + shuffle-task files per day

    table = job.tables["1h"]
    pre_snap = table.current_snapshot_id()
    before = table.read(spark).toPandas()
    files_before = len(table.read(spark).inputFiles())

    reports = job.compact()
    rep = reports["1h"]
    assert rep["partitions"] > 0 and rep["files_after"] < rep["files_before"]
    # one file per compacted day partition
    assert rep["files_after"] == rep["partitions"]

    after = table.read(spark).toPandas()
    assert_frames_equal_unordered(after, before, ["source", "bucket_start"])
    assert len(table.read(spark).inputFiles()) < files_before

    # time travel to the pre-compaction snapshot still works
    old = table.read(spark, snapshot_id=pre_snap).toPandas()
    assert_frames_equal_unordered(old, before, ["source", "bucket_start"])

    # idempotent: nothing left to compact
    assert job.tables["1h"].compact_partitions(spark)["partitions"] == 0

    # lineage rows record the rewrite
    lin = job.lineage.read_pandas()
    comp = lin[lin["tier"] == "compact[1h]"]
    assert len(comp) == 1 and int(comp.iloc[0]["rows_in"]) == rep["files_before"]

    # snapshot expiry + orphan removal reclaims the old files
    table.expire_snapshots(keep_last=1, remove_orphan_data=True)
    again = table.read(spark).toPandas()
    assert_frames_equal_unordered(again, before, ["source", "bucket_start"])
    with pytest.raises(FileNotFoundError):
        table._load(pre_snap)


def test_late_reroll_does_not_duplicate_hist_or_dist(spark, corpus_path, tmp_path):
    """Regression (round 5): the late-data re-roll must also drop the
    changed day's HIST and DIST partitions — leaving them behind
    double-appends the day (duplicate rows on read)."""
    import shutil

    import pyspark.sql.functions as F

    inp = str(tmp_path / "inp")
    shutil.copytree(corpus_path, inp)
    spec = RollupSpec(hist_bin_width=16.0, distinct_col="doc_id")
    out = str(tmp_path / "latehd")
    RollupJob(spark, spec, inp, out).run()

    full = spark.read.parquet(inp)
    d0 = full.selectExpr("min(to_date(event_time))").collect()[0][0]
    late_pdf = full.where(F.to_date("event_time") == d0).toPandas()
    spark.createDataFrame(late_pdf).write.mode("append").partitionBy(
        "event_date"
    ).parquet(inp)

    job = RollupJob(spark, spec, inp, out)
    assert job.run()["days_processed"] == 1

    # hist/dist buckets for the re-rolled day appear exactly once
    for tbl in (job.hist_tables["1h"], job.dist_tables["1h"]):
        df = tbl.read(spark).where(F.col("day") == F.lit(d0))
        key_cols = [c for c in ("source", "bucket_start", "bin") if c in df.columns]
        dup = (
            df.groupBy(*key_cols)
            .agg(F.count(F.lit(1)).alias("n"))
            .where(F.col("n") > 1)
            .count()
        )
        assert dup == 0
    # and the dist estimates still match a from-scratch computation
    from getml_community_spark.operators.distinct import (
        hll_estimates,
        hll_rollup_from_raw,
    )

    want = hll_estimates(
        hll_rollup_from_raw(spark.read.parquet(inp), "1h")
    ).toPandas()
    got = job.read_distinct("1h").toPandas()
    assert_frames_equal_unordered(got, want, ["source", "bucket_start"])


def test_query_range_quantiles_and_distinct(spark, corpus_path, tmp_path):
    """The routed quantile and distinct range queries match from-scratch
    computations over the raw rows in range."""
    from pyspark.sql import functions as F

    from getml_community_spark.operators.distinct import (
        hll_estimates,
        hll_rollup_from_raw,
    )
    from getml_community_spark.operators.histquantile import (
        hist_quantiles,
        hist_rollup_from_raw,
        hist_to_step,
    )

    spec = RollupSpec(hist_bin_width=16.0, distinct_col="doc_id")
    job = RollupJob(spark, spec, corpus_path, str(tmp_path / "qrx"))
    job.run()

    t0 = EPOCH_2025 + 2 * 86400
    t1 = EPOCH_2025 + 5 * 86400
    raw = spark.read.parquet(corpus_path)
    ep = F.col("event_time").cast("timestamp").cast("long")
    sel = raw.where((ep >= t0) & (ep < t1))

    got_q = job.query_range_quantiles(t0, t1, 7200, qs=(0.5, 0.99)).toPandas()
    want_q = hist_quantiles(
        hist_to_step(hist_rollup_from_raw(sel, "1m", bin_width=16.0), 7200),
        qs=(0.5, 0.99),
        bin_width=16.0,
    ).toPandas()
    assert_frames_equal_unordered(got_q, want_q, ["source", "bucket_start"])
    assert len(got_q) > 0

    got_d = job.query_range_distinct(t0, t1, 86400).toPandas()
    want_d = hll_estimates(hll_rollup_from_raw(sel, "1d")).toPandas()
    assert_frames_equal_unordered(got_d, want_d, ["source", "bucket_start"])
    assert len(got_d) > 0

    # unconfigured families raise a clear error
    bare = RollupJob(spark, RollupSpec(), corpus_path, str(tmp_path / "bare"))
    with pytest.raises(ValueError):
        bare.query_range_quantiles(t0, t1, 7200)
    with pytest.raises(ValueError):
        bare.query_range_distinct(t0, t1, 7200)


# --------------------------------------------------------------------- #
# round-5 review regressions
# --------------------------------------------------------------------- #
def test_enabling_new_family_backfills_without_destroying_history(
    spark, corpus_path, tmp_path
):
    """Turning on hist/dist tiers for an existing store must re-roll
    (backfill) days still present in the input — and PRESERVE days the
    input has rotated out instead of deleting unrecoverable history."""
    import shutil

    import pyspark.sql.functions as F

    inp = str(tmp_path / "inp")
    shutil.copytree(corpus_path, inp)
    out = str(tmp_path / "fam")
    RollupJob(spark, RollupSpec(), inp, out).run()

    # rotate the oldest day OUT of the raw input (upstream retention)
    gone = sorted(
        d for d in __import__("os").listdir(inp) if d.startswith("event_date=")
    )[0]
    gone_day = gone.split("=", 1)[1]
    shutil.rmtree(f"{inp}/{gone}")

    before_1d = RollupJob(spark, RollupSpec(), inp, out).read_tier("1d")
    n_gone = before_1d.where(F.col("day") == F.lit(gone_day)).count()
    assert n_gone > 0

    # enable BOTH new families on the existing store
    spec = RollupSpec(hist_bin_width=16.0, distinct_col="doc_id")
    job = RollupJob(spark, spec, inp, out)
    s = job.run()
    # input-present days re-rolled with the new families included
    assert s["days_processed"] == 13, s
    assert len({p["day"] for p in job.hist_tables["1h"].partitions()}) == 13
    assert len({p["day"] for p in job.dist_tables["1h"].partitions()}) == 13
    # the rotated-out day's core history survived untouched
    after_1d = job.read_tier("1d")
    assert after_1d.where(F.col("day") == F.lit(gone_day)).count() == n_gone
    # stable: a second run does nothing
    assert RollupJob(spark, spec, inp, out).run()["days_processed"] == 0


def test_input_rotation_preserves_committed_days(spark, corpus_path, tmp_path):
    """A day disappearing from the raw input (snapshot change, same
    spec) is retained history — it must be neither deleted nor treated
    as late data."""
    import os
    import shutil

    import pyspark.sql.functions as F

    inp = str(tmp_path / "inp")
    shutil.copytree(corpus_path, inp)
    out = str(tmp_path / "rot")
    job0 = RollupJob(spark, RollupSpec(), inp, out)
    job0.run()
    total_1d = job0.read_tier("1d").count()

    gone = sorted(d for d in os.listdir(inp) if d.startswith("event_date="))[0]
    shutil.rmtree(f"{inp}/{gone}")

    job = RollupJob(spark, RollupSpec(), inp, out)
    s = job.run()
    assert s["days_processed"] == 0, s
    assert job.read_tier("1d").count() == total_1d  # nothing lost
    gone_day = gone.split("=", 1)[1]
    assert (
        job.read_tier("1d").where(F.col("day") == F.lit(gone_day)).count() > 0
    )


def test_segments_schema_evolution_mixed_chunk_index(spark, corpus_path, tmp_path):
    """A store whose older segments predate the chunk index keeps
    working after the index is enabled: old entries read back with NULL
    metadata and query_segments decodes-not-prunes them."""
    import shutil

    import pyspark.sql.functions as F

    from getml_community_spark.functions.gorilla import decompress_segments

    inp = str(tmp_path / "inp")
    shutil.copytree(corpus_path, inp)
    # drop the newest 7 days for the first (pre-index) epoch
    import os

    days = sorted(d for d in os.listdir(inp) if d.startswith("event_date="))
    held_back = str(tmp_path / "held")
    os.makedirs(held_back)
    for d in days[7:]:
        shutil.move(f"{inp}/{d}", f"{held_back}/{d}")

    out = str(tmp_path / "mix")
    RollupJob(spark, RollupSpec(segment_stats=False), inp, out).run()

    # upstream delivers the rest; the store is now maintained WITH stats
    for d in days[7:]:
        shutil.move(f"{held_back}/{d}", f"{inp}/{d}")
    job = RollupJob(spark, RollupSpec(segment_stats=True), inp, out)
    s = job.run()
    assert s["days_processed"] == 7, s

    segs = job.segments.read(spark)
    assert {"t_min", "t_max"} <= set(segs.columns)
    n_null = segs.where(F.col("t_min").isNull()).count()
    assert n_null > 0  # pre-index entries surfaced as NULL metadata

    # pruned query == decode-everything-filter, across the mixed store
    import datetime as dt

    mid = dt.date.fromisoformat(sorted(p["day"] for p in job.segments.partitions())[3])
    t0 = int(dt.datetime(mid.year, mid.month, mid.day, tzinfo=dt.timezone.utc).timestamp())
    t1 = t0 + 86400 - 1
    got = job.query_compressed(t_from=t0, t_to=t1).toPandas()
    want = (
        decompress_segments(segs)
        .where((F.col("ts") >= t0) & (F.col("ts") <= t1))
        .toPandas()
    )
    got = got.sort_values(["source", "ts"]).reset_index(drop=True)
    want = want.sort_values(["source", "ts"]).reset_index(drop=True)
    assert got.equals(want) and len(got) > 0


def test_concurrent_append_and_compact_lose_nothing(spark, tmp_path):
    """The writer lock + commit-time revalidation: appends racing a
    compaction all survive in the final manifest."""
    import threading

    t = SnapshotTable(str(tmp_path / "race"), partition_by=["day"])
    import pyspark.sql.functions as F

    def mkdf(day, lo):
        return (
            spark.range(lo, lo + 50)
            .toDF("x")
            .withColumn("day", F.lit(day))
            .repartition(4)
        )

    t.append(mkdf("2025-01-01", 0))
    t.append(mkdf("2025-01-01", 100))  # fragmented: 2 entries

    errs = []

    def do_compact():
        try:
            t.compact_partitions(spark)
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    def do_append():
        try:
            t.append(mkdf("2025-01-02", 200))
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    threads = [threading.Thread(target=do_compact), threading.Thread(target=do_append)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs, errs
    final = t.read(spark)
    assert final.count() == 150  # 100 (compacted) + 50 (raced append)
    days = {p["day"] for p in t.partitions()}
    assert days == {"2025-01-01", "2025-01-02"}


def test_query_range_archive_serves_expired_history(spark, corpus_path, tmp_path):
    """History expired from every tier by retention is still servable
    from the compressed archive, matching a from-raw rollup to float
    tolerance (the rate path round-trips one IEEE divide)."""
    from pyspark.sql import functions as F

    from getml_community_spark.operators.rollup import (
        rollup_from_raw,
        rollup_to_step,
    )

    spec = RollupSpec(
        retention_seconds={"1m": 4 * 86400, "1h": 4 * 86400, "1d": 4 * 86400}
    )
    job = RollupJob(spark, spec, corpus_path, str(tmp_path / "arch"))
    job.run()

    # a range older than every retention window: expired from the tiers
    t0 = EPOCH_2025 + 1 * 86400
    t1 = EPOCH_2025 + 3 * 86400
    assert job.query_range(t0, t1, 7200).count() == 0  # tiers expired

    got = job.query_range_archive(t0, t1, 7200).toPandas()
    raw = spark.read.parquet(corpus_path)
    ep = F.col("event_time").cast("timestamp").cast("long")
    want = (
        rollup_to_step(
            rollup_from_raw(raw.where((ep >= t0) & (ep < t1)), "1m"), 7200
        )
        .select("source", "bucket_start", F.col("rate").alias("value"))
        .toPandas()
    )
    assert len(got) > 0
    assert_frames_equal_unordered(
        got, want, ["source", "bucket_start"], rtol=1e-12
    )


def test_incremental_changes_appends_only(spark, tmp_path):
    from pyspark.sql import functions as F

    t = SnapshotTable(str(tmp_path / "inc"), partition_by=["day"])
    mk = lambda day, lo, hi: (
        spark.range(lo, hi).toDF("x").withColumn("day", F.lit(day))
    )
    s1 = t.append(mk("d1", 0, 3))
    s2 = t.append(mk("d2", 10, 14))
    s3 = t.append(mk("d1", 3, 5))

    # delta s1→HEAD = the two later appends, no rescan of s1's rows
    got = t.changes(spark, s1).toPandas()
    assert sorted(got.x.tolist()) == [3, 4, 10, 11, 12, 13]
    # bounded delta s1→s2
    got2 = t.changes(spark, s1, to_snapshot_id=s2).toPandas()
    assert sorted(got2.x.tolist()) == [10, 11, 12, 13]
    # empty delta is an empty typed frame, not an error
    empty = t.changes(spark, s3)
    assert empty.count() == 0
    assert set(empty.columns) == {"x", "day"}

    # retention (delete) snapshots add nothing
    t.delete_partitions(lambda p: p["day"] == "d2")
    got3 = t.changes(spark, s3).toPandas()
    assert got3.empty

    # a later append after the delete is still an append-only delta
    t.append(mk("d3", 100, 102))
    got4 = t.changes(spark, s3).toPandas()
    assert sorted(got4.x.tolist()) == [100, 101]


def test_incremental_changes_delete_semantics(spark, tmp_path):
    """r6 (r5 ADVICE #1): a retention delete between the consumer's
    base and HEAD removes rows the consumer may already hold.
    on_delete='skip' (default, append-only readers) ignores it;
    on_delete='error' raises so fingerprint-reusing reconciles fall
    back to a full scan instead of silently keeping stale state."""
    from pyspark.sql import functions as F

    t = SnapshotTable(str(tmp_path / "incdel"), partition_by=["day"])
    mk = lambda day, lo, hi: (
        spark.range(lo, hi).toDF("x").withColumn("day", F.lit(day))
    )
    s1 = t.append(mk("d1", 0, 3))
    t.append(mk("d2", 10, 12))
    t.delete_partitions(lambda p: p["day"] == "d2")
    # default append-only semantics unchanged
    assert sorted(t.changes(spark, s1).toPandas().x.tolist()) == [10, 11]
    with pytest.raises(ValueError, match="delete"):
        t.changes(spark, s1, on_delete="error")
    # no delete in the window → error-mode behaves like skip
    s_after = t.current_snapshot_id()
    t.append(mk("d3", 20, 21))
    assert t.changes(spark, s_after, on_delete="error").toPandas().x.tolist() == [20]


def test_incremental_changes_replace_semantics(spark, tmp_path):
    from pyspark.sql import functions as F

    t = SnapshotTable(str(tmp_path / "inc2"), partition_by=["day"])
    mk = lambda day, lo, hi: (
        spark.range(lo, hi).toDF("x").withColumn("day", F.lit(day))
    )
    s1 = t.append(mk("d1", 0, 3))
    t.append(mk("d1", 3, 6))
    s3_id = t.current_snapshot_id()
    rep = t.compact_partitions(spark)
    assert rep["partitions"] == 1

    # compaction rewrites consumed rows: incremental scan across it
    # errors by default, skip-mode sees no new rows
    with pytest.raises(ValueError, match="replace"):
        t.changes(spark, s3_id)
    assert t.changes(spark, s3_id, on_replace="skip").count() == 0
    # ...and an unconsumed append window crossing the compaction still
    # yields exactly the appended rows in skip-mode
    with pytest.raises(ValueError, match="replace"):
        t.changes(spark, s1)
    assert sorted(
        t.changes(spark, s1, on_replace="skip").toPandas().x.tolist()
    ) == [3, 4, 5]

    # non-ancestor (unknown/expired) base → explicit error
    with pytest.raises((ValueError, FileNotFoundError)):
        t.changes(spark, "deadbeefdeadbeef")


def test_rollup_job_incremental_snapshot_input(spark, tmp_path):
    """RollupJob over a SnapshotTable input: the second run fingerprints
    ONLY the days touched by the appended delta (changes()-driven), the
    touched done-days re-roll, and tiers equal a from-scratch job over
    the same total input."""
    from pyspark.sql import functions as F

    from getml_community_spark.datagen import corpus_spark

    ing_root = str(tmp_path / "ing")
    ing = SnapshotTable(ing_root, partition_by=["event_date"])
    c1 = corpus_spark(spark, 3000, with_tokens=False).withColumn(
        "event_date", F.to_date("event_time")
    )
    ing.append(c1)

    out = str(tmp_path / "out")
    job1 = RollupJob(spark, RollupSpec(), ing_root, out)
    assert job1.input_table is not None  # snapshot layout detected
    s1 = job1.run()
    assert s1["days_processed"] == s1["days_total"] == 14

    # late data into TWO existing days only
    days = sorted(
        str(r[0]) for r in c1.select("event_date").distinct().collect()
    )
    touched = days[3:5]
    c2 = (
        corpus_spark(spark, 800, with_tokens=False)
        .withColumn("event_date", F.to_date("event_time"))
        .where(F.col("event_date").cast("string").isin(touched))
    )
    assert c2.count() > 0
    ing.append(c2)

    job2 = RollupJob(spark, RollupSpec(), ing_root, out)
    orig = job2._day_stats
    seen = {}

    def spy(df):
        seen["fp_days"] = sorted(
            str(r[0]) for r in df.select("event_date").distinct().collect()
        )
        return orig(df)

    job2._day_stats = spy
    s2 = job2.run()
    # fingerprint scan covered ONLY the delta's days, and exactly the
    # two touched (done) days re-rolled
    assert seen["fp_days"] == touched
    assert s2["days_processed"] == 2
    assert s2["days_total"] == 14

    # parity: a from-scratch job over the same total input (plain dir)
    flat = str(tmp_path / "flat")
    ing.read(spark).drop("event_date").write.parquet(flat)
    out2 = str(tmp_path / "out2")
    job3 = RollupJob(spark, RollupSpec(), flat, out2)
    assert job3.input_table is None
    job3.run()
    for tier in ("1m", "1h"):
        a = (
            job2.read_tier(tier)
            .drop("day")
            .toPandas()
            .sort_values(["source", "bucket_start"])
            .reset_index(drop=True)
        )
        b = (
            job3.read_tier(tier)
            .drop("day")
            .toPandas()
            .sort_values(["source", "bucket_start"])
            .reset_index(drop=True)
        )
        assert len(a) == len(b)
        assert_frames_equal_unordered(a, b, ["source", "bucket_start"])

    # third run with no new appends: fast path, nothing to do
    s3 = RollupJob(spark, RollupSpec(), ing_root, out).run()
    assert s3["days_processed"] == 0
