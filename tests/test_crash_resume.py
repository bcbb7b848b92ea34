"""Hard-crash resume: SIGKILL a rollup job subprocess mid-write, resume
with a fresh process, and require byte-identical outputs vs an
uninterrupted run. This exercises the snapshot-isolation guarantee the
design leans on (an append whose manifest commit never happened is
invisible; re-running the day cannot duplicate rows)."""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import time

import pytest

from getml_community_spark.datagen import write_corpus_parquet
from getml_community_spark.plans import RollupJob, RollupSpec

from .conftest import assert_frames_equal_unordered

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

RUNNER = """
import sys
sys.path.insert(0, {repo!r})
from getml_community_spark.session import get_spark
from getml_community_spark.plans import RollupJob, RollupSpec
spark = get_spark(master="local[2]", shuffle_partitions=4,
                  extra_conf={{"spark.driver.memory": "3g"}})
spark.sparkContext.setLogLevel("ERROR")
job = RollupJob(spark, RollupSpec(), {corpus!r}, {out!r})
print("RUNNING", flush=True)
print(job.run())
"""


@pytest.mark.slow
def test_sigkill_mid_job_then_resume(spark, tmp_path):
    corpus = str(tmp_path / "corpus")
    write_corpus_parquet(spark, 4000, corpus, with_tokens=False)

    # reference run, uninterrupted
    ref_out = str(tmp_path / "ref")
    ref_job = RollupJob(spark, RollupSpec(), corpus, ref_out)
    ref_job.run()

    # crashed run: kill the subprocess while it is working
    crash_out = str(tmp_path / "crash")
    code = RUNNER.format(repo=REPO, corpus=corpus, out=crash_out)
    proc = subprocess.Popen(
        [sys.executable, "-c", code],
        stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL,
        text=True,
    )
    # wait until the job is actually running, then give it a moment to
    # get into the write path before the kill
    start = time.time()
    while time.time() - start < 120:
        line = proc.stdout.readline()
        if "RUNNING" in line:
            break
    time.sleep(12)
    if proc.poll() is None:
        os.kill(proc.pid, signal.SIGKILL)
        proc.wait()
        killed = True
    else:
        killed = False  # tiny job may have finished; resume is then a no-op

    # resume with a fresh job object (fresh "process" semantically)
    job2 = RollupJob(spark, RollupSpec(), corpus, crash_out)
    s = job2.run()
    assert s["days_processed"] + s["days_done_before"] >= s["days_total"] or (
        s["days_processed"] == 0 and s["days_done_before"] == s["days_total"]
    )
    # a second resume is a no-op
    assert RollupJob(spark, RollupSpec(), corpus, crash_out).run()["days_processed"] == 0

    for tier in ("1m", "1h", "1d"):
        a = ref_job.read_tier(tier).drop("day").toPandas()
        b = job2.read_tier(tier).drop("day").toPandas()
        assert_frames_equal_unordered(a, b, ["source", "bucket_start"])

    # lineage still reconciles on the crashed-then-resumed output
    lin = job2.lineage.read_pandas()
    rows_in = lin[lin["tier"] == "1m"]["rows_in"].sum()
    # lineage may contain rows from the killed attempt ONLY for days whose
    # append committed; recompute per-day max to dedupe double entries
    per_day = lin[lin["tier"] == "1m"].groupby("partition_id")["rows_in"].max()
    assert per_day.sum() == spark.read.parquet(corpus).count()
    assert killed or s["days_processed"] == 0
