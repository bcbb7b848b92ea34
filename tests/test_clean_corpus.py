"""clean_corpus composition: each stage drops exactly what its operator
says it drops, in order, with lineage counts."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from getml_community_spark.operators.corpus import clean_corpus


@pytest.fixture(scope="module")
def corpus(spark):
    good = (
        "the quick brown fox jumps over the lazy dog and then runs away "
        "to have a long rest with all of the other animals that live in "
        "the deep dark forest beyond the hills where nobody ever goes"
    )
    rows = [
        (0, good + " first variant ending"),
        (1, good + " first variant ending"),  # exact dup of 0
        (2, good + " first variant endinX"),  # near dup of 0 (1 token off)
        (3, "too short"),  # gopher: word count
        (4, good + " completely distinct tail about benchmark leakage topics"),
        (5, good.replace("forest", "meadow") + " another wholly distinct ending here"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_clean_corpus_stages(spark, corpus):
    bench = spark.createDataFrame(
        [(100, "completely distinct tail about benchmark leakage topics")],
        "doc_id long, text string",
    )
    out, rep = clean_corpus(
        corpus,
        benchmark=bench,
        min_words=20,
        min_stop_hits=1,
        jaccard_threshold=0.8,
        report=True,
    )
    stages = dict(rep.stages)
    assert stages["input"] == 6
    assert stages["gopher"] == 5  # doc 3 dropped
    assert stages["exact"] == 4  # doc 1 (exact dup, higher id) dropped
    assert stages["near"] == 3  # doc 2 (near dup) dropped
    assert stages["decontam"] == 2  # doc 4 shares bench 5-grams
    ids = sorted(r["doc_id"] for r in out.select("doc_id").collect())
    assert ids == [0, 5]
    assert rep.survivors() == 2


def test_clean_corpus_lazy_without_report(spark, corpus):
    out, rep = clean_corpus(corpus, min_words=20, min_stop_hits=1)
    assert rep.stages == []  # no actions ran
    assert out.count() == 3  # gopher, exact, near each drop one doc


def test_clean_corpus_redact_stage(spark, corpus):
    from pyspark.sql import functions as F

    tainted = corpus.withColumn(
        "text", F.concat("text", F.lit(" mail me at leak@example.com"))
    )
    out, rep = clean_corpus(
        tainted, min_words=20, min_stop_hits=1, redact_pii=True, report=True
    )
    texts = [r["text"] for r in out.collect()]
    assert texts and all("<EMAIL>" in t for t in texts)
    assert all("leak@example.com" not in t for t in texts)
    # redact mutates, never drops
    stages = dict(rep.stages)
    assert stages["redact"] == stages["near"]


def test_clean_corpus_report_scans_input_once(spark, corpus):
    """report=True must NOT recompute the upstream chain per stage: a
    scan-counting accumulator on the raw input sees each row exactly
    once (the input localCheckpoint), no matter how many stage counts
    run downstream."""
    import pandas as pd

    scans = spark.sparkContext.accumulator(0)
    n_rows = corpus.count()

    def counting(batches):
        for pdf in batches:
            scans.add(len(pdf))
            yield pdf

    instrumented = corpus.mapInPandas(counting, corpus.schema)
    out, rep = clean_corpus(instrumented, min_words=20, min_stop_hits=1, report=True)
    assert len(rep.stages) == 4  # input + 3 stages all counted
    assert out.count() == 3
    # one materializing pass over the source, then cached blocks only
    assert scans.value == n_rows, f"input scanned {scans.value / n_rows:.1f}x"


def test_clean_corpus_repetition_stage(spark):
    from pyspark.sql import functions as F

    good = (
        "the quick brown fox jumps over the lazy dog while other "
        "animals watch from a distant hill under morning light and "
        "nobody repeats anything important in this long sentence here"
    )
    rows = [(0, good), (1, "buy the item now " * 30)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out, rep = clean_corpus(
        df, min_words=10, min_stop_hits=1, repetition=True, report=True
    )
    stages = dict(rep.stages)
    assert stages["gopher"] == 2  # both pass the word-level rules
    assert stages["repetition"] == 1  # the spam doc trips Table A1
    assert [r["doc_id"] for r in out.select("doc_id").collect()] == [0]


def test_clean_corpus_line_dedup_stage(spark):
    good = (
        "the quick brown fox jumps over the lazy dog and then runs away "
        "to have a long rest with all of the other animals that live in "
        "the deep dark forest beyond the hills where nobody ever goes"
    )
    other = (
        "a completely different second document discusses seventeen "
        "unrelated topics about rivers mountains oceans and the stars "
        "that shine above the quiet village where everyone sleeps now"
    )
    rows = [
        (0, good + "\ncommon footer line"),
        (1, other + "\ncommon footer line"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out, rep = clean_corpus(
        df, min_words=20, min_stop_hits=1, dedup_lines=True, report=True
    )
    texts = {r["doc_id"]: r["text"] for r in out.collect()}
    assert "common footer line" in texts[0]      # first occurrence kept
    assert "common footer line" not in texts[1]  # later occurrence stripped
    assert dict(rep.stages)["lines"] == 2        # mutates, never drops


# report + transitive: every barrier kind in the chain runs (stage
# notes, near-dedup shingle/pair barriers, connected-components rounds)
_RELIABLE_KW = dict(min_words=20, min_stop_hits=1, report=True, transitive=True)


def _ids(frame):
    return sorted(r["doc_id"] for r in frame.select("doc_id").collect())


@pytest.fixture(scope="module")
def local_survivors(spark, corpus):
    """Survivor ids of the reliable-mode chain run with no session
    checkpoint dir, i.e. with every barrier a localCheckpoint."""
    assert spark.sparkContext.getCheckpointDir() is None
    out, rep = clean_corpus(corpus, **_RELIABLE_KW)
    stages = dict(rep.stages)
    assert stages["near"] < stages["exact"]  # the near stage drops a pair
    return _ids(out)


def test_clean_corpus_reliable_checkpoint_dir(
    spark, corpus, local_survivors, reliable_checkpoint_dir
):
    """A session checkpoint dir routes report-mode stage materialization
    (and the transitive CC rounds) through reliable
    DataFrame.checkpoint()."""
    import os

    ckdir = reliable_checkpoint_dir
    out, rep = clean_corpus(corpus, **_RELIABLE_KW)
    # same survivors as the localCheckpoint path
    assert _ids(out) == local_survivors
    assert [n for n, _ in rep.stages][:2] == ["input", "gopher"]
    found = [f for _, _, fs in os.walk(ckdir) for f in fs if not f.startswith(".")]
    assert found, f"no checkpoint files under {ckdir}"


def test_reliable_mode_never_local_checkpoints(
    spark, corpus, local_survivors, reliable_checkpoint_dir, monkeypatch
):
    """Under a session checkpoint dir no lineage cut falls back to an
    executor-local block: the whole report + transitive chain completes
    with DataFrame.localCheckpoint raising, and keeps the local-mode
    survivors. A persisted frame passes the barrier untouched."""
    from getml_community_spark.session import barrier

    def refuse(self, *args, **kwargs):
        raise AssertionError("lineage cut bypassed the barrier policy")

    # patch the concrete class: pyspark.sql.DataFrame is only its base
    DataFrame = type(corpus)
    monkeypatch.setattr(DataFrame, "localCheckpoint", refuse)
    out, rep = clean_corpus(corpus, **_RELIABLE_KW)
    assert _ids(out) == local_survivors
    assert [n for n, _ in rep.stages] == ["input", "gopher", "exact", "near"]

    monkeypatch.setattr(DataFrame, "checkpoint", refuse)
    cached = spark.range(5).cache()
    try:
        assert barrier(cached, eager=True) is cached
        assert barrier(cached, eager=False) is cached
    finally:
        cached.unpersist()
