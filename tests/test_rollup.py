"""Tier-exactness: Spark rollups vs the pandas/numpy oracle, exactly."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from getml_community_spark.operators.gapfill import gapfill
from getml_community_spark.operators.rollup import (
    TIER_SECONDS,
    rollup_cascade,
    rollup_from_raw,
    salted_rollup,
)

from .conftest import assert_frames_equal_unordered


def golden_rollup(pdf: pd.DataFrame, tier_seconds: int) -> pd.DataFrame:
    epoch = pdf["event_time"].astype("int64") // 10**9
    bucket = (epoch // tier_seconds) * tier_seconds
    g = (
        pdf.assign(bucket=pd.to_datetime(bucket, unit="s"))
        .groupby(["source", "bucket"])["n_tok"]
        .agg(cnt="count", sum_n_tok="sum", min_n_tok="min", max_n_tok="max")
        .reset_index()
        .rename(columns={"bucket": "bucket_start"})
    )
    g["rate"] = g["sum_n_tok"] / float(tier_seconds)
    g["cnt"] = g["cnt"].astype("int64")
    g["sum_n_tok"] = g["sum_n_tok"].astype("int64")
    g["min_n_tok"] = g["min_n_tok"].astype("int32")
    g["max_n_tok"] = g["max_n_tok"].astype("int32")
    return g


def test_rollup_1m_exact(spark, corpus_df, corpus_pdf):
    got = rollup_from_raw(corpus_df, "1m").toPandas()
    want = golden_rollup(corpus_pdf, 60)
    assert_frames_equal_unordered(got, want, ["source", "bucket_start"])


def test_cascade_1h_1d_exact(spark, corpus_df, corpus_pdf):
    agg_1m = rollup_from_raw(corpus_df, "1m").cache()
    agg_1h = rollup_cascade(agg_1m, "1h")
    agg_1d = rollup_cascade(agg_1h, "1d")
    assert_frames_equal_unordered(
        agg_1h.toPandas(), golden_rollup(corpus_pdf, 3600), ["source", "bucket_start"]
    )
    assert_frames_equal_unordered(
        agg_1d.toPandas(), golden_rollup(corpus_pdf, 86400), ["source", "bucket_start"]
    )


def test_salted_equals_plain(spark, corpus_df):
    plain = rollup_from_raw(corpus_df, "1m").toPandas()
    salted = salted_rollup(corpus_df, "1m", salt_buckets=8).toPandas()
    assert_frames_equal_unordered(salted, plain, ["source", "bucket_start"])


def _tier_functions():
    from getml_community_spark.operators import counter, distinct, histquantile
    from getml_community_spark.operators import rollup as r
    from getml_community_spark.streaming import stream_rollup as s

    return {
        "rollup_from_raw": r.rollup_from_raw,
        "rollup_cascade": r.rollup_cascade,
        "salted_rollup": r.salted_rollup,
        "rollup_battery": r.rollup_battery,
        "hll_rollup_from_raw": distinct.hll_rollup_from_raw,
        "hll_cascade": distinct.hll_cascade,
        "hist_rollup_from_raw": histquantile.hist_rollup_from_raw,
        "hist_cascade": histquantile.hist_cascade,
        "counter_increase": counter.counter_increase,
        "stream_rollup": s.stream_rollup,
        "stream_hist": s.stream_hist,
        "stream_distinct": s.stream_distinct,
    }


@pytest.mark.parametrize("name", sorted(_tier_functions()))
def test_unknown_tier_raises_value_error(spark, name):
    """Every tier function rejects an unknown tier with one ValueError
    naming it and the known tiers, before any plan is built."""
    fn = _tier_functions()[name]
    with pytest.raises(ValueError, match=r"unknown tier '2m'; known tiers: 1m, 1h, 1d"):
        fn(spark.range(1), "2m")


def test_gapfill_dense_and_zeroed(spark, corpus_df, corpus_pdf):
    agg = rollup_from_raw(corpus_df, "1h")
    dense = gapfill(agg, 3600).toPandas()
    # dense: every source covers every hour between its min and max
    for src, grp in dense.groupby("source"):
        lo, hi = grp["bucket_start"].min(), grp["bucket_start"].max()
        expect_n = int((hi - lo).total_seconds() // 3600) + 1
        assert len(grp) == expect_n, src
        assert grp["bucket_start"].is_unique
    gaps = dense[dense["cnt"] == 0]
    assert len(gaps) > 0  # dead windows guarantee gaps exist
    assert (gaps["sum_n_tok"] == 0).all()
    assert (gaps["rate"] == 0.0).all()
    assert gaps["min_n_tok"].isna().all() and gaps["max_n_tok"].isna().all()
    # non-gap rows identical to the sparse rollup
    want = golden_rollup(corpus_pdf, 3600)
    got = dense[dense["cnt"] > 0].reset_index(drop=True)
    got = got.astype({"cnt": "int64", "sum_n_tok": "int64"})
    want = want.astype({"min_n_tok": "float", "max_n_tok": "float"})
    got = got.astype({"min_n_tok": "float", "max_n_tok": "float"})
    assert_frames_equal_unordered(got, want, ["source", "bucket_start"])


def test_gapfill_keeps_null_key_rows(spark):
    """Rows keyed by a NULL source or a NULL bucket_start survive the
    gap-fill unchanged (no join on null-unsafe keys drops or zeroes
    them), and the NULL-source group is densified like any other."""
    from pyspark.sql import functions as F

    t0 = 1_700_002_800  # an hour boundary
    h = 3600
    rows = [
        ("a", t0, 1),
        ("a", t0 + 2 * h, 2),
        ("a", None, 2),
        (None, t0, 3),
        (None, t0 + 3 * h, 4),
    ]
    agg = spark.createDataFrame(rows, "source string, b long, cnt long").select(
        "source",
        F.timestamp_seconds("b").alias("bucket_start"),
        "cnt",
        (F.col("cnt") * 10).alias("sum_n_tok"),
        F.col("cnt").cast("int").alias("min_n_tok"),
        F.col("cnt").cast("int").alias("max_n_tok"),
        (F.col("cnt") * 10 / F.lit(float(h))).alias("rate"),
    )
    dense = gapfill(agg, h).select(
        "source", F.col("bucket_start").cast("long").alias("b"), "cnt"
    ).toPandas()
    assert int(dense["cnt"].sum()) == sum(r[2] for r in rows)
    null_src = dense[dense["source"].isna()].sort_values("b")
    assert null_src["b"].tolist() == [t0 + i * h for i in range(4)]
    assert null_src["cnt"].tolist() == [3, 0, 0, 4]
    a_rows = dense[dense["source"] == "a"]
    assert a_rows["b"].isna().sum() == 1
    assert sorted(a_rows["b"].dropna().astype("int64")) == [t0, t0 + h, t0 + 2 * h]
    assert len(dense) == 8


def test_corpus_invariants(corpus_pdf):
    # FIXTURES.md §1: n_tok == len(tokens); hot source ~25%
    assert (corpus_pdf["tokens"].map(len) == corpus_pdf["n_tok"]).all()
    frac = (corpus_pdf["source"] == "src-000").mean()
    assert 0.15 < frac < 0.35
    assert corpus_pdf["doc_id"].is_unique
    span_ok = (
        corpus_pdf["event_time"] >= pd.Timestamp("2025-01-01")
    ) & (corpus_pdf["event_time"] < pd.Timestamp("2025-01-15"))
    assert span_ok.all()


def test_spark_pandas_generators_identical(corpus_df, corpus_pdf):
    got = corpus_df.toPandas().sort_values("doc_id").reset_index(drop=True)
    want = corpus_pdf.sort_values("doc_id").reset_index(drop=True)
    assert (got["doc_id"] == want["doc_id"]).all()
    assert (got["n_tok"].to_numpy() == want["n_tok"].to_numpy()).all()
    assert (got["source"] == want["source"]).all()
    # token arrays byte-identical row by row (per-row invariant)
    for a, b in zip(got["tokens"], want["tokens"]):
        assert np.array_equal(np.asarray(a), np.asarray(b))
    # timestamps equal to the microsecond
    dt = (got["event_time"] - want["event_time"]).abs()
    assert (dt <= pd.Timedelta(microseconds=1)).all()


# ---- property-based: tier choice + step nesting (pure python) -------- #
try:
    from hypothesis import given, settings, strategies as st

    from getml_community_spark.operators.rollup import TIER_SECONDS, choose_tier

    @settings(max_examples=300, deadline=None)
    @given(
        mult=st.integers(min_value=1, max_value=10_000),
        base=st.sampled_from(["1m", "1h", "1d"]),
        epoch=st.integers(min_value=0, max_value=4_102_444_800),
    )
    def test_choose_tier_widest_divisor_and_nesting(mult, base, epoch):
        step = TIER_SECONDS[base] * mult
        tier = choose_tier(step)
        sec = TIER_SECONDS[tier]
        # the choice divides the step and is the WIDEST divisor
        assert step % sec == 0
        assert all(
            TIER_SECONDS[t] <= sec
            for t in TIER_SECONDS
            if step % TIER_SECONDS[t] == 0
        )
        # nesting: bucketing to the tier then to the step == direct step
        # bucketing (the identity rollup_to_step relies on, in the same
        # floor(epoch/sec)*sec integer form as _bucket_epoch)
        tier_bucket = epoch // sec * sec
        assert tier_bucket // step * step == epoch // step * step

except ImportError:  # pragma: no cover — hypothesis not installed
    pass
