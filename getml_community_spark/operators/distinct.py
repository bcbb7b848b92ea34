"""Mergeable distinct-count (HLL sketch) continuous-aggregate tiers.

``COUNT(DISTINCT doc_id)`` does not compose: the 1h tier cannot be
summed from 1m distinct counts (a doc seen in two minutes would double
count). The scale-correct answer — Druid/TimescaleDB/BigQuery all ship
it — is to maintain the *sketch* as the aggregate: Apache DataSketches
HLL sketches union losslessly, so every tier stores a binary sketch per
(source, bucket) and coarser tiers are ``hll_union_agg`` of finer ones,
exactly like Σcnt for counts. Spark exposes the sketch ops as JVM
aggregates (``hll_sketch_agg`` / ``hll_union_agg`` /
``hll_sketch_estimate`` — whole-stage, no Python), and the union of
per-partition sketches is bit-consistent with a sketch built in one
pass (pytest asserts estimate equality through the cascade), so the
cascade introduces NO error beyond the sketch's own ±~1%/lgK=12.

At small per-bucket cardinality the sketch is in coupon (exact) mode —
estimates equal true distinct counts; error only appears past hundreds
of distinct values per bucket, where exact counting would be the thing
that doesn't scale. Reference parity: the reference offers
COUNT_DISTINCT eagerly per frame (getml Aggregation docs); this is that
aggregate made tier-maintainable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .rollup import TierFamily, bucket_rollup

__all__ = [
    "hll_family",
    "hll_rollup_from_raw",
    "hll_cascade",
    "hll_to_step",
    "hll_estimates",
]

DEFAULT_LG_K = 12


def hll_family(distinct_col: str = "doc_id", lg_k: int = DEFAULT_LG_K) -> TierFamily:
    """Distinct-count tiers: an HLL sketch of ``distinct_col`` plus the
    exact row count per (source, bucket). The raw aggregation buffer IS
    the sketch (~2^lg_k bytes worst case); merging is ``hll_union_agg``,
    lossless w.r.t. the sketch: the union of partial sketches estimates
    identically to a single-pass sketch over the same rows."""

    def raw(df, sec):
        aggs = [
            F.hll_sketch_agg(F.col(distinct_col), F.lit(lg_k)).alias("sketch"),
            F.count(F.lit(1)).alias("cnt"),
        ]
        return df, [], aggs, ["sketch", "cnt"]

    def merge(lower, sec):
        aggs = [
            F.hll_union_agg("sketch").alias("sketch"),
            F.sum("cnt").cast("long").alias("cnt"),
        ]
        return lower, [], aggs, ["sketch", "cnt"]

    return TierFamily(raw, merge)


_HLL = hll_family()


def hll_rollup_from_raw(
    df: DataFrame,
    tier: str = "1m",
    distinct_col: str = "doc_id",
    source_col: str = "source",
    ts_col: str = "event_time",
    lg_k: int = DEFAULT_LG_K,
) -> DataFrame:
    """(source, bucket_start) → HLL sketch of ``distinct_col`` + exact
    row count. One shuffle, map-side partial sketches."""
    family = hll_family(distinct_col, lg_k)
    return bucket_rollup(df, family.raw, tier, source_col, ts_col)


def hll_cascade(lower: DataFrame, to_tier: str) -> DataFrame:
    """Union finer-tier sketches into a coarser tier — the distinct-count
    analogue of ``rollup_cascade``."""
    return bucket_rollup(lower, _HLL.merge, to_tier)


def hll_to_step(lower: DataFrame, step_seconds: int) -> DataFrame:
    """Union sketches into arbitrary epoch-aligned step buckets (the
    range-query router's distinct path); valid whenever the source
    tier's width divides ``step_seconds``."""
    return bucket_rollup(lower, _HLL.merge, int(step_seconds))


def hll_estimates(tier_df: DataFrame) -> DataFrame:
    """Serve a sketch tier: replace the binary sketch with its distinct
    estimate (exact while the sketch is in coupon range)."""
    return tier_df.select(
        "source",
        "bucket_start",
        F.hll_sketch_estimate("sketch").alias("n_distinct"),
        "cnt",
    )
