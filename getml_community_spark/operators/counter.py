"""Counter-reset-aware rate/increase — the PromQL ``increase()`` /
``rate()`` semantics for MONOTONE counter series that occasionally
reset to zero (process restart, rollover).

The core rollup tiers aggregate GAUGE-shaped values (each event carries
its own quantity). Monitoring sources often export CUMULATIVE counters
instead; the meaningful per-bucket quantity is then the counter's
increase, and a naive ``max - min`` or ``last - first`` goes wrong the
moment the counter resets mid-bucket. The public Prometheus semantics
(promql docs): walk consecutive samples; a sample BELOW its
predecessor is a reset, and the post-reset value counts in full (the
counter restarted from 0). increase = sum of positive deltas + sum of
post-reset values.

Shape: one window pass (lag over (source) ordered by time) + one hash
aggregation onto the tier bucket — all JVM, integer-exact when inputs
are integers, same bucket keying as rollup_from_raw. The lag must see
the PREVIOUS bucket's last sample (a bucket-local lag would miss the
increase carried across the boundary and silently under-count), so the
window partitions by source only; at 10^12 rows partition the input by
(source, day-range) first if a single source's full history exceeds an
executor — per-day lag loses only the one cross-day delta per source,
which callers can accept or stitch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .rollup import _bucket_epoch, tier_seconds

__all__ = ["counter_increase"]


def counter_increase(
    df: DataFrame,
    tier: str,
    value_col: str = "n_tok",
    source_col: str = "source",
    ts_col: str = "event_time",
) -> DataFrame:
    """Per-(source, bucket) counter increase and rate with Prometheus
    reset semantics: (source, bucket_start, n_samples, n_resets,
    increase, rate).

    - delta(i) = v(i) - v(i-1) over time-ordered samples per source
      (ties broken by value — deterministic cross-engine);
    - delta < 0 → reset: the sample contributes its full value v(i);
    - the first sample of a SOURCE contributes nothing (no predecessor
      — its baseline is unknown; Prometheus makes the same choice);
    - a delta is credited to the bucket of its LATER sample;
    - rate = increase / tier_seconds.
    """
    sec = tier_seconds(tier)
    ts_long = F.col(ts_col).cast("timestamp").cast("long")
    w = Window.partitionBy(source_col).orderBy(ts_long, F.col(value_col))
    v = F.col(value_col).cast("double")
    prev = F.lag(v).over(w)
    contrib = F.when(prev.isNull(), F.lit(None).cast("double")).otherwise(
        F.when(v >= prev, v - prev).otherwise(v)
    )
    is_reset = F.when(prev.isNotNull() & (v < prev), F.lit(1)).otherwise(F.lit(0))
    staged = df.select(
        F.col(source_col).alias("source"),
        _bucket_epoch(ts_col, sec).alias("__be"),
        contrib.alias("__inc"),
        is_reset.alias("__rst"),
    )
    return (
        staged.groupBy("source", "__be")
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            F.sum("__rst").alias("n_resets"),
            F.coalesce(F.sum("__inc"), F.lit(0.0)).alias("increase"),
        )
        .select(
            "source",
            F.timestamp_seconds(F.col("__be")).alias("bucket_start"),
            "n_samples",
            "n_resets",
            "increase",
            (F.col("increase") / F.lit(float(sec))).alias("rate"),
        )
    )
