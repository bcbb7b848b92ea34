"""Continuous-aggregate rollup tiers (1m → 1h → 1d) over the tokenized corpus.

This is the engine's core: the reference's window-join + aggregate
(Matchmaker.hpp:126-131 + Aggregator.hpp) specialized to regular bucket
ends becomes a plain ``groupBy(source, window(event_time, tier))`` —
one shuffle per tier, partial-aggregated map-side, whole-stage codegen.
Higher tiers are rolled up from the tier below (the reference's
``subfeatures`` nesting, fastprop/Aggregator.cpp:339-367), never from
raw: at 10^12 rows the 1h tier reads the ~60×-smaller 1m table.

Sub-aggregation legality (SURVEY.md §7 M4): count/sum/min/max compose;
avg and rate are recomputed from composed sums; quantiles/median/mode
do NOT compose and are only available on the raw-input battery path.

Skew: a hot source (src-000 ≈ 25% of rows) is harmless to the base
rollup because hash aggregation partially aggregates map-side — each
map task emits at most one row per (source, bucket) before the shuffle.
The salted two-stage variant exists for the pathological case of very
few distinct buckets (e.g. global all-time aggregates), where the
combine itself would concentrate; see :func:`salted_rollup`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

__all__ = [
    "TIER_SECONDS",
    "rollup_from_raw",
    "rollup_cascade",
    "rollup_to_step",
    "choose_tier",
    "rollup_battery",
    "salted_rollup",
]

TIER_SECONDS = {"1m": 60, "1h": 3600, "1d": 86400}
_TIER_INTERVAL = {"1m": "1 minute", "1h": "1 hour", "1d": "1 day"}
_TIER_TRUNC = {"1m": "minute", "1h": "hour", "1d": "day"}

# Output schema shared by all tiers (FIXTURES.md §2 golden schema).
CORE_AGG_COLS = ["cnt", "sum_n_tok", "min_n_tok", "max_n_tok", "rate"]


def _bucket_epoch(ts_col: str, sec: int):
    """floor(epoch/sec)*sec as LONG (codegen-friendly bucket key).
    NTZ timestamps hop through TIMESTAMP (session tz pinned UTC)."""
    epoch = F.col(ts_col).cast("timestamp").cast("long")
    return (F.floor(epoch / F.lit(sec)) * F.lit(sec)).cast("long")


def _is_integral(df: DataFrame, col: str) -> bool:
    t = dict(df.dtypes).get(col, "")
    return t in ("tinyint", "smallint", "int", "bigint", "long")


def _core_aggs(value: str, tier_seconds: int, integral: bool) -> list:
    """Core aggs; sums keep an exact integer type for integral inputs
    (the corpus n_tok path: bigint sums are exact at any scale) and
    double otherwise."""
    v = F.col(value)
    s = F.coalesce(F.sum(v), F.lit(0))
    s = s.cast("long") if integral else s.cast("double")
    return [
        F.count(v).alias("cnt"),
        s.alias("sum_n_tok"),
        F.min(v).alias("min_n_tok"),
        F.max(v).alias("max_n_tok"),
        (s.cast("double") / F.lit(float(tier_seconds))).alias("rate"),
    ]


def rollup_from_raw(
    df: DataFrame,
    tier: str = "1m",
    source_col: str = "source",
    ts_col: str = "event_time",
    value_col: str = "n_tok",
) -> DataFrame:
    """Base continuous aggregate: (source, bucket_start) → core aggs.

    ``window()`` keeps the bucketing inside codegen; the single groupBy
    shuffles once on (source, bucket) — the minimal shuffle for this
    computation. Filters/projections above this fold into the parquet
    scan via Catalyst (only source/ts/value columns are read; token
    arrays are never scanned on this path).
    """
    sec = TIER_SECONDS[tier]
    # Bucket by LONG arithmetic, not window()/date_trunc: struct group
    # keys double hash/shuffle cost and date_trunc is a non-codegen
    # timezone path ~9x slower per row (measured). The long->timestamp
    # conversion happens AFTER aggregation, on ~1/|bucket| as many rows.
    b = _bucket_epoch(ts_col, sec)
    return (
        df.groupBy(F.col(source_col).alias("source"), b.alias("__b"))
        .agg(*_core_aggs(value_col, sec, _is_integral(df, value_col)))
        .select(
            "source",
            F.timestamp_seconds(F.col("__b")).alias("bucket_start"),
            *CORE_AGG_COLS,
        )
    )


def rollup_cascade(lower: DataFrame, to_tier: str) -> DataFrame:
    """Roll a finer tier into a coarser one (1m→1h, 1h→1d).

    Only composable aggregates: Σcnt, Σsum, min(min), max(max); rate is
    recomputed from the composed sum. Rows with cnt=0 (gap-filled)
    contribute nothing: their min/max are NULL and Spark min/max skip
    NULLs, matching an aggregate over the union of raw rows exactly.
    """
    return rollup_to_step(lower, TIER_SECONDS[to_tier])


def rollup_to_step(lower: DataFrame, step_seconds: int) -> DataFrame:
    """Re-bucket a rollup tier to an arbitrary epoch-aligned ``step``.

    The generalized :func:`rollup_cascade`: valid whenever every source
    bucket nests inside a step bucket, i.e. the source tier's width
    divides ``step_seconds`` (both bucketings are epoch-aligned, so
    divisibility is also sufficient). This is the range-query router's
    re-bucketing stage — e.g. serve a 2h-resolution chart from the 1h
    tier without touching raw (Thanos/TimescaleDB downsampled-read
    pattern). Same composable-aggregate rules as the cascade.
    """
    sec = int(step_seconds)
    bucket = _bucket_epoch("bucket_start", sec)
    integral = _is_integral(lower, "sum_n_tok")
    s = F.coalesce(F.sum("sum_n_tok"), F.lit(0))
    s = s.cast("long") if integral else s.cast("double")
    return (
        lower.groupBy("source", bucket.alias("__b"))
        .agg(
            F.sum("cnt").cast("long").alias("cnt"),
            s.alias("sum_n_tok"),
            F.min("min_n_tok").alias("min_n_tok"),
            F.max("max_n_tok").alias("max_n_tok"),
        )
        .withColumn("rate", F.col("sum_n_tok").cast("double") / F.lit(float(sec)))
        .select(
            "source",
            F.timestamp_seconds(F.col("__b")).alias("bucket_start"),
            *CORE_AGG_COLS,
        )
    )


def choose_tier(step_seconds: int, tiers=None) -> str:
    """Pick the coarsest maintained tier that can serve a range query at
    ``step_seconds`` resolution: the widest tier whose width divides the
    step (epoch alignment makes divisibility sufficient for nesting).
    Reading 2h buckets from the 1d tier would be wrong (a day cannot be
    split); reading them from the 1m tier would scan 60× more rows than
    the 1h tier — this is the router's whole value at 10^12 rows.
    """
    sec = int(step_seconds)
    if sec <= 0:
        raise ValueError("step_seconds must be positive")
    candidates = [
        t for t in (tiers or list(TIER_SECONDS)) if sec % TIER_SECONDS[t] == 0
    ]
    if not candidates:
        raise ValueError(
            f"no maintained tier divides step={sec}s "
            f"(tiers: { {t: TIER_SECONDS[t] for t in (tiers or TIER_SECONDS)} })"
        )
    return max(candidates, key=lambda t: TIER_SECONDS[t])


def rollup_battery(
    df: DataFrame,
    tier: str = "1m",
    source_col: str = "source",
    ts_col: str = "event_time",
    value_col: str = "n_tok",
    include: set[str] | None = None,
) -> DataFrame:
    """Extended rollup: the FULL reference aggregation battery per
    (source, bucket) — count/sum/avg/min/max/median/quantiles/stddev_pop/
    skew/kurtosis/first/last/ewma/trend/… in ONE groupBy (one shuffle).

    t_ref for time-relative aggs (EWMA/TREND/TIME SINCE …) is the
    bucket END — the reference's ts_pop for a bucket-end population row
    (paper Fig. 2 window (t_pop − h − m, t_pop − h] with h=0, m=tier).
    """
    from .aggregates import grouped_battery

    sec = TIER_SECONDS[tier]
    b = _bucket_epoch(ts_col, sec)
    ts_epoch = F.col(ts_col).cast("timestamp").cast("double")
    t_ref = (b + F.lit(sec)).cast("double")  # bucket end, constant per group
    return (
        grouped_battery(
            df,
            [F.col(source_col).alias("source"), b.alias("__b")],
            F.col(value_col),
            ts=ts_epoch,
            t_ref=t_ref,
            tiebreak=F.xxhash64(F.col("doc_id")) if "doc_id" in df.columns else None,
            include=include,
        )
        .withColumn("bucket_start", F.timestamp_seconds(F.col("__b")))
        .drop("__b")
    )


def salted_rollup(
    df: DataFrame,
    tier: str = "1m",
    salt_buckets: int = 32,
    source_col: str = "source",
    ts_col: str = "event_time",
    value_col: str = "n_tok",
) -> DataFrame:
    """Two-stage salted aggregation for pathologically-hot groups.

    Stage 1 groups by (source, bucket, salt) where
    salt = pmod(xxhash64(doc_id), k), spreading a hot group over k
    reducers; stage 2 combines the k partials. Only composable aggs.
    Equivalent by construction to :func:`rollup_from_raw`; pytest
    asserts bit-equality. Use when a single (source, bucket) group's
    post-partial-agg combine volume is itself a bottleneck.
    """
    sec = TIER_SECONDS[tier]
    b = _bucket_epoch(ts_col, sec)
    salt = F.pmod(F.xxhash64(F.col("doc_id")), F.lit(salt_buckets))
    integral = _is_integral(df, value_col)
    v = F.col(value_col)
    partial = (
        df.groupBy(F.col(source_col).alias("source"), b.alias("__b"), salt.alias("salt"))
        .agg(
            F.count(v).alias("cnt"),
            F.sum(v).alias("sum_n_tok"),
            F.min(v).alias("min_n_tok"),
            F.max(v).alias("max_n_tok"),
        )
    )
    s = F.coalesce(F.sum("sum_n_tok"), F.lit(0))
    s = s.cast("long") if integral else s.cast("double")
    return (
        partial.groupBy("source", "__b")
        .agg(
            F.sum("cnt").cast("long").alias("cnt"),
            s.alias("sum_n_tok"),
            F.min("min_n_tok").alias("min_n_tok"),
            F.max("max_n_tok").alias("max_n_tok"),
        )
        .withColumn("rate", F.col("sum_n_tok").cast("double") / F.lit(float(sec)))
        .select(
            "source",
            F.timestamp_seconds(F.col("__b")).alias("bucket_start"),
            *CORE_AGG_COLS,
        )
    )
