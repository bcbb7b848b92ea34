"""Continuous-aggregate rollup tiers (1m → 1h → 1d) over the tokenized corpus.

This is the engine's core: the reference's window-join + aggregate
(Matchmaker.hpp:126-131 + Aggregator.hpp) specialized to regular bucket
ends becomes a plain ``groupBy(source, bucket)`` on a LONG epoch bucket
key (:func:`_bucket_epoch`) — one shuffle per tier, partial-aggregated
map-side, whole-stage codegen. Higher tiers are rolled up from the tier
below (the reference's ``subfeatures`` nesting,
fastprop/Aggregator.cpp:339-367), never from raw: at 10^12 rows the 1h
tier reads the ~60×-smaller 1m table.

Every tier family is a :class:`TierFamily` — a mergeable state with a
raw stage (events → state) and a merge stage (finer tier → coarser
tier). The families are declared once: :func:`core_family` here,
``hist_family`` in histquantile.py, ``hll_family`` in distinct.py.
:func:`bucket_rollup` is the one batch bucket → aggregate skeleton that
every from-raw, cascade and re-bucket function (and RollupJob) calls;
streaming/stream_rollup.py holds its watermark twin.

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

from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, functions as F

__all__ = [
    "TIER_SECONDS",
    "TierFamily",
    "core_family",
    "bucket_rollup",
    "tier_seconds",
    "rollup_from_raw",
    "rollup_cascade",
    "rollup_to_step",
    "choose_tier",
    "rollup_battery",
    "salted_rollup",
]

TIER_SECONDS = {"1m": 60, "1h": 3600, "1d": 86400}

# Output schema shared by all tiers (FIXTURES.md §2 golden schema).
CORE_AGG_COLS = ["cnt", "sum_n_tok", "min_n_tok", "max_n_tok", "rate"]


def tier_seconds(tier: str | int) -> int:
    """Bucket width of a tier name (``TIER_SECONDS``) or of a step given
    in seconds. An unknown tier name raises ``ValueError``."""
    if not isinstance(tier, str):
        return int(tier)
    if tier not in TIER_SECONDS:
        raise ValueError(f"unknown tier {tier!r}; known tiers: {', '.join(TIER_SECONDS)}")
    return TIER_SECONDS[tier]


def _bucket_epoch(ts_col: str, sec: int):
    """floor(epoch/sec)*sec as LONG (codegen-friendly bucket key).
    NTZ timestamps hop through TIMESTAMP (session tz pinned UTC)."""
    epoch = F.col(ts_col).cast("timestamp").cast("long")
    return (F.floor(epoch / F.lit(sec)) * F.lit(sec)).cast("long")


def _is_integral(df: DataFrame, col: str) -> bool:
    t = dict(df.dtypes).get(col, "")
    return t in ("tinyint", "smallint", "int", "bigint", "long")


# A stage maps (input frame, bucket seconds) to (rows to aggregate,
# extra group keys, aggregates, output columns after source/bucket_start).
Stage = Callable[[DataFrame, int], tuple[DataFrame, list, list, list]]


class TierFamily(NamedTuple):
    """One mergeable tier family: ``raw`` aggregates input events into
    the family's state, ``merge`` aggregates a finer tier of the same
    family into a coarser one (cascade and re-bucket)."""

    raw: Stage
    merge: Stage


def _exact_sum(col: Column, integral: bool) -> Column:
    """Sums keep an exact integer type for integral inputs (the corpus
    n_tok path: bigint sums are exact at any scale), double otherwise."""
    s = F.coalesce(F.sum(col), F.lit(0))
    return s.cast("long") if integral else s.cast("double")


def core_family(value_col: str = "n_tok") -> TierFamily:
    """Core Σ/min/max tiers of ``value_col`` (``CORE_AGG_COLS``).

    Merging keeps only composable aggregates: Σcnt, Σsum, min(min),
    max(max); rate is recomputed from the composed sum. Rows with cnt=0
    (gap-filled) contribute nothing: their min/max are NULL and Spark
    min/max skip NULLs, matching an aggregate over the union of raw rows
    exactly."""

    def raw(df, sec):
        v = F.col(value_col)
        s = _exact_sum(v, _is_integral(df, value_col))
        rate = s.cast("double") / F.lit(float(sec))
        aggs = [F.count(v), s, F.min(v), F.max(v), rate]
        return df, [], [a.alias(n) for a, n in zip(aggs, CORE_AGG_COLS)], CORE_AGG_COLS

    def merge(lower, sec):
        s = _exact_sum(F.col("sum_n_tok"), _is_integral(lower, "sum_n_tok"))
        aggs = [
            F.sum("cnt").cast("long").alias("cnt"),
            s.alias("sum_n_tok"),
            F.min("min_n_tok").alias("min_n_tok"),
            F.max("max_n_tok").alias("max_n_tok"),
        ]
        rate = F.col("sum_n_tok").cast("double") / F.lit(float(sec))
        return lower, [], aggs, [*CORE_AGG_COLS[:-1], rate.alias("rate")]

    return TierFamily(raw, merge)


_CORE = core_family()


def bucket_rollup(
    df: DataFrame,
    stage: Stage,
    tier: str | int,
    source_col: str = "source",
    ts_col: str = "bucket_start",
    keys: tuple = (),
) -> DataFrame:
    """The batch tier skeleton: bucket ``ts_col`` into ``tier`` (a tier
    name or a step in seconds) → one ``groupBy(source, bucket, *keys)``
    running a family ``stage`` → (source, bucket_start, *stage outputs).

    The bucket key is the LONG epoch of :func:`_bucket_epoch`, not
    ``window()``/``date_trunc``: struct group keys double hash/shuffle
    cost and date_trunc is a non-codegen timezone path ~9x slower per
    row (measured). The long->timestamp conversion happens AFTER
    aggregation, on ~1/|bucket| as many rows. The single groupBy
    shuffles once on (source, bucket); filters/projections above it fold
    into the parquet scan via Catalyst."""
    sec = tier_seconds(tier)
    rows, stage_keys, aggs, out = stage(df, sec)
    b = _bucket_epoch(ts_col, sec)
    return (
        rows.groupBy(F.col(source_col).alias("source"), b.alias("__b"), *keys, *stage_keys)
        .agg(*aggs)
        .select("source", F.timestamp_seconds(F.col("__b")).alias("bucket_start"), *out)
    )


def rollup_from_raw(
    df: DataFrame,
    tier: str = "1m",
    source_col: str = "source",
    ts_col: str = "event_time",
    value_col: str = "n_tok",
) -> DataFrame:
    """Base continuous aggregate: (source, bucket_start) → core aggs,
    one :func:`bucket_rollup` over the raw events (only the source, ts
    and value columns are read; token arrays are never scanned)."""
    return bucket_rollup(df, core_family(value_col).raw, tier, source_col, ts_col)


def rollup_cascade(lower: DataFrame, to_tier: str) -> DataFrame:
    """Roll a finer tier into a coarser one (1m→1h, 1h→1d) with the
    core merge aggregates (see :func:`core_family`)."""
    return bucket_rollup(lower, _CORE.merge, to_tier)


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
    return bucket_rollup(lower, _CORE.merge, int(step_seconds))


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

    sec = tier_seconds(tier)
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

    Stage 1 is the core raw stage grouped by (source, bucket, salt)
    where salt = pmod(xxhash64(doc_id), k), spreading a hot group over k
    reducers; stage 2 is the core merge, combining the k partials.
    Equivalent by construction to :func:`rollup_from_raw`; pytest
    asserts bit-equality. Use when a single (source, bucket) group's
    post-partial-agg combine volume is itself a bottleneck.
    """
    salt = F.pmod(F.xxhash64(F.col("doc_id")), F.lit(salt_buckets)).alias("salt")
    partial = bucket_rollup(
        df, core_family(value_col).raw, tier, source_col, ts_col, keys=(salt,)
    )
    return bucket_rollup(partial, _CORE.merge, tier)
