"""Mergeable histogram quantiles — percentile continuous aggregates
that CASCADE across retention tiers.

Exact quantiles do not compose: a 1h tier cannot be assembled from 1m
medians (rollup.py documents the restriction, and the reference's
battery computes quantiles only from raw groups —
src/engine/include/fastprop/algorithm/Aggregations.hpp:444-469). The
composable alternative — what TimescaleDB ships as ``percentile_agg``
/ ``approx_percentile`` rollups (public docs) — is a fixed-bin
histogram: per (source, bucket) keep integer counts of
``bin = floor(value / bin_width)``; histograms merge by ADDING counts,
so a coarser tier's histogram is exactly the sum of its finer-tier
histograms, and any tier can answer p50/p95/p99 with error bounded by
``bin_width`` — with NO approximation in the merge itself.

Determinism (the driver-gate discipline): bins and counts are exact
integers; the quantile rule is type-1 / inverted-CDF (smallest bin
whose cumulative count reaches ``ceil(q * total)``), so every engine
computes byte-identical results — no interpolation, no float
accumulation. The only float op is ``value / bin_width``, identical
IEEE division in Spark and DuckDB.

Why not Spark 4.1's KLL quantile sketches (kll_sketch_agg_* /
kll_sketch_merge_*)? They'd be tuning-free, but DataSketches KLL
compaction is RANDOMIZED — measured here: merging the same partial
sketches twice returns different quantiles, and merged != direct-built
— which breaks this engine's bit-reproducibility discipline (driver
gate, golden tests, cross-engine oracles). Fixed-bin histograms trade
a bin_width knob for exact, deterministic merges.

Representation is a TALL frame — rows of (source, bucket_start, bin,
cnt) — not a map/array column: cascading is then a plain hash
aggregation (whole-stage codegen, map-side partial aggregation, one
shuffle on the coarser key), and quantile extraction is one window
pass ordered by bin. At 10^12 rows the tall histogram tier is bounded
by (sources x buckets x occupied bins), with occupied bins capped by
value-range / bin_width — choose bin_width to taste the error/size
trade (SLO-style monitoring wants ~1% relative error near the SLO
boundary, i.e. ~100-200 bins over the operating range).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .rollup import TierFamily, bucket_rollup

__all__ = [
    "hist_family",
    "hist_rollup_from_raw",
    "hist_cascade",
    "hist_to_step",
    "hist_quantiles",
]


def hist_family(
    value_col: str = "n_tok", bin_width: float = 1.0, weight_col: str | None = None
) -> TierFamily:
    """Histogram tiers: (bin, cnt) per (source, bucket) with ``bin =
    floor(value / bin_width)`` as the extra group key. NULL values drop
    (they carry no quantile information). Merging ADDS counts — exact,
    no re-binning.

    ``weight_col`` (integer column) makes ``cnt`` a WEIGHT sum instead
    of a row count — downstream quantiles become weighted quantiles
    ("p95 document length weighted by n_tok" answers where the TOKENS
    sit, not where the documents sit — the mixture-construction view).
    Weights must be non-negative integers so counts stay exact longs;
    rows with NULL weight drop with the NULL values."""
    if bin_width <= 0:
        raise ValueError("bin_width must be > 0")

    def raw(df, sec):
        v = F.col(value_col)
        b = F.floor(v.cast("double") / F.lit(float(bin_width))).cast("long")
        keep, cnt = v.isNotNull(), F.count(F.lit(1))
        if weight_col is not None:
            keep &= F.col(weight_col).isNotNull()
            cnt = F.sum(F.col(weight_col).cast("long"))
        return df.where(keep), [b.alias("bin")], [cnt.alias("cnt")], ["bin", "cnt"]

    def merge(hist, sec):
        return hist, [F.col("bin")], [F.sum("cnt").alias("cnt")], ["bin", "cnt"]

    return TierFamily(raw, merge)


_HIST = hist_family()


def hist_rollup_from_raw(
    df: DataFrame,
    tier: str,
    value_col: str = "n_tok",
    bin_width: float = 1.0,
    source_col: str = "source",
    ts_col: str = "event_time",
    weight_col: str | None = None,
) -> DataFrame:
    """Histogram tier from raw events: (source, bucket_start, bin, cnt)
    (see :func:`hist_family`). One hash aggregation, one shuffle on
    (source, bucket, bin); a hot source partial-aggregates map-side
    exactly like the core rollup."""
    family = hist_family(value_col, bin_width, weight_col)
    return bucket_rollup(df, family.raw, tier, source_col, ts_col)


def hist_cascade(hist: DataFrame, to_tier: str) -> DataFrame:
    """Roll a histogram tier up to a coarser tier by ADDING counts —
    the merge is exact (no re-binning, no approximation): the coarse
    histogram equals what hist_rollup_from_raw would have produced
    from raw (pytest-asserted bucket-exact)."""
    return bucket_rollup(hist, _HIST.merge, to_tier)


def hist_to_step(hist: DataFrame, step_seconds: int) -> DataFrame:
    """Re-bucket a histogram tier to an arbitrary epoch-aligned step
    (the range-query router's quantile path) — valid whenever the
    source tier's width divides ``step_seconds``; the count merge stays
    exact like the tier cascade."""
    return bucket_rollup(hist, _HIST.merge, int(step_seconds))


def hist_quantiles(
    hist: DataFrame,
    qs: tuple = (0.5, 0.95, 0.99),
    bin_width: float = 1.0,
    prefix: str = "p",
) -> DataFrame:
    """Extract quantiles from a histogram tier: one row per (source,
    bucket_start) with ``cnt`` and one column per q (named e.g. ``p50``)
    holding the LOWER EDGE of the selected bin (``bin * bin_width``) —
    within ``bin_width`` of the true type-1 quantile.

    Rule (deterministic, integer-exact): smallest bin whose running
    count reaches ``ceil(q * total)``. One window pass ordered by bin
    inside each (source, bucket) partition — bins are distinct within
    the partition (they were a group key), so the ROWS running sum has
    no tie ambiguity."""
    for q in qs:
        if not 0.0 < q <= 1.0:
            raise ValueError(f"quantile {q} must be in (0, 1]")
    part = Window.partitionBy("source", "bucket_start")
    w = part.orderBy("bin").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = F.sum("cnt").over(w)
    tot = F.sum("cnt").over(part)
    h = hist.select(
        "source",
        "bucket_start",
        "bin",
        "cnt",
        cum.alias("__cum"),
        tot.alias("__tot"),
    )
    aggs = [F.sum("cnt").alias("cnt")]
    for q in qs:
        name = f"{prefix}{int(round(q * 100))}"
        target = F.ceil(F.lit(float(q)) * F.col("__tot"))
        aggs.append(
            (
                F.min(F.when(F.col("__cum") >= target, F.col("bin")))
                * F.lit(float(bin_width))
            ).alias(name)
        )
    return h.groupBy("source", "bucket_start").agg(*aggs)
