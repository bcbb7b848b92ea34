"""Classical additive seasonal decomposition of dense tier series:
value = trend + seasonal + residual (the moving-average decomposition
underlying STL; Cleveland et al. 1990 describe the family — this is the
textbook MA variant, not loess).

Composes with this package's tier pipeline: ``rollup_from_raw`` →
``gapfill`` produces the DENSE per-key series decomposition requires;
the residual is what :mod:`.anomaly` should be run on when the series
has a strong daily/weekly cycle (a rolling z-score on raw counts flags
every rush hour; on residuals it flags genuine surprises).

Semantics (period p, rows-based — the input must be gap-filled):
- trend: centered moving average; for even p the standard 2×p MA
  (mean of the two p-windows offset by one), null until both windows
  are fully populated.
- seasonal: per-phase mean of the detrended series (phase =
  bucket_epoch / bucket_seconds mod p), centered to sum to zero across
  phases per key.
- residual: value − trend − seasonal (null where trend is null).

Cross-engine determinism: floating-point sums are order-dependent, so a
naive avg(v − trend) differs in the last bits between engines (and
between runs of the same engine) — measured: 1 residual in 105k rows
straddled the 1e-6 rounding boundary vs DuckDB. Instead every mean is
derived from SUMS OF INTEGERS (for integral inputs, float addition of
integers below 2^53 is exact, hence order-independent): the phase mean
is (q·Σv − Σnum) / (q·n) with q = 2p (even) or p (odd) and num the
integer trend numerator, then quantized to micro-units (×1e6, floored
long) before centering, so the centering subtraction is
integer − exact-quotient. Every emitted double is a deterministic
function of exact integers.

Scale shape: one shuffle for the per-key ordered window, one hash agg
for the phase means, one broadcast-sized rejoin per key — no UDFs, no
collect; per-key state is two running sums plus p phase partials.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..session import barrier

__all__ = ["seasonal_decompose"]


def seasonal_decompose(
    df: DataFrame,
    ts_col: str = "bucket_start",
    value_col: str = "cnt",
    key_col: str = "source",
    period: int = 24,
    bucket_seconds: int = 3600,
) -> DataFrame:
    """Decompose a dense (gap-filled) tier series per key. Returns
    (key, bucket_epoch, value, trend, seasonal, resid)."""
    if period < 2:
        raise ValueError("period must be >= 2")
    epoch = F.col(ts_col).cast("timestamp").cast("long")
    base = df.select(
        F.col(key_col).alias("key"),
        epoch.alias("bucket_epoch"),
        F.col(value_col).cast("double").alias("v"),
    )
    half = period // 2
    w = Window.partitionBy("key").orderBy("bucket_epoch")
    # Prefix-sum windows (the rolling_zscore discipline): Spark
    # re-aggregates a bounded sliding frame from scratch per row
    # (O(period)/row); a running inclusive sum + lead/lag differences
    # is O(1)/row and EXACT on the integral inputs this operator's
    # determinism contract already requires (integer sums < 2^53).
    # Frame [a, b] relative to row i equals X(i+b) − X(i+a−1) on the
    # running X; a lead past the partition end yields NULL, which makes
    # `full` non-true exactly where the truncated frame's count < p did.
    w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    run = base.select(
        "key",
        "bucket_epoch",
        "v",
        F.count("v").over(w_run).alias("__rc"),
        F.sum("v").over(w_run).alias("__rs"),
    )

    def _frame(col, zero, a, b):
        hi = F.lead(col, b).over(w) if b > 0 else col
        lo = F.coalesce(F.lag(col, 1 - a).over(w), zero)
        return hi - lo

    if period % 2 == 0:
        # 2×p MA: windows [-p/2, p/2-1] and [-p/2+1, p/2], each of p rows
        c1 = _frame(F.col("__rc"), F.lit(0), -half, half - 1)
        c2 = _frame(F.col("__rc"), F.lit(0), -half + 1, half)
        s1 = _frame(F.col("__rs"), F.lit(0.0), -half, half - 1)
        s2 = _frame(F.col("__rs"), F.lit(0.0), -half + 1, half)
        full = (c1 == period) & (c2 == period)
        num = F.when(full, s1 + s2)
        q = 2 * period
    else:
        cc = _frame(F.col("__rc"), F.lit(0), -half, half)
        ss = _frame(F.col("__rs"), F.lit(0.0), -half, half)
        full = cc == period
        num = F.when(full, ss)
        q = period

    t = run.select(
        "key",
        "bucket_epoch",
        "v",
        num.alias("__num"),
        F.pmod(F.floor(F.col("bucket_epoch") / bucket_seconds), period).alias(
            "phase"
        ),
    )
    # t feeds three branches (phase means, key means, final join) that
    # share no subtree — without a barrier the whole upstream chain
    # (scan → rollup → gapfill → MA windows) recomputes once per branch
    # (measured: 6 scans of the source). Materialize once; lazily, so
    # report-less pipelines stay one job until first action.
    t = barrier(t, eager=False)
    # phase mean of (v - num/q) from order-independent sums:
    # (q·Σv − Σnum) / (q·n), over rows where the trend exists; then
    # micro-unit quantization so centering stays integer-exact
    phase_means = (
        t.groupBy("key", "phase")
        .agg(
            F.count("__num").alias("__n"),
            F.sum(F.when(F.col("__num").isNotNull(), F.col("v"))).alias("__sv"),
            F.sum("__num").alias("__snum"),
        )
        .select(
            "key",
            "phase",
            F.when(
                F.col("__n") > 0,
                F.floor(
                    (F.lit(q) * F.col("__sv") - F.col("__snum"))
                    / (F.lit(float(q)) * F.col("__n"))
                    * F.lit(1e6)
                    + F.lit(0.5)
                ).cast("long"),
            ).alias("__s_u"),
        )
    )
    key_means = phase_means.groupBy("key").agg(
        F.sum("__s_u").alias("__S"), F.count("__s_u").alias("__P")
    )
    seasonal = phase_means.join(key_means, "key").select(
        "key",
        "phase",
        (
            (F.col("__s_u") - F.col("__S") / F.col("__P")) / F.lit(1e6)
        ).alias("seasonal"),
    )
    trend = F.col("__num") / F.lit(float(q))
    # pin the build side: unhinted, AQE may broadcast the large
    # checkpointed `t` and stream the tiny `seasonal` frame, so every
    # output row lands in seasonal's one coalesced partition and a
    # downstream per-key window (rolling_zscore) runs in a single task
    # (measured 3.3-4.3 s vs 1.7-1.8 s on 4 tasks: sf0.1, local[3] on a
    # 4-core host)
    return (
        t.join(F.broadcast(seasonal), ["key", "phase"])
        .select(
            "key",
            "bucket_epoch",
            F.col("v").alias("value"),
            trend.alias("trend"),
            # seasonal is defined wherever the phase has one (statsmodels
            # convention); resid only where trend exists
            F.col("seasonal"),
            (F.col("v") - trend - F.col("seasonal")).alias("resid"),
        )
    )
