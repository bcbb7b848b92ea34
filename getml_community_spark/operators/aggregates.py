"""The reference aggregation battery as Spark Column expressions.

Semantics source: /root/reference/src/engine/include/helpers/Aggregations.hpp
(dispatch: fastprop/algorithm/Aggregator.hpp:281-369). The numpy oracle in
:mod:`getml_community_spark.oracle` implements the same formulas; pytest
asserts equality between the two on randomized + edge-case groups.

Spark-first design notes
------------------------
* Everything in :func:`battery` is a SINGLE-PASS aggregate: one
  ``groupBy(keys).agg(*battery(...))`` computes the whole battery in one
  shuffle with partial (map-side) aggregation and whole-stage codegen —
  the Catalyst analogue of the reference's "evaluate the whole feature
  batch per match set" trick (FastProp.cpp:269-310, paper §III.B.4).
* The reference filters non-finite values BEFORE aggregating
  (Aggregator.hpp:449-456); Spark aggregates skip NULL but include NaN,
  so :func:`clean` maps NaN/±Inf → NULL first.
* Population variance (var_pop/stddev_pop ÷n, Aggregations.hpp:675-693);
  Spark ``kurtosis`` is EXCESS → +3.0 (reference is non-excess,
  Aggregations.hpp:302-327); both get an all-identical-values → 0.0
  guard (Aggregations.hpp:473-498 / :302-327).
* Quantiles use exact ``percentile`` (linear interpolation at
  ix=(n−1)·q, same as Aggregations.hpp:444-469) — never
  ``percentile_approx`` in the correctness path.
* FIRST/LAST are ``min_by``/``max_by`` over struct(ts, tiebreak)
  (Aggregations.hpp:280-298,329-347); a tiebreak column pins the
  reference's match-order tie rule deterministically.
* TIME SINCE {FIRST,LAST} {MAX,MIN} use lexicographic struct min/max —
  an argmax with a pinned tie direction in one aggregate expression
  (Aggregations.hpp:519-615).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..oracle import HALF_LIVES

__all__ = [
    "clean",
    "battery",
    "grouped_battery",
    "QUANTILES",
    "two_pass_battery",
    "mode_agg",
    "ewma_trend_agg",
    "assert_equal_agg",
]

QUANTILES = (0.01, 0.05, 0.10, 0.25, 0.75, 0.90, 0.95, 0.99)

LN_HALF = -0.6931471805599453  # ln(0.5)


def clean(col: Column) -> Column:
    """NaN/Inf → NULL so Spark aggs skip them like the reference skips
    non-finite values (Aggregator.hpp:449-456)."""
    c = col.cast("double")
    return F.when(~F.isnan(c) & ~c.isin(float("inf"), float("-inf")), c)


def _guarded_struct(v: Column, *fields: Column) -> Column:
    """NULL the whole struct when the value is NULL, so struct min/max
    aggregates skip incomplete rows instead of sorting nulls first."""
    return F.when(v.isNotNull(), F.struct(*fields))


def battery(
    value: Column,
    ts: Column | None = None,
    t_ref: Column | None = None,
    tiebreak: Column | None = None,
    prefix: str = "",
    include: set[str] | None = None,
    approx: bool = False,
) -> list[Column]:
    """Full single-pass aggregation battery as aliased Columns.

    value     raw value column (cleaned internally)
    ts        peripheral event time as epoch seconds (double)
    t_ref     reference time (bucket end / population ts) as epoch
              seconds — must be constant within each group
    tiebreak  deterministic intra-ts tiebreaker (e.g. doc_id/rowid)
    include   subset of metric names to emit (None = all)
    approx    scale path: sketch-based median/quantiles
              (percentile_approx, bounded rank error) and HLL++
              count_distinct. The EXACT path (default) buffers each
              group's values for the order statistics — fine for
              bounded tier buckets, unbounded state for giant groups;
              flip this on when a group can hold millions of rows and
              the reference-exactness gate doesn't apply.
    """
    out = _metrics(value, ts, t_ref, tiebreak, approx)
    return [c.alias(prefix + k) for k, c in out.items() if include is None or k in include]


def _distinct_ratios(count: Column, count_distinct: Column) -> dict[str, Column]:
    """The two metrics derived from count and count_distinct."""
    return {
        "count_distinct_over_count": count_distinct / F.nullif(count, F.lit(0.0)),
        "count_minus_count_distinct": count - count_distinct,
    }


def _metrics(value, ts, t_ref, tiebreak, approx=False) -> dict[str, Column]:
    """Every battery metric by name, in emission order."""
    v = clean(value)
    out: dict[str, Column] = {}

    acc = F.lit(10000)  # percentile_approx accuracy: ~1/10000 rank error
    out["count"] = F.count(v).cast("double")
    out["sum"] = F.coalesce(F.sum(v), F.lit(0.0))
    out["avg"] = F.avg(v)
    out["min"] = F.min(v)
    out["max"] = F.max(v)
    if approx:
        out["median"] = F.percentile_approx(v, F.lit(0.5), acc)
        for q in QUANTILES:
            out[f"q{int(q * 100):02d}"] = F.percentile_approx(v, F.lit(q), acc)
    else:
        # ONE percentile(v, array(...)) for the whole quantile bank:
        # nine scalar percentile(v, q) calls are nine distinct aggregate
        # functions, each buffering the group's full value histogram;
        # the array form is one aggregate (Catalyst dedups the identical
        # expression across the nine output projections) — one buffer,
        # one sort, nine array reads.
        probs = F.array(F.lit(0.5), *[F.lit(q) for q in QUANTILES])
        qarr = F.percentile(v, probs)
        out["median"] = qarr[0]
        for i, q in enumerate(QUANTILES, start=1):
            out[f"q{int(q * 100):02d}"] = qarr[i]
    out["var_pop"] = F.var_pop(v)
    out["stddev_pop"] = F.stddev_pop(v)
    # all-identical guard (var==0 → 0.0), Aggregations.hpp:473-498/:302-327
    out["skew"] = F.when(F.var_pop(v) == 0.0, 0.0).otherwise(F.skewness(v))
    out["kurtosis"] = F.when(F.var_pop(v) == 0.0, 0.0).otherwise(
        F.kurtosis(v) + F.lit(3.0)
    )
    if approx:
        out["count_distinct"] = F.approx_count_distinct(v).cast("double")
    else:
        out["count_distinct"] = F.count_distinct(v).cast("double")
    out.update(_distinct_ratios(out["count"], out["count_distinct"]))

    if ts is not None:
        t = clean(ts)
        both = F.when(t.isNotNull(), v)  # pairwise-complete (oracle _finite_pair)
        tb = tiebreak if tiebreak is not None else F.lit(0)
        # FIRST/LAST: value at min/max ts, Aggregations.hpp:280-298,329-347
        out["first"] = F.min_by(both, _guarded_struct(both, t, tb))
        out["last"] = F.max_by(both, _guarded_struct(both, t, F.lit(0) - tb))
        # AVG TIME BETWEEN is over match timestamps (DataUsed=na,
        # Aggregator.hpp:431-446) — ts alone, not value-paired.
        n_t = F.count(t)
        out["avg_time_between"] = F.when(n_t <= 1, 0.0).otherwise(
            (F.max(t) - F.min(t)) / (n_t - F.lit(1)).cast("double")
        )
        if t_ref is not None:
            dt = t_ref - t
            # EWMA_*: weighted mean, w=exp(ln .5 * Δt/h), Aggregations.hpp:176-206
            for name, h in HALF_LIVES.items():
                w = F.when(
                    both.isNotNull(), F.exp(F.lit(LN_HALF) * dt / F.lit(h))
                )
                out[f"ewma_{name}"] = F.sum(w * both) / F.nullif(
                    F.sum(w), F.lit(0.0)
                )
            # TREND: OLS intercept at Δt=0, Aggregations.hpp:617-671
            dtc = F.when(both.isNotNull(), dt)
            out["trend"] = F.when(
                F.var_pop(dtc) == 0.0, F.avg(both)
            ).otherwise(
                F.avg(both) - F.avg(dtc) * (F.covar_pop(dtc, both) / F.var_pop(dtc))
            )
            # EWMA_TREND is NOT here: the reference computes it with
            # CENTERED second moments (Aggregations.hpp:211-278 centers x
            # around the weighted mean before summing); a single-pass
            # computational form (Σwx² − sw·mx²) cancels catastrophically
            # when the weight dynamic range is extreme (short half-life,
            # long window). Use :func:`ewma_trend_agg` — two hash
            # aggregations on the same keys, exact.
            # TIME SINCE {LAST,FIRST} {MAX,MIN}: lexicographic struct
            # argmax with pinned tie direction, Aggregations.hpp:519-615
            tr = F.max(t_ref)  # constant within group

            def _vt(tcol: Column) -> Column:
                return _guarded_struct(both, both.alias("v"), tcol.alias("t"))

            out["time_since_last_maximum"] = tr - F.max(_vt(t))["t"]
            out["time_since_first_maximum"] = tr + F.max(_vt(F.lit(0.0) - t))["t"]
            out["time_since_first_minimum"] = tr - F.min(_vt(t))["t"]
            out["time_since_last_minimum"] = tr + F.min(_vt(F.lit(0.0) - t))["t"]

    # VARIATION COEFFICIENT = var_pop/mean (sic), Aggregations.hpp:696-707
    out["variation_coefficient"] = out["var_pop"] / F.nullif(out["avg"], F.lit(0.0))

    return out


_DISTINCT = ("count_distinct", "count_distinct_over_count", "count_minus_count_distinct")


def grouped_battery(
    df: DataFrame, keys: list, value: Column, *, ts: Column | None = None,
    t_ref: Column | None = None, tiebreak: Column | None = None,
    include: set[str] | None = None,
) -> DataFrame:
    """``df.groupBy(*keys).agg(*battery(...))``: keys, then the metrics
    in ``battery()``'s emission order.

    A distinct metric requested with other metrics runs
    ``count_distinct`` as its own aggregation on the same keys: in one
    aggregate, Catalyst's one-distinct rewrite groups by (keys, value)
    first and builds one percentile/min_by buffer PER DISTINCT VALUE
    (measured 4.9 s vs 2.9 s at sf1-shape). The join back is null-safe,
    so NULL-key groups stay; the ratios derive after it."""
    out = _metrics(value, ts, t_ref, tiebreak)
    names = [k for k in out if include is None or k in include]
    distinct = [k for k in names if k in _DISTINCT]
    if not distinct or len(distinct) == len(names):
        return df.groupBy(*keys).agg(*[out[k].alias(k) for k in names])
    main = df.groupBy(*keys).agg(
        *[out[k].alias(k) for k in names if k not in _DISTINCT],
        out["count"].alias("__count"),
    )
    kn = main.columns[: len(keys)]
    cd = df.groupBy(*keys).agg(out["count_distinct"])
    cd = cd.toDF(*[f"__k{i}" for i in range(len(keys))], "count_distinct")
    on = [F.col(k).eqNullSafe(F.col(f"__k{i}")) for i, k in enumerate(kn)]
    joined = main.join(cd, reduce(lambda a, b: a & b, on))
    nd = F.col("count_distinct")
    derived = {"count_distinct": nd, **_distinct_ratios(F.col("__count"), nd)}
    return joined.select(*kn, *[derived.get(k, F.col(k)).alias(k) for k in names])


def assert_equal_agg(value: Column, name: str | None = None) -> Column:
    """ASSERT_EQUAL (reference helpers/Aggregations.hpp:32-47): every
    value in the group must be identical; returns that value, otherwise
    the job FAILS at execution time (raise_error inside the aggregate
    projection — evaluated only on violating groups)."""
    label = name or "assert_equal"
    return F.when(F.count_distinct(value) <= 1, F.first(value)).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"{label}: group has "),
                F.count_distinct(value).cast("string"),
                F.lit(" distinct values, expected 1"),
            )
        )
    )


def mode_agg(df: DataFrame, keys: list[str], value: str, out: str = "mode") -> DataFrame:
    """MODE with the reference tie rule (greatest value wins,
    Aggregations.hpp:386-402,713-733).

    Two hash aggregations on the same keys — Catalyst keeps the second
    groupBy shuffle-free because (keys, value) partitioning satisfies
    (keys); no window, no sort.
    """
    v = clean(F.col(value))
    counted = (
        df.where(v.isNotNull())
        .groupBy(*keys, v.alias("__val"))
        .agg(F.count(F.lit(1)).alias("__cnt"))
    )
    return counted.groupBy(*keys).agg(
        F.max_by("__val", F.struct("__cnt", "__val")).alias(out)
    )


def ewma_trend_agg(
    df: DataFrame,
    keys: list[str],
    value: str,
    ts: str,
    t_ref: str,
    half_lives: dict[str, float] | None = None,
    prefix: str = "",
) -> DataFrame:
    """EWMA_TREND_* with the reference's exact centered algorithm
    (Aggregations.hpp:211-278): pass 1 computes Σw, weighted means of
    x=Δt and y; pass 2 sums the CENTERED weighted second moments; the
    result is the weighted-LS intercept mean_y − mean_x·β.

    Two hash aggregations on identical keys (the second shuffle
    co-partitions with the first), plus one co-partitioned join — the
    scalable exact form; the single-pass computational identity is
    numerically unusable at short half-lives.

    ts / t_ref are epoch-second double columns (t_ref constant per group).
    """
    half_lives = half_lives or HALF_LIVES
    v = clean(F.col(value))
    t = clean(F.col(ts))
    both = F.when(t.isNotNull(), v)
    dt = F.col(t_ref).cast("double") - t

    pass1_aggs, pass2_aggs, final_cols = [], [], []
    for name, h in half_lives.items():
        w = F.when(both.isNotNull(), F.exp(F.lit(LN_HALF) * dt / F.lit(h)))
        pass1_aggs += [
            F.sum(w).alias(f"__sw_{name}"),
            (F.sum(w * dt) / F.sum(w)).alias(f"__mx_{name}"),
            (F.sum(w * both) / F.sum(w)).alias(f"__my_{name}"),
        ]
    # structural degeneracy guard: all Δt identical ⇒ xx must be 0
    # (reference hits its xx==0.0 branch exactly; our mx can round off
    # 1 ulp, so detect it via var_pop instead of trusting xx==0)
    pass1_aggs.append(F.var_pop(F.when(both.isNotNull(), dt)).alias("__vx"))
    stats = df.groupBy(*keys).agg(*pass1_aggs)
    joined = df.join(stats, keys, "left")
    for name, h in half_lives.items():
        w = F.when(both.isNotNull(), F.exp(F.lit(LN_HALF) * dt / F.lit(h)))
        xc = dt - F.col(f"__mx_{name}")
        yc = both - F.col(f"__my_{name}")
        pass2_aggs += [
            F.sum(w * xc * xc).alias(f"__xx_{name}"),
            F.sum(w * xc * yc).alias(f"__xy_{name}"),
            F.first(f"__sw_{name}").alias(f"__sw_{name}"),
            F.first(f"__mx_{name}").alias(f"__mx_{name}"),
            F.first(f"__my_{name}").alias(f"__my_{name}"),
        ]
    pass2_aggs.append(F.first("__vx").alias("__vx"))
    out = joined.groupBy(*keys).agg(*pass2_aggs)
    for name in half_lives:
        sw, mx, my = (F.col(f"__{k}_{name}") for k in ("sw", "mx", "my"))
        xx, xy = F.col(f"__xx_{name}"), F.col(f"__xy_{name}")
        degenerate = (xx == 0.0) | (F.col("__vx") == 0.0)
        final_cols.append(
            F.when(sw.isNull() | (sw == 0.0), F.lit(None).cast("double"))
            .otherwise(F.when(degenerate, my).otherwise(my - mx * (xy / xx)))
            .alias(f"{prefix}ewma_trend_{name}")
        )
    return out.select(*keys, *final_cols)


def two_pass_battery(
    df: DataFrame, keys: list[str], value: str, prefix: str = ""
) -> DataFrame:
    """The aggregations that need the group's max/min/mean first:
    NUM MAX / NUM MIN (Aggregations.hpp:404-440) and COUNT ABOVE/BELOW
    MEAN (Aggregations.hpp:77-114).

    Implemented as two hash aggregations over the same keys (partial
    agg + AQE-coalesced shuffle), NOT a window over raw rows — at 100 TB
    a window would sort every partition; re-aggregating the tiny
    per-group stats table is metadata-cheap.
    """
    v = clean(F.col(value))
    stats = df.groupBy(*keys).agg(
        F.max(v).alias("__mx"), F.min(v).alias("__mn"), F.avg(v).alias("__mean")
    )
    joined = df.join(stats, keys, "left")
    return joined.groupBy(*keys).agg(
        F.coalesce(F.sum(F.when(v == F.col("__mx"), 1.0)), F.lit(0.0)).alias(
            prefix + "num_max"
        ),
        F.coalesce(F.sum(F.when(v == F.col("__mn"), 1.0)), F.lit(0.0)).alias(
            prefix + "num_min"
        ),
        F.coalesce(F.sum(F.when(v > F.col("__mean"), 1.0)), F.lit(0.0)).alias(
            prefix + "count_above_mean"
        ),
        F.coalesce(F.sum(F.when(v < F.col("__mean"), 1.0)), F.lit(0.0)).alias(
            prefix + "count_below_mean"
        ),
    )
