"""FastProp-lite: automatic feature enumeration over the as-of match
frame — the reference's conditions × aggregations grid
(/root/reference/src/engine/src/fastprop/FastProp.cpp:534-870:
per-DataUsed aggregation loops; categorical conditions :1229-1251; the
lag bank :1255-1287), re-expressed as ONE multi-aggregate groupBy.

The reference enumerates one FEATURE_i table per (condition,
aggregation) and back-joins them; here every enumerated feature is one
aliased Column in a single ``groupBy(population_id).agg(...)`` — one
shuffle for the whole grid, map-side partial aggregation, whole-stage
codegen. Feature selection uses sampled single-feature correlation
(corr² == the R² the reference scores with, FastProp.cpp:270,550),
computed for ALL features in one pass over a sample.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .asof_join import _asof_aggregate

__all__ = ["top_categories", "fastprop_features", "select_features", "FASTPROP_AGGS"]

# SQL-friendly aggregation bank; count → 0 and sum → 0.0 on empty match
# sets (Aggregations.hpp empty-set defaults), the rest NULL.
FASTPROP_AGGS = {
    "count": lambda c: F.count(c).cast("long"),
    "sum": lambda c: F.sum(c),
    "avg": lambda c: F.avg(c),
    "min": lambda c: F.min(c),
    "max": lambda c: F.max(c),
    "stddev_pop": lambda c: F.stddev_pop(c),
    "median": lambda c: F.median(c),
}
_EMPTY = {"count": 0, "sum": 0.0}


def top_categories(
    df: DataFrame, col: str, n: int
) -> list:
    """The n most frequent values of a categorical column, ordered by
    (count desc, value asc) — the reference's deterministic
    n-most-frequent rule (FastProp.cpp:1229-1251). Driver-side collect
    is bounded by n."""
    rows = (
        df.groupBy(col)
        .agg(F.count(F.lit(1)).alias("__n"))
        .orderBy(F.desc("__n"), F.asc(col))
        .limit(n)
        .collect()
    )
    return [r[col] for r in rows]


def fastprop_features(
    population: DataFrame,
    peripheral: DataFrame,
    on: list[str] | str,
    population_id: str,
    pop_ts: str,
    peri_ts: str,
    value_cols: list[str],
    aggs: tuple[str, ...] = ("count", "sum", "avg", "min", "max"),
    categorical_cols: tuple[str, ...] = (),
    n_most_frequent: int = 3,
    n_lag_splits: int = 0,
    same_units_pairs: tuple[tuple[str, str], ...] = (),
    horizon: float = 0.0,
    memory: float | None = None,
    fitted_categories: dict[str, list] | None = None,
) -> DataFrame:
    """Auto-enumerate and compute the conditions × aggregations feature
    grid per population row.

    ``fitted_categories`` pins the per-column top-category values learned
    at FIT time ({col: [v1, v2, ...]}): when given, the ``<cat>_top<r>``
    conditions use these values instead of recomputing frequencies on the
    CURRENT peripheral — the reference stores the fitted
    ``categorical_value_`` in each feature (fastprop/SQLMaker.cpp:34-36)
    precisely so a feature means the same category at transform time even
    when category frequencies shift (no train/serve skew).

    Conditions (the reference's enumeration, FastProp.cpp:534-870):
      - ``all``: the plain window (no condition);
      - ``<cat>_top<r>``: peripheral categorical equals the r-th most
        frequent value (r = 1..n_most_frequent per categorical column);
      - ``lag<j>``: the window's Δt range split into ``n_lag_splits``
        equal sub-ranges (the lag bank, FastProp.cpp:1255-1287),
        j = 0 is the most recent sub-range. Requires ``memory``.
      - ``same_<pop>_<peri>``: the same-units categorical condition
        (population column equals peripheral column per match,
        FastProp.cpp:714-753) for each (pop_col, peri_col) in
        ``same_units_pairs``.

    Feature columns are named ``{agg}__{value_col}__{condition}``. All
    features compute in ONE groupBy over the match frame (single
    shuffle) through the as-of feature core shared with
    ``asof_features``: population rows with no matches get
    ``count__*`` = 0, ``sum__*`` = 0.0 and NULL elsewhere, and non-id
    population columns are carried as ``first()`` per group.
    ``population_id`` must uniquely identify population rows; a
    duplicated id raises ``ValueError``.
    """
    for a in aggs:
        if a not in FASTPROP_AGGS:
            raise ValueError(f"unknown aggregation {a!r}")
    if n_lag_splits and memory is None:
        raise ValueError("lag splits require a finite memory window")

    conditions: list[tuple[str, Column | None]] = [("all", None)]
    for ccol in categorical_cols:
        vals = (
            fitted_categories[ccol]
            if fitted_categories is not None
            else top_categories(peripheral, ccol, n_most_frequent)
        )
        for r, val in enumerate(vals, start=1):
            conditions.append((f"{ccol}_top{r}", F.col(ccol) == F.lit(val)))
    for pop_col, peri_col in same_units_pairs:
        conditions.append(
            (f"same_{pop_col}_{peri_col}", F.col(f"__pop_{pop_col}") == F.col(peri_col))
        )
    if n_lag_splits:
        # the window predicate is t_peri <= t_pop - h AND
        # t_peri > t_pop - h - mem, i.e. delta = t_pop - t_peri in
        # [horizon, horizon + memory); the lag sub-ranges use the same
        # [lo, hi) orientation so they PARTITION the window exactly
        delta = F.col("__t_pop") - F.col("__t_peri")
        step = float(memory) / n_lag_splits
        for j in range(n_lag_splits):
            lo = float(horizon) + j * step
            hi = float(horizon) + (j + 1) * step
            conditions.append(
                (f"lag{j}", (delta >= F.lit(lo)) & (delta < F.lit(hi)))
            )

    feature_cols: list[Column] = []
    zero_fill: dict[str, object] = {}
    for cond_name, cond in conditions:
        for vc in value_cols:
            base = F.col(vc) if cond is None else F.when(cond, F.col(vc))
            for a in aggs:
                name = f"{a}__{vc}__{cond_name}"
                feature_cols.append(FASTPROP_AGGS[a](base).alias(name))
                if a in _EMPTY:
                    zero_fill[name] = _EMPTY[a]

    peri_needed = [*value_cols, *categorical_cols, *(p[1] for p in same_units_pairs)]
    return _asof_aggregate(
        population, population_id, feature_cols, zero_fill,
        peripheral=peripheral, on=on, pop_ts=pop_ts, peri_ts=peri_ts,
        horizon=horizon, memory=memory, pop_cols=[p[0] for p in same_units_pairs],
        peri_cols=list(dict.fromkeys([*peri_needed, peri_ts])),
    )


def select_features(
    df: DataFrame,
    feature_cols: list[str],
    target_col: str,
    k: int | None = None,
    sample_fraction: float | None = None,
    seed: int = 42,
) -> list[tuple[str, float]]:
    """Rank features by sampled single-feature R² against a target —
    the reference's feature-selection score (FastProp.cpp:270,550
    samples rows and keeps the highest-R² features). One pass computes
    every correlation (one agg, no shuffle per feature); R² = corr².
    Returns [(feature, r2)] sorted desc, truncated to k."""
    d = df.sample(fraction=sample_fraction, seed=seed) if sample_fraction else df
    row = d.agg(
        *[F.corr(F.col(c), F.col(target_col)).alias(c) for c in feature_cols]
    ).collect()[0]
    scored = [
        (c, (row[c] or 0.0) ** 2) for c in feature_cols
    ]
    scored.sort(key=lambda t: (-t[1], t[0]))
    return scored[:k] if k is not None else scored
