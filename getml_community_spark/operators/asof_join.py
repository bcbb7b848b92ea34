"""As-of / interval join + windowed feature aggregation — the reference
engine's core computation.

Semantics (reference helpers/Matchmaker.hpp:126-131, window columns from
modify_data_frames.cpp:336-377, paper Fig. 2): peripheral row *i*
matches population row *o* iff

    jk_peri[i] == jk_pop[o]
    AND ts_pop[o] − horizon − memory < ts_peri[i] <= ts_pop[o] − horizon

(memory=None ⇒ no lower bound; an explicit ``upper_ts`` column replaces
memory, mutually exclusive — modify_data_frames.cpp:213-217). The
aggregation battery then reduces each population row's match set —
one ``groupBy(population_id).agg(*battery)`` computes every feature in
a single shuffle, the Spark analogue of the reference's row-wise
batched generation (FastProp.cpp:269-310).

One feature core: ``asof_features`` and ``fastprop_features`` build
their feature Columns and hand them to :func:`_asof_aggregate`, which
alone owns the duplicate-id guard (a shared ``population_id`` raises
``ValueError``), the LEFT match, the carries, the groupBy, the re-emit
and the empty-match defaults.

Join shape (no option; ``memory`` decides): the reference bounds window
lookups with a per-key timestamp tree index
(tsindex/InMemoryIndex.hpp:37-43). The shuffle-native analogue is TIME
BUCKETING: peripheral rows get bucket ``floor(ts/W)`` with W = memory;
each population row joins to the ≤ ⌈m/W⌉+1 = 2 buckets its window can
touch (exploded via a literal array, pure JVM). The equi-join on (key,
bucket) bounds candidates per row to O(rows in 2 buckets) instead of
O(rows per key) — the skew killer for long-history keys. With
``memory=None`` the join is on the key alone. The exact range predicate
filters inside the joined stage before any aggregation state is built.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, functions as F

__all__ = ["asof_match", "asof_features"]


def _epoch(col: Column) -> Column:
    """Any timestamp flavor (TIMESTAMP/TIMESTAMP_NTZ/numeric/string) →
    double epoch seconds (the reference's time representation,
    data/time.py:11-23). NTZ needs the hop through TIMESTAMP (session
    tz is pinned UTC in session.py, so the hop is value-preserving)."""
    return col.cast("timestamp").cast("double")


def asof_match(
    population: DataFrame,
    peripheral: DataFrame,
    on: list[str] | str,
    population_id: str,
    pop_ts: str,
    peri_ts: str,
    horizon: float = 0.0,
    memory: float | None = None,
    upper_ts: str | None = None,
    peri_cols: list[str] | None = None,
    pop_cols: list[str] | None = None,
    how: str = "inner",
) -> DataFrame:
    """Return matched (population_id, pop_ts_epoch, peripheral columns)
    pairs under the reference window predicate.

    The frame holds ``__pop_id``, ``__t_pop``, ``__t_peri``, one
    ``__pop_<c>`` per ``pop_cols`` entry, the join keys and the kept
    peripheral columns. Timestamps may be TimestampType (cast to double
    epoch seconds — the reference stores double epoch,
    data/time.py:11-23) or numeric.

    ``how="left"`` keeps every population row: rows with no window match
    are emitted once per candidate bucket with all peripheral columns
    NULL (the window predicate moves into the join condition). This is
    the shuffle-saving shape for feature aggregation — the consumer's
    single ``groupBy(__pop_id)`` then covers match-less rows too, so no
    second pass over the population is needed (optimization guide §2.4).
    """
    if memory is not None and upper_ts is not None:
        raise ValueError("memory and upper_ts are mutually exclusive")
    if how not in ("inner", "left"):
        raise ValueError("how must be 'inner' or 'left'")
    on = [on] if isinstance(on, str) else list(on)
    if not on:
        # keyless join: the reference adds a constant join key to both
        # sides (modify_data_frames.cpp:121-131 add_jk). The bucketed
        # shape still bounds candidates by time bucket, so this is a
        # time-windowed cross join, not a full cartesian.
        population = population.withColumn("__jk", F.lit(1))
        peripheral = peripheral.withColumn("__jk", F.lit(1))
        on = ["__jk"]

    t_pop = _epoch(F.col(pop_ts))
    t_peri = _epoch(F.col(peri_ts))

    keep = peri_cols or [c for c in peripheral.columns if c not in on]
    peri = peripheral.select(
        *on, t_peri.alias("__t_peri"), *[F.col(c) for c in keep if c != peri_ts]
    )
    # pop_cols: population attributes carried into the match frame — the
    # reference's same_units_* value extraction (population col − peripheral
    # col per match, fastprop/Aggregator.cpp:282-320) needs them.
    extra_pop = [c for c in (pop_cols or []) if c not in on and c != population_id]
    pop = population.select(
        F.col(population_id).alias("__pop_id"),
        *on,
        t_pop.alias("__t_pop"),
        *[F.col(c).alias(f"__pop_{c}") for c in extra_pop],
    )

    upper = F.col("__t_pop") - F.lit(float(horizon))
    cond = F.col("__t_peri") <= upper
    if memory is not None:
        w = float(memory)
        cond = cond & (F.col("__t_peri") > upper - F.lit(w))
        peri = peri.withColumn(
            "__bkt", F.floor(F.col("__t_peri") / F.lit(w)).cast("long")
        )
        lo_b = F.floor((upper - F.lit(w)) / F.lit(w))
        hi_b = F.floor(upper / F.lit(w))
        pop = pop.withColumn(
            "__bkt",
            F.explode(F.array_distinct(F.array(lo_b.cast("long"), hi_b.cast("long")))),
        )
        join_keys = on + ["__bkt"]
    else:
        join_keys = list(on)
    if upper_ts is not None:
        # reference: NaN/NULL upper ⇒ open-ended (Matchmaker.hpp:126-131)
        u = _epoch(F.col(upper_ts))
        cond = cond & (u.isNull() | F.isnan(u) | (u > F.col("__t_pop")))

    drop = ["__bkt"] if memory is not None else []
    if how == "inner":
        return pop.join(peri, on=join_keys, how="inner").drop(*drop).where(cond)
    # how == "left": the window predicate joins the equi keys inside the
    # ON condition so match-less population rows null-extend instead of
    # disappearing. Peripheral key columns are renamed to avoid ambiguity
    # and dropped after the join.
    peri_r = peri.withColumnsRenamed({k: f"__peri_{k}" for k in join_keys})
    eq = [F.col(k) == F.col(f"__peri_{k}") for k in join_keys]
    joined = pop.join(peri_r, reduce(lambda a, b: a & b, eq) & cond, "left")
    # population key columns stay (callers re-emit them); internal
    # bucket + renamed peripheral keys go
    return joined.drop(*drop, *[f"__peri_{k}" for k in join_keys])


def _asof_aggregate(
    population: DataFrame,
    population_id: str,
    features: list[Column],
    zero_fill: dict[str, object],
    *,
    on: list[str] | str,
    pop_cols: list[str],
    **match,
) -> DataFrame:
    """The as-of feature core: one output row per population row, its
    columns in population order followed by ``features`` (aliased
    aggregate Columns over the LEFT :func:`asof_match` frame; ``match``
    holds its other arguments).

    ``population_id`` must be unique — one eager job checks it and
    raises ``ValueError`` naming a duplicated id, since the single
    ``groupBy(__pop_id)`` would otherwise merge the rows' match sets.
    A row with no window match gets NULL for every feature except the
    ``zero_fill`` ones, which get their literal (the reference's
    empty-set defaults, Aggregations.hpp: COUNT→0, SUM→0.0).
    """
    # one partition per core, by the id: the guard's groupBy needs no
    # shuffle, AQE cannot coalesce a small population into one task, and
    # with a broadcast peripheral the per-id aggregate below needs none
    # either (with a shuffled join this is one extra population shuffle)
    by_id = population.repartition(
        population.sparkSession.sparkContext.defaultParallelism, population_id
    )
    dup = (
        by_id.groupBy(population_id).agg(F.count(F.lit(1)).alias("__n"))
        .where(F.col("__n") > 1).limit(1).collect()
    )
    if dup:
        raise ValueError(f"population_id {population_id!r} must be unique: "
                         f"{dup[0][0]!r} appears {dup[0][1]} times")
    on_l = [on] if isinstance(on, str) else list(on)
    pop_carry = [c for c in population.columns if c != population_id]
    matched = asof_match(
        by_id, population_id=population_id, on=on_l, how="left",
        pop_cols=list(dict.fromkeys([*pop_cols, *pop_carry])), **match,
    )
    # the LEFT match keeps match-less rows, so no population rejoin
    # (optimization guide §2.4); non-id population columns ride along as
    # first(). __nm counts real matches: __t_peri is null exactly on
    # null-extended rows.
    carries = [
        F.first(F.col(c) if c in on_l else F.col(f"__pop_{c}")).alias(c)
        for c in pop_carry
    ]
    grouped = matched.groupBy("__pop_id").agg(
        *carries, *features, F.count(F.col("__t_peri")).alias("__nm")
    )
    # an empty match set emits NULL features (e.g. avg_time_between's
    # n<=1 → 0.0 branch must not fire) except the zero-filled ones
    has = F.col("__nm") > 0
    return grouped.select(
        *[
            F.col("__pop_id").alias(c) if c == population_id else F.col(c)
            for c in population.columns
        ],
        *[
            F.coalesce(F.col(n), F.lit(zero_fill[n])).alias(n)
            if n in zero_fill else F.when(has, F.col(n)).alias(n)
            for n in grouped.columns[1 + len(carries):-1]
        ],
    )


def asof_features(
    population: DataFrame,
    peripheral: DataFrame,
    on: list[str] | str,
    population_id: str,
    pop_ts: str,
    peri_ts: str,
    value_col: str | None = None,
    horizon: float = 0.0,
    memory: float | None = None,
    include: set[str] | None = None,
    prefix: str = "",
    value_expr=None,
    peri_cols: list[str] | None = None,
    pop_cols: list[str] | None = None,
) -> DataFrame:
    """Per-population-row windowed aggregation battery (the reference's
    FEATURE_i tables, AbstractFeature.cpp:89-170, computed as ONE
    multi-aggregate groupBy instead of N feature tables + N back-joins —
    HumanReadableSQLGenerator.cpp:557's join chain collapses into a
    single shuffle).

    Builds the battery Columns and runs them through the as-of feature
    core shared with ``fastprop_features``: population rows with no
    matches get count=0, sum=0.0, everything else NULL (the engine's
    NaN); non-id population columns are carried as ``first()`` per
    group. ``population_id`` must uniquely identify population rows; a
    duplicated id raises ``ValueError``.
    """
    from .aggregates import battery

    if (value_col is None) == (value_expr is None):
        raise ValueError("pass exactly one of value_col / value_expr")
    # value_expr enables the reference's value-extraction variants
    # (fastprop/Aggregator.cpp): categorical dummies
    # (CASE WHEN c='x' THEN 1 ELSE 0, SQLMaker.cpp:295-307) and
    # same-units differences (__pop_<col> - peripheral col, :282-320).
    # guard the value on real-match presence: a LEFT-match null-extended
    # row must contribute nothing even when value_expr has a non-null
    # otherwise() branch (e.g. the categorical dummy's 0.0). __t_peri is
    # null exactly on non-matches — the window predicate cannot match a
    # null-ts peripheral row.
    val = F.when(
        F.col("__t_peri").isNotNull(),
        value_expr if value_expr is not None else F.col(value_col),
    )
    aggs = battery(
        val,
        ts=F.col("__t_peri"),
        t_ref=F.col("__t_pop"),  # Δt = ts_pop − ts_peri, Aggregator.hpp:415-423
        include=include,
        prefix=prefix,
    )
    return _asof_aggregate(
        population, population_id, aggs, {prefix + "count": 0.0, prefix + "sum": 0.0},
        peripheral=peripheral, on=on, pop_ts=pop_ts, peri_ts=peri_ts,
        horizon=horizon, memory=memory, pop_cols=pop_cols or [],
        peri_cols=peri_cols or ([value_col, peri_ts] if value_col else None),
    )
