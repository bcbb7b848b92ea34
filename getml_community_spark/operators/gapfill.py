"""Gap-fill: densify irregular per-source rollup series so every
bucket in each source's [min, max] span exists.

The reference has no explicit gap-fill (it aggregates sliding windows
directly), but our north rule requires dense tiers: a (source, bucket)
with no events must exist with cnt=0, sum=0, min/max NULL
(FIXTURES.md §2 ``gapfill_golden``).

Spark-first, one generator: a lag window over the aggregate (previous
bucket per source) finds each gap, the missing buckets are born
map-side from a bounded two-level explode, and they are unioned with
the aggregate's own rows — pure JVM, no Python, no join. Every input
row is kept as is, including rows with a NULL source or a NULL
``bucket_start``.

An ``applyInPandas`` variant does per-source linear interpolation for
value columns — the stateful-custom-operator escape hatch (Arrow-
vectorized, grouped by source: each group is one pandas frame).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..session import barrier

__all__ = ["gapfill", "gapfill_interpolated"]


def gapfill(
    agg: DataFrame,
    tier_seconds: int = 60,
    zero_cols: tuple[str, ...] = ("cnt", "sum_n_tok"),
    rate_col: str | None = "rate",
) -> DataFrame:
    """Densify a rollup table over each source's [min, max] bucket span.
    Gap rows get 0 in ``zero_cols`` and ``rate_col`` and NULL in every
    other column (min/max).

    One window pass (lag of the previous bucket per source) finds each
    gap; the per-source sort runs once, over the aggregate, never over
    the dense output. Gap buckets come from a TWO-LEVEL explode: day-
    sized chunks first, then the intra-chunk offsets, so one
    ``sequence()`` array holds at most 86400/tier_seconds entries (1440
    at 1m) and a gap spanning years never materializes a multi-million-
    element array in one row; the chunk explode also spreads a long
    gap's rows across tasks.
    """
    # the aggregate feeds two branches that share no subtree (real rows,
    # gap rows) — without a barrier the whole upstream chain (scan ->
    # rollup) executes twice per action (measured: 2.2 s of gapfill's
    # 2.2+ s at sf1.0 was the second pass). Lazy barrier; a no-op when
    # the caller already persisted the tier (the hot path does).
    agg = barrier(agg, eager=False)
    b = F.col("bucket_start").cast("timestamp").cast("long")
    w = Window.partitionBy("source").orderBy(b)
    sec = int(tier_seconds)
    per_chunk = max(86400 // sec, 1)
    # the real chunk stride: per_chunk*sec, NOT 86400 — they differ when
    # sec doesn't divide 86400 (e.g. 50000 s), and striding 86400 would
    # truncate a gap's tail buckets
    stride = per_chunk * sec
    gaps = (
        agg.select("source", F.lag(b).over(w).alias("__prev"), b.alias("__b"))
        .where(F.col("__b") - F.col("__prev") > sec)
        .select(
            "source",
            (F.col("__prev") + sec).alias("__g0"),
            (F.col("__b") - sec).alias("__g1"),
        )
        .select(
            "source",
            "__g0",
            "__g1",
            F.explode(
                F.sequence(
                    F.lit(0).cast("long"),
                    F.floor((F.col("__g1") - F.col("__g0")) / F.lit(stride)).cast(
                        "long"
                    ),
                )
            ).alias("__c"),
        )
        .select(
            "source",
            "__g1",
            (F.col("__g0") + F.col("__c") * F.lit(stride)).alias("__c0"),
        )
        .select(
            "source",
            "__g1",
            "__c0",
            F.explode(
                F.sequence(F.lit(0).cast("long"), F.lit(per_chunk - 1).cast("long"))
            ).alias("__i"),
        )
        .select(
            "source",
            (F.col("__c0") + F.col("__i") * F.lit(sec)).alias("__g"),
            "__g1",
        )
        .where(F.col("__g") <= F.col("__g1"))
    )
    dtypes = dict(agg.dtypes)
    gap_cols = []
    for c in agg.columns:
        if c == "source":
            gap_cols.append(F.col("source"))
        elif c == "bucket_start":
            gap_cols.append(F.timestamp_seconds(F.col("__g")).alias("bucket_start"))
        elif c in zero_cols or c == rate_col:
            gap_cols.append(F.lit(0).cast(dtypes[c]).alias(c))
        else:
            gap_cols.append(F.lit(None).cast(dtypes[c]).alias(c))
    return agg.unionByName(gaps.select(*gap_cols))


def gapfill_interpolated(
    agg: DataFrame,
    tier_seconds: int = 60,
    value_cols: tuple[str, ...] = ("rate",),
) -> DataFrame:
    """:func:`gapfill`'s dense output + per-source LINEAR INTERPOLATION
    of value columns across gaps (pandas ``interpolate`` inside
    ``applyInPandas``).

    Grouped by source → each source's series is one Arrow batch in one
    pandas frame; no per-row Python. At scale the group count (≤ number
    of sources) bounds task parallelism, so this path is for
    moderate-cardinality source sets; the pure-JVM :func:`gapfill` is
    the default.
    """
    import pandas as pd

    dense = gapfill(agg, tier_seconds)
    fields = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in dense.schema)

    def interp(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("bucket_start").reset_index(drop=True)
        mask = pdf["cnt"] == 0
        for c in value_cols:
            s = pdf[c].astype("float64")
            s[mask] = float("nan")
            pdf[c] = s.interpolate(method="linear", limit_direction="both")
        return pdf

    return dense.groupBy("source").applyInPandas(interp, schema=fields)
