"""As-of join vs DuckDB on the driver's star-schema testdata:
for each orders row, over events with user_id == o_custkey and
ts ∈ (pop_ts − 7d, pop_ts − 1h], the SQL-expressible battery
(FIXTURES.md §3 representative query). ``memory`` picks the join
shape, so the suite runs both: the 7-day window takes the time-bucketed
join, memory=None (no lower bound) the key-only range join.

Population timestamps are REMAPPED into the events span
(2024-01-08 + (o_orderkey % 480) hours): o_orderdate spans 1995-2001
while events span 2024-01, so a window keyed on o_orderdate matches
zero events and verifies nothing (round-1 verdict #1). The same
arithmetic appears verbatim in the DuckDB oracle, and the suite asserts
the match set is NON-EMPTY.
"""

from __future__ import annotations

import math

import duckdb
import pytest

SF = "/root/testdata/sf0.001"
HORIZON = 3600.0
MEMORY = 7 * 86400.0 - 3600.0  # window (t−7d, t−1h]
POP_EPOCH_LIT = 1704672000  # 2024-01-08T00:00:00Z
POP_EPOCH_SQL = f"({POP_EPOCH_LIT} + (o.o_orderkey % 480) * 3600)"

SHAPES = {"bucketed": MEMORY, "range": None}


def _oracle_sql(memory):
    lower = (
        ""
        if memory is None
        else f"AND epoch(e.ts) >  {POP_EPOCH_SQL} - {HORIZON} - {memory}"
    )
    return f"""
SELECT
  o.o_orderkey,
  count(e.value) AS count,
  coalesce(sum(e.value), 0.0) AS sum,
  avg(e.value) AS avg,
  min(e.value) AS min,
  max(e.value) AS max,
  median(e.value) AS median,
  quantile_cont(e.value, 0.90) AS q90,
  stddev_pop(e.value) AS stddev_pop,
  arg_min(e.value, e.ts) AS first,
  arg_max(e.value, e.ts) AS last
FROM read_parquet('{SF}/orders.parquet') o
LEFT JOIN read_parquet('{SF}/events.parquet') e
  ON e.user_id = o.o_custkey
 AND epoch(e.ts) <= {POP_EPOCH_SQL} - {HORIZON}
 {lower}
GROUP BY o.o_orderkey
"""


def _with_pop_ts(orders):
    from pyspark.sql import functions as F

    return orders.withColumn(
        "pop_ts",
        F.timestamp_seconds(
            F.lit(POP_EPOCH_LIT) + (F.col("o_orderkey") % 480) * F.lit(3600)
        ),
    )


@pytest.fixture(scope="module", params=list(SHAPES))
def memory(request):
    return SHAPES[request.param]


@pytest.fixture(scope="module")
def oracle_pdf(memory):
    return duckdb.sql(_oracle_sql(memory)).df().set_index("o_orderkey").sort_index()


@pytest.fixture(scope="module")
def spark_feats(spark, memory):
    from getml_community_spark.operators.asof_join import asof_features

    orders = _with_pop_ts(spark.read.parquet(f"{SF}/orders.parquet"))
    events = spark.read.parquet(f"{SF}/events.parquet").withColumnRenamed(
        "user_id", "o_custkey"
    )
    feats = asof_features(
        orders,
        events,
        on="o_custkey",
        population_id="o_orderkey",
        pop_ts="pop_ts",
        peri_ts="ts",
        value_col="value",
        horizon=HORIZON,
        memory=memory,
        include={
            "count",
            "sum",
            "avg",
            "min",
            "max",
            "median",
            "q90",
            "stddev_pop",
            "first",
            "last",
        },
    )
    return (
        feats.select(
            "o_orderkey",
            "count",
            "sum",
            "avg",
            "min",
            "max",
            "median",
            "q90",
            "stddev_pop",
            "first",
            "last",
        )
        .toPandas()
        .set_index("o_orderkey")
        .sort_index()
    )


def test_asof_features_match_duckdb(spark_feats, oracle_pdf):
    got, want = spark_feats, oracle_pdf
    assert len(got) == len(want)
    # the gate must be NON-VACUOUS: the windows actually match events
    assert want["count"].sum() > 0, "as-of oracle matched zero peripheral rows"
    # ...and some population rows match nothing (the LEFT join's
    # null-extended path: count 0, sum 0.0, the rest NULL)
    assert (want["count"] == 0).any(), "every population row matched"
    assert got["count"].sum() == want["count"].sum()
    for col in want.columns:
        for k in want.index:
            e = want.loc[k, col]
            a = got.loc[k, col]
            a = float("nan") if a is None else float(a)
            e = float("nan") if e is None else float(e)
            if math.isnan(e):
                assert math.isnan(a), f"{col} @ {k}: {a} != NaN"
            else:
                assert a == pytest.approx(e, rel=1e-9, abs=1e-12), f"{col} @ {k}"


def test_asof_numpy_oracle_full_battery(spark):
    """Cross-check EWMA/TREND (not SQL-standard) against the numpy oracle
    on a small slice of orders."""
    import numpy as np
    import pandas as pd

    from getml_community_spark.operators.asof_join import asof_features
    from getml_community_spark.oracle import Oracle

    orders = _with_pop_ts(spark.read.parquet(f"{SF}/orders.parquet").limit(80))
    events_sp = spark.read.parquet(f"{SF}/events.parquet")
    events = events_sp.toPandas()
    feats = (
        asof_features(
            orders,
            events_sp.withColumnRenamed("user_id", "o_custkey"),
            on="o_custkey",
            population_id="o_orderkey",
            pop_ts="pop_ts",
            peri_ts="ts",
            value_col="value",
            horizon=HORIZON,
            memory=MEMORY,
            include={"ewma_1h", "ewma_1d", "trend", "avg_time_between"},
        )
        .select("o_orderkey", "o_custkey", "pop_ts", "ewma_1h", "ewma_1d", "trend", "avg_time_between")
        .toPandas()
    )
    o = Oracle()
    ev_ts = events["ts"].astype("int64").to_numpy() / 1e9
    n_matched = 0
    for _, r in feats.iterrows():
        t_pop = POP_EPOCH_LIT + (int(r["o_orderkey"]) % 480) * 3600
        m = (
            (events["user_id"] == r["o_custkey"]).to_numpy()
            & (ev_ts <= t_pop - HORIZON)
            & (ev_ts > t_pop - HORIZON - MEMORY)
        )
        v, t = events.loc[m, "value"].to_numpy(), ev_ts[m]
        n_matched += int(m.sum())
        for col, exp in [
            ("ewma_1h", o.ewma(v, t, t_pop, 3600.0)),
            ("ewma_1d", o.ewma(v, t, t_pop, 86400.0)),
            ("trend", o.trend(v, t, t_pop)),
            ("avg_time_between", o.avg_time_between(t) if len(t) else None),
        ]:
            a = r[col]
            if exp is None or (isinstance(exp, float) and math.isnan(exp)):
                assert a is None or (isinstance(a, float) and math.isnan(a)), col
            else:
                assert float(a) == pytest.approx(exp, rel=1e-9), (col, r["o_orderkey"])
    assert n_matched > 0, "numpy oracle matched zero peripheral rows (vacuous)"
