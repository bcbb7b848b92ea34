"""Physical-plan shape assertions: the plans we designed for are the
plans Catalyst actually produces (single shuffle per tier, pushdown
into the parquet scan, broadcast staging joins, no Python in JVM-only
paths)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_rollup_single_exchange_and_partial_agg(spark):
    from getml_community_spark.operators.rollup import rollup_from_raw

    ev = spark.read.parquet(f"{SF}/events.parquet")
    plan = _plan(rollup_from_raw(ev, "1m", source_col="user_id", ts_col="ts", value_col="value"))
    assert plan.count("Exchange") == 1, plan
    # map-side partial aggregation before the shuffle
    assert "partial_count" in plan or "partial_sum" in plan, plan
    assert "HashAggregate" in plan
    # no Python anywhere in the tier computation
    assert "Python" not in plan and "MapInPandas" not in plan


def test_cascade_adds_one_exchange_only(spark):
    from getml_community_spark.operators.rollup import rollup_cascade, rollup_from_raw

    ev = spark.read.parquet(f"{SF}/events.parquet")
    agg1h = rollup_cascade(
        rollup_from_raw(ev, "1m", source_col="user_id", ts_col="ts", value_col="value"),
        "1h",
    )
    assert _plan(agg1h).count("Exchange") == 2  # one per tier


@pytest.mark.parametrize("family", ["hist", "hll"])
def test_hist_and_hll_tiers_single_exchange_and_partial_agg(spark, family):
    """The histogram and HLL families run the same batch skeleton as the
    core tiers: per tier one more Exchange, each fed by a map-side
    partial aggregate, no Python, and the long epoch bucket key — never
    the streaming ``window()`` struct key."""
    from getml_community_spark.operators.distinct import hll_cascade, hll_rollup_from_raw
    from getml_community_spark.operators.histquantile import (
        hist_cascade,
        hist_rollup_from_raw,
    )

    ev = spark.read.parquet(f"{SF}/events.parquet")
    kw = dict(source_col="user_id", ts_col="ts")
    if family == "hist":
        tier = hist_rollup_from_raw(ev, "1m", value_col="value", bin_width=5.0, **kw)
        cascade = hist_cascade
    else:
        tier = hll_rollup_from_raw(ev, "1m", distinct_col="event_id", **kw)
        cascade = hll_cascade
    for n, name in enumerate(["1m", "1h", "1d"], start=1):
        if n > 1:
            tier = cascade(tier, name)
        plan = _plan(tier)
        lines = plan.splitlines()
        exchanges = [i for i, ln in enumerate(lines) if "Exchange" in ln]
        assert len(exchanges) == n, (name, plan)
        for i in exchanges:
            assert "Aggregate" in lines[i + 1] and "partial_" in lines[i + 1], (name, plan)
        assert "Python" not in plan and "MapInPandas" not in plan, (name, plan)
        assert "window" not in plan and "precisetimestampconversion" not in plan, (name, plan)


def test_filter_and_projection_pushdown(spark):
    """Filters and column pruning reach the parquet scan: a filtered
    rollup must show PushedFilters and must NOT read unused columns
    (e.g. the wide props string)."""
    ev = spark.read.parquet(f"{SF}/events.parquet")
    from getml_community_spark.operators.rollup import rollup_from_raw

    agg = rollup_from_raw(
        ev.where(F.col("user_id") == 7), "1h",
        source_col="user_id", ts_col="ts", value_col="value",
    )
    plan = _plan(agg)
    assert "PushedFilters: [" in plan and "user_id" in plan.split("PushedFilters")[1][:200], plan
    scan_schema = plan.split("ReadSchema:")[1][:300]
    assert "props" not in scan_schema, scan_schema
    assert "event_type" not in scan_schema, scan_schema


def test_staging_join_broadcasts_dim(spark):
    from getml_community_spark.operators.staging import join_many_to_one

    orders = spark.read.parquet(f"{SF}/orders.parquet")
    cust = spark.read.parquet(f"{SF}/customer.parquet").withColumnRenamed(
        "c_custkey", "o_custkey"
    )
    plan = _plan(join_many_to_one(orders, cust, on="o_custkey"))
    assert "BroadcastHashJoin" in plan, plan
    assert "Exchange hashpartitioning" not in plan  # fact side never shuffles


def test_one_to_one_join_validation(spark):
    import pandas as pd

    from getml_community_spark.operators.staging import (
        CardinalityError,
        join_one_to_one,
    )

    fact = spark.createDataFrame(pd.DataFrame({"k": [1, 2, 3], "x": [1.0, 2.0, 3.0]}))
    dim_ok = spark.createDataFrame(pd.DataFrame({"k": [1, 2], "d": ["a", "b"]}))
    out = join_one_to_one(fact, dim_ok, "k").toPandas().sort_values("k")
    assert list(out["d"]) == ["a", "b", None]
    dim_dup = spark.createDataFrame(pd.DataFrame({"k": [1, 1], "d": ["a", "b"]}))
    with pytest.raises(CardinalityError):
        join_one_to_one(fact, dim_dup, "k")


def test_asof_bucketed_join_is_equijoin(spark):
    """The bucketed as-of strategy must plan as a hash EQUI-join (key +
    bucket), never a broadcast-nested-loop over the range predicate."""
    from getml_community_spark.operators.asof_join import asof_match

    orders = spark.read.parquet(f"{SF}/orders.parquet")
    events = spark.read.parquet(f"{SF}/events.parquet").withColumnRenamed(
        "user_id", "o_custkey"
    )
    m = asof_match(
        orders, events, on="o_custkey", population_id="o_orderkey",
        pop_ts="o_orderdate", peri_ts="ts", horizon=3600, memory=86400,
    )
    plan = _plan(m)
    assert "NestedLoop" not in plan, plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    ), plan


def test_fastprop_grid_is_single_aggregation(spark):
    """The whole enumerated conditions x aggregations grid (30 features)
    computes in ONE hash aggregation (partial + final) with zero Python
    in the plan — FastProp's N-feature-tables-plus-backjoins collapsed
    into one shuffle. asof_features shares the same core and must plan
    the same way."""
    import re

    from getml_community_spark.operators.asof_join import asof_features
    from getml_community_spark.operators.fastprop import fastprop_features

    orders = spark.read.parquet(f"{SF}/orders.parquet").withColumn(
        "pop_ts",
        F.timestamp_seconds(
            F.lit(1704672000) + (F.col("o_orderkey") % 480) * F.lit(3600)
        ),
    )
    events = spark.read.parquet(f"{SF}/events.parquet").withColumnRenamed(
        "user_id", "o_custkey"
    )
    kw = dict(
        on="o_custkey", population_id="o_orderkey", pop_ts="pop_ts",
        peri_ts="ts", horizon=3600.0, memory=7 * 86400.0 - 3600.0,
    )
    out = fastprop_features(
        orders, events, value_cols=["value"],
        aggs=("count", "sum", "avg", "min", "max"),
        categorical_cols=("event_type",), n_most_frequent=3, n_lag_splits=2, **kw,
    )
    feature_cols = [c for c in out.columns if "__value__" in c]
    assert len(feature_cols) == 30
    include = {"count", "sum", "avg", "min", "max"}
    asof = asof_features(orders, events, value_col="value", include=include, **kw)
    # the feature-extraction shape (id + features — what the contract
    # queries select): Catalyst prunes the population-column first()
    # carries, leaving ONE hash aggregation (partial + final) and no
    # population rejoin. Selecting every population column instead
    # degrades the carry to a sort-based aggregate (first(string) has no
    # mutable hash buffer) — the price of the rejoin-free left-match
    # plan, comparable to the old rejoin's sort-merge.
    for df in (out.select("o_orderkey", *feature_cols), asof.select("o_orderkey", *include)):
        plan = _plan(df)
        assert len(re.findall(r"HashAggregate", plan)) == 2, plan  # partial + final
        assert "SortMergeJoin" not in plan, plan  # no population rejoin
        assert plan.count("Exchange") <= 4, plan
        assert "BatchEvalPython" not in plan and "ArrowEval" not in plan, plan
        # the core partitions the population by the id and the small
        # peripheral is broadcast, so no Exchange splits partial from final
        assert re.search(r"HashAggregate\(keys=\[__pop_id[^\n]*\n\s*\+- HashAggregate", plan), plan


def test_rollup_battery_percentiles_keyed_by_group_only(spark):
    """rollup_battery's full battery holds count_distinct; mixed into the
    one aggregate, Catalyst's one-distinct rewrite would key the
    percentile buffers by (source, bucket, value). grouped_battery splits
    the distinct off, so every percentile aggregate is keyed by
    (source, bucket) alone."""
    import re

    from getml_community_spark.operators.rollup import rollup_battery

    ev = spark.read.parquet(f"{SF}/events.parquet")
    plan = _plan(rollup_battery(ev, "1h", source_col="user_id", ts_col="ts", value_col="value"))
    keys = [
        re.search(r"Aggregate\(keys=\[([^\]]*)\]", line).group(1)
        for line in plan.splitlines()
        if "Aggregate(keys=" in line and "percentile" in line
    ]
    assert keys, plan
    for k in keys:
        assert len(k.split(", ")) == 2, plan


def test_bucketed_tables_join_without_shuffle(spark, tmp_path):
    """Two tables bucketed identically on the join key sort-merge-join
    with ZERO exchanges — the co-located join strategy for repeated
    large-large joins."""
    from getml_community_spark.sources.io import to_bucketed_table

    orders = spark.read.parquet(f"{SF}/orders.parquet")
    events = spark.read.parquet(f"{SF}/events.parquet").withColumnRenamed(
        "user_id", "o_custkey"
    )
    to_bucketed_table(orders, "b_orders", 8, "o_custkey", sort_cols="o_custkey")
    to_bucketed_table(events, "b_events", 8, "o_custkey", sort_cols="o_custkey")
    try:
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table("b_orders").join(spark.table("b_events"), "o_custkey")
        plan = _plan(j)
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan, plan
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_events")


def test_aqe_splits_skewed_join_partition(spark):
    """The session's AQE config handles join skew at runtime: a hot key
    holding 2/3 of the rows gets its shuffle partition SPLIT
    (SortMergeJoin(skew=true) + AQEShuffleRead skewed in the final
    adaptive plan) — the engine rides Spark's skew-join instead of
    hand-salting every join."""
    old = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.coalescePartitions.enabled",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        # thresholds scaled down so toy data exhibits production skew
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        left = spark.range(300_000).select(
            F.when(F.col("id") < 200_000, 0)
            .otherwise((F.col("id") % 100) + 1)
            .alias("k"),
            F.rand(1).alias("x"),
        )
        right = spark.range(101).select(F.col("id").alias("k"), F.rand(2).alias("y"))
        j = left.join(right, "k").select(F.sum(F.col("x") + F.col("y")))
        j.collect()  # same queryExecution → final adaptive plan attaches
        plan = _plan(j)
        assert "isFinalPlan=true" in plan, plan
        assert "skew=true" in plan, plan
        assert "AQEShuffleRead skewed" in plan, plan
    finally:
        for k, v in old.items():
            if v is not None:
                spark.conf.set(k, v)


def test_sampling_is_shuffle_free_map(spark):
    from getml_community_spark.operators.sampling import stratified_sample

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(
        stratified_sample(docs, "doc_id", "source", {"src0": 0.5}, default_rate=0.1)
    )
    assert "Exchange" not in plan, plan  # pure filter — no shuffle
    assert "Python" not in plan


def test_anomaly_single_window_exchange(spark):
    from getml_community_spark.operators.anomaly import rolling_zscore
    from getml_community_spark.operators.rollup import rollup_from_raw

    ev = spark.read.parquet(f"{SF}/events.parquet")
    agg = rollup_from_raw(
        ev, "1h", source_col="user_id", ts_col="ts", value_col="value"
    ).select("source", "bucket_start", "cnt")
    plan = _plan(rolling_zscore(agg, "cnt", window=24))
    # one shuffle for the tier agg + one for the per-source window
    assert plan.count("Exchange") == 2, plan
    assert "Window" in plan
    assert "Python" not in plan


def test_pack_sequences_two_exchanges(spark):
    import pandas as pd

    from getml_community_spark.operators.packing import pack_sequences

    df = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": [0, 1], "source": ["a", "a"], "tokens": [[1, 2], [3]]}
        ),
        "doc_id long, source string, tokens array<int>",
    )
    plan = _plan(pack_sequences(df, 4))
    # ONE shuffle total: the per-source offset window hashpartitions on
    # source, and partitioning on a subset of the (source, chunk_id)
    # group keys already satisfies the assembly's clustering
    # requirement — explode and groupBy add no further exchange
    assert plan.count("Exchange") == 1, plan
    assert "Python" not in plan


def test_lttb_exchanges_bounded(spark):
    from getml_community_spark.operators.downsample import lttb_downsample

    ev = spark.read.parquet(f"{SF}/events.parquet").select(
        F.col("user_id").alias("source"), "ts", "value"
    )
    plan = _plan(lttb_downsample(ev, 21600, ts_col="ts"))
    # bucket-avg agg, neighbor window, scored join, argmax window — the
    # join side reuses the bucket partitioning, so at most 4 exchanges
    assert plan.count("Exchange") <= 4, plan
    assert "Python" not in plan


def test_sax_single_exchange(spark):
    from getml_community_spark.operators.sax import sax_symbolize

    ev = spark.read.parquet(f"{SF}/events.parquet")
    plan = _plan(sax_symbolize(ev))
    # the stats/rank window hashpartitions on (key, window_epoch); the
    # segment groupBy and word-assembly groupBy extend those keys, so
    # the planner reuses the partitioning: ONE shuffle total
    assert plan.count("Exchange") == 1, plan
    assert "Python" not in plan


def test_token_budget_single_exchange(spark):
    from getml_community_spark.operators.sampling import token_budget_sample

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(
        token_budget_sample(
            docs, "doc_id", "source", "n_chars", {"src0": 1000}
        )
    )
    assert plan.count("Exchange") == 1, plan
    assert "Python" not in plan


def test_gapfill_plans_one_generator_no_join(spark):
    """gapfill has one generator: a lag window over the aggregate whose
    gap rows are unioned back — no spine joined onto the aggregate."""
    from getml_community_spark.operators.gapfill import gapfill
    from getml_community_spark.operators.rollup import rollup_from_raw

    ev = spark.read.parquet(f"{SF}/events.parquet")
    dense = gapfill(
        rollup_from_raw(ev, "1h", source_col="user_id", ts_col="ts", value_col="value"),
        3600,
    )
    plan = _plan(dense)
    for p in (_optimized(dense), plan):
        assert "Join" not in p and "CartesianProduct" not in p, p
    assert "Union" in plan and plan.count("Window [") == 1, plan


def test_decompose_materializes_input_once(spark):
    from getml_community_spark.operators.decompose import seasonal_decompose
    from getml_community_spark.operators.gapfill import gapfill
    from getml_community_spark.operators.rollup import rollup_from_raw

    ev = spark.read.parquet(f"{SF}/events.parquet")
    agg = rollup_from_raw(
        ev, "1h", source_col="user_id", ts_col="ts", value_col="value"
    )
    dense = gapfill(agg, 3600).select("source", "bucket_start", "cnt")
    plan = _plan(seasonal_decompose(dense))
    # the MA/phase frame is localCheckpointed: its three consumers read
    # cached blocks, so the SOURCE SCAN appears zero times in the final
    # plan (without the barrier it recomputed the rollup+gapfill chain
    # once per branch — measured 6 scans)
    assert "Scan parquet" not in plan, plan
    # hash shuffles only move the tiny (key, phase) aggregates; the
    # phase/key mean frames broadcast back (2 BroadcastExchange)
    assert plan.count("Exchange hashpartitioning") <= 3, plan
    assert "Python" not in plan


def test_lm_and_repetition_plans_tokenize_once_in_arrow(spark):
    """r6: tokenization moved to the Arrow-batched C-regex path (guide
    §4.2 — measured 5x over the interpreted JVM split+filter), so each
    pipeline now contains EXACTLY ONE Python stage (the tokenizer /
    the tokenizing gram kernel) and no row-at-a-time UDFs."""
    import re

    from getml_community_spark.operators.lm import bigram_lm_score
    from getml_community_spark.operators.textstats import repetition_stats

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    # lm's auto mode eagerly materializes the bigram checkpoint (the
    # model-size probe), truncating the plan ABOVE the tokenizer — 0
    # Python stages visible there; repetition shows its single kernel
    for frame, expect in ((bigram_lm_score(docs), {0, 1}),
                          (repetition_stats(docs), {1})):
        plan = _plan(frame)
        assert "BatchEvalPython" not in plan, plan  # no pickled-row UDFs
        n_py = len(re.findall(r"ArrowEvalPython|MapInPandas", plan))
        assert n_py in expect, plan  # the tokenizer, at most once
        # token-key joins/aggs only — bounded shuffle count
        assert plan.count("Exchange hashpartitioning") <= 6, plan
