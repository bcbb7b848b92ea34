"""Round-3 additions: the transpiled-SQL runner (reference
src/python-api/getml/spark.py:26-60 — execute rendered SQL on a live
SparkSession) and fit-time state pinning in FastPropPipeline (reference
stores the fitted categorical_value_ per feature,
fastprop/SQLMaker.cpp:34-36 / ConditionParser.cpp:59-62 — no
train/serve skew when category frequencies shift)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from getml_community_spark.operators.fastprop import fastprop_features
from getml_community_spark.plans.pipeline import FastPropPipeline
from getml_community_spark.plans.runner import run_pipeline_sql, run_sql

SFD = "/root/testdata/sf0.001"


def _pipe():
    return FastPropPipeline(
        on="o_custkey", population_id="o_orderkey", pop_ts="pop_ts",
        peri_ts="ts", value_cols=["value"],
        categorical_cols=("event_type",), n_most_frequent=2, n_lag_splits=2,
        horizon=3600.0, memory=6 * 86400.0,
    )


def _pop_peri(spark):
    orders = spark.read.parquet(f"{SFD}/orders.parquet").withColumn(
        "pop_ts",
        F.timestamp_seconds(
            F.lit(1704672000) + (F.col("o_orderkey") % 480) * F.lit(3600)
        ),
    )
    events = spark.read.parquet(f"{SFD}/events.parquet").withColumnRenamed(
        "user_id", "o_custkey"
    )
    return orders, events


def test_run_pipeline_sql_matches_native(spark):
    """Deployment story: fit natively, render to_sql(), execute the
    rendered statements via spark.sql (run_pipeline_sql) — the SQL-run
    feature table equals the native transform()."""
    orders, events = _pop_peri(spark)
    pipe = _pipe().fit(orders, events)
    native = (
        pipe.transform(orders, events).toPandas()
        .set_index("o_orderkey").sort_index()
    )

    orders.createOrReplaceTempView("orders_pop")
    events.createOrReplaceTempView("events_p")
    sqls = pipe.to_sql(population="orders_pop", peripheral="events_p")
    via_sql = (
        run_pipeline_sql(spark, sqls, "o_orderkey").toPandas()
        .set_index("o_orderkey").sort_index()
    )
    assert set(via_sql.columns) == set(pipe.features_)
    assert len(via_sql) == len(native)
    for feat in pipe.features_:
        g = native[feat].astype(float).to_numpy()
        w = via_sql[feat].astype(float).to_numpy()
        ok = (np.isnan(g) & np.isnan(w)) | np.isclose(g, w, rtol=1e-9, atol=1e-9)
        assert ok.all(), (feat, g[~ok][:5], w[~ok][:5])


def test_run_sql_script_and_file(spark, tmp_path):
    """run_sql handles the reference's script surface: a multi-statement
    ';'-separated script, a .sql file, and a folder of them."""
    script = (
        "CREATE OR REPLACE TEMPORARY VIEW __t AS SELECT 1 AS a;"
        "SELECT a + 1 AS b FROM __t"
    )
    out = run_sql(spark, script)
    assert out.collect()[0]["b"] == 2

    p = tmp_path / "q.sql"
    p.write_text(script)
    assert run_sql(spark, str(p)).collect()[0]["b"] == 2
    assert run_sql(spark, str(tmp_path)).collect()[0]["b"] == 2


def test_run_sql_rejects_duckdb_only_forms(spark):
    with pytest.raises(ValueError, match="DuckDB-only"):
        run_sql(spark, "SELECT list_sum(list_transform([1,2], x -> x)) AS s")


def test_pipeline_pins_fit_time_categories(spark):
    """Train/serve skew guard: the <cat>_top<r> condition keeps the
    FIT-time category value when the serving peripheral's frequencies
    flip, and to_sql embeds it as a literal (no subquery re-learning)."""
    pop = spark.createDataFrame(
        [(i, 100, 500.0) for i in range(1, 4)], ["pid", "k", "t_pop"]
    )
    # fit peripheral: 'x' dominates
    peri_fit = spark.createDataFrame(
        [(100, float(t), "x" if t < 300 else "y", 1.0) for t in range(0, 500, 50)],
        ["k", "t", "cat", "v"],
    )
    # serve peripheral: 'y' dominates (frequencies flipped)
    peri_serve = spark.createDataFrame(
        [(100, float(t), "y" if t < 300 else "x", 1.0) for t in range(0, 500, 50)],
        ["k", "t", "cat", "v"],
    )
    pipe = FastPropPipeline(
        on="k", population_id="pid", pop_ts="t_pop", peri_ts="t",
        value_cols=["v"], aggs=("count",), categorical_cols=("cat",),
        n_most_frequent=1, horizon=0.0, memory=1000.0,
    )
    pipe.fit(pop, peri_fit)
    assert pipe.categories_ == {"cat": ["x"]}

    got = pipe.transform(pop, peri_serve).toPandas().set_index("pid")
    # fitted value 'x' matched against the SERVING peripheral: t in
    # {300..450} are 'x' → 4 rows (NOT the 6 rows 'y' would count)
    assert (got["count__v__cat_top1"] == 4).all()

    # the pinned-value path equals fastprop_features given the fitted list
    want = (
        fastprop_features(
            pop, peri_serve, on="k", population_id="pid", pop_ts="t_pop",
            peri_ts="t", value_cols=["v"], aggs=("count",),
            categorical_cols=("cat",), n_most_frequent=1,
            horizon=0.0, memory=1000.0, fitted_categories={"cat": ["x"]},
        )
        .toPandas().set_index("pid")
    )
    assert (want["count__v__cat_top1"] == got["count__v__cat_top1"]).all()

    sql = pipe.to_sql()["count__v__cat_top1"]
    assert "= 'x'" in sql
    assert "SELECT" == sql.lstrip()[:6] and "OFFSET" not in sql  # no subquery


def test_sql_literal_escaping():
    from getml_community_spark.plans.pipeline import _sql_literal

    assert _sql_literal("o'neill") == "'o''neill'"
    assert _sql_literal(3) == "3"
    assert _sql_literal(2.5) == "2.5"
    assert _sql_literal(None) == "NULL"


def test_gapfill_non_dividing_tier_covers_full_span(spark):
    """Regression (round-2 ADVICE): tier_seconds that does not divide
    86400 must not truncate a gap's tail — every tier bucket up to the
    source's max must exist and no agg row may be dropped. A tier
    longer than one day runs the generator's one-bucket-per-chunk
    branch."""
    from getml_community_spark.operators.gapfill import gapfill

    for tier in (50000, 7 * 86400):  # neither divides 86400
        lo = 1_700_000_000 - (1_700_000_000 % tier)
        n_buckets = 18
        # sparse: only every 3rd bucket has a row
        rows = [
            ("s1", lo + i * tier, 1, 10, 5, 5, 10 / tier)
            for i in range(0, n_buckets, 3)
        ]
        agg = spark.createDataFrame(
            rows, ["source", "b", "cnt", "sum_n_tok", "min_n_tok", "max_n_tok", "rate"]
        ).select(
            "source",
            F.timestamp_seconds("b").alias("bucket_start"),
            "cnt", "sum_n_tok", "min_n_tok", "max_n_tok", "rate",
        )
        dense = gapfill(agg, tier_seconds=tier).toPandas()
        # span is [lo, lo + 15*tier] inclusive → 16 buckets, none missing
        assert len(dense) == n_buckets - 2, tier
        got = sorted(int(t.timestamp()) for t in dense["bucket_start"])
        assert got == [lo + i * tier for i in range(n_buckets - 2)], tier
        # pre-existing agg rows all survived the gap-fill
        assert int(dense["cnt"].sum()) == len(rows), tier


def test_pipeline_save_load_roundtrip(spark, tmp_path):
    """A saved+loaded pipeline transforms and transpiles identically —
    INCLUDING the pinned fit-time categories (reference: pipelines are
    persistent engine objects, pipeline/helpers2.py:95 load)."""
    orders, events = _pop_peri(spark)
    pipe = _pipe().fit(orders, events)
    p = str(tmp_path / "pipe.json")
    pipe.save(p)
    loaded = FastPropPipeline.load(p)
    assert loaded.fitted_
    assert loaded.features_ == pipe.features_
    assert loaded.categories_ == pipe.categories_
    assert loaded.to_sql() == pipe.to_sql()

    a = pipe.transform(orders.limit(20), events).toPandas().set_index("o_orderkey").sort_index()
    b = loaded.transform(orders.limit(20), events).toPandas().set_index("o_orderkey").sort_index()
    assert (a.fillna(-1) == b.fillna(-1)).all().all()


def test_pipeline_save_load_keeps_category_types(tmp_path):
    """Fitted category values survive save/load with their Python TYPES
    intact (type-tagged JSON, not default=str): a datetime/Decimal
    category stringified on disk would compare unequal against the typed
    column at transform time — silent train/serve skew."""
    import datetime
    import decimal

    import numpy as np

    from getml_community_spark.plans.pipeline import FastPropPipeline, _sql_literal

    pipe = _pipe()
    cats = {
        "c_str": ["BUILDING", "AUTOMOBILE"],
        "c_ts": [datetime.datetime(2024, 5, 1, 12, 30)],
        "c_date": [datetime.date(2024, 5, 1)],
        "c_dec": [decimal.Decimal("12.50")],
        "c_np": [np.int64(7), np.float64(1.5)],
        "c_null": [None],
    }
    pipe.categories_ = cats
    pipe.fitted_ = True
    p = str(tmp_path / "typed.json")
    pipe.save(p)
    loaded = FastPropPipeline.load(p)
    assert loaded.categories_["c_str"] == ["BUILDING", "AUTOMOBILE"]
    assert loaded.categories_["c_ts"] == [datetime.datetime(2024, 5, 1, 12, 30)]
    assert isinstance(loaded.categories_["c_ts"][0], datetime.datetime)
    assert loaded.categories_["c_date"] == [datetime.date(2024, 5, 1)]
    assert type(loaded.categories_["c_date"][0]) is datetime.date
    assert loaded.categories_["c_dec"] == [decimal.Decimal("12.50")]
    assert isinstance(loaded.categories_["c_dec"][0], decimal.Decimal)
    # numpy scalars land as plain Python numbers (value-faithful)
    assert loaded.categories_["c_np"] == [7, 1.5]
    assert loaded.categories_["c_null"] == [None]
    # temporal literals transpile TYPED, not as bare strings
    assert _sql_literal(cats["c_ts"][0]) == "TIMESTAMP '2024-05-01 12:30:00'"
    assert _sql_literal(cats["c_date"][0]) == "DATE '2024-05-01'"
    assert _sql_literal(cats["c_dec"][0]) == "12.50"

    # unsupported types fail loudly at SAVE time, not silently at serve
    import pytest

    pipe.categories_ = {"c_bad": [object()]}
    with pytest.raises(TypeError, match="category value"):
        pipe.save(str(tmp_path / "bad.json"))
