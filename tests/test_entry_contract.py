"""Mimic the driver's correctness gate: every queries() entry runs at
sf0.001 and matches its oracle_sql() (row count, schema names, and
order-insensitive values) via DuckDB. Catches contract drift before the
driver does."""

from __future__ import annotations

import math
import os
import sys

import duckdb
import numpy as np
import pandas as pd
import pytest

from .conftest import assert_frames_equal_unordered

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as entrymod  # noqa: E402

SF = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
        )
    return con


def _canon(pdf: pd.DataFrame) -> pd.DataFrame:
    out = pdf.copy()
    out.columns = [c.lower() for c in out.columns]
    out = out[sorted(out.columns)]
    for c in out.columns:
        s = out[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            out[c] = pd.to_datetime(s).dt.tz_localize(None).astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(s):
            out[c] = s.astype("float64")
        elif pd.api.types.is_integer_dtype(s):
            out[c] = s.astype("int64")
        elif s.dtype == object:
            out[c] = s.astype(str)
    return out.sort_values(list(out.columns)).reset_index(drop=True)


ORACLE_CHECKED = sorted(entrymod.oracle_sql().keys())
ROWS_ONLY = sorted(set(entrymod.queries()) - set(ORACLE_CHECKED))


@pytest.mark.parametrize("name", ORACLE_CHECKED)
def test_query_matches_oracle(spark, ddb, name):
    q = entrymod.queries()[name]
    got_raw = q(spark, SF).toPandas()
    want_raw = ddb.execute(entrymod.oracle_sql()[name]).df()
    # the driver's gate is column-ORDER sensitive — compare the UNSORTED
    # lists first, before _canon sorts them away (round-2 lesson:
    # battery_full_1h shipped red on ordering alone)
    assert [c.lower() for c in got_raw.columns] == [
        c.lower() for c in want_raw.columns
    ], (name, list(got_raw.columns), list(want_raw.columns))
    # ... and dtype-sensitive: _canon's tz_localize(None) erases exactly
    # the TIMESTAMPTZ-vs-naive mismatch the driver catches (round-3
    # lesson: battery_full_1h shipped red on DuckDB to_timestamp()
    # returning TIMESTAMP WITH TIME ZONE). Compare tz-awareness on the
    # RAW frames, before canonicalization.
    for gc, wc in zip(got_raw.columns, want_raw.columns):
        g_tz = getattr(got_raw[gc].dtype, "tz", None)
        w_tz = getattr(want_raw[wc].dtype, "tz", None)
        assert (g_tz is None) == (w_tz is None), (
            name, gc, f"tz-awareness mismatch: spark={g_tz} oracle={w_tz}"
        )
    got = _canon(got_raw)
    want = _canon(want_raw)
    assert len(got) == len(want), (name, len(got), len(want))
    for c in got.columns:
        g, w = got[c], want[c]
        if pd.api.types.is_float_dtype(w):
            gv, wv = g.to_numpy(float), w.to_numpy(float)
            ok = (np.isnan(gv) & np.isnan(wv)) | np.isclose(
                gv, wv, rtol=0, atol=1.5e-6, equal_nan=True
            )
            assert ok.all(), (name, c, gv[~ok][:5], wv[~ok][:5])
            # the driver's gate is a BYTE hash: -0.0 != +0.0 there even
            # though == and isclose say equal (round-4 lesson: DuckDB
            # round(-1e-12, 6) keeps -0.0, Spark's BigDecimal round
            # doesn't). Assert sign-bit equality on non-NaN cells so a
            # fourth mirror-blind byte class can't ship.
            both = ~(np.isnan(gv) | np.isnan(wv))
            sb = np.signbit(gv[both]) == np.signbit(wv[both])
            assert sb.all(), (
                name, c, "signed-zero/sign-bit mismatch",
                gv[both][~sb][:5], wv[both][~sb][:5],
            )
        else:
            assert (g == w).all(), (name, c, g[g != w].head(), w[g != w].head())


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_queries_run(spark, name):
    q = entrymod.queries()[name]
    df = q(spark, SF)
    assert df.count() >= 0
    assert len(df.schema) > 0


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0


def test_battery_1h_keeps_null_key_groups(spark, tmp_path):
    """q_battery_1h joins its count_distinct branch on null-safe keys:
    the output equals ONE groupBy battery that includes count_distinct,
    NULL user_id group included."""
    from pyspark.sql import functions as F

    from getml_community_spark.operators.aggregates import battery

    ev = spark.read.parquet(f"{SF}/events.parquet").orderBy("event_id").limit(300)
    uid = ev.schema["user_id"].dataType
    null_rows = ev.limit(5).withColumn("user_id", F.lit(None).cast(uid))
    ev.unionByName(null_rows).write.parquet(str(tmp_path / "events.parquet"))

    got = entrymod.q_battery_1h(spark, str(tmp_path))
    ev = spark.read.parquet(str(tmp_path / "events.parquet"))
    bucket = entrymod._hour_bucket("ts")
    aggs = battery(
        F.col("value"),
        ts=F.col("ts").cast("timestamp").cast("double"),
        t_ref=bucket.cast("double") + F.lit(3600.0),
        tiebreak=F.col("event_id"),
        include={
            "count", "sum", "avg", "min", "max", "median", "q25", "q75",
            "q90", "stddev_pop", "var_pop", "count_distinct", "first",
            "last", "avg_time_between", "trend", "ewma_1h",
            "variation_coefficient",
        },
    )
    want = (
        ev.groupBy("user_id", bucket.alias("bucket_start"))
        .agg(*aggs)
        .select(
            "user_id",
            "bucket_start",
            F.col("count").cast("long").alias("cnt"),
            *[entrymod._r(F.col(c)).alias(c) for c in got.columns[3:]],
        )
    )
    g, w = got.toPandas(), want.toPandas()
    assert g["user_id"].isna().any()
    assert_frames_equal_unordered(
        g, w, ["user_id", "bucket_start"], atol=1.5e-6
    )
