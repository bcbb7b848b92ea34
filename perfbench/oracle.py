"""DuckDB reference computations the benchmark checks outputs against.

Each check returns a list of problems (empty = correct), so a workload
can count a failed check as a failed operation and keep going.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd

from getml_community_spark.plans.to_sql import asof_feature_sql, rollup_sql

ROLLUP_COLS = ["cnt", "sum_n_tok", "min_n_tok", "max_n_tok", "rate"]


def _con(**tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for name, pdf in tables.items():
        con.register(name, pdf)
    return con


def rollup(raw: pd.DataFrame, step: int, t_from=None, t_to=None) -> pd.DataFrame:
    """(source, b, cnt, sum_n_tok, min_n_tok, max_n_tok, rate) at
    ``step`` seconds over raw rows in ``[t_from, t_to)``, via
    ``plans.to_sql.rollup_sql``; ``b`` is the bucket start in epoch
    seconds."""
    where = ""
    if t_from is not None:
        where = f" WHERE epoch(event_time) >= {t_from} AND epoch(event_time) < {t_to}"
    con = _con(raw_all=raw)
    con.execute(f"CREATE VIEW raw AS SELECT * FROM raw_all{where}")
    sql = rollup_sql("raw", step)
    out = con.execute(
        f"SELECT source, CAST(epoch(bucket_start) AS BIGINT) AS b, "
        f"{', '.join(ROLLUP_COLS)} FROM ({sql}) ORDER BY source, b"
    ).df()
    con.close()
    return out


def epoch_s(ts: pd.Series) -> pd.Series:
    """Collected Spark timestamps as epoch seconds."""
    if getattr(ts.dt, "tz", None) is not None:
        ts = ts.dt.tz_convert("UTC").dt.tz_localize(None)
    return ts.astype("datetime64[us]").astype("int64") // 1_000_000


def tier_frame(pdf: pd.DataFrame) -> pd.DataFrame:
    """A Spark rollup result collected to pandas, in :func:`rollup`'s
    shape."""
    out = pdf.assign(b=epoch_s(pdf["bucket_start"]))
    return out[["source", "b", *ROLLUP_COLS]].sort_values(["source", "b"]).reset_index(
        drop=True
    )


def compare_rollup(got: pd.DataFrame, want: pd.DataFrame, what: str) -> list[str]:
    got = got.sort_values(["source", "b"]).reset_index(drop=True)
    want = want.sort_values(["source", "b"]).reset_index(drop=True)
    if len(got) != len(want):
        return [f"{what}: {len(got)} rows, reference has {len(want)}"]
    if not (got["source"].to_numpy() == want["source"].to_numpy()).all() or not (
        got["b"].to_numpy() == want["b"].to_numpy()
    ).all():
        return [f"{what}: bucket keys differ from the reference"]
    for c in ROLLUP_COLS[:-1]:
        if not np.array_equal(got[c].to_numpy(np.int64), want[c].to_numpy(np.int64)):
            return [f"{what}: column {c} differs from the reference"]
    if not np.allclose(got["rate"], want["rate"], rtol=1e-12, atol=0):
        return [f"{what}: column rate differs from the reference"]
    return []


BATTERY = ["count", "sum", "avg", "min", "max", "median", "stddev_pop", "first", "last", "trend"]


def asof_reference(
    population: pd.DataFrame, peripheral: pd.DataFrame, horizon: float, memory: float
) -> pd.DataFrame:
    """``plans.to_sql.asof_feature_sql`` (plus a linear-interpolation
    q90) on DuckDB for the given population rows."""
    con = _con(pop=population, peri=peripheral)
    sql = asof_feature_sql(
        "pop", "peri", "source", "pop_id", "pop_ts", "event_time", "n_tok",
        horizon=horizon, memory=memory, aggs=BATTERY,
    )
    q90 = asof_feature_sql(
        "pop", "peri", "source", "pop_id", "pop_ts", "event_time", "n_tok",
        horizon=horizon, memory=memory, aggs=["count"],
    ).replace(
        "cast(count(t2.n_tok) AS double) AS count",
        "quantile_cont(t2.n_tok, 0.9) AS q90",
    )
    want = con.execute(
        f"SELECT a.*, b.q90 FROM ({sql}) a JOIN ({q90}) b USING (pop_id) ORDER BY pop_id"
    ).df()
    con.close()
    return want


def compare_asof(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    got = got[got["pop_id"].isin(want["pop_id"])]
    got = got.sort_values("pop_id").reset_index(drop=True)
    if list(got["pop_id"]) != list(want["pop_id"]):
        return ["asof_features: sampled population ids differ from the reference"]
    problems = []
    for c in [*BATTERY, "q90"]:
        g = got[c].to_numpy(np.float64)
        w = want[c].to_numpy(np.float64)
        if not np.allclose(g, w, rtol=1e-7, atol=1e-6, equal_nan=True):
            problems.append(f"asof_features: {c} differs from asof_feature_sql")
    return problems


def candidate_pairs(
    population: pd.DataFrame, peripheral: pd.DataFrame, horizon: float, memory: float
) -> int:
    """Same-key peripheral rows in the (at most two) memory-wide time
    buckets a population row's window touches — the work the bucketed
    as-of match must look at."""
    con = _con(pop=population, peri=peripheral)
    n = con.execute(
        f"""
        WITH p AS (
          SELECT DISTINCT pop_id, source, unnest(list_distinct([
            CAST(floor((epoch(pop_ts) - {horizon} - {memory}) / {memory}) AS BIGINT),
            CAST(floor((epoch(pop_ts) - {horizon}) / {memory}) AS BIGINT)])) AS bkt
          FROM pop),
        q AS (SELECT source, CAST(floor(epoch(event_time) / {memory}) AS BIGINT) AS bkt
              FROM peri)
        SELECT count(*) FROM p JOIN q USING (source, bkt)"""
    ).fetchone()[0]
    con.close()
    return int(n)


def distinct_normalized(docs: pd.DataFrame) -> int:
    """Exact-dedup survivor count: distinct normalized texts."""
    con = _con(docs=docs)
    n = con.execute(
        "SELECT count(DISTINCT lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) "
        "FROM docs"
    ).fetchone()[0]
    con.close()
    return int(n)


def distinct_ids(raw: pd.DataFrame, step: int, t_from: int, t_to: int) -> pd.DataFrame:
    """(source, b, n) exact distinct doc_id counts per step bucket."""
    con = _con(raw=raw)
    out = con.execute(
        f"""SELECT source, CAST(floor(epoch(event_time) / {step}) * {step} AS BIGINT) AS b,
                   count(DISTINCT doc_id) AS n
            FROM raw WHERE epoch(event_time) >= {t_from} AND epoch(event_time) < {t_to}
            GROUP BY 1, 2 ORDER BY 1, 2"""
    ).df()
    con.close()
    return out
