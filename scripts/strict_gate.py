"""Strict driver-gate mirror: runs queries() vs oracle_sql() at a given
SF and requires EXACT value equality (bitwise on float64 after the
contract's own rounding) — a tighter proxy for the driver's value-hash
than the tolerance-based pytest.

Usage: python scripts/strict_gate.py [sf_dir] [name ...]
"""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as entrymod  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon(pdf: pd.DataFrame) -> pd.DataFrame:
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


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    names = sys.argv[2:] or sorted(entrymod.oracle_sql().keys())

    from getml_community_spark.session import get_spark

    spark = get_spark(master="local[8]", shuffle_partitions=16)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
        )

    oracles = entrymod.oracle_sql()
    qs = entrymod.queries()
    n_bad = 0
    for name in names:
        try:
            got_raw = qs[name](spark, sf).toPandas()
            want_raw = con.execute(oracles[name]).df()
            got = canon(got_raw)
            want = canon(want_raw)
        except Exception as e:  # noqa: BLE001
            print(f"{name}: ERROR {type(e).__name__}: {e}")
            n_bad += 1
            continue
        status = []
        # driver-faithful checks on the RAW frames: column ORDER and
        # tz-awareness, both of which canon() normalizes away (shipped
        # red twice: order in r2, TIMESTAMPTZ-vs-naive in r3)
        got_cols = [c.lower() for c in got_raw.columns]
        want_cols = [c.lower() for c in want_raw.columns]
        if got_cols != want_cols:
            status.append(f"raw column order {got_cols} != {want_cols}")
        else:
            for gc, wc in zip(got_raw.columns, want_raw.columns):
                g_tz = getattr(got_raw[gc].dtype, "tz", None)
                w_tz = getattr(want_raw[wc].dtype, "tz", None)
                if (g_tz is None) != (w_tz is None):
                    status.append(
                        f"col {gc}: tz-awareness mismatch "
                        f"spark={g_tz} oracle={w_tz}"
                    )
        if status:
            pass
        elif list(got.columns) != list(want.columns):
            status.append(f"schema {list(got.columns)} != {list(want.columns)}")
        elif len(got) != len(want):
            status.append(f"rows {len(got)} != {len(want)}")
        else:
            for c in got.columns:
                g, w = got[c], want[c]
                if pd.api.types.is_float_dtype(w) or pd.api.types.is_float_dtype(g):
                    gv, wv = g.to_numpy(np.float64), w.to_numpy(np.float64)
                    # byte-faithful like the driver's hash: require the
                    # sign bit to match too (-0.0 != +0.0 there; r4 class)
                    eq = (
                        (gv == wv) & (np.signbit(gv) == np.signbit(wv))
                    ) | (np.isnan(gv) & np.isnan(wv))
                else:
                    eq = (g == w) | (g.isna() & w.isna())
                eq = np.asarray(eq)
                if not eq.all():
                    i = np.flatnonzero(~eq)[:3]
                    status.append(
                        f"col {c}: {int((~eq).sum())} diffs e.g. "
                        f"{list(zip(got[c].iloc[i], want[c].iloc[i]))}"
                    )
        if status:
            n_bad += 1
            print(f"{name}: FAIL rows={len(got)} :: " + " | ".join(status))
        else:
            print(f"{name}: OK rows={len(got)}")
    spark.stop()
    return 1 if n_bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
