from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from getml_community_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="tests",
        master="local[4]",
        shuffle_partitions=8,
        extra_conf={"spark.driver.memory": "4g"},
    )
    yield s


@pytest.fixture
def reliable_checkpoint_dir(spark, tmp_path):
    """Point the shared session's checkpoint dir at a fresh directory, so
    every ``session.barrier`` takes the reliable ``checkpoint()`` path,
    and restore the previous dir on teardown. PySpark has no unset call;
    without the reset every later test's barriers would be reliable."""
    sc = spark.sparkContext
    prev = sc.getCheckpointDir()
    path = str(tmp_path / "ck")
    sc.setCheckpointDir(path)
    yield path
    # Option.apply(None) is Scala's None: the "never set" state
    getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.apply(prev))


@pytest.fixture(scope="session")
def corpus_pdf():
    from getml_community_spark.datagen import corpus_pandas

    return corpus_pandas(4000, with_tokens=True)


@pytest.fixture(scope="session")
def corpus_df(spark, corpus_pdf):
    from getml_community_spark.datagen import corpus_spark

    df = corpus_spark(spark, 4000, with_tokens=True).cache()
    df.count()
    return df


def assert_frames_equal_unordered(actual: pd.DataFrame, expected: pd.DataFrame, keys, rtol=0.0, atol=0.0):
    """Sort by keys, align columns, compare exactly (or with tolerance)."""
    def _strip_tz(df: pd.DataFrame) -> pd.DataFrame:
        df = df.copy()
        for c in df.columns:
            if pd.api.types.is_datetime64_any_dtype(df[c]):
                s = pd.to_datetime(df[c])
                if getattr(s.dt, "tz", None) is not None:
                    s = s.dt.tz_convert("UTC").dt.tz_localize(None)
                df[c] = s.astype("datetime64[us]")
        return df

    actual, expected = _strip_tz(actual), _strip_tz(expected)
    a = actual.sort_values(keys).reset_index(drop=True)[sorted(actual.columns)]
    e = expected.sort_values(keys).reset_index(drop=True)[sorted(expected.columns)]
    assert list(a.columns) == list(e.columns), (a.columns, e.columns)
    assert len(a) == len(e), (len(a), len(e))
    for c in a.columns:
        if np.issubdtype(np.asarray(e[c]).dtype, np.floating):
            av, ev = a[c].to_numpy(float), e[c].to_numpy(float)
            both_nan = np.isnan(av) & np.isnan(ev)
            close = np.isclose(av, ev, rtol=rtol, atol=atol, equal_nan=True)
            assert (both_nan | close).all(), f"column {c} mismatch: {av[~(both_nan|close)][:5]} vs {ev[~(both_nan|close)][:5]}"
        else:
            pd.testing.assert_series_equal(a[c], e[c], check_names=False)
