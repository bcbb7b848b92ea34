"""Structured-Streaming 1m tier == batch 1m tier (availableNow parity)."""

from __future__ import annotations

import pytest


@pytest.mark.usefixtures("spark")
def test_stream_rollup_matches_batch(spark, tmp_path):
    from getml_community_spark.datagen import write_corpus_parquet
    from getml_community_spark.operators.rollup import rollup_from_raw
    from getml_community_spark.streaming.stream_rollup import (
        stream_corpus_reader,
        stream_rollup,
    )

    path = str(tmp_path / "corpus")
    write_corpus_parquet(spark, 2000, path, with_tokens=False)

    stream = stream_corpus_reader(spark, path)
    agg = stream_rollup(stream, "1m", watermark="10 minutes")
    q = (
        agg.writeStream.format("memory")
        .queryName("agg_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got = spark.sql("SELECT * FROM agg_stream").toPandas()
    want = rollup_from_raw(spark.read.parquet(path), "1m").toPandas()

    from .conftest import assert_frames_equal_unordered

    assert_frames_equal_unordered(got, want, ["source", "bucket_start"])


def test_stream_gorilla_segments_stateful_close(spark, tmp_path):
    """applyInPandasWithState segment maintenance: a (source, day)
    segment closes and emits its Gorilla blob once the event-time
    watermark passes the day end; the blob is bit-identical to the
    batch encoder over the same points."""
    import numpy as np
    from pyspark.sql import functions as F

    from getml_community_spark.functions.gorilla import (
        decode_segment,
        encode_segment,
    )
    from getml_community_spark.streaming.stream_rollup import (
        stream_gorilla_segments,
    )

    src_dir = str(tmp_path / "pts")
    ckpt = str(tmp_path / "ckpt")
    day1 = 1704672000  # 2024-01-08T00:00Z
    day2 = day1 + 86400

    def write_points(name, epochs, vals):
        df = spark.createDataFrame(
            list(zip(epochs, [float(v) for v in vals])), ["e", "n_tok"]
        ).select(
            F.lit("src-0").alias("source"),
            F.timestamp_seconds(F.col("e")).alias("event_time"),
            F.col("n_tok"),
        )
        df.coalesce(1).write.mode("append").parquet(src_dir)

    d1_epochs = [day1 + i * 600 for i in range(100)]
    d1_vals = [100.0 + (i % 7) * 0.25 for i in range(100)]
    write_points("d1", d1_epochs, d1_vals)

    sink = str(tmp_path / "segs_out")

    def run_once():
        stream = (
            spark.readStream.schema(
                "source string, event_time timestamp, n_tok double"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        segs = stream_gorilla_segments(stream, watermark="10 minutes")
        q = (
            segs.writeStream.format("parquet")
            .option("path", sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        try:
            return spark.read.parquet(sink).toPandas()
        except Exception:  # no files yet
            import pandas as pd

            return pd.DataFrame()

    out1 = run_once()
    assert len(out1) == 0  # watermark still inside day1: nothing closes

    # day2 arrives in two files -> two triggers: the first advances the
    # watermark past day1's end, the second fires day1's timeout
    write_points("d2a", [day2 + i * 600 for i in range(50)], [1.0] * 50)
    write_points("d2b", [day2 + 40000 + i * 600 for i in range(50)], [2.0] * 50)
    out2 = run_once()
    assert len(out2) == 1, out2
    row = out2.iloc[0]
    assert str(row["day"]) == "2024-01-08"
    assert row["n_points"] == 100
    want_blob = encode_segment(
        np.array(d1_epochs, dtype=np.int64), np.array(d1_vals)
    )
    assert bytes(row["data"]) == want_blob
    ts, vals = decode_segment(bytes(row["data"]))
    assert (ts == np.array(d1_epochs)).all()
    assert (vals == np.array(d1_vals)).all()

    # the stream keys segments by compress_rollup's floored day rule
    # (1969-12-31 for a pre-epoch epoch), not by truncation toward 0
    from getml_community_spark.functions.gorilla import epoch_day

    probe = spark.createDataFrame([(-3600,)], "e long")
    assert str(probe.select(epoch_day(F.col("e"))).first()[0]) == "1969-12-31"
    stream = spark.readStream.schema(
        "source string, event_time timestamp, n_tok double"
    ).parquet(src_dir)
    plan = stream_gorilla_segments(stream)._jdf.queryExecution().analyzed().toString()
    assert "date_from_unix_date(cast(FLOOR(" in plan, plan


def test_stream_rollup_rejects_pre_1970_event_time(spark, tmp_path):
    """A pre-1970 event time fails the query: Spark's first watermark is
    the epoch, so its late-row filter would drop the row from the closed
    windows without a trace."""
    from pyspark.errors import StreamingQueryException
    from pyspark.sql import functions as F

    from getml_community_spark.streaming.stream_rollup import stream_rollup

    src_dir = str(tmp_path / "pts")
    # 1969-12-31T23:00Z..23:01Z, then a row 3 hours later that closes
    # their windows
    epochs = [-3600, -3570, -3540, -3600 + 3 * 3600]
    spark.createDataFrame(
        [(e, 1.0) for e in epochs], "e long, n_tok double"
    ).select(
        F.lit("src-0").alias("source"),
        F.timestamp_seconds(F.col("e")).alias("event_time"),
        "n_tok",
    ).coalesce(1).write.parquet(src_dir)
    stream = spark.readStream.schema(
        "source string, event_time timestamp, n_tok double"
    ).parquet(src_dir)
    q = (
        stream_rollup(stream, "1m", watermark="10 minutes")
        .writeStream.format("memory")
        .queryName("pre_1970_rollup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(StreamingQueryException, match="USER_RAISED_EXCEPTION"):
        q.awaitTermination(300)


def test_streamed_tier_feeds_batch_cascade(spark, tmp_path):
    """The streaming 1m tier is a drop-in lower tier for the batch
    cascade: cascade(stream_1m -> 1h) == rollup_from_raw(raw, 1h)."""
    from getml_community_spark.datagen import write_corpus_parquet
    from getml_community_spark.operators.rollup import (
        rollup_cascade,
        rollup_from_raw,
    )
    from getml_community_spark.streaming.stream_rollup import (
        stream_corpus_reader,
        stream_rollup,
    )

    from .conftest import assert_frames_equal_unordered

    path = str(tmp_path / "corpus")
    write_corpus_parquet(spark, 2000, path, with_tokens=False)
    q = (
        stream_rollup(stream_corpus_reader(spark, path), "1m")
        .writeStream.format("memory")
        .queryName("tier_1m_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = rollup_cascade(spark.table("tier_1m_stream"), "1h").toPandas()
    want = rollup_from_raw(spark.read.parquet(path), "1h").toPandas()
    assert_frames_equal_unordered(got, want, ["source", "bucket_start"])


def test_stream_exact_dedup_first_occurrence_only(spark, tmp_path):
    """Streaming dedup emits exactly one row per distinct normalized
    content — the first by arrival — across multiple micro-batches, and
    keeps distinct docs intact."""
    import pandas as pd

    from getml_community_spark.streaming.stream_rollup import stream_exact_dedup

    src = str(tmp_path / "docs")
    # two files → two micro-batches with maxFilesPerTrigger=1
    base = pd.Timestamp("2024-01-01 00:00:00")
    f1 = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": ["alpha beta", "ALPHA   beta", "gamma delta"],  # 2 ≡ 1
            "event_time": [base, base, base + pd.Timedelta(seconds=30)],
        }
    )
    f2 = pd.DataFrame(
        {
            "doc_id": [4, 5],
            "text": ["alpha beta", "epsilon zeta"],  # 4 ≡ 1 across batches
            "event_time": [base + pd.Timedelta(seconds=60)] * 2,
        }
    )
    import os

    os.makedirs(src, exist_ok=True)
    # microsecond timestamps — Spark's parquet reader rejects pandas'
    # default nanos for a TimestampType stream schema
    f1.to_parquet(os.path.join(src, "a.parquet"), coerce_timestamps="us")
    f2.to_parquet(os.path.join(src, "b.parquet"), coerce_timestamps="us")

    stream = (
        spark.readStream.schema("doc_id long, text string, event_time timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    deduped = stream_exact_dedup(stream, "text", "event_time", watermark="1 hour")
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got = spark.sql("SELECT doc_id FROM dedup_stream").toPandas()
    # one survivor per distinct normalized text; doc 2 (same batch) and
    # doc 4 (later batch) are duplicates of doc 1's content
    assert sorted(got["doc_id"]) == [1, 3, 5]


def test_stream_anomaly_matches_batch(spark, tmp_path):
    """Streamed rolling z-score flags == batch rolling_zscore on the
    same tier rows, with state carrying across micro-batches (two files,
    maxFilesPerTrigger=1 — the window spans the file boundary)."""
    import numpy as np
    import pandas as pd

    from getml_community_spark.operators.anomaly import rolling_zscore
    from getml_community_spark.streaming.stream_rollup import stream_anomaly

    rng = np.random.default_rng(9)
    rows = []
    for src in ("a", "b"):
        vals = rng.integers(40, 60, 30)
        vals[20] = 400
        for i, v in enumerate(vals):
            rows.append(
                (src, pd.Timestamp("2024-01-01") + pd.Timedelta(hours=i), int(v))
            )
    pdf = pd.DataFrame(rows, columns=["source", "bucket_start", "cnt"])
    pdf = pdf.sort_values("bucket_start").reset_index(drop=True)

    import os

    src_dir = str(tmp_path / "tier")
    os.makedirs(src_dir, exist_ok=True)
    # split by time so the trailing window crosses the batch boundary
    cut = pd.Timestamp("2024-01-01") + pd.Timedelta(hours=12)
    pdf[pdf.bucket_start < cut].to_parquet(
        os.path.join(src_dir, "a.parquet"), coerce_timestamps="us"
    )
    pdf[pdf.bucket_start >= cut].to_parquet(
        os.path.join(src_dir, "b.parquet"), coerce_timestamps="us"
    )

    stream = (
        spark.readStream.schema("source string, bucket_start timestamp, cnt long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    q = (
        stream_anomaly(stream, "cnt", window=6, k=3.0)
        .writeStream.format("memory")
        .queryName("anomaly_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = (
        spark.sql("SELECT * FROM anomaly_stream")
        .toPandas()
        .sort_values(["source", "bucket_start"])
        .reset_index(drop=True)
    )
    want = (
        rolling_zscore(spark.createDataFrame(pdf), "cnt", window=6, k=3.0)
        .toPandas()
        .sort_values(["source", "bucket_start"])
        .reset_index(drop=True)
    )
    assert list(got["is_anomaly"]) == list(want["is_anomaly"])
    gz = got["zscore"].to_numpy(dtype=float)
    wz = want["zscore"].to_numpy(dtype=float)
    assert ((np.isnan(gz) & np.isnan(wz)) | (np.abs(gz - wz) < 1e-9)).all()
    # the spike is flagged in both sources
    assert int(got[got.value == 400.0]["is_anomaly"].sum()) == 2


def test_stream_cusum_matches_batch(spark, tmp_path):
    """Streamed CUSUM alarms == batch cusum(target=...) on the same
    tier rows, with the two-integer state carrying across micro-batches
    (two files, maxFilesPerTrigger=1 — the accumulators span the file
    boundary mid-drift)."""
    import os

    import numpy as np
    import pandas as pd

    from getml_community_spark.operators.changepoint import cusum
    from getml_community_spark.streaming.stream_rollup import stream_cusum

    rng = np.random.default_rng(21)
    rows = []
    for src in ("a", "b"):
        vals = rng.normal(50, 3, 30)
        vals[15:] += 4 if src == "a" else -4  # creep in both directions
        for i, v in enumerate(vals):
            rows.append(
                (src, pd.Timestamp("2024-01-01") + pd.Timedelta(hours=i), float(v))
            )
    pdf = pd.DataFrame(rows, columns=["source", "bucket_start", "cnt"])
    pdf = pdf.sort_values("bucket_start").reset_index(drop=True)

    src_dir = str(tmp_path / "tier")
    os.makedirs(src_dir, exist_ok=True)
    cut = pd.Timestamp("2024-01-01") + pd.Timedelta(hours=18)
    pdf[pdf.bucket_start < cut].to_parquet(
        os.path.join(src_dir, "a.parquet"), coerce_timestamps="us"
    )
    pdf[pdf.bucket_start >= cut].to_parquet(
        os.path.join(src_dir, "b.parquet"), coerce_timestamps="us"
    )

    stream = (
        spark.readStream.schema("source string, bucket_start timestamp, cnt double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    q = (
        stream_cusum(stream, "cnt", target=50.0, k=1.0, h=10.0)
        .writeStream.format("memory")
        .queryName("cusum_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = (
        spark.sql("SELECT * FROM cusum_stream")
        .toPandas()
        .sort_values(["source", "bucket_start"])
        .reset_index(drop=True)
    )
    want = (
        cusum(
            spark.createDataFrame(pdf), "cnt", key_col="source",
            ts_col="bucket_start", k=1.0, h=10.0, target=50.0,
        )
        .toPandas()
        .sort_values(["key", "bucket_epoch"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want) == 60
    assert (got["alarm"].to_numpy() == want["alarm"].to_numpy()).all()
    assert np.allclose(got["s_pos"], want["s_pos"], atol=0)
    assert np.allclose(got["s_neg"], want["s_neg"], atol=0)
    assert got["alarm"].sum() > 0  # both creeps actually fired


def test_stream_sessions_match_batch_summary(spark, tmp_path):
    """Native session_window streaming sessions == batch session_summary
    on the same events (gap+1 for the documented boundary difference:
    the batch operator splits on strictly-greater, session_window's
    half-open [ts, ts+gap) splits at exactly gap). Sessions span the
    micro-batch boundary (two files, maxFilesPerTrigger=1)."""
    import os

    import pandas as pd

    from getml_community_spark.operators.sessionize import session_summary
    from getml_community_spark.streaming.stream_rollup import stream_sessions

    rows = []
    for src in ("a", "b"):
        base = 1_700_000_000
        # session 1: three events, then a >30min gap, then session 2
        for off in (0, 60, 1800):  # 1800 == gap: batch keeps together
            rows.append((src, base + off))
        for off in (7200, 7260):
            rows.append((src, base + off))
        # flush event: pushes the final watermark past sessions 1-2 so
        # append mode emits them (its own session stays open and is
        # excluded from the comparison)
        rows.append((src, base + 90_000))
    pdf = pd.DataFrame(rows, columns=["source", "e"])
    pdf["event_time"] = pd.to_datetime(pdf["e"], unit="s")
    pdf = pdf.drop(columns=["e"]).sort_values("event_time")

    src_dir = str(tmp_path / "ev")
    os.makedirs(src_dir, exist_ok=True)
    cut = pd.Timestamp("1970-01-01") + pd.Timedelta(seconds=1_700_000_000 + 900)
    pdf[pdf.event_time < cut].to_parquet(
        os.path.join(src_dir, "a.parquet"), coerce_timestamps="us"
    )
    pdf[pdf.event_time >= cut].to_parquet(
        os.path.join(src_dir, "b.parquet"), coerce_timestamps="us"
    )

    stream = (
        spark.readStream.schema("source string, event_time timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    q = (
        stream_sessions(stream, 1801, watermark="0 seconds")  # gap+1 →
        # batch-parity boundaries; zero delay so availableNow closes
        # every session the flush event's watermark passes
        .writeStream.format("memory")
        .queryName("sessions_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = (
        spark.sql("SELECT * FROM sessions_stream")
        .toPandas()
        .sort_values(["source", "t_start"])
        .reset_index(drop=True)
    )
    batch = spark.createDataFrame(pdf)
    want = (
        session_summary(batch, 1800, key_col="source", ts_col="event_time")
        .toPandas()
        .sort_values(["key", "t_start"])
        .reset_index(drop=True)
    )
    want = want[want["t_start"] < 1_700_090_000].reset_index(drop=True)
    assert len(got) == len(want) == 4  # 2 sessions x 2 sources
    for col in ("t_start", "t_end", "duration_s", "n_events"):
        assert (got[col].to_numpy() == want[col].to_numpy()).all(), col


def test_stream_hist_feeds_batch_quantile_cascade(spark, tmp_path):
    """Streaming histogram tier == batch histogram tier (availableNow
    parity), and the batch cascade + quantile extraction runs unchanged
    on the streamed sink."""
    from getml_community_spark.datagen import write_corpus_parquet
    from getml_community_spark.operators.histquantile import (
        hist_cascade,
        hist_quantiles,
        hist_rollup_from_raw,
    )
    from getml_community_spark.streaming.stream_rollup import (
        stream_corpus_reader,
        stream_hist,
    )

    path = str(tmp_path / "corpus")
    write_corpus_parquet(spark, 2000, path, with_tokens=False)

    stream = stream_corpus_reader(spark, path)
    hist = stream_hist(stream, "1m", bin_width=16.0, watermark="10 minutes")
    q = (
        hist.writeStream.format("memory")
        .queryName("hist_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got_hist = spark.sql("SELECT * FROM hist_stream")
    batch = spark.read.parquet(path)
    want_hist = hist_rollup_from_raw(batch, "1m", bin_width=16.0)

    from .conftest import assert_frames_equal_unordered

    assert_frames_equal_unordered(
        got_hist.toPandas(), want_hist.toPandas(), ["source", "bucket_start", "bin"]
    )

    # the streamed tier is a drop-in lower tier for the batch cascade
    got_q = hist_quantiles(
        hist_cascade(got_hist, "1h"), qs=(0.5, 0.99), bin_width=16.0
    ).toPandas()
    want_q = hist_quantiles(
        hist_cascade(want_hist, "1h"), qs=(0.5, 0.99), bin_width=16.0
    ).toPandas()
    assert_frames_equal_unordered(got_q, want_q, ["source", "bucket_start"])


def test_stream_counter_increase_matches_batch(spark, tmp_path):
    """Streaming counter-reset walk: state (one value per source)
    crosses the micro-batch boundary (two files, maxFilesPerTrigger=1);
    bucket-summed streamed contributions equal the batch operator.
    First-sample rows carry NaN contrib (unknown baseline) — mapped to
    NULL before the sum, like the batch path."""
    import numpy as np
    from pyspark.sql import functions as F

    from getml_community_spark.operators.counter import counter_increase
    from getml_community_spark.streaming.stream_rollup import (
        stream_counter_increase,
    )

    src_dir = str(tmp_path / "ctr")
    base = 1_700_000_000
    rng = np.random.default_rng(3)

    def mk_rows(t0, n, start):
        rows, c = [], start
        t = t0
        for _ in range(n):
            t += int(rng.integers(10, 90))
            c += float(rng.integers(0, 40))
            if rng.random() < 0.1:
                c = float(rng.integers(0, 5))
            rows.append(("a", t, c))
        return rows, c

    rows1, c_end = mk_rows(base, 40, 0.0)
    rows2, _ = mk_rows(rows1[-1][1], 40, c_end)
    for i, rows in enumerate([rows1, rows2]):
        spark.createDataFrame(rows, "source string, epoch long, value double").select(
            "source", F.timestamp_seconds("epoch").alias("event_time"), "value"
        ).coalesce(1).write.mode("overwrite").parquet(f"{src_dir}/f{i}")

    stream = (
        spark.readStream.schema("source string, event_time timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src_dir}/f*")
    )
    out = stream_counter_increase(stream, watermark="0 seconds")
    q = (
        out.writeStream.format("memory")
        .queryName("ctr_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    streamed = spark.sql("SELECT * FROM ctr_stream")
    got = (
        streamed.groupBy(
            "source",
            F.timestamp_seconds(
                F.floor(F.col("event_time").cast("long") / 3600) * 3600
            ).alias("bucket_start"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            F.sum(F.col("is_reset").cast("long")).alias("n_resets"),
            F.coalesce(
                F.sum(F.when(F.isnan("contrib"), None).otherwise(F.col("contrib"))),
                F.lit(0.0),
            ).alias("increase"),
        )
        .toPandas()
        .sort_values(["source", "bucket_start"])
        .reset_index(drop=True)
    )

    batch = spark.read.parquet(f"{src_dir}/f*")
    want = (
        counter_increase(batch, "1h", value_col="value")
        .select("source", "bucket_start", "n_samples", "n_resets", "increase")
        .toPandas()
        .sort_values(["source", "bucket_start"])
        .reset_index(drop=True)
    )
    assert got.equals(want), (got, want)
    assert int(got["n_resets"].sum()) > 0  # scenario exercised resets


def test_stream_distinct_feeds_batch_hll_cascade(spark, tmp_path):
    """Streaming HLL distinct tier == batch tier (availableNow parity on
    estimates — sketch merges are order-independent), and the batch
    union cascade runs unchanged on the streamed sink."""
    from getml_community_spark.datagen import write_corpus_parquet
    from getml_community_spark.operators.distinct import (
        hll_cascade,
        hll_estimates,
        hll_rollup_from_raw,
    )
    from getml_community_spark.streaming.stream_rollup import (
        stream_corpus_reader,
        stream_distinct,
    )

    path = str(tmp_path / "corpus")
    write_corpus_parquet(spark, 2000, path, with_tokens=False)

    stream = stream_corpus_reader(spark, path)
    dist = stream_distinct(stream, "1m", distinct_col="doc_id", watermark="10 minutes")
    q = (
        dist.writeStream.format("memory")
        .queryName("dist_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got = spark.sql("SELECT * FROM dist_stream")
    batch = spark.read.parquet(path)
    want = hll_rollup_from_raw(batch, "1m", distinct_col="doc_id")

    from .conftest import assert_frames_equal_unordered

    assert_frames_equal_unordered(
        hll_estimates(got).toPandas(),
        hll_estimates(want).toPandas(),
        ["source", "bucket_start"],
    )
    # drop-in lower tier for the batch cascade
    assert_frames_equal_unordered(
        hll_estimates(hll_cascade(got, "1h")).toPandas(),
        hll_estimates(hll_cascade(want, "1h")).toPandas(),
        ["source", "bucket_start"],
    )


def test_snapshot_append_exactly_once_batch_registry(spark, tmp_path):
    """SnapshotTable.append(stream_key, batch_id): a replayed batch id
    is a no-op (same snapshot, same rows); the next id commits."""
    from pyspark.sql import functions as F

    from getml_community_spark.checkpoint import SnapshotTable

    t = SnapshotTable(str(tmp_path / "sink"), partition_by=["day"])
    df = spark.range(5).toDF("x").withColumn("day", F.lit("2025-01-01"))
    s1 = t.append(df, stream_key="q", batch_id=0)
    assert t.read(spark).count() == 5
    s2 = t.append(df, stream_key="q", batch_id=0)  # crash-replay
    assert s2 == s1 and t.read(spark).count() == 5
    t.append(df, stream_key="q", batch_id=1)
    assert t.read(spark).count() == 10
    # an unrelated stream key has its own registry
    t.append(df, stream_key="other", batch_id=0)
    assert t.read(spark).count() == 15


def test_stream_rollup_into_snapshot_store_restartable(spark, tmp_path):
    """Streaming 1m tier → durable SnapshotTable: closed buckets land
    once; a restart from the same checkpoint over NEW input appends only
    new buckets (no duplicates); rows match the batch rollup exactly."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from getml_community_spark.checkpoint import SnapshotTable
    from getml_community_spark.datagen import write_corpus_parquet
    from getml_community_spark.operators.rollup import rollup_from_raw
    from getml_community_spark.streaming.stream_rollup import (
        stream_corpus_reader,
        stream_into_snapshot,
        stream_rollup,
    )

    full = str(tmp_path / "full")
    write_corpus_parquet(spark, 2500, full, with_tokens=False)
    src = str(tmp_path / "src")
    held = str(tmp_path / "held")
    shutil.copytree(full, src)
    os.makedirs(held)
    days = sorted(d for d in os.listdir(src) if d.startswith("event_date="))
    for d in days[10:]:
        shutil.move(f"{src}/{d}", f"{held}/{d}")

    table = SnapshotTable(str(tmp_path / "tier1m"), partition_by=["day"])
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        agg = stream_rollup(
            stream_corpus_reader(spark, src), "1m", watermark="0 seconds"
        )
        q = (
            stream_into_snapshot(agg, table, ckpt, stream_key="tier1m")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    run_once()
    n_first = table.read(spark).count()
    assert n_first > 0

    # restart over MORE input from the same checkpoint
    for d in days[10:]:
        shutil.move(f"{held}/{d}", f"{src}/{d}")
    spark.catalog.refreshByPath(src)
    run_once()
    got = table.read(spark).drop("day").toPandas()
    assert len(got) > n_first

    # no duplicate (source, bucket) across the two runs
    assert not got.duplicated(subset=["source", "bucket_start"]).any()

    # every landed bucket matches the batch rollup bit-for-bit, and all
    # comfortably-closed buckets landed
    batch = rollup_from_raw(spark.read.parquet(src), "1m").toPandas()
    from .conftest import assert_frames_equal_unordered

    keys = ["source", "bucket_start"]
    merged = got.merge(batch, on=keys, suffixes=("_s", "_b"))
    assert len(merged) == len(got)  # every streamed bucket exists in batch
    for c in ("cnt", "sum_n_tok", "min_n_tok", "max_n_tok", "rate"):
        assert (merged[f"{c}_s"] == merged[f"{c}_b"]).all()
    wm = spark.read.parquet(src).agg(
        F.max(F.col("event_time").cast("timestamp").cast("long"))
    ).collect()[0][0]
    closed = batch[
        batch["bucket_start"].map(lambda t: t.timestamp() + 60) < wm - 60
    ]
    assert len(got) >= len(closed)


def test_stream_raw_ingest_feeds_incremental_rollup_job(spark, tmp_path):
    """The full streaming→batch handoff: raw corpus rows stream
    exactly-once into a SnapshotTable (token arrays untouched), the
    incremental RollupJob catches up on each new snapshot fingerprinting
    only the delta's days, and the final tiers equal a from-scratch
    batch job over the same rows."""
    import os
    import shutil

    from getml_community_spark.checkpoint import SnapshotTable
    from getml_community_spark.datagen import write_corpus_parquet
    from getml_community_spark.plans import RollupJob, RollupSpec
    from getml_community_spark.streaming.stream_rollup import (
        stream_corpus_reader,
        stream_raw_into_snapshot,
    )

    from .conftest import assert_frames_equal_unordered

    full = str(tmp_path / "full")
    write_corpus_parquet(spark, 2500, full, with_tokens=True)
    src = str(tmp_path / "src")
    held = str(tmp_path / "held")
    shutil.copytree(full, src)
    os.makedirs(held)
    days = sorted(d for d in os.listdir(src) if d.startswith("event_date="))
    for d in days[9:]:
        shutil.move(f"{src}/{d}", f"{held}/{d}")

    ing = SnapshotTable(str(tmp_path / "raw_ing"), partition_by=["event_date"])
    ckpt = str(tmp_path / "ckpt")

    def drain():
        q = (
            stream_raw_into_snapshot(
                stream_corpus_reader(spark, src), ing, ckpt
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    drain()
    # token arrays pass through the store bit-equal (per-row invariant)
    stored = ing.read(spark).select("doc_id", "tokens").toPandas()
    orig = (
        spark.read.parquet(src).select("doc_id", "tokens").toPandas()
    )
    s = stored.sort_values("doc_id").reset_index(drop=True)
    o = orig.sort_values("doc_id").reset_index(drop=True)
    assert len(s) == len(o)
    assert all(list(a) == list(b) for a, b in zip(s.tokens, o.tokens))

    out = str(tmp_path / "out")
    job = RollupJob(spark, RollupSpec(), ing.root, out)
    s1 = job.run()
    assert s1["days_processed"] == s1["days_total"] > 0

    # more stream input arrives; drain and catch up incrementally
    for d in days[9:]:
        shutil.move(f"{held}/{d}", f"{src}/{d}")
    spark.catalog.refreshByPath(src)
    drain()
    job2 = RollupJob(spark, RollupSpec(), ing.root, out)
    seen = {}
    orig_ds = job2._day_stats

    def _spy(df):
        seen["n_days"] = df.select("event_date").distinct().count()
        return orig_ds(df)

    job2._day_stats = _spy
    s2 = job2.run()
    assert s2["days_processed"] > 0
    # the fingerprint scan covered only the delta's days, not all 14
    assert seen["n_days"] < s2["days_total"]

    # parity vs from-scratch batch job over the full corpus
    out2 = str(tmp_path / "out2")
    job3 = RollupJob(spark, RollupSpec(), src, out2)
    job3.run()
    for tier in ("1m", "1d"):
        a = (
            job2.read_tier(tier).drop("day").toPandas()
            .sort_values(["source", "bucket_start"]).reset_index(drop=True)
        )
        b = (
            job3.read_tier(tier).drop("day").toPandas()
            .sort_values(["source", "bucket_start"]).reset_index(drop=True)
        )
        assert_frames_equal_unordered(a, b, ["source", "bucket_start"])
