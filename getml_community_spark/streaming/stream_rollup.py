"""Structured-Streaming variant of the base rollup tier.

The reference is batch-only (SURVEY.md §2.10 — no watermarks or
streaming state anywhere in src/engine/); our north rule requires
resumable batch. This module exists because the tier computation maps
1:1 onto streaming tumbling windows, so an engine user can maintain the
1m tier continuously and let the batch cascade (RollupJob) roll 1h/1d:

    raw stream → withWatermark(event_time, delay)
               → groupBy(source, window(event_time, '1 minute'))
               → core aggs → append sink

Late rows inside the watermark update their bucket before emission;
rows later than that land in the batch re-roll path (gap-fill +
recompute affected day partitions), same as the reference's
fingerprint-invalidation story.

A pre-1970 event time fails the query (:func:`_watermark`): Spark's
first watermark is the epoch, so its late-row filter would silently
drop the row. Pre-1970 data takes the batch path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..operators.distinct import hll_family
from ..operators.histquantile import hist_family
from ..operators.rollup import TierFamily, core_family, tier_seconds

__all__ = [
    "stream_tier",
    "stream_rollup",
    "stream_gorilla_segments",
    "stream_corpus_reader",
    "stream_exact_dedup",
    "stream_anomaly",
    "stream_cusum",
    "stream_sessions",
    "stream_into_snapshot",
    "stream_raw_into_snapshot",
    "stream_hist",
    "stream_distinct",
]


def _watermark(stream: DataFrame, ts_col: str, watermark: str) -> DataFrame:
    """``stream.withWatermark(ts_col, watermark)`` behind a guard that
    fails the query on an event time before the epoch (the first
    watermark), which the late-row filter would drop without a trace."""
    ts = F.col(ts_col)
    msg = F.concat(F.lit(f"{ts_col} before 1970 cannot be streamed: "), ts.cast("string"))
    guarded = F.when(ts < F.timestamp_seconds(F.lit(0)), F.raise_error(msg)).otherwise(ts)
    return stream.withColumn(ts_col, guarded).withWatermark(ts_col, watermark)


def stream_exact_dedup(
    stream: DataFrame,
    content_col: str,
    ts_col: str,
    watermark: str = "10 minutes",
    normalize: bool = True,
) -> DataFrame:
    """Streaming exact dedup: emit only the FIRST occurrence of each
    content fingerprint within the watermark horizon — the continuous
    form of :func:`..operators.dedup.exact_dedup` for ingest-time
    filtering of a document stream.

    State discipline (the 100 TB-ingest shape): state per key is the
    16-byte (h1, h2) fingerprint + event-time, NOT the text —
    ``dropDuplicatesWithinWatermark`` evicts keys once they age past
    the watermark, so state is bounded by unique docs per horizon, not
    by the stream's history. The same salt-first independent double
    xxhash64 as the batch operator (collision ~2^-128 per pair).
    """
    c = F.col(content_col)
    if normalize:
        c = F.lower(F.trim(F.regexp_replace(c, r"\s+", " ")))
    fp = stream.withColumn("__h1", F.xxhash64(c)).withColumn(
        "__h2", F.xxhash64(F.lit(0x27D4EB4F), c)
    )
    return (
        _watermark(fp, ts_col, watermark)
        .dropDuplicatesWithinWatermark(["__h1", "__h2"])
        .drop("__h1", "__h2")
    )


def stream_tier(
    stream: DataFrame,
    family: TierFamily,
    tier: str,
    watermark: str,
    source_col: str = "source",
    ts_col: str = "event_time",
) -> DataFrame:
    """The streaming tier skeleton: a family's raw stage grouped by
    (source, ``window()``, *family keys) under a watermark →
    (source, bucket_start, *family outputs), the schema of the batch
    :func:`~..operators.rollup.bucket_rollup`. The ``window()`` key (not
    the batch long epoch) is what lets Spark evict a group's state once
    the watermark passes the window end; the family's aggregation
    buffer is the whole per-group state."""
    sec = tier_seconds(tier)
    rows, keys, aggs, out = family.raw(stream, sec)
    w = F.window(F.col(ts_col), f"{sec} seconds")
    return (
        _watermark(rows, ts_col, watermark)
        .groupBy(F.col(source_col).alias("source"), w.alias("w"), *keys)
        .agg(*aggs)
        .select("source", F.col("w.start").alias("bucket_start"), *out)
    )


def stream_rollup(
    stream: DataFrame,
    tier: str = "1m",
    watermark: str = "2 minutes",
    source_col: str = "source",
    ts_col: str = "event_time",
    value_col: str = "n_tok",
) -> DataFrame:
    """Streaming continuous aggregate; same output schema as
    rollup_from_raw so golden tests compare the two directly."""
    return stream_tier(stream, core_family(value_col), tier, watermark, source_col, ts_col)


def stream_hist(
    stream: DataFrame,
    tier: str = "1m",
    bin_width: float = 1.0,
    watermark: str = "2 minutes",
    source_col: str = "source",
    ts_col: str = "event_time",
    value_col: str = "n_tok",
) -> DataFrame:
    """Streaming histogram tier — the drop-in lower tier for the
    mergeable-quantile cascade (operators/histquantile.py): same
    (source, bucket_start, bin, cnt) schema as hist_rollup_from_raw, so
    batch ``hist_cascade`` + ``hist_quantiles`` run unchanged on the
    stream's sink table. Adding ``bin`` to the window group key keeps
    this a native watermark-evicted streaming aggregation (no custom
    state); per-group state is one count, group cardinality is bounded
    by sources x live-windows x occupied bins."""
    family = hist_family(value_col, bin_width)
    return stream_tier(stream, family, tier, watermark, source_col, ts_col)


def stream_distinct(
    stream: DataFrame,
    tier: str = "1m",
    distinct_col: str = "doc_id",
    watermark: str = "2 minutes",
    source_col: str = "source",
    ts_col: str = "event_time",
    lg_k: int = 12,
) -> DataFrame:
    """Streaming lower tier for the mergeable distinct-count cascade
    (operators/distinct.py): same (source, bucket_start, sketch, cnt)
    schema as ``hll_rollup_from_raw``, so batch ``hll_cascade`` +
    ``hll_estimates`` run unchanged on the stream's sink table. A
    native watermark-evicted streaming aggregation — the HLL buffer IS
    the aggregation state, bounded (≤ ~2^lg_k bytes per live (source,
    window) group) no matter how many distinct values stream through;
    sketch merges are order-independent, so estimates are identical to
    a batch pass over the same rows (pytest-asserted)."""
    family = hll_family(distinct_col, lg_k)
    return stream_tier(stream, family, tier, watermark, source_col, ts_col)


def stream_into_snapshot(
    tier_stream: DataFrame,
    table,
    checkpoint_dir: str,
    stream_key: str = "stream",
    add_day: bool = True,
):
    """Stream CLOSED tier buckets into a durable :class:`SnapshotTable`
    — the bridge between the streaming lower tier and the snapshot
    store the batch job maintains (readers, cascades, the range router
    and compaction all work unchanged on the sink).

    Use an APPEND-mode tier stream (watermarked ``stream_rollup`` /
    ``stream_hist`` / ``stream_distinct``): append emits each (source,
    bucket) exactly once when the watermark passes its window end, so
    every micro-batch holds only newly-closed buckets. Durability is
    exactly-once: ``SnapshotTable.append(stream_key, batch_id)`` makes
    the manifest commit itself the batch registry, so foreachBatch
    replays after a crash/restart are no-ops (pytest-asserted).

    Returns the DataStreamWriter — caller picks the trigger and calls
    ``.start()``.
    """

    def _write(bdf: DataFrame, batch_id: int) -> None:
        if add_day and "day" not in bdf.columns:
            bdf = bdf.withColumn("day", F.to_date("bucket_start"))
        if bdf.isEmpty():
            return
        table.append(bdf, stream_key=stream_key, batch_id=batch_id)

    return tier_stream.writeStream.foreachBatch(_write).option(
        "checkpointLocation", checkpoint_dir
    )


def stream_sessions(
    stream: DataFrame,
    gap_seconds: int,
    watermark: str = "2 hours",
    source_col: str = "source",
    ts_col: str = "event_time",
) -> DataFrame:
    """Streaming gap-based sessionization on Spark's NATIVE
    ``session_window``: a session closes once the watermark passes its
    end (last event + gap) and the summary row emits exactly once
    (append mode). Output: (source, t_start, t_end, duration_s,
    n_events) — epochs as longs, matching ``session_summary``.

    Boundary nuance vs :func:`..operators.sessionize.sessionize`: the
    batch operator keeps events exactly ``gap_seconds`` apart in ONE
    session (split on strictly-greater); ``session_window`` half-open
    windows [ts, ts+gap) split them. Pass ``gap_seconds + 1`` here when
    parity with the batch ids matters (pytest pins both behaviors).
    """
    if gap_seconds <= 0:
        raise ValueError("gap_seconds must be > 0")
    sw = F.session_window(F.col(ts_col), f"{gap_seconds} seconds")
    epoch = lambda c: c.cast("timestamp").cast("long")  # noqa: E731
    return (
        _watermark(stream, ts_col, watermark)
        .groupBy(F.col(source_col).alias("source"), sw.alias("w"))
        .agg(
            F.min(epoch(F.col(ts_col))).alias("t_start"),
            F.max(epoch(F.col(ts_col))).alias("t_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            "source",
            "t_start",
            "t_end",
            (F.col("t_end") - F.col("t_start")).alias("duration_s"),
            "n_events",
        )
    )


def stream_gorilla_segments(
    stream: DataFrame,
    watermark: str = "10 minutes",
    source_col: str = "source",
    ts_col: str = "event_time",
    value_col: str = "n_tok",
) -> DataFrame:
    """Custom STATEFUL streaming operator (applyInPandasWithState):
    maintain open Gorilla segments per (source, day) and emit the
    compressed blob when the event-time watermark passes the day's end.

    State per group = the day's buffered (epoch, value) points (arrays).
    Each trigger: merge the batch's points into state and arm an
    event-time timeout at max(day_end, watermark+1); when the timeout
    fires the points are sorted, encoded with the same bit-exact
    encode_segment as the batch path, and emitted once (append mode).
    Rows later than the watermark never reach the group and belong to
    the batch re-roll path (RollupJob's input-fingerprint re-roll); a
    pre-1970 row fails the query (:func:`_watermark`).

    Output schema matches compress_rollup minus bytes_raw accounting
    nuances: (source, day, n_points, bytes_raw, bytes_compressed, data).

    STATE-SIZE NOTE: the buffered (epoch, value) points live in state
    until the day closes, which is sized for the documented input — an
    already-rolled-up 1m-tier stream (<= 1440 points per group-day). Do
    NOT feed raw event-granularity streams from hot sources here: a
    source emitting thousands of events/sec would bloat a group's state
    by orders of magnitude. Pre-aggregate with :func:`stream_rollup`
    first; its sliding-window state is bounded by the watermark, and
    its 1m output is exactly this operator's intended input.
    """
    import numpy as np
    import pandas as pd

    from ..functions.gorilla import COMPRESSED_SCHEMA, epoch_day

    state_schema = "ts array<long>, vals array<double>"

    def fn(key, pdfs, state):
        from getml_community_spark.functions.gorilla import encode_segment

        source, day = key
        if state.hasTimedOut:
            ts_list, val_list = state.get
            state.remove()
            ts = np.asarray(ts_list, dtype=np.int64)
            vs = np.asarray(val_list, dtype=np.float64)
            order = np.argsort(ts, kind="stable")
            blob = encode_segment(ts[order], vs[order])
            yield pd.DataFrame(
                {
                    "source": [source],
                    "day": [day],
                    "n_points": [len(ts)],
                    "bytes_raw": [len(ts) * 16],
                    "bytes_compressed": [len(blob)],
                    "data": [blob],
                }
            )
            return
        new_ts: list = []
        new_vals: list = []
        for pdf in pdfs:
            new_ts.append(pdf["__epoch"].to_numpy(np.int64))
            new_vals.append(pdf["__val"].to_numpy(np.float64))
        ts = np.concatenate(new_ts) if new_ts else np.empty(0, np.int64)
        vs = np.concatenate(new_vals) if new_vals else np.empty(0, np.float64)
        if state.exists:
            old_ts, old_vals = state.get
            ts = np.concatenate([np.asarray(old_ts, np.int64), ts])
            vs = np.concatenate([np.asarray(old_vals, np.float64), vs])
        state.update((ts.tolist(), vs.tolist()))
        # close when the watermark passes the day end; a day already
        # behind the watermark closes at the next trigger (wm+1)
        import calendar

        day_end_ms = (calendar.timegm(day.timetuple()) + 86400) * 1000
        state.setTimeoutTimestamp(max(day_end_ms, state.getCurrentWatermarkMs() + 1))

    prepped = (
        _watermark(stream, ts_col, watermark)
        .withColumn("__epoch", F.col(ts_col).cast("timestamp").cast("long"))
        .withColumn("day", epoch_day(F.col("__epoch")))
        .withColumn("__val", F.col(value_col).cast("double"))
        .select(F.col(source_col).alias("source"), "day", ts_col, "__epoch", "__val")
    )
    return prepped.groupBy("source", "day").applyInPandasWithState(
        fn, COMPRESSED_SCHEMA, state_schema, "append", "EventTimeTimeout"
    )


def _source_walk(
    stream: DataFrame,
    value_col: str,
    source_col: str,
    ts_col: str,
    watermark: str,
    state_schema: str,
    init: tuple,
    out_schema: str,
    step,
) -> DataFrame:
    """The per-source stateful walk shared by the streaming alert and
    counter operators (applyInPandasWithState, NoTimeout).

    Per source and trigger: the batch's rows sorted by (time, value) —
    the batch counter's tie rule; a tier stream holds one row per
    (source, bucket), so the value never reorders it — then ``step(state,
    value) → (state, extra output tuple)`` once per row, starting from
    the stored state (``init`` for a new source). Output is (source, ts,
    value, *extras) with ``out_schema`` naming the extras. Rows are
    sorted WITHIN each micro-batch only: a row arriving in a later
    trigger than newer rows of its source is walked after them."""
    import numpy as np
    import pandas as pd

    extras = [c.split()[0] for c in out_schema.split(",")]

    def fn(key, pdfs, state):
        frames = list(pdfs)
        if not frames:
            return
        pdf = pd.concat(frames).sort_values(["__tsc", "__val"])
        vals = pdf["__val"].to_numpy(np.float64)
        st, rows = tuple(state.get) if state.exists else init, []
        for v in vals:
            st, row = step(st, v)
            rows.append(row)
        state.update(st)
        yield pd.DataFrame(
            {
                source_col: key[0],
                ts_col: pd.to_datetime(pdf["__tsc"].to_numpy(), unit="s"),
                "value": vals,
                **{c: [r[i] for r in rows] for i, c in enumerate(extras)},
            }
        )

    # __tsc carries the bucket time as a NON-event-time long (a second
    # timestamp column would inherit the watermark tag and streaming
    # rejects two event-time columns per stream)
    prepped = (
        _watermark(stream, ts_col, watermark)
        .withColumn("__tsc", F.col(ts_col).cast("timestamp").cast("long"))
        .withColumn("__val", F.col(value_col).cast("double"))
        .select(F.col(source_col).cast("string").alias(source_col), "__tsc", "__val")
    )
    return prepped.groupBy(source_col).applyInPandasWithState(
        fn,
        f"{source_col} string, {ts_col} timestamp, value double, {out_schema}",
        state_schema,
        "append",
        "NoTimeout",
    )


def stream_anomaly(
    tier_stream: DataFrame,
    value_col: str = "cnt",
    window: int = 24,
    k: float = 3.0,
    source_col: str = "source",
    ts_col: str = "bucket_start",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming rolling z-score alerts over a tier stream — the
    continuous form of :func:`..operators.anomaly.rolling_zscore`.

    Stateful (applyInPandasWithState, NoTimeout): state per source is
    the trailing ``window`` bucket values — a few doubles, regardless
    of stream length. Each trigger processes the batch's buckets in
    event-time order, scores each against the trailing deque with the
    same exact Σv/Σv² arithmetic as the batch operator (pytest asserts
    flag-for-flag parity on ordered input), then advances the deque.
    Buckets arriving out of event-time order across triggers score
    against whatever trailing state existed when they arrived — the
    watermarked tier stream upstream emits in watermark order, and
    later corrections belong to the batch re-roll path.
    """
    import numpy as np

    def step(st, v):
        t = np.asarray(st[0], dtype=np.float64)
        n, z = len(t), np.nan
        if n >= window:
            s1, s2 = t.sum(), (t * t).sum()
            mu = s1 / n
            var = max(s2 / n - mu * mu, 0.0)
            if var > 0:
                z = (v - mu) / np.sqrt(var)
        return ([*st[0], float(v)][-window:],), (z, bool(abs(z) > k))

    return _source_walk(
        tier_stream, value_col, source_col, ts_col, watermark,
        "vals array<double>", ([],), "zscore double, is_anomaly boolean", step,
    )


def stream_cusum(
    tier_stream: DataFrame,
    value_col: str = "cnt",
    target: float = 0.0,
    k: float = 0.5,
    h: float = 5.0,
    source_col: str = "source",
    ts_col: str = "bucket_start",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming CUSUM change-point alerts — the continuous form of
    :func:`..operators.changepoint.cusum` in ``target`` mode (streams
    have no global series mean; monitor against a known reference, the
    usual production deployment of CUSUM).

    State per source is exactly TWO integers (the s⁺/s⁻ micro-unit
    accumulators) regardless of stream length — CUSUM's recursion is
    the textbook fit for ``applyInPandasWithState``. Arithmetic matches
    the batch operator's micro-unit longs, so alarms are identical to a
    batch run over the same ordered buckets (pytest-asserted).

    ORDERING ASSUMPTION (round-4 advice, explicit): rows are sorted by
    timestamp only WITHIN each micro-batch. CUSUM's recursion is
    order-sensitive, so a row that arrives late-but-within-watermark in
    a LATER trigger is folded into state after newer rows, and s⁺/s⁻
    can diverge from the batch run. The batch-parity claim above holds
    for in-order arrival (the normal case here: the input is an
    already-rolled-up tier stream whose buckets close in watermark
    order). If the upstream can deliver cross-trigger out-of-order
    buckets, either widen the upstream rollup's watermark so buckets
    emit in order, or buffer per key with an EventTimeTimeout and run
    the recursion only over below-watermark rows at timeout — the
    sessionize module shows that pattern; it trades the 2-long state
    for a per-key buffer."""
    import numpy as np

    mu_u = int(round(target * 1e6))
    k_u = int(round(k * 1e6))
    h_u = int(round(h * 1e6))

    def step(st, v):
        x = int(np.floor(v * 1e6 + 0.5))
        sp = max(0, st[0] + x - mu_u - k_u)
        sn = max(0, st[1] - (x - mu_u + k_u))
        return (sp, sn), (sp / 1e6, sn / 1e6, sp > h_u or sn > h_u)

    return _source_walk(
        tier_stream, value_col, source_col, ts_col, watermark,
        "sp long, sn long", (0, 0), "s_pos double, s_neg double, alarm boolean", step,
    )


def stream_counter_increase(
    stream: DataFrame,
    value_col: str = "value",
    source_col: str = "source",
    ts_col: str = "event_time",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming counter-reset walk — the continuous form of
    :func:`..operators.counter.counter_increase` (PromQL semantics):
    per source, emit each sample's contribution (delta, or the full
    value after a reset) so a downstream windowed sum yields per-bucket
    increase/rate.

    State per source is ONE value — the last counter sample — so this
    scales to any stream length. Same in-order-arrival caveat as
    stream_cusum (the walk is order-sensitive; rows are sorted within
    each micro-batch only). Output: (source, ts, value, contrib,
    is_reset); the first sample of a source emits contrib NULL
    (baseline unknown), matching the batch operator.
    """

    def step(st, v):
        last, v = st[0], float(v)
        if last is None:
            return (v,), (float("nan"), False)
        return (v,), ((v - last, False) if v >= last else (v, True))

    return _source_walk(
        stream, value_col, source_col, ts_col, watermark,
        "last double", (None,), "contrib double, is_reset boolean", step,
    )


def stream_corpus_reader(spark, path: str) -> DataFrame:
    """File-source stream over a corpus parquet directory (the
    readStream analogue of the batch reader; availableNow triggers give
    exactly-once batch parity for tests)."""
    from ..datagen import CORPUS_SCHEMA

    return (
        spark.readStream.schema(CORPUS_SCHEMA + ", event_date date")
        .option("maxFilesPerTrigger", 64)
        .parquet(path)
    )


def stream_raw_into_snapshot(
    raw_stream: DataFrame,
    table,
    checkpoint_dir: str,
    stream_key: str = "raw",
    ts_col: str = "event_time",
    partition_col: str = "event_date",
):
    """Land RAW corpus rows (the input_hint shape: doc_id, tokens,
    n_tok, source, event_time) into a durable :class:`SnapshotTable`,
    exactly-once — the ingest half of the streaming→batch handoff whose
    batch half is :class:`~..plans.job.RollupJob` over the same table:
    the job detects the snapshot layout, and each run fingerprints only
    the days the appended delta touched (``changes()``-bounded
    incremental reconcile).

    Unlike :func:`stream_into_snapshot` (closed TIER buckets), raw rows
    need no watermark/window — every micro-batch appends verbatim, with
    a ``partition_col`` day column added for the table's day
    partitioning; exactly-once comes from the manifest-commit batch
    registry. Token arrays pass through untouched (the per-row
    token-array-equality invariant holds through the store —
    pytest-asserted).

    Returns the DataStreamWriter — caller picks the trigger and calls
    ``.start()``.
    """

    def _write(bdf: DataFrame, batch_id: int) -> None:
        if partition_col and partition_col not in bdf.columns:
            bdf = bdf.withColumn(partition_col, F.to_date(ts_col))
        if bdf.isEmpty():
            return
        table.append(bdf, stream_key=stream_key, batch_id=batch_id)

    return raw_stream.writeStream.foreachBatch(_write).option(
        "checkpointLocation", checkpoint_dir
    )
