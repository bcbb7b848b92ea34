"""getml_community_spark — a PySpark-native time-series rollup, downsample
and retention engine with the query capabilities of getML community.

This is NOT a port of the reference C++ engine. The reference
(cyclux/getml-community, read-only at /root/reference) defines WHAT we
compute — the data model (SURVEY.md §1), the operator inventory
(SURVEY.md §2), and the exact aggregation semantics
(src/engine/include/helpers/Aggregations.hpp) — while the HOW is
idiomatic Spark: declarative DataFrame plans optimized by Catalyst,
whole-stage-codegen aggregation expressions, Arrow-vectorized pandas
UDFs for the few kernels Spark lacks (Gorilla compression), and
partitioning/AQE/salting for scale.

Layout
------
session          SparkSession factory (AQE, Arrow, shuffle tuning, Iceberg-gated)
                 + the one lineage cut (barrier) and narrow-input spread (spread)
datagen          deterministic tokenized-corpus generator (FIXTURES.md §1)
oracle           numpy implementation of the full aggregation battery (test oracle)
checkpoint       snapshot-manifest table layer + per-partition lineage +
                 resume + compaction (rewrite_data_files) + snapshot expiry
plans            RollupSpec — the declarative job spec (Placeholder
                 analogue); RollupJob — resumable tiered pipeline with
                 tier-aware range-query router (query_range), chunk-index
                 segment queries, hist/dist tier maintenance
operators        rollup tiers (+ rollup_to_step/choose_tier): the tier
                 families are declared once — core_family (rollup),
                 hist_family (histquantile), hll_family (distinct) —
                 and run by one batch skeleton, rollup.bucket_rollup;
                 gap-fill, counter-reset rate (PromQL), mergeable
                 histogram quantiles, mergeable HLL distinct counts,
                 as-of join, agg battery, dedup,
                 similarity search, text stats + repetition filters,
                 LM-perplexity scoring, PII redaction, sequence packing,
                 token-budget/stratified sampling, sessionization,
                 seasonal decomposition, CUSUM change-points, SAX words,
                 LTTB/M4 downsampling, corpus cleaning, multimodal
                 codecs (BMP/PNG/JPEG/WAV) + plumbing, skew tools;
                 tokenize — the one word split (JVM expression + Arrow
                 UDF boundary, one NULL contract) every text operator
                 uses
functions        scalar expression surface, Gorilla numpy kernels, preprocessors
sources          readers/writers (csv/parquet/json/orc/jdbc; snapshot tables)
streaming        structured-streaming tiers of every family (stream_tier,
                 the watermark twin of bucket_rollup), per-source
                 stateful walks (counter, anomaly, CUSUM alerts),
                 stateful Gorilla segment close, watermark-evicted
                 streaming dedup, native session_window sessions
"""

__version__ = "0.1.0"
