"""Corpus-trained n-gram LM quality scoring (the CCNet recipe,
Wenzek et al. 2020, public: score documents by language-model
perplexity and keep the 'natural' tail).

This is the self-contained variant: an add-k-smoothed BIGRAM model is
trained on the corpus being scored (two hash aggregations), then each
document is scored by its average negative log-probability per bigram —
monotone in perplexity (ppl = exp(avg_nll)), so thresholding avg_nll IS
perplexity filtering without the extra exp.

Cross-engine determinism: counts are exact integers; each distinct
bigram's log-probability is quantized to micro-unit integers
(floor(ln(p)*1e6+0.5)) so the per-document sums are order-independent
exact longs, and the final average is an exact-integer quotient rounded
once. (libm ln() can differ in the last ulp between engines — the 1e-6
quantization makes a flip require landing within ~1e-16 of a grid
boundary.)

Scale shape: explode → two hash aggs (bigram + context counts) → one
equi-join of the doc bigrams against the (w1, w2) model — the same
join-on-token-key shape as tf-idf; model rows are (tokens + bigrams)
counts, broadcastable for bounded vocabularies. No UDFs, no collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..session import barrier, spread

__all__ = ["bigram_lm_score"]


def bigram_lm_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: float = 0.1,
    broadcast_model: bool | str = "auto",
    broadcast_max_types: int = 5_000_000,
) -> DataFrame:
    """Score each document: (id, n_bigrams, avg_nll). avg_nll is the
    mean negative ln-probability of the document's bigrams under the
    corpus-trained add-``k`` model (lower = more typical of the
    corpus); documents with < 2 tokens get no row (no bigrams).

    ``broadcast_model`` controls the scoring join (doc bigrams x the
    (w1, w2) model — the operator's only wide join):

    - ``True`` — broadcast-hint the model frame (BroadcastHashJoin: the
      corpus-side bigrams never shuffle). Right whenever the vocabulary
      is bounded — model rows = distinct bigram TYPES, which Heaps' law
      keeps far below corpus token count; ~5M types is a few hundred MB.
    - ``False`` — plain shuffle join, the fallback for UNBOUNDED
      vocabularies (adversarial/synthetic token streams where the type
      count approaches the token count and a broadcast would OOM the
      driver). Keeps the whole operator one lazy plan.
    - ``"auto"`` (default) — count the model's rows first and broadcast
      iff <= ``broadcast_max_types``. Costs one extra aggregation job,
      which also eagerly materializes the shared bigram checkpoint the
      later stages reuse.
    """
    if k <= 0:
        raise ValueError("k must be > 0")
    from .tokenize import words_arrow

    toks = words_arrow(F.col(text_col))
    # spread narrow inputs before the tokenizer; the Arrow tokenizer is
    # non-deterministic-marked so the size()>=2 filter cannot push below
    # it and re-evaluate it (guide §4.4 — the old JVM split ran twice
    # here, once under the pushed filter and once in the projection)
    base = spread(df).select(F.col(id_col).alias("id"), toks.alias("__ws")).where(
        F.size("__ws") >= 2  # guard BEFORE sequence(): sequence(1, 0)
        # is a DESCENDING [1, 0] in Spark, not empty
    )
    pairs = base.select(
        "id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(__ws) - 1), "
                "i -> struct(__ws[i - 1] as w1, __ws[i] as w2))"
            )
        ).alias("bg"),
    ).select("id", "bg.w1", "bg.w2")
    # four consumers (bigram counts, context counts, vocab, scoring
    # join) share no subtree — without a barrier one action tokenizes
    # and explodes the corpus four times (the decompose lesson)
    pairs = barrier(pairs, eager=False)

    cb = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("__cb"))
    cu = pairs.groupBy("w1").agg(F.count(F.lit(1)).alias("__cu"))
    # vocabulary size (continuation types) as a broadcast scalar frame —
    # keeps the whole operator one lazy plan, no driver-side count
    v = F.broadcast(
        pairs.agg(F.count_distinct("w2").cast("double").alias("__v"))
    )
    lp = (
        cb.join(cu, "w1")
        .crossJoin(v)
        .select(
            "w1",
            "w2",
            F.floor(
                F.log(
                    (F.col("__cb") + F.lit(float(k)))
                    / (F.col("__cu") + F.lit(float(k)) * F.col("__v"))
                )
                * F.lit(1e6)
                + F.lit(0.5)
            )
            .cast("long")
            .alias("__lp_u"),
        )
    )
    if broadcast_model == "auto":
        # one count over the (checkpointed) pairs decides; the bigram
        # TYPE count is what lands on the driver under a broadcast
        broadcast_model = cb.count() <= broadcast_max_types
    model = F.broadcast(lp) if broadcast_model else lp
    scored = pairs.join(model, ["w1", "w2"]).groupBy("id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("__lp_u").alias("__s"),
    )
    avg_nll = -F.col("__s") / (F.lit(1e6) * F.col("n_bigrams"))
    return scored.select(
        F.col("id").alias(id_col),
        "n_bigrams",
        (F.floor(avg_nll * F.lit(1e4) + F.lit(0.5)) / F.lit(1e4)).alias(
            "avg_nll"
        ),
    )
