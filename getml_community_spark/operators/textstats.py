"""Text analysis for training-data pipelines: language-ID heuristic,
quality scoring, token counting, document fingerprinting, vocabulary,
Gopher quality and repetition filters, decontamination, tf-idf and
BM25 — the text analogue of the reference's textmining surface
(Vocabulary.hpp:31-46 min-df/max-size vocabulary + per-column
WordIndex), extended with the metrics a corpus pipeline needs.

Every operator tokenizes through :mod:`.tokenize`, the Arrow boundary:
one C-regex split per document in a pandas UDF (or, for
:func:`repetition_stats`, inside its one ``mapInPandas`` gram kernel).
The metrics over the token arrays are JVM array/string expressions;
the JVM split itself survives only in :func:`word_tokens`, for the
Column builders below.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..session import barrier, spread
from .tokenize import WORD, regex, shingles_arrow, split_expr, split_words, words_arrow

__all__ = [
    "token_count",
    "word_tokens",
    "quality_score",
    "language_id",
    "doc_fingerprint",
    "vocabulary",
    "text_stats",
    "gopher_quality",
    "repetition_stats",
    "REPETITION_THRESHOLDS",
    "ngram_contamination",
    "tfidf_topk",
    "bm25_scores",
]

# Tiny per-language stopword marker sets for the n-gram/stopword
# language heuristic (public common-word lists).
_LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "with", "for", "it"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit", "den", "zu"],
    "fr": ["le", "la", "les", "et", "des", "est", "une", "dans", "que", "pour"],
    "es": ["el", "la", "los", "las", "es", "una", "para", "que", "con", "por"],
}


def word_tokens(text: Column, charset: str = "ascii") -> Column:
    """Whitespace+punctuation tokenizer (array<string>, lower-cased):
    the JVM form of the :data:`~.tokenize.WORD` split. Kept for the
    Column builders that need a JVM column — :func:`token_count`,
    :func:`quality_score`, :func:`language_id` and
    :func:`bm25_scores`' many-term path — and for ``charset="unicode"``
    (multilingual corpora; use the matching class in any oracle)."""
    return split_expr(text, WORD, charset)


def token_count(text: Column, mode: str = "whitespace") -> Column:
    """Token counting: 'whitespace' = word split; 'bpe_ish' = a regex
    approximating BPE segmentation (contiguous letters / digits /
    punctuation runs, like GPT-2's pre-tokenizer)."""
    if mode == "whitespace":
        return F.size(word_tokens(text))
    if mode == "bpe_ish":
        pieces = F.filter(
            F.split(text, r"(?=[^\p{L}\p{N}])|(?<=[^\p{L}\p{N}])"),
            lambda p: (p != "") & (p != " "),
        )
        return F.size(pieces)
    raise ValueError(mode)


def quality_score(text: Column) -> Column:
    """Heuristic quality in [0,1]: blend of length, punctuation ratio,
    stopword ratio, mean word length sanity (C4/Gopher-style rules)."""
    return _quality_from_words(word_tokens(text), text)


def _quality_from_words(words: Column, text: Column) -> Column:
    """quality_score body over an already-tokenized words column —
    lets text_stats bind ONE (Arrow) tokenize for all word metrics."""
    n_words = F.size(words)
    n_chars = F.length(text)
    punct = F.length(F.regexp_replace(text, r"[^.!?,;:]", ""))
    stop = F.array(*[F.lit(w) for w in _LANG_MARKERS["en"]])
    n_stop = F.size(F.array_intersect(F.array_distinct(words), stop))
    mean_wlen = F.when(n_words > 0, n_chars.cast("double") / n_words).otherwise(0.0)
    len_ok = F.when((n_words >= 5) & (n_words <= 100000), 1.0).otherwise(0.0)
    wlen_ok = F.when((mean_wlen >= 3.0) & (mean_wlen <= 12.0), 1.0).otherwise(0.0)
    punct_ratio = F.when(n_chars > 0, punct.cast("double") / n_chars).otherwise(0.0)
    punct_ok = F.when(punct_ratio <= 0.2, 1.0).otherwise(0.0)
    stop_ok = F.when(n_stop >= 2, 1.0).otherwise(F.when(n_stop >= 1, 0.5).otherwise(0.0))
    return (len_ok + wlen_ok + punct_ok + stop_ok) / F.lit(4.0)


def language_id(text: Column) -> Column:
    """Stopword-overlap language heuristic: argmax over marker-set hits;
    'und' (undetermined) when nothing matches. One pass, pure arrays."""
    return _language_from_words(word_tokens(text))


def _language_from_words(tokens: Column) -> Column:
    """language_id body over an already-tokenized column."""
    words = F.array_distinct(tokens)
    scores = []
    for lang, markers in _LANG_MARKERS.items():
        m = F.array(*[F.lit(w) for w in markers])
        scores.append(
            F.struct(
                F.size(F.array_intersect(words, m)).alias("hits"),
                F.lit(lang).alias("lang"),
            )
        )
    best = F.greatest(*scores)  # struct compare: hits first, lang tiebreak
    return F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))


def doc_fingerprint(text: Column, normalize: bool = True) -> Column:
    """64-bit rolling/content fingerprint of normalized text — the
    cheap exact-dup key (xxhash64 over whitespace-normalized, lowered
    content)."""
    t = text
    if normalize:
        t = F.lower(F.trim(F.regexp_replace(t, r"\s+", " ")))
    return F.xxhash64(t)


def vocabulary(
    df: DataFrame, text_col: str, min_df: int = 2, max_size: int = 100000
) -> DataFrame:
    """Corpus vocabulary with document-frequency floor and size cap —
    the reference's textmining::Vocabulary (min document frequency +
    max size, Vocabulary.hpp:31-46). explode → two hash aggs; ordered
    by (df desc, word asc) for determinism."""
    words = spread(df).select(
        F.explode(F.array_distinct(words_arrow(F.col(text_col)))).alias("word")
    )
    return (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .where(F.col("doc_freq") >= min_df)
        .orderBy(F.desc("doc_freq"), F.asc("word"))
        .limit(max_size)
    )


def _let(arr: Column, body) -> Column:
    """Bind an array expression to a lambda variable so it is evaluated
    ONCE per row. Higher-order lambdas inline outer expressions into
    the per-element tree, and subexpression elimination does not always
    rescue the interpreted path (measured: the `[^a-z0-9']+` tokenizer
    re-split the document per shingle — 24x slower than this binding).
    """
    return F.element_at(F.transform(F.array(arr), body), 1)


# Gopher/MassiveText document-filter rules (Rae et al. 2021, §A1.1 —
# public paper). Required-stopword list from the paper.
_GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


# Rae et al. 2021 Table A1 thresholds — the single source of truth for
# both the engine and the contract oracle (imported by __spark_entry__)
REPETITION_THRESHOLDS = {
    2: 0.20, 3: 0.18, 4: 0.16,
    5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10,
}


def repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The Gopher repetition sub-table (Rae et al. 2021 Table A1) that
    :func:`gopher_quality`'s word-level rules don't cover: per document,

    - ``top_{2,3,4}gram_frac`` — fraction of the document's characters
      covered by occurrences of its single MOST FREQUENT word n-gram
      (the Gopher/DataTrove definition: argmax by occurrence count;
      count ties break deterministically toward the gram covering the
      most characters, then the lexicographically greatest gram),
      counted only when that n-gram occurs MORE THAN ONCE (a unique
      n-gram is not repetition — the guard the public DataTrove
      implementation of this filter applies; without it every
      shortish document trips the 4-gram threshold on its longest
      phrase). Thresholds 0.20 / 0.18 / 0.16;
    - ``dup_{5..10}gram_frac`` — fraction of characters covered by
      n-grams that occur more than once (0.15 / 0.14 / 0.13 / 0.12 /
      0.11 / 0.10);
    - ``keep_repetition`` — all nine thresholds pass.

    Characters are counted over the whitespace-normalized token join.
    Occurrences are counted WITH overlap (count × n-gram length), an
    upper bound on the paper's deduplicated character spans — the bound
    only errs toward filtering MORE repetitive documents, and fractions
    can exceed 1 on degenerate repetition. Like the paper, apply AFTER
    the length filter: on very short documents even a once-occurring
    n-gram is a large character fraction. NULL text yields NULL
    fractions and ``keep_repetition`` False (as :func:`gopher_quality`'s
    ``keep``).
    Scale shape: ONE explode over (n, position) → one (id, n, gram)
    count agg → one (id, n) roll-up → one per-id assembly; fractions
    are exact-integer quotients quantized at 6 decimals, so the whole
    table is reproducible cross-engine.
    """
    thresholds = REPETITION_THRESHOLDS
    df = spread(df)
    # tokenize INSIDE the gram kernel (guide §4.2): the old shape ran
    # the interpreted JVM split+filter, then shipped the token arrays
    # through Arrow into the kernel — the C-regex split in the same
    # Python pass produces identical tokens (ASCII contract, see
    # .tokenize) with one less pass and no array transfer
    base = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__txt"))
    # Per-doc gram counting is DOC-LOCAL: the previous shape exploded
    # one (id, n, gram) STRING row per position for all nine n (~9 x
    # n_words rows per doc) and shuffled them twice (count agg + per-n
    # roll-up) — at sf1.0 a ~20M-row string shuffle measured ~16 s.
    # An Arrow-batched kernel computes the identical integers with
    # ZERO shuffles: exact Counter counts per gram string, dup =
    # Σ c·len(gram) over c>=2, top = cov of max (c, cov, gram) —
    # the same lexicographic tie-break (ASCII grams: Python string
    # order == Spark UTF8 binary order). Missing n (doc shorter than
    # n) stays 0, matching the old coalesce(left-join) path.
    import pandas as pd

    ns = list(thresholds)
    fields = ", ".join(
        [f"id {df.schema[id_col].dataType.simpleString()}", "__chars long"]
        + [f"__v{n} long" for n in ns]
    )

    rx = regex(WORD)

    def _gram_kernel(batches):
        from collections import Counter

        for pdf in batches:
            rows = {"id": pdf["id"]}
            chars = []
            vals = {n: [] for n in ns}
            for txt in pdf["__txt"]:
                if txt is None:
                    chars.append(None)
                    for n in ns:
                        vals[n].append(None)
                    continue
                wl = split_words(txt, rx)
                chars.append(len(" ".join(wl)))
                W = len(wl)
                for n in ns:
                    if W < n:
                        vals[n].append(0)
                        continue
                    cnt = Counter(
                        " ".join(wl[i : i + n]) for i in range(W - n + 1)
                    )
                    dup = 0
                    best = None
                    for g, c in cnt.items():
                        if c >= 2:
                            cov = c * len(g)
                            dup += cov
                            key = (c, cov, g)
                            if best is None or key > best:
                                best = key
                    if n <= 4:
                        # top gram's coverage (argmax by count, ties by
                        # covered chars then gram string)
                        vals[n].append(best[1] if best else 0)
                    else:
                        vals[n].append(dup)
            rows["__chars"] = pd.array(chars, dtype="Int64")
            for n in ns:
                rows[f"__v{n}"] = pd.array(vals[n], dtype="Int64")
            yield pd.DataFrame(rows)

    stats = base.mapInPandas(_gram_kernel, fields)

    def frac(c):
        chars = F.col("__chars")
        # no otherwise(): NULL text (NULL __chars) stays NULL
        x = F.when(chars > 0, c.cast("double") / chars).when(
            chars == 0, F.lit(0.0)
        )
        # IEEE-pure 6-decimal rounding (identical cross-engine)
        return F.floor(x * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)

    names = {
        n: (f"top_{n}gram_frac" if n <= 4 else f"dup_{n}gram_frac")
        for n in ns
    }
    keep = None
    for n, thr in thresholds.items():
        ok = frac(F.col(f"__v{n}")) <= F.lit(thr)
        keep = ok if keep is None else (keep & ok)
    return stats.select(
        F.col("id").alias(id_col),
        *[frac(F.col(f"__v{n}")).alias(names[n]) for n in ns],
        F.coalesce(keep, F.lit(False)).alias("keep_repetition"),
    )


def gopher_quality(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_words: int = 50,
    max_words: int = 100000,
    min_stop_hits: int = 2,
) -> DataFrame:
    """Gopher-style repetition/quality document filter: one row per doc
    with the rule metrics and the final ``keep`` verdict. Pure map —
    every metric is a JVM array/string expression, no shuffle, no
    Python. Rules (Rae et al. 2021 §A1.1):

    - word count in [min_words, max_words]
    - mean word length in [3, 10]
    - symbol-to-word ratio (# and '...') <= 0.1
    - < 90% of lines bullet-started; <= 30% ellipsis-ended
    - >= 80% of words contain an alphabetic character
    - >= ``min_stop_hits`` of the 8 required stopwords (paper: 2)
    - duplicate-line fraction <= 0.30
    """
    df = spread(df)
    t = F.col(text_col)
    words = words_arrow(t)  # Arrow tokenizer, guide §4.2 (5x)
    lines = F.filter(
        F.transform(F.split(t, "\n"), lambda x: F.trim(x)), lambda x: x != ""
    )

    # Bind the tokenized words / lines ONCE per row via the _let idiom
    # and emit each family of metrics as one struct: the flat form
    # referenced `words` from ~10 separate output expressions and the
    # interpreted tokenizer re-split the document for each (the CSE
    # miss _let documents; measured 7.0 s -> 2.8 s at sf1.0, outputs
    # bit-identical). Struct-field accesses below share the one bound
    # evaluation through projection subexpression elimination.
    def _word_metrics(w):
        n_words = F.size(w).cast("long")
        # Σ word length via one concat — avoids a per-word aggregate
        char_sum = F.length(F.array_join(w, "")).cast("long")
        mean_wlen = F.when(
            n_words > 0, char_sum.cast("double") / n_words
        ).otherwise(0.0)
        n_hash = F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))
        n_ellipsis = (
            F.length(t) - F.length(F.replace(t, F.lit("..."), F.lit("")))
        ) / F.lit(3)
        symbol_ratio = F.when(
            n_words > 0, (n_hash + n_ellipsis).cast("double") / n_words
        ).otherwise(0.0)
        alpha_frac = F.when(
            n_words > 0,
            F.size(F.filter(w, lambda x: x.rlike("[a-z]"))).cast("double")
            / n_words,
        ).otherwise(0.0)
        stop = F.array(*[F.lit(x) for x in _GOPHER_STOPWORDS])
        stop_hits = F.size(
            F.array_intersect(F.array_distinct(w), stop)
        ).cast("long")
        return F.struct(
            n_words.alias("n_words"),
            mean_wlen.alias("mean_word_len"),
            symbol_ratio.alias("symbol_ratio"),
            alpha_frac.alias("alpha_frac"),
            stop_hits.alias("stop_hits"),
        )

    def _line_metrics(l):
        n_lines = F.size(l).cast("long")
        bullet_frac = F.when(
            n_lines > 0,
            F.size(
                F.filter(
                    l,
                    lambda x: x.startswith("-")
                    | x.startswith("*")
                    | x.startswith("•"),
                )
            ).cast("double")
            / n_lines,
        ).otherwise(0.0)
        ellipsis_frac = F.when(
            n_lines > 0,
            F.size(F.filter(l, lambda x: x.endswith("..."))).cast("double")
            / n_lines,
        ).otherwise(0.0)
        dup_line_frac = F.when(
            n_lines > 0,
            1.0 - F.size(F.array_distinct(l)).cast("double") / n_lines,
        ).otherwise(0.0)
        return F.struct(
            n_lines.alias("n_lines"),
            bullet_frac.alias("bullet_frac"),
            ellipsis_frac.alias("ellipsis_frac"),
            dup_line_frac.alias("dup_line_frac"),
        )

    mid = df.select(
        F.col(id_col),
        _let(words, _word_metrics).alias("__wm"),
        _let(lines, _line_metrics).alias("__lm"),
    )
    w_, l_ = F.col("__wm"), F.col("__lm")
    keep = (
        (w_["n_words"] >= min_words)
        & (w_["n_words"] <= max_words)
        & (w_["mean_word_len"] >= 3.0)
        & (w_["mean_word_len"] <= 10.0)
        & (w_["symbol_ratio"] <= 0.1)
        & (l_["bullet_frac"] < 0.9)
        & (l_["ellipsis_frac"] <= 0.3)
        & (w_["alpha_frac"] >= 0.8)
        & (w_["stop_hits"] >= min_stop_hits)
        & (l_["dup_line_frac"] <= 0.3)
    )
    return mid.select(
        F.col(id_col),
        w_["n_words"].alias("n_words"),
        w_["mean_word_len"].alias("mean_word_len"),
        w_["symbol_ratio"].alias("symbol_ratio"),
        w_["alpha_frac"].alias("alpha_frac"),
        w_["stop_hits"].alias("stop_hits"),
        l_["n_lines"].alias("n_lines"),
        l_["bullet_frac"].alias("bullet_frac"),
        l_["ellipsis_frac"].alias("ellipsis_frac"),
        l_["dup_line_frac"].alias("dup_line_frac"),
        keep.alias("keep"),
    )


def ngram_contamination(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 5,
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing any
    word n-gram with a benchmark set (the n-gram-overlap decontamination
    LLM training pipelines run against eval sets; 13-grams in GPT-3's
    appendix — public).

    Scale shape: the benchmark shingle set is tiny relative to the
    corpus, so it is deduplicated and **broadcast** — the corpus-side
    explode joins with zero shuffle of corpus data; per-doc counts then
    aggregate on ``id_col``. Returns one row per input doc:
    (id, n_shingles, n_contaminated, contaminated).
    """
    df = spread(df)
    benchmark = spread(benchmark)

    def shingle_expr() -> Column:
        # tokenize + slide + join + distinct in ONE Arrow kernel (guide
        # §4.2): the JVM transform/slice/array_join slide is interpreted
        # and was the remaining cost after the tokenizer moved to Arrow.
        # WORD split, no shingle when the doc has < n words.
        return shingles_arrow(F.col(text_col), n, WORD, short_doc=False)

    def shingles(frame: DataFrame, keep_id: bool) -> DataFrame:
        cols = [F.col(id_col)] if keep_id else []
        return frame.select(*cols, F.explode(shingle_expr()).alias("__sh"))

    bench_set = shingles(benchmark, keep_id=False).distinct()
    # ONE shingle pass over the corpus: the previous shape ran the
    # (interpreted) shingle pipeline twice — once exploded for the
    # semi-join hits and once for n_shingles — and joined the results
    # back. explode_outer carries n_shingles alongside each shingle, a
    # left join against the broadcast benchmark marks hits, and the
    # per-doc aggregation ships only (id, n_shingles, hit) rows that
    # partial aggregation collapses map-side (each doc lives in one
    # partition, so ~one row per doc crosses the shuffle).
    exploded = df.select(
        F.col(id_col), F.explode_outer(shingle_expr()).alias("__sh")
    )
    marked = exploded.join(
        F.broadcast(bench_set.withColumn("__hit", F.lit(1))), "__sh", "left"
    ).select(id_col, "__sh", "__hit")
    # n_shingles == count of exploded shingles (the array is already
    # distinct; explode_outer's NULL row for an empty array is skipped
    # by count), so the same aggregation yields both outputs
    n_cont = F.coalesce(F.sum("__hit"), F.lit(0)).cast("long")
    return (
        marked.groupBy(id_col)
        .agg(
            F.count("__sh").cast("long").alias("n_shingles"),
            n_cont.alias("n_contaminated"),
        )
        .select(
            id_col,
            "n_shingles",
            "n_contaminated",
            (F.col("n_contaminated") > 0).alias("contaminated"),
        )
    )


def tfidf_topk(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    min_df: int = 1,
) -> DataFrame:
    """Top-``k`` terms per document by smoothed tf-idf — the textmining
    feature the reference's per-column WordIndex + Vocabulary feed
    (textmining/WordIndex.hpp, Vocabulary.hpp:31-46), finished into the
    classic ranking LLM-corpus tooling uses for keyword extraction.

    tf = in-document term count; idf = ln((N+1)/(df+1)) + 1 (sklearn's
    smooth form, public). Deterministic tiebreak (tfidf desc, term asc).

    Scale shape: two hash aggregations (doc-term counts, term document
    frequencies) + one broadcast of the single-row corpus count + one
    per-doc window for the top-k — no driver actions, no UDFs.
    """
    df = spread(df)
    words = df.select(
        F.col(id_col), F.explode(words_arrow(F.col(text_col))).alias("term")
    )
    # tf feeds BOTH the document-frequency aggregation (a broadcast
    # subquery) and the scoring join, and the branches share no subtree —
    # without a barrier each consumer re-runs the tokenize + explode +
    # (id, term) aggregation (plan-audited; the optimization guide's
    # duplicated-subtree trap). One slim checkpoint = one corpus pass.
    tf = barrier(
        words.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf")),
        eager=True,
    )
    dfreq = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") >= min_df)
    )
    n_docs = df.select(F.count(F.lit(1)).alias("__n"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            id_col,
            "term",
            (
                F.col("tf").cast("double")
                * (
                    F.log(
                        (F.col("__n") + 1).cast("double")
                        / (F.col("df") + 1).cast("double")
                    )
                    + F.lit(1.0)
                )
            ).alias("tfidf"),
        )
    )
    # Top-k as one hash aggregation instead of a row_number window: the
    # window sorted every (doc, term) row per partition; collect_list +
    # sort_array per doc sorts only each doc's ~tens of terms, and the
    # explicit broadcast of dfreq keeps the scoring join shuffle-free
    # (aggregate-output size estimates are too big for auto-broadcast).
    # sort_array asc on struct(-tfidf, term) == (tfidf desc, term asc)
    # — IEEE negation is exact, so ranks match row_number bit-for-bit.
    st = F.struct(
        F.negate(F.col("tfidf")).alias("ntf"), F.col("term"), F.col("tfidf")
    )
    return (
        scored.groupBy(id_col)
        .agg(F.slice(F.sort_array(F.collect_list(st)), 1, k).alias("__top"))
        .select(id_col, F.posexplode("__top").alias("__r0", "__t"))
        .select(
            id_col,
            F.col("__t.term").alias("term"),
            F.col("__t.tfidf").alias("tfidf"),
            (F.col("__r0") + 1).cast("int").alias("rank"),
        )
    )


def text_stats(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-document stat battery, ONE Arrow tokenize bound for all three
    word metrics (the old form ran the JVM tokenizer 3x — token_count,
    quality, language). The narrow-input spread that REGRESSED the pure
    JVM-pipelined form now pays for itself: the Arrow stage needs the
    partitions to parallelize (measured 4.8 s single-partition vs 0.9 s
    spread at sf1-shape; no-op on multi-file inputs at scale)."""
    df = spread(df)
    t = F.col(text_col)
    stats = _let(
        words_arrow(t),
        lambda w: F.struct(
            F.size(w).alias("n_words"),
            _quality_from_words(w, t).alias("quality"),
            _language_from_words(w).alias("lang_pred"),
        ),
    )
    return df.select(F.col(id_col), stats.alias("__s"), t.alias("__t")).select(
        F.col(id_col),
        F.col("__s.n_words").alias("n_words"),
        F.length("__t").alias("n_chars"),
        F.col("__s.quality").alias("quality"),
        F.col("__s.lang_pred").alias("lang_pred"),
        doc_fingerprint(F.col("__t")).alias("fingerprint"),
    )


def bm25_scores(
    df: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 document scores for a fixed query (Robertson/Lucene
    idf form: ln(1 + (N - df + 0.5)/(df + 0.5))) — the retrieval-side
    ranking that completes :func:`tfidf_topk`'s keyword extraction.

    Returns (id, score_micro) for every document containing >= 1 query
    term. Per-(doc, term) contributions are quantized to micro-units
    (``floor(x*1e6+0.5)`` longs) BEFORE the cross-term sum, so the
    result is an exact integer — order-independent across engines and
    partitionings (the lm_perplexity discipline).

    Scale shape: tokenize → filter to the (broadcast-literal) query
    terms BEFORE any shuffle, so only matching (id, term) rows move;
    one (id, term) hash agg; term document-frequencies and the single
    (N, Σdl) row broadcast back. No windows, no driver collects, no
    UDFs.
    """
    terms = sorted({t.lower() for t in query_terms})
    if not terms:
        raise ValueError("query_terms must be non-empty")
    if len(terms) <= 16:
        # small fixed query: ONE tokenize pass, zero joins/shuffles of
        # corpus rows (optimization guide §2.3/§2.4). Per-term tf comes
        # from in-array counting (F.filter size) in the same projection
        # that computes dl — the token array binds once via _let. The
        # slim (id, dl, tf...) frame checkpoints once; corpus stats and
        # per-term document frequencies fall out of ONE global
        # aggregation broadcast back as a single row. Arithmetic is
        # expression-identical to the explode path (same idf/denom/
        # micro-quantization), so scores match bitwise; terms with tf=0
        # contribute an exact 0 to the integer sum, equal to the explode
        # path's absent rows.
        idx = range(len(terms))
        row = _let(
            words_arrow(F.col(text_col)),
            lambda w: F.struct(
                F.size(w).alias("dl"),
                *[
                    F.size(
                        F.filter(w, lambda x: x == F.lit(t))
                    ).alias(f"tf{i}")
                    for i, t in enumerate(terms)
                ],
            ),
        )
        base = barrier(
            spread(df)
            .select(F.col(id_col).alias("id"), row.alias("__s"))
            .select(
                "id",
                F.col("__s.dl").cast("long").alias("__dl"),
                *[F.col(f"__s.tf{i}").alias(f"__tf{i}") for i in idx],
            ),
            eager=True,
        )
        stats = base.agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum("__dl").alias("__sumdl"),
            *[
                F.sum((F.col(f"__tf{i}") > 0).cast("long")).alias(f"__df{i}")
                for i in idx
            ],
        )
        nd = F.col("__n").cast("double")
        avgdl = F.col("__sumdl").cast("double") / nd
        total = None
        for i in idx:
            dfd = F.col(f"__df{i}").cast("double")
            idf = F.log(
                F.lit(1.0) + (nd - dfd + F.lit(0.5)) / (dfd + F.lit(0.5))
            )
            tfd = F.col(f"__tf{i}").cast("double")
            denom = tfd + F.lit(k1) * (
                F.lit(1.0 - b) + F.lit(b) * F.col("__dl").cast("double") / avgdl
            )
            s = idf * (tfd * F.lit(k1 + 1.0)) / denom
            m = F.when(
                F.col(f"__tf{i}") > 0,
                F.floor(s * F.lit(1e6) + F.lit(0.5)).cast("long"),
            ).otherwise(F.lit(0).cast("long"))
            total = m if total is None else total + m
        any_hit = None
        for i in idx:
            h = F.col(f"__tf{i}") > 0
            any_hit = h if any_hit is None else any_hit | h
        return (
            base.where(any_hit)
            .crossJoin(F.broadcast(stats))
            .select(F.col("id").alias(id_col), total.alias("score_micro"))
        )
    # large/unbounded term sets: the explode + shuffle path below.
    # No narrow-input spread here (measured 6.0 s -> 8.5 s with it): the
    # term filter prunes almost everything right at the scan, and both
    # tokenize passes stop at slim checkpoints — the extra exchange of
    # full text cost more than the single-task tokenize it parallelized
    base = df.select(
        F.col(id_col).alias("id"), word_tokens(F.col(text_col)).alias("__w")
    )
    # dl is consumed three times (corpus stats, the per-doc join, and
    # lineage under stats) and self-joins share no subtrees — checkpoint
    # the SLIM (id, long) frame once so the corpus tokenizes exactly
    # twice (dl pass + term pass), never per consumer. The token arrays
    # themselves are never materialized.
    dl = barrier(
        base.select("id", F.size("__w").cast("long").alias("__dl")), eager=True
    )
    stats = dl.agg(
        F.count(F.lit(1)).alias("__n"), F.sum("__dl").alias("__sumdl")
    )
    words = base.select("id", F.explode("__w").alias("term")).where(
        F.col("term").isin(terms)
    )
    # tf feeds both the document-frequency agg and the scoring join;
    # without a barrier each consumer re-runs the tokenize+explode scan
    # (plan-audited). The frame is tiny: <= len(terms) rows per doc.
    tf = barrier(
        words.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf")), eager=True
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, "id")
        .crossJoin(F.broadcast(stats))
    )
    nd = F.col("__n").cast("double")
    avgdl = F.col("__sumdl").cast("double") / nd
    idf = F.log(
        F.lit(1.0)
        + (nd - F.col("df").cast("double") + F.lit(0.5))
        / (F.col("df").cast("double") + F.lit(0.5))
    )
    tfd = F.col("tf").cast("double")
    denom = tfd + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("__dl").cast("double") / avgdl
    )
    s = idf * (tfd * F.lit(k1 + 1.0)) / denom
    micro = F.floor(s * F.lit(1e6) + F.lit(0.5)).cast("long")
    return (
        scored.select("id", micro.alias("__m"))
        .groupBy("id")
        .agg(F.sum("__m").alias("score_micro"))
        .select(F.col("id").alias(id_col), "score_micro")
    )
