"""Byte-pair-encoding tokenizer training and application (Sennrich et
al. 2016, arXiv:1508.07909) — the step that PRODUCES the ``tokens
array<int>`` payload every other token-axis operator consumes.

Distributed shape (the standard industrial split, e.g. HF tokenizers):
the corpus is scanned ONCE for a word-frequency table; that table is
bounded by VOCABULARY size, not corpus size (Heaps' law — and a hard
``max_words`` cap enforces the bound), so it collects to the driver
where the merge loop runs on (word, count) pairs — pure python over at
most ``max_words`` entries, never over the corpus. Applying the
trained merges is a broadcast of the (small) merge ranks into an
Arrow-batched pandas UDF with a per-task word cache: each DISTINCT
word is segmented once per task regardless of how often it repeats.

Determinism: merge selection breaks count ties lexicographically on
the pair, so the same corpus always yields the same merge table — the
property every reproducible-data-pipeline invariant here relies on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .tokenize import arrow_udf, words_arrow

__all__ = ["train_bpe", "apply_bpe", "apply_bpe_ids", "bpe_vocab", "bpe_segment_word"]

_EOW = "</w>"


def _pair_stats(words: dict[tuple, int]):
    from collections import Counter, defaultdict

    stats: Counter = Counter()
    index: defaultdict = defaultdict(set)  # pair -> words containing it
    for w, c in words.items():
        for a, b in zip(w, w[1:]):
            stats[(a, b)] += c
            index[(a, b)].add(w)
    return stats, index


def _merge_word(w: tuple, pair: tuple) -> tuple:
    out = []
    i = 0
    while i < len(w):
        if i < len(w) - 1 and (w[i], w[i + 1]) == pair:
            out.append(w[i] + w[i + 1])
            i += 2
        else:
            out.append(w[i])
            i += 1
    return tuple(out)


def train_bpe_from_counts(
    word_counts: dict[str, int], num_merges: int
) -> list[tuple[str, str]]:
    """The driver-side merge loop on a bounded word-frequency table:
    repeatedly merge the most frequent adjacent symbol pair (ties →
    lexicographically smallest pair). Incremental pair-stat updates
    (only words containing the merged pair are re-counted) keep it
    O(num_merges * touched-words), the classic efficient form."""
    words = {
        tuple(list(w) + [_EOW]): c for w, c in word_counts.items() if w
    }
    stats, index = _pair_stats(words)
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        if not stats:
            break
        best = min(stats.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        if stats[best] <= 0:
            break
        merges.append(best)
        touched = list(index.get(best, ()))
        for w in touched:
            c = words.pop(w, None)
            if c is None:
                continue
            # retire w's pair contributions
            for p in zip(w, w[1:]):
                stats[p] -= c
                if stats[p] <= 0:
                    del stats[p]
                index[p].discard(w)
            nw = _merge_word(w, best)
            words[nw] = words.get(nw, 0) + c
            for p in zip(nw, nw[1:]):
                stats[p] = stats.get(p, 0) + c
                index[p].add(nw)
    return merges


def bpe_segment_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Segment one word with a trained merge-rank table (the GPT-2
    ``bpe()`` shape: repeatedly apply the lowest-rank adjacent pair)."""
    if not word:
        return []
    w = list(word) + [_EOW]
    while len(w) > 1:
        pairs = [(ranks.get((a, b), float("inf")), i) for i, (a, b) in enumerate(zip(w, w[1:]))]
        r, i = min(pairs)
        if r == float("inf"):
            break
        # merge ALL occurrences of that exact pair left-to-right (same
        # result as one-at-a-time since ranks are static)
        pair = (w[i], w[i + 1])
        w = list(_merge_word(tuple(w), pair))
    return w


def train_bpe(
    df: DataFrame,
    num_merges: int,
    text_col: str = "text",
    max_words: int = 100_000,
) -> list[tuple[str, str]]:
    """Train BPE merges over a corpus: ONE distributed word-count scan
    (the package's :data:`~.tokenize.WORD` split, the one
    :func:`apply_bpe` uses), the top-``max_words`` words by (count
    desc, word asc) collected to the driver — a BOUNDED collect, cap
    enforced — then the merge loop on that table. Returns the ordered
    merge list."""
    counts = (
        df.select(F.explode(words_arrow(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("w"))
        .limit(max_words)
        .collect()
    )
    return train_bpe_from_counts({r["w"]: r["c"] for r in counts}, num_merges)


def _bpe_udf(merges: list[tuple[str, str]], encode, return_type: str):
    """Arrow tokenizer UDF mapping each word to ``encode(pieces)``. The
    per-word cache lives in the kernel, so each task segments each
    DISTINCT word once regardless of how often it repeats."""
    ranks = {tuple(p): i for i, p in enumerate(merges)}
    cache: dict = {}

    def seg(words):
        out = []
        for w in words:
            got = cache.get(w)
            if got is None:
                got = cache[w] = encode(bpe_segment_word(w, ranks))
            out.extend(got)
        return out

    return arrow_udf(seg, return_type)


def apply_bpe(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    out_col: str = "pieces",
) -> DataFrame:
    """Tokenize ``text_col`` into BPE pieces (array<string>) with the
    trained merges. The merge-rank dict broadcasts inside an
    Arrow-batched pandas UDF; a per-task cache segments each distinct
    word once. Map-only — zero shuffles; at 10^12 rows this pipelines
    with the scan like every other map-side curation pass."""
    udf = _bpe_udf(merges, lambda pieces: pieces, "array<string>")
    return df.withColumn(out_col, udf(F.col(text_col)))


def bpe_vocab(merges: list[tuple[str, str]]) -> dict[str, int]:
    """Deterministic piece→id table for a trained merge list: base
    symbols (the merges' constituent characters + the end-of-word
    marker) in sorted order, then one new symbol per merge in merge
    order — the id space every apply_bpe(ids=True) run shares."""
    base = {_EOW}
    for a, b in merges:
        for s in (a, b):
            if len(s) == 1:
                base.add(s)
    vocab = {s: i for i, s in enumerate(sorted(base))}
    for a, b in merges:
        piece = a + b
        if piece not in vocab:
            vocab[piece] = len(vocab)
    return vocab


def apply_bpe_ids(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    out_col: str = "tokens",
    unk_id: int = -1,
) -> DataFrame:
    """Tokenize straight to ``array<int>`` token ids (the input_hint
    payload) using :func:`bpe_vocab`'s deterministic id table; pieces
    outside the vocab (characters never seen in any merge — possible on
    unseen text) map to ``unk_id``. Same map-only Arrow-batched shape
    as :func:`apply_bpe`."""
    vocab = bpe_vocab(merges)
    udf = _bpe_udf(
        merges, lambda pieces: [vocab.get(p, unk_id) for p in pieces], "array<int>"
    )
    return df.withColumn(out_col, udf(F.col(text_col)))
