"""The one owner of the tokenization rule every text operator shares.

The reference splits every text column with one splitter
(TextFieldSplitter feeding textmining::Vocabulary / WordIndex, SURVEY
§1.1, §2); this module is that splitter. The rule: lower-case, split on
a pinned character class, drop empty pieces. Two ASCII classes, both
pinned by the DuckDB oracle SQL (a Unicode class on one side only would
silently diverge on any non-ASCII letter):

- :data:`WORD` — word tokens: text stats, quality, BPE, the bigram LM,
  repetition grams, contamination shingles;
- :data:`SHINGLE` — dedup shingles, simhash and md5 token ids.

Each class has a ``\\p{L}\\p{N}`` JVM form for multilingual corpora
(``charset="unicode"``); Python ``re`` has no exact analogue, so the
Arrow forms are ASCII-only.

Two forms of the one split:

- :func:`split_expr` — the JVM expression (split + empty filter, an
  interpreted higher-order function). Kept only where a caller needs a
  JVM column; see its docstring for the callers.
- :func:`arrow_udf` — the Arrow boundary: a pandas UDF that splits each
  document with :func:`split_words` (C regex) and applies a
  per-document kernel; tokens never cross the boundary as rows.
  Byte-identical to the JVM form on ASCII input (Python ``str.lower``
  equals JVM ``lower`` on ASCII; the contract corpus is ASCII).

NULL contract, every form: NULL text gives NULL. Empty text, or text
with no word, gives the kernel's value on an empty word list.
"""

from __future__ import annotations

import hashlib
import re

from pyspark.sql import Column, functions as F

__all__ = [
    "WORD",
    "SHINGLE",
    "split_expr",
    "split_words",
    "regex",
    "arrow_udf",
    "words_arrow",
    "shingles_arrow",
    "md5_60",
    "md5_token_ids_arrow",
]

WORD = r"[^a-z0-9']+"
SHINGLE = r"[^a-z0-9]+"
_UNICODE = {WORD: r"[^\p{L}\p{N}']+", SHINGLE: r"[^\p{L}\p{N}]+"}


def split_expr(text: Column, cls: str = WORD, charset: str = "ascii") -> Column:
    """JVM word list (array<string>): lower, split on ``cls``, drop
    empties. Callers that need the JVM form:

    - ``textstats.word_tokens``, the Column builder behind
      ``token_count``, ``quality_score``, ``language_id`` and
      ``bm25_scores``' many-term path; also the ``charset="unicode"``
      route;
    - ``dedup.shingles`` and ``dedup.simhash(token_hash="xxhash64")``,
      whose word lists feed a pandas-UDF argument (see ``shingles`` for
      the PythonUDF-extraction failure an Arrow argument risks);
    - ``preprocessors.split_text_fields`` (unicode charset);
    - the contract file's ``q_simhash_pairs`` (a row filter) and
      ``_md5_tokens_expr`` (``q_token_chunks``' token ids, where the
      Arrow form measured slower).
    """
    pattern = {"ascii": cls, "unicode": _UNICODE[cls]}[charset]
    return F.filter(F.split(F.lower(text), pattern), lambda w: w != "")


def regex(cls: str = WORD) -> re.Pattern:
    """Compiled ``cls`` for :func:`split_words`."""
    return re.compile(cls)


def split_words(text: str, rx: re.Pattern) -> list[str]:
    """Python word list: :func:`split_expr`'s rule on one ASCII string."""
    return [t for t in rx.split(text.lower()) if t]


_UDFS: dict = {}


def arrow_udf(kernel, return_type: str, cls: str = WORD, key=None):
    """Pandas UDF text → ``kernel(words)`` per document (NULL text →
    NULL), marked non-deterministic so the optimizer neither duplicates
    it under pushed-down filters nor re-evaluates it per consumer
    expression (optimization guide §4.4).

    With a hashable ``key`` the UDF is built once per process and
    reused; pass ``key=None`` for a kernel that closes over per-call
    state (BPE's merge table and word cache).
    """
    ck = None if key is None else (key, return_type, cls)
    udf = _UDFS.get(ck)
    if udf is None:
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        rx = regex(cls)

        def _apply(s):
            return pd.Series(
                [None if x is None else kernel(split_words(x, rx)) for x in s],
                dtype=object,
            )

        # real annotations: the module's `from __future__ import
        # annotations` would stringify inline hints, which pandas_udf
        # cannot resolve
        _apply.__annotations__ = {"s": pd.Series, "return": pd.Series}
        udf = pandas_udf(_apply, return_type).asNondeterministic()
        if ck is not None:
            _UDFS[ck] = udf
    return udf


def _words(words: list[str]) -> list[str]:
    return words


def words_arrow(text: Column, cls: str = WORD) -> Column:
    """Arrow :func:`split_expr` (array<string>) — measured 5x faster
    than the interpreted JVM split + filter pair at sf1-shape."""
    return arrow_udf(_words, "array<string>", cls, key="words")(text)


def _shingle_set(words: list[str], n: int, short_doc: bool) -> list[str]:
    k = len(words) - n + 1
    if k < 1:
        if not short_doc:
            return []
        k = 1
    return list(dict.fromkeys(" ".join(words[i : i + n]) for i in range(k)))


def shingles_arrow(
    text: Column, n: int = 5, cls: str = SHINGLE, short_doc: bool = True
) -> Column:
    """Distinct ' '-joined word ``n``-grams per document, in
    first-occurrence order (== the JVM ``array_distinct`` order). A
    document with fewer than ``n`` words yields its whole-document
    shingle (``short_doc=True``, the ``dedup.shingles`` rule) or no
    shingle (``short_doc=False``, the ``ngram_contamination`` rule).

    Only safe where the output lands in a materialized column or an
    explode: feeding it straight into another pandas UDF's argument
    risks the PythonUDF-extraction failure documented on
    ``dedup.shingles``.
    """
    return arrow_udf(
        lambda w: _shingle_set(w, n, short_doc),
        "array<string>",
        cls,
        key=("shingles", n, short_doc),
    )(text)


def md5_60(words: list[str]) -> list[int]:
    """Per-word md5-60 hash: the first 15 hex digits of md5 as an
    integer — reproducible in DuckDB SQL, unlike xxhash64."""
    md5 = hashlib.md5
    return [int(md5(w.encode()).hexdigest()[:15], 16) for w in words]


def _md5_ids(words: list[str]) -> list[int]:
    return [h % 65536 for h in md5_60(words)]


def md5_token_ids_arrow(text: Column) -> Column:
    """Token-id sequence (array<int>): md5-60 of each :data:`SHINGLE`
    word, mod a 65536 vocabulary. The contract testdata has no tokens
    column, so the token-axis queries derive one with this kernel; the
    operators themselves never touch text (production input is the
    pre-tokenized table)."""
    return arrow_udf(_md5_ids, "array<int>", SHINGLE, key="md5_ids")(text)
