"""operators/tokenize.py owns the word split: one NULL contract across
every tokenizer form and the pipelines built on them, byte-identical
JVM/Arrow twins, and a guard that keeps the split classes from being
copied back into other modules."""

from __future__ import annotations

import ast
import pathlib
import sys

import pytest
from pyspark.sql import functions as F

ROOT = pathlib.Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))
import __spark_entry__ as entrymod  # noqa: E402

_LONG = (
    "the quick brown fox jumps over the lazy dog while the old cat "
    "sleeps on the warm mat near the red barn and the farmer counts "
    "his sheep before the rain comes down over the hills"
)
# NULL, empty, fewer than n words, and two near-identical documents
NULL_DOCS = [
    (1, None),
    (2, ""),
    (3, "tiny doc"),
    (4, _LONG),
    (5, _LONG.replace("lazy", "sleepy")),
]


@pytest.fixture(scope="module")
def null_docs(spark):
    return spark.createDataFrame(NULL_DOCS, "doc_id long, text string")


def _by_id(frame, col):
    return {r["doc_id"]: r[col] for r in frame.collect()}


def _forms():
    """Every tokenizer form, JVM and Arrow: name -> text Column -> Column."""
    from getml_community_spark.operators import dedup, textstats, tokenize as tk

    return {
        "word_tokens": textstats.word_tokens,
        "split_expr[shingle]": lambda t: tk.split_expr(t, tk.SHINGLE),
        "words_arrow[word]": tk.words_arrow,
        "words_arrow[shingle]": lambda t: tk.words_arrow(t, tk.SHINGLE),
        "shingles": dedup.shingles,
        "shingles_arrow": tk.shingles_arrow,
        "shingles_arrow[contamination]": lambda t: tk.shingles_arrow(
            t, 5, tk.WORD, short_doc=False
        ),
        "md5_token_ids_arrow": tk.md5_token_ids_arrow,
        "md5_tokens_expr": entrymod._md5_tokens_expr,
        "simhash[xxhash64]": dedup.simhash,
        "simhash[md5_60]": lambda t: dedup.simhash(t, token_hash="md5_60"),
    }


def _bpe(kind):
    def run(df):
        from getml_community_spark.operators.bpe import apply_bpe, apply_bpe_ids

        merges = [("t", "h"), ("th", "e")]
        if kind == "pieces":
            return apply_bpe(df, merges, out_col="out")
        return apply_bpe_ids(df, merges, out_col="out")

    return run


def _check_pairs(token_hash=None):
    """simhash_pairs with ``token_hash``, else minhash_lsh_pairs."""

    def run(df):
        from getml_community_spark.operators import dedup

        if token_hash:
            pairs = dedup.simhash_pairs(
                df, "text", "doc_id", max_hamming=6, token_hash=token_hash
            ).collect()
            assert {(r["id_a"], r["id_b"]) for r in pairs} >= {(4, 5)}
        else:
            pairs = dedup.minhash_lsh_pairs(
                df, "text", "doc_id", max_bucket_size=None
            ).collect()
        assert all(1 not in (r["id_a"], r["id_b"]) for r in pairs), pairs

    return run


def _check_dedup(verify):
    def run(df):
        from getml_community_spark.operators.dedup import minhash_lsh_dedup

        kept = {
            r["doc_id"]
            for r in minhash_lsh_dedup(
                df, "text", "doc_id", threshold=0.5, verify=verify,
                max_bucket_size=None,
            ).collect()
        }
        # the NULL doc pairs with nothing, so neither it nor the empty
        # doc is dropped as the other's duplicate
        assert {1, 2, 3, 4} <= kept, kept

    return run


def _check_repetition(df):
    from getml_community_spark.operators.textstats import repetition_stats

    rows = {r["doc_id"]: r for r in repetition_stats(df).collect()}
    assert set(rows) == {1, 2, 3, 4, 5}
    null = rows[1].asDict()
    assert null.pop("keep_repetition") is False
    assert all(v is None for k, v in null.items() if k != "doc_id"), null
    assert rows[2]["top_2gram_frac"] == 0.0 and rows[2]["keep_repetition"]


PIPELINES = {
    "apply_bpe": _bpe("pieces"),
    "apply_bpe_ids": _bpe("ids"),
    "simhash_pairs[xxhash64]": _check_pairs("xxhash64"),
    "simhash_pairs[md5_60]": _check_pairs("md5_60"),
    "minhash_lsh_pairs": _check_pairs(),
    "minhash_lsh_dedup[verify]": _check_dedup(True),
    "minhash_lsh_dedup[estimate]": _check_dedup(False),
    "repetition_stats": _check_repetition,
}
FORM_NAMES = [
    "word_tokens", "split_expr[shingle]", "words_arrow[word]",
    "words_arrow[shingle]", "shingles", "shingles_arrow",
    "shingles_arrow[contamination]", "md5_token_ids_arrow", "md5_tokens_expr",
    "simhash[xxhash64]", "simhash[md5_60]",
]


@pytest.mark.parametrize("case", FORM_NAMES + list(PIPELINES))
def test_null_text_contract(spark, null_docs, case):
    """NULL text gives NULL from every tokenizer form; the pipelines on
    top of them neither fail on it nor pair it with anything."""
    if case in PIPELINES:
        out = PIPELINES[case](null_docs)
        if out is not None:  # a frame with one tokenized column
            got = _by_id(out, "out")
            assert got[1] is None and got[2] == [] and got[4], got
        return
    got = _by_id(null_docs.select("doc_id", _forms()[case](F.col("text")).alias("t")), "t")
    assert got[1] is None, got
    assert all(got[i] is not None for i in (2, 3, 4, 5)), got


TWIN_DOCS = [
    (1, ""),
    (2, "!!! ... ??? --- ,,,"),
    (3, "It's Bob's dog, isn't it? 'Quoted' words''"),
    (4, "two words"),
    (5, "a b a b a b a b c a b a b"),
    (6, "Hello World\tHELLO world\nhello, WORLD! 42 x42 4-2"),
    (7, "the cat sat on the mat the cat sat on the mat again"),
]


def _twins():
    from getml_community_spark.operators import dedup, textstats, tokenize as tk

    return {
        "words[word]": (textstats.word_tokens, tk.words_arrow),
        "words[shingle]": (
            lambda t: tk.split_expr(t, tk.SHINGLE),
            lambda t: tk.words_arrow(t, tk.SHINGLE),
        ),
        "shingles[n=3]": (
            lambda t: dedup.shingles(t, 3),
            lambda t: tk.shingles_arrow(t, 3),
        ),
        "shingles[n=5]": (dedup.shingles, tk.shingles_arrow),
        "md5_token_ids": (entrymod._md5_tokens_expr, tk.md5_token_ids_arrow),
    }


@pytest.mark.parametrize(
    "pair",
    ["words[word]", "words[shingle]", "shingles[n=3]", "shingles[n=5]", "md5_token_ids"],
)
def test_jvm_arrow_twins_identical(spark, pair):
    """Each JVM tokenizer that keeps an Arrow twin returns the identical
    array on ASCII text: empty, punctuation-only, apostrophes, fewer
    than n words, repeated n-grams, mixed case and whitespace."""
    jvm, arrow = _twins()[pair]
    df = spark.createDataFrame(TWIN_DOCS, "doc_id long, text string")
    rows = df.select(
        "doc_id", jvm(F.col("text")).alias("j"), arrow(F.col("text")).alias("a")
    ).collect()
    for r in rows:
        assert list(r["j"]) == list(r["a"]), (r["doc_id"], r["j"], r["a"])
    assert any(len(r["j"]) > 1 for r in rows)


_CLASSES = (r"[^a-z0-9']+", r"[^a-z0-9]+", r"[^\p{L}\p{N}']+", r"[^\p{L}\p{N}]+")


def _split_class_uses(source: str) -> list[int]:
    """Lines that call ``compile`` / ``split`` with a tokenizer split
    class, or name a class as a bare string literal. SQL text that
    embeds a class (the DuckDB oracles) is neither."""
    bad = []
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, ast.Call):
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", "")
            args = [*node.args, *(k.value for k in node.keywords)]
            if name in ("compile", "split") and any(
                isinstance(a, ast.Constant)
                and isinstance(a.value, str)
                and any(c in a.value for c in _CLASSES)
                for a in args
            ):
                bad.append(node.lineno)
        elif isinstance(node, ast.Constant) and node.value in _CLASSES:
            bad.append(node.lineno)
    return bad


def test_split_class_guard_bites():
    assert _split_class_uses("rx = re.compile(r\"[^a-z0-9']+\")")
    assert _split_class_uses('w = F.split(F.lower(t), r"[^a-z0-9]+")')
    assert _split_class_uses('S = {"unicode": r"[^\\p{L}\\p{N}]+"}')
    assert not _split_class_uses(
        "sql = \"SELECT string_split_regex(lower(text), '[^a-z0-9]+')\""
    )


def test_split_classes_live_only_in_tokenize():
    """No module but operators/tokenize.py compiles or splits on a
    tokenizer split class, so the copies cannot grow back."""
    files = sorted((ROOT / "getml_community_spark").rglob("*.py"))
    files.append(ROOT / "__spark_entry__.py")
    owner = ROOT / "getml_community_spark" / "operators" / "tokenize.py"
    found = {
        str(p.relative_to(ROOT)): lines
        for p in files
        if p != owner and (lines := _split_class_uses(p.read_text()))
    }
    assert not found, found
