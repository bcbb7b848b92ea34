"""Preprocessors (SURVEY.md §2.8) — the reference's scalar feature
generators as pure DataFrame transformations (all codegen, no UDFs).

Each function cites the reference implementation it reproduces; the
fit/transform split of the reference collapses into (fit → small
driver-side stats or broadcast dim, transform → withColumn).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

__all__ = [
    "seasonal",
    "impute",
    "category_trim",
    "email_domain",
    "substring_feature",
    "split_text_fields",
]


def seasonal(df: DataFrame, ts_col: str, prefix: str | None = None) -> DataFrame:
    """Seasonal: categorical hour/minute/month/weekday + numerical year
    per time-stamp column (src/engine/src/engine/Seasonal.cpp:18-84)."""
    p = prefix if prefix is not None else f"{ts_col}_"
    t = F.col(ts_col)
    return (
        df.withColumn(f"{p}hour", F.hour(t).cast("string"))
        .withColumn(f"{p}minute", F.minute(t).cast("string"))
        .withColumn(f"{p}month", F.month(t).cast("string"))
        .withColumn(f"{p}weekday", (F.dayofweek(t) - 1).cast("string"))
        .withColumn(f"{p}year", F.year(t).cast("double"))
    )


def impute(
    df: DataFrame, cols: list[str], add_dummies: bool = True
) -> tuple[DataFrame, dict[str, float]]:
    """Imputation: mean-impute + optional NULL-dummy column
    (src/engine/src/engine/Imputation.cpp; SQL form COALESCE(x, μ) +
    CASE WHEN x IS NULL, HumanReadableSQLGenerator.cpp:120-139).

    Returns (transformed df, fitted means) — means computed in ONE agg
    pass (a single job), then folded in as literals so transform is
    pure codegen.
    """
    means_row = df.select(
        *[F.avg(F.col(c).cast("double")).alias(c) for c in cols]
    ).first()
    means = {c: (means_row[c] if means_row[c] is not None else 0.0) for c in cols}
    out = df
    for c in cols:
        col = F.col(c).cast("double")
        if add_dummies:
            out = out.withColumn(
                f"{c}__imputed", (col.isNull() | F.isnan(col)).cast("double")
            )
        out = out.withColumn(
            c, F.when(col.isNull() | F.isnan(col), F.lit(means[c])).otherwise(col)
        )
    return out, means


def category_trim(
    df: DataFrame, col: str, top_k: int = 100, other: str = "trimmed"
) -> tuple[DataFrame, list[str]]:
    """CategoryTrimmer: keep top-k categories by frequency, map the rest
    to a trim token (src/engine/src/engine/CategoryTrimmer.cpp; SQL
    HumanReadableTrimming.cpp:39-42).

    Fit = one groupBy on a single column (cheap, combiner-friendly);
    transform = isin() against a literal list → broadcast-free codegen.
    Ties broken by (count desc, value asc) for determinism.
    """
    top = [
        r[0]
        for r in df.groupBy(col)
        .count()
        .orderBy(F.desc("count"), F.asc(col))
        .limit(top_k)
        .collect()
    ]
    out = df.withColumn(
        col, F.when(F.col(col).isin(top), F.col(col)).otherwise(F.lit(other))
    )
    return out, top


def email_domain(df: DataFrame, col: str, out: str | None = None) -> DataFrame:
    """EMailDomain: domain incl. '@' from an email string
    (src/engine/src/engine/EMailDomain.cpp)."""
    return df.withColumn(
        out or f"{col}_domain", F.regexp_extract(F.col(col), r"(@[^@\s]+)$", 1)
    )


def substring_feature(
    df: DataFrame, col: str, begin: int, length: int, out: str | None = None
) -> DataFrame:
    """Substring preprocessor (src/engine/src/engine/Substring.cpp);
    begin is 0-based in the reference python API (columns.py substr)."""
    return df.withColumn(
        out or f"{col}_substr{begin}_{length}",
        F.substring(F.col(col), begin + 1, length),
    )


def split_text_fields(df: DataFrame, col: str, id_col: str) -> DataFrame:
    """TextFieldSplitter: text → one row per word
    (src/engine/src/engine/TextFieldSplitter.cpp) — the input to the
    reference's Vocabulary/WordIndex (textmining/Vocabulary.hpp:31-46).
    Splitting: non-alphanumeric separators (the unicode form of the
    SHINGLE class), lower-cased."""
    from ..operators.tokenize import SHINGLE, split_expr

    words = F.explode(split_expr(F.col(col), SHINGLE, "unicode"))
    return df.select(F.col(id_col), words.alias("word"))
