"""Seeded inputs for every workload.

The package's corpus generator keys row ``i`` on ``default_rng(42 + i)``,
so a workload seed selects its own corpus by shifting the id range:
seed ``s`` owns ids ``[s * ID_STRIDE, (s + 1) * ID_STRIDE)``. Everything
else a workload draws (population, late-batch days, read mix, document
replicas) comes from ``numpy.random.default_rng([seed, purpose])``.
"""

from __future__ import annotations

import zlib

import numpy as np
import pandas as pd

from getml_community_spark.datagen import EPOCH_START, gen_rows

ID_STRIDE = 1_000_000
LATE_OFFSET = 600_000  # late-batch ids sit above any corpus id range
DAY = 86400
CYCLE = 10  # reads per range_read cycle


def rng(seed: int, purpose: int) -> np.random.Generator:
    return np.random.default_rng([seed, purpose])


def corpus(seed: int, n: int, days: int) -> pd.DataFrame:
    """``n`` corpus rows (doc_id, n_tok, source, event_time) folded onto
    the first ``days`` days of the generator's span (time of day kept)."""
    ids = np.arange(n, dtype=np.int64) + seed * ID_STRIDE
    pdf = gen_rows(ids, with_tokens=False).drop(columns=["tokens"])
    return _fold_days(pdf, days)


def _fold_days(pdf: pd.DataFrame, days: int) -> pd.DataFrame:
    us = pdf["event_time"].astype("int64")
    start = int(EPOCH_START) * 1_000_000
    folded = start + (us - start) % (days * DAY * 1_000_000)
    return pdf.assign(event_time=pd.to_datetime(folded, unit="us"))


def late_batch(seed: int, k: int, n: int, day: int) -> pd.DataFrame:
    """Catch-up batch ``k``: ``n`` fresh rows all landing on day ``day``
    (0-based from the epoch start)."""
    ids = np.arange(n, dtype=np.int64) + seed * ID_STRIDE + LATE_OFFSET + k * n
    pdf = gen_rows(ids, with_tokens=False).drop(columns=["tokens"])
    us = pdf["event_time"].astype("int64") % (DAY * 1_000_000)
    start = (int(EPOCH_START) + day * DAY) * 1_000_000
    return pdf.assign(event_time=pd.to_datetime(start + us, unit="us"))


def late_days(seed: int, count: int, days: int) -> list[int]:
    """Landing days of ``count`` catch-ups: seeded permutations of every
    day, one after another, so any ``days`` consecutive catch-ups touch
    each day once and every seed re-rolls the same mix of old and newest
    (retention-kept) days."""
    r = rng(seed, 1)
    out: list[int] = []
    while len(out) < count:
        out += [int(d) for d in r.permutation(days)]
    return out[:count]


def population(seed: int, peripheral: pd.DataFrame, n: int) -> pd.DataFrame:
    """As-of population: keys drawn from the peripheral's own rows (so
    the Zipf hot key keeps its share), reference times uniform over the
    peripheral span, plus three carried attribute columns."""
    r = rng(seed, 2)
    src = peripheral["source"].to_numpy()[r.integers(0, len(peripheral), size=n)]
    lo = peripheral["event_time"].min().value // 1000
    hi = peripheral["event_time"].max().value // 1000
    ts = r.integers(lo, hi, size=n)
    return pd.DataFrame(
        {
            "pop_id": np.arange(n, dtype=np.int64) + seed * ID_STRIDE,
            "source": src,
            "pop_ts": pd.to_datetime(ts, unit="us"),
            "segment": r.choice(["a", "b", "c", "d", "e"], size=n),
            "score": r.normal(0.0, 1.0, size=n),
            "flag": r.integers(0, 2, size=n).astype(np.int32),
        }
    )


# word list of the contract corpus's ``documents`` table
VOCAB = (
    "a the batch part spark line column order small sort fast value scan "
    "hash slow group agg filter query big key window row table stream "
    "merge data vector customer join"
).split()


def documents(seed: int, n_base: int, replicas: int) -> pd.DataFrame:
    """(doc_id, text, source) documents shaped like the contract corpus
    (10–100 words over a 30-word vocabulary), with planted exact
    duplicates that differ only in case and whitespace, near duplicates
    (one word replaced), and a few too-short documents for the quality
    filter. ``replicas`` copies are made the way ``bench/dedup_scale.py``
    scales the corpus: replica ``r`` rewrites word ``w`` to
    ``rep<salt>x<w>`` iff crc32(salt, w) % 10 < 3, with the salt drawn
    from the seed — within-replica duplicate structure is preserved,
    cross-replica Jaccard collapses."""
    r = rng(seed, 3)
    texts: list[str] = []
    for i in range(n_base):
        u = r.random()
        if i > 10 and u < 0.03:  # exact duplicate, case/whitespace noise
            words = texts[int(r.integers(0, i))].split()
            t = "  ".join(words) if r.random() < 0.5 else " ".join(words).upper()
            texts.append(f" {t} ")
        elif i > 10 and u < 0.08:  # near duplicate of a long document
            words = texts[int(r.integers(0, i))].split()
            words[int(r.integers(0, len(words)))] = str(r.choice(VOCAB))
            texts.append(" ".join(words))
        elif u < 0.083:  # fails min_words
            texts.append(" ".join(r.choice(VOCAB, size=3)))
        else:
            texts.append(" ".join(r.choice(VOCAB, size=int(r.integers(10, 101)))))
    salts = [int(s) for s in r.integers(1, 1_000_000, size=replicas)]
    rows = []
    for rep, salt in enumerate(salts):
        for i, t in enumerate(texts):
            if rep:
                t = " ".join(
                    f"rep{salt}x{w}"
                    if zlib.crc32(f"{salt}:{w.lower()}".encode()) % 10 < 3
                    else w
                    for w in t.split(" ")
                )
            rows.append((seed * ID_STRIDE + rep * n_base + i, t, f"src{i % 20}"))
    return pd.DataFrame(rows, columns=["doc_id", "text", "source"])


def contamination_slice(seed: int, docs: pd.DataFrame, n: int) -> pd.DataFrame:
    """Benchmark rows for decontamination: 12-word windows of ``n``
    seeded documents."""
    r = rng(seed, 4)
    out = []
    for j, i in enumerate(r.choice(len(docs), size=n, replace=False)):
        words = docs["text"].iloc[int(i)].split()
        s = int(r.integers(0, max(1, len(words) - 12)))
        out.append((j, " ".join(words[s : s + 12])))
    return pd.DataFrame(out, columns=["doc_id", "text"])


def read_mix(seed: int, days: int, n_cycles: int) -> list[dict]:
    """The range_read op list: ``n_cycles`` cycles of the same ten reads
    — query_range at (step, span) 1m/1h, 5m/6h, 1h/1d, 2h/3d and 1d/3d;
    quantiles and distinct at 1h over 6h; a one-day compressed decode
    and archive read; the dense 1h tier + LTTB — each cycle in a seeded
    order with seeded, step-aligned start times. Every cycle has the
    same composition, so per-run latency statistics are comparable."""
    r = rng(seed, 5)
    t0 = int(EPOCH_START)
    span_end = t0 + days * DAY
    cycle = [
        ("range", 60, 3600), ("range", 300, 6 * 3600), ("range", 3600, DAY),
        ("range", 7200, 3 * DAY), ("range", DAY, 3 * DAY),
        ("quantiles", 3600, 6 * 3600), ("distinct", 3600, 6 * 3600),
        ("compressed", 3600, DAY), ("archive", 3600, DAY), ("dense_lttb", 0, 0),
    ]
    ops: list[dict] = []
    for _ in range(n_cycles):
        for i in r.permutation(len(cycle)):
            kind, step, span = cycle[i]
            if kind == "dense_lttb":
                ops.append({"kind": kind})
                continue
            span = min(span, days * DAY)
            n_slots = (span_end - t0 - span) // step + 1
            t_from = t0 + int(r.integers(0, n_slots)) * step
            ops.append({"kind": kind, "t_from": t_from, "t_to": t_from + span, "step": step})
    return ops
