"""Corpus cleaning pipeline: the composition a training-data team runs
end-to-end — quality filter → exact dedup → near dedup → benchmark
decontamination — as ONE call with per-stage survivor lineage.

Each stage is one of this package's oracle-checked operators; this
module only composes them (same pattern as the reference's preprocessor
chain, src/python-api/getml/pipeline/pipeline.py preprocessors= list,
applied in declaration order).

Scale notes: stages are lazy transformations; with ``report=False``
(default) the whole clean is ONE Spark job when the result is written.
``report=True`` puts each stage's survivors behind a
:func:`..session.barrier` and counts the materialized frame, so the
corpus is scanned ONCE and each stage's work runs once — the count()
actions read the previous stage's blocks, never the source
(pytest-proven via a scan-counting accumulator). Every lineage cut in
the chain, the operators' own included, follows the barrier's one rule:
localCheckpoint (an executor loss restarts the job) unless the session
has a checkpoint dir (``spark.sparkContext.setCheckpointDir``, HDFS/S3
for multi-hour cluster runs), which makes each cut a reliable
``checkpoint()``.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F

from ..session import barrier
from .dedup import exact_dedup, minhash_lsh_dedup
from .textstats import gopher_quality, ngram_contamination

__all__ = ["clean_corpus", "CleanReport"]


@dataclass
class CleanReport:
    """Per-stage survivor counts (filled when report=True)."""

    stages: list[tuple[str, int]] = field(default_factory=list)

    def survivors(self) -> int:
        return self.stages[-1][1] if self.stages else 0


def clean_corpus(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    benchmark: DataFrame | None = None,
    min_words: int = 50,
    min_stop_hits: int = 2,
    jaccard_threshold: float = 0.8,
    contamination_ngram: int = 5,
    transitive: bool = False,
    repetition: bool = False,
    dedup_lines: bool = False,
    redact_pii: bool = False,
    report: bool = False,
) -> tuple[DataFrame, CleanReport]:
    """Run the standard cleaning chain and return (clean_df, report).

    Stages, in order (each drops rows, never mutates them):
    1. gopher  — Gopher/MassiveText quality rules (keep == true);
                 ``repetition=True`` adds the Table A1 repetition
                 sub-table (top/dup n-gram char fractions) as stage 1b
    1c. lines  — ``dedup_lines=True`` applies C4 global line dedup
                 (first corpus occurrence wins; documents REASSEMBLE
                 with surviving lines — mutates text, runs before the
                 document-level dedups like the C4 recipe)
    2. exact   — exact dedup on normalized text (keep min id)
    3. near    — MinHash-LSH near-dedup at ``jaccard_threshold``
                 (``transitive=True`` → one survivor per connected
                 component instead of the one-hop greedy)
    4. decontam— drop docs sharing any ``contamination_ngram``-gram with
                 ``benchmark`` (skipped when benchmark is None)
    5. redact  — ``redact_pii=True`` replaces emails/IPs/SSNs/phones in
                 the survivors' text with placeholder tokens (the ONE
                 stage that mutates rather than drops; runs last so the
                 dedup stages hash the original text)

    Every lineage cut — report-mode stage materialization, the near-
    dedup barriers, the transitive connected-components rounds — goes
    through :func:`..session.barrier`: reliable ``checkpoint()`` blocks
    in the session's checkpoint dir when one is set (slower, but a lost
    executor costs a task retry, not the whole multi-hour job),
    executor-local localCheckpoint blocks otherwise.
    """
    rep = CleanReport()

    def note(name: str, frame: DataFrame) -> DataFrame:
        if report:
            # materialize this stage ONCE: the count() fills the
            # checkpoint blocks and every downstream stage reads them
            # instead of recomputing the upstream chain from the source
            frame = barrier(frame, eager=False)
            rep.stages.append((name, frame.count()))
        return frame

    df = note("input", df)

    keep = gopher_quality(
        df, text_col, id_col, min_words=min_words, min_stop_hits=min_stop_hits
    ).where("keep")
    out = df.join(keep.select(id_col), id_col, "left_semi")
    out = note("gopher", out)

    if repetition:
        from .textstats import repetition_stats

        rep_keep = repetition_stats(out, text_col, id_col).where(
            "keep_repetition"
        )
        out = note(
            "repetition", out.join(rep_keep.select(id_col), id_col, "left_semi")
        )

    if dedup_lines:
        from .dedup import line_dedup

        deduped = line_dedup(out, text_col, id_col).select(id_col, text_col)
        others = [c for c in out.columns if c not in (id_col, text_col)]
        out = note(
            "lines",
            deduped.join(out.select(id_col, *others), id_col)
            if others
            else deduped,
        )

    # exact_dedup returns (id, dup_count) winners — semi-join to keep rows
    winners = exact_dedup(out, text_col, id_col).select(id_col)
    out = note("exact", out.join(winners, id_col, "left_semi"))

    out = note(
        "near",
        minhash_lsh_dedup(
            out,
            text_col,
            id_col,
            threshold=jaccard_threshold,
            verify=True,
            transitive=transitive,
        ),
    )

    if benchmark is not None:
        flags = ngram_contamination(
            out, benchmark, text_col, id_col, n=contamination_ngram
        ).where(~F.col("contaminated"))
        out = note(
            "decontam", out.join(flags.select(id_col), id_col, "left_semi")
        )

    if redact_pii:
        from .pii import pii_redact

        out = note("redact", pii_redact(out, text_col))

    return out, rep
