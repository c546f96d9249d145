"""Corpus curation pipeline: the cheap→expensive filter cascade a
training-data pipeline runs between extraction and chunking.

    exact dedup → near-dup (MinHash-LSH) → line-level boilerplate
    removal → quality filter → benchmark decontamination (optional)

Order rationale: exact dedup first (cheapest, shrinks everything
downstream), near-dup on survivors, line cleanup BEFORE quality
scoring (a doc that is mostly boilerplate should be judged on its
surviving content), decontamination last (smallest input). Each stage
is an existing operator; this module only composes them, so every
piece stays individually oracle-gated.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from docling_api_spark.functions.hashing import tokens
from docling_api_spark.functions.textstats import quality_score
from docling_api_spark.operators.dedup import (
    boilerplate_line_dedup,
    decontaminate_against,
    dedup_exact,
    dedup_minhash,
)


def curate_corpus(
    docs: DataFrame,
    quality_threshold: float = 0.3,
    near_threshold: float = 0.8,
    line_df_cap: int = 100,
    eval_texts: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """documents → curated (id, text, quality, stage columns).

    Returns one row per INPUT document with a ``kept`` flag and the
    ``drop_stage`` that eliminated it (null when kept) — keeping the
    audit trail is what a production curation run reports; the curated
    corpus is ``.filter("kept")``.
    """
    # the input table is read by three subtrees (the content-hash
    # groupBy, the exact-survivor semi join's left side, and the final
    # audit assembly); in production it is a STORED table — the cache
    # stands in for that storage, like the stage barriers below
    d = docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("text")).persist()

    # 1. exact dedup: survivor = min id per content hash
    exact_keep = dedup_exact(d, text_col="text", id_col="id").select(
        F.col("keep_id").alias("id")
    )
    after_exact = d.join(exact_keep, "id", "left_semi")

    # Stage-boundary persists: each stage's output is read by SEVERAL
    # downstream subtrees (the minhash signature chain AND the anti
    # join read after_exact; the line-dedup internals read after_near
    # more than once). Composed lazily, every consumer re-inlines the
    # whole upstream cascade — measured 940 parquet-scan nodes / 596
    # Exchanges in the single executed plan of curation_pipeline_audit
    # at sf0.1 before the barriers (runtime partially saved by
    # ReusedExchange, but plan compile weight and the non-reused
    # subtrees are real). A production cascade materializes each
    # stage's table; the caches stand in for those tables.
    after_exact = after_exact.persist()

    # 2. near-dup: larger id of each verified pair loses
    near_losers = (
        dedup_minhash(after_exact, text_col="text", id_col="id", threshold=near_threshold)
        .select(F.col("b").alias("id"))
        .distinct()
    )
    after_near = after_exact.join(near_losers, "id", "left_anti").persist()

    # 3. line-level boilerplate removal (rebuilds text)
    cleaned = boilerplate_line_dedup(
        after_near, max_df=line_df_cap, text_col="text", id_col="id"
    ).select("id", F.col("clean_text").alias("text"), "n_removed")

    # 4. quality filter on the cleaned text. A doc with zero tokens
    # after cleanup (empty or all-boilerplate) has NULL quality — that
    # is a quality drop, not a pass: NULL must never slip through the
    # `< threshold` comparison into the curated corpus.
    scored = cleaned.select(
        "id", "text", "n_removed", quality_score(tokens(F.col("text"))).alias("quality")
    )
    if eval_texts is not None:
        # persist: the decontamination branch AND the survivors assembly
        # both read `scored` — without the cache the entire upstream
        # cascade (exact + near-dup + line cleanup) executes twice.
        # (Without an eval set there is exactly one consumer — caching
        # would be pure materialization overhead.)
        scored = scored.persist()
    low_quality = F.col("quality").isNull() | (F.col("quality") < quality_threshold)

    # 5. optional eval-set decontamination — only over quality
    # survivors (decontamination is last precisely because its 13-gram
    # explode is the heaviest per-doc stage; quality-dropped docs never
    # reach it, and the drop_stage CASE checks quality first so this is
    # semantics-preserving)
    if eval_texts is not None:
        contam = decontaminate_against(
            scored.filter(~low_quality), eval_texts, text_col="text", id_col="id"
        ).select("id", "contaminated")
        survivors = scored.join(contam, "id", "left").select(
            "id", "text", "n_removed", "quality",
            F.coalesce("contaminated", F.lit(False)).alias("contaminated"),
        )
    else:
        survivors = scored.select(
            "id", "text", "n_removed", "quality", F.lit(False).alias("contaminated")
        )

    # assemble the audit view over ALL input docs
    staged = (
        d.select("id")
        .join(
            survivors.select("id", "text", "n_removed", "quality", "contaminated"),
            "id",
            "left",
        )
        .select(
            "id",
            "text",
            "n_removed",
            "quality",
            F.when(F.col("text").isNull(), F.lit("dedup"))
            .when(
                F.col("quality").isNull() | (F.col("quality") < quality_threshold),
                F.lit("quality"),
            )
            .when(F.col("contaminated"), F.lit("decontamination"))
            .alias("drop_stage"),
        )
        .select(
            "id",
            "text",
            "n_removed",
            "quality",
            "drop_stage",
            F.col("drop_stage").isNull().alias("kept"),
        )
    )
    return staged


class CurationAuditError(RuntimeError):
    """Raised when the cascade's input or audit table breaks an invariant."""


# the drop stages curate_corpus labels, plus the kept docs
STAGES = ("decontamination", "dedup", "kept", "quality")


def count_input_docs(docs: DataFrame, id_col: str = "doc_id") -> int:
    """Input row count, from one aggregate that also counts distinct
    non-null ids. Every stage joins back on the id, so docs sharing one
    would come out as copies of a single row (the line-dedup stage
    regroups by id and joins their texts), and a doc with a null id
    would be labelled a dedup drop; raises CurationAuditError instead,
    before the cascade runs."""
    n_in, n_ids = docs.agg(F.count(F.lit(1)), F.count_distinct(id_col)).first()
    if n_ids != n_in:
        raise CurationAuditError(
            f"{n_in} input docs but {n_ids} distinct non-null {id_col} values"
        )
    return n_in


def observe_curation(staged: DataFrame) -> tuple[DataFrame, Observation]:
    """``staged`` with its row count and the docs per stage attached as
    an ``Observation``; the first action on the returned frame (the
    job's write) fills it."""
    obs = Observation("curation")
    stage = F.coalesce("drop_stage", F.lit("kept"))
    observed = staged.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        *(F.count_if(stage == s).alias(s) for s in STAGES),
    )
    return observed, obs


def curation_stats(observation: Observation) -> dict:
    """The run's summary, read from the observation its write filled:
    ``rows`` (audit rows written) and ``stages``, the docs per stage
    for the stages that hold any."""
    m = observation.get
    return {
        "rows": int(m["rows"]),
        "stages": {s: int(m[s]) for s in STAGES if m[s]},
    }


def assert_row_conservation(n_in: int, n_out: int) -> int:
    """The cascade's core invariant: one audit row per INPUT document —
    a dropped doc is a LABELED row, never a missing one (the silent
    row-loss class: an operator whose explode produces no rows for a
    degenerate doc removes it from every downstream join). Returns the
    row count; raises CurationAuditError on violation so the job can
    refuse to publish."""
    if n_out != n_in:
        raise CurationAuditError(
            f"row conservation violated: {n_in} input docs but {n_out} audit rows"
        )
    return n_out
