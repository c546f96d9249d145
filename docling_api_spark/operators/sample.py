"""Sampling, data-mixing, and compression operators (training-pipeline
extension scope; SURVEY.md §2 extensions).

A 100 TB pre-training pipeline needs *reproducible* sampling: random()
is useless at scale (re-runs and resumed jobs must agree row-by-row),
so every decision here is a pure function of the row's id under the
shared md5-prefix-32 hash family (functions/hashing.py) — shuffle-free
scan predicates that Catalyst pushes into the parquet read, and every
one exactly replayable by the DuckDB oracle.

Reference parity: the reference has no sampling layer (it is a
per-request service); these are the corpus-level extensions SURVEY §2
scopes in alongside dedup/ANN.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from docling_api_spark.functions.hashing import md5_long


def split_bucket(id_col: Column, salt: str = "split-v1", buckets: int = 1000) -> Column:
    """Deterministic hash bucket in [0, buckets) for dataset splits.

    DuckDB twin: ``md5long(id || '#salt') % buckets``. The salt keys
    the whole assignment, so a new split version re-deals every row
    without correlation to the old one.
    """
    return md5_long(F.concat(id_col.cast("string"), F.lit(f"#{salt}"))) % buckets


def dataset_split(
    df: DataFrame,
    id_col: str = "doc_id",
    val_per_mille: int = 100,
    test_per_mille: int = 100,
    salt: str = "split-v1",
) -> DataFrame:
    """Add a ``split`` column (train/val/test) by hash bucket.

    Scale shape: one narrow projection, no shuffle, no RNG state —
    a resumed or re-run job deals every doc identically, and the
    assignment is stable under repartitioning (unlike
    ``df.randomSplit``, whose outcome depends on partitioning).
    """
    b = split_bucket(F.col(id_col), salt)
    split = (
        F.when(b < test_per_mille, "test")
        .when(b < test_per_mille + val_per_mille, "val")
        .otherwise("train")
    )
    return df.withColumn("split", split)


def stratified_keep(
    df: DataFrame,
    stratum_col: str = "lang",
    id_col: str = "doc_id",
    salt: str = "strat-v1",
    scale: int = 100_000,
) -> DataFrame:
    """Downsample every stratum to the size of the smallest one
    (balanced corpus), deterministically.

    Keep rule (pure integer arithmetic, so both engines agree exactly —
    no float rate ever materializes)::

        keep  ⇔  (md5(id#salt) % scale) * n_stratum < scale * n_min

    which keeps each row with probability n_min/n_stratum. The
    per-stratum counts are a tiny aggregate broadcast back onto the
    scan — the big side is never shuffled, so at 100 TB this is one
    pass over the corpus plus a metadata-sized join.

    NULL strata survive: the count join is null-safe (``<=>``), so docs
    with a NULL stratum form their own stratum instead of silently
    vanishing through an equi-join (the row-loss class a real crawl
    hits on every doc with no language tag). groupBy already counts
    the NULL group; only the join-back needed the null-safe key.

    Output: input columns + ``n_stratum`` + ``kept``.
    """
    key = "__stratum"  # join key of the counts side; must not shadow an input column
    while key in df.columns:
        key = "_" + key
    counts = df.groupBy(stratum_col).agg(
        F.count("*").alias("n_stratum")
    ).withColumnRenamed(stratum_col, key)
    n_min = counts.agg(F.min("n_stratum").alias("n_min"))
    h = md5_long(F.concat(F.col(id_col).cast("string"), F.lit(f"#{salt}"))) % scale
    return (
        df.join(F.broadcast(counts), F.col(stratum_col).eqNullSafe(counts[key]))
        .drop(key)
        .crossJoin(F.broadcast(n_min))
        .withColumn("kept", h * F.col("n_stratum") < F.lit(scale) * F.col("n_min"))
    )


def mixing_plan(
    df: DataFrame,
    group_col: str = "lang",
    alpha_sqrt: bool = True,
    budget: int = 100_000,
) -> DataFrame:
    """Temperature-weighted data-mixing plan (α = 0.5): per-group
    sampling weights w_g ∝ n_g^α and integer target counts for a doc
    ``budget`` — the standard multilingual rebalancing rule (upsample
    tails, downsample heads).

    Float-determinism discipline: each group's n^0.5 is rounded to
    integer micro-units (``u = round(sqrt(n)·1e6)``) BEFORE the
    cross-group sum, so the denominator is an order-free integer sum —
    a raw double Σ n_g^α would depend on accumulation order and
    diverge between engines (and between cluster runs). Targets are
    integer ``(u·budget) div Σu`` — exact past 2^53.

    The per-group table is metadata-sized at any corpus scale; the
    only full-data pass is the count.
    """
    counts = df.groupBy(group_col).agg(F.count("*").alias("n_docs"))
    u = F.round(F.sqrt(F.col("n_docs")) * 1_000_000, 0).cast("long")
    weighted = counts.withColumn("u", u)
    den = weighted.agg(F.sum("u").alias("den"))
    return (
        weighted.crossJoin(F.broadcast(den))
        .select(
            group_col,
            "n_docs",
            F.round(F.col("u") / F.col("den").cast("double"), 6).alias("weight"),
            F.expr(f"(u * {budget}) div den").alias("target_docs"),
        )
    )


def dedup_lines_keep_first(lines: Column) -> Column:
    """Within-document repetition removal: keep each line's FIRST
    occurrence, preserving order (the intra-doc half of line-level
    boilerplate cleanup; the corpus-level half is
    operators/dedup.py::boilerplate_line_dedup).

    ``array_position`` returns the 1-based first index, so a line
    survives iff it sits at its own first position. Per-doc work is
    O(lines²) comparisons inside one row — no shuffle, no state. The
    line array is let-bound via the one-element-array trick so the
    upstream split isn't re-evaluated per element
    (see functions/hashing.word_shingles).

    DuckDB twin: ``list_filter(ln, (x,i) -> list_position(ln,x) = i)``
    (DuckDB lambda index is 1-based; Spark's is 0-based, hence i+1).
    """

    def build(ln: Column) -> Column:
        return F.filter(ln, lambda x, i: F.array_position(ln, x) == i + 1)

    return F.element_at(F.transform(F.array(lines), build), 1)


def quantize_int8(vec: Column) -> Column:
    """Symmetric per-vector int8 quantization: scale = max|x|,
    q_j = round(x_j / scale · 127) ∈ [-127, 127], returned as
    struct(scale double, q array<int>).

    This is the storage/bandwidth form of the ANN path at 100 TB —
    4× smaller vectors, integer dot products (order-free, so bucket
    scoring is bit-stable across partitionings). All-zero vectors
    quantize to zeros (guard, not NaN — ANSI-safe); non-finite
    components quantize to NULL and are excluded from the scale (an
    ANSI cast of NaN/±inf to INT aborts the job — a corrupt vector
    must degrade per-component, not kill the query). ``abs(x) < inf``
    is false for NaN on both engines, so one predicate covers both
    corruption shapes.

    DuckDB twin (plans/sampling_q._QUANT_CTE): same ops on doubles;
    both engines' ROUND are half-away-from-zero and IEEE
    division/multiplication are exact, so q is bit-identical.
    """

    def build(v: Column) -> Column:
        inf = F.lit(float("inf"))
        absd = F.transform(v, lambda x: F.abs(x.cast("double")))
        scale = F.coalesce(
            F.array_max(F.filter(absd, lambda a: a < inf)), F.lit(0.0)
        )
        q = F.transform(
            v,
            lambda x: F.when(
                ~(F.abs(x.cast("double")) < inf), F.lit(None).cast("int")
            )
            .when(scale == 0.0, F.lit(0))
            .otherwise(F.round(x.cast("double") / scale * 127, 0).cast("int")),
        )
        return F.struct(scale.alias("scale"), q.alias("q"))

    return F.element_at(F.transform(F.array(vec), build), 1)


def dsir_weights(
    docs: DataFrame,
    is_target: Column,
    n_buckets: int = 1024,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """DSIR (Xie et al. 2023, arXiv:2302.03169): data selection by
    importance resampling over hashed n-gram features. Each document's
    bigrams hash into ``n_buckets`` buckets; a bucket's importance
    weight is the log-likelihood ratio of add-one-smoothed target vs
    raw(non-target) bucket probabilities; a document's score sums the
    weights of its bigram occurrences. High score = "looks like the
    target distribution" — the standard pre-training-corpus selection
    signal (e.g. target = vetted high-quality subset).

    Float-free discipline (same as bigram_lm_surprisal): the weight is
    the FLOOR-LOG2 of the integer likelihood ratio, computed as the
    bit length of ``(ct+1)(R+K)·2¹² div (cr+1)(T+K)`` — no libm log,
    and the per-doc score is an integer sum, so it is order-free and
    bit-identical cross-engine. The ±1-bit weight granularity is
    irrelevant after summing over hundreds of features (a production
    run would swap float log-ratios behind the same plan shape).

    Returns one row per document with ≥1 bigram:
    (id, n_feats, dsir_score, mean_weight, kept) — kept = per-feature
    mean weight at or above the corpus median (floor-log2 carries a
    systematic downward bias that a fixed ``score > 0`` cutoff would
    inherit, so the keep rule is relative, exactly as the reference
    DSIR implementation resamples by relative weight).

    Scale shape: the bucket-weight table is ``n_buckets`` rows
    (broadcast); the per-doc scoring join is therefore map-side only.
    The single big intermediate is the (id, bucket) explode — two
    integer columns; the document payload never shuffles. The weight
    table itself is one map-side-combined agg over those rows.
    """
    from docling_api_spark.functions.hashing import tokens

    base = docs.select(
        F.col(id_col).alias("id"),
        is_target.alias("is_t"),
        tokens(F.col(text_col)).alias("t"),
    )
    tt = F.col("t")
    feats = (
        base.filter(F.size(tt) >= 2)
        .select(
            "id",
            "is_t",
            F.explode(
                F.transform(
                    F.sequence(F.lit(2), F.size(tt)),
                    lambda i: md5_long(
                        F.concat(F.get(tt, i - 2), F.lit(" "), F.get(tt, i - 1))
                    )
                    % n_buckets,
                )
            ).alias("b"),
        )
    )
    # read twice (bucket counts + per-doc scoring): cache the narrow
    # (id, is_t, b) rows, not the tokenized text
    feats = feats.persist()
    bc = feats.groupBy("b").agg(
        F.sum(F.when(F.col("is_t"), 1).otherwise(0)).alias("ct"),
        F.sum(F.when(F.col("is_t"), 0).otherwise(1)).alias("cr"),
    )
    tot = bc.agg(
        F.sum("ct").alias("tt_total"), F.sum("cr").alias("rr_total")
    )
    weights = bc.crossJoin(F.broadcast(tot)).selectExpr(
        "b",
        "(length(bin(greatest("
        f"((ct + 1) * (rr_total + {n_buckets}) * 4096L)"
        f" div ((cr + 1) * (tt_total + {n_buckets})), 1L))) - 13) AS w",
    )
    scored = (
        feats.join(F.broadcast(weights), "b")
        .groupBy("id")
        .agg(
            F.count("*").alias("n_feats"),
            F.sum("w").alias("dsir_score"),
            (F.sum("w") / F.count("*").cast("double")).alias("mean_raw"),
        )
    )
    # scored feeds both the median agg and the final select: without
    # the cache the whole scoring join runs twice
    scored = scored.persist()
    med = scored.agg(F.percentile("mean_raw", F.lit(0.5)).alias("med"))
    return scored.crossJoin(F.broadcast(med)).select(
        "id",
        "n_feats",
        "dsir_score",
        F.round("mean_raw", 6).alias("mean_weight"),
        (F.col("mean_raw") >= F.col("med")).alias("kept"),
    )


def domain_cap_keep(
    df: DataFrame,
    domain_col: str = "source",
    id_col: str = "doc_id",
    cap: int = 100,
    salt: str = "domcap-v1",
) -> DataFrame:
    """RefinedWeb-style per-domain frequency cap: keep at most ``cap``
    docs per domain, chosen deterministically by hash rank (md5 of the
    salted id, ties by id) so re-runs and resumed jobs keep the same
    docs.

    Scale shape: the rank is computed on a NARROW (id, domain, hash)
    projection — the window's sort shuffle never carries document
    text — then the keep decision joins back on the id. At 100 TB a
    mega-domain concentrates its narrow rows in one task; that task
    sorts ~domain-count 24-byte rows, which is fine to ~10^8 docs per
    domain (beyond that, pre-filter with an approximate per-domain
    count and only rank domains over the cap).

    NULL ``domain_col`` rows survive (the join-back is on the id, and
    the window treats NULL as its own partition). NULL *ids* do NOT:
    the id is the engine-wide row identity (every dedup/join operator
    assumes it), and a null-safe join-back would cross-match every
    NULL-id row — quarantine NULL ids at ingest, as the extraction
    pipeline's error side-table does.

    Output: input columns + ``dom_rank`` (1-based hash rank within the
    domain) + ``kept``.
    """
    from pyspark.sql.window import Window

    h = md5_long(F.concat(F.col(id_col).cast("string"), F.lit(f"#{salt}")))
    narrow = df.select(F.col(id_col), F.col(domain_col), h.alias("_h"))
    w = Window.partitionBy(domain_col).orderBy(F.col("_h"), F.col(id_col))
    ranked = narrow.select(
        F.col(id_col), F.row_number().over(w).alias("dom_rank")
    )
    return df.join(ranked, id_col).withColumn("kept", F.col("dom_rank") <= cap)


def group_split(
    df: DataFrame,
    group_col: str = "source",
    val_per_mille: int = 100,
    test_per_mille: int = 100,
    salt: str = "gsplit-v1",
) -> DataFrame:
    """Leakage-safe train/val/test split keyed by GROUP, not by doc:
    every doc of a group (domain / site / author) lands in the same
    split, so near-duplicates within a group can never straddle the
    train/eval boundary (the classic contamination path a per-doc
    split leaves open).

    Same zero-shuffle scan-predicate shape as :func:`dataset_split` —
    the split is a pure function of the group key, so it is stable
    under repartitioning and resumption and needs no group table.
    """
    b = split_bucket(F.col(group_col).cast("string"), salt)
    split = (
        F.when(b < test_per_mille, "test")
        .when(b < test_per_mille + val_per_mille, "val")
        .otherwise("train")
    )
    return df.withColumn("split", split)
