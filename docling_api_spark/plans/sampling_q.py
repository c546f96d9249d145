"""Sampling / data-mixing / compression queries (training-pipeline
extension scope) with exact DuckDB oracles.

Everything decides by md5-prefix-32 hash or pure integer arithmetic —
no RNG, no accumulation-order-sensitive float sums — so each query is
bit-reproducible across engines, re-runs, and repartitionings (the
property a resumable 100 TB job actually needs from its sampler).

These sit outside the driver prefix (plans/registry.py) and gate
locally via tests/test_oracle_parity.py.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from docling_api_spark.operators.rank import global_rank
from docling_api_spark.operators.sample import (
    dataset_split,
    dedup_lines_keep_first,
    mixing_plan,
    quantize_int8,
    stratified_keep,
)
from docling_api_spark.plans import _sql as S
from docling_api_spark.plans.registry import query
from docling_api_spark.sources.catalog import load

_SPLIT_B = S.md5long("doc_id::VARCHAR || '#split-v1'") + " % 1000"
_STRAT_H = S.md5long("doc_id::VARCHAR || '#strat-v1'") + " % 100000"


@query(
    "dataset_split_stats",
    # 80/10/10 deterministic split; per-(split,lang) counts + id/char
    # sums make every row's assignment hash-visible (one flipped doc
    # changes two group rows).
    oracle=f"""
        WITH t AS (SELECT doc_id, lang, n_chars, {_SPLIT_B} AS b FROM documents)
        SELECT CASE WHEN b < 100 THEN 'test'
                    WHEN b < 200 THEN 'val'
                    ELSE 'train' END AS split,
               lang,
               COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
               CAST(SUM(doc_id) AS BIGINT) AS sum_ids
        FROM t GROUP BY 1, 2
    """,
)
def dataset_split_stats(spark, sf_dir):
    """Deterministic train/val/test split (hash-bucketed, salt-keyed):
    stable under re-runs and repartitioning, unlike randomSplit."""
    d = load(spark, sf_dir, "documents")
    return (
        dataset_split(d, val_per_mille=100, test_per_mille=100)
        .groupBy("split", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.sum("doc_id").alias("sum_ids"),
        )
    )


@query(
    "stratified_sample_balanced",
    # balance langs to the smallest stratum; keep rule is pure integer
    # arithmetic (hash%scale * n_stratum < scale * n_min) so no float
    # rate exists to diverge. lang counts at sf0.01: en 218 / de 70 /
    # zh 75 / fr 64 / es 73 — genuinely skewed, so the filter splits.
    oracle=f"""
        WITH c AS (SELECT lang, COUNT(*) AS n_stratum FROM documents GROUP BY lang),
             m AS (SELECT MIN(n_stratum) AS n_min FROM c),
             k AS (SELECT d.doc_id, d.lang, c.n_stratum, m.n_min,
                          ({_STRAT_H}) * c.n_stratum < 100000 * m.n_min AS kept
                   FROM documents d
                   JOIN c ON d.lang IS NOT DISTINCT FROM c.lang
                   CROSS JOIN m)
        SELECT lang,
               MAX(n_stratum) AS n_stratum,
               MAX(n_min) AS n_target,
               CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               CAST(SUM(CASE WHEN kept THEN doc_id ELSE 0 END) AS BIGINT) AS kept_id_sum
        FROM k GROUP BY lang
    """,
)
def stratified_sample_balanced(spark, sf_dir):
    """Balanced per-language downsample: tiny counts aggregate
    broadcast onto the scan; the corpus side never shuffles."""
    d = load(spark, sf_dir, "documents")
    kept = stratified_keep(d, stratum_col="lang")
    return kept.groupBy("lang").agg(
        F.max("n_stratum").alias("n_stratum"),
        F.max("n_min").alias("n_target"),
        F.sum(F.when(F.col("kept"), 1).otherwise(0)).alias("n_kept"),
        F.sum(F.when(F.col("kept"), F.col("doc_id")).otherwise(0)).alias("kept_id_sum"),
    )


@query(
    "data_mixing_plan",
    # α=0.5 temperature mixing over langs; each sqrt is snapped to
    # integer micro-units BEFORE the cross-group sum so the
    # denominator is an order-free integer — the raw double sum would
    # depend on accumulation order.
    oracle="""
        WITH c AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
             w AS (SELECT lang, n_docs,
                          CAST(ROUND(sqrt(n_docs) * 1000000, 0) AS BIGINT) AS u
                   FROM c),
             s AS (SELECT CAST(SUM(u) AS BIGINT) AS den FROM w)
        SELECT lang, n_docs,
               ROUND(u / CAST(den AS DOUBLE), 6) AS weight,
               (u * 100000) // den AS target_docs
        FROM w CROSS JOIN s
    """,
)
def data_mixing_plan(spark, sf_dir):
    """Temperature-weighted (α=0.5) source-mixing targets for a
    100k-doc budget — the multilingual head/tail rebalancing rule."""
    d = load(spark, sf_dir, "documents")
    return mixing_plan(d, group_col="lang", budget=100_000)


@query(
    "intra_doc_line_dedup",
    # the driver corpus is single-line, so repeated-line structure is
    # injected deterministically (same pattern as pii_scrub): every
    # doc gets a duplicated footer line, every 3rd doc additionally a
    # full-body repeat; docs shorter than 60 chars dup their body via
    # the prefix line too. Keep-first semantics, order preserved.
    oracle="""
        WITH der AS (
            SELECT doc_id,
                   text || chr(10) || 'Subscribe to our newsletter' || chr(10) ||
                   substr(text, 1, 60) || chr(10) || 'Subscribe to our newsletter' ||
                   CASE WHEN doc_id % 3 = 0 THEN chr(10) || text ELSE '' END AS t
            FROM documents),
        l AS (SELECT doc_id, string_split(t, chr(10)) AS ln FROM der)
        SELECT doc_id,
               len(ln) AS n_lines,
               len(list_filter(ln, (x, i) -> list_position(ln, x) = i)) AS n_kept,
               array_to_string(list_filter(ln, (x, i) -> list_position(ln, x) = i),
                               chr(10)) AS cleaned
        FROM l
    """,
)
def intra_doc_line_dedup(spark, sf_dir):
    """Within-doc repetition removal (keep-first line dedup) — the
    intra-doc complement of corpus-level boilerplate_line_dedup.
    Zero-shuffle: per-row array work only."""
    d = load(spark, sf_dir, "documents")
    t = F.concat(
        F.col("text"), F.lit("\nSubscribe to our newsletter\n"),
        F.substring(F.col("text"), 1, 60), F.lit("\nSubscribe to our newsletter"),
        F.when(F.col("doc_id") % 3 == 0, F.concat(F.lit("\n"), F.col("text"))).otherwise(
            F.lit("")
        ),
    )
    lines = d.select("doc_id", F.split(t, "\n").alias("ln"))
    kept = dedup_lines_keep_first(F.col("ln"))
    return lines.select(
        "doc_id",
        F.size("ln").alias("n_lines"),
        F.size(kept).alias("n_kept"),
        F.array_join(kept, "\n").alias("cleaned"),
    )


@query(
    "unigram_rarity_stats",
    # CCNet-family corpus-statistics quality signal: per-doc mean
    # corpus frequency of its tokens + rare-token ratio (corpus count
    # <= 2 — hapax/dis legomena, the OOV-garbage indicator). All sums
    # are BIGINT (order-free), the two divisions happen once per doc —
    # integer-exact cross-engine, unlike a float log-prob sum whose
    # accumulation order (and libm ulps) diverge.
    oracle=f"""
        WITH tk AS (SELECT doc_id, unnest({S.toks("text")}) AS tok FROM documents),
             freq AS (SELECT tok, COUNT(*) AS cnt FROM tk GROUP BY tok)
        SELECT tk.doc_id,
               COUNT(*) AS n_tokens,
               CAST(SUM(freq.cnt) AS BIGINT) AS freq_sum,
               ROUND(CAST(SUM(freq.cnt) AS BIGINT) / CAST(COUNT(*) AS DOUBLE), 4)
                   AS mean_freq,
               CAST(SUM(CASE WHEN freq.cnt <= 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_rare,
               ROUND(CAST(SUM(CASE WHEN freq.cnt <= 2 THEN 1 ELSE 0 END) AS BIGINT)
                     / CAST(COUNT(*) AS DOUBLE), 4) AS rare_ratio
        FROM tk JOIN freq USING (tok)
        GROUP BY tk.doc_id
    """,
)
def unigram_rarity_stats(spark, sf_dir):
    """Corpus-frequency quality signal: docs dominated by rare tokens
    are OCR noise / mojibake / codes; docs of only ultra-common tokens
    are boilerplate. Scale shape: the frequency table is vocab-sized
    (<< corpus); the token-keyed join is Zipf-skewed, which AQE's
    skew-join splitting handles — or broadcast the heavy-hitter head
    (vocab_heavy_hitters) and shuffle only the tail. Token rows carry
    (doc_id, tok) only — no document payload rides the shuffle."""
    from docling_api_spark.functions.hashing import tokens

    d = load(spark, sf_dir, "documents")
    tk = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    freq = tk.groupBy("tok").agg(F.count("*").alias("cnt"))
    rare = F.sum(F.when(F.col("cnt") <= 2, 1).otherwise(0))
    return (
        tk.join(freq, "tok")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("cnt").alias("freq_sum"),
            F.round(F.sum("cnt") / F.count("*").cast("double"), 4).alias("mean_freq"),
            rare.alias("n_rare"),
            F.round(rare / F.count("*").cast("double"), 4).alias("rare_ratio"),
        )
    )


# shared quantization CTEs (q: per-vector scale; qq: int8 vectors) —
# the SQL twin of operators/sample.quantize_int8
_QUANT_CTE = """
        WITH q AS (
            SELECT vec_id, embedding,
                   COALESCE(list_max(list_filter(
                            list_transform(embedding, x -> abs(CAST(x AS DOUBLE))),
                            a -> a < CAST('inf' AS DOUBLE))), 0.0) AS scale
            FROM embeddings),
        qq AS (
            SELECT vec_id, scale,
                   list_transform(embedding,
                       x -> CASE WHEN NOT (abs(CAST(x AS DOUBLE)) < CAST('inf' AS DOUBLE))
                                 THEN NULL
                            WHEN scale = 0 THEN 0
                            ELSE CAST(ROUND(CAST(x AS DOUBLE) / scale * 127, 0) AS INT)
                            END) AS qv
            FROM q)"""


@query(
    "embedding_quantize_int8",
    # symmetric per-vector int8 quantization + integer dot/norm vs the
    # quantized reference vector (vec_id 0) + reconstruction error.
    # Integer sums are order-free; the float steps (abs/div/mul/round)
    # are IEEE-identical cross-engine.
    # DuckDB's list_sum SKIPS NULL elements (a silently-partial dot on
    # a corrupt vector); Spark's F.aggregate propagates NULL. NULL is
    # the honest value for an undefined sum, so the any-NULL CASE
    # guards mirror Spark's propagation exactly.
    oracle=_QUANT_CTE + """,
        r AS (SELECT qv AS ref_q FROM qq WHERE vec_id = 0)
        SELECT vec_id,
               ROUND(scale, 6) AS scale_r,
               CASE WHEN len(list_filter(qv, x -> x IS NULL)) = 0
                    THEN CAST(list_sum([CAST(qv[i] AS BIGINT) * qv[i]
                              for i in range(1, len(qv) + 1)]) AS BIGINT) END AS qnorm,
               CASE WHEN len(list_filter(qv, x -> x IS NULL)) = 0
                     AND len(list_filter(ref_q, x -> x IS NULL)) = 0
                    THEN CAST(list_sum([CAST(qv[i] AS BIGINT) * ref_q[i]
                              for i in range(1, len(qv) + 1)]) AS BIGINT) END AS qdot_ref
        FROM qq CROSS JOIN r
    """,
)
def embedding_quantize_int8(spark, sf_dir):
    """Int8 vector compression for the ANN path: 4× smaller storage,
    integer bucket scoring. Reference vector broadcast (one row)."""
    e = load(spark, sf_dir, "embeddings")
    q = e.select("vec_id", quantize_int8(F.col("embedding")).alias("qs")).select(
        "vec_id", F.col("qs.scale").alias("scale"), F.col("qs.q").alias("qv")
    )
    ref = q.filter(F.col("vec_id") == 0).select(F.col("qv").alias("ref_q"))
    prods_self = F.transform(F.col("qv"), lambda x: x.cast("long") * x)
    prods_ref = F.zip_with(F.col("qv"), F.col("ref_q"), lambda a, b: a.cast("long") * b)
    acc0 = F.lit(0).cast("long")
    return q.crossJoin(F.broadcast(ref)).select(
        "vec_id",
        F.round(F.col("scale"), 6).alias("scale_r"),
        F.aggregate(prods_self, acc0, lambda a, x: a + x).alias("qnorm"),
        F.aggregate(prods_ref, acc0, lambda a, x: a + x).alias("qdot_ref"),
    )


@query(
    "ann_quantized_topk",
    # brute-force cosine top-10 over int8-quantized vectors: the
    # per-vector scale cancels out of cosine, so the score is a pure
    # function of the integer q-vectors (order-free integer dots, one
    # IEEE sqrt/div at the end) — the memory-efficient configuration
    # of the ANN path (4× smaller vectors than knn_cosine_topk's).
    # TakeOrderedAndProject on the rounded score, ties by vec_id.
    # any-NULL guards mirror Spark's NULL-propagating F.aggregate
    # (DuckDB list_sum would compute a silently-partial dot on corrupt
    # vectors); NULL qn/rn then fails the > 0 filter on both engines
    oracle=_QUANT_CTE + """,
        r AS (SELECT qv AS ref_q,
                     CASE WHEN len(list_filter(qv, x -> x IS NULL)) = 0
                          THEN CAST(list_sum([CAST(qv[i] AS BIGINT) * qv[i]
                                    for i in range(1, len(qv) + 1)]) AS BIGINT) END AS rn
              FROM qq WHERE vec_id = 0),
        s AS (
            SELECT vec_id,
                   CASE WHEN len(list_filter(qv, x -> x IS NULL)) = 0
                         AND len(list_filter(ref_q, x -> x IS NULL)) = 0
                        THEN CAST(list_sum([CAST(qv[i] AS BIGINT) * ref_q[i]
                                  for i in range(1, len(qv) + 1)]) AS BIGINT) END AS qdot,
                   CASE WHEN len(list_filter(qv, x -> x IS NULL)) = 0
                        THEN CAST(list_sum([CAST(qv[i] AS BIGINT) * qv[i]
                                  for i in range(1, len(qv) + 1)]) AS BIGINT) END AS qn,
                   rn
            FROM qq CROSS JOIN r
            WHERE vec_id <> 0)
        SELECT vec_id,
               ROUND(qdot / (sqrt(CAST(qn AS DOUBLE)) * sqrt(CAST(rn AS DOUBLE))), 6)
                   AS qcos
        FROM s
        WHERE qn > 0 AND rn > 0
        ORDER BY qcos DESC, vec_id
        LIMIT 10
    """,
)
def ann_quantized_topk(spark, sf_dir):
    """Int8 brute-force cosine top-k (query = vec 0, broadcast): the
    exact-scoring baseline for quantized ANN; compose with SRP-LSH
    bucketing (operators/search.py) for the bucketed scale path."""
    e = load(spark, sf_dir, "embeddings")
    q = e.select("vec_id", quantize_int8(F.col("embedding")).alias("qs")).select(
        "vec_id", F.col("qs.q").alias("qv")
    )
    acc0 = F.lit(0).cast("long")
    qnorm = F.aggregate(
        F.transform(F.col("qv"), lambda x: x.cast("long") * x), acc0, lambda a, x: a + x
    )
    ref = q.filter(F.col("vec_id") == 0).select(
        F.col("qv").alias("ref_q"), qnorm.alias("rn")
    )
    scored = (
        q.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(ref))
        .select(
            "vec_id",
            F.aggregate(
                F.zip_with(F.col("qv"), F.col("ref_q"), lambda a, b: a.cast("long") * b),
                acc0,
                lambda a, x: a + x,
            ).alias("qdot"),
            qnorm.alias("qn"),
            "rn",
        )
    )
    return (
        # qn/rn > 0 guards the ANSI division on BOTH engines: all-zero
        # vectors quantize to all-zero q (quantize_int8's documented
        # guard), and an unguarded 0/0 aborts the job under ANSI
        scored.filter((F.col("qn") > 0) & (F.col("rn") > 0))
        .select(
            "vec_id",
            F.round(
                F.col("qdot")
                / (F.sqrt(F.col("qn").cast("double")) * F.sqrt(F.col("rn").cast("double"))),
                6,
            ).alias("qcos"),
        )
        .orderBy(F.desc("qcos"), "vec_id")
        .limit(10)
    )


_SHARD_KEY = S.md5long("doc_id::VARCHAR || '#shard-v1'")
_SHARD_SIZE = 64


@query(
    "global_shuffle_shard_plan",
    # deterministic global shuffle (order by salted hash, ties by id)
    # -> exact global rank -> fixed-size shard assignment. The manifest
    # aggregates per shard: contiguous rank ranges + id/char sums make
    # any misplaced doc hash-visible. ROW_NUMBER here is the oracle
    # twin of the scale-safe global_rank (no single-task sort).
    oracle=f"""
        WITH k AS (SELECT doc_id, n_chars, {_SHARD_KEY} AS skey FROM documents),
             r AS (SELECT doc_id, n_chars,
                          ROW_NUMBER() OVER (ORDER BY skey, doc_id) AS rnk
                   FROM k)
        SELECT CAST((rnk - 1) // {_SHARD_SIZE} AS INT) AS shard_id,
               COUNT(*) AS n_docs,
               CAST(MIN(rnk) AS INT) AS rnk_min,
               CAST(MAX(rnk) AS INT) AS rnk_max,
               CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        FROM r GROUP BY 1
    """,
)
def global_shuffle_shard_plan(spark, sf_dir):
    """Training-export terminal step: deterministic corpus-wide shuffle
    (salted-hash order — stable under re-runs and repartitioning,
    unlike orderBy(rand())) then fixed-size shard assignment with a
    per-shard manifest. Scale shape: global_rank's single parallel
    range shuffle; the manifest agg is map-side-combinable and
    shard-count-sized. A resumable 10^12-doc export writes each shard
    from its rank range without re-shuffling completed shards."""
    from docling_api_spark.functions.hashing import md5_long

    d = load(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id",
        "n_chars",
        md5_long(F.concat(F.col("doc_id").cast("string"), F.lit("#shard-v1"))).alias(
            "skey"
        ),
    )
    ranked = global_rank(keyed, [F.col("skey"), F.col("doc_id")], rank_col="rnk")
    return (
        ranked.withColumn(
            "shard_id", F.expr(f"(rnk - 1) div {_SHARD_SIZE}").cast("int")
        )
        .groupBy("shard_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("rnk").alias("rnk_min"),
            F.max("rnk").alias("rnk_max"),
            F.sum("doc_id").alias("sum_ids"),
            F.sum("n_chars").alias("sum_chars"),
        )
    )


@query(
    "bigram_lm_surprisal",
    # CCNet's LM-perplexity quality filter, made cross-engine-exact: a
    # bigram LM with add-one smoothing trained on the corpus itself,
    # scored in INTEGER log2-bucketed surprisal — s = floor(log2(
    # (c_prev + V) / (c_bigram + 1))) computed as length(bin(intdiv))
    # - 1, so there is no libm log and no order-sensitive float sum
    # anywhere (the same discipline unigram_rarity_stats documents).
    # kept = doc's mean surprisal at or below the corpus median —
    # fluent text (seen bigrams) scores low, OCR noise scores high.
    oracle=f"""
        WITH base AS (SELECT doc_id, {S.toks("text")} AS t FROM documents),
        uc AS (SELECT tok, COUNT(*) AS cnt
               FROM (SELECT unnest(t) AS tok FROM base) GROUP BY tok),
        v AS (SELECT COUNT(*) AS vocab FROM uc),
        bg AS (SELECT doc_id, t[i-1] AS w1, t[i] AS w2
               FROM base, unnest(range(2, CAST(len(t) + 1 AS BIGINT))) AS u(i)),
        bc AS (SELECT w1, w2, COUNT(*) AS bcnt FROM bg GROUP BY w1, w2),
        sc AS (SELECT bg.doc_id,
                      length(bin((uc.cnt + v.vocab) // (bc.bcnt + 1))) - 1 AS s
               FROM bg JOIN bc USING (w1, w2)
                       JOIN uc ON uc.tok = bg.w1
                       CROSS JOIN v),
        pd AS (SELECT doc_id, COUNT(*) AS n_bigrams,
                      CAST(SUM(s) AS BIGINT) AS surprisal_sum,
                      CAST(SUM(s) AS BIGINT) / CAST(COUNT(*) AS DOUBLE) AS mean_raw
               FROM sc GROUP BY doc_id),
        med AS (SELECT quantile_cont(mean_raw, 0.5) AS med FROM pd)
        SELECT doc_id,
               CAST(n_bigrams AS BIGINT) AS n_bigrams,
               surprisal_sum,
               ROUND(mean_raw, 4) AS mean_surprisal,
               mean_raw <= med AS kept
        FROM pd CROSS JOIN med
    """,
)
def bigram_lm_surprisal(spark, sf_dir):
    """LM-quality filter (CCNet family): score each doc by the mean
    integer surprisal of its bigrams under an add-one-smoothed bigram
    model trained on the corpus, keep docs at or below the median.

    The float-free surprisal (floor-log2 of an integer ratio via
    binary-string length) trades sub-bit precision for exact
    determinism — a real 100 TB run would swap in a KenLM scorer
    behind the same plan shape.

    Scale shape: the unigram and bigram count tables are vocab-sized
    (map-side-combined aggs); the scoring join keys are token strings
    with Zipf skew (AQE skew split, or broadcast the heavy-hitter
    head); bigram rows are (doc_id, w1, w2) — the document payload
    never shuffles. The per-doc table that feeds the median is one
    narrow row per doc."""
    from docling_api_spark.functions.hashing import tokens

    d = load(spark, sf_dir, "documents")
    base = d.select("doc_id", tokens(F.col("text")).alias("t"))
    # read twice (unigram counts + bigram explode): cache the
    # tokenized corpus, not the raw text
    base = base.persist()
    uc = (
        base.select(F.explode("t").alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("cnt"))
    )
    vocab = uc.agg(F.count("*").alias("vocab"))
    tt = F.col("t")
    bigrams = F.when(
        F.size(tt) >= 2,
        F.transform(
            F.sequence(F.lit(2), F.size(tt)),
            lambda i: F.struct(
                F.get(tt, i - 2).alias("w1"), F.get(tt, i - 1).alias("w2")
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    bg = base.select("doc_id", F.explode(bigrams).alias("b")).select(
        "doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2")
    )
    bc = bg.groupBy("w1", "w2").agg(F.count("*").alias("bcnt"))
    sc = (
        bg.join(bc, ["w1", "w2"])
        .join(uc.withColumnRenamed("tok", "w1"), "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            (F.length(F.bin(F.expr("(cnt + vocab) div (bcnt + 1)"))) - 1).alias("s"),
        )
    )
    pd = sc.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.sum("s").alias("surprisal_sum"),
        (F.sum("s") / F.count("*").cast("double")).alias("mean_raw"),
    )
    # pd feeds both the median agg and the final select: without the
    # cache the whole scoring join runs twice
    pd = pd.persist()
    med = pd.agg(F.percentile("mean_raw", F.lit(0.5)).alias("med"))
    return pd.crossJoin(F.broadcast(med)).select(
        "doc_id",
        "n_bigrams",
        "surprisal_sum",
        F.round("mean_raw", 4).alias("mean_surprisal"),
        (F.col("mean_raw") <= F.col("med")).alias("kept"),
    )


@query(
    "dsir_selection",
    # DSIR (arXiv:2302.03169) hashed-bigram importance weights with
    # target = the English subset (the usual "looks like the vetted
    # corpus" selection signal; lang counts at sf0.01: en 218 / rest
    # 282, so both distributions are well-populated). Weight = integer
    # floor-log2 of the smoothed target/raw likelihood ratio (bit
    # length of the 2^12-scaled integer ratio — no libm log), per-doc
    # score = integer sum over bigram occurrences.
    oracle=f"""
        WITH base AS (SELECT doc_id, lang = 'en' AS is_t, {S.toks("text")} AS t
                      FROM documents),
        bg AS (SELECT doc_id, is_t,
                      {S.md5long("t[i-1] || ' ' || t[i]")} % 1024 AS b
               FROM base, unnest(range(2, CAST(len(t) + 1 AS BIGINT))) AS u(i)),
        bc AS (SELECT b,
                      CAST(SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS ct,
                      CAST(SUM(CASE WHEN is_t THEN 0 ELSE 1 END) AS BIGINT) AS cr
               FROM bg GROUP BY b),
        tot AS (SELECT CAST(SUM(ct) AS BIGINT) AS tt_total,
                       CAST(SUM(cr) AS BIGINT) AS rr_total FROM bc),
        w AS (SELECT b,
                     length(bin(GREATEST(
                         ((ct + 1) * (rr_total + 1024) * 4096)
                         // ((cr + 1) * (tt_total + 1024)), 1))) - 13 AS w
              FROM bc CROSS JOIN tot),
        pd AS (SELECT doc_id, COUNT(*) AS nf, CAST(SUM(w) AS BIGINT) AS sc,
                      CAST(SUM(w) AS BIGINT) / CAST(COUNT(*) AS DOUBLE) AS mean_raw
               FROM bg JOIN w USING (b) GROUP BY doc_id),
        med AS (SELECT quantile_cont(mean_raw, 0.5) AS med FROM pd)
        SELECT doc_id,
               CAST(nf AS BIGINT) AS n_feats,
               sc AS dsir_score,
               ROUND(mean_raw, 6) AS mean_weight,
               mean_raw >= med AS kept
        FROM pd CROSS JOIN med
    """,
)
def dsir_selection(spark, sf_dir):
    """DSIR importance-resampling selection scores for every document
    (target = English subset). See operators/sample.py:dsir_weights
    for the integer-exact weight construction and the broadcast-only
    scoring join's scale rationale."""
    from docling_api_spark.operators.sample import dsir_weights

    d = load(spark, sf_dir, "documents")
    return dsir_weights(d, F.col("lang") == "en").withColumnRenamed("id", "doc_id")


_DOMCAP_H = S.md5long("doc_id::VARCHAR || '#domcap-v1'")
_GSPLIT_B = S.md5long("source || '#gsplit-v1'") + " % 1000"


@query(
    "domain_frequency_cap",
    # RefinedWeb-style per-domain cap: keep the 10 hash-ranked docs per
    # source. Per-domain kept counts + kept-id sums make every rank
    # decision hash-visible (one swapped rank changes kept_id_sum).
    oracle=f"""
        WITH r AS (
            SELECT doc_id, source,
                   ROW_NUMBER() OVER (PARTITION BY source
                                      ORDER BY {_DOMCAP_H}, doc_id) AS dom_rank
            FROM documents)
        SELECT source,
               COUNT(*) AS n_docs,
               CAST(SUM(CASE WHEN dom_rank <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               CAST(SUM(CASE WHEN dom_rank <= 10 THEN doc_id ELSE 0 END) AS BIGINT) AS kept_id_sum
        FROM r GROUP BY source
    """,
)
def domain_frequency_cap(spark, sf_dir):
    """Per-domain frequency cap (RefinedWeb §3.2 style): at most N docs
    per source, hash-rank selected. See operators/sample.py:
    domain_cap_keep for the narrow-window scale shape."""
    from docling_api_spark.operators.sample import domain_cap_keep

    d = load(spark, sf_dir, "documents")
    return domain_cap_keep(d, cap=10).groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("kept"), 1).otherwise(0)).alias("n_kept"),
        F.sum(F.when(F.col("kept"), F.col("doc_id")).otherwise(0)).alias("kept_id_sum"),
    )


@query(
    "group_leakage_split",
    # Split keyed by GROUP (source), not doc: a group's docs can never
    # straddle train/eval. n_sources + per-split id sums pin every
    # group's assignment; n_splits_per_source = 1 is structural (split
    # is a function of source) and the oracle re-derives it.
    oracle=f"""
        WITH t AS (
            SELECT doc_id, source, n_chars,
                   CASE WHEN {_GSPLIT_B} < 100 THEN 'test'
                        WHEN {_GSPLIT_B} < 200 THEN 'val'
                        ELSE 'train' END AS split
            FROM documents)
        SELECT split,
               COUNT(DISTINCT source) AS n_sources,
               COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
               CAST(SUM(doc_id) AS BIGINT) AS sum_ids
        FROM t GROUP BY split
    """,
)
def group_leakage_split(spark, sf_dir):
    """Leakage-safe group-keyed split: near-dups share a domain, a
    domain shares a split, so contamination across the train/eval
    boundary is structurally impossible. Zero-shuffle scan predicate —
    see operators/sample.py:group_split."""
    from docling_api_spark.operators.sample import group_split

    d = load(spark, sf_dir, "documents")
    return group_split(d).groupBy("split").agg(
        F.count_distinct("source").alias("n_sources"),
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum("doc_id").alias("sum_ids"),
    )


@query(
    "ccnet_perplexity_buckets",
    # CCNet's actual selection mechanism (the step after the LM score
    # bigram_lm_surprisal computes): docs are bucketed into per-LANGUAGE
    # perplexity terciles — head/middle/tail — and downstream pipelines
    # keep head(+middle). Tercile assignment is by cutoff VALUE: the
    # oracle derives c1/c2 as the m at ranks ceil(n/3)/ceil(2n/3) —
    # exactly the element percentile_approx's exact mode returns —
    # then assigns m <= c, so the Spark sketch path matches
    # bit-for-bit at gate scale and boundary ties land wholly in the
    # lower bucket on both engines (no doc_id tie-break needed).
    oracle=f"""
        WITH base AS (SELECT doc_id, lang, {S.toks("text")} AS t FROM documents),
        uc AS (SELECT tok, COUNT(*) AS cnt
               FROM (SELECT unnest(t) AS tok FROM base) GROUP BY tok),
        v AS (SELECT COUNT(*) AS vocab FROM uc),
        bg AS (SELECT doc_id, t[i-1] AS w1, t[i] AS w2
               FROM base, unnest(range(2, CAST(len(t) + 1 AS BIGINT))) AS u(i)),
        bc AS (SELECT w1, w2, COUNT(*) AS bcnt FROM bg GROUP BY w1, w2),
        sc AS (SELECT bg.doc_id,
                      length(bin((uc.cnt + v.vocab) // (bc.bcnt + 1))) - 1 AS s
               FROM bg JOIN bc USING (w1, w2)
                       JOIN uc ON uc.tok = bg.w1
                       CROSS JOIN v),
        pd AS (SELECT doc_id,
                      CAST(SUM(s) AS BIGINT) / CAST(COUNT(*) AS DOUBLE) AS m
               FROM sc GROUP BY doc_id),
        pl AS (SELECT b.doc_id, b.lang, pd.m
               FROM pd JOIN base b ON pd.doc_id = b.doc_id),
        rk AS (SELECT doc_id, lang, m,
                      ROW_NUMBER() OVER (PARTITION BY lang
                                         ORDER BY m, doc_id) AS r,
                      COUNT(*) OVER (PARTITION BY lang) AS n
               FROM pl),
        cuts AS (SELECT lang,
                        MAX(CASE WHEN r = CEIL(n / 3.0) THEN m END) AS c1,
                        MAX(CASE WHEN r = CEIL(2 * n / 3.0) THEN m END) AS c2
                 FROM rk GROUP BY lang)
        SELECT rk.doc_id, rk.lang, ROUND(rk.m, 4) AS mean_surprisal,
               CASE WHEN rk.m <= cuts.c1 THEN 'head'
                    WHEN rk.m <= cuts.c2 THEN 'middle'
                    ELSE 'tail' END AS bucket
        FROM rk JOIN cuts USING (lang)
    """,
)
def ccnet_perplexity_buckets(spark, sf_dir):
    """CCNet head/middle/tail bucketing: per-language surprisal
    terciles over the add-one bigram LM score (the selection step of
    arXiv:1911.00359 §4.3 — CCNet keeps the head/middle buckets).

    The scoring block mirrors bigram_lm_surprisal (kept inline there —
    this round's driver-prefix change-tracking pins that query's code);
    the new step is the per-language tercile via VALUE cutoffs: a
    percentile_approx sketch (GK, accuracy 10^6) yields the per-lang
    cutoff values c1/c2, then assignment is a map-only `m <= c`
    compare after a broadcast join of the lang-cardinality cutoff
    table. No per-language window: ranking inside Window.partitionBy
    (lang) puts one whole language in ONE task — with Zipf-skewed
    langs ('en' dominates) that is a single-task sort of half the
    corpus at 100 TB (VERDICT r4 ask #6). The GK sketch is mergeable
    and map-side combined, so no key is hot anywhere.

    Exactness: with accuracy >= the per-lang doc count the sketch is
    EXACT and returns the element at rank ceil(p*n) (verified against
    Spark 4.1's ApproximatePercentile); the oracle computes the same
    rank-ceil(n/3)/ceil(2n/3) cutoff values and applies the same
    value-based assignment, so the driver hash matches bit-for-bit at
    gate scale. Past ~10^6 docs per language the cutoff acquires GK's
    documented bounded rank error (CCNet itself uses sampled cutoffs
    there — arXiv:1911.00359 §4.3); assignment stays value-exact
    against whatever cutoff the sketch picked. Value cutoffs put
    boundary TIES wholly in the lower bucket on both engines — no
    doc_id tie-break needed, unlike the r1-r4 rank-per-row rule.
    Pinned by tests/test_plan_contracts.py::test_ccnet_buckets_no_per_lang_sort.
    """
    from docling_api_spark.functions.hashing import tokens

    d = load(spark, sf_dir, "documents")
    base = d.select("doc_id", "lang", tokens(F.col("text")).alias("t")).persist()
    uc = (
        base.select(F.explode("t").alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("cnt"))
    )
    vocab = uc.agg(F.count("*").alias("vocab"))
    tt = F.col("t")
    bigrams = F.when(
        F.size(tt) >= 2,
        F.transform(
            F.sequence(F.lit(2), F.size(tt)),
            lambda i: F.struct(
                F.get(tt, i - 2).alias("w1"), F.get(tt, i - 1).alias("w2")
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    bg = base.select("doc_id", F.explode(bigrams).alias("b")).select(
        "doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2")
    )
    bc = bg.groupBy("w1", "w2").agg(F.count("*").alias("bcnt"))
    sc = (
        bg.join(bc, ["w1", "w2"])
        .join(uc.withColumnRenamed("tok", "w1"), "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            (F.length(F.bin(F.expr("(cnt + vocab) div (bcnt + 1)"))) - 1).alias("s"),
        )
    )
    pd = sc.groupBy("doc_id").agg(
        (F.sum("s") / F.count("*").cast("double")).alias("m")
    )
    pl = pd.join(base.select("doc_id", "lang"), "doc_id")
    # pl feeds both the cutoff sketch and the final assign: cache the
    # narrow (doc_id, m, lang) rows, not the scoring join
    pl = pl.persist()
    cuts = pl.groupBy("lang").agg(
        F.percentile_approx(
            "m", F.array(F.lit(1.0 / 3.0), F.lit(2.0 / 3.0)), F.lit(1000000)
        ).alias("c")
    )
    j = pl.join(F.broadcast(cuts), "lang")
    return j.select(
        "doc_id",
        "lang",
        F.round("m", 4).alias("mean_surprisal"),
        F.when(F.col("m") <= F.col("c")[0], "head")
        .when(F.col("m") <= F.col("c")[1], "middle")
        .otherwise("tail")
        .alias("bucket"),
    )
