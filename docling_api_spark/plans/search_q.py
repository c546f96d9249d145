"""Composed retrieval-lifecycle queries (SURVEY.md §3.3) and
sessionization (the stateful-operator family, batch-expressible).

`search_pipeline` is the reference's POST /search end-to-end in one
Catalyst plan: KNN top-k → metadata join → score transform → context
formatting → final ordering (services/rag_service.py:53-131), with
the over-fetch heuristic (T3) made unnecessary by pushdown.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from docling_api_spark.operators.search import knn_topk
from docling_api_spark.plans import _sql as S
from docling_api_spark.plans.registry import query
from docling_api_spark.sources.catalog import load

DIM = 64


@query(
    "search_pipeline",
    # KNN over embeddings (vec_id keys the documents table here: the
    # driver's synthetic tables stand in for chunks/docs) → join doc
    # metadata → score 1/(1+dist)-style transform → formatted context
    # (F9, services/rag_service.py:128-131) → top-k
    oracle=f"""
        WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        scored AS (
            SELECT e.vec_id, {S.cosine("e.embedding", "q.qv", DIM)} AS sim
            FROM embeddings e CROSS JOIN q
            WHERE e.vec_id <> 0
        ),
        topk AS (SELECT * FROM scored ORDER BY sim DESC, vec_id LIMIT 5)
        SELECT t.vec_id,
               ROUND(1.0 / (1.0 + (1.0 - t.sim)), 6) AS score,
               '[Source: ' || d.source || ', Page: ' || (d.doc_id % 10) || ']' ||
               chr(10) || substr(d.text, 1, 40) AS context
        FROM topk t JOIN documents d ON d.doc_id = t.vec_id
        ORDER BY score DESC, t.vec_id
    """,
)
def search_pipeline(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings")
    d = load(spark, sf_dir, "documents")
    qv = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    topk = knn_topk(e.filter(F.col("vec_id") != 0), qv, k=5)
    joined = topk.join(F.broadcast(d), topk.vec_id == d.doc_id)
    return joined.select(
        "vec_id",
        F.round(1.0 / (1.0 + (1.0 - F.col("sim"))), 6).alias("score"),
        F.format_string(
            "[Source: %s, Page: %d]\n%s",
            F.col("source"),
            (F.col("doc_id") % 10).cast("int"),
            F.substring(F.col("text"), 1, 40),
        ).alias("context"),
    ).orderBy(F.desc("score"), "vec_id")


@query(
    "sessionize_events",
    # gap-based sessionization (30-min inactivity starts a new
    # session): the batch twin of the stateful-streaming session
    # operator; classic lag + conditional cumsum
    oracle="""
        WITH o AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                             > INTERVAL 30 MINUTE OR
                             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                        THEN 1 ELSE 0 END AS new_sess
            FROM events
        ),
        s AS (SELECT user_id,
                     SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                         ROWS UNBOUNDED PRECEDING) AS session_id
              FROM o)
        SELECT user_id, COUNT(DISTINCT session_id) AS n_sessions, COUNT(*) AS n_events
        FROM s GROUP BY user_id
    """,
)
def sessionize_events(spark, sf_dir):
    ev = load(spark, sf_dir, "events").withColumn("tsec", F.unix_timestamp(F.col("ts").cast("timestamp")))
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    new_sess = F.when(F.col("tsec") - F.lag("tsec").over(w) > 1800, 1).otherwise(
        F.when(F.lag("ts").over(w).isNull(), 1).otherwise(0)
    )
    wsum = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    sess = ev.withColumn("new_sess", new_sess).withColumn(
        "session_id", F.sum("new_sess").over(wsum)
    )
    return sess.groupBy("user_id").agg(
        F.countDistinct("session_id").alias("n_sessions"),
        F.count("*").alias("n_events"),
    )


@query(
    "session_funnel",
    # Session funnel conversion: the sessionize construction (same lag
    # + conditional-cumsum, one user_id shuffle) rolled up per session
    # to view/click/purchase flags, then the corpus-level funnel —
    # sessions at each stage and the strict view->click->purchase
    # completion count. All windows share the user_id partitioning.
    oracle="""
        WITH o AS (
            SELECT user_id, ts, event_id, event_type,
                   CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                             > INTERVAL 30 MINUTE OR
                             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                        THEN 1 ELSE 0 END AS new_sess
            FROM events
        ),
        s AS (SELECT user_id, event_type,
                     SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                         ROWS UNBOUNDED PRECEDING) AS session_id
              FROM o),
        per AS (
            SELECT user_id, session_id,
                   MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS has_view,
                   MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS has_click,
                   MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS has_purchase
            FROM s GROUP BY user_id, session_id
        )
        SELECT COUNT(*) AS n_sessions,
               CAST(SUM(has_view) AS BIGINT) AS n_view,
               CAST(SUM(has_view * has_click) AS BIGINT) AS n_view_click,
               CAST(SUM(has_view * has_click * has_purchase) AS BIGINT) AS n_full_funnel
        FROM per
    """,
)
def session_funnel(spark, sf_dir):
    """view -> click -> purchase funnel over 30-min-gap sessions."""
    ev = load(spark, sf_dir, "events").withColumn(
        "tsec", F.unix_timestamp(F.col("ts").cast("timestamp"))
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    new_sess = F.when(F.col("tsec") - F.lag("tsec").over(w) > 1800, 1).otherwise(
        F.when(F.lag("ts").over(w).isNull(), 1).otherwise(0)
    )
    wsum = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    sess = ev.withColumn("session_id", F.sum(new_sess).over(wsum))

    def has(t: str):
        return F.max(F.when(F.col("event_type") == t, 1).otherwise(0))

    per = sess.groupBy("user_id", "session_id").agg(
        has("view").alias("has_view"),
        has("click").alias("has_click"),
        has("purchase").alias("has_purchase"),
    )
    return per.agg(
        F.count("*").alias("n_sessions"),
        F.sum("has_view").cast("long").alias("n_view"),
        F.sum(F.col("has_view") * F.col("has_click")).cast("long").alias("n_view_click"),
        F.sum(F.col("has_view") * F.col("has_click") * F.col("has_purchase"))
        .cast("long")
        .alias("n_full_funnel"),
    )
