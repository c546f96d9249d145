"""Registered STREAMING queries (SURVEY.md §2.9) — the driver contract
runs real Structured Streaming jobs (availableNow trigger: drain the
backlog, commit the checkpoint, stop) and compares the final state
against the batch-semantics oracle. One micro-batch covers the whole
input here, so streaming state ≡ the batch computation — the equality
the oracle checks.
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import functions as F

from docling_api_spark.plans.registry import query


def _as_stream_dir(sf_dir: str, table: str) -> str:
    """File-source streams read a DIRECTORY; the testdata tables are
    single parquet files — link one into a temp dir."""
    d = tempfile.mkdtemp(prefix=f"stream_{table}_")
    os.symlink(os.path.abspath(f"{sf_dir}/{table}.parquet"), f"{d}/{table}.parquet")
    return d


@query(
    "streaming_sessionize",
    # applyInPandasWithState gap-sessionization, availableNow; final
    # per-user state must equal the batch lag+cumsum sessionization
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
def streaming_sessionize(spark, sf_dir):
    from docling_api_spark.streaming.pipeline import stream_sessionize

    name = f"sess_{uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="ckpt_sess_")
    q = stream_sessionize(spark, _as_stream_dir(sf_dir, "events"), ckpt, query_name=name)
    # fail LOUDLY on timeout instead of reading a mid-stream memory
    # sink (degraded-host windows inflate the drain 5-10x; a partial
    # read would masquerade as a semantics regression)
    if not q.awaitTermination(300):
        raise RuntimeError("streaming drain timed out")
    # update-mode memory sink: each micro-batch APPENDS that batch's
    # updated users, so reduce to final state per user. Both outputs
    # are monotone (counts only grow), so max IS the last update —
    # exact however availableNow sliced the backlog (single batch
    # here, where this is a no-op reshape).
    return (
        spark.table(name)
        .groupBy("user_id")
        .agg(
            F.max("n_sessions").alias("n_sessions"),
            F.max("n_events").alias("n_events"),
        )
    )


@query(
    "streaming_windowed_metrics",
    # watermarked tumbling-window aggregation, availableNow complete
    # mode; equals the batch tumbling aggregation when no data is late
    # past the watermark (single-batch input)
    oracle="""
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
               event_type,
               COUNT(*) AS n,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS value_sum
        FROM events
        GROUP BY 1, 2
    """,
)
def streaming_windowed_metrics(spark, sf_dir):
    from docling_api_spark.streaming.pipeline import stream_metrics_query

    name = f"metrics_{uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="ckpt_metrics_")
    q = stream_metrics_query(spark, _as_stream_dir(sf_dir, "events"), ckpt, query_name=name)
    # fail LOUDLY on timeout instead of reading a mid-stream memory
    # sink (degraded-host windows inflate the drain 5-10x; a partial
    # read would masquerade as a semantics regression)
    if not q.awaitTermination(300):
        raise RuntimeError("streaming drain timed out")
    t = spark.table(name)
    # NTZ→TZ→window→format round-trips the wall clock (same reason
    # windowed_event_counts stays TZ-robust)
    return t.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n",
        "value_sum",
    )


@query(
    "streaming_exact_dedup",
    # stateful streaming hash-dedup (complete mode, availableNow); the
    # final state store contents must equal the batch dedup_exact
    # aggregation — MIN/COUNT commute across micro-batches, so the
    # survivor decision is batch-identical by construction
    oracle="""
        WITH dup_corpus AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
            UNION ALL
            SELECT doc_id + 2000000 AS doc_id, text || ' near dup tail' AS text
            FROM documents WHERE doc_id % 10 = 5
        )
        SELECT CAST('0x'||substr(md5(text),1,8) AS BIGINT) AS content_hash,
               MIN(doc_id) AS keep_id,
               COUNT(*) AS n_copies
        FROM dup_corpus
        GROUP BY 1
    """,
)
def streaming_exact_dedup(spark, sf_dir):
    """Streaming twin of dedup_exact: incremental hash-groupBy dedup
    through the streaming state store (see
    streaming/pipeline.py:stream_exact_dedup for the scale notes)."""
    from docling_api_spark.streaming.pipeline import stream_exact_dedup

    name = f"dedup_{uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="ckpt_dedup_")
    q = stream_exact_dedup(spark, _as_stream_dir(sf_dir, "documents"), ckpt, query_name=name)
    # fail LOUDLY on timeout instead of reading a mid-stream memory
    # sink (degraded-host windows inflate the drain 5-10x; a partial
    # read would masquerade as a semantics regression)
    if not q.awaitTermination(300):
        raise RuntimeError("streaming drain timed out")
    return spark.table(name)


@query(
    "streaming_incremental_dedup",
    # foreachBatch ingest dedup: every micro-batch of new (planted)
    # docs probes the STATIC corpus's banded MinHash keys; per-new-doc
    # matches are independent of batching, so the drained parquet sink
    # must equal the batch incremental_near_dup — the same brute-force
    # cross-side Jaccard ground truth oracles both.
    oracle="""
        WITH dup_corpus AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
            UNION ALL
            SELECT doc_id + 2000000 AS doc_id, text || ' near dup tail' AS text
            FROM documents WHERE doc_id % 10 = 5
        ),
        sh AS (SELECT doc_id,
                      list_distinct([t.tok[i]||' '||t.tok[i+1]||' '||t.tok[i+2]
                                     for i in range(1, len(t.tok)-1)]) AS sh
               FROM (SELECT doc_id,
                            list_filter(string_split_regex(text,'\\s+'), x -> x <> '') AS tok
                     FROM dup_corpus) t),
        p AS (
            SELECT n.doc_id AS a, o.doc_id AS b,
                   CASE WHEN len(list_distinct(n.sh || o.sh)) > 0 THEN
                        len(list_intersect(n.sh, o.sh)) /
                        CAST(len(list_distinct(n.sh || o.sh)) AS DOUBLE)
                   END AS jr
            FROM sh n JOIN sh o
              ON n.doc_id >= 1000000 AND o.doc_id < 1000000)
        SELECT a, b, ROUND(jr, 4) AS jac FROM p WHERE jr >= 0.8
    """,
)
def streaming_incremental_dedup(spark, sf_dir):
    from docling_api_spark.streaming.pipeline import stream_incremental_near_dup

    ckpt = tempfile.mkdtemp(prefix="ckpt_incdup_")
    out = tempfile.mkdtemp(prefix="out_incdup_") + "/matches"
    q = stream_incremental_near_dup(spark, _as_stream_dir(sf_dir, "documents"), ckpt, out)
    # fail LOUDLY on timeout instead of reading a mid-stream sink
    if not q.awaitTermination(300):
        raise RuntimeError("streaming drain timed out")
    # the sink is one batch=<id> partition dir per micro-batch (the
    # idempotent-replay discipline) — drop the partition column
    return spark.read.parquet(out).select("a", "b", "jac")
