"""Multimodal queries: binary payload → decode roundtrip.

The synthetic media payloads embed their dimensions via the same
md5-prefix-32 family the oracle can compute, so the full loop —
binary column synthesis (mapInPandas) → header decode (mapInPandas)
— is value-exactly checkable even though the pixels are fake.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from docling_api_spark.operators.multimodal import media_features, synthesize_media_table
from docling_api_spark.plans import _sql as S
from docling_api_spark.plans.registry import query
from docling_api_spark.sources.catalog import load


@query(
    "media_decode_dims",
    oracle=f"""
        SELECT doc_id || '/m0' AS media_ref,
               64 + ({S.md5long("doc_id || '/m0'")} % 64) AS width,
               48 + ({S.md5long("'h' || doc_id || '/m0'")} % 48) AS height,
               TRUE AS ok
        FROM documents
    """,
)
def media_decode_dims(spark, sf_dir):
    """Binary media columns round-trip: synthesize payload bytes per
    doc, decode headers back in a second Arrow-batched stage; decoded
    dims must equal the md5-derived generation rule."""
    docs = load(spark, sf_dir, "documents")
    media = synthesize_media_table(docs, per_doc=1)
    return media_features(media, dim=8).select("media_ref", "width", "height", "ok")


@query(
    "media_resize_plan",
    # resize PLANNING stays JVM-side metadata arithmetic (prunes the
    # expensive Python decode stage at 100 TB); target dims derive from
    # the same md5 family the oracle computes. scale is reported
    # rounded; targets use the unrounded scale on both engines.
    oracle=f"""
        WITH m AS (
            SELECT doc_id || '/m0' AS media_ref,
                   64 + ({S.md5long("doc_id || '/m0'")} % 64) AS width,
                   48 + ({S.md5long("'h' || doc_id || '/m0'")} % 48) AS height
            FROM documents)
        SELECT media_ref, width, height,
               ROUND(CASE WHEN GREATEST(width, height) > 96
                          THEN 96.0 / GREATEST(width, height) ELSE 1.0 END, 6) AS scale,
               CAST(CEIL(width * (CASE WHEN GREATEST(width, height) > 96
                          THEN 96.0 / GREATEST(width, height) ELSE 1.0 END)) AS INT) AS target_w,
               CAST(CEIL(height * (CASE WHEN GREATEST(width, height) > 96
                          THEN 96.0 / GREATEST(width, height) ELSE 1.0 END)) AS INT) AS target_h
        FROM m
    """,
)
def media_resize_plan(spark, sf_dir):
    from docling_api_spark.operators.multimodal import resize_plan

    docs = load(spark, sf_dir, "documents")
    media = synthesize_media_table(docs, per_doc=1)
    return resize_plan(media, max_side=96)


@query(
    "video_frame_plan",
    # frame-sampling PLAN (JVM-side metadata arithmetic; the decode
    # stage it prunes is the stubbed codec): uniform every 1 s capped
    # at 32 frames, per-frame target time + source frame number.
    # Synthetic per-doc video metadata is a pure function of doc_id.
    oracle="""
        WITH m AS (SELECT doc_id || '/v0' AS media_ref,
                          CAST(5 + doc_id % 50 AS DOUBLE) AS dur,
                          CAST(24 + (doc_id % 2) * 6 AS DOUBLE) AS fps
                   FROM documents),
        n AS (SELECT media_ref, dur, fps,
                     LEAST(CAST(FLOOR(dur / 1.0) AS INT) + 1, 32) AS nf
              FROM m),
        e AS (SELECT media_ref, dur, fps, nf,
                     unnest(range(0, nf)) AS fi
              FROM n)
        SELECT media_ref,
               CAST(fi AS INT) AS frame_index,
               ROUND(fi * (dur / nf), 3) AS frame_time_s,
               CAST(FLOOR(fi * (dur / nf) * fps) AS INT) AS source_frame
        FROM e
    """,
)
def video_frame_plan(spark, sf_dir):
    from docling_api_spark.operators.multimodal import frame_sample_plan

    docs = load(spark, sf_dir, "documents")
    media = docs.select(
        F.concat(F.col("doc_id").cast("string"), F.lit("/v0")).alias("media_ref"),
        (5 + F.col("doc_id") % 50).cast("double").alias("duration_s"),
        (24 + (F.col("doc_id") % 2) * 6).cast("double").alias("fps"),
    )
    return frame_sample_plan(media, every_s=1.0, max_frames=32)


@query(
    "multimodal_packing_plan",
    # Interleaved text+media training-sequence packing: each doc's cost
    # in the packed token stream is its text spans' whitespace tokens
    # plus a fixed 64-vision-token budget per image span (the
    # patch-grid budget a multimodal LM pays per image). Docs
    # concatenate in doc_id order and split at seq_len=512; a media
    # span is ATOMIC, so the audit also reports whether the image's
    # [media_start, media_start+64) interval straddles a sequence
    # boundary (those docs need re-padding at materialization time).
    # Rich-corpus spans are exact per-row functions (extract_rich_spans)
    # so every cost is SQL-computable.
    oracle=f"""
        WITH t AS (
            SELECT doc_id,
                   4 + len({S.toks("text")}) AS media_intra,
                   4 + len({S.toks("text")}) + 64 + 3
                     + len({S.toks("'lang | ' || lang || chr(10) || 'chars | ' || n_chars")})
                     AS doc_cost
            FROM documents
        ),
        p AS (
            SELECT doc_id, doc_cost, media_intra,
                   CAST(COALESCE(SUM(doc_cost) OVER (ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                        AS BIGINT) AS stream_offset
            FROM t
        )
        SELECT doc_id,
               CAST(doc_cost AS BIGINT) AS doc_cost,
               stream_offset,
               stream_offset // 512 AS first_seq,
               (stream_offset + doc_cost - 1) // 512 AS last_seq,
               CAST(stream_offset + media_intra AS BIGINT) AS media_start,
               ((stream_offset + media_intra) // 512
                <> (stream_offset + media_intra + 63) // 512) AS media_straddles
        FROM p
    """,
)
def multimodal_packing_plan(spark, sf_dir):
    """Token-budget packing plan for an interleaved text+media corpus
    (north-rule input shape), with media-atomicity audit.

    Scale shape: costs come from one narrow explode + hash-agg over
    the extraction span stream (per-span intra-doc offsets via a
    window partitioned by doc_id — bounded 5-row partitions); the
    global stream offset is the exact distributed exclusive prefix sum
    (operators/rank.py prefix_sum: one parallel range shuffle +
    broadcast per-partition totals), never an unpartitioned
    running-total window. Text never rides any shuffle — only
    (doc_id, ord, cost) rows."""
    from pyspark.sql import Window

    from docling_api_spark.functions.hashing import tokens
    from docling_api_spark.operators.extract import extract
    from docling_api_spark.operators.rank import prefix_sum
    from docling_api_spark.sources.catalog import wrap_documents_as_rich_corpus

    corpus = wrap_documents_as_rich_corpus(load(spark, sf_dir, "documents"))
    spans = extract(corpus).select(
        F.col("doc_id").cast("long").alias("doc_id"), F.explode("spans").alias("s")
    )
    per_span = spans.select(
        "doc_id",
        F.col("s.order").alias("ord"),
        F.col("s.kind").alias("kind"),
        F.when(F.col("s.kind") == "image", F.lit(64))
        .otherwise(F.size(tokens(F.col("s.text"))))
        .cast("long")
        .alias("cost"),
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("ord")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    with_intra = per_span.withColumn(
        "intra", F.coalesce(F.sum("cost").over(w), F.lit(0)).cast("long")
    )
    per_doc = with_intra.groupBy("doc_id").agg(
        F.sum("cost").cast("long").alias("doc_cost"),
        F.max(F.when(F.col("kind") == "image", F.col("intra"))).alias("media_intra"),
    )
    p = prefix_sum(per_doc, "doc_cost", ["doc_id"], out_col="stream_offset")
    media_start = (F.col("stream_offset") + F.col("media_intra")).cast("long")
    return p.select(
        "doc_id",
        "doc_cost",
        "stream_offset",
        F.expr("stream_offset div 512").alias("first_seq"),
        F.expr("(stream_offset + doc_cost - 1) div 512").alias("last_seq"),
        media_start.alias("media_start"),
        (
            F.expr("(stream_offset + media_intra) div 512")
            != F.expr("(stream_offset + media_intra + 63) div 512")
        ).alias("media_straddles"),
    )
