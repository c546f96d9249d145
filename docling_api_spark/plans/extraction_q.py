"""Extraction-pipeline queries with SQL oracles.

The boilerplate-wrap round-trip makes the full kernel + Spark pipeline
oracle-checkable: wrap each document's text in boilerplate HTML, run
extraction, and the recovered content must equal the original text
(`SELECT doc_id, text`) — the strip is correct iff round-trip ≡ id.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from docling_api_spark.operators.extract import (
    extract,
    extract_flat,
    media_table,
    tables_table,
)
from docling_api_spark.operators.render import per_page_ndjson, render_markdown, render_text
from docling_api_spark.plans.registry import query
from docling_api_spark.sources.catalog import (
    load,
    wrap_documents_as_corpus,
    wrap_documents_as_rich_corpus,
)


@query(
    "extract_html_roundtrip",
    oracle="SELECT doc_id, text AS content FROM documents",
)
def extract_html_roundtrip(spark, sf_dir):
    corpus = wrap_documents_as_corpus(load(spark, sf_dir, "documents"))
    ext = extract(corpus)
    return ext.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        render_text(F.col("spans")).alias("content"),
    )


@query(
    "extract_span_counts",
    # wrapped docs always produce exactly 1 main-content span; the
    # boilerplate (header h1, nav links, ad sidebar, link-farm,
    # footer) must contribute zero spans.
    oracle="SELECT doc_id, 1 AS n_spans FROM documents",
)
def extract_span_counts(spark, sf_dir):
    corpus = wrap_documents_as_corpus(load(spark, sf_dir, "documents"))
    ext = extract(corpus)
    return ext.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.size("spans").alias("n_spans"),
    )


@query(
    "extract_metrics",
    # per-source extraction metrics (history-stats shape, SURVEY A1/A5)
    oracle="""
        SELECT source,
               COUNT(*) AS docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM documents GROUP BY source
    """,
)
def extract_metrics(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    corpus = wrap_documents_as_corpus(docs)
    flat = extract_flat(corpus)
    per_doc = flat.groupBy("doc_id").agg(F.sum(F.length("text")).alias("chars"))
    joined = per_doc.join(
        docs.select(F.col("doc_id").cast("string").alias("doc_id"), "source"), "doc_id"
    )
    return joined.groupBy("source").agg(
        F.count("*").alias("docs"), F.sum("chars").alias("total_chars")
    )


# ---------------------------------------------------------------------------
# Rich-corpus queries: heading + figure + table wrapped around each doc
# make structural extraction (D4/D5), caption attachment, markdown
# render, and per-page export all oracle-checkable (every element is a
# deterministic function of the row; see wrap_documents_as_rich_corpus).
# ---------------------------------------------------------------------------


@query(
    "extract_rich_spans",
    # the north-rule invariant itself: exact (kind, text, media_ref, order)
    oracle="""
        SELECT doc_id, 0 AS ord, 'heading' AS kind,
               'Heading for document ' || doc_id AS text, '' AS media_ref FROM documents
        UNION ALL SELECT doc_id, 1, 'text', text, '' FROM documents
        UNION ALL SELECT doc_id, 2, 'image', 'figure alt ' || doc_id, doc_id || '/m0' FROM documents
        UNION ALL SELECT doc_id, 3, 'caption', 'Figure caption ' || doc_id, '' FROM documents
        UNION ALL SELECT doc_id, 4, 'table',
               'lang | ' || lang || chr(10) || 'chars | ' || n_chars, '' FROM documents
    """,
)
def extract_rich_spans(spark, sf_dir):
    corpus = wrap_documents_as_rich_corpus(load(spark, sf_dir, "documents"))
    ext = extract(corpus)
    exploded = ext.select(F.col("doc_id").cast("long").alias("doc_id"), F.explode("spans").alias("s"))
    return exploded.select(
        "doc_id",
        F.col("s.order").alias("ord"),
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
    )


@query(
    "extract_media_sidecar",
    # D5 / reference ExtractedImage (core/models.py:356-394): one media
    # row per doc, caption attached from the adjacent caption span
    oracle="""
        SELECT doc_id, doc_id || '/m0' AS media_ref, 0 AS media_index,
               0 AS page_number, 'embedded' AS media_type,
               CAST(NULL AS VARCHAR) AS bbox,
               'Figure caption ' || doc_id AS caption
        FROM documents
    """,
)
def extract_media_sidecar(spark, sf_dir):
    corpus = wrap_documents_as_rich_corpus(load(spark, sf_dir, "documents"))
    flat = extract_flat(corpus)
    return media_table(flat).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "media_ref",
        "media_index",
        "page_number",
        "media_type",
        "bbox",
        "caption",
    )


@query(
    "media_page_render_fallback",
    # D5 page_render fallback (reference multimodal_service.py:99-152,
    # image_service.py:37-75): a doc with no embedded pictures yields
    # one whole-page render row per page. The 2-page PDF corpus has no
    # figure blocks, so every doc takes the fallback lane.
    oracle="""
        SELECT doc_id, doc_id || '/page_1' AS media_ref, 0 AS media_index,
               1 AS page_number, 'page_render' AS media_type,
               850 AS width, 1100 AS height
        FROM documents
        UNION ALL
        SELECT doc_id, doc_id || '/page_2', 1, 2, 'page_render', 850, 1100
        FROM documents
    """,
)
def media_page_render_fallback(spark, sf_dir):
    from docling_api_spark.sources.catalog import wrap_documents_as_pdf_corpus

    corpus = wrap_documents_as_pdf_corpus(load(spark, sf_dir, "documents"))
    flat = extract_flat(corpus)
    return media_table(flat).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "media_ref",
        "media_index",
        "page_number",
        "media_type",
        "width",
        "height",
    )


@query(
    "media_sidecar_dims",
    # D5 width/height (reference ExtractedImage carries pixel dims read
    # from the decoded image, core/models.py:356-394 + image_service
    # PIL size): payload table → Arrow decode (media_features) → dims
    # joined into the extraction sidecar on the narrow media_ref key.
    # The synthetic payload dims are md5-derived (multimodal.hash_str),
    # so the oracle reproduces them in SQL exactly.
    oracle="""
        SELECT doc_id,
               doc_id || '/m0' AS media_ref, 0 AS media_index,
               0 AS page_number, 'embedded' AS media_type,
               CAST(64 + CAST('0x'||substr(md5(doc_id || '/m0'),1,8) AS BIGINT) % 64 AS INT)
                   AS width,
               CAST(48 + CAST('0x'||substr(md5('h' || doc_id || '/m0'),1,8) AS BIGINT) % 48 AS INT)
                   AS height,
               'Figure caption ' || doc_id AS caption
        FROM documents
    """,
)
def media_sidecar_dims(spark, sf_dir):
    from docling_api_spark.operators.multimodal import (
        media_features,
        synthesize_media_table,
    )

    docs = load(spark, sf_dir, "documents")
    corpus = wrap_documents_as_rich_corpus(docs)
    flat = extract_flat(corpus)
    dims = media_features(synthesize_media_table(docs)).select(
        "media_ref", "width", "height"
    )
    return media_table(flat, media_dims=dims).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "media_ref",
        "media_index",
        "page_number",
        "media_type",
        "width",
        "height",
        "caption",
    )


@query(
    "extract_tables_sidecar",
    # D4 / reference ExtractedTable (core/models.py:315-353): cell grid
    # dims + markdown/html/csv renders (all three reference exports,
    # services/multimodal_service.py:53-59)
    oracle="""
        SELECT doc_id, 0 AS table_index, 0 AS page_number,
               2 AS num_rows, 2 AS num_cols,
               CAST(NULL AS VARCHAR) AS caption,
               '| lang | ' || lang || ' |' || chr(10) || '| --- | --- |' || chr(10) ||
               '| chars | ' || n_chars || ' |' AS markdown,
               '<table><tr><td>lang</td><td>' || lang || '</td></tr>' ||
               '<tr><td>chars</td><td>' || n_chars || '</td></tr></table>' AS html,
               'lang,' || lang || chr(10) || 'chars,' || n_chars AS csv
        FROM documents
    """,
)
def extract_tables_sidecar(spark, sf_dir):
    corpus = wrap_documents_as_rich_corpus(load(spark, sf_dir, "documents"))
    flat = extract_flat(corpus)
    return tables_table(flat).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "table_index",
        "page_number",
        "num_rows",
        "num_cols",
        "caption",
        "markdown",
        "html",
        "csv",
    )


@query(
    "render_markdown_rich",
    # S5 markdown export (export_to_markdown parity,
    # services/docling_converter.py:89-93)
    oracle="""
        SELECT doc_id,
               '## Heading for document ' || doc_id || chr(10) || chr(10) ||
               text || chr(10) || chr(10) ||
               '![figure alt ' || doc_id || '](' || doc_id || '/m0)' || chr(10) || chr(10) ||
               '*Figure caption ' || doc_id || '*' || chr(10) || chr(10) ||
               'lang | ' || lang || chr(10) || 'chars | ' || n_chars AS md
        FROM documents
    """,
)
def render_markdown_rich(spark, sf_dir):
    corpus = wrap_documents_as_rich_corpus(load(spark, sf_dir, "documents"))
    ext = extract(corpus)
    return ext.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        render_markdown(F.col("spans")).alias("md"),
    )


@query(
    "per_page_export",
    # S8 per-page export (stream_pages parity,
    # services/docling_streaming.py:19-38); html docs are single-page
    oracle="""
        SELECT doc_id, 0 AS page,
               'Heading for document ' || doc_id || chr(10) ||
               text || chr(10) ||
               'figure alt ' || doc_id || chr(10) ||
               'Figure caption ' || doc_id || chr(10) ||
               'lang | ' || lang || chr(10) || 'chars | ' || n_chars AS content
        FROM documents
    """,
)
def per_page_export(spark, sf_dir):
    corpus = wrap_documents_as_rich_corpus(load(spark, sf_dir, "documents"))
    flat = extract_flat(corpus)
    return per_page_ndjson(flat).select(
        F.col("doc_id").cast("long").alias("doc_id"), "page", "content"
    )


@query(
    "extract_pdf_layout",
    # XY-cut reading order (two-column page read left-before-right),
    # furniture (pageno/footer) dropped, pages concatenated in order
    oracle="""
        SELECT doc_id, 0 AS ord, 'heading' AS kind,
               'Heading for document ' || doc_id AS text FROM documents
        UNION ALL SELECT doc_id, 1, 'text', 'left column for document ' || doc_id FROM documents
        UNION ALL SELECT doc_id, 2, 'text', 'right column for document ' || doc_id FROM documents
        UNION ALL SELECT doc_id, 3, 'text', text FROM documents
    """,
)
def extract_pdf_layout(spark, sf_dir):
    from docling_api_spark.sources.catalog import wrap_documents_as_pdf_corpus

    corpus = wrap_documents_as_pdf_corpus(load(spark, sf_dir, "documents"))
    ext = extract(corpus)
    exploded = ext.select(F.col("doc_id").cast("long").alias("doc_id"), F.explode("spans").alias("s"))
    return exploded.select(
        "doc_id",
        F.col("s.order").alias("ord"),
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
    )


@query(
    "pdf_per_page_export",
    # S8 per-page export over a true multi-page doc
    oracle="""
        SELECT doc_id, 1 AS page,
               'Heading for document ' || doc_id || chr(10) ||
               'left column for document ' || doc_id || chr(10) ||
               'right column for document ' || doc_id AS content
        FROM documents
        UNION ALL SELECT doc_id, 2, text FROM documents
    """,
)
def pdf_per_page_export(spark, sf_dir):
    from docling_api_spark.sources.catalog import wrap_documents_as_pdf_corpus

    corpus = wrap_documents_as_pdf_corpus(load(spark, sf_dir, "documents"))
    flat = extract_flat(corpus)
    return per_page_ndjson(flat).select(
        F.col("doc_id").cast("long").alias("doc_id"), "page", "content"
    )


@query(
    "extract_docx_roundtrip",
    # D8 DOCX strip: style-mapped spans + 1×2 table
    oracle="""
        SELECT doc_id, 0 AS ord, 'heading' AS kind,
               'Heading for document ' || doc_id AS text FROM documents
        UNION ALL SELECT doc_id, 1, 'text', text FROM documents
        UNION ALL SELECT doc_id, 2, 'list_item', 'list item for document ' || doc_id FROM documents
        UNION ALL SELECT doc_id, 3, 'table', 'lang | ' || lang FROM documents
    """,
)
def extract_docx_roundtrip(spark, sf_dir):
    from docling_api_spark.sources.catalog import wrap_documents_as_docx_corpus

    corpus = wrap_documents_as_docx_corpus(load(spark, sf_dir, "documents"))
    ext = extract(corpus)
    exploded = ext.select(F.col("doc_id").cast("long").alias("doc_id"), F.explode("spans").alias("s"))
    return exploded.select(
        "doc_id",
        F.col("s.order").alias("ord"),
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
    )


@query(
    "size_gate_rejects",
    # S1/S2 oversize REJECTION path (reference returns 413 for
    # size > cap, services/file_utils.py:15-38): the engine keeps a
    # rejected-docs side output for observability instead of silently
    # dropping. Wrapped doc size = n_chars + fixed boilerplate
    # (255 + 130 bytes — pinned by this oracle: a wrapper change that
    # alters boilerplate size breaks parity loudly).
    oracle="""
        SELECT doc_id, n_chars + 385 AS size_bytes,
               'exceeds_max_size' AS reason
        FROM documents
        WHERE n_chars + 385 > 700
    """,
)
def size_gate_rejects(spark, sf_dir):
    corpus = wrap_documents_as_corpus(load(spark, sf_dir, "documents"))
    return corpus.filter(F.col("size_bytes") > 700).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "size_bytes",
        F.lit("exceeds_max_size").alias("reason"),
    )


@query(
    "render_dispatch",
    # S5 OutputFormat enum dispatch (services/docling_converter.py:23-28,
    # 89-97): per-doc selected render — text for even ids, markdown odd
    oracle="""
        SELECT doc_id,
               CASE WHEN doc_id % 2 = 0 THEN 'text' ELSE 'markdown' END AS fmt,
               CASE WHEN doc_id % 2 = 0 THEN
                    'Heading for document ' || doc_id || chr(10) ||
                    text || chr(10) ||
                    'Figure caption ' || doc_id || chr(10) ||
                    'lang | ' || lang || chr(10) || 'chars | ' || n_chars
               ELSE
                    '## Heading for document ' || doc_id || chr(10) || chr(10) ||
                    text || chr(10) || chr(10) ||
                    '![figure alt ' || doc_id || '](' || doc_id || '/m0)' || chr(10) || chr(10) ||
                    '*Figure caption ' || doc_id || '*' || chr(10) || chr(10) ||
                    'lang | ' || lang || chr(10) || 'chars | ' || n_chars
               END AS content
        FROM documents
    """,
)
def render_dispatch(spark, sf_dir):
    from docling_api_spark.operators.render import render_markdown

    corpus = wrap_documents_as_rich_corpus(load(spark, sf_dir, "documents"))
    ext = extract(corpus)
    fmt = F.when(F.col("doc_id").cast("long") % 2 == 0, "text").otherwise("markdown")
    content = F.when(
        fmt == "text", render_text(F.col("spans"))
    ).otherwise(render_markdown(F.col("spans")))
    return ext.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        fmt.alias("fmt"),
        content.alias("content"),
    )


@query(
    "extract_xlsx_roundtrip",
    # D8 XLSX grid: per-sheet heading + cell-grid table, sheet index as
    # page provenance (reference InputFormat.XLSX dispatch,
    # services/docling_converter.py:64-67; format list README.md:7)
    oracle="""
        SELECT doc_id, 0 AS ord, 'heading' AS kind, 'meta' AS text, 1 AS page FROM documents
        UNION ALL SELECT doc_id, 1, 'table',
               'lang | ' || lang || chr(10) || 'chars | ' || n_chars, 1 FROM documents
        UNION ALL SELECT doc_id, 2, 'heading', 'content', 2 FROM documents
        UNION ALL SELECT doc_id, 3, 'table', 'doc | ' || text, 2 FROM documents
    """,
)
def extract_xlsx_roundtrip(spark, sf_dir):
    from docling_api_spark.sources.catalog import wrap_documents_as_xlsx_corpus

    corpus = wrap_documents_as_xlsx_corpus(load(spark, sf_dir, "documents"))
    ext = extract(corpus)
    exploded = ext.select(F.col("doc_id").cast("long").alias("doc_id"), F.explode("spans").alias("s"))
    return exploded.select(
        "doc_id",
        F.col("s.order").alias("ord"),
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.page").alias("page"),
    )


@query(
    "extract_pptx_roundtrip",
    # D8 PPTX slides: title→heading, bullets→list_items, body→text,
    # pic→image; slide number as page provenance (reference
    # InputFormat.PPTX dispatch, services/docling_converter.py:64-67)
    oracle="""
        SELECT doc_id, 0 AS ord, 'heading' AS kind,
               'Deck for document ' || doc_id AS text, '' AS media_ref, 1 AS page FROM documents
        UNION ALL SELECT doc_id, 1, 'list_item', 'first point for ' || doc_id, '', 1 FROM documents
        UNION ALL SELECT doc_id, 2, 'list_item', 'second point for ' || doc_id, '', 1 FROM documents
        UNION ALL SELECT doc_id, 3, 'heading', 'Details for ' || doc_id, '', 2 FROM documents
        UNION ALL SELECT doc_id, 4, 'text', text, '', 2 FROM documents
        UNION ALL SELECT doc_id, 5, 'image', '', doc_id || '/s0', 2 FROM documents
    """,
)
def extract_pptx_roundtrip(spark, sf_dir):
    from docling_api_spark.sources.catalog import wrap_documents_as_pptx_corpus

    corpus = wrap_documents_as_pptx_corpus(load(spark, sf_dir, "documents"))
    ext = extract(corpus)
    exploded = ext.select(F.col("doc_id").cast("long").alias("doc_id"), F.explode("spans").alias("s"))
    return exploded.select(
        "doc_id",
        F.col("s.order").alias("ord"),
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
        F.col("s.page").alias("page"),
    )


@query(
    "extract_error_rows",
    # Per-doc error quarantine (reference records status='error' +
    # error_message per failed document, api/routes/documents.py:59-71,
    # 219-227): docs with a corrupt pdf page land in the quarantine
    # table with the exception class; every clean doc still extracts —
    # one poisoned doc never fails the batch.
    oracle="""
        SELECT doc_id,
               CASE WHEN doc_id % 10 = 0 THEN 'error' ELSE 'ok' END AS status,
               CASE WHEN doc_id % 10 = 0 THEN 'ValueError' ELSE '' END AS error_kind
        FROM documents
    """,
)
def extract_error_rows(spark, sf_dir):
    from docling_api_spark.operators.extract import ERROR_KIND, extract_flat, reassemble
    from docling_api_spark.sources.catalog import wrap_documents_as_pdf_corpus

    corpus = wrap_documents_as_pdf_corpus(load(spark, sf_dir, "documents"))
    # plant a malformed block (non-numeric coords) on page 2 of every
    # 10th doc — the pdf kernel raises ValueError on it
    poison = F.transform(
        "spans",
        lambda s: F.struct(
            s["kind"].alias("kind"),
            F.when(
                (F.col("doc_id").cast("long") % 10 == 0) & (s["offset"] == 2),
                F.lit("BLOCK xx,0,100,10,para|corrupt"),
            )
            .otherwise(s["text"])
            .alias("text"),
            s["media_ref"].alias("media_ref"),
            s["offset"].alias("offset"),
        ),
    )
    corpus = corpus.withColumn("spans", poison)
    # ONE kernel pass feeds both legs (this corpus is all multi-span,
    # so reassemble+no-error-filter ≡ extract(); a second extraction
    # pass would double the dominant per-span CPU)
    flat = extract_flat(corpus, keep_errors=True).persist()
    ok = (
        reassemble(flat)
        .filter(~F.exists("spans", lambda sp: sp["kind"] == ERROR_KIND))
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.lit("ok").alias("status"),
            F.lit("").alias("error_kind"),
        )
    )
    errs = (
        flat.filter(F.col("kind") == ERROR_KIND)
        .groupBy("doc_id")
        .agg(F.min("text").alias("error_message"))
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.lit("error").alias("status"),
            F.split("error_message", ":").getItem(0).alias("error_kind"),
        )
    )
    return ok.unionByName(errs)


@query(
    "ocr_dispatch",
    # D1 OCR toggle semantics (reference do_ocr / EasyOcrOptions /
    # force_full_page_ocr, services/docling_converter.py:46,56-61):
    # same corpus extracted twice — with OCR on, the scanned page
    # yields an ocr_text span (provenance in the kind vocabulary);
    # with OCR off it contributes nothing.
    oracle="""
        SELECT doc_id, 'on' AS mode, 0 AS ord, 'heading' AS kind,
               'Heading for document ' || doc_id AS text, 1 AS page FROM documents
        UNION ALL SELECT doc_id, 'on', 1, 'ocr_text', text, 2 FROM documents
        UNION ALL SELECT doc_id, 'off', 0, 'heading',
               'Heading for document ' || doc_id, 1 FROM documents
    """,
)
def ocr_dispatch(spark, sf_dir):
    from docling_api_spark.kernels.ocr import OcrOptions
    from docling_api_spark.sources.catalog import wrap_documents_as_scanned_corpus

    corpus = wrap_documents_as_scanned_corpus(load(spark, sf_dir, "documents"))

    def leg(mode, ocr):
        ext = extract(corpus, ocr=ocr)
        exploded = ext.select(
            F.col("doc_id").cast("long").alias("doc_id"), F.explode("spans").alias("s")
        )
        return exploded.select(
            "doc_id",
            F.lit(mode).alias("mode"),
            F.col("s.order").alias("ord"),
            F.col("s.kind").alias("kind"),
            F.col("s.text").alias("text"),
            F.col("s.page").alias("page"),
        )

    return leg("on", OcrOptions(do_ocr=True)).unionByName(leg("off", OcrOptions(do_ocr=False)))


@query(
    "pdf_media_bbox",
    # D5 image bbox provenance (reference ImageInfo.bbox,
    # core/schemas.py:26): the figure block's page geometry survives
    # into the media side-table, caption attached from the block below
    oracle="""
        SELECT doc_id, doc_id || '/f0' AS media_ref, 0 AS media_index,
               1 AS page_number,
               (doc_id % 40) || ',20,60,50' AS bbox,
               'Figure caption ' || doc_id AS caption
        FROM documents
    """,
)
def pdf_media_bbox(spark, sf_dir):
    from docling_api_spark.sources.catalog import wrap_documents_as_pdf_figure_corpus

    corpus = wrap_documents_as_pdf_figure_corpus(load(spark, sf_dir, "documents"))
    flat = extract_flat(corpus)
    return media_table(flat).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "media_ref",
        "media_index",
        "page_number",
        "bbox",
        "caption",
    )


@query(
    "render_json_export",
    # S5 json export leg (export_to_dict parity,
    # services/docling_converter.py:94-97): the serialized spans array,
    # byte-exact against a DuckDB-constructed twin of Spark's to_json
    # (struct field order kind,text,media_ref,order,page; no spaces)
    oracle="""
        SELECT doc_id,
               '[{"kind":"text","text":"' || text ||
               '","media_ref":"","order":0,"page":0}]' AS content
        FROM documents
    """,
)
def render_json_export(spark, sf_dir):
    from docling_api_spark.operators.render import rendered

    corpus = wrap_documents_as_corpus(load(spark, sf_dir, "documents"))
    ext = extract(corpus)
    out = rendered(ext, "json")
    return out.select(F.col("doc_id").cast("long").alias("doc_id"), "content")


@query(
    "span_order_audit",
    # North-rule sequence invariant as a first-class audit: the
    # (kind, text, media_ref, order) stream of every extracted doc must
    # be dense (order = 0..n-1, no gaps/dupes), in the kernel's reading
    # order, with exactly one media span carrying a non-empty ref. The
    # rich corpus makes the expected sequence a deterministic constant
    # per doc, so the oracle is the invariant itself.
    oracle="""
        SELECT doc_id,
               CAST(5 AS BIGINT) AS n_spans,
               TRUE AS order_dense,
               'heading>text>image>caption>table' AS kinds_seq,
               CAST(1 AS BIGINT) AS n_media,
               CAST(1 AS BIGINT) AS n_refs
        FROM documents
    """,
)
def span_order_audit(spark, sf_dir):
    """Per-doc span-sequence audit over the extraction output
    (north-rule invariant: span-sequence equality on
    (kind, text, media_ref, order)).

    Checks, per document: the order column is dense 0..n-1
    (min=0, max=n-1, n distinct), the kind sequence ordered by
    ``order`` matches the kernel's reading order, and media spans /
    non-empty media_refs are counted.

    Scale shape: explode is a narrow Generate over the extraction
    output; one hash-agg on doc_id (partial+final). kinds_seq is
    assembled JVM-side via array_sort(collect_list(struct)) —
    struct comparison sorts by the leading ord field, so no
    per-group sort pass and no Python."""
    corpus = wrap_documents_as_rich_corpus(load(spark, sf_dir, "documents"))
    ext = extract(corpus)
    s = ext.select(
        F.col("doc_id").cast("long").alias("doc_id"), F.explode("spans").alias("s")
    ).select(
        "doc_id",
        F.col("s.order").alias("ord"),
        F.col("s.kind").alias("kind"),
        (F.col("s.media_ref") != "").alias("has_ref"),
    )
    agg = s.groupBy("doc_id").agg(
        F.count("*").alias("n_spans"),
        F.min("ord").alias("_min"),
        F.max("ord").alias("_max"),
        F.count_distinct("ord").alias("_dist"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("ord", "kind"))),
                lambda x: x["kind"],
            ),
            ">",
        ).alias("kinds_seq"),
        F.sum(F.when(F.col("kind") == "image", 1).otherwise(0)).alias("n_media"),
        F.sum(F.when(F.col("has_ref"), 1).otherwise(0)).alias("n_refs"),
    )
    return agg.select(
        "doc_id",
        "n_spans",
        (
            (F.col("_min") == 0)
            & (F.col("_max") == F.col("n_spans") - 1)
            & (F.col("_dist") == F.col("n_spans"))
        ).alias("order_dense"),
        "kinds_seq",
        "n_media",
        "n_refs",
    )


@query(
    "media_ref_integrity",
    # Interleaved-corpus referential integrity: every media_ref in the
    # span stream must resolve to a media-sidecar row. A corrupted
    # corpus is simulated by injecting one dangling ref (doc_id||'/m9',
    # no sidecar row) for every doc_id % 7 == 0 — the audit must count
    # it as unresolved without touching resolved refs.
    oracle="""
        SELECT doc_id,
               CAST(CASE WHEN doc_id % 7 = 0 THEN 2 ELSE 1 END AS BIGINT) AS n_refs,
               CAST(1 AS BIGINT) AS n_resolved,
               CAST(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END AS BIGINT) AS n_dangling
        FROM documents
    """,
)
def media_ref_integrity(spark, sf_dir):
    """Span→media-sidecar referential-integrity audit for interleaved
    text+media corpora (north-rule input shape): counts per doc how
    many span media_refs resolve to a sidecar row vs dangle.

    Scale shape: both legs are narrow (doc_id, media_ref) projections
    of the flat extraction — text never rides the join. The probe is
    a hash join on media_ref (both sides hash-partition on the ref
    key; at 100 TB this is the standard big-big narrow-key join, no
    broadcast assumption) followed by one hash-agg on doc_id. The
    flat span stream is PERSISTED: refs + media_table's img/caption/
    page-render legs would otherwise each re-run the extraction
    kernel (measured 4 MapInPandas subtrees in the unpersisted plan).
    In production this audit reads the already-materialized extraction
    table — the cache stands in for that table, pinned by a plan
    contract (one kernel pass, both consumers on InMemoryTableScan)."""
    corpus = wrap_documents_as_rich_corpus(load(spark, sf_dir, "documents"))
    flat = extract_flat(corpus).persist()
    refs = flat.filter(F.col("media_ref") != "").select(
        F.col("doc_id").cast("long").alias("doc_id"), "media_ref"
    )
    docs = load(spark, sf_dir, "documents")
    injected = docs.filter(F.col("doc_id") % 7 == 0).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.concat(F.col("doc_id").cast("string"), F.lit("/m9")).alias("media_ref"),
    )
    sidecar = media_table(flat).select("media_ref").withColumn("hit", F.lit(1))
    probe = refs.unionByName(injected).join(sidecar, "media_ref", "left")
    return probe.groupBy("doc_id").agg(
        F.count("*").alias("n_refs"),
        F.sum(F.when(F.col("hit").isNotNull(), 1).otherwise(0)).alias("n_resolved"),
        F.sum(F.when(F.col("hit").isNull(), 1).otherwise(0)).alias("n_dangling"),
    )


@query(
    "checkpoint_lineage_audit",
    # North-rule resumability as a driver-checked invariant: run the
    # checkpointed extraction with an injected crash after 2 of 4
    # bucket batches, resume, then audit the commit-metadata stream.
    # Exactly-once coverage means the lineage metrics summed across
    # BOTH runs' manifests equal the corpus totals computed straight
    # from the documents table (any double-processed or skipped bucket
    # breaks docs/spans/chars equality), the 16 buckets appear exactly
    # once across manifests, and the resume continued the seq chain
    # (max_seq = n_commits - 1). The rich-corpus spans are exact
    # per-row functions (see extract_rich_spans), so total span chars
    # is SQL-computable.
    oracle="""
        SELECT CAST(4 AS BIGINT) AS n_commits,
               CAST(3 AS BIGINT) AS max_seq,
               CAST(16 AS BIGINT) AS n_bucket_entries,
               CAST(16 AS BIGINT) AS n_distinct_buckets,
               CAST(COUNT(*) AS BIGINT) AS docs,
               CAST(5 * COUNT(*) AS BIGINT) AS spans,
               CAST(SUM(
                   len('Heading for document ' || doc_id) + len(text)
                   + len('figure alt ' || doc_id)
                   + len('Figure caption ' || doc_id)
                   + len('lang | ' || lang || chr(10) || 'chars | ' || n_chars)
               ) AS BIGINT) AS chars
        FROM documents
    """,
)
def checkpoint_lineage_audit(spark, sf_dir):
    """Crash + resume over the bucket-batch commit log, audited through
    the per-partition lineage metrics (north_rule: "resumable from
    checkpoint with per-partition lineage + metrics"; reference
    pending-work semantics core/jobs.py:22-24).

    Scale shape: the unit of recovery is the bucket batch (dynamic
    partition overwrite + atomic manifest publish, checkpoint.py); the
    audit itself reads only commit metadata — one manifest listing,
    no data-file scan — exactly the Iceberg-commit-metadata query a
    100 TB operator would run after a failover."""
    import shutil
    import tempfile

    from docling_api_spark.checkpoint import commit_history, extract_with_checkpoint

    corpus = wrap_documents_as_rich_corpus(load(spark, sf_dir, "documents"))
    tmp = tempfile.mkdtemp(prefix="ckpt_lineage_")
    try:
        try:
            extract_with_checkpoint(
                corpus, tmp, num_buckets=16, batch_buckets=4, fail_after_batches=2
            )
        except RuntimeError:
            pass  # the injected mid-job crash
        extract_with_checkpoint(corpus, tmp, num_buckets=16, batch_buckets=4)
        hist = commit_history(spark, tmp)
        return hist.agg(
            F.count("*").cast("long").alias("n_commits"),
            F.max("seq").cast("long").alias("max_seq"),
            F.sum(F.size("buckets")).cast("long").alias("n_bucket_entries"),
            F.size(F.array_distinct(F.flatten(F.collect_list("buckets"))))
            .cast("long")
            .alias("n_distinct_buckets"),
            F.sum("docs").cast("long").alias("docs"),
            F.sum("spans").cast("long").alias("spans"),
            F.sum("chars").cast("long").alias("chars"),
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
