"""The extraction pipeline (SURVEY.md §3.1-3.2 Spark mapping).

    corpus → size filter → explode raw spans → salted repartition
           → mapInPandas(kernel dispatch) → per-doc reassembly

Scale design (the 100 TB story):

* **Skew is defused structurally.** The unit of extraction is the RAW
  span, not the document: a 260-page PDF becomes 260 independent rows
  before the shuffle, so one oversized doc can never pin a partition
  (north_rule's oversized-PDF shards). The explicit
  ``repartition(P, xxhash64(doc_id, offset))`` spreads pages of the
  same doc uniformly across the cluster.
* **One path, one shuffle in, one shuffle out.** Every document,
  single-span or paged, takes the same route: the salted repartition is
  the only pre-kernel shuffle, one ``mapInPandas`` stage runs the
  kernels, and reassembly is a single hash aggregation on doc_id
  (partial aggregation applies — collect_list combines map-side). A
  plan scans the corpus once and crosses into Python once; single-span
  docs pay for that by shuffling their output spans through the
  reassembly (see ``extract``). No driver-side collection anywhere.
* **Arrow-only Python.** Kernels run inside ``mapInPandas`` batches;
  there is no row-at-a-time Spark UDF on this path (input_hint
  contract).
* Reading-order reassembly is ``sort_array`` over
  (raw_offset, local_order) followed by an index-renumbering
  ``transform`` — all JVM-side, whole-stage-codegen'd.

Parity: reference services/docling_service.py:20-33 (per-doc convert),
services/file_utils.py:15-49 (50 MB size gate), docling converter
dispatch services/docling_converter.py:43-99.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from docling_api_spark import MAX_FILE_SIZE_BYTES
from docling_api_spark.kernels import PAGED_KINDS, extract_raw_span

FLAT_DDL = (
    "doc_id string, raw_offset int, local_order int, "
    "kind string, text string, media_ref string, page int, bbox string"
)


ERROR_KIND = "__error__"


def _extract_batches_fn(ocr=None):
    """Arrow-batched kernel dispatch: one input row per RAW span, one
    output row per OUTPUT span. Kernel objects are plain functions —
    initialized once per Python worker at import (fixes the reference's
    converter-rebuilt-per-request anti-pattern,
    services/docling_converter.py:78). ``ocr`` (OcrOptions) is captured
    in the closure and shipped to workers with it.

    A kernel exception on one raw span NEVER fails the task (at 100 TB
    one malformed doc must not kill a partition): the span becomes a
    single ``ERROR_KIND`` row carrying ``ExcType: message`` — the
    quarantine path of the reference's per-document
    status='error'/error_message record (api/routes/documents.py:59-71).
    """

    def _extract_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["doc_id", "raw_offset", "local_order", "kind", "text", "media_ref", "page", "bbox"]
        for pdf in batches:
            out: dict[str, list] = {c: [] for c in cols}
            for doc_id, rkind, rtext, roffset in zip(
                pdf["doc_id"], pdf["raw_kind"], pdf["raw_text"], pdf["raw_offset"]
            ):
                page = int(roffset) if rkind in PAGED_KINDS else 0
                try:
                    spans = extract_raw_span(rkind, rtext, ocr=ocr)
                except Exception as e:  # noqa: BLE001 — quarantine, never fail the task
                    spans = [
                        {
                            "kind": ERROR_KIND,
                            "text": f"{type(e).__name__}: {e}",
                            "media_ref": "",
                        }
                    ]
                for j, span in enumerate(spans):
                    out["doc_id"].append(doc_id)
                    out["raw_offset"].append(int(roffset))
                    out["local_order"].append(j)
                    out["kind"].append(span["kind"])
                    out["text"].append(span["text"])
                    out["media_ref"].append(span["media_ref"])
                    out["page"].append(page)
                    out["bbox"].append(span.get("bbox"))
            yield pd.DataFrame(out, columns=cols)

    return _extract_batches


def extract_flat(
    corpus: DataFrame,
    *,
    max_size_bytes: int = MAX_FILE_SIZE_BYTES,
    salt_partitions: int | None = None,
    keep_errors: bool = False,
    ocr=None,
) -> DataFrame:
    """corpus → flat output spans (one row per extracted span).

    ``salt_partitions`` sizes the salted repartition; default = session
    shuffle partitions. Pass 0 to skip the explicit repartition (lets
    AQE/input splits decide — useful for micro-benchmarks).

    ``keep_errors`` keeps the ``ERROR_KIND`` quarantine rows in the
    output (callers that want the error side-table or whole-doc
    exclusion); by default they are filtered out.

    **Partial-doc contract**: dropping error rows is span-level — a
    multi-span doc whose page 3 errored still yields its pages 1-2
    spans here. That is deliberate: span views (per-page export, media/
    table sidecars) stay useful for the intact pages, and a whole-doc
    gate would cost a per-call shuffle or a second kernel pass on the
    100 TB hot path. Whole-document quarantine semantics (the
    reference's per-doc status='error', api/routes/documents.py:59-71)
    live in ``extract`` (drops the full doc) + ``extract_errors`` (the
    error side-table); callers needing them anti-join on
    ``extract_errors`` doc_ids.
    """
    spark = corpus.sparkSession
    if salt_partitions is None:
        salt_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    raw = (
        corpus.filter(F.col("size_bytes") <= F.lit(max_size_bytes))  # S1/S2 size gate
        .select(
            "doc_id",
            F.explode("spans").alias("s"),
        )
        .select(
            "doc_id",
            F.col("s.kind").alias("raw_kind"),
            F.col("s.text").alias("raw_text"),
            F.col("s.offset").alias("raw_offset"),
        )
    )
    if salt_partitions:
        # salted spread: pages of one oversized doc land on distinct partitions
        raw = raw.repartition(salt_partitions, F.xxhash64("doc_id", "raw_offset"))
    flat = raw.mapInPandas(_extract_batches_fn(ocr), schema=FLAT_DDL)
    if not keep_errors:
        flat = flat.filter(F.col("kind") != ERROR_KIND)
    return flat


def reassemble(flat: DataFrame) -> DataFrame:
    """flat spans → extracted(doc_id, spans) with global reading order.

    Single hash-agg shuffle on doc_id; ordering restored JVM-side via
    sort_array over the (raw_offset, local_order) prefix, then
    renumbered 0..n-1 with a higher-order transform.
    """
    assembled = flat.groupBy("doc_id").agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("raw_offset"),
                    F.col("local_order"),
                    F.col("kind"),
                    F.col("text"),
                    F.col("media_ref"),
                    F.col("page"),
                )
            )
        ).alias("sorted_spans")
    )
    return assembled.select(
        "doc_id",
        F.transform(
            "sorted_spans",
            lambda s, i: F.struct(
                s["kind"].alias("kind"),
                s["text"].alias("text"),
                s["media_ref"].alias("media_ref"),
                i.cast("int").alias("order"),
                s["page"].alias("page"),
            ),
        ).alias("spans"),
    )


def extract(
    corpus: DataFrame,
    *,
    max_size_bytes: int = MAX_FILE_SIZE_BYTES,
    salt_partitions: int | None = None,
    ocr=None,
) -> DataFrame:
    """corpus → extracted(doc_id, spans): the full pipeline.

    One physical path for every document: ``extract_flat`` (salted
    repartition of the raw spans, one ``mapInPandas`` kernel pass) and
    ``reassemble`` (one hash aggregation on doc_id). A single-span doc
    (HTML/DOCX, the bulk of a web corpus) is simply a doc with one raw
    span, so a plan scans the corpus once and crosses into Python once.
    The price is that single-span docs shuffle their OUTPUT spans
    through the reassembly aggregate (+17-23% shuffle bytes measured on
    ~31-doc, mostly-HTML batches); a separate shuffle-free leg for them
    would cost a second corpus scan, exchange and Python stage per
    plan, which is what dominates small batches.

    Page provenance comes from the raw offset, zero-output docs vanish
    (groupBy over zero rows), and a doc with ANY errored raw span is
    excluded whole — the reference's per-document status='error'
    (api/routes/documents.py:59-71); the error surfaces via
    ``extract_errors``.
    """
    no_error = ~F.exists("spans", lambda s: s["kind"] == ERROR_KIND)
    return reassemble(
        extract_flat(
            corpus,
            max_size_bytes=max_size_bytes,
            salt_partitions=salt_partitions,
            keep_errors=True,
            ocr=ocr,
        )
    ).filter(no_error)


def extract_errors(
    corpus: DataFrame,
    *,
    max_size_bytes: int = MAX_FILE_SIZE_BYTES,
    salt_partitions: int | None = None,
    ocr=None,
) -> DataFrame:
    """Quarantine side-table: one row per document whose extraction
    raised — ``(doc_id, status='error', error_message)``, the
    reference's failed-document record (api/routes/documents.py:59-71,
    219-227). The deterministic representative message is the MIN over
    the doc's failed spans (stable regardless of partitioning)."""
    flat = extract_flat(
        corpus,
        max_size_bytes=max_size_bytes,
        salt_partitions=salt_partitions,
        keep_errors=True,
        ocr=ocr,
    )
    return (
        flat.filter(F.col("kind") == ERROR_KIND)
        .groupBy("doc_id")
        .agg(F.min("text").alias("error_message"))
        .select("doc_id", F.lit("error").alias("status"), "error_message")
    )


# Page-render dimensions: the layout kernel's page model is a fixed
# 0..100 coordinate space, so a whole-page render has constant pixel
# dims (US-Letter at ~100 dpi). A real renderer would read them from
# the rasterized image; the reference does (image_service.py PIL size).
PAGE_RENDER_W = 850
PAGE_RENDER_H = 1100


def media_table(
    flat: DataFrame,
    media_dims: DataFrame | None = None,
    caches: list | None = None,
) -> DataFrame:
    """Side table of extracted media (reference ExtractedImage,
    core/models.py:356-394): one row per image span, captions attached
    when the immediately-following span is a caption.

    Documents with NO embedded image spans fall back to one
    ``media_type='page_render'`` row per page — the reference's
    whole-page-render path (services/multimodal_service.py:99-152,
    image_service.py:37-75) when ``document.pictures`` is empty.

    ``media_dims`` (media_ref, width, height — e.g. the decode output
    of ``operators.multimodal.media_features`` over the payload table)
    attaches pixel dims to embedded rows via a narrow-key left join;
    page_render rows carry the kernel's fixed page geometry.

    The input is persisted: the image, caption-attach, and page-render
    legs each consume ``flat``, and unpersisted that re-runs the
    extraction kernel once per leg (3 MapInPandas subtrees measured —
    the dominant cost at any scale). In production these sidecar views
    read the materialized extraction table; the cache stands in for it
    (same pattern as the cached self-join inputs, pinned by
    tests/test_plan_contracts.py). A repeated caller passes ``caches``
    to receive the persisted handle and unpersist it after its action
    completes (the driver registry clears caches between queries;
    long-lived sessions calling this in a loop should not rely on
    LRU eviction)."""
    flat = flat.persist()
    if caches is not None:
        caches.append(flat)
    img = flat.filter(F.col("kind") == "image")
    from pyspark.sql import Window as W

    w = W.partitionBy("doc_id").orderBy("raw_offset", "local_order")
    # lead over ALL spans, THEN filter: "immediately-following span is
    # a caption" means adjacency in the real span sequence. A lead over
    # a kind-filtered subset measures adjacency after deleting every
    # intervening span of other kinds, so an uncaptioned image would
    # steal the caption of a following table ([image, table,
    # caption-of-table] → image gets the caption). Found by review;
    # the synthetic corpus never exposes it (captions always adjacent).
    cap = (
        flat.withColumn("next_kind", F.lead("kind").over(w))
        .withColumn("next_text", F.lead("text").over(w))
        .filter(F.col("kind") == "image")
        .select(
            "doc_id",
            "media_ref",
            "raw_offset",
            "local_order",
            F.col("page").alias("page_number"),
            "bbox",
            F.when(F.col("next_kind") == "caption", F.col("next_text")).alias("caption"),
        )
    )
    w2 = W.partitionBy("doc_id").orderBy("raw_offset", "local_order")
    embedded = cap.withColumn("media_index", F.row_number().over(w2) - 1).select(
        "doc_id",
        "media_ref",
        "media_index",
        "page_number",
        F.lit("embedded").alias("media_type"),
        "bbox",
        "caption",
    )
    if media_dims is not None:
        # dropDuplicates: media_ref is the RAW source src, shared when
        # two docs embed the same asset — duplicate dims rows would
        # multiply output rows through the ref-keyed left join. The
        # same ref means the same bytes, so any one dims row is correct.
        embedded = embedded.join(
            media_dims.select("media_ref", "width", "height").dropDuplicates(
                ["media_ref"]
            ),
            "media_ref",
            "left",
        ).select(  # restore column order after the ref-keyed join
            "doc_id", "media_ref", "media_index", "page_number",
            "media_type", "bbox", "caption", "width", "height",
        )
    else:
        embedded = embedded.select(
            "*",
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
        )
    # page_render fallback: pages of docs that produced no image span
    wp = W.partitionBy("doc_id").orderBy("page")
    pages = (
        flat.filter(F.col("kind") != ERROR_KIND)
        .select("doc_id", "page")
        .distinct()
        .join(img.select("doc_id").distinct(), "doc_id", "left_anti")
    )
    page_render = pages.select(
        "doc_id",
        F.concat(F.col("doc_id"), F.lit("/page_"), F.col("page").cast("string")).alias(
            "media_ref"
        ),
        (F.row_number().over(wp) - 1).alias("media_index"),
        F.col("page").alias("page_number"),
        F.lit("page_render").alias("media_type"),
        F.lit(None).cast("string").alias("bbox"),
        F.lit(None).cast("string").alias("caption"),
        F.lit(PAGE_RENDER_W).alias("width"),
        F.lit(PAGE_RENDER_H).alias("height"),
    )
    return embedded.unionByName(page_render)


def _html_escape(col):
    """HTML entity escape for table cell content (& first, then angle
    brackets) — the reference's export_to_html emits entity-escaped
    cells; without it a cell containing markup breaks the render."""
    return F.replace(
        F.replace(F.replace(col, F.lit("&"), F.lit("&amp;")), F.lit("<"), F.lit("&lt;")),
        F.lit(">"),
        F.lit("&gt;"),
    )


def tables_table(flat: DataFrame) -> DataFrame:
    """Side table of extracted tables (reference ExtractedTable,
    core/models.py:315-353): num_rows/num_cols derived from the
    engine-wide table text format (written by every kernel through
    ``kernels._markup.table_text``: rows padded to the widest, cells
    joined by " | ", rows by newline); markdown + html + csv renders
    (reference exports all three, services/multimodal_service.py:53-59)."""
    from pyspark.sql import Window as W

    w = W.partitionBy("doc_id").orderBy("raw_offset", "local_order")
    # lead over ALL spans, THEN filter (same adjacency reasoning as
    # media_table): a lead over the table/caption subset would let an
    # uncaptioned table steal the caption of a following figure
    tbl = (
        flat.withColumn("next_kind", F.lead("kind").over(w))
        .withColumn("next_text", F.lead("text").over(w))
        .filter(F.col("kind") == "table")
    )
    rows = F.split(F.col("text"), "\n")
    row_cells = lambda r: F.split(r, r" \| ")  # noqa: E731
    # column count = MAX cells across rows, not the first row's:
    # tag-soup-recovered tables can be ragged, and a first-row count
    # would under-report num_cols and emit a short markdown header
    num_cols = F.array_max(F.transform(rows, lambda r: F.size(row_cells(r))))
    header_sep = F.concat(
        F.lit("|"),
        F.array_join(
            F.transform(F.sequence(F.lit(1), num_cols), lambda _: F.lit(" --- |")), ""
        ),
    )
    # cell content can contain a bare '|' (never ' | ' — that is the
    # format's separator): escape it for markdown or the cell splits
    # into extra columns in any renderer
    md_rows = F.transform(
        rows,
        lambda r: F.concat(
            F.lit("| "),
            F.array_join(
                F.transform(row_cells(r), lambda c: F.replace(c, F.lit("|"), F.lit(r"\|"))),
                " | ",
            ),
            F.lit(" |"),
        ),
    )
    markdown = F.concat(
        F.element_at(md_rows, 1),
        F.lit("\n"),
        header_sep,
        F.when(
            F.size(rows) > 1,
            # length = size - 1, not a magic cap: a fixed cap silently
            # truncated the markdown of very long tables while csv/html
            # kept every row
            F.concat(
                F.lit("\n"), F.array_join(F.slice(md_rows, F.lit(2), F.size(md_rows) - 1), "\n")
            ),
        ).otherwise(F.lit("")),
    )
    # RFC-4180 quoting: a cell containing a comma, quote, or newline is
    # wrapped in double quotes with inner quotes doubled — unquoted
    # commas are normal prose ('1,000 units') and would shift every
    # following column for any CSV parser
    quoted = lambda c: F.when(  # noqa: E731
        c.rlike('[",\n\r]'),
        F.concat(F.lit('"'), F.replace(c, F.lit('"'), F.lit('""')), F.lit('"')),
    ).otherwise(c)
    csv = F.array_join(
        F.transform(rows, lambda r: F.array_join(F.transform(row_cells(r), quoted), ",")),
        "\n",
    )
    html = F.concat(
        F.lit("<table>"),
        F.array_join(
            F.transform(
                rows,
                lambda r: F.concat(
                    F.lit("<tr><td>"),
                    F.regexp_replace(_html_escape(r), r" \| ", "</td><td>"),
                    F.lit("</td></tr>"),
                ),
            ),
            "",
        ),
        F.lit("</table>"),
    )
    out = tbl.select(
        "doc_id",
        "raw_offset",
        "local_order",
        F.col("page").alias("page_number"),
        F.size(rows).cast("int").alias("num_rows"),
        num_cols.cast("int").alias("num_cols"),
        F.when(F.col("next_kind") == "caption", F.col("next_text")).alias("caption"),
        markdown.alias("markdown"),
        html.alias("html"),
        csv.alias("csv"),
    )
    w2 = W.partitionBy("doc_id").orderBy("raw_offset", "local_order")
    return out.withColumn("table_index", F.row_number().over(w2) - 1).select(
        "doc_id", "table_index", "page_number", "num_rows", "num_cols",
        "caption", "markdown", "html", "csv",
    )
