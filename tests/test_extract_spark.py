"""Spark-path extraction: mapInPandas pipeline output must equal the
pandas-path golden output for every doc (proving no per-row
nondeterminism and salting/repartition invariance)."""

from __future__ import annotations

from pyspark.sql import functions as F

from docling_api_spark.corpus import corpus_df, golden_df
from docling_api_spark.operators.extract import extract, extract_flat, media_table, tables_table
from docling_api_spark.operators.render import per_page_ndjson, rendered

N_DOCS = 300


def test_extract_matches_golden(spark):
    corpus = corpus_df(spark, N_DOCS, partitions=7)
    got = extract(corpus, salt_partitions=8)
    want = golden_df(spark, N_DOCS, partitions=5)
    diff = (
        got.alias("g")
        .join(want.alias("w"), "doc_id", "full_outer")
        .filter(~(F.col("g.spans") == F.col("w.spans")) | F.col("g.spans").isNull() | F.col("w.spans").isNull())
    )
    assert diff.count() == 0
    assert got.count() == N_DOCS


def test_extract_stable_under_salting(spark):
    """render(spans) stable under repartition/salting (SURVEY §5.3)."""
    corpus = corpus_df(spark, 60, partitions=3)
    a = extract(corpus, salt_partitions=2).orderBy("doc_id")
    b = extract(corpus, salt_partitions=16).orderBy("doc_id")
    assert [r.asDict() for r in a.collect()] == [r.asDict() for r in b.collect()]


def test_extract_edge_cases_page_provenance_and_empty_output(spark):
    """Single-span docs go through the same shard path as paged ones:
    (a) a single-span pdf_page doc takes its page number from its
    nonzero raw offset and (b) a doc whose kernel output is empty
    vanishes from extract() (reassembly groups zero rows)."""
    from pyspark.sql import Row

    span = lambda kind, text, off: Row(kind=kind, text=text, media_ref="", offset=off)  # noqa: E731
    rows = [
        # single-span pdf_page doc, 1-based page number in offset
        Row(
            doc_id="p1",
            fmt="pdf",
            size_bytes=100,
            spans=[span("pdf_page", "BLOCK 0,0,100,10,heading|Solo page", 4)],
        ),
        # boilerplate-only html: kernel emits zero spans
        Row(
            doc_id="e1",
            fmt="html",
            size_bytes=100,
            spans=[
                span(
                    "html",
                    "<html><body><nav><a href='/'>home</a></nav><footer>f</footer></body></html>",
                    0,
                )
            ],
        ),
    ]
    corpus = spark.createDataFrame(rows)
    out = {r["doc_id"]: r["spans"] for r in extract(corpus, salt_partitions=2).collect()}
    assert set(out) == {"p1"}  # e1 vanishes
    assert [s.asDict() for s in out["p1"]] == [
        {"kind": "heading", "text": "Solo page", "media_ref": "", "order": 0, "page": 4}
    ]


def test_size_gate(spark):
    corpus = corpus_df(spark, 20)
    out = extract(corpus, max_size_bytes=1)  # everything filtered
    assert out.count() == 0


def test_renders(spark):
    corpus = corpus_df(spark, 30)
    ext = extract(corpus)
    txt = rendered(ext, "text")
    md = rendered(ext, "markdown")
    js = rendered(ext, "json")
    assert txt.filter(F.length("content") > 0).count() == 30
    assert md.filter(F.col("content").contains("## ")).count() > 0
    assert js.filter(F.col("content").startswith("[")).count() == 30


def test_per_page_and_side_tables(spark):
    corpus = corpus_df(spark, 80, partitions=4)
    flat = extract_flat(corpus, salt_partitions=8)
    pages = per_page_ndjson(flat)
    assert pages.filter(F.col("line").contains('"page"')).count() == pages.count()
    # pdf docs have ≥1 page row each, html/docx exactly one page (0)
    media = media_table(flat)
    assert media.filter(F.col("media_ref") == "").count() == 0
    tabs = tables_table(flat)
    bad = tabs.filter((F.col("num_rows") < 1) | (F.col("num_cols") < 1)).count()
    assert bad == 0
    # markdown render has a separator row
    assert tabs.filter(~F.col("markdown").contains("---")).count() == 0


def test_table_html_render_escapes_cells(spark):
    """The html export entity-escapes cell content (reference
    export_to_html emits escaped cells): a cell containing markup must
    not break the <table> structure."""
    from docling_api_spark.operators.extract import FLAT_DDL

    flat = spark.createDataFrame(
        [("d1", 0, 0, "table", "a & b | <x>\nc | d>e", "", 0, None)],
        schema=FLAT_DDL,
    )
    row = tables_table(flat).collect()[0]
    assert row.html == (
        "<table><tr><td>a &amp; b</td><td>&lt;x&gt;</td></tr>"
        "<tr><td>c</td><td>d&gt;e</td></tr></table>"
    )
    assert row.num_rows == 2 and row.num_cols == 2


def test_media_page_render_fallback_lanes(spark):
    """Docs with an image span get embedded rows only; docs without
    get one page_render row per page with the fixed render geometry —
    mirroring the reference's pictures-empty fallback
    (multimodal_service.py:99-152)."""
    from docling_api_spark.operators.extract import (
        FLAT_DDL,
        PAGE_RENDER_H,
        PAGE_RENDER_W,
    )

    mk = lambda doc, off, kind, text, ref, page: (  # noqa: E731
        doc, off, 0, kind, text, ref, page, None)
    flat = spark.createDataFrame(
        [
            mk("with_img", 1, "text", "body", "", 1),
            mk("with_img", 2, "image", "", "with_img/m0", 2),
            mk("no_img", 1, "text", "p1", "", 1),
            mk("no_img", 2, "text", "p2", "", 2),
        ],
        schema=FLAT_DDL,
    )
    rows = {(r.doc_id, r.media_ref): r for r in media_table(flat).collect()}
    assert set(rows) == {
        ("with_img", "with_img/m0"),
        ("no_img", "no_img/page_1"),
        ("no_img", "no_img/page_2"),
    }
    pr = rows[("no_img", "no_img/page_1")]
    assert pr.media_type == "page_render" and pr.media_index == 0
    assert pr.page_number == 1 and pr.width == PAGE_RENDER_W and pr.height == PAGE_RENDER_H
    assert rows[("no_img", "no_img/page_2")].media_index == 1
    emb = rows[("with_img", "with_img/m0")]
    assert emb.media_type == "embedded" and emb.width is None and emb.height is None


def test_error_quarantine_never_fails_the_task(spark):
    """A kernel exception on one doc must not kill the batch: clean
    docs extract normally, the poisoned doc lands in extract_errors
    with status='error' — whether the poisoned span is a doc's only
    raw span or one page of a multi-span doc (the rest of which is
    then dropped with it)."""
    from pyspark.sql import Row

    from docling_api_spark.operators.extract import extract_errors

    span = lambda kind, text, off: Row(kind=kind, text=text, media_ref="", offset=off)  # noqa: E731
    corpus = spark.createDataFrame(
        [
            # clean single-span doc
            Row(doc_id="ok1", fmt="pdf", size_bytes=10,
                spans=[span("pdf_page", "BLOCK 0,0,100,10,para|fine", 1)]),
            # poisoned single-span doc
            Row(doc_id="bad1", fmt="pdf", size_bytes=10,
                spans=[span("pdf_page", "BLOCK xx,0,100,10,para|corrupt", 1)]),
            # multi-span doc with ONE poisoned page
            Row(doc_id="bad2", fmt="pdf", size_bytes=10,
                spans=[span("pdf_page", "BLOCK 0,0,100,10,para|good page", 1),
                       span("pdf_page", "BLOCK ,,,,|", 2)]),
            # clean multi-span doc
            Row(doc_id="ok2", fmt="pdf", size_bytes=10,
                spans=[span("pdf_page", "BLOCK 0,0,100,10,para|p1", 1),
                       span("pdf_page", "BLOCK 0,0,100,10,para|p2", 2)]),
        ]
    )
    out = {r["doc_id"] for r in extract(corpus, salt_partitions=2).collect()}
    assert out == {"ok1", "ok2"}
    errs = {r["doc_id"]: r for r in extract_errors(corpus, salt_partitions=2).collect()}
    assert set(errs) == {"bad1", "bad2"}
    for r in errs.values():
        assert r["status"] == "error" and r["error_message"].startswith("ValueError")


def test_tag_soup_corpus_satisfies_audit_invariants(spark):
    """End-to-end tie between kernel tag-soup recovery and the
    north-rule audits: a corpus of malformed html/docx/pptx/xlsx docs
    (every recovery class from the adversarial suites) run through the
    REAL mapInPandas pipeline must (a) extract every doc — recovery,
    not quarantine, for markup-level damage; (b) pass the span-order
    density audit; (c) pass media-ref integrity; (d) non-finite pdf
    geometry takes the quarantine path, never silent loss."""
    from pyspark.sql import Row

    from docling_api_spark.operators.audit import (
        media_ref_violations,
        span_order_violations,
    )
    from docling_api_spark.operators.extract import extract, extract_errors

    span = lambda kind, text, off: Row(kind=kind, text=text, media_ref="", offset=off)  # noqa: E731
    corpus = spark.createDataFrame(
        [
            Row(doc_id="soup_html", fmt="html", size_bytes=100,
                spans=[span("html", "<div class=\"ad\"><p>x</div><p>kept "
                                    "<a href=y>link<table><tr><td>cell", 0)]),
            Row(doc_id="soup_docx", fmt="docx", size_bytes=100,
                spans=[span("docx_xml", "<w:tbl><w:tr><w:tc><w:r><w:t>A</w:t></w:r></w:tc></w:tr>"
                                        "<w:p><w:r><w:t>mid</w:t></w:r></w:p>"
                                        "<w:p><w:r><w:t>tail", 0)]),
            Row(doc_id="soup_pptx", fmt="pptx", size_bytes=100,
                spans=[span("pptx_slide", "<p:graphicFrame><a:tbl><a:tr><a:tc><a:t>T</a:t></a:tc></a:tr>"
                                          "<p:sp type=\"body\"><a:p><a:t>open <a:t>run", 1)]),
            Row(doc_id="soup_xlsx", fmt="xlsx", size_bytes=100,
                spans=[span("xlsx_sheet", "<sheet name=\"S\"><row><c>a<c>b</c>", 1)]),
            Row(doc_id="nan_pdf", fmt="pdf", size_bytes=100,
                spans=[span("pdf_page", "BLOCK 0,0,100,10,para|ok\n"
                                        "BLOCK nan,20,100,30,para|gone", 1)]),
        ]
    )
    got = extract(corpus, salt_partitions=4)
    ids = {r["doc_id"] for r in got.collect()}
    assert ids == {"soup_html", "soup_docx", "soup_pptx", "soup_xlsx"}
    assert span_order_violations(got).count() == 0
    assert media_ref_violations(got).count() == 0
    # recovered text is present and markup-free
    texts = {
        r["doc_id"]: " ".join(s["text"] for s in r["spans"])
        for r in got.collect()
    }
    assert "kept" in texts["soup_html"] and "x" not in texts["soup_html"].split()
    assert "mid" in texts["soup_docx"] and "tail" in texts["soup_docx"]
    assert "open run" in texts["soup_pptx"]
    assert "a b" in texts["soup_xlsx"]
    assert all("<" not in t for t in texts.values())
    # the NaN-geometry pdf is quarantined visibly, not silently dropped
    errs = {r["doc_id"]: r for r in extract_errors(corpus, salt_partitions=4).collect()}
    assert set(errs) == {"nan_pdf"}
    assert errs["nan_pdf"]["error_message"].startswith("ValueError")


def _flat(spark, rows):
    from docling_api_spark.operators.extract import FLAT_DDL

    return spark.createDataFrame(rows, FLAT_DDL)


def test_caption_attaches_only_to_truly_adjacent_span(spark):
    """'Immediately-following span is a caption' means adjacency in the
    REAL span sequence. A lead over a kind-filtered subset deletes
    intervening spans of other kinds, so an uncaptioned table would
    steal the caption of a following figure and an uncaptioned image
    the caption of a following table (found by review; the synthetic
    corpus keeps captions adjacent and never exposes it)."""
    from docling_api_spark.operators.extract import media_table, tables_table

    # doc A: [table, image, caption-of-image]  → table caption NULL
    # doc B: [image, table, caption-of-table]  → image caption NULL
    rows = [
        ("A", 0, 0, "table", "h | v", "", 0, None),
        ("A", 0, 1, "image", "fig", "A/m0", 0, None),
        ("A", 0, 2, "caption", "cap of A image", "", 0, None),
        ("B", 0, 0, "image", "fig", "B/m0", 0, None),
        ("B", 0, 1, "table", "h | v", "", 0, None),
        ("B", 0, 2, "caption", "cap of B table", "", 0, None),
    ]
    flat = _flat(spark, rows)
    t = {r["doc_id"]: r["caption"] for r in tables_table(flat).collect()}
    assert t == {"A": None, "B": "cap of B table"}
    m = {
        r["doc_id"]: r["caption"]
        for r in media_table(flat).filter("media_type = 'embedded'").collect()
    }
    assert m == {"A": "cap of A image", "B": None}


def test_table_renders_ragged_commas_and_pipes(spark):
    """Render hardening: ragged rows report max column count (and the
    markdown header matches it), a cell containing a comma is RFC-4180
    quoted in the csv, and a bare '|' inside a cell is escaped in the
    markdown instead of splitting into an extra column."""
    from docling_api_spark.operators.extract import tables_table

    text = "h1 | h2\na|b | 1,000 units | x"
    flat = _flat(spark, [("D", 0, 0, "table", text, "", 0, None)])
    r = tables_table(flat).first()
    assert (r["num_rows"], r["num_cols"]) == (2, 3)
    assert r["csv"] == 'h1,h2\na|b,"1,000 units",x'
    assert r["markdown"].splitlines() == [
        "| h1 | h2 |",
        "| --- | --- | --- |",
        r"| a\|b | 1,000 units | x |",
    ]


def test_flat_ddl_matches_schema_extract_flat(spark):
    """operators/extract.py FLAT_DDL is the executable copy of
    schema.EXTRACT_FLAT — they must not drift."""
    from pyspark.sql.types import _parse_datatype_string

    from docling_api_spark.operators.extract import FLAT_DDL
    from docling_api_spark.schema import EXTRACT_FLAT

    parsed = _parse_datatype_string(FLAT_DDL)
    assert [(f.name, f.dataType) for f in parsed.fields] == [
        (f.name, f.dataType) for f in EXTRACT_FLAT.fields
    ]
