"""Pure-pandas/pure-Python extraction kernels (no Spark imports).

Each kernel maps one RAW span's text to an ordered list of output span
dicts ``{kind, text, media_ref}``. Determinism is the contract: fixed
thresholds, fixed tie-breaks, no floating heuristics — the golden
fixtures in tests/ assert exact (kind, text, media_ref, order)
sequences (north-rule invariant, BASELINE.json).

Kernels re-implement, from public techniques, the extraction semantics
the reference delegates to the docling library (reference
services/docling_converter.py:43-99 configures it; we own the logic):
  - html.py: tag tokenizer + boilerplate strip (tag-density / link-text
    ratio block scoring — Readability/boilerpipe-style, published).
  - pdf.py: deterministic layout parse of a block model (page
    segmentation, XY-cut reading order, table/figure regions).
  - docx.py: simplified WordprocessingML strip.
  - pptx.py: simplified PresentationML slide parse (one raw span per
    slide).
  - xlsx.py: simplified SpreadsheetML grid parse (one raw span per
    sheet).
  - ocr.py: scanned-page / image-document recognition path, gated by
    ``OcrOptions``.
  - _markup.py: the shared markup layer — the tag-soup recovery
    contract of the docx/pptx/xlsx kernels (auto-close block scan, XML
    text normalization, run text, table body) and the engine-wide
    table text format every kernel writes.
"""

from docling_api_spark.kernels.dispatch import PAGED_KINDS, extract_raw_span  # noqa: F401
