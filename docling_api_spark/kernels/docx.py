"""DOCX (WordprocessingML) strip kernel (pure Python, deterministic).

Re-implements the DOCX extraction semantics the reference delegates to
docling (InputFormat.DOCX dispatch, reference
services/docling_converter.py:63-67) over simplified WordprocessingML:

  <w:p> [<w:pPr><w:pStyle w:val="HeadingN"/></w:pPr>]
        (<w:r><w:t>text</w:t></w:r>)*            → heading|text span
  <w:p> with <w:pStyle w:val="ListParagraph"/>   → list_item
  <w:drawing r:embed="REF"/> (inside a run)      → image span
  <w:tbl><w:tr><w:tc>…</w:tc></w:tr></w:tbl>     → table span

Text of adjacent <w:t> runs inside one paragraph is concatenated; the
usual XML entities are unescaped; whitespace collapsed. Paragraphs that
normalize to empty are dropped.

Tag-soup recovery follows the shared contract of kernels/_markup.py:
a paragraph auto-closes at the next block-level open or EOF; a table
auto-closes at the next ``<w:tbl>`` or EOF — NOT at ``<w:p>``, because
WordprocessingML legitimately nests paragraphs inside table cells —
and the paragraphs of its body that sit outside every closed row
(foster content) emit in source order after the table.
"""

from __future__ import annotations

import re

from docling_api_spark.kernels._markup import blocks, run_reader, table_rows, table_text

__all__ = ["extract_docx"]

_BLOCK_OPEN_RE = re.compile(r"<w:(?:(?P<p>p)(?:\s[^>]*)?>|(?P<tbl>tbl)>)")
_BOUNDS = {
    "p": (re.compile(r"</w:p>"), _BLOCK_OPEN_RE),
    "tbl": (re.compile(r"</w:tbl>"), re.compile(r"<w:tbl>")),
}
_T_RE = re.compile(r"<w:t(?:\s[^>]*)?>(.*?)</w:t>", re.DOTALL)
_T_OPEN_TAIL_RE = re.compile(r"<w:t(?:\s[^>]*)?>([^<]*)")
_STYLE_RE = re.compile(r"<w:pStyle\s+w:val=\"([^\"]+)\"")
_DRAWING_RE = re.compile(r"<w:drawing\s+r:embed=\"([^\"]+)\"\s*/?>")
_TR_RE = re.compile(r"<w:tr(?:\s[^>]*)?>(.*?)</w:tr>", re.DOTALL)
_TC_RE = re.compile(r"<w:tc(?:\s[^>]*)?>(.*?)</w:tc>", re.DOTALL)
_STYLE_KIND = {"ListParagraph": "list_item", "Caption": "caption", "Code": "code"}
_para_text = run_reader(_T_RE, _T_OPEN_TAIL_RE)


def _emit_para(para: str, spans: list[dict], media_prefix: str) -> None:
    style_m = _STYLE_RE.search(para)
    style = style_m.group(1) if style_m else ""
    for dm in _DRAWING_RE.finditer(para):
        ref = dm.group(1)
        spans.append({"kind": "image", "text": "", "media_ref": (media_prefix + ref) if ref else ""})
    text = _para_text(para)
    if not text:
        return
    kind = "heading" if style.startswith("Heading") else _STYLE_KIND.get(style, "text")
    spans.append({"kind": kind, "text": text, "media_ref": ""})


def extract_docx(xml: str, media_prefix: str = "") -> list[dict]:
    """Extract ordered output spans from a simplified WordprocessingML body."""
    spans: list[dict] = []
    for kind, _, body in blocks(xml, _BLOCK_OPEN_RE, _BOUNDS):
        if kind == "p":
            _emit_para(body, spans, media_prefix)
            continue
        rows, foster = table_rows(body, _TR_RE, _TC_RE, _para_text)
        if rows:
            spans.append({"kind": "table", "text": table_text(rows), "media_ref": ""})
        for k2, _, b2 in blocks(foster, _BLOCK_OPEN_RE, _BOUNDS):
            if k2 == "p":
                _emit_para(b2, spans, media_prefix)
    return spans
