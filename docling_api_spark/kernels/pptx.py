"""PPTX (PresentationML) slide kernel (pure Python, deterministic).

Re-implements the PPTX extraction semantics the reference delegates to
docling (InputFormat.PPTX dispatch, reference
services/docling_converter.py:64-67; format list README.md:7) over a
simplified PresentationML slide body:

  <p:sp type="title"> <a:t>…</a:t> </p:sp>        → heading span
  <p:sp type="body">  (<a:p [bullet="1"]>
                        (<a:t>…</a:t>)* </a:p>)*  → text | list_item per para
  <p:pic r:embed="REF"/>                          → image span
  <p:graphicFrame><a:tbl>
    <a:tr>(<a:tc>…</a:tc>)*</a:tr>…</a:tbl>…     → table span

One RAW span per slide (``kind='pptx_slide'``, raw offset = 1-based
slide number, carried into span ``page`` provenance) — slides are
independently extractable, so a long deck shards across partitions
exactly like a multi-page PDF.

Shapes are emitted in document order; adjacent ``<a:t>`` runs inside a
paragraph concatenate; entities unescape; whitespace collapses;
paragraphs that normalize to empty are dropped.

Tag-soup recovery follows the shared contract of kernels/_markup.py:
shapes auto-close at the next shape-level open or EOF (the slide model
never nests shapes, so well-formed boundaries are unchanged); a
trailing unclosed ``<a:p>``/``<a:t>`` still contributes its text; the
paragraphs of a frame body that sit outside every closed row (foster
content) emit in source order after the table.
"""

from __future__ import annotations

import re

from docling_api_spark.kernels._markup import blocks, elements, run_reader, table_rows, table_text

__all__ = ["extract_pptx_slide"]

_SHAPE_OPEN_RE = re.compile(
    r"<p:(?:sp\s+type=\"(?P<sp>title|body)\"\s*>"
    r"|pic\s+r:embed=\"(?P<pic>[^\"]*)\"\s*/?>"
    r"|(?P<frame>graphicFrame)(?:\s[^>]*)?>)"
)
_BOUNDS = {
    "sp": (re.compile(r"</p:sp>"), _SHAPE_OPEN_RE),
    "pic": None,  # <p:pic/> is self-contained
    "frame": (re.compile(r"</p:graphicFrame>"), _SHAPE_OPEN_RE),
}
_PARA_RE = re.compile(r"<a:p(\s[^>]*)?>(.*?)</a:p>", re.DOTALL)
_P_OPEN_TAIL_RE = re.compile(r"<a:p(\s[^>]*)?>(.*)", re.DOTALL)
_T_RE = re.compile(r"<a:t(?:\s[^>]*)?>(.*?)</a:t>", re.DOTALL)
_T_OPEN_TAIL_RE = re.compile(r"<a:t(?:\s[^>]*)?>([^<]*)")
_BULLET_RE = re.compile(r"bullet=\"1\"")
_TR_RE = re.compile(r"<a:tr(?:\s[^>]*)?>(.*?)</a:tr>", re.DOTALL)
_TC_RE = re.compile(r"<a:tc(?:\s[^>]*)?>(.*?)</a:tc>", re.DOTALL)
_runs_text = run_reader(_T_RE, _T_OPEN_TAIL_RE)


def _emit_body_paras(body: str, spans: list[dict]) -> None:
    for pm in elements(body, _PARA_RE, _P_OPEN_TAIL_RE):
        text = _runs_text(pm.group(2))
        if not text:
            continue
        kind = "list_item" if _BULLET_RE.search(pm.group(1) or "") else "text"
        spans.append({"kind": kind, "text": text, "media_ref": ""})


def extract_pptx_slide(xml: str, media_prefix: str = "") -> list[dict]:
    """Extract ordered output spans from one simplified PresentationML
    slide body."""
    spans: list[dict] = []
    for kind, m, body in blocks(xml, _SHAPE_OPEN_RE, _BOUNDS):
        if kind == "pic":
            ref = m.group("pic")
            spans.append({"kind": "image", "text": "", "media_ref": (media_prefix + ref) if ref else ""})
        elif kind == "frame":
            rows, foster = table_rows(body, _TR_RE, _TC_RE, _runs_text)
            if rows:
                spans.append({"kind": "table", "text": table_text(rows), "media_ref": ""})
            _emit_body_paras(foster, spans)
        elif m.group("sp") == "title":
            text = _runs_text(body)
            if text:
                spans.append({"kind": "heading", "text": text, "media_ref": ""})
        else:  # body shape: one span per paragraph
            _emit_body_paras(body, spans)
    return spans
