"""XLSX (SpreadsheetML) grid kernel (pure Python, deterministic).

Re-implements the XLSX extraction semantics the reference delegates to
docling (InputFormat.XLSX dispatch, reference
services/docling_converter.py:64-67; format list README.md:7) over a
simplified SpreadsheetML sheet body:

  <sheet name="NAME">                → heading span (the sheet name)
    <row> (<c>cell text</c>)* </row> → one table span for the grid
  </sheet>

One RAW span per worksheet (``kind='xlsx_sheet'``, raw offset = 1-based
sheet index) — sheets are independently extractable, so a 500-sheet
workbook shards across partitions exactly like a 500-page PDF.

Cell text is entity-unescaped and whitespace-collapsed; ragged rows are
padded to the widest row (docx table convention); rows with no cells
are dropped; a sheet whose grid is empty emits only its heading.

Tag-soup recovery follows the shared contract of kernels/_markup.py:
a sheet auto-closes at the next ``<sheet`` open or EOF instead of
being silently dropped; a trailing unclosed ``<row>`` still yields its
closed cells; stray markup inside recovered cell text is stripped.
"""

from __future__ import annotations

import re

from docling_api_spark.kernels._markup import blocks, elements, norm_xml, table_text

__all__ = ["extract_xlsx_sheet"]

_SHEET_OPEN_RE = re.compile(r"<sheet\s+name=\"(?P<sheet>[^\"]*)\"\s*>")
_BOUNDS = {"sheet": (re.compile(r"</sheet>"), _SHEET_OPEN_RE)}
_ROW_RE = re.compile(r"<row(?:\s[^>]*)?>(.*?)</row>", re.DOTALL)
_ROW_OPEN_TAIL_RE = re.compile(r"<row(?:\s[^>]*)?>(.*)", re.DOTALL)
_CELL_RE = re.compile(r"<c(?:\s[^>]*)?>(.*?)</c>", re.DOTALL)


def extract_xlsx_sheet(xml: str, media_prefix: str = "") -> list[dict]:
    """Extract ordered output spans from one simplified SpreadsheetML
    worksheet: sheet-name heading followed by the cell grid as a table
    span in the engine-wide ``" | "``/newline table text format."""
    spans: list[dict] = []
    for _, m, body in blocks(xml, _SHEET_OPEN_RE, _BOUNDS):
        name = norm_xml(m.group("sheet"))
        if name:
            spans.append({"kind": "heading", "text": name, "media_ref": ""})
        rows = []
        for rm in elements(body, _ROW_RE, _ROW_OPEN_TAIL_RE):
            cells = [norm_xml(c.group(1)) for c in _CELL_RE.finditer(rm.group(1))]
            if cells:
                rows.append(cells)
        if rows:
            spans.append({"kind": "table", "text": table_text(rows), "media_ref": ""})
    return spans
