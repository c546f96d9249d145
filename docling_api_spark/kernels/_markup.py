"""Shared markup layer for the extraction kernels (pure Python).

The DOCX, PPTX and XLSX kernels parse simplified OOXML that is never
clean at corpus scale; they share one tag-soup recovery contract,
implemented here once. Each kernel keeps only its own tag regexes and
its span-kind mapping. Behavior on well-formed markup is that of a
plain regex parse (golden fixtures and oracle hashes pin it):

- ``blocks``: a block body runs to its closer, or auto-closes at the
  next bounding open or at EOF, so an unclosed block loses neither its
  own text nor the document tail;
- ``elements`` / ``run_reader``: an open whose closer fell past an
  auto-close boundary still contributes its immediate text;
- ``table_rows``: text inside a table body but outside every closed
  row ("foster" content) is handed back instead of vanishing;
- ``norm_xml``: stray markup inside recovered text is stripped, never
  emitted.

``table_text`` is the engine-wide table text format, written by all
five kernels (HTML and PDF too) and parsed by
``operators.extract.tables_table``.
"""

from __future__ import annotations

import re

__all__ = ["blocks", "elements", "norm_xml", "run_reader", "table_rows", "table_text"]

_TAG_RE = re.compile(r"<[^>]*>")
_ENTITIES = {"&amp;": "&", "&lt;": "<", "&gt;": ">", "&quot;": '"', "&apos;": "'"}
_ENTITY_RE = re.compile("|".join(re.escape(k) for k in _ENTITIES))


def norm_xml(text: str) -> str:
    """Strip stray markup, unescape the five XML entities, collapse
    whitespace."""
    # strip markup BEFORE unescaping so "&lt;w:t&gt;" stays literal
    # text; well-formed run/cell content contains no raw "<", so the
    # strip only fires on recovered tag soup
    if "<" in text:
        text = _TAG_RE.sub(" ", text)
    if "&" in text:
        text = _ENTITY_RE.sub(lambda m: _ENTITIES[m.group(0)], text)
    # " ".join(split()) ≡ re.sub(r"\s+", " ", t).strip() for every Unicode
    # codepoint (str.split and \s agree on the whitespace set), ~5x faster
    return " ".join(text.split())


def blocks(xml: str, open_re: re.Pattern, bounds: dict):
    """Yield ``(kind, open_match, body)`` blocks in document order.

    ``open_re`` matches every block open; ``kind`` is ``m.lastgroup``,
    so each kind's alternative ends in its own named group. Keep the
    common literal prefix outside the groups (``<w:(?:(?P<p>p)…|…)``):
    a group around a whole alternative hides it from the regex
    engine's prefix scan and makes each search several times slower.
    ``bounds[kind]`` is ``(close_re, bound_re)``: the body
    runs to the first ``close_re`` match or auto-closes at the next
    ``bound_re`` match / EOF. ``None`` marks a self-contained open,
    yielded with an empty body.

    Linear scan, no spanning regex that could swallow intervening
    blocks. The close search is bounded by the next open: a closer past
    it loses to auto-close anyway, and the bound keeps adversarial
    streams of unclosed opens linear instead of quadratic.
    """
    pos = 0
    end = len(xml)
    while True:
        m = open_re.search(xml, pos)
        if m is None:
            return
        kind = m.lastgroup
        rule = bounds[kind]
        if rule is None:
            yield kind, m, ""
            pos = m.end()
            continue
        close_re, bound_re = rule
        nxt = bound_re.search(xml, m.end())
        stop = nxt.start() if nxt else end
        close = close_re.search(xml, m.end(), stop)
        if close is not None:
            yield kind, m, xml[m.end() : close.start()]
            pos = close.end()
        else:
            yield kind, m, xml[m.end() : stop]
            if nxt is None:
                return
            pos = stop


def elements(body: str, closed_re: re.Pattern, open_tail_re: re.Pattern) -> list[re.Match]:
    """Matches of ``closed_re``, then of ``open_tail_re`` after the last
    one: trailing opens whose closers fell past an auto-close boundary.
    Both patterns must carry the same groups."""
    ms = list(closed_re.finditer(body))
    ms += open_tail_re.finditer(body, ms[-1].end() if ms else 0)
    return ms


def run_reader(t_re: re.Pattern, t_open_tail_re: re.Pattern):
    """Build a kernel's ``body -> text`` run reader: group 1 of every
    closed run, then of every trailing unclosed run open, joined by
    spaces and normalized. Built once per kernel at import; the reader
    runs per paragraph and per table cell, so it loops inline instead
    of going through ``elements``."""
    closed = t_re.finditer
    open_tail = t_open_tail_re.finditer

    def read(body: str) -> str:
        parts = []
        last_end = 0
        for m in closed(body):
            parts.append(m.group(1))
            last_end = m.end()
        for m in open_tail(body, last_end):
            parts.append(m.group(1))
        return norm_xml(" ".join(parts))

    return read


def table_rows(body: str, tr_re: re.Pattern, tc_re: re.Pattern, cell_text) -> tuple[list[list[str]], str]:
    """``(rows, foster)`` of a table body: the cell texts of every
    closed row that has cells, and the markup outside every closed row
    (an auto-closed table's trailing paragraphs; empty of content on a
    well-formed table, whose body is rows only)."""
    rows = []
    foster = []
    last_end = 0
    for tr in tr_re.finditer(body):
        cells = [cell_text(tc.group(1)) for tc in tc_re.finditer(tr.group(1))]
        if cells:
            rows.append(cells)
        foster.append(body[last_end : tr.start()])
        last_end = tr.end()
    foster.append(body[last_end:])
    return rows, " ".join(foster)


def table_text(rows: list[list[str]]) -> str:
    """The engine-wide table text format: ragged rows padded to the
    widest with empty cells, cells joined by ``" | "``, rows by
    newline. ``rows`` must be non-empty."""
    ncols = max(len(r) for r in rows)
    return "\n".join(" | ".join(r + [""] * (ncols - len(r))) for r in rows)
