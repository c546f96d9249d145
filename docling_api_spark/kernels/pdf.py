"""PDF layout-parse kernel (pure Python, deterministic).

Re-implements the layout-analysis semantics the reference obtains from
docling's PDF pipeline (PdfPipelineOptions: layout + table structure,
reference services/docling_converter.py:43-67) over an explicit,
deterministic *page block model* — the per-page raw span text is a list
of lines:

    BLOCK x0,y0,x1,y1,role|payload

with role ∈ {para, heading, list, code, table, figure, caption,
pageno, footer, header}. Geometry is in abstract page units (ints or
floats). The kernel:

  1. parses blocks;
  2. drops page furniture (pageno / footer / header roles) — the
     layout-filter assertion of the golden fixtures;
  3. reconstructs reading order with recursive XY-cut (Nagy & Seth
     1984, a published technique): alternate horizontal (y) and
     vertical (x) cuts at projection gaps; leaves sorted by (y0, x0);
  4. classifies into the output span vocabulary.

Table payload encodes rows with ``ROW_SEP`` and cells with ``CELL_SEP``
and is re-rendered to the engine-wide table text format
(``_markup.table_text``). Figure payload is the media_ref.
"""

from __future__ import annotations

import math

from docling_api_spark.kernels._markup import table_text

__all__ = ["extract_pdf_page", "ROW_SEP", "CELL_SEP"]

ROW_SEP = " § "
CELL_SEP = " ¦ "

_ROLE_KIND = {
    "para": "text",
    "heading": "heading",
    "list": "list_item",
    "code": "code",
    "table": "table",
    "figure": "image",
    "caption": "caption",
}
_DROP_ROLES = frozenset({"pageno", "footer", "header"})

# Minimum projection gap (page units) that constitutes a cut.
MIN_GAP = 1.0


# block tuple layout: (x0, y0, x1, y1, role, payload) — tuples, not
# dicts: the xy-cut loop touches coordinates millions of times on a
# dense page and tuple indexing beats string-keyed dict lookups ~3x
_X0, _Y0, _X1, _Y1, _ROLE, _PAYLOAD = range(6)


def _parse_blocks(page_text: str) -> list[tuple]:
    blocks = []
    for line in page_text.split("\n"):
        line = line.strip()
        if not line.startswith("BLOCK "):
            continue
        head, _, payload = line[6:].partition("|")
        coords_role = head.strip().split(",")
        if len(coords_role) != 5:
            continue
        x0 = float(coords_role[0])
        y0 = float(coords_role[1])
        x1 = float(coords_role[2])
        y1 = float(coords_role[3])
        # Non-finite geometry is corrupt input, same class as the
        # non-numeric coords ValueError above: NaN mid-points compare
        # False against any cut (the block would silently vanish from
        # BOTH xy-cut halves — silent data loss), and ±inf puts every
        # block on one side of an inf cut (the split never shrinks).
        # Raise so the doc takes the visible per-doc quarantine path
        # (operators/extract.py ERROR_KIND) instead.
        if not (
            math.isfinite(x0) and math.isfinite(y0) and math.isfinite(x1) and math.isfinite(y1)
        ):
            raise ValueError(f"non-finite block geometry: {head.strip()!r}")
        # Inverted corners (x0 > x1 or y0 > y1) name the same rectangle:
        # swap them, so the xy-cut projects intervals with lo <= hi and
        # a figure's bbox provenance always reads min-corner first.
        x0, x1 = min(x0, x1), max(x0, x1)
        y0, y1 = min(y0, y1), max(y0, y1)
        blocks.append((x0, y0, x1, y1, coords_role[4].strip(), payload))
    return blocks


def _largest_gap_view(blocks: list[tuple], view: list[int], lo: int, hi: int) -> tuple[float, float | None]:
    """Widest gap (≥ MIN_GAP) in the projection of the blocks selected
    by ``view`` (indices pre-sorted by (lo, hi) interval) onto the
    axis given by tuple slots ``lo``/``hi``.

    Returns (gap_width, cut_position) or (0.0, None) if no gap. Same
    first-widest-wins tie behavior as scanning a freshly sorted
    interval list — the view IS that list, maintained sorted across
    splits instead of re-sorted per split.
    """
    b0 = blocks[view[0]]
    cur_end = b0[hi]
    best_gap, best_cut = 0.0, None
    for i in view[1:]:
        b = blocks[i]
        s = b[lo]
        gap = s - cur_end
        if gap >= MIN_GAP and gap > best_gap:
            best_gap, best_cut = gap, (cur_end + s) / 2.0
        e = b[hi]
        if e > cur_end:
            cur_end = e
    return best_gap, best_cut


def _xy_cut(blocks: list[tuple]) -> list[tuple]:
    """XY-cut reading order (largest-gap binary split).

    Cut at the single widest projection gap across both axes (a wide
    inter-column gutter beats narrow inter-paragraph leading, so
    columns are read fully left-before-right); y wins ties
    (top-before-bottom). Leaves sort by (y0, x0, parse order).

    Iterative depth-first worklist, NOT recursion: a single-column
    page of n evenly-leaded paragraphs splits one block per cut
    (every gap ties, the first wins), so recursion depth would be
    O(n) and a well-formed ~1000-block page would quarantine on
    RecursionError. The explicit stack emits the identical pre-order.

    Each worklist entry carries TWO pre-sorted index views of the same
    block set (y-interval order and x-interval order); splits filter
    the views (stable, so sortedness is preserved) instead of
    re-sorting per split — the peel-one-block-per-cut worst case drops
    from O(n² log n) to O(n²) with a small constant, and the common
    balanced case is O(n log n) total.
    """
    n = len(blocks)
    if n <= 1:
        return list(blocks)
    ordered: list[tuple] = []
    yview0 = sorted(range(n), key=lambda i: (blocks[i][_Y0], blocks[i][_Y1]))
    xview0 = sorted(range(n), key=lambda i: (blocks[i][_X0], blocks[i][_X1]))
    in_first = bytearray(n)  # scratch membership mask, reused per split
    stack = [(yview0, xview0)]
    while stack:
        yview, xview = stack.pop()
        if len(yview) <= 1:
            ordered.extend(blocks[i] for i in yview)
            continue
        gy, cy = _largest_gap_view(blocks, yview, _Y0, _Y1)
        gx, cx = _largest_gap_view(blocks, xview, _X0, _X1)
        if cy is not None or cx is not None:
            if cx is not None and (cy is None or gx > gy):
                lo, hi, cut = _X0, _X1, cx
            else:
                lo, hi, cut = _Y0, _Y1, cy
            n_first = 0
            for i in yview:
                b = blocks[i]
                in_first[i] = first = (b[lo] + b[hi]) / 2.0 <= cut
                n_first += first
            # an inverted box (x0 > x1 or y0 > y1) can put its mid-point
            # on the far side of a gap in its own projection, so the cut
            # may leave one side empty; re-pushing the same set would
            # spin forever, so such a set is a leaf. With x0 <= x1 and
            # y0 <= y1 both sides are always non-empty.
            if 0 < n_first < len(yview):
                stack.append(
                    ([i for i in yview if not in_first[i]], [i for i in xview if not in_first[i]])
                )
                stack.append(
                    ([i for i in yview if in_first[i]], [i for i in xview if in_first[i]])
                )
                continue
        # leaf: final index = PARSE order, so ties on (y0, x0) break the
        # same way the pre-view implementation did (stable sort of a
        # parse-ordered list): yview arrives (y0, y1)-sorted, and
        # without the index a y1 tiebreak would leak through on
        # overlapping/degenerate layouts — a silent order change that
        # gate corpora (spread float coords, no ties) miss.
        ordered.extend(
            blocks[i] for i in sorted(yview, key=lambda i: (blocks[i][_Y0], blocks[i][_X0], i))
        )
    return ordered


def extract_pdf_page(page_text: str, media_prefix: str = "") -> list[dict]:
    """Extract ordered output spans from one page's block model."""
    blocks = [b for b in _parse_blocks(page_text) if b[_ROLE] not in _DROP_ROLES]
    ordered = _xy_cut(blocks)
    spans: list[dict] = []
    for b in ordered:
        kind = _ROLE_KIND.get(b[_ROLE])
        if kind is None:
            continue
        payload = b[_PAYLOAD].strip()
        if kind == "table":
            rows = [[c.strip() for c in r.split(CELL_SEP)] for r in b[_PAYLOAD].split(ROW_SEP)]
            spans.append({"kind": "table", "text": table_text(rows), "media_ref": ""})
        elif kind == "image":
            # figure geometry survives as bbox provenance (reference
            # ImageInfo.bbox, core/schemas.py:26)
            bbox = f"{b[_X0]:g},{b[_Y0]:g},{b[_X1]:g},{b[_Y1]:g}"
            spans.append(
                {
                    "kind": "image",
                    "text": "",
                    "media_ref": (media_prefix + payload) if payload else "",
                    "bbox": bbox,
                }
            )
        else:
            if payload:
                spans.append({"kind": kind, "text": payload, "media_ref": ""})
    return spans
