"""HTML main-content extraction kernel (pure Python, deterministic).

Re-implements the boilerplate-stripping semantics the reference gets
from docling's HTML backend (reference services/docling_converter.py:63-67
dispatches InputFormat.HTML), using only published techniques:

  * subtree pruning of structural boilerplate containers
    (nav/header/footer/aside/script/style/form/noscript) and of
    elements whose class/id matches an ad/menu vocabulary — the
    "tag-density" family of heuristics;
  * link-text-ratio block scoring: a candidate text block whose
    anchor-text share exceeds LINK_RATIO_MAX is classified boilerplate
    and dropped (Readability/boilerpipe-style block classification);
  * block classification into the output span vocabulary
    heading | text | list_item | code | table | image | caption.

Determinism contract: fixed thresholds (LINK_RATIO_MAX = 0.5,
MIN_TEXT_CHARS = 1), whitespace collapsed to single spaces, entities
unescaped, spans emitted in document order. No randomness, no
environment dependence.

Malformed-markup recovery (real-web tag soup — the input at 10^12-doc
scale is never clean; pinned by tests/test_html_adversarial.py):
unclosed tags inside pruned subtrees auto-close with their container
(prune state can never leak to the rest of the document); an open
<a> expires at block boundaries (never marks the remainder of the
document link-dominated); unclosed tables/cells flush at EOF or at
their enclosing close; text inside a table but outside any cell
(foster content) is emitted as a text span in source order. The
failure mode for malformed input is bounded local loss, never silent
loss of the document tail.
"""

from __future__ import annotations

import re

from docling_api_spark.kernels._markup import table_text

__all__ = ["extract_html"]

LINK_RATIO_MAX = 0.5  # block dropped if anchor chars / total chars > this
MIN_TEXT_CHARS = 1

# Containers whose entire subtree is boilerplate.
_PRUNE_TAGS = frozenset(
    {"script", "style", "nav", "header", "footer", "aside", "form", "noscript", "template", "iframe", "head", "title"}
)
# class/id tokens that mark a subtree as boilerplate.
_PRUNE_CLASS_RE = re.compile(
    r"(?:^|[\s_-])(?:ad|ads|advert|advertisement|banner|sidebar|menu|promo|breadcrumb|"
    r"cookie|popup|share|social|related|comment|widget)(?:$|[\s_-])",
    re.IGNORECASE,
)

# Block-level elements that collect text into a typed span.
_BLOCK_KIND = {
    "h1": "heading",
    "h2": "heading",
    "h3": "heading",
    "h4": "heading",
    "h5": "heading",
    "h6": "heading",
    "p": "text",
    "li": "list_item",
    "pre": "code",
    "blockquote": "text",
    "figcaption": "caption",
    "caption": "caption",
}
# Elements that flush any pending bare-text run.
_FLUSH_TAGS = frozenset(
    set(_BLOCK_KIND) | {"div", "section", "article", "main", "body", "table", "ul", "ol", "figure", "br", "hr"}
)
# Block boundaries at which an open <a> expires. An anchor left open
# across a block boundary is almost always an unclosed-tag artifact;
# carrying it forward marks every later block link-dominated and
# silently drops the REST of the document (LINK_RATIO_MAX). Expiring
# at block boundaries bounds the damage to one block — at worst a
# deliberate block-wrapping card link is retained instead of dropped.
# <br> stays excluded: anchors legitimately span line breaks.
_ANCHOR_RESET_TAGS = frozenset(_FLUSH_TAGS - {"br"})

_TAG_RE = re.compile(r"<(/?)([a-zA-Z][a-zA-Z0-9]*)((?:[^>\"']|\"[^\"]*\"|'[^']*')*?)(/?)>|<!--.*?-->", re.DOTALL)
_ATTR_RE = re.compile(r"([a-zA-Z_:][-a-zA-Z0-9_:.]*)\s*=\s*(\"[^\"]*\"|'[^']*'|[^\s\"'>]+)")

_ENTITIES = {
    "&amp;": "&",
    "&lt;": "<",
    "&gt;": ">",
    "&quot;": '"',
    "&#39;": "'",
    "&apos;": "'",
    "&nbsp;": " ",
}
_ENTITY_RE = re.compile("|".join(re.escape(k) for k in _ENTITIES))
_VOID_TAGS = frozenset({"img", "br", "hr", "meta", "link", "input", "source", "wbr", "area", "base", "col", "embed"})


def _unescape(text: str) -> str:
    # "&" gate: the entity regex scan is pure overhead on the vast
    # majority of fragments, which contain no entities at all
    if "&" not in text:
        return text
    return _ENTITY_RE.sub(lambda m: _ENTITIES[m.group(0)], text)


def _norm(text: str) -> str:
    # " ".join(split()) is byte-identical to re.sub(r"\s+", " ", t).strip()
    # for every Unicode codepoint (verified exhaustively: str.split and
    # \s agree on the whitespace set) and ~5x faster — this runs per
    # text fragment in the kernel hot loop
    return " ".join(_unescape(text).split())


def _attrs(attr_src: str) -> dict[str, str]:
    out: dict[str, str] = {}
    for m in _ATTR_RE.finditer(attr_src):
        val = m.group(2)
        if val and val[0] in "\"'":
            val = val[1:-1]
        out[m.group(1).lower()] = _unescape(val)
    return out


class _Block:
    """An open block element accumulating text + anchor-char stats."""

    __slots__ = ("kind", "parts", "anchor_chars", "total_chars")

    def __init__(self, kind: str) -> None:
        self.kind = kind
        self.parts: list[str] = []
        self.anchor_chars = 0
        self.total_chars = 0

    def add(self, text: str, in_anchor: bool) -> None:
        self.parts.append(text)
        n = len(_norm(text))
        self.total_chars += n
        if in_anchor:
            self.anchor_chars += n


def extract_html(markup: str, media_prefix: str = "") -> list[dict]:
    """Extract ordered output spans from an HTML document string.

    Returns a list of ``{"kind","text","media_ref"}`` dicts in reading
    (document) order. Images become ``kind='image'`` spans with
    ``media_ref`` = the src attribute (as-is); tables become a single
    ``kind='table'`` span whose text is rows joined by newline with
    cells joined by `` | ``; a <caption>/<figcaption> yields a separate
    ``caption`` span *after* its table/figure (provenance order mirrors
    the reference's caption handling, services/multimodal_service.py:67-69).
    """
    spans: list[dict] = []
    prune_depth = 0  # >0 → inside a pruned subtree
    prune_stack: list[str] = []
    anchor_depth = 0
    block_stack: list[_Block] = []
    pending: list[str] = []  # bare text not inside a block element
    pending_anchor = 0
    pending_total = 0
    # table state
    table_depth = 0
    table_rows: list[list[str]] = []
    table_caption: str | None = None
    cell_parts: list[str] = []
    in_cell = False
    # text inside a table but outside any cell — real HTML5 parsers
    # foster-parent it out of the table (common with stray text or a
    # <p> misnested between rows); collect and emit it as a text span
    # in source-position order (after the table) instead of dropping
    foster_parts: list[str] = []

    def flush_pending() -> None:
        nonlocal pending, pending_anchor, pending_total
        if pending:
            text = _norm("".join(pending))
            if len(text) >= MIN_TEXT_CHARS and not (
                pending_total > 0 and pending_anchor / pending_total > LINK_RATIO_MAX
            ):
                spans.append({"kind": "text", "text": text, "media_ref": ""})
        pending = []
        pending_anchor = 0
        pending_total = 0

    def close_block() -> None:
        blk = block_stack.pop()
        text = _norm("".join(blk.parts))
        if len(text) < MIN_TEXT_CHARS:
            return
        if blk.kind in ("text", "list_item") and blk.total_chars > 0:
            if blk.anchor_chars / blk.total_chars > LINK_RATIO_MAX:
                return  # boilerplate: link-dominated block
        spans.append({"kind": blk.kind, "text": text, "media_ref": ""})

    def flush_open_block_text() -> None:
        """Emit the innermost open block's accumulated text as a span
        (same filters as close_block) and reset its accumulation —
        used when a nested block/table opens so document order holds."""
        blk = block_stack[-1]
        text = _norm("".join(blk.parts))
        ok = len(text) >= MIN_TEXT_CHARS
        if ok and blk.kind in ("text", "list_item") and blk.total_chars > 0:
            if blk.anchor_chars / blk.total_chars > LINK_RATIO_MAX:
                ok = False
        if ok:
            spans.append({"kind": blk.kind, "text": text, "media_ref": ""})
        blk.parts = []
        blk.anchor_chars = 0
        blk.total_chars = 0

    def close_open_cell() -> None:
        """An unclosed <td>/<th>/<caption> closes implicitly with its
        table (HTML auto-close) — without this its text was dropped."""
        nonlocal in_cell
        if in_cell:
            if table_rows:
                table_rows[-1].append(_norm("".join(cell_parts)))
            in_cell = False

    def flush_table() -> None:
        nonlocal table_rows, table_caption, foster_parts
        close_open_cell()
        rows_present = [r for r in table_rows if r]  # no empty-text span for row-less tables
        if rows_present:
            spans.append({"kind": "table", "text": table_text(rows_present), "media_ref": ""})
            if table_caption:
                spans.append({"kind": "caption", "text": table_caption, "media_ref": ""})
        foster = _norm("".join(foster_parts))
        if len(foster) >= MIN_TEXT_CHARS:
            spans.append({"kind": "text", "text": foster, "media_ref": ""})
        foster_parts = []
        table_rows = []
        table_caption = None

    def break_words() -> None:
        """A line break or dropped subtree separates words: a space
        wherever the next text will accumulate."""
        if table_depth > 0:
            (cell_parts if in_cell else foster_parts).append(" ")
        elif block_stack:
            block_stack[-1].parts.append(" ")
        else:
            pending.append(" ")

    pos = 0
    for m in _TAG_RE.finditer(markup):
        raw_text = markup[pos : m.start()]
        pos = m.end()
        if raw_text and prune_depth == 0:
            if table_depth > 0:
                if in_cell:
                    cell_parts.append(raw_text)
                else:
                    foster_parts.append(raw_text)
            elif block_stack:
                block_stack[-1].add(raw_text, anchor_depth > 0)
            else:
                n = len(_norm(raw_text))
                pending.append(raw_text)
                pending_total += n
                if anchor_depth > 0:
                    pending_anchor += n
        closing, tag, attr_src, self_close = m.group(1, 2, 3, 4)
        if tag is None:
            continue  # comment
        tag = tag.lower()
        is_void = tag in _VOID_TAGS

        if not closing:
            # attrs parse only when needed: img uses them; otherwise only
            # a class/id prune check, skipped unless the raw source hints
            needs_attrs = attr_src and (
                tag == "img" or "class" in attr_src or "id" in attr_src
            )
            attrs = _attrs(attr_src) if needs_attrs else {}
            classid = (attrs.get("class", "") + " " + attrs.get("id", "")).strip()
            prunable = tag in _PRUNE_TAGS or (classid and _PRUNE_CLASS_RE.search(classid))
            if prune_depth > 0:
                if not is_void and not self_close:
                    prune_depth += 1
                    prune_stack.append(tag)
                continue
            if prunable:
                if not is_void and not self_close:
                    prune_depth = 1
                    prune_stack = [tag]
                # the dropped subtree still separates the text around
                # it: "0<nav>1</nav>0" must not read as the word "00"
                break_words()
                continue
            if tag == "img":
                src = attrs.get("src", "")
                alt = _norm(attrs.get("alt", ""))
                spans_target = spans
                if block_stack or table_depth > 0:
                    # image inline in a block/table: still its own span, emitted now
                    pass
                spans_target.append(
                    {"kind": "image", "text": alt, "media_ref": (media_prefix + src) if src else ""}
                )
                continue
            if tag in _ANCHOR_RESET_TAGS:
                anchor_depth = 0
            if tag in _FLUSH_TAGS and not block_stack and table_depth == 0:
                flush_pending()
            if tag == "table":
                # text accumulated so far in an open block reads BEFORE
                # the table — flush it as its own span (document order)
                if table_depth == 0 and block_stack:
                    flush_open_block_text()
                table_depth += 1
                if table_depth == 1:
                    table_rows = []
                    table_caption = None
                continue
            if table_depth > 0:
                if tag == "tr":
                    close_open_cell()  # unclosed cell ends with its row
                    table_rows.append([])
                elif tag in ("td", "th"):
                    close_open_cell()  # unclosed previous cell
                    if not table_rows:
                        table_rows.append([])  # td without tr starts a row
                    in_cell = True
                    cell_parts = []
                elif tag == "caption":
                    # caption text collected via cell machinery
                    in_cell = True
                    cell_parts = []
                elif tag == "br":
                    break_words()
                continue
            if tag == "a":
                anchor_depth += 1
                continue
            if tag == "br":
                break_words()
                continue
            kind = _BLOCK_KIND.get(tag)
            if kind is not None:
                # reading order: text already accumulated in the
                # enclosing block precedes the nested block (also
                # handles HTML's <p>-auto-close: "<p>a<p>b" reads a, b)
                if block_stack:
                    flush_open_block_text()
                block_stack.append(_Block(kind))
            continue

        # closing tag
        if prune_depth > 0:
            # pop up to and including the nearest matching open tag —
            # HTML auto-close semantics. Anything shallower (e.g. an
            # unclosed <p> inside <div class="ad">...</div>) closes
            # implicitly with its container; without this, a single
            # unclosed tag inside a pruned subtree left prune_depth
            # stuck > 0 and silently swallowed the REST of the
            # document (real-web HTML is full of unclosed <p>/<li>).
            # A stray close that matches nothing open stays pruned.
            if tag in prune_stack:
                while prune_stack:
                    popped = prune_stack.pop()
                    prune_depth -= 1
                    if popped == tag:
                        break
            continue
        if tag == "a":
            anchor_depth = max(0, anchor_depth - 1)
            continue
        if tag in _ANCHOR_RESET_TAGS:
            anchor_depth = 0  # an open <a> expires with its block
        if tag == "table":
            if table_depth == 1:
                flush_table()
            table_depth = max(0, table_depth - 1)
            continue
        if table_depth > 0:
            if tag in ("td", "th"):
                if table_rows and in_cell:
                    table_rows[-1].append(_norm("".join(cell_parts)))
                in_cell = False
            elif tag == "caption":
                table_caption = _norm("".join(cell_parts)) or None
                in_cell = False
            continue
        if tag in _BLOCK_KIND and block_stack and block_stack[-1].kind == _BLOCK_KIND[tag]:
            close_block()
            continue
        if tag in _FLUSH_TAGS and not block_stack:
            flush_pending()

    # trailing bare text
    if prune_depth == 0 and pos < len(markup):
        raw_text = markup[pos:]
        if table_depth > 0:
            if in_cell:
                cell_parts.append(raw_text)
            else:
                foster_parts.append(raw_text)
        elif block_stack:
            block_stack[-1].add(raw_text, anchor_depth > 0)
        elif raw_text:
            n = len(_norm(raw_text))
            pending.append(raw_text)
            pending_total += n
    if table_depth > 0:
        flush_table()  # unclosed <table> flushes at EOF instead of vanishing
    while block_stack:
        close_block()
    flush_pending()
    return spans
