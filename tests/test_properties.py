"""Property-based tests (hypothesis) for the pure kernels — no Spark
session needed, so these run fast and explore the input space the
fixture corpus can't."""

from __future__ import annotations

import re
import signal

from hypothesis import example, given, settings
from hypothesis import strategies as st

from docling_api_spark.kernels.dispatch import extract_raw_span
from docling_api_spark.kernels.html import extract_html
from docling_api_spark.operators.chunk import chunk_fixed, chunk_spans, count_tokens

words = st.lists(
    st.text(alphabet="abcdefghijklmnopqrstuvwxyz", min_size=1, max_size=8),
    min_size=0,
    max_size=60,
)


@settings(max_examples=50, deadline=None)
@given(words)
def test_fixed_chunks_partition_tokens(ws):
    """chunk_fixed is a partition of the token stream: concatenation
    round-trips, token counts sum, windows are max_tokens except last."""
    text = " ".join(ws)
    chunks = chunk_fixed(text, 7)
    rejoined = [t for c in chunks for t in c["content"].split()]
    assert rejoined == [t for t in ws if t]
    assert sum(c["token_count"] for c in chunks) == len([t for t in ws if t])
    for c in chunks[:-1]:
        assert c["token_count"] == 7


@settings(max_examples=50, deadline=None)
@given(words)
def test_hybrid_chunks_preserve_all_tokens(ws):
    """No token of a text span is lost or duplicated by the hybrid
    chunker, at any budget."""
    text = " ".join(ws)
    spans = [{"kind": "text", "text": text, "media_ref": "", "page": 0}]
    for budget in (3, 10, 512):
        chunks = chunk_spans(spans, max_tokens=budget)
        got = " ".join(c["content"] for c in chunks)
        # tokenization-level equality (the chunker may rejoin
        # hard-split sentences with single spaces)
        assert re.findall(r"\S+", got) == re.findall(r"\S+", text)
        assert all(
            c["token_count"] <= budget or count_tokens(c["content"]) <= budget
            for c in chunks
        )
        assert [c["chunk_index"] for c in chunks] == list(range(len(chunks)))


@settings(max_examples=50, deadline=None)
@given(st.text(alphabet="abcdefghijklmnopqrstuvwxyz <>/&#;\"'=.-", max_size=300))
def test_html_kernel_total_and_deterministic(markup):
    """The HTML kernel never raises on arbitrary tag soup and is
    deterministic."""
    a = extract_html(markup)
    b = extract_html(markup)
    assert a == b
    for s in a:
        assert set(s) == {"kind", "text", "media_ref"}


@settings(max_examples=30, deadline=None)
@given(st.text(max_size=200))
def test_unknown_kind_is_whitespace_normalized_passthrough(text):
    spans = extract_raw_span("mystery_format", text)
    if " ".join(text.split()):
        assert spans == [
            {"kind": "text", "text": " ".join(text.split()), "media_ref": ""}
        ]
    else:
        assert spans == []


@settings(max_examples=40, deadline=None)
@given(words.filter(lambda ws: len(ws) >= 3))
def test_pdf_blocks_vertical_stack_reads_top_down(ws):
    """Vertically stacked non-overlapping para blocks always read in
    y order regardless of insertion order."""
    from docling_api_spark.kernels.pdf import extract_pdf_page

    lines = []
    expected = []
    for i, w in enumerate(ws[:10]):
        y0 = i * 20
        lines.append(f"BLOCK 0,{y0},100,{y0 + 10},para|{w} {i}")
        expected.append(f"{w} {i}")
    # shuffle deterministically by reversing
    page = "\n".join(reversed(lines))
    spans = extract_pdf_page(page)
    assert [s["text"] for s in spans] == expected


_coord = st.integers(min_value=0, max_value=500)
_block = st.tuples(_coord, _coord, _coord, _coord)


def _bounded(fn, *args, seconds: int = 2):
    """Call ``fn`` under a SIGALRM deadline, so a kernel that never
    returns fails its test instead of hanging the suite."""

    def _expire(*_):
        raise TimeoutError(f"{fn.__name__} did not return within {seconds}s")

    prev = signal.signal(signal.SIGALRM, _expire)
    signal.alarm(seconds)
    try:
        return fn(*args)
    finally:
        signal.alarm(0)
        signal.signal(signal.SIGALRM, prev)


@settings(max_examples=60, deadline=None)
@given(st.lists(_block, min_size=1, max_size=25))
# an inverted box (x0 > x1) whose mid-point lands on the near side of
# the x-gap it opens, so the cut leaves one side of the split empty
@example([(10, 10, 90, 16), (120, 41, 80, 43)])
def test_pdf_xy_cut_never_loses_a_block(boxes):
    """ANY finite geometry — overlapping, degenerate, duplicated,
    inverted — partitions every block into exactly one xy-cut half: the
    output is a permutation of the input payloads (no silent loss, the
    defect class NaN coords used to trigger), deterministically, in
    bounded time."""
    from docling_api_spark.kernels.pdf import extract_pdf_page

    page = "\n".join(
        f"BLOCK {x0},{y0},{x1},{y1},para|payload {i}" for i, (x0, y0, x1, y1) in enumerate(boxes)
    )
    spans = _bounded(extract_pdf_page, page)
    assert sorted(s["text"] for s in spans) == sorted(
        f"payload {i}" for i in range(len(boxes))
    )
    assert _bounded(extract_pdf_page, page) == spans


def test_pdf_inverted_box_is_normalized():
    """Inverted corners are swapped: a figure's bbox reads min-corner
    first, and a page orders exactly as with the corners given the
    right way round."""
    from docling_api_spark.kernels.pdf import extract_pdf_page

    (fig,) = extract_pdf_page("BLOCK 120,41,80,43,figure|r1")
    assert fig["bbox"] == "80,41,120,43"
    inverted = "BLOCK 10,16,90,10,para|a\nBLOCK 120,43,80,41,para|b\nBLOCK 5,60,0,50,para|c"
    upright = "BLOCK 10,10,90,16,para|a\nBLOCK 80,41,120,43,para|b\nBLOCK 0,50,5,60,para|c"
    assert extract_pdf_page(inverted) == extract_pdf_page(upright)


@settings(max_examples=40, deadline=None)
@given(words.filter(lambda ws: len(ws) >= 6), st.integers(min_value=4, max_value=64))
def test_chunker_section_title_tracks_last_heading(ws, budget):
    """Every chunk's section_title equals the most recent heading
    before its first content, regardless of token budget."""
    mid = len(ws) // 2
    spans = [
        {"kind": "text", "text": " ".join(ws[:mid]), "media_ref": "", "page": 0},
        {"kind": "heading", "text": "SEC", "media_ref": "", "page": 0},
        {"kind": "text", "text": " ".join(ws[mid:]), "media_ref": "", "page": 0},
    ]
    chunks = chunk_spans(spans, max_tokens=budget)
    seen_sec = False
    for c in chunks:
        if c["section_title"] == "SEC":
            seen_sec = True
            assert c["context"].startswith("SEC\n")
        else:
            assert not seen_sec, "pre-heading chunk after a SEC chunk"
    assert seen_sec  # the post-heading text always lands somewhere


@settings(max_examples=30, deadline=None)
@given(words.filter(lambda ws: len(ws) >= 4))
def test_minhash_monotone_under_shingle_superset(ws):
    """Adding shingles can only lower (or keep) each MinHash member —
    the structural property band-collision probability rests on."""
    import hashlib

    from docling_api_spark.functions.hashing import MINHASH_P, minhash_consts

    def h32(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    def sig(shingles, k=8):
        out = []
        for i in range(k):
            a, b = minhash_consts(i)
            out.append(min((a * (h32(s) % MINHASH_P) + b) % MINHASH_P for s in shingles))
        return out

    base = {" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)}
    superset = base | {"zzz extra shingle"}
    s1, s2 = sig(base), sig(superset)
    assert all(b <= a for a, b in zip(s1, s2))


# ---------------------------------------------------------------------------
# XLSX / PPTX kernel roundtrip properties
# ---------------------------------------------------------------------------

cell_text = st.text(
    alphabet=st.characters(whitelist_categories=("Lu", "Ll", "Nd"), max_codepoint=0x17F),
    min_size=1,
    max_size=8,
)
grid = st.lists(st.lists(cell_text, min_size=1, max_size=4), min_size=1, max_size=4)


def _grid_markup(fmt: str, rows: list[list[str]]) -> str:
    """One table holding ``rows`` in each kernel's source markup."""
    from docling_api_spark.kernels.pdf import CELL_SEP, ROW_SEP

    def wrap(row_open, row_close, cell_open, cell_close):
        return "".join(
            row_open + "".join(cell_open + c + cell_close for c in row) + row_close for row in rows
        )

    if fmt == "docx_xml":
        return "<w:tbl>" + wrap("<w:tr>", "</w:tr>", "<w:tc><w:p><w:r><w:t>", "</w:t></w:r></w:p></w:tc>") + "</w:tbl>"
    if fmt == "pptx_slide":
        return "<p:graphicFrame><a:tbl>" + wrap("<a:tr>", "</a:tr>", "<a:tc><a:p><a:t>", "</a:t></a:p></a:tc>") + "</a:tbl></p:graphicFrame>"
    if fmt == "xlsx_sheet":
        return '<sheet name="S">' + wrap("<row>", "</row>", "<c>", "</c>") + "</sheet>"
    if fmt == "html":
        return "<table>" + wrap("<tr>", "</tr>", "<td>", "</td>") + "</table>"
    payload = ROW_SEP.join(CELL_SEP.join(row) for row in rows)
    return f"BLOCK 10,10,90,16,table|{payload}"


@settings(max_examples=100, deadline=None)
@given(st.sampled_from(["docx_xml", "pptx_slide", "xlsx_sheet", "html", "pdf_page"]), grid)
def test_table_grid_roundtrip_every_format(fmt, rows):
    """Every table writer emits one format: any ragged grid of simple
    cells comes back as exactly one table span whose text is the grid
    padded to its widest row, cells joined by " | ", rows by newline
    (the format operators.extract.tables_table parses)."""
    spans = extract_raw_span(fmt, _grid_markup(fmt, rows))
    if fmt == "xlsx_sheet":
        assert spans[0] == {"kind": "heading", "text": "S", "media_ref": ""}
        spans = spans[1:]
    ncols = max(len(r) for r in rows)
    padded = [r + [""] * (ncols - len(r)) for r in rows]
    assert spans == [
        {"kind": "table", "text": "\n".join(" | ".join(r) for r in padded), "media_ref": ""}
    ]


@settings(max_examples=50, deadline=None)
@given(st.lists(st.tuples(st.booleans(), cell_text), min_size=1, max_size=6))
def test_pptx_paragraph_kinds_roundtrip(paras):
    """Bulleted body paragraphs become list_items, plain ones text, in
    order."""
    from docling_api_spark.kernels.pptx import extract_pptx_slide

    bullet_attr = ' bullet="1"'
    xml = '<p:sp type="body">' + "".join(
        f"<a:p{bullet_attr if b else ''}><a:t>{t}</a:t></a:p>" for b, t in paras
    ) + "</p:sp>"
    spans = extract_pptx_slide(xml)
    assert [(s["kind"], s["text"]) for s in spans] == [
        ("list_item" if b else "text", t) for b, t in paras
    ]


# ---------------------------------------------------------------------------
# as-of join ≡ pandas.merge_asof (the published reference semantic)
# ---------------------------------------------------------------------------

asof_case = st.tuples(
    st.lists(  # left: (key, t)
        st.tuples(st.integers(0, 3), st.integers(0, 1000)), min_size=1, max_size=20
    ),
    st.lists(  # right: (key, t, payload)
        st.tuples(st.integers(0, 3), st.integers(0, 1000), st.integers(0, 99)),
        min_size=0,
        max_size=20,
    ),
)


@settings(max_examples=25, deadline=None)
@given(case=asof_case)
def test_asof_join_matches_pandas_merge_asof(spark, case):
    import pandas as pd

    from docling_api_spark.operators.asof import asof_join

    lrows, rrows = case
    lpd = pd.DataFrame(
        {"k": [k for k, _ in lrows], "t": pd.to_datetime([t for _, t in lrows], unit="s")}
    )
    lpd["lid"] = range(len(lpd))
    rpd = pd.DataFrame(
        {
            "k": pd.array([k for k, _, _ in rrows], dtype="int64"),
            "rt": pd.to_datetime([t for _, t, _ in rrows], unit="s"),
            "rid": pd.array([p for _, _, p in rrows], dtype="int64"),
        }
    )
    # merge_asof picks the LAST right row among equal timestamps; our
    # operator picks the max payload — align by sorting payload ascending
    rpd = rpd.sort_values(["rt", "rid"], kind="stable").reset_index(drop=True)
    lsorted = lpd.sort_values("t", kind="stable").reset_index(drop=True)
    want = pd.merge_asof(lsorted, rpd, left_on="t", right_on="rt", by="k")
    want_map = {int(r["lid"]): (None if pd.isna(r["rid"]) else int(r["rid"])) for _, r in want.iterrows()}

    ldf = spark.createDataFrame(lpd[["k", "t", "lid"]])
    if len(rpd):
        rdf = spark.createDataFrame(rpd[["k", "rt", "rid"]])
    else:
        rdf = spark.createDataFrame([], "k bigint, rt timestamp, rid bigint")
    got = asof_join(ldf, rdf, "k", "t", "rt", ["rid"]).collect()
    got_map = {int(r["lid"]): (None if r["rid"] is None else int(r["rid"])) for r in got}
    assert got_map == want_map


rank_case = st.lists(
    st.tuples(st.integers(0, 20), st.integers(0, 10**6)),  # (score with ties, id-ish)
    min_size=0,
    max_size=60,
)


@settings(max_examples=20, deadline=None)
@given(case=rank_case)
def test_global_rank_matches_row_number(spark, case):
    """global_rank is exactly row_number over any data distribution —
    ties, duplicates, empty input, more partitions than rows."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from docling_api_spark.operators.rank import global_rank

    rows = [(s, i * 100 + j) for j, (s, i) in enumerate(case)]  # unique ids
    df = spark.createDataFrame(rows, "score int, id long") if rows else (
        spark.createDataFrame([], "score int, id long")
    )
    order = [F.desc("score"), "id"]
    got = {r.id: r.rnk for r in global_rank(df, order, num_partitions=5).collect()}
    want = {
        r.id: r.rnk
        for r in df.withColumn("rnk", F.row_number().over(W.orderBy(*order))).collect()
    }
    assert got == want


line_corpus = st.lists(  # doc = list of line indices into a small line pool
    st.lists(st.integers(0, 9), min_size=1, max_size=8),
    min_size=1,
    max_size=12,
)


@settings(max_examples=20, deadline=None)
@given(case=line_corpus)
def test_boilerplate_line_dedup_matches_reference(spark, case):
    """boilerplate_line_dedup ≡ a direct python reference: drop lines
    whose doc frequency exceeds the cap, keep order, count removals."""
    from collections import Counter

    from docling_api_spark.operators.dedup import boilerplate_line_dedup

    pool = [f"line number {i} of shared pool" for i in range(10)]
    docs = [(d, "\n".join(pool[i] for i in idxs)) for d, idxs in enumerate(case)]
    max_df = 2
    df_count = Counter()
    for _, text in docs:
        for ln in set(text.split("\n")):
            df_count[ln] += 1
    want = {}
    for d, text in docs:
        kept = [ln for ln in text.split("\n") if df_count[ln] <= max_df]
        removed = sum(1 for ln in text.split("\n") if df_count[ln] > max_df)
        want[d] = ("\n".join(kept), removed)

    sdf = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r.id: (r.clean_text, r.n_removed)
        for r in boilerplate_line_dedup(sdf, max_df=max_df).collect()
    }
    assert got == want
