"""curate_corpus edge semantics (operators/curate.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

import pytest

from docling_api_spark.operators.curate import (
    CurationAuditError,
    assert_row_conservation,
    count_input_docs,
    curate_corpus,
    curation_stats,
    observe_curation,
)


def _curate_observed(docs, **kw):
    """curate_corpus's rows by id and its summary, observed on the one
    action over them, as the curate job observes its write."""
    staged, observation = observe_curation(curate_corpus(docs, **kw))
    rows = {r.id: r for r in staged.collect()}
    return rows, curation_stats(observation)


def test_empty_and_all_boilerplate_docs_drop_at_quality(spark):
    """A doc with no tokens after line cleanup (empty text, or every
    line over the df cap) has NULL quality — it must drop at the
    quality stage, never land in the curated corpus."""
    boiler = "accept all cookies now"
    docs = spark.createDataFrame(
        [
            (1, ""),  # empty from the start
            (2, boiler),  # all-boilerplate: its only line exceeds the cap
            (3, boiler),  # exact dup of 2 — drops at dedup first
            (4, boiler + "\n" + " ".join(["the"] * 120)),  # survives cleanup
            (5, " ".join(["of", "and"] * 60)),  # normal keeper
        ],
        "doc_id long, text string",
    )
    # cap=1: the boiler line survives dedup in docs 2 and 4 → df=2 > 1
    rows, stats = _curate_observed(docs, quality_threshold=0.3, line_df_cap=1)
    assert rows[1].drop_stage == "quality" and not rows[1].kept
    assert rows[3].drop_stage == "dedup"
    assert rows[2].drop_stage == "quality" and not rows[2].kept
    assert rows[2].quality is None  # zero tokens after cleanup
    assert rows[4].kept and rows[4].n_removed == 1
    assert rows[5].kept
    assert stats["rows"] == 5
    assert stats["stages"] == {"dedup": 1, "kept": 2, "quality": 2}


def test_decontamination_runs_only_on_quality_survivors(spark):
    """A doc that is both low-quality and eval-contaminated drops at
    'quality' (the CASE order), and decontamination still catches
    quality-passing contaminated docs."""
    eval_text = " ".join(f"w{i}" for i in range(20))
    # diverse fillers: high distinct-shingle counts so the near-dup
    # stage (Jaccard ≥ 0.8 on DISTINCT 3-grams) never fires here
    good_a = " ".join(f"g{i}" for i in range(120))
    good_b = " ".join(f"h{i}" for i in range(120))
    docs = spark.createDataFrame(
        [
            (1, eval_text),  # contaminated but low quality -> 'quality'
            (2, good_a + " " + eval_text),  # good quality + contaminated
            (3, good_b),  # clean keeper
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame([(eval_text,)], "text string")
    staged = curate_corpus(docs, quality_threshold=0.3, eval_texts=ev)
    rows = {r.id: r.drop_stage for r in staged.collect()}
    assert rows[1] == "quality"
    assert rows[2] == "decontamination"
    assert rows[3] is None


def test_shingles_sql_handles_n1_and_n2():
    """The oracle shingle generator must not emit `--` (a SQL comment)
    for small n."""
    import duckdb

    from docling_api_spark.plans import _sql as S

    con = duckdb.connect()
    lit = "['a','b','c']"
    for n, want in ((1, {"a", "b", "c"}), (2, {"a b", "b c"}), (3, {"a b c"})):
        sql = f"SELECT {S.shingles(lit, n)} AS sh"
        assert "--" not in sql
        # list_distinct does not define order; the shingle SET is the contract
        assert set(con.execute(sql).fetchone()[0]) == want


def test_gopher_signals_edge_docs(spark):
    """Zero-token / single-token / repetitive docs: NULL-safe ratios
    (ANSI mode would hard-fail an unguarded division), bigram mass 0
    for <2 tokens, duplicate-line fraction over repeated lines."""
    from docling_api_spark.operators.quality import gopher_quality_signals

    docs = spark.createDataFrame(
        [
            (1, ""),
            (2, "word"),
            (3, "spam ham " * 50),             # top bigram dominates
            (4, "x\nx\nx\ny"),                 # 2 distinct of 4 lines
        ],
        "doc_id long, text string",
    )
    rows = {r.id: r for r in gopher_quality_signals(docs).collect()}
    assert rows["1"].n_tokens == 0 and rows["1"].mean_tok_len is None
    assert not rows["1"].passes
    assert rows["2"].top_bigram_frac == 0.0
    assert rows["3"].top_bigram_frac > 0.4 and not rows["3"].passes
    assert abs(rows["4"].dup_line_frac - 0.5) < 1e-9


def test_pii_counts_reconcile_with_placeholders(spark):
    """Staged counting: a digit run consumed inside an email match must
    not inflate the phone/IP counters — counts always equal the number
    of placeholders in the scrubbed text."""
    from docling_api_spark.operators.quality import scrub_pii

    docs = spark.createDataFrame(
        [
            (1, "ping 1.2.3.4@example.com"),       # IP-shaped email local part
            (2, "fax 555-123-4567@example.com"),   # phone-shaped local part
            (3, "ip 10.0.0.7 mail a@b.io tel 555-123-4567"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in scrub_pii(docs).collect()}
    for r in rows.values():
        assert r.n_emails == r.scrubbed.count("<EMAIL>")
        assert r.n_phones == r.scrubbed.count("<PHONE>")
        assert r.n_ips == r.scrubbed.count("<IP>")
    assert rows[1].n_ips == 0 and rows[1].n_emails == 1
    assert rows[2].n_phones == 0 and rows[2].n_emails == 1
    assert (rows[3].n_emails, rows[3].n_phones, rows[3].n_ips) == (1, 1, 1)


def test_gopher_tokenizer_is_ascii_whitespace(spark):
    """The kernel must tokenize on ASCII \\s+ exactly like the engine's
    canonical tokenizer and the oracle regex — NBSP is NOT a separator."""
    from docling_api_spark.operators.quality import gopher_quality_signals

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma")], "doc_id long, text string"
    )
    row = gopher_quality_signals(docs).collect()[0]
    assert row.n_tokens == 2  # 'alpha\xa0beta' and 'gamma'


def test_curate_survives_null_and_empty_text(spark):
    """NULL/empty documents must flow through the full cascade without
    an ANSI DIVIDE_BY_ZERO (two empty-shingle docs collide in every LSH
    band and previously crashed the exact-Jaccard verify) and must
    never be kept."""
    docs = spark.createDataFrame(
        [(1, None), (2, "the of and " * 40), (3, "")],
        "doc_id long, text string",
    )
    rows = {r.id: r for r in curate_corpus(docs).collect()}
    assert rows[2].kept
    assert not rows[1].kept and not rows[3].kept
    assert rows[3].drop_stage == "quality"  # empty → NULL quality → drop


def test_null_text_docs_are_audited_not_lost(spark):
    """NULL-text docs (failed upstream extractions that skipped the
    quarantine) must come out of the cascade AUDITED, not vanish:
    before the coalesce guard in boilerplate_line_dedup, the line
    rebuild dropped their rows entirely and the audit mislabeled the
    loss as a dedup drop. They now flow like empty-text docs: zero
    tokens -> NULL quality -> 'quality' drop."""
    docs = spark.createDataFrame(
        [
            (1, " ".join(["of", "and"] * 60)),  # normal keeper
            (2, None),
            (3, None),  # exact dup of 2 under the NULL content-hash group
        ],
        "doc_id long, text string",
    )
    rows, stats = _curate_observed(docs, quality_threshold=0.3)
    assert len(rows) == 3 == stats["rows"]  # one audit row per INPUT doc, none lost
    assert rows[1].kept
    # min-id NULL doc survives dedup, then drops at quality (not dedup)
    assert rows[2].drop_stage == "quality" and rows[2].quality is None
    assert rows[3].drop_stage == "dedup"
    assert stats["stages"] == {"kept": 1, "quality": 1, "dedup": 1}


def test_row_conservation_guard(spark):
    """run_curate refuses to publish an audit table that lost rows: the
    rows out come from the observation on the one action."""
    docs = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "gamma")], "doc_id long, text string"
    )
    n_in = count_input_docs(docs)
    _, stats = _curate_observed(docs)
    assert assert_row_conservation(n_in, stats["rows"]) == 3
    lossy, observation = observe_curation(curate_corpus(docs).filter("id <> 2"))
    lossy.collect()
    with pytest.raises(CurationAuditError, match="3 input docs but 2"):
        assert_row_conservation(n_in, curation_stats(observation)["rows"])


def test_duplicate_or_null_doc_ids_rejected(spark):
    """Two input docs sharing doc_id=1 would come out of the cascade as
    two identical rows, each carrying both texts, and row conservation
    would still hold (3 in, 3 out): the input count refuses them."""
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (1, "delta epsilon"), (2, "zeta eta")],
        "doc_id long, text string",
    )
    with pytest.raises(CurationAuditError, match="3 input docs but 2 distinct"):
        count_input_docs(docs)
    assert count_input_docs(docs.filter("text <> 'delta epsilon'")) == 2
    # a null id cannot join back either: it would read as a dedup drop
    nulls = spark.createDataFrame([(1, "a"), (None, "b")], "doc_id long, text string")
    with pytest.raises(CurationAuditError, match="2 input docs but 1 distinct"):
        count_input_docs(nulls)


def _curate_job():
    """jobs/run_curate.py as a module, to run its job in this session."""
    import importlib.util
    import os

    path = os.path.join(os.path.dirname(os.path.dirname(__file__)), "jobs", "run_curate.py")
    spec = importlib.util.spec_from_file_location("run_curate", path)
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)
    return job


def _tree(path):
    import os

    return {
        os.path.relpath(os.path.join(d, f), path): open(os.path.join(d, f), "rb").read()
        for d, _, files in os.walk(path)
        for f in files
    }


def test_curate_job_publishes_only_conserved_tables(spark, tmp_path, monkeypatch):
    """The job publishes through a staging directory: a run that loses a
    row, or whose input repeats a doc_id, raises and leaves an existing
    --output byte-for-byte as it was, with no staging directory left."""
    import os

    from docling_api_spark.operators import curate

    job = _curate_job()
    docs = str(tmp_path / "docs")
    spark.createDataFrame(
        [(1, "the of and " * 40), (2, "alpha"), (3, "beta")], "doc_id long, text string"
    ).write.parquet(docs)
    out = str(tmp_path / "curated")
    argv = ["--input", docs, "--output", out]
    report = job.run(spark, argv)
    assert report["stages"] == {"kept": 1, "quality": 2}
    assert report["run"] == {"master": "local[4]", "default_parallelism": 4, "shuffle_partitions": 8}
    assert spark.read.parquet(out).count() == 3
    published = _tree(out)

    real = curate.curate_corpus
    monkeypatch.setattr(curate, "curate_corpus", lambda *a, **kw: real(*a, **kw).filter("id <> 2"))
    with pytest.raises(CurationAuditError, match="3 input docs but 2 audit rows"):
        job.run(spark, argv)
    monkeypatch.undo()
    assert _tree(out) == published

    dup = str(tmp_path / "dup")
    spark.createDataFrame([(1, "a"), (1, "b"), (2, "c")], "doc_id long, text string").write.parquet(dup)
    with pytest.raises(CurationAuditError, match="distinct"):
        job.run(spark, ["--input", dup, "--output", out])
    assert _tree(out) == published
    assert sorted(os.listdir(tmp_path)) == ["curated", "docs", "dup"]
