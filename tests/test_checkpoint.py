"""Resume-after-kill idempotence (SURVEY.md §5.3): a killed
checkpointed run, resumed, must produce the identical table as an
uninterrupted run, without reprocessing committed buckets."""

from __future__ import annotations

import pytest

from docling_api_spark.checkpoint import (
    CommitLog,
    commit_history,
    extract_with_checkpoint,
)
from docling_api_spark.sources.catalog import load, wrap_documents_as_corpus

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def corpus(spark):
    return wrap_documents_as_corpus(load(spark, SF_DIR, "documents"))


def _content(spark, path):
    df = spark.read.parquet(path)
    rows = df.selectExpr(
        "doc_id",
        "transform(spans, s -> struct(s.kind, s.text, s.media_ref, s.order)) AS sp",
    ).collect()
    return sorted((r.doc_id, tuple(map(tuple, r.sp))) for r in rows)


def test_uninterrupted_run(spark, corpus, tmp_path):
    out = str(tmp_path / "t")
    res = extract_with_checkpoint(corpus, out, num_buckets=8, batch_buckets=4)
    assert res["processed_batches"] == 2
    assert spark.read.parquet(out).count() == 500
    log = CommitLog(out)
    assert sorted(b for c in log.commits() for b in c["buckets"]) == list(range(8))
    # lineage metrics add up to the table
    hist = commit_history(spark, out)
    assert hist.count() == 2
    assert hist.groupBy().sum("docs").first()[0] == 500


def test_killed_and_resumed_equals_uninterrupted(spark, corpus, tmp_path):
    full = str(tmp_path / "full")
    extract_with_checkpoint(corpus, full, num_buckets=8, batch_buckets=2)

    resumed = str(tmp_path / "resumed")
    with pytest.raises(RuntimeError, match="injected failure"):
        extract_with_checkpoint(
            corpus, resumed, num_buckets=8, batch_buckets=2, fail_after_batches=2
        )
    # partial state: exactly 2 commits on disk
    assert len(CommitLog(resumed).commits()) == 2

    res = extract_with_checkpoint(corpus, resumed, num_buckets=8, batch_buckets=2)
    # resume skipped the 4 committed buckets and did only the rest
    assert sorted(res["skipped_buckets"]) == sorted(
        b for c in CommitLog(resumed).commits()[:2] for b in c["buckets"]
    )
    assert res["processed_batches"] == 2

    assert _content(spark, resumed) == _content(spark, full)


def test_resume_is_noop_when_complete(spark, corpus, tmp_path):
    out = str(tmp_path / "t")
    extract_with_checkpoint(corpus, out, num_buckets=4, batch_buckets=4)
    res = extract_with_checkpoint(corpus, out, num_buckets=4, batch_buckets=4)
    assert res["processed_batches"] == 0
    assert len(res["skipped_buckets"]) == 4


def test_checkpointed_extract_with_ocr_matches_direct(spark, tmp_path):
    """OCR options thread through the checkpointed job: the bucketed
    output equals a direct extract(ocr=...) of the same corpus."""
    from pyspark.sql import functions as F

    from docling_api_spark.checkpoint import extract_with_checkpoint
    from docling_api_spark.kernels.ocr import OcrOptions
    from docling_api_spark.operators.extract import extract
    from docling_api_spark.sources.catalog import wrap_documents_as_scanned_corpus

    docs = spark.range(40).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("scanned text for doc "), F.col("id").cast("string")).alias("text"),
    )
    corpus = wrap_documents_as_scanned_corpus(docs)
    out = str(tmp_path / "ocr_table")
    ocr = OcrOptions(do_ocr=True)
    extract_with_checkpoint(corpus, out, num_buckets=4, batch_buckets=2, ocr=ocr)
    got = spark.read.parquet(out).select("doc_id", "spans").orderBy("doc_id")
    want = extract(corpus, ocr=ocr).orderBy("doc_id")
    assert [r.asDict() for r in got.collect()] == [r.asDict() for r in want.collect()]
    # with OCR on, the scanned page contributed an ocr_text span
    kinds = {s["kind"] for r in got.collect() for s in r["spans"]}
    assert "ocr_text" in kinds


def test_foreign_or_torn_manifest_tolerated(spark, tmp_path):
    """A commit-*.json that is valid JSON but not a manifest (or torn
    non-JSON) must read as never-written, not crash resume."""
    import json
    import os

    from docling_api_spark.checkpoint import CommitLog

    table = str(tmp_path / "t")
    log = CommitLog(table, spark)
    log.commit(0, [1, 2], {"docs": 5, "spans": 5, "chars": 10})
    os.makedirs(f"{table}/_commits", exist_ok=True)
    with open(f"{table}/_commits/commit-000099.json", "w") as f:
        json.dump({"unrelated": True}, f)  # valid JSON, no 'buckets'
    with open(f"{table}/_commits/commit-000098.json", "w") as f:
        f.write('{"buckets": [3')  # torn
    assert log.completed_buckets() == {1, 2}
    assert len(log.commits()) == 1
    # next_seq derives from ALL manifest filenames (even torn ones):
    # counting only parseable manifests would hand out seq=1, colliding
    # with... nothing here, but after the torn 98/99 the next commit
    # must go to 100, never overwrite/collide with an existing name
    assert log.next_seq() == 100
    log.commit(log.next_seq(), [4], {"docs": 1, "spans": 1, "chars": 1})
    assert log.completed_buckets() == {1, 2, 4}


def test_torn_lower_seq_never_collides_resume(spark, tmp_path):
    """Regression (ADVICE r2): a torn manifest with a LOWER seq than an
    existing valid one must not make the next commit collide with the
    valid manifest (Hadoop rename → crash loop; POSIX → silent
    overwrite losing committed buckets)."""
    import os

    from docling_api_spark.checkpoint import CommitLog

    table = str(tmp_path / "t")
    log = CommitLog(table, spark)
    log.commit(5, [1], {"docs": 1, "spans": 1, "chars": 1})
    os.makedirs(f"{table}/_commits", exist_ok=True)
    with open(f"{table}/_commits/commit-000003.json", "w") as f:
        f.write("{torn")
    # old behavior: len(commits()) == 1 → seq 1... later colliding with
    # commit-000005.json; new behavior: max over all filenames + 1
    assert log.next_seq() == 6
    log.commit(log.next_seq(), [2], {"docs": 1, "spans": 1, "chars": 1})
    assert log.completed_buckets() == {1, 2}


def test_resume_with_different_num_buckets_refuses(spark, corpus, tmp_path):
    """Committed bucket ids are only meaningful in their own hash
    space: resuming a num_buckets=8 table with num_buckets=4 would
    treat new-space buckets 0..3 as done (they match old ids) and
    silently never extract part of the corpus. The resume must refuse
    loudly instead."""
    out = str(tmp_path / "t")
    with pytest.raises(RuntimeError, match="injected failure"):
        extract_with_checkpoint(
            corpus, out, num_buckets=8, batch_buckets=2, fail_after_batches=1
        )
    with pytest.raises(ValueError, match="num_buckets"):
        extract_with_checkpoint(corpus, out, num_buckets=4, batch_buckets=2)
    # same bucket count resumes fine and completes the table
    res = extract_with_checkpoint(corpus, out, num_buckets=8, batch_buckets=2)
    assert res["skipped_buckets"] == [0, 1]


def test_chars_metric_survives_null_text_span(spark, tmp_path):
    """A NULL span text (OUT_SPAN.text is nullable) must not null the
    whole doc's char fold — F.sum would then silently drop the doc
    from the lineage chars metric while docs/spans still count it.
    Read, as in the job, from the observation a write filled."""
    from docling_api_spark.checkpoint import batch_metrics, observe_batch_metrics

    extracted = spark.createDataFrame(
        [
            ("a", [("text", "hello", "", 0), ("image", None, "a/m0", 1)]),
            ("b", [("text", "worlds", "", 0)]),
        ],
        "doc_id string, spans array<struct<"
        "kind string, text string, media_ref string, `order` int>>",
    )
    observed, observation = observe_batch_metrics(extracted)
    observed.write.parquet(str(tmp_path / "t"))
    assert batch_metrics(observation) == {"docs": 2, "spans": 3, "chars": 11}


@pytest.mark.parametrize("case", ["size_gated", "empty_corpus"])
def test_batch_without_rows_commits_zero_metrics(corpus, tmp_path, case):
    """Every doc size-gated, or no docs at all: each batch writes no
    rows, and its observation still completes (no hang) with zeros."""
    out = str(tmp_path / "t")
    if case == "size_gated":
        res = extract_with_checkpoint(corpus, out, num_buckets=2, batch_buckets=1, max_size_bytes=1)
    else:
        res = extract_with_checkpoint(corpus.limit(0), out, num_buckets=2, batch_buckets=1)
    assert res["processed_batches"] == 2
    zero = {"docs": 0, "spans": 0, "chars": 0}
    assert [c["metrics"] for c in CommitLog(out).commits()] == [zero, zero]


def _ancestors(plan: str, node: str) -> list[str] | None:
    """Names of the nodes above the first ``node`` in the first tree of
    an explain-formatted plan, root first; None if ``node`` is absent."""
    stack: list[tuple[int, str]] = []
    for line in plan.splitlines():
        if not line.strip():
            if stack:
                break  # end of the first tree; node details follow
            continue
        name = line.lstrip(" :+-*")
        depth = len(line) - len(name)
        while stack and stack[-1][0] >= depth:
            stack.pop()
        if name.startswith(node):
            return [n for _, n in stack]
        stack.append((depth, name))
    return None


def test_batch_metrics_observed_in_write_result_stage(spark, corpus, tmp_path):
    """The batch is one action: its write. The metrics' CollectMetrics
    node must sit under the write with no exchange in between — in the
    write's result stage, where Spark merges each partition's
    accumulator updates once, however often its task is retried — and
    no batch job reads a cached relation."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def executions():
        bus.waitUntilEmpty()
        xs = store.executionsList()
        return [xs.apply(i) for i in range(xs.size())]

    before = max((x.executionId() for x in executions()), default=-1)
    extract_with_checkpoint(corpus, str(tmp_path / "t"), num_buckets=1, batch_buckets=1)
    plans = [x.physicalPlanDescription() for x in executions() if x.executionId() > before]
    writes = [p for p in plans if "InsertIntoHadoopFsRelationCommand" in p]
    assert len(writes) == 1
    assert not any("InMemoryTableScan" in p for p in plans)
    # the adaptive plan holds the final tree, then the initial one
    trees = writes[0].split("== Initial Plan ==")
    assert len(trees) == 2
    for tree in trees:
        above = _ancestors(tree.split("== Final Plan ==")[-1], "CollectMetrics")
        assert above is not None
        write = [i for i, n in enumerate(above) if n.startswith("Execute InsertIntoHadoopFsRelationCommand")]
        assert write, above
        between = above[write[0] + 1 :]
        assert not [n for n in between if "Exchange" in n or "Shuffle" in n], above
