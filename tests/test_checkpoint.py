"""Resume-after-kill idempotence (SURVEY.md §5.3): a killed
checkpointed run, resumed, must produce the identical table as an
uninterrupted run, without reprocessing committed buckets."""

from __future__ import annotations

import os
import threading
import time

import pytest

from docling_api_spark import checkpoint
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


def _bucket_dirs(path):
    return {int(n[len("bucket=") :]) for n in os.listdir(path) if n.startswith("bucket=")}


def test_batches_overlap(spark, corpus, tmp_path, monkeypatch):
    """Two batches are in flight at once: each batch's ``extract``
    waits for the other's before returning, which a one-batch-at-a-time
    run can never satisfy (the barrier times out and breaks)."""
    barrier = threading.Barrier(2, timeout=60)
    orig = checkpoint.extract

    def meet(*args, **kwargs):
        out = orig(*args, **kwargs)
        barrier.wait()
        return out

    monkeypatch.setattr(checkpoint, "extract", meet)
    out = str(tmp_path / "t")
    res = extract_with_checkpoint(corpus, out, num_buckets=4, batch_buckets=2)
    assert res["processed_batches"] == 2
    assert spark.read.parquet(out).count() == 500


def test_manifests_published_in_seq_order_with_own_metrics(spark, corpus, tmp_path, monkeypatch):
    """Batch seq 0 is held back so later batches finish writing before
    it; manifests must still be published seq by seq, and each seq must
    carry its own bucket group and that group's metrics."""
    orig_extract, orig_commit = checkpoint.extract, CommitLog.commit
    published = []

    def slow_first(*args, **kwargs):
        # the batch thread has named its jobs before it plans
        if spark.sparkContext.getLocalProperty("spark.job.description").startswith(
            "extract batch seq=0 "
        ):
            time.sleep(3)
        return orig_extract(*args, **kwargs)

    def record(log, seq, *args, **kwargs):
        published.append(seq)
        orig_commit(log, seq, *args, **kwargs)

    monkeypatch.setattr(checkpoint, "extract", slow_first)
    monkeypatch.setattr(CommitLog, "commit", record)
    out = str(tmp_path / "t")
    extract_with_checkpoint(corpus, out, num_buckets=8, batch_buckets=2)
    assert published == [0, 1, 2, 3]
    rows = (
        spark.read.parquet(out)
        .selectExpr(
            "bucket",
            "size(spans) AS n",
            "aggregate(spans, 0L, (a, s) -> a + coalesce(length(s.text), 0)) AS c",
        )
        .collect()
    )
    for c in CommitLog(out).commits():
        assert c["buckets"] == [2 * c["seq"], 2 * c["seq"] + 1]
        mine = [r for r in rows if r.bucket in c["buckets"]]
        assert c["metrics"] == {
            "docs": len(mine),
            "spans": sum(r.n for r in mine),
            "chars": sum(r.c for r in mine),
        }


def test_failed_commit_drains_in_flight_batches(spark, corpus, tmp_path, monkeypatch):
    """A commit that raises at seq 1 (after publishing, the way a job
    stopped at a deadline ends) submits no new batch, lets the batches
    in flight commit, then re-raises: every bucket directory in the
    table has a manifest, and a resume equals an uninterrupted run."""
    full = str(tmp_path / "full")
    extract_with_checkpoint(corpus, full, num_buckets=16, batch_buckets=2)

    orig_commit = CommitLog.commit

    def failing(log, seq, *args, **kwargs):
        orig_commit(log, seq, *args, **kwargs)
        if seq == 1:
            raise OSError("commit failed")

    monkeypatch.setattr(CommitLog, "commit", failing)
    out = str(tmp_path / "t")
    with pytest.raises(OSError, match="commit failed"):
        extract_with_checkpoint(corpus, out, num_buckets=16, batch_buckets=2)
    committed = CommitLog(out).completed_buckets()
    assert _bucket_dirs(out) <= committed
    # seq 0's commit let seq 1 + _IN_FLIGHT - 1 in; nothing after it ran
    assert committed == set(range(2 * (1 + checkpoint._IN_FLIGHT)))

    monkeypatch.setattr(CommitLog, "commit", orig_commit)
    res = extract_with_checkpoint(corpus, out, num_buckets=16, batch_buckets=2)
    assert res["processed_batches"] == (16 - len(committed)) // 2
    assert _content(spark, out) == _content(spark, full)


def test_batch_jobs_carry_caller_job_group(spark, corpus, tmp_path):
    """Batch threads run with the caller's local properties, so a job
    group the caller set reaches the batch jobs, and each job is named
    after its batch without renaming the caller's own jobs."""
    sc = spark.sparkContext
    sc.setJobGroup("ckpt-group", "checkpoint test")
    try:
        extract_with_checkpoint(corpus, str(tmp_path / "t"), num_buckets=4, batch_buckets=2)
        assert sc.getLocalProperty("spark.job.description") == "checkpoint test"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    ids = sc.statusTracker().getJobIdsForGroup("ckpt-group")
    assert ids
    store = sc._jsc.sc().statusStore()
    descriptions = {store.job(i).description().get() for i in ids}
    assert descriptions == {"extract batch seq=0 buckets=0,1", "extract batch seq=1 buckets=2,3"}


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
