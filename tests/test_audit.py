"""Post-extract invariant audits (operators/audit.py): clean output
passes; injected span-order and media-ref violations are detected and
fail the production job (VERDICT r4 ask #7)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from docling_api_spark.operators.audit import (
    ExtractionAuditError,
    assert_extraction_invariants,
    media_ref_violations,
    span_order_violations,
)
from docling_api_spark.operators.extract import extract
from docling_api_spark.sources.catalog import load, wrap_documents_as_rich_corpus

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = "/root/testdata/sf0.001"

_SPAN = "kind string, text string, media_ref string, `order` int"


def _doc(spark, doc_id, spans):
    return spark.createDataFrame(
        [(doc_id, spans)], f"doc_id long, spans array<struct<{_SPAN}>>"
    )


def test_clean_extraction_passes(spark):
    ext = extract(
        wrap_documents_as_rich_corpus(load(spark, SF_DIR, "documents").limit(40))
    )
    counts = assert_extraction_invariants(ext)
    assert counts == {"span_order_violations": 0, "media_ref_violations": 0}


def test_order_gap_detected(spark):
    bad = _doc(
        spark, 7,
        [("text", "a", "", 0), ("text", "b", "", 2)],  # gap: order 1 missing
    )
    assert span_order_violations(bad).count() == 1
    with pytest.raises(ExtractionAuditError, match="span-order"):
        assert_extraction_invariants(bad)


def test_duplicate_order_detected(spark):
    bad = _doc(
        spark, 8,
        [("text", "a", "", 0), ("text", "b", "", 0)],
    )
    assert span_order_violations(bad).count() == 1


def test_null_order_corruption_detected(spark):
    """NULL-hardening: a doc whose spans ALL have NULL `order` must be
    flagged — without coalesce the density predicate evaluates to NULL
    and the filter silently passes the doc."""
    bad = _doc(spark, 12, [("text", "a", "", None), ("text", "b", "", None)])
    assert span_order_violations(bad).count() == 1
    # mixed null + valid order is likewise a violation
    mixed = _doc(spark, 13, [("text", "a", "", 0), ("text", "b", "", None)])
    assert span_order_violations(mixed).count() == 1


def test_null_media_ref_detected_any_kind(spark):
    """NULL media_ref is a corrupt write on ANY span: the engine's
    convention is empty string, never NULL — unlike an empty ref,
    which is legitimate (ref-less source media)."""
    bad = _doc(spark, 14, [("image", "", None, 0), ("text", "a", None, 1)])
    v = media_ref_violations(bad).collect()
    assert [r["violation"] for r in v] == ["null_media_ref", "null_media_ref"]


def test_media_ref_violations_detected(spark):
    bad = _doc(
        spark, 9,
        [
            ("text", "a", "9/m0", 0),   # ref on a non-media span
            ("image", "", "", 1),        # ref-less media span: LEGITIMATE
        ],
    )
    v = {r["violation"] for r in media_ref_violations(bad).collect()}
    assert v == {"ref_on_non_media_span"}
    with pytest.raises(ExtractionAuditError, match="media-ref"):
        assert_extraction_invariants(bad)


def test_both_violation_kinds_counted_in_one_table(spark):
    """One table holding both kinds of violation: the one-pass count
    must report each kind's own total — docs with an order gap, and
    media-violation rows (both media rules) — in one message."""
    gap = _doc(spark, 20, [("text", "a", "", 0), ("text", "b", "", 2)])
    dup = _doc(spark, 21, [("text", "a", "", 1), ("text", "b", "", 1)])
    refs = _doc(
        spark, 22,
        [
            ("text", "a", "22/m0", 0),   # ref on a non-media span
            ("text", "b", None, 1),       # NULL media_ref
            ("table", "c", "22/m1", 2),  # ref on a non-media span
        ],
    )
    clean = _doc(spark, 23, [("image", "", "23/m0", 0), ("text", "d", "", 1)])
    table = gap.unionByName(dup).unionByName(refs).unionByName(clean)
    assert span_order_violations(table).count() == 2
    assert media_ref_violations(table).count() == 3
    with pytest.raises(ExtractionAuditError) as err:
        assert_extraction_invariants(table)
    msg = str(err.value)
    assert "2 span-order, 3 media-ref" in msg
    assert msg.count("span_order {") == 2 and msg.count("media_ref {") == 3


def test_legitimate_kernel_output_not_flagged(spark):
    """The audit must be exactly as strict as the kernel guarantees:
    kernels emit media_ref='' for ref-less source media (<img> with no
    src, payload-less PDF figures), and the production media_ref is the
    raw source src, so two docs embedding the same URL share a ref.
    Both are healthy output — an audit that flags them aborts real
    jobs (found by review; the synthetic gate corpus never exercises
    either case)."""
    a = _doc(spark, 10, [("image", "logo", "https://cdn.example/logo.png", 0),
                         ("text", "body text", "", 1)])
    b = _doc(spark, 11, [("image", "logo", "https://cdn.example/logo.png", 0),
                         ("image", "no-src figure", "", 1)])
    both = a.unionByName(b)
    assert media_ref_violations(both).count() == 0
    assert assert_extraction_invariants(both) == {
        "span_order_violations": 0, "media_ref_violations": 0,
    }


def test_null_or_empty_spans_column_detected(spark):
    """A row with spans = NULL or spans = [] is a corrupt write (a doc
    with no surviving spans is simply absent from the table). Plain
    explode would DROP these rows and publish them unaudited —
    explode_outer surfaces them as order violations."""
    null_spans = spark.createDataFrame(
        [(15, None)], f"doc_id long, spans array<struct<{_SPAN}>>"
    )
    empty_spans = spark.createDataFrame(
        [(16, [])], f"doc_id long, spans array<struct<{_SPAN}>>"
    )
    assert span_order_violations(null_spans).count() == 1
    assert span_order_violations(empty_spans).count() == 1
    with pytest.raises(ExtractionAuditError, match="span-order"):
        assert_extraction_invariants(null_spans)


def test_resumed_job_fails_on_corrupted_table(spark, tmp_path):
    """Job-level enforcement: extract cleanly, corrupt one bucket's
    parquet (introduce an order gap), rerun the job with every bucket
    already committed — extraction is skipped, the audit reads the
    materialized table, and the job must exit non-zero."""
    from docling_api_spark.sources.catalog import wrap_documents_as_corpus

    corpus_path = str(tmp_path / "corpus")
    wrap_documents_as_corpus(load(spark, SF_DIR, "documents").limit(30)).write.parquet(
        corpus_path
    )
    out_path = str(tmp_path / "extracted")

    def run():
        return subprocess.run(
            [
                sys.executable, os.path.join(ROOT, "jobs", "run_extract.py"),
                "--input", corpus_path, "--output", out_path,
                "--num-buckets", "4", "--batch-buckets", "4",
            ],
            capture_output=True, text=True, cwd=str(tmp_path),
            env={**os.environ, "PYTHONPATH": ROOT}, timeout=300,
        )

    first = run()
    assert first.returncode == 0, first.stderr[-2000:]
    assert json.loads(first.stdout.strip().splitlines()[-1])["audit"] == {
        "span_order_violations": 0, "media_ref_violations": 0,
    }

    # corrupt bucket=0 in place: shift every span order up by one
    part = os.path.join(out_path, "bucket=0")
    good = spark.read.parquet(part)
    corrupted = good.withColumn(
        "spans",
        F.transform(
            "spans",
            lambda s: F.struct(
                s["kind"].alias("kind"), s["text"].alias("text"),
                s["media_ref"].alias("media_ref"),
                (s["order"] + 1).alias("order"),
            ),
        ),
    )
    corrupted.toPandas()  # materialize before the overwrite below
    tmp_part = str(tmp_path / "bucket0_fixed")
    corrupted.write.mode("overwrite").parquet(tmp_part)
    import shutil

    shutil.rmtree(part)
    shutil.copytree(tmp_part, part)

    second = run()
    assert second.returncode != 0
    assert "ExtractionAuditError" in second.stderr
    assert "span-order" in second.stderr
