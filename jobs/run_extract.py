#!/usr/bin/env python
"""spark-submit entry point for the extraction pipeline (north_rule:
"ships as spark-submit --py-files on multi-executor clusters").

Usage:

    python jobs/package.py                       # builds dist/docling_api_spark.zip
    spark-submit --py-files dist/docling_api_spark.zip \
        jobs/run_extract.py \
        --input  /path/to/corpus_parquet \
        --output /path/to/extracted_table \
        [--num-buckets 256] [--batch-buckets 32] [--resume] \
        [--ocr] [--force-full-page-ocr] [--max-size-mb 50]

The input is the canonical corpus table (doc_id, fmt, size_bytes,
spans); output is the extracted table partitioned by content bucket
with per-batch commit manifests (lineage + metrics) under
``<output>/_commits/`` — rerunning with --resume (or just rerunning:
resume is the default behavior) skips committed buckets.

The session comes from ``session.get_spark``, so the job runs with the
engine's settings, and any key given to spark-submit wins over them.
On a cluster, leave ``--master`` to spark-submit; locally the launcher
falls back to local[*]. Set shuffle partitions per cluster with
``--conf spark.sql.shuffle.partitions=<2-3× total cores>``.

The report is one JSON line: batches, skipped buckets, the totals summed
from the commit manifests, the audit, and the run's conditions (master,
default parallelism, shuffle partitions).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# `python jobs/run_extract.py` puts jobs/ (not the repo root) on
# sys.path; under spark-submit --py-files the zip provides the package.
# Bootstrap the repo-root layout so both invocations work.
try:  # noqa: SIM105
    import docling_api_spark  # noqa: F401
except ModuleNotFoundError:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))



def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--num-buckets", type=int, default=256)
    ap.add_argument("--batch-buckets", type=int, default=32)
    ap.add_argument("--max-size-mb", type=int, default=50)
    ap.add_argument(
        "--ocr",
        action="store_true",
        help="enable OCR for scanned pages/image docs (kernels/ocr.py do_ocr)",
    )
    ap.add_argument(
        "--force-full-page-ocr",
        action="store_true",
        help="re-OCR even pages with a text layer (EasyOcrOptions semantics)",
    )
    ap.add_argument(
        "--resume",
        action="store_true",
        help="resume from committed buckets (this is also the default behavior; "
        "the flag just makes intent explicit in job specs)",
    )
    ap.add_argument(
        "--skip-audit",
        action="store_true",
        help="skip the post-extract invariant audit (span-order density, "
        "media-ref integrity) over the materialized table",
    )
    args = ap.parse_args()

    from docling_api_spark.checkpoint import CommitLog, extract_with_checkpoint
    from docling_api_spark.kernels.ocr import OcrOptions
    from docling_api_spark.session import get_spark, run_conditions

    spark = get_spark(app_name="docling_api_spark.extract")

    corpus = spark.read.parquet(args.input)
    result = extract_with_checkpoint(
        corpus,
        args.output,
        num_buckets=args.num_buckets,
        batch_buckets=args.batch_buckets,
        max_size_bytes=args.max_size_mb * 1024 * 1024,
        ocr=OcrOptions(do_ocr=args.ocr, force_full_page_ocr=args.force_full_page_ocr),
    )
    # North-rule invariants enforced in the real run, not only the
    # driver gate (VERDICT r4 ask #7): re-read the MATERIALIZED table
    # (so partial/corrupt bucket writes are what gets audited) and
    # fail the job on any span-order or media-ref violation.
    audit: dict = {"skipped": True}
    if not args.skip_audit:
        from pyspark.errors import AnalysisException

        from docling_api_spark.operators.audit import assert_extraction_invariants

        try:
            materialized = spark.read.parquet(args.output)
        except AnalysisException:
            # zero part files (every doc size-gated / empty corpus):
            # only _SUCCESS/_commits exist, so parquet schema inference
            # fails — nothing was published, so there is nothing to
            # audit; the metrics line reports null totals as before
            audit = {"span_order_violations": 0, "media_ref_violations": 0,
                     "note": "empty output, no data files"}
        else:
            audit = assert_extraction_invariants(materialized)
    # totals over every committed batch, this run's and earlier runs';
    # null when nothing was ever committed
    commits = CommitLog(args.output, spark).commits()
    totals = {
        k: sum(c["metrics"][k] for c in commits) if commits else None
        for k in ("docs", "spans", "chars")
    }
    print(
        json.dumps(
            {
                "processed_batches": result["processed_batches"],
                "skipped_buckets": len(result["skipped_buckets"]),
                **totals,
                "audit": audit,
                "run": run_conditions(spark),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
