#!/usr/bin/env python
"""spark-submit entry point for the corpus-curation cascade
(operators/curate.py): exact dedup → MinHash near-dup → line-level
boilerplate removal → quality filter → optional 13-gram benchmark
decontamination.

Usage:

    python jobs/package.py                       # builds dist/docling_api_spark.zip
    spark-submit --py-files dist/docling_api_spark.zip \
        jobs/run_curate.py \
        --input  /path/to/documents_parquet \
        --output /path/to/curated_table \
        [--quality-threshold 0.3] [--near-dup-threshold 0.8] \
        [--line-df-cap 100] [--eval-set /path/to/eval_parquet]

Input: a documents table with (doc_id, text). Output: the full audit
table (one row per input doc: text, quality, drop_stage, kept)
partitioned by ``kept`` — the curated corpus is the kept=true
partition; the drop ledger rides along for reporting.

The job reads the input twice: one aggregate counts its rows and
distinct ``doc_id`` values (a shared or null id fails the job before
the cascade runs), then the cascade runs once, in the write. The rows
written and the docs per stage come from an ``Observation`` on that
write. The table is written to a hidden staging directory next to
``--output`` (``.<name>.staging``) and moved into place with a Hadoop
FileSystem rename only once every input doc has its audit row; a
failed run deletes the staging directory and leaves an existing
``--output`` as it was. Publishing deletes the old ``--output`` just
before the rename, so between those two calls there is no table there.

The session comes from ``session.get_spark``: the engine's settings,
with any key given to spark-submit winning over them (e.g.
``--conf spark.sql.shuffle.partitions=<2-3× total cores>`` on a
cluster). The report is one JSON line: the docs per stage, the output
path and the run's conditions (master, default parallelism, shuffle
partitions).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

try:  # noqa: SIM105 — same bootstrap as run_extract.py
    import docling_api_spark  # noqa: F401
except ModuleNotFoundError:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def run(spark, argv: list[str] | None = None) -> dict:
    """Curate ``--input`` into ``--output``; returns the report."""
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--quality-threshold", type=float, default=0.3)
    ap.add_argument("--near-dup-threshold", type=float, default=0.8)
    ap.add_argument("--line-df-cap", type=int, default=100)
    ap.add_argument(
        "--eval-set",
        default=None,
        help="parquet with a `text` column; docs sharing any 13-gram are dropped",
    )
    args = ap.parse_args(argv)

    from docling_api_spark.operators import curate
    from docling_api_spark.session import run_conditions

    docs = spark.read.parquet(args.input)
    n_in = curate.count_input_docs(docs)
    ev = spark.read.parquet(args.eval_set).select("text") if args.eval_set else None
    staged, observation = curate.observe_curation(
        curate.curate_corpus(
            docs,
            quality_threshold=args.quality_threshold,
            near_threshold=args.near_dup_threshold,
            line_df_cap=args.line_df_cap,
            eval_texts=ev,
        )
    )
    Path = spark._jvm.org.apache.hadoop.fs.Path
    out = Path(args.output)
    fs = out.getFileSystem(spark._jsc.hadoopConfiguration())
    out = fs.makeQualified(out)
    staging = Path(out.getParent(), f".{out.getName()}.staging")
    try:
        staged.write.mode("overwrite").partitionBy("kept").parquet(staging.toString())
        stats = curate.curation_stats(observation)
        # refuse to publish an audit table that lost rows (same
        # publish-gate discipline as run_extract's span/media audits):
        # every input doc must come out as a LABELED row, kept or dropped
        curate.assert_row_conservation(n_in, stats["rows"])
        if fs.exists(out):
            fs.delete(out, True)
        if not fs.rename(staging, out):
            raise IOError(f"could not rename {staging} to {out}")
    finally:
        if fs.exists(staging):
            fs.delete(staging, True)
    return {"stages": stats["stages"], "output": args.output, "run": run_conditions(spark)}


def main() -> None:
    from docling_api_spark.session import get_spark

    spark = get_spark(app_name="docling_api_spark.curate")
    print(json.dumps(run(spark)))
    spark.stop()


if __name__ == "__main__":
    main()
