"""End-to-end spark-submit packaging test: build the --py-files zip,
run the extraction job entry point against a corpus dir in a clean
subprocess whose only import path to the engine is the zip.

Each child gets its launcher keys through ``PYSPARK_SUBMIT_ARGS``, as
``spark-submit --conf`` would pass them: an uncompressed event log, from
which the tests count the job's SQL executions (one per Spark action),
and for the extraction job a shuffle-partition count, which must win
over ``get_spark``'s default."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from docling_api_spark.session import _default_shuffle_partitions
from docling_api_spark.sources.catalog import load, wrap_documents_as_corpus

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = "/root/testdata/sf0.001"


def _child_env(zip_path: str, event_log: str, *confs: str) -> dict:
    """The child's environment: the engine only from the zip, and the
    given launcher keys plus an uncompressed event log under
    ``event_log``."""
    os.makedirs(event_log)
    confs = (
        "spark.eventLog.enabled=true",
        f"spark.eventLog.dir={event_log}",
        "spark.eventLog.compress=false",
        *confs,
    )
    env = dict(os.environ)
    env["PYTHONPATH"] = zip_path
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(f"--conf {c}" for c in confs) + " pyspark-shell"
    return env


def _sql_executions(event_log: str) -> int:
    """SQL executions recorded in the event log(s) under ``event_log``
    (Spark writes rolling logs as a directory of ``events_*`` files)."""
    start = '"Event":"org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"'
    n = 0
    for d, _, files in os.walk(event_log):
        for f in files:
            if f.startswith(("events_", "local-")):
                with open(os.path.join(d, f)) as fh:
                    n += sum(start in line for line in fh)
    return n


def test_package_builds():
    sys.path.insert(0, os.path.join(ROOT, "jobs"))
    try:
        import package

        out = package.build()
    finally:
        sys.path.pop(0)
    assert os.path.exists(out)
    import zipfile

    names = zipfile.ZipFile(out).namelist()
    assert "docling_api_spark/__init__.py" in names
    assert "docling_api_spark/checkpoint.py" in names
    assert not any("__pycache__" in n for n in names)


def test_submit_job_runs_from_zip(spark, tmp_path):
    corpus_path = str(tmp_path / "corpus")
    wrap_documents_as_corpus(load(spark, SF_DIR, "documents").limit(60)).write.parquet(
        corpus_path
    )

    sys.path.insert(0, os.path.join(ROOT, "jobs"))
    try:
        import package

        zip_path = package.build(str(tmp_path / "docling_api_spark.zip"))
    finally:
        sys.path.pop(0)

    out_path = str(tmp_path / "extracted")
    # the child must resolve the package from the zip, not the repo
    event_log = str(tmp_path / "eventlog")
    env = _child_env(zip_path, event_log, "spark.sql.shuffle.partitions=7")
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(ROOT, "jobs", "run_extract.py"),
            "--input",
            corpus_path,
            "--output",
            out_path,
            "--num-buckets",
            "4",
            "--batch-buckets",
            "2",
        ],
        capture_output=True,
        text=True,
        cwd=str(tmp_path),  # away from the repo so imports come from the zip
        env=env,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    report = json.loads(proc.stdout.strip().splitlines()[-1])
    assert report["docs"] == 60
    assert report["processed_batches"] == 2
    assert os.path.isdir(os.path.join(out_path, "_commits"))
    # the launcher's key wins over get_spark's default
    assert report["run"]["shuffle_partitions"] == 7
    # one write per batch, one audit scan; the totals come from the
    # manifests without a Spark job
    assert _sql_executions(event_log) == report["processed_batches"] + 1


def test_curate_job_runs_from_zip(spark, tmp_path):
    """The curation cascade ships the same way as extraction: child
    process resolves the engine only from the --py-files zip."""
    docs_path = str(tmp_path / "docs")
    load(spark, SF_DIR, "documents").select("doc_id", "text").write.parquet(docs_path)
    eval_path = str(tmp_path / "eval")
    load(spark, SF_DIR, "documents").filter("doc_id < 5").select("text").write.parquet(
        eval_path
    )

    sys.path.insert(0, os.path.join(ROOT, "jobs"))
    try:
        import package

        zip_path = package.build(str(tmp_path / "docling_api_spark.zip"))
    finally:
        sys.path.pop(0)

    out_path = str(tmp_path / "curated")
    event_log = str(tmp_path / "eventlog")
    env = _child_env(zip_path, event_log)
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(ROOT, "jobs", "run_curate.py"),
            "--input", docs_path,
            "--output", out_path,
            "--eval-set", eval_path,
        ],
        capture_output=True,
        text=True,
        cwd=str(tmp_path),
        env=env,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    report = json.loads(proc.stdout.strip().splitlines()[-1])
    stages = report["stages"]
    assert sum(stages.values()) == 500  # every input doc accounted for
    assert stages.get("kept", 0) > 0 and stages.get("quality", 0) > 0
    # audit table partitioned by kept; curated corpus = kept=true leg
    # (partition-column values read back as strings — standard Spark
    # partition inference)
    got = spark.read.parquet(out_path)
    assert got.count() == 500
    assert got.filter("kept = 'true'").count() == stages["kept"]
    # no launcher key for it: get_spark's default for the launcher's master
    run = report["run"]
    assert run["master"] == "local[*]"
    assert run["shuffle_partitions"] == _default_shuffle_partitions("local[*]")
    # the input scan and the write, nothing else
    assert _sql_executions(event_log) == 2
    assert sorted(os.listdir(tmp_path)) == ["curated", "docling_api_spark.zip", "docs", "eval", "eventlog"]
