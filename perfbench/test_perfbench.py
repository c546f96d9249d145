"""Self-tests of the benchmark's own measuring code.

    python3 -m pytest perfbench/test_perfbench.py -q

The two Spark tests share one short real run: a tiny generated corpus
through extract → chunk → embed on ``local[2]`` with the event log on.
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from pss import PssSampler  # noqa: E402
from run import p75  # noqa: E402
from tracing import fold_event_log, read_event_log, union_ms  # noqa: E402


def test_p75_counts_the_samples_beyond_it():
    v, beyond, ok = p75([float(i) for i in range(40)])
    assert (beyond, ok) == (10, True) and 29 < v < 30
    _, beyond, ok = p75([float(i) for i in range(39)])
    assert beyond < 10 and not ok


def test_union_ms_merges_and_clips():
    assert union_ms([(0, 10), (5, 20), (30, 40)], 2, 35) == 18 + 5
    assert union_ms([], 0, 10) == 0


@pytest.fixture(scope="module")
def traced_run(tmp_path_factory):
    from docling_api_spark import corpus
    from docling_api_spark.operators.chunk import chunk_extracted
    from docling_api_spark.operators.embed import embed_chunks
    from docling_api_spark.operators.extract import extract
    from docling_api_spark.session import get_spark

    logs = str(tmp_path_factory.mktemp("eventlog"))
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sampler = PssSampler(interval_s=0.05).start()
    spark = get_spark(
        master="local[2]",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": logs,
            "spark.eventLog.compress": "false",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    try:
        spark.sparkContext.setJobGroup("op1", "op1")
        docs = corpus.corpus_df(spark, 24, seed=3, partitions=2)
        chunks = chunk_extracted(extract(docs, salt_partitions=2))
        embed_chunks(chunks, text_col="context").write.format("noop").mode("overwrite").save()
        sampler.sample()
    finally:
        spark.stop()
        sampler.stop()
    return sampler, fold_event_log(read_event_log(logs))


def test_pss_sampler_finds_python_workers(traced_run):
    sampler, _ = traced_run
    cmds = list(sampler.seen.values())
    assert any("pyspark.daemon" in c for c in cmds), cmds
    assert any(c.split(" ")[0].endswith("java") for c in cmds), cmds
    assert sampler.peak_kb > 0


def test_event_log_fold_maps_python_node_metrics(traced_run):
    _, groups = traced_run
    nodes = groups["op1"]["nodes"]
    for layer in ("extract", "chunk", "embed"):
        assert nodes[layer]["py_run_ms"] > 0, (layer, dict(nodes[layer]))
        assert nodes[layer]["arrow_sent_mb"] > 0, layer
        assert nodes[layer]["arrow_returned_mb"] > 0, layer
    # the salted repartition and the reassembly exchange are extraction's
    assert nodes["extract"]["shuffle_write_mb"] > 0
    assert groups["op1"]["jobs"] and groups["op1"]["tasks"] > 0
