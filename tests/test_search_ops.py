"""Recall checks for the approximate vector-search paths against the
exact brute-force baseline (the oracle can't cover MLlib internals)."""

from __future__ import annotations

from pyspark.sql import functions as F

from docling_api_spark.operators.search import (
    ann_topk,
    ivf_centers_df,
    ivf_fixed_topk,
    ivf_index,
    ivf_probe,
    ivf_topk,
    knn_topk,
)

SF_DIR = "/root/testdata/sf0.01"


def _query(spark, vec_id=0):
    return (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .filter(F.col("vec_id") == vec_id)
        .select(F.col("embedding").alias("qv"))
    )


def _corpus(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def test_ivf_recall_vs_bruteforce(spark):
    corpus, q = _corpus(spark), _query(spark)
    exact = {r.vec_id for r in knn_topk(corpus, q, k=10).collect()}
    approx = {r.vec_id for r in ivf_topk(corpus, q, k=10, n_cells=8, nprobe=4).collect()}
    # probing half the cells must recover most of the true top-10
    assert len(exact & approx) >= 6

    # KMeans IVF is kept because it is the recall path: at the
    # ivf_ann_topk / ivf_fixed_topk setting (16 cells, nprobe 4) its
    # mean recall@10 must be at least the oracle-pinned fixed
    # quantizer's. ivf_topk is ivf_index + ivf_probe, so the index is
    # fitted once and probed per query (checked equal on query 0).
    n_cells, nprobe = 16, 4
    model, indexed = ivf_index(corpus, n_cells=n_cells)
    cents = ivf_centers_df(spark, model)
    assert [tuple(r) for r in ivf_probe(indexed, cents, q, k=10, nprobe=nprobe).collect()] == [
        tuple(r) for r in ivf_topk(corpus, q, k=10, n_cells=n_cells, nprobe=nprobe).collect()
    ]
    kmeans, fixed = [], []
    for vec_id in range(0, 400, 50):
        qi = _query(spark, vec_id)
        truth = {r.vec_id for r in knn_topk(corpus, qi, k=10).collect()}
        got = ivf_probe(indexed, cents, qi, k=10, nprobe=nprobe).collect()
        kmeans.append(len(truth & {r.vec_id for r in got}) / 10)
        got = ivf_fixed_topk(corpus, qi, dim=64, k=10, n_cells=n_cells, nprobe=nprobe).collect()
        fixed.append(len(truth & {r.vec_id for r in got}) / 10)
    assert sum(kmeans) >= sum(fixed), (kmeans, fixed)


def test_ivf_exact_when_probing_all_cells(spark):
    corpus, q = _corpus(spark), _query(spark)
    exact = [tuple(r) for r in knn_topk(corpus, q, k=10).collect()]
    full = [tuple(r) for r in ivf_topk(corpus, q, k=10, n_cells=8, nprobe=8).collect()]
    assert exact == full


def test_srp_ann_subset_of_corpus_and_sane(spark):
    corpus, q = _corpus(spark), _query(spark)
    rows = ann_topk(corpus, q, dim=64, k=5, n_bits=8).collect()
    assert 1 <= len(rows) <= 5
    # query vector itself is in its own bucket with sim 1.0
    assert rows[0].vec_id == 0 and abs(rows[0].sim - 1.0) < 1e-6


def test_ivf_cell_partitioned_index_prunes_scan(spark, tmp_path):
    """The deployment claim in ivf_index's docstring, proven: writing
    the indexed table partitioned BY CELL makes a probe read only
    nprobe/n_cells of the data — the cell filter must land in the
    scan's PartitionFilters (directory pruning), not as a post-scan
    row filter over everything."""
    model, indexed = ivf_index(_corpus(spark), n_cells=8)
    path = str(tmp_path / "ivf_index")
    indexed.write.partitionBy("cell").parquet(path)
    stored = spark.read.parquet(path)
    cents = ivf_centers_df(spark, model)

    out = ivf_probe(stored, cents, _query(spark), k=5, nprobe=2)
    # capture before the action: a finalized AdaptiveSparkPlan prints
    # only its top node
    plan = out._jdf.queryExecution().executedPlan().toString()
    rows = out.collect()
    assert len(rows) == 5
    # the probe's cell predicate must prune partitions at the source
    # (the path in Location is truncated, so identify the index scan
    # as the FileScan whose PartitionFilters mention the cell column)
    scan_lines = [
        l for l in plan.splitlines() if "FileScan" in l and "PartitionFilters: [" in l
    ]
    pruned = [l for l in scan_lines if "cell" in l.split("PartitionFilters:")[1]]
    assert pruned, plan
    # Spark plants a dynamic-pruning subquery: only the nprobe cell
    # directories are listed at runtime
    assert any("dynamicpruning" in l for l in pruned), pruned
