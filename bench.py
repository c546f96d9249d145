#!/usr/bin/env python
"""Benchmark harness (driver contract + scaling evidence).

Default mode: run the headline query suite at ``$SPARK_GRAFT_SF_DIR``
(default /root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and
print ONE JSON line::

    {"metric": "headline_suite_sec", "value": N, "unit": "sec",
     "queries": {...}, "sf": 0.1, "extraction_docs_per_sec": ...}

``--scaling`` mode (north_rule evidence): re-exec the flagship
extraction job at two parallelism levels (default 8 and 32 cores) in
fresh subprocesses, report throughput at both plus scaling efficiency.
Results land in BENCH_SCALING.json and are summarized in BASELINE.md.

Execution is forced with the ``noop`` sink (full pipeline runs, rows
are materialized and discarded — no driver-side collect).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pandas as pd

SF_DIR_DEFAULT = "/root/testdata/sf0.1"

# Ordered headline suite; names resolved against the registry, absent
# entries skipped (lets the suite grow as operators land).
HEADLINE = [
    "extract_html_roundtrip",
    "extract_rich_spans",
    "extract_pdf_layout",
    "extract_docx_roundtrip",
    "extract_metrics",
    "tpch_q1_style",
    "join_fact_dim",
    "per_group_counts",
    "topk_per_group",
    "rrf_fusion",
    "chunk_documents",
    "embed_hash_stats",
    "chunk_embed_pipeline",
    "knn_cosine_topk",
    "ann_lsh_topk",
    "embedding_dup_pairs",
    "dedup_exact",
    "dedup_minhash_pairs",
    "ngram_jaccard_ref",
    "simhash_signatures",
    "doc_fingerprint",
    "token_count_bpe",
    "textstats_quality",
    "langid_heuristic",
    "search_pipeline",
    "sessionize_events",
    "salted_skew_join",
    "simhash_dup_pairs",
    "sketch_distinct_users",
    "media_decode_dims",
    "ivf_ann_topk",
    "min_cost_supplier",
    "rollup_status_priority",
    "ingest_end_to_end",
]

# round-2 additions — FROZEN as of round 3 (round-over-round
# comparability, like HEADLINE)
EXTENDED = [
    "extract_xlsx_roundtrip",
    "extract_pptx_roundtrip",
    "ocr_dispatch",
    "extract_error_rows",
    "asof_click_attribution",
    "range_join_shipments",
    "bm25_rank",
    "hybrid_search_rrf",
    "vocab_heavy_hitters",
    "dedup_clusters",
    "dedup_cascade_survivors",
    "quality_filter_curation",
    "ivf_fixed_topk",
    "streaming_sessionize",
    "cube_status_priority",
    "running_total_window",
]

# round-3 additions, timed outside both frozen sets
EXTENDED_R3 = [
    "media_page_render_fallback",
    "media_sidecar_dims",
    "chunk_hybrid_invariants",
    "boilerplate_line_dedup",
    "multi_query_knn_rrf",
    "benchmark_decontamination",
    "curation_pipeline_audit",
    "gopher_quality_flags",
    "sequence_packing_plan",
    "pii_scrub",
    "dataset_split_stats",
    "stratified_sample_balanced",
    "data_mixing_plan",
    "intra_doc_line_dedup",
    "embedding_quantize_int8",
    "ann_quantized_topk",
    "unigram_rarity_stats",
    "global_shuffle_shard_plan",
    "exact_substring_spans",
    "exact_substring_remove",
    "bigram_lm_surprisal",
    "semdedup_survivors",
    "dsir_selection",
    "bpe_merge_table",
    "bpe_subword_stats",
    "dedup_best_representative",
    "streaming_exact_dedup",
    "heavy_hitters_sketch",
    "cdc_merge_upsert",
    "zorder_layout_stats",
    "scd2_user_state",
    "corpus_snapshot_diff",
    "winnow_fingerprints",
    "winnow_dup_pairs",
    "content_defined_chunks",
    "ewma_user_value",
    "key_skew_profile",
    "table_profile_orders",
    "value_outlier_filter",
    "mutual_nn_pairs",
    "session_funnel",
]

# round-4 additions, timed outside all frozen sets.
# checkpoint_lineage_audit is EXCLUDED from timing: it writes a
# checkpointed table + commit manifests to a tempdir (side-effectful
# by design — it's the crash/resume machinery under audit), so it
# runs in the correctness gates, not the throughput suite.
EXTENDED_R4 = [
    "incremental_near_dup",
    "streaming_incremental_dedup",
    "domain_frequency_cap",
    "group_leakage_split",
    "pmi_collocations",
    "tfidf_top_terms",
    "centroid_label_purity",
    "embedding_dim_health",
    "ngram_diversity_stats",
    "ccnet_perplexity_buckets",
    "span_order_audit",
    "media_ref_integrity",
    "c4_line_filters",
    "repetition_ngram_fractions",
    "multimodal_packing_plan",
    "dedup_clusters_star",
]

# FROZEN as of round 4: winnow_fingerprints + the heaviest round-3
# additions, totalled separately so round-over-round attribution of
# the expensive tail survives registry growth (VERDICT r3 ask #8).
# Members are timed once (inside their home section above); this set
# only defines the extra per-set total.
FROZEN_HEAVY = [
    "winnow_fingerprints",
    "dedup_best_representative",
    "semdedup_survivors",
    "curation_pipeline_audit",
    "exact_substring_spans",
    "exact_substring_remove",
    "dedup_cascade_survivors",
    "ivf_fixed_topk",
]


def _membw_quick_gbps() -> float:
    """Single-process first-touch fault-in probe (~128 MB, < 1 s even
    degraded). The box intermittently drops to 0.01-1 GB/s fresh-page
    fault-in vs 200+ healthy, inflating every query 5-10x; probing
    MID-run (not just before the JVM) makes a window that opens
    mid-suite attributable (VERDICT r3 #2: BENCH_r03 carried window-
    inflated numbers with only a pre-run calibration)."""
    import numpy as np

    t0 = time.perf_counter()
    a = np.ones(2**27, dtype=np.uint8)
    gbps = 0.128 / (time.perf_counter() - t0)
    del a
    return round(gbps, 3)


DEGRADED_GBPS = 5.0  # healthy boxes measure 200+; degraded 0.01-1


def _ivf_build_probe(spark, sf_dir: str, n_probes: int = 5) -> dict:
    """IVF in its scale deployment shape: index built ONCE (KMeans fit
    + cell assignment, persisted), then served probe-by-probe — the
    per-query number a cluster actually pays, vs the fit-per-query
    artifact of timing ivf_ann_topk standalone."""
    from pyspark.sql import functions as F

    from docling_api_spark.operators.search import (
        ivf_centers_df,
        ivf_index,
        ivf_probe,
    )
    from docling_api_spark.sources.catalog import load

    emb = load(spark, sf_dir, "embeddings")
    t0 = time.perf_counter()
    model, indexed = ivf_index(emb, n_cells=16)
    indexed = indexed.persist()
    indexed.write.format("noop").mode("overwrite").save()  # materialize index
    cent_df = ivf_centers_df(spark, model)
    build_sec = round(time.perf_counter() - t0, 3)

    probe_times = []
    for i in range(n_probes):
        q = emb.filter(F.col("vec_id") == i).select(F.col("embedding").alias("qv"))
        t0 = time.perf_counter()
        ivf_probe(indexed, cent_df, q, k=5, nprobe=4).collect()
        probe_times.append(time.perf_counter() - t0)
    indexed.unpersist()
    probe_times.sort()
    return {
        "ivf_index_build_sec": build_sec,
        "ivf_probe_median_ms": round(probe_times[len(probe_times) // 2] * 1000, 1),
        "ivf_probe_min_ms": round(probe_times[0] * 1000, 1),
        "ivf_probes": n_probes,
    }


def _sf_of(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def run_suite(sf_dir: str, cpus: str) -> dict:
    from docling_api_spark.plans import registry
    from docling_api_spark.session import get_spark
    from docling_api_spark.sources.catalog import load

    # Host-health attribution, measured BEFORE the JVM exists (same
    # probes --scaling records). The box exhibits transient degraded-
    # memory windows (first-touch fault-in measured as low as 1 GB/s vs
    # 200+ GB/s healthy — every suite query inflates ~5-10x in such a
    # window, uniformly). Embedding the calibration in the suite
    # artifact makes a slow-window run attributable instead of looking
    # like a code regression.
    cpu_cal = _cpu_calibration(int(cpus))
    membw = _membw_calibration(int(cpus))

    spark = get_spark(master=f"local[{cpus}]", app_name=f"bench-{cpus}")
    qmap = registry.queries()
    warmed = _warm(spark, sf_dir)

    # per-suite-half host-health probes: a degraded window opening
    # mid-run is marked, not mistaken for a code regression
    membw_probes: dict[str, float] = {"pre": _membw_quick_gbps()}

    def _time_set(names) -> dict[str, float]:
        out: dict[str, float] = {}
        for name in names:
            fn = qmap.get(name)
            if fn is None:
                continue
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            out[name] = round(time.perf_counter() - t0, 3)
            # the dedup/search pipelines persist intermediates; drop
            # them so accumulated cache blocks don't GC-tax later
            # queries' timings
            spark.catalog.clearCache()
        return out

    timings = _time_set(HEADLINE)
    membw_probes["post_headline"] = _membw_quick_gbps()
    total = round(sum(timings.values()), 3)

    # round-2 operators, timed separately — NOT in the frozen headline
    # metric (round-over-round comparability), reported for visibility
    extended = _time_set(EXTENDED)
    membw_probes["post_extended"] = _membw_quick_gbps()

    # round-3 operators, same per-query discipline, separate section
    extended_r3 = _time_set(EXTENDED_R3)
    membw_probes["post_extended_r3"] = _membw_quick_gbps()

    # round-4 operators, same discipline, separate section
    extended_r4 = _time_set(EXTENDED_R4)
    membw_probes["post_extended_r4"] = _membw_quick_gbps()

    # IVF in deployment shape: build once, probe many (BENCH item 10)
    ivf = _ivf_build_probe(spark, sf_dir)
    spark.catalog.clearCache()

    # flagship extraction throughput (docs/sec, MB/sec) from the
    # documents table the roundtrip query consumed
    extras: dict[str, float] = {}
    if "extract_html_roundtrip" in timings and timings["extract_html_roundtrip"] > 0:
        docs = load(spark, sf_dir, "documents")
        n_docs, n_bytes = docs.selectExpr("count(*)", "sum(n_chars)").first()
        t = timings["extract_html_roundtrip"]
        extras["extraction_docs_per_sec"] = round(n_docs / t, 1)
        extras["extraction_mb_per_sec"] = round((n_bytes or 0) / 1e6 / t, 2)

    all_timed = {**timings, **extended, **extended_r3, **extended_r4}
    heavy = {n: all_timed[n] for n in FROZEN_HEAVY if n in all_timed}
    degraded = min(membw_probes.values()) < DEGRADED_GBPS
    # COMPACT stdout record (VERDICT r3 #2: the single JSON line
    # outgrew the driver's tail capture and lost the headline header;
    # per-query detail for the extended sections now lives in
    # BENCH_DETAIL.json, keeping the stdout line well under any tail
    # budget while the frozen-34 per-query map stays inline)
    compact = {
        "metric": "headline_suite_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "extended_total_sec": round(sum(extended.values()), 3),
        "extended_r3_total_sec": round(sum(extended_r3.values()), 3),
        "extended_r4_total_sec": round(sum(extended_r4.values()), 3),
        "frozen_heavy_total_sec": round(sum(heavy.values()), 3),
        **ivf,
        "sf": _sf_of(sf_dir),
        "cpus": cpus,
        "cpu_calibration": cpu_cal,
        "membw_calibration_gbps": round(membw / 1e9, 2),
        "membw_probes_gbps": membw_probes,
        "degraded_memory_window": degraded,
        # False when no sibling sf0.001 exists: the first timed
        # mapInPandas query then pays the workers' cold imports
        "warmed": warmed,
        **extras,
        "detail_file": "BENCH_DETAIL.json",
    }
    detail = {
        **compact,
        "queries_extended_r2": extended,
        "queries_extended_r3": extended_r3,
        "queries_extended_r4": extended_r4,
        "queries_frozen_heavy": heavy,
    }
    with open(os.path.join(os.path.dirname(__file__) or ".", "BENCH_DETAIL.json"), "w") as f:
        json.dump(detail, f, indent=2)
    return compact


def _warm(spark, sf_dir: str | None = None) -> bool:
    """Warm JVM codegen AND the Python worker pool (mapInPandas spawns
    one worker per core on first use — excluded from steady-state
    throughput, which is what a long-running job sees). Returns whether
    the sf0.001 extract→chunk→embed warm chain ran."""
    from pyspark.sql import functions as F

    @F.pandas_udf("long")
    def _one(s: pd.Series) -> pd.Series:
        return s

    n = spark.sparkContext.defaultParallelism
    spark.range(n * 4).repartition(n).select(_one("id")).write.format("noop").mode(
        "overwrite"
    ).save()
    # The trivial UDF above leaves the worker-side package imports
    # (extraction kernels, hashing, numpy chains) cold: worker REUSE
    # means the first timed mapInPandas query pays every import + its
    # page fault-in — a fixed per-process cost a long-running job pays
    # once at startup, and the documented 2.7-23 s swing on
    # ingest_end_to_end at fixed code. Run the flagship
    # extract→chunk→embed chain at the smallest SF so each reused
    # worker has the real modules resident before timing starts.
    if sf_dir is None:
        return False
    small = os.path.join(os.path.dirname(sf_dir.rstrip("/")) or ".", "sf0.001")
    if not os.path.isdir(small):
        return False
    from docling_api_spark.plans import registry

    fn = registry.queries().get("ingest_end_to_end")
    if fn is None:
        return False
    fn(spark, small).write.format("noop").mode("overwrite").save()
    spark.catalog.clearCache()
    return True


def _cpu_calibration(width: int, seconds: float = 2.0) -> float:
    """Aggregate pure-Python CPU throughput at ``width`` processes
    (spin loop). This measures the BOX's parallel ceiling at that
    width — turbo clocks and SMT mean an N→4N thread scale-up on one
    host never yields 4× even for embarrassingly parallel work. The
    scaling report normalizes by this so software efficiency is
    separated from hardware frequency scaling."""
    import multiprocessing as mp

    with mp.Pool(width) as pool:
        counts = pool.map(_spin, [seconds] * width)
    return float(sum(counts))


def _spin(seconds: float) -> int:
    t0 = time.perf_counter()
    n = 0
    while time.perf_counter() - t0 < seconds:
        n += 1
    return n


def _membw_calibration(width: int, seconds: float = 2.0) -> float:
    """Aggregate memory-COPY bandwidth (bytes/s) at ``width``
    processes (large numpy block copies — a STREAM-style probe).

    Shuffle-heavy stages (the PDF shard path's salt + reassembly
    exchanges) are bound by memory bandwidth, which on ONE box is a
    shared resource: 4N threads get nowhere near 4N× the bandwidth,
    whereas 4N executors on a real cluster bring 4N separate memory
    buses. This probe quantifies the box's bandwidth ceiling per
    width so shuffle-path scaling can be judged against the hardware
    that actually limits it (the CPU spin probe alone cannot see
    this ceiling)."""
    import multiprocessing as mp

    with mp.Pool(width) as pool:
        counts = pool.map(_copy_spin, [seconds] * width)
    return float(sum(counts))


def _copy_spin(seconds: float) -> int:
    import numpy as np

    a = np.ones(32 * 1024 * 1024 // 8)  # 32 MB, beyond L2/L3 slice
    b = np.empty_like(a)
    t0 = time.perf_counter()
    n_bytes = 0
    while time.perf_counter() - t0 < seconds:
        np.copyto(b, a)
        n_bytes += a.nbytes
    return n_bytes


def _scaling_child(sf_dir: str, cpus: str, repl: int) -> dict:
    """Timed flagship extraction over a ×repl replicated corpus (large
    enough that kernel compute dominates scheduler overhead).

    Honest-measurement setup: shuffle partitions = cores with AQE
    coalescing off (so reduce-side parallelism actually scales with
    the "cluster size"), shuffle dirs on tmpfs when available (a
    single box's one disk is not the cluster's aggregate I/O), and a
    small pipeline-exact warm-up run first (JIT-compiles every
    codegen stage and spins the Python worker pool — steady-state
    throughput is what a long job sees)."""
    import os as _os

    from pyspark.sql import functions as F

    from docling_api_spark.operators.extract import extract
    from docling_api_spark.operators.render import render_text
    from docling_api_spark.session import get_spark
    from docling_api_spark.sources.catalog import (
        load,
        wrap_documents_as_corpus,
        wrap_documents_as_pdf_corpus,
    )

    # SPARK_GRAFT_SCALE_FMT=pdf scales a multi-span corpus (two pages
    # per doc through the salted page spread + reassembly) instead of
    # one raw span per doc — the page-shard spread's own scaling evidence
    fmt = os.environ.get("SPARK_GRAFT_SCALE_FMT", "html")
    wrap = wrap_documents_as_pdf_corpus if fmt == "pdf" else wrap_documents_as_corpus

    # calibrate BEFORE the JVM exists — a live/shutting-down JVM's
    # threads pollute the spin measurement
    calibration = _cpu_calibration(int(cpus))
    membw = _membw_calibration(int(cpus))
    freshtouch_pre = _membw_quick_gbps()

    extra = {
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.driver.memory": "16g",
        # Fault the whole heap in at JVM launch, OUTSIDE the timed
        # region (same discipline as scripts/cluster_bench.py executor
        # JVMs): this box's degraded-memory windows collapse the
        # first-touch path specifically, and lazy heap growth otherwise
        # lands that host-serialized cost inside the measured job —
        # asymmetrically, since the wider level allocates faster.
        # Healthy boxes are unaffected. (-Xmx comes from
        # spark.driver.memory; only the floor is set here.)
        "spark.driver.extraJavaOptions": "-Xms16g -XX:+AlwaysPreTouch",
    }
    if _os.path.isdir("/dev/shm"):
        extra["spark.local.dir"] = "/dev/shm/spark-bench-tmp"
    spark = get_spark(
        master=f"local[{cpus}]",
        app_name=f"scale-{cpus}",
        # 4× cores: enough reduce partitions that a wide-row reassembly
        # partition fits comfortably in memory even at 2 cores (cores×1
        # measured GC-thrash superlinear artifacts on the PDF path)
        shuffle_partitions=int(cpus) * 4,
        extra_conf=extra,
    )
    _warm(spark)
    # spread the source BEFORE the ×repl explode — the parquet file is
    # one input split, and a serial generator stage would cap both
    # parallelism levels at the same rate (measured: 0.98× "speedup")
    n_tasks = int(cpus) * 2

    if fmt == "mixed":
        # TRUE interleaved corpus: the gen_doc 40/30/10/10/10 format
        # mix including the 1-in-500 oversized-PDF skew tail, generated
        # distributed (mapInPandas over the index range). repl=400 on
        # the 5,000-doc sf0.1 table matches the html/pdf paths' 2M docs.
        from docling_api_spark.corpus import corpus_df

        base = load(spark, sf_dir, "documents").count()

        def job(replication: int):
            corpus = corpus_df(spark, base * replication, partitions=n_tasks)
            return extract(corpus).select(
                "doc_id", render_text(F.col("spans")).alias("content")
            )

        job(max(repl // 100, 1)).write.format("noop").mode("overwrite").save()
        n_docs = base * repl
        # payload size = raw span text bytes (one extra counting pass,
        # outside the timed window)
        n_bytes = (
            corpus_df(spark, n_docs, partitions=n_tasks)
            .select(
                F.aggregate(
                    "spans", F.lit(0).cast("long"), lambda a, s: a + F.length(s["text"])
                ).alias("b")
            )
            .agg(F.sum("b"))
            .first()[0]
        )
    else:
        docs = load(spark, sf_dir, "documents").select(
            F.col("doc_id").cast("string").alias("doc_id"), "text", "n_chars"
        )

        def job(replication: int):
            big = (
                docs.repartition(n_tasks)
                .withColumn("r", F.explode(F.sequence(F.lit(0), F.lit(replication - 1))))
                .select(F.concat_ws("_", "doc_id", "r").alias("doc_id"), "text")
            )
            corpus = wrap(big)
            return extract(corpus).select(
                "doc_id", render_text(F.col("spans")).alias("content")
            )

        # pipeline-exact warm-up at 1% scale (JIT + worker pool)
        job(max(repl // 100, 1)).write.format("noop").mode("overwrite").save()

        n_docs, n_bytes = docs.selectExpr("count(*)", "sum(n_chars)").first()
        n_docs, n_bytes = n_docs * repl, (n_bytes or 0) * repl
    out = job(repl)
    t0 = time.perf_counter()
    out.write.format("noop").mode("overwrite").save()
    elapsed = time.perf_counter() - t0
    spark.stop()
    return {
        "cpus": int(cpus),
        "fmt": fmt,
        "sec": round(elapsed, 3),
        "docs": int(n_docs),
        "docs_per_sec": round(n_docs / elapsed, 1),
        "mb_per_sec": round(n_bytes / 1e6 / elapsed, 2),
        "cpu_calibration": calibration,
        "membw_calibration_gbps": round(membw / 1e9, 2),
        # first-touch fault-in bandwidth, pre-JVM and post-run: the
        # box's degraded windows collapse THIS path specifically
        # (0.01-1 GB/s vs 200+ healthy) while spin and copy
        # calibrations stay near-normal — and wider levels fault in
        # fresh pages (Python string allocation across N workers)
        # proportionally faster, so a fault-in window deflates the
        # wide leg's efficiency asymmetrically. Embedding both probes
        # makes that attributable from the artifact alone.
        "freshtouch_gbps": {"pre": freshtouch_pre, "post": _membw_quick_gbps()},
    }


def run_scaling(sf_dir: str, levels=None) -> dict:
    """The two-cluster-size criterion, evidenced with two parallelism
    levels on the same input (no real cluster in this sandbox).
    Each level runs in a fresh subprocess so JVM/thread pools are
    sized honestly per level."""
    # default N=2 → 4N=8: below this box's thread-contention knee, so
    # measured efficiency reflects the software, not turbo-clock rolloff
    # (the calibration field quantifies the rolloff for wider jumps)
    if levels is None:
        levels = tuple(
            int(x) for x in os.environ.get("SPARK_GRAFT_SCALE_LEVELS", "2,8").split(",")
        )
    repl = int(os.environ.get("SPARK_GRAFT_SCALE_REPL", "400"))
    results = []
    for n in levels:
        out = subprocess.run(
            [sys.executable, __file__, "--scaling-child", str(n), sf_dir, str(repl)],
            capture_output=True,
            text=True,
            check=True,
        )
        results.append(json.loads(out.stdout.strip().splitlines()[-1]))
    def _leg(lo: dict, hi: dict) -> dict:
        speedup = hi["docs_per_sec"] / lo["docs_per_sec"]
        ideal = hi["cpus"] / lo["cpus"]
        # the box's own ceiling for the same width jump (turbo/SMT):
        # embarrassingly parallel pure-CPU work measures this much speedup
        hw_speedup = hi["cpu_calibration"] / lo["cpu_calibration"]
        membw_speedup = (
            hi["membw_calibration_gbps"] / lo["membw_calibration_gbps"]
            if lo.get("membw_calibration_gbps")
            else None
        )
        leg = {
            "cpus": [lo["cpus"], hi["cpus"]],
            "speedup": round(speedup, 3),
            "ideal": ideal,
            "scaling_efficiency": round(speedup / ideal, 3),
            "hardware_ceiling_speedup": round(hw_speedup, 3),
            "scaling_efficiency_vs_hardware": round(speedup / hw_speedup, 3),
        }
        if membw_speedup is not None:
            # shuffle-heavy paths are bandwidth-bound: on one box 4N
            # threads share one memory bus (a real 4N-executor cluster
            # brings 4N buses), so the bandwidth ceiling is the honest
            # comparator for the shard path
            leg["membw_ceiling_speedup"] = round(membw_speedup, 3)
            leg["scaling_efficiency_vs_membw"] = round(speedup / membw_speedup, 3)
        return leg

    # headline = the first leg (the north-rule N→4N jump, below the
    # box's thread-contention knee). Extra levels (e.g. 2,8,32) add
    # per-adjacent-pair legs so the driver's local[32] environment is
    # characterized too — on one box the 8→32 leg is ceiling-bound
    # (one memory bus, turbo rolloff), which the per-leg calibration
    # ratios quantify.
    head = _leg(results[0], results[1] if len(results) > 1 else results[0])
    out = {"levels": results, **{k: v for k, v in head.items() if k != "cpus"}}
    if len(results) > 2:
        out["legs"] = [
            _leg(results[i], results[i + 1]) for i in range(len(results) - 1)
        ]
    return out


def run_targets(cpus: str) -> dict:
    """Measure against the reference's OWN stated targets
    (/root/reference/PLAN.md:395-398 — its only published numbers):
    search latency @ 10k chunks (it: sqlite-vec, <500 ms) and embedding
    throughput (it: MiniLM CPU, >100 chunks/s; ours is the hermetic
    hash provider — provider-dependent, the harness adds no bottleneck).
    """
    from pyspark.sql import functions as F

    from docling_api_spark.operators.embed import embedding_udf
    from docling_api_spark.operators.search import knn_topk
    from docling_api_spark.session import get_spark

    spark = get_spark(master=f"local[{cpus}]", app_name=f"targets-{cpus}")
    _warm(spark)
    n, dim = 10_000, 384
    vecs = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda j: ((F.xxhash64(F.col("id"), j) % 2001) / 1000.0).cast("float"),
        ).alias("embedding"),
    ).persist()
    vecs.count()
    q = vecs.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    knn_topk(vecs, q, k=5).collect()  # warm
    lat = []
    for _ in range(5):
        t0 = time.perf_counter()
        knn_topk(vecs, q, k=5).collect()
        lat.append((time.perf_counter() - t0) * 1000)
    lat.sort()

    texts = spark.range(20_000).select(
        F.concat(
            F.lit("chunk text number "),
            F.col("id").cast("string"),
            F.lit(" with several words of content to embed"),
        ).alias("context")
    )
    emb = texts.select(embedding_udf()(F.col("context")).alias("e"))
    emb.write.format("noop").mode("overwrite").save()  # warm
    t0 = time.perf_counter()
    emb.write.format("noop").mode("overwrite").save()
    dt = time.perf_counter() - t0
    return {
        "search_latency_ms_at_10k_chunks": {
            "median": round(lat[2], 1),
            "min": round(lat[0], 1),
            "reference_target": "< 500 ms (PLAN.md:395)",
        },
        "embed_chunks_per_sec": {
            "value": round(20_000 / dt, 0),
            "reference_target": "> 100 chunks/s (PLAN.md:397)",
        },
        "cpus": cpus,
    }


def main() -> None:
    argv = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", SF_DIR_DEFAULT)
    if argv and argv[0] == "--scaling-child":
        print(json.dumps(_scaling_child(argv[2], argv[1], int(argv[3]))))
        return
    if argv and argv[0] == "--targets":
        rep = run_targets(os.environ.get("SPARK_GRAFT_CPUS", "32"))
        with open(os.path.join(os.path.dirname(__file__), "BENCH_TARGETS.json"), "w") as f:
            json.dump(rep, f, indent=2)
        print(json.dumps(rep))
        return
    if argv and argv[0] == "--scaling":
        rep = run_scaling(sf_dir)
        fmt = os.environ.get("SPARK_GRAFT_SCALE_FMT", "html")
        out_name = "BENCH_SCALING.json" if fmt == "html" else f"BENCH_SCALING_{fmt}.json"
        path = os.path.join(os.path.dirname(__file__), out_name)
        # preserve trial history: every run appends to `trials`
        prev = {}
        if os.path.exists(path):
            try:
                with open(path) as f:
                    prev = json.load(f)
            except ValueError:
                prev = {}
        trials = prev.get("trials", [])
        trials.insert(
            0,
            {
                "trial": "auto",
                "ts": int(time.time()),
                "cpus": [lv["cpus"] for lv in rep["levels"]],
                "scaling_efficiency": rep["scaling_efficiency"],
                "docs_per_sec": [lv["docs_per_sec"] for lv in rep["levels"]],
            },
        )
        # the LATEST run is the representative top-level numbers — a
        # regression must be visible at the top, not buried in trials.
        # The historical best stays under best_trial (host-shared box:
        # absolute throughput swings ±30%, so best-clean is the fairest
        # cross-round comparison, but never silently the headline).
        out = dict(rep)
        out["measured_at"] = int(time.time())
        prev_best = prev.get("best_trial") or {
            k: v for k, v in prev.items() if k in ("scaling_efficiency", "levels")
        }
        cands = [c for c in (prev_best, rep) if c.get("scaling_efficiency") is not None]
        out["best_trial"] = max(cands, key=lambda c: c["scaling_efficiency"])
        out["trials"] = trials
        if prev.get("note"):
            out["note"] = prev["note"]
        with open(path, "w") as f:
            json.dump(out, f, indent=2)
        print(json.dumps(rep))
        return
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    print(json.dumps(run_suite(sf_dir, cpus)))


if __name__ == "__main__":
    main()
