"""The benchmark's workloads: set-up, timed window and output checks.

Every workload drives ``docling_api_spark`` only through its public
functions, on inputs that ``corpus.corpus_df`` generates from the seed.
One op is the unit a caller waits for; ``window`` runs ops back to back
until the deadline and returns them, and ``check`` compares every op's
output with an in-process reference outside the timed window.
"""

from __future__ import annotations

import contextlib
import os
import random
import time
from collections import defaultdict
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
from pyspark.sql import functions as F

from docling_api_spark import MAX_FILE_SIZE_BYTES, checkpoint, corpus
from docling_api_spark.checkpoint import CommitLog, commit_history, extract_with_checkpoint
from docling_api_spark.kernels import extract_raw_span
from docling_api_spark.operators.audit import ExtractionAuditError, assert_extraction_invariants
from docling_api_spark.operators.chunk import chunk_extracted, chunk_spans
from docling_api_spark.operators.embed import embed_chunks, feature_hash_embed
from docling_api_spark.operators.extract import extract
from docling_api_spark.operators.search import knn_topk

WARM_DOCS = 24  # a corpus this small still holds every format
WARM_JOB_S = 8.0  # extract_job warms up on the batches of its first seconds


class Ctx:
    """What a workload needs from the run: the session, its own work
    directory, the seed, the core count and the tracer."""

    def __init__(self, spark, work: str, seed: int, cpus: int, tracer) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.cpus = cpus
        self.tracer = tracer

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    @property
    def warm_corpus(self) -> str:
        return self.path("warm", "corpus")

    def write_corpus(self, n_docs: int, path: str) -> None:
        corpus.corpus_df(self.spark, n_docs, seed=self.seed, partitions=self.cpus).write.mode(
            "overwrite"
        ).parquet(path)


def doc_index(doc_id: str) -> int:
    return int(doc_id[len("doc") :])


class _WindowClosed(Exception):
    """Raised after the first commit past the deadline to end the job
    there, the way a killed job ends; the table stays resumable."""


class ExtractJob:
    """The production extraction job, as ``jobs/run_extract.py`` runs
    it: ``extract_with_checkpoint`` into a fresh table, one bucket per
    batch, then the invariant audit over the re-read table and the
    commit-history totals. One op is one committed batch."""

    name = "extract_job"
    n_docs = 1000  # two 120-260-page PDFs, one per 500 docs
    num_buckets = 32  # ~31 docs per batch; more batches than a window holds

    def prepare(self, ctx: Ctx, rep: int) -> None:
        self.source = ctx.path(f"rep{rep}", "corpus")
        with ctx.tracer.span("corpus.gen"):
            ctx.write_corpus(self.n_docs, self.source)

    def finish_setup(self, ctx: Ctx) -> None:
        self.corpus = ctx.spark.read.parquet(self.source)

    def warm(self, ctx: Ctx) -> None:
        # a few batches of the real job: batch-sized plans and the audit
        # of a real table are still compiling through the first batches
        self.window(ctx, WARM_JOB_S, tag="warm.")

    def window(self, ctx: Ctx, seconds: float, tag: str = "") -> dict:
        spark, tracer = ctx.spark, ctx.tracer
        ops: list[dict] = []
        self.tables: list[dict] = []
        start = time.perf_counter()
        deadline = start + seconds
        mark = [start]
        table: dict = {}
        orig_commit = CommitLog.commit

        def timed_commit(log, seq, buckets, metrics, *args, **kwargs):
            orig_commit(log, seq, buckets, metrics, *args, **kwargs)
            now = time.perf_counter()
            ops.append(
                {"id": tracer.op, "start": mark[0], "end": now, "docs": metrics["docs"],
                 "buckets": list(buckets), "table": table["path"]}
            )
            mark[0] = now
            tracer.group(f"{tag}op{len(ops) + 1}")
            if now >= deadline:
                raise _WindowClosed

        with contextlib.ExitStack() as stack:
            CommitLog.commit = timed_commit
            stack.callback(setattr, CommitLog, "commit", orig_commit)
            while True:
                table = {"path": ctx.path(f"{tag}out", f"table{len(self.tables)}"), "audit": None}
                self.tables.append(table)
                tracer.group(f"{tag}op{len(ops) + 1}")
                mark[0] = time.perf_counter()
                try:
                    with tracer.span("checkpoint.job"):
                        extract_with_checkpoint(
                            self.corpus, table["path"], num_buckets=self.num_buckets, batch_buckets=1
                        )
                    closed = False
                except _WindowClosed:
                    closed = True
                tracer.group(f"{tag}audit")
                with tracer.span("audit"):
                    try:
                        assert_extraction_invariants(spark.read.parquet(table["path"]))
                    except ExtractionAuditError as e:
                        table["audit"] = str(e)
                tracer.group(f"{tag}history")
                with tracer.span("history"):
                    totals = commit_history(spark, table["path"]).groupBy().sum("docs").first()
                table["history_docs"] = int(totals[0] or 0)
                if closed or time.perf_counter() >= deadline:
                    break
        end = time.perf_counter()
        return {"ops": ops, "start": start, "end": end, "docs": sum(op["docs"] for op in ops)}

    def check(self, ctx: Ctx, result: dict) -> set[str]:
        """Failed op ids: each committed batch's documents must equal
        ``corpus.golden_df`` span for span, its manifest must count the
        size-gated documents of its bucket, and each table must pass the
        audit with a commit-history total equal to the size-gated
        documents of its committed buckets."""
        spark = ctx.spark
        gated = self.corpus.filter(F.col("size_bytes") <= F.lit(MAX_FILE_SIZE_BYTES)).select("doc_id")
        golden = (
            corpus.golden_df(spark, self.n_docs, seed=ctx.seed, partitions=ctx.cpus)
            .join(gated, "doc_id")
            .withColumn("bucket", checkpoint.bucket_of(F.col("doc_id"), self.num_buckets))
        )
        want: dict[int, dict[str, list]] = defaultdict(dict)
        for r in golden.collect():
            want[r.bucket][r.doc_id] = [tuple(s) for s in r.spans]
        failed: set[str] = set()
        for table in self.tables:
            t_ops = [op for op in result["ops"] if op["table"] == table["path"]]
            if not t_ops:
                continue
            got: dict[int, dict[str, list]] = defaultdict(dict)
            for r in spark.read.parquet(table["path"]).select("bucket", "doc_id", "spans").collect():
                got[r.bucket][r.doc_id] = [tuple(s) for s in r.spans]
            committed = [b for op in t_ops for b in op["buckets"]]
            table_ok = table["audit"] is None and table["history_docs"] == sum(
                len(want[b]) for b in committed
            ) and set(got) <= set(committed)
            for op in t_ops:
                ok = table_ok and op["docs"] == sum(len(want[b]) for b in op["buckets"])
                ok = ok and all(got[b] == want[b] for b in op["buckets"])
                if not ok:
                    failed.add(op["id"])
        return failed


class Ingest:
    """The RAG write path, the lineage ``streaming.pipeline.stream_ingest``
    runs per micro-batch: one op takes one equal slice of the corpus
    through ``extract(salt_partitions=0)`` → ``chunk_extracted`` →
    ``embed_chunks`` → a parquet write into that slice's own directory,
    so op cost does not grow with what was written before."""

    name = "ingest"
    n_docs = 500
    slices = 10  # 50 docs each

    def _slices(self, ctx: Ctx, n_docs: int, src: str, dst: str) -> None:
        ctx.write_corpus(n_docs, src)
        ctx.spark.read.parquet(src).withColumn(
            "slice", F.pmod(F.substring("doc_id", 4, 12).cast("long"), F.lit(self.slices))
        ).write.mode("overwrite").partitionBy("slice").parquet(dst)

    def _op(self, ctx: Ctx, src: str, dst: str) -> None:
        extracted = extract(ctx.spark.read.parquet(src), salt_partitions=0)
        embed_chunks(chunk_extracted(extracted), text_col="context").write.mode("overwrite").parquet(dst)

    def prepare(self, ctx: Ctx, rep: int) -> None:
        self.source = ctx.path(f"rep{rep}", "slices")
        with ctx.tracer.span("corpus.gen"):
            self._slices(ctx, self.n_docs, ctx.path(f"rep{rep}", "corpus"), self.source)

    def finish_setup(self, ctx: Ctx) -> None:
        pass

    def warm(self, ctx: Ctx) -> None:
        self._op(ctx, ctx.warm_corpus, ctx.path("warm", "out"))

    def window(self, ctx: Ctx, seconds: float) -> dict:
        ops: list[dict] = []
        start = time.perf_counter()
        deadline = start + seconds
        while time.perf_counter() < deadline:
            k = len(ops) % self.slices
            op_id = f"op{len(ops) + 1}"
            ctx.tracer.group(op_id)
            t0 = time.perf_counter()
            with ctx.tracer.span("ingest.slice"):
                self._op(ctx, os.path.join(self.source, f"slice={k}"), ctx.path("out", f"slice={k}"))
            ops.append({"id": op_id, "start": t0, "end": time.perf_counter(), "slice": k,
                        "docs": len(range(k, self.n_docs, self.slices))})
        end = time.perf_counter()
        return {"ops": ops, "start": start, "end": end, "docs": sum(op["docs"] for op in ops)}

    def check(self, ctx: Ctx, result: dict) -> set[str]:
        """Failed op ids: each written slice must hold exactly the chunks
        ``chunk.chunk_spans`` makes from its documents' golden spans,
        with the embeddings ``embed.feature_hash_embed`` gives their
        contexts. A slice written more than once is checked as last
        written; all its ops fail with it."""
        failed: set[str] = set()
        cols = ["chunk_index", "content", "context", "section_title", "page", "token_count"]
        for k in sorted({op["slice"] for op in result["ops"]}):
            want = []
            for i in range(k, self.n_docs, self.slices):
                doc, golden = corpus.gen_doc(i, ctx.seed)
                for c in chunk_spans(golden):
                    want.append((doc["doc_id"], *(c[col] for col in cols)))
            want.sort()
            rows = ctx.spark.read.parquet(ctx.path("out", f"slice={k}")).collect()
            got = sorted((r.doc_id, *(r[col] for col in cols)) for r in rows)
            vecs = {(r.doc_id, r.chunk_index): np.asarray(r.embedding, dtype=np.float32) for r in rows}
            ref = feature_hash_embed([w[3] for w in want])  # embed_chunks embeds the context
            ok = got == want and len(vecs) == len(want) and all(
                np.array_equal(vecs.get((w[0], w[1])), ref[j]) for j, w in enumerate(want)
            )
            if not ok:
                failed.update(op["id"] for op in result["ops"] if op["slice"] == k)
        return failed


def _round_half_up(x: float, scale: int = 6) -> float:
    """Spark's ``round`` on a double: HALF_UP on its decimal string."""
    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-scale), rounding=ROUND_HALF_UP))


def reference_topk(ids: np.ndarray, vecs: np.ndarray, q: np.ndarray, k: int) -> list[tuple[int, float]]:
    """Exact top-k by cosine, computed as ``functions.hashing.cosine``
    does: products and squares in double, summed in index order,
    rounded to 6 places, ordered by (sim desc, id asc); zero norms have
    no similarity and rank last."""
    v = vecs.astype(np.float64)
    qd = q.astype(np.float64)
    dot = np.cumsum(v * qd, axis=1)[:, -1]
    na = np.cumsum(v * v, axis=1)[:, -1]
    nb = float(np.cumsum(qd * qd)[-1])
    ranked = []
    for i in range(len(ids)):
        if na[i] > 0 and nb > 0 and np.isfinite(na[i]) and np.isfinite(nb):
            ranked.append((-_round_half_up(float(dot[i] / (np.sqrt(na[i]) * np.sqrt(nb)))), int(ids[i])))
    ranked.sort()
    return [(i, -s) for s, i in ranked[:k]]


class RagServe:
    """The RAG read path: one client in a closed loop of seeded queries
    against a fixed, cached index built with the ``ingest`` lineage.
    Each query is embedded on the driver, answered by ``knn_topk``
    (k=10) joined back to the chunk context and collected. One op is
    one query."""

    name = "rag_serve"
    n_docs = 500  # about a thousand chunks
    k = 10

    def prepare(self, ctx: Ctx, rep: int) -> None:
        self.source = ctx.path(f"rep{rep}", "corpus")
        with ctx.tracer.span("corpus.gen"):
            ctx.write_corpus(self.n_docs, self.source)

    def finish_setup(self, ctx: Ctx) -> None:
        path = ctx.path("index")
        with ctx.tracer.span("index.build"):
            extracted = extract(ctx.spark.read.parquet(self.source), salt_partitions=0)
            embed_chunks(chunk_extracted(extracted), text_col="context").withColumn(
                "vec_id", F.substring("doc_id", 4, 12).cast("long") * 10000 + F.col("chunk_index")
            ).write.mode("overwrite").parquet(path)
        self.index = ctx.spark.read.parquet(path).select(
            "vec_id", "embedding", "doc_id", "chunk_index", "context"
        ).cache()
        self.index.count()
        self.meta = self.index.select("vec_id", "doc_id", "chunk_index", "context")
        # query texts are runs of 3-8 words from the index's own chunks
        self.texts = [r.context for r in self.meta.select("vec_id", "context").orderBy("vec_id").collect()]
        self.index_docs = len({r.doc_id for r in self.meta.select("doc_id").distinct().collect()})
        self.rng = random.Random(ctx.seed)

    def warm(self, ctx: Ctx) -> None:
        for text in ("spark arrow batches", "parquet tables", "executor threads"):
            self._query(ctx, text)

    def next_query(self) -> str:
        words = self.rng.choice(self.texts).split()
        n = self.rng.randint(3, 8)
        i = self.rng.randrange(max(1, len(words) - n + 1))
        return " ".join(words[i : i + n])

    def _query(self, ctx: Ctx, text: str) -> tuple[np.ndarray, list]:
        tracer = ctx.tracer
        with tracer.span("embed.query"):
            qv = feature_hash_embed([text])[0]
        with tracer.span("search.plan"):
            q = ctx.spark.createDataFrame([(qv.tolist(),)], "qv array<float>")
            top = knn_topk(self.index, q, k=self.k).join(self.meta, "vec_id")
        with tracer.span("search.collect"):
            rows = top.collect()
        return qv, rows

    def window(self, ctx: Ctx, seconds: float) -> dict:
        ops: list[dict] = []
        start = time.perf_counter()
        deadline = start + seconds
        while time.perf_counter() < deadline:
            text = self.next_query()
            op_id = f"op{len(ops) + 1}"
            ctx.tracer.group(op_id)
            t0 = time.perf_counter()
            qv, rows = self._query(ctx, text)
            ops.append({"id": op_id, "start": t0, "end": time.perf_counter(), "qv": qv,
                        "rows": [(r.vec_id, r.sim, r.doc_id, r.chunk_index) for r in rows]})
        end = time.perf_counter()
        # every query scans every indexed document's chunks
        return {"ops": ops, "start": start, "end": end, "docs": self.index_docs * len(ops)}

    def check(self, ctx: Ctx, result: dict) -> set[str]:
        """Failed op ids: each query's top-k (id, sim) list must equal
        :func:`reference_topk` over the collected index, and each row's
        doc_id and chunk_index must be the ones its id encodes."""
        rows = self.index.select("vec_id", "embedding").collect()
        ids = np.array([r.vec_id for r in rows], dtype=np.int64)
        vecs = np.array([r.embedding for r in rows], dtype=np.float32)
        failed: set[str] = set()
        for op in result["ops"]:
            got = sorted(op["rows"], key=lambda r: (-r[1], r[0]))
            ok = [(r[0], r[1]) for r in got] == reference_topk(ids, vecs, op["qv"], self.k)
            ok = ok and all(r[0] == doc_index(r[2]) * 10000 + r[3] for r in got)
            if not ok:
                failed.add(op["id"])
        return failed


WORKLOADS = {w.name: w for w in (ExtractJob, Ingest, RagServe)}


def kernel_profile(n_docs: int, seed: int) -> dict:
    """Direct single-process ``kernels.extract_raw_span`` calls over the
    raw spans of the workload's corpus: total CPU seconds and the mean
    microseconds per raw span of each format."""
    kinds = {"html": "html", "pdf_page": "pdf", "docx_xml": "docx", "pptx_slide": "pptx", "xlsx_sheet": "xlsx"}
    wall: dict[str, list[float]] = defaultdict(list)
    cpu = 0.0
    for i in range(n_docs):
        doc, _ = corpus.gen_doc(i, seed)
        for s in doc["spans"]:
            c0, t0 = time.process_time(), time.perf_counter()
            extract_raw_span(s["kind"], s["text"])
            wall[kinds.get(s["kind"], s["kind"])].append(time.perf_counter() - t0)
            cpu += time.process_time() - c0
    out = {"kernels.cpu_s": cpu}
    for fmt in kinds.values():
        w = wall.get(fmt, [])
        out[f"kernels.us_per_span.{fmt}"] = 1e6 * sum(w) / len(w) if w else 0.0
    return out
