"""Per-partition checkpoint / resume (north_rule: lineage + metrics in
commit metadata; reference semantics: the idempotent pending-work
predicate ``has_embedding == False``, core/jobs.py:22-24).

No Iceberg runtime jar ships in this container, so the commit-metadata
contract is implemented over plain Parquet + a ``_commits/`` JSON
manifest directory (SURVEY.md §7: "Iceberg if jar present else
Parquet + _commits manifest"). The contract:

* Work is keyed by **stable content buckets**: ``pmod(xxhash64(doc_id),
  num_buckets)`` — deterministic, data-independent placement, so a
  resumed job computes the identical bucket → doc assignment.
* Each batch of buckets is written with **dynamic partition
  overwrite** (``partitionOverwriteMode=dynamic``) into
  ``bucket=<b>/`` directories — a batch that crashed mid-write is
  simply rewritten on resume; the commit manifest is only written
  *after* the data lands, via atomic temp+rename, so a manifest's
  presence proves its buckets' data is complete.
* Each commit records lineage + metrics ``{buckets, docs, spans,
  chars}`` — the per-partition metrics stream the north_rule wants in
  Iceberg commit metadata, queryable via ``commit_history``. The
  metrics come from the write itself: an ``Observation`` on the frame
  being written folds them as the rows stream into the files, so a
  batch is one Spark action — no persist, no second pass.
* Resume = anti-join pending buckets against the union of committed
  bucket ids (the reference's pending-work scan, one metadata read).
* Up to ``_IN_FLIGHT`` batches run at once, each on its own thread,
  but manifests are published strictly in seq order, so a batch's
  fixed cost (planning, stage scheduling, the AQE gaps between its
  jobs) overlaps the previous batches' work instead of leaving cores
  idle.

At 1000 executors the unit of recovery is the bucket batch, so a
killed 100 TB job loses at most the in-flight batches of work; bucket
count is sized so one batch ≈ one AQE-coalesced write stage.
"""

from __future__ import annotations

import json
import os
import uuid
from collections import deque
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from docling_api_spark.operators.extract import extract

COMMITS_DIR = "_commits"
# bucket batches running at once: one being planned or committed on the
# driver, one in its map stages, one in its write stage
_IN_FLIGHT = 3


class CommitLog:
    """Atomic JSON commit manifests under ``<table>/_commits/``.

    Manifest I/O goes through the **Hadoop FileSystem API** when a
    SparkSession is supplied, so the manifests live on the same storage
    the executors write the data to (HDFS/S3A/file), not on the
    driver's local disk. Publish is write-temp + ``fs.rename``: atomic
    on POSIX and HDFS; on S3A the destination object only becomes
    visible once the copy completes, so in all three cases a visible
    ``commit-*.json`` implies a complete manifest. Readers additionally
    skip temp files and tolerate torn/unparseable manifests (treated as
    never-written — the batch just reruns idempotently on resume).

    Without a session (``spark=None``) a plain-POSIX fallback with the
    same temp+``os.replace`` protocol is used (local paths only).
    """

    def __init__(self, table_path: str, spark: SparkSession | None = None) -> None:
        self.dir = os.path.join(table_path, COMMITS_DIR)
        self.spark = spark

    # -- Hadoop FileSystem lane -------------------------------------------
    def _fs(self):
        jvm = self.spark._jvm
        path = jvm.org.apache.hadoop.fs.Path(self.dir)
        conf = self.spark._jsc.hadoopConfiguration()
        return path.getFileSystem(conf), jvm.org.apache.hadoop.fs.Path

    def _manifests(self) -> list[dict]:
        """All parseable commit manifests, in seq filename order."""
        out: list[tuple[str, dict]] = []
        if self.spark is not None:
            fs, Path = self._fs()
            d = Path(self.dir)
            if not fs.exists(d):
                return []
            for st in fs.listStatus(d):
                name = st.getPath().getName()
                if not (name.startswith("commit-") and name.endswith(".json")):
                    continue
                stream = fs.open(st.getPath())
                try:
                    data = bytes(
                        self.spark._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
                    )
                finally:
                    stream.close()
                try:
                    payload = json.loads(data)
                except ValueError:
                    continue  # torn manifest == never written
                if isinstance(payload, dict) and "buckets" in payload:
                    out.append((name, payload))
        else:
            if not os.path.isdir(self.dir):
                return []
            for name in os.listdir(self.dir):
                if not (name.startswith("commit-") and name.endswith(".json")):
                    continue
                try:
                    with open(os.path.join(self.dir, name)) as f:
                        payload = json.load(f)
                except ValueError:
                    continue
                if isinstance(payload, dict) and "buckets" in payload:
                    out.append((name, payload))
        return [payload for _, payload in sorted(out)]

    def _manifest_names(self) -> list[str]:
        """ALL commit-*.json filenames, parseable or not."""
        if self.spark is not None:
            fs, Path = self._fs()
            d = Path(self.dir)
            if not fs.exists(d):
                return []
            names = [st.getPath().getName() for st in fs.listStatus(d)]
        else:
            if not os.path.isdir(self.dir):
                return []
            names = os.listdir(self.dir)
        return [n for n in names if n.startswith("commit-") and n.endswith(".json")]

    def next_seq(self) -> int:
        """1 + the max seq across ALL commit manifest filenames —
        including torn/unparseable ones. Counting only parseable
        manifests would collide the next commit with an existing valid
        one when a torn lower-seq file exists: the Hadoop lane's rename
        then fails every resume, and the POSIX lane silently overwrites
        a valid manifest."""
        seqs = []
        for name in self._manifest_names():
            try:
                seqs.append(int(name[len("commit-") : -len(".json")]))
            except ValueError:
                continue
        return max(seqs) + 1 if seqs else 0

    def completed_buckets(self) -> set[int]:
        done: set[int] = set()
        for payload in self._manifests():
            done.update(payload["buckets"])
        return done

    def commits(self) -> list[dict]:
        return self._manifests()

    def recorded_num_buckets(self) -> set[int]:
        """Distinct ``num_buckets`` values across parseable manifests
        (empty for pre-field manifests). Resume must run with the SAME
        bucket count the table was written with: committed bucket ids
        are only meaningful in their own hash space, so resuming 16-way
        commits with num_buckets=8 would treat new-space buckets 0..3
        as done and silently never extract part of the corpus."""
        return {
            p["num_buckets"] for p in self._manifests() if "num_buckets" in p
        }

    def commit(
        self, seq: int, buckets: list[int], metrics: dict, num_buckets: int | None = None
    ) -> None:
        """Publish manifest atomically: temp write + rename."""
        payload = {"seq": seq, "buckets": sorted(buckets), "metrics": metrics}
        if num_buckets is not None:
            payload["num_buckets"] = num_buckets
        blob = json.dumps(payload).encode()
        tmp_name = f".tmp-{uuid.uuid4().hex}"
        final_name = f"commit-{seq:06d}.json"
        if self.spark is not None:
            fs, Path = self._fs()
            fs.mkdirs(Path(self.dir))
            tmp = Path(os.path.join(self.dir, tmp_name))
            stream = fs.create(tmp, False)
            try:
                stream.write(bytearray(blob))
                stream.hflush()
            finally:
                stream.close()
            if not fs.rename(tmp, Path(os.path.join(self.dir, final_name))):
                fs.delete(tmp, False)  # don't strand the temp file
                raise IOError(f"commit manifest publish failed for seq {seq}")
        else:
            os.makedirs(self.dir, exist_ok=True)
            tmp = os.path.join(self.dir, tmp_name)
            with open(tmp, "wb") as f:
                f.write(blob)
                f.flush()
                os.fsync(f.fileno())
            os.replace(tmp, os.path.join(self.dir, final_name))


def bucket_of(col, num_buckets: int):
    return F.pmod(F.xxhash64(col), F.lit(num_buckets)).cast("int")


def observe_batch_metrics(extracted: DataFrame) -> tuple[DataFrame, Observation]:
    """``extracted`` with the lineage metrics docs / spans / chars
    attached as an ``Observation``; the first action on the returned
    frame fills it."""
    obs = Observation("batch_metrics")
    observed = extracted.observe(
        obs,
        F.count(F.lit(1)).alias("docs"),
        F.sum(F.size("spans")).alias("spans"),
        F.sum(
            F.aggregate(
                # coalesce: OUT_SPAN.text is nullable, and one NULL
                # would null the whole doc's fold — F.sum then silently
                # drops the doc from chars while docs/spans count it
                F.transform(
                    "spans",
                    lambda s: F.coalesce(F.length(s["text"]), F.lit(0)),
                ),
                F.lit(0).cast("long"),
                lambda a, x: a + x,
            )
        ).alias("chars"),
    )
    return observed, obs


def batch_metrics(observation: Observation) -> dict:
    """Lineage metrics for one committed batch, read from the
    observation its write filled. Sums over zero rows are NULL; an
    empty batch commits zeros."""
    m = observation.get
    return {
        "docs": int(m["docs"] or 0),
        "spans": int(m["spans"] or 0),
        "chars": int(m["chars"] or 0),
    }


def extract_with_checkpoint(
    corpus: DataFrame,
    table_path: str,
    num_buckets: int = 16,
    batch_buckets: int = 4,
    fail_after_batches: int | None = None,
    max_size_bytes: int | None = None,
    ocr=None,
) -> dict:
    """Run the extraction pipeline bucket-batch by bucket-batch with
    commit metadata; resumable after any crash.

    Each batch is a single action, the write. Its manifest metrics are
    observed on the frame being written (``observe_batch_metrics``):
    the ``CollectMetrics`` node sits directly under the write, with no
    exchange between them, so it runs in the write's result stage.
    Spark merges a result-stage task's accumulator updates only for the
    first successful attempt of each partition, so under task retry or
    speculation every row is counted exactly once. Nothing is
    persisted: the write is the only pass over the batch. The
    observation is read only after the write returned; an empty batch
    commits zeros.

    Up to ``_IN_FLIGHT`` batches run at once on a private thread pool.
    Seq numbers follow pending-bucket order. The calling thread waits on
    the oldest batch, publishes its manifest, and only then submits the
    next batch, so manifests appear in seq order and each one's metrics
    come from its own batch's observation. Each batch thread runs with
    the caller's Spark local properties (job group, scheduler pool) as
    they were when the batch was submitted, and names its jobs
    ``extract batch seq=<n> buckets=<b,...>``. Spark's FIFO scheduler
    runs an earlier job's stages first, so where one batch fills every
    slot the batches run as serially as before and only their driver
    work overlaps.

    If a batch's write or commit raises, no new batch is submitted: the
    batches already in flight finish and commit in seq order, then the
    first exception is re-raised. An in-process failure therefore never
    leaves bucket data without a manifest; a hard kill loses at most the
    in-flight batches, which resume rewrites (dynamic partition
    overwrite).

    Returns {"processed_batches", "skipped_buckets", "total_buckets"}.
    ``fail_after_batches`` injects a crash for resume tests: that many
    batches are submitted and committed, then the call raises.
    """
    spark = corpus.sparkSession
    prev_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    log = CommitLog(table_path, spark)
    prior = log.recorded_num_buckets()
    if prior and prior != {num_buckets}:
        raise ValueError(
            f"resume num_buckets={num_buckets} does not match the table's "
            f"committed bucket space {sorted(prior)}: committed bucket ids "
            "are only valid in their own hash space, so continuing would "
            "silently skip unprocessed documents"
        )
    done = log.completed_buckets()
    pending = [b for b in range(num_buckets) if b not in done]
    groups = [pending[i : i + batch_buckets] for i in range(0, len(pending), batch_buckets)]
    if fail_after_batches is not None:
        del groups[fail_after_batches:]
    extract_kwargs = {} if max_size_bytes is None else {"max_size_bytes": max_size_bytes}
    if ocr is not None:
        extract_kwargs["ocr"] = ocr

    jsc = spark.sparkContext._jsc.sc()

    def write_batch(props, seq: int, group: list[int]) -> Observation:
        """Extract and write one bucket batch on a pool thread; returns
        the observation its write filled. ``extract`` is looked up at
        call time, so a wrapper installed on this module sees every
        batch."""
        jsc.setLocalProperties(props)
        jsc.setJobDescription(f"extract batch seq={seq} buckets={','.join(map(str, group))}")
        batch = corpus.filter(bucket_of(F.col("doc_id"), num_buckets).isin(group))
        extracted, observation = observe_batch_metrics(
            extract(batch, **extract_kwargs).withColumn(
                "bucket", bucket_of(F.col("doc_id"), num_buckets)
            )
        )
        extracted.write.mode("overwrite").partitionBy("bucket").parquet(table_path)
        return observation

    processed = 0
    seq = log.next_seq()
    error: Exception | None = None
    in_flight: deque = deque()
    todo = iter(groups)
    try:
        with ThreadPoolExecutor(_IN_FLIGHT, thread_name_prefix="extract-batch") as pool:
            while True:
                while error is None and len(in_flight) < _IN_FLIGHT:
                    group = next(todo, None)
                    if group is None:
                        break
                    # the caller's local properties as of this submission
                    props = jsc.getLocalProperties().clone()
                    future = pool.submit(write_batch, props, seq, group)
                    in_flight.append((seq, group, future))
                    seq += 1
                if not in_flight:
                    break
                batch_seq, group, future = in_flight.popleft()
                try:
                    metrics = batch_metrics(future.result())
                    log.commit(batch_seq, group, metrics, num_buckets=num_buckets)
                except Exception as e:  # drain: in-flight batches still commit
                    if error is None:
                        error = e
                    continue
                processed += 1
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev_mode)
    if error is not None:
        raise error
    if fail_after_batches is not None and processed >= fail_after_batches:
        raise RuntimeError(f"injected failure after {processed} batches")
    return {
        "processed_batches": processed,
        "skipped_buckets": sorted(done),
        "total_buckets": num_buckets,
    }


def commit_history(spark: SparkSession, table_path: str) -> DataFrame:
    """Commit metadata as a DataFrame (the history/metrics table the
    reference keeps in SQLite, services/history_service.py:11-36)."""
    rows = [
        (
            c["seq"],
            c["buckets"],
            c["metrics"]["docs"],
            c["metrics"]["spans"],
            c["metrics"]["chars"],
        )
        for c in CommitLog(table_path, spark).commits()
    ]
    return spark.createDataFrame(
        rows, "seq int, buckets array<int>, docs long, spans long, chars long"
    )
