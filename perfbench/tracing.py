"""Spans, Spark job groups and the event-log fold of the traced run.

The untraced run creates a disabled :class:`Tracer`, whose calls cost a
branch each. The traced run records a span around every call the
benchmark makes or wraps, tags each op's Spark jobs with
``SparkContext.setJobGroup(<op id>)`` and turns on Spark's event log;
:func:`fold_event_log` then reduces the log to per-job-group totals.
Job groups are the join key because PySpark jobs carry no call site.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import re
import time
from collections import defaultdict

# SQL metric name on a Python node -> (key, divisor to ms or MB)
PY_METRICS = {
    "time to start Python workers": ("py_start_ms", 1),
    "time to initialize Python workers": ("py_init_ms", 1),
    "time to run Python workers": ("py_run_ms", 1),
    "data sent to Python workers": ("arrow_sent_mb", 1e6),
    "data returned from Python workers": ("arrow_returned_mb", 1e6),
}
SHUFFLE_WRITTEN = "shuffle bytes written"


def node_layer(simple: str) -> str | None:
    """Layer that owns a physical plan node, from its simple string.

    The Python nodes are named after the function they run: the
    extraction kernels' ``_extract_single_batches`` / ``_extract_batches``,
    ``chunk_extracted``'s ``run`` and ``embed_chunks``'s ``embed`` UDF.
    The exchanges keyed on ``doc_id`` are extraction's salt repartition
    and its per-document reassembly.
    """
    if simple.startswith(("MapInPandas _extract_single_batches", "MapInPandas _extract_batches")):
        return "extract"
    if simple.startswith("MapInPandas run("):
        return "chunk"
    if simple.startswith("ArrowEvalPython [embed("):
        return "embed"
    if simple.startswith("Exchange") and (
        "xxhash64(doc_id" in simple or "hashpartitioning(doc_id" in simple
    ):
        return "extract"
    return None


class Tracer:
    """In-memory spans plus the current op id (the Spark job group).

    Times are ``time.perf_counter()`` values; :attr:`epoch_offset`
    converts them to the wall clock the event log uses.
    """

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.sc = None
        self.op: str | None = None
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.epoch_offset = time.time() - time.perf_counter()

    def group(self, op: str) -> None:
        """Start attributing spans, and when tracing Spark jobs, to ``op``."""
        self.op = op
        if self.enabled and self.sc is not None:
            self.sc.setJobGroup(op, op)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, stack: contextlib.ExitStack, owner, attr: str, name: str) -> None:
        """Record a span around every call of ``owner.attr`` until
        ``stack`` closes, when the original is put back."""
        orig = getattr(owner, attr)

        def wrapped(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapped)
        stack.callback(setattr, owner, attr, orig)


def _plan_nodes(info: dict):
    yield info
    for child in info.get("children", []):
        yield from _plan_nodes(child)


def read_event_log(log_dir: str) -> list[dict]:
    """Events of the one application logged under ``log_dir``, in order.

    Spark 4 writes a rolling log ``eventlog_v2_<app>/events_<n>_<app>``;
    a plain single-file log is read as well.
    """
    files = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    if files:
        files.sort(key=lambda p: int(re.match(r"events_(\d+)_", os.path.basename(p)).group(1)))
    else:
        files = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if not files:
        raise FileNotFoundError(f"no Spark event log under {log_dir}")
    events = []
    for path in files:
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def new_group() -> dict:
    """Totals of one job group; also what a group with no jobs reads as."""
    return {
        "jobs": {},
        "tasks": 0,
        "run_ms": 0,
        "cpu_ms": 0.0,
        "gc_ms": 0,
        "fetch_wait_ms": 0,
        "spill_bytes": 0,
        "input_bytes": 0,
        "nodes": defaultdict(lambda: defaultdict(float)),
    }


def fold_event_log(events: list[dict]) -> dict[str, dict]:
    """Per job group: job intervals (epoch ms), task counts, executor
    run/CPU/GC time, shuffle fetch wait, spill, input bytes, and the SQL
    metrics of the nodes :func:`node_layer` names, by layer.

    SQL metrics are summed from each task's accumulator updates; the
    accumulator ids are mapped to nodes through every plan the query
    had, the adaptive re-plans included.
    """
    acc_node: dict[int, tuple[str, str, float]] = {}
    for e in events:
        if e["Event"].endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            for node in _plan_nodes(e["sparkPlanInfo"]):
                layer = node_layer(node.get("simpleString", ""))
                if layer is None:
                    continue
                for m in node.get("metrics", []):
                    if m["name"] in PY_METRICS and node["nodeName"] != "Exchange":
                        key, div = PY_METRICS[m["name"]]
                        acc_node[m["accumulatorId"]] = (layer, key, div)
                    elif m["name"] == SHUFFLE_WRITTEN and node["nodeName"] == "Exchange":
                        acc_node[m["accumulatorId"]] = (layer, "shuffle_write_mb", 1e6)

    groups: dict[str, dict] = defaultdict(new_group)
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    for e in events:
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            g = (e.get("Properties") or {}).get("spark.jobGroup.id") or "<none>"
            job_group[e["Job ID"]] = g
            groups[g]["jobs"][e["Job ID"]] = [e["Submission Time"], None]
            for sid in e["Stage IDs"]:
                stage_group.setdefault(sid, g)
        elif ev == "SparkListenerJobEnd":
            g = job_group.get(e["Job ID"])
            if g is not None:
                groups[g]["jobs"][e["Job ID"]][1] = e["Completion Time"]
        elif ev == "SparkListenerTaskEnd":
            g = stage_group.get(e["Stage ID"], "<none>")
            grp = groups[g]
            grp["tasks"] += 1
            tm = e.get("Task Metrics") or {}
            grp["run_ms"] += tm.get("Executor Run Time", 0)
            grp["cpu_ms"] += tm.get("Executor CPU Time", 0) / 1e6
            grp["gc_ms"] += tm.get("JVM GC Time", 0)
            grp["fetch_wait_ms"] += (tm.get("Shuffle Read Metrics") or {}).get("Fetch Wait Time", 0)
            grp["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
            grp["input_bytes"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
            for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                hit = acc_node.get(acc.get("ID"))
                if hit is not None and acc.get("Update") is not None:
                    layer, key, div = hit
                    grp["nodes"][layer][key] += float(acc["Update"]) / div
    return dict(groups)


def union_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total
