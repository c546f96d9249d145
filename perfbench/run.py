#!/usr/bin/env python3
"""Benchmark of docling_api_spark: one workload per run.

    python3 perfbench/run.py --workload extract_job --seed 1 --seconds 30 --trace 0

Runs from the root of a checkout. Starts one Spark session with
``session.get_spark`` on ``local[<cores>]``, sets the workload up from
the seed, runs its ops back to back for ``--seconds``, checks every
op's output, and prints as its last line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics; with
``--trace 1`` the run records spans, tags each op's Spark jobs with a
job group, turns on Spark's event log and reports the per-layer
metrics instead. The line before it is the run record: run conditions,
op count and set-up split. Everything the run writes stays under
``.perfbench_run/`` in the checkout; its work directory is removed at
exit, its records are kept under ``.perfbench_run/results/``.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import json
import os
import platform
import shutil
import signal
import subprocess
import statistics
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN_DIR = os.path.join(ROOT, ".perfbench_run")
DEFAULT_SEED = 1
SETUP_REPS = 3
DRIVER_MEMORY = "1g"
WATCHDOG_S = 170


def process_age_s() -> float:
    """Seconds since this process started (from /proc, 10 ms ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def membw_gbps() -> float:
    """Fresh-touch bandwidth of 128 MB in the driver: context for
    hosts whose page fault-in rate drops for minutes at a time."""
    import numpy as np

    t0 = time.perf_counter()
    a = np.ones(2**27, dtype=np.uint8)
    gbps = 0.128 / (time.perf_counter() - t0)
    del a
    return gbps


def p75(values: list[float], min_beyond: int = 10) -> tuple[float, int, bool]:
    """The 75th percentile of ``values`` (``statistics.quantiles``,
    exclusive method), the number of samples above it, and whether that
    number reaches ``min_beyond``, the fewest a tail percentile should
    rest on."""
    v = statistics.quantiles(values, n=4)[2] if len(values) > 1 else values[0]
    beyond = sum(1 for x in values if x > v)
    return v, beyond, beyond >= min_beyond


def _med(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def layer_metrics(wl, result: dict, tracer, groups: dict, setup: dict, untraced_p50: float | None) -> dict:
    """Per-layer metrics of a traced run; see perfbench/README.md.

    Python and Arrow numbers are per op where the workload's ops run
    that layer, and otherwise per set-up build when its set-up does
    (rag_serve builds its index with the ingest lineage); 0 means the
    workload does not run the layer.
    """
    from tracing import new_group, union_ms
    from workloads import kernel_profile

    ops = result["ops"]
    op_ids = {op["id"] for op in ops}
    off_ms = tracer.epoch_offset * 1e3
    empty = new_group()
    parents = {s["parent"] for s in tracer.spans if s["parent"] is not None}
    per_op = []
    for op in ops:
        g = groups.get(op["id"], empty)
        lo, hi = op["start"] * 1e3 + off_ms, op["end"] * 1e3 + off_ms
        jobs = [(a, b if b is not None else hi) for a, b in g["jobs"].values()]
        # leaf spans only: a span around the whole job says nothing about where its time went
        spans = [
            (s["start"] * 1e3 + off_ms, s["end"] * 1e3 + off_ms)
            for i, s in enumerate(tracer.spans)
            if s["op"] == op["id"] and i not in parents and s["end"] is not None
        ]
        wall = hi - lo
        per_op.append({
            "wall_ms": wall,
            "jobs": len(g["jobs"]),
            "tasks": g["tasks"],
            "driver_ms": wall - union_ms(jobs, lo, hi),
            "unaccounted": 1 - union_ms(jobs + spans, lo, hi) / wall if wall > 0 else 0.0,
            "run_ms": g["run_ms"],
            "cpu_ms": g["cpu_ms"],
            "gc_ms": g["gc_ms"],
            "fetch_wait_ms": g["fetch_wait_ms"],
            "spill_mb": g["spill_bytes"] / 1e6,
            "input_mb": g["input_bytes"] / 1e6,
            "nodes": g["nodes"],
        })

    def col(key):
        return [p[key] for p in per_op]

    def op_spans(name):
        return [(s["end"] - s["start"]) * 1e3 for s in tracer.spans
                if s["name"] == name and s["op"] in op_ids and s["end"] is not None]

    setup_nodes = groups.get("setup.final", empty)["nodes"]

    def node(layer, key):
        if any(layer in p["nodes"] for p in per_op):
            return _med(p["nodes"].get(layer, {}).get(key, 0.0) for p in per_op)
        return setup_nodes.get(layer, {}).get(key, 0.0)

    m = {
        "session.start_s": setup["session_s"],
        "session.warm_s": setup["warm_s"],
        "corpus.gen_s": _med(setup["gen_s"]),
    }
    m.update(kernel_profile(wl.n_docs, setup["seed"]))
    for key in ("py_start_ms", "py_init_ms", "py_run_ms", "arrow_sent_mb", "arrow_returned_mb", "shuffle_write_mb"):
        m[f"extract.{key}"] = node("extract", key)
    for layer in ("chunk", "embed"):
        for key in ("py_run_ms", "arrow_sent_mb", "arrow_returned_mb"):
            m[f"{layer}.{key}"] = node(layer, key)
    is_rag = wl.name == "rag_serve"
    is_job = wl.name == "extract_job"
    m["embed.query_ms"] = _med(op_spans("embed.query"))
    m["search.topk_ms"] = _med(op_spans("search.collect"))
    m["search.tasks_per_query"] = _med(col("tasks")) if is_rag else 0.0
    m["search.executor_cpu_ms"] = _med(col("cpu_ms")) if is_rag else 0.0
    m["checkpoint.batch_ms"] = _med(col("wall_ms")) if is_job else 0.0
    m["checkpoint.metrics_ms"] = _med(op_spans("checkpoint.batch_metrics"))
    m["checkpoint.commit_ms"] = _med(op_spans("checkpoint.commit"))
    m["checkpoint.resume_scan_ms"] = _med(op_spans("checkpoint.resume_scan"))
    m["checkpoint.jobs_per_batch"] = _med(col("jobs")) if is_job else 0.0
    m["checkpoint.input_mb_per_batch"] = _med(col("input_mb")) if is_job else 0.0
    audits = [(s["end"] - s["start"]) * 1e3 for s in tracer.spans if s["name"] == "audit" and s["op"] == "audit"]
    m["audit.ms"] = _med(audits)
    m["audit.jobs"] = len(groups.get("audit", empty)["jobs"]) / max(1, len(audits))
    for key, name in (("jobs", "jobs_per_op"), ("tasks", "tasks_per_op"), ("driver_ms", "driver_ms"),
                      ("run_ms", "executor_run_ms"), ("cpu_ms", "executor_cpu_ms"), ("gc_ms", "gc_ms"),
                      ("fetch_wait_ms", "shuffle_fetch_wait_ms"), ("spill_mb", "spill_mb")):
        m[f"spark.{name}"] = _med(col(key))
    traced_p50 = _med(op["end"] - op["start"] for op in ops) * 1e3
    m["trace.overhead_ms"] = traced_p50 - untraced_p50 if untraced_p50 is not None else 0.0
    m["trace.unaccounted_share"] = _med(col("unaccounted"))
    return m


def _latest_untraced_p50(workload: str, seed: int) -> float | None:
    """op_p50_ms of the newest untraced run of ``workload`` recorded in
    this checkout, preferring one with the same seed."""
    paths = glob.glob(os.path.join(RUN_DIR, "results", f"{workload}-*-t0-*.json"))
    same = [p for p in paths if f"-s{seed}-" in os.path.basename(p)]
    pick = max(same or paths, key=os.path.getmtime, default=None)
    if pick is None:
        return None
    with open(pick) as f:
        return json.load(f)["metrics"]["op_p50_ms"]


def stop_spark(spark) -> None:
    """Stop the session, then the JVM the driver launched, and wait
    until every process this run started has exited."""
    from pyspark import SparkContext

    from pss import descendants

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.monotonic() + 15
    while time.monotonic() < deadline:
        left = [p for p in descendants(os.getpid()) if p != os.getpid()]
        if not left:
            return
        time.sleep(0.2)
    for pid in left:
        with contextlib.suppress(OSError):
            os.kill(pid, signal.SIGKILL)


def run(args, spec: dict, work: str) -> int:
    proc_start = time.perf_counter() - process_age_s()
    cpus = len(os.sched_getaffinity(0))
    for sub in ("tmp", "local", "warehouse", "eventlog"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # Spark, its JVM and the Python workers keep their files in the work
    # directory, and the workers import the package from this checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")  # wins over spark.local.dir
    # both JVMs spark-submit starts (its launcher and the driver)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    try:
        from pss import PssSampler
        from tracing import Tracer, fold_event_log, read_event_log
        from workloads import WARM_DOCS, WORKLOADS, Ctx
    except ImportError as e:
        print(f"perfbench: cannot import the package from {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    from docling_api_spark.session import get_spark

    wl = WORKLOADS[args.workload]()
    tracer = Tracer(enabled=bool(args.trace))
    conditions = {
        "nproc": cpus,
        "python": platform.python_version(),
        "seed": args.seed,
        "driver_memory": DRIVER_MEMORY,
        "load1_before": os.getloadavg()[0],
        "membw_gbps_before": membw_gbps(),
        "warmed": False,
    }
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if args.trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    sampler = PssSampler()
    spark = None
    try:
        sampler.start()
        t = time.perf_counter()
        spark = get_spark(master=f"local[{cpus}]", extra_conf=conf)
        session_s = time.perf_counter() - t
        tracer.sc = spark.sparkContext
        conditions["spark"] = spark.version
        conditions["jdk"] = spark._jvm.java.lang.System.getProperty("java.version")
        ctx = Ctx(spark, work, args.seed, cpus, tracer)
        with contextlib.ExitStack() as wraps:
            if args.trace:
                from docling_api_spark import checkpoint

                tracer.wrap(wraps, checkpoint, "extract", "checkpoint.extract")
                tracer.wrap(wraps, checkpoint, "batch_metrics", "checkpoint.batch_metrics")
                tracer.wrap(wraps, checkpoint.CommitLog, "commit", "checkpoint.commit")
                tracer.wrap(wraps, checkpoint.CommitLog, "completed_buckets", "checkpoint.resume_scan")
            # start the Python worker pool once, on a corpus small enough not to matter
            tracer.group("setup.pool")
            t = time.perf_counter()
            ctx.write_corpus(WARM_DOCS, ctx.warm_corpus)
            warm_s = time.perf_counter() - t
            # the input set-up runs SETUP_REPS times and counts its median once
            rep_s = []
            for rep in range(SETUP_REPS):
                tracer.group(f"setup.rep{rep}")
                t = time.perf_counter()
                wl.prepare(ctx, rep)
                rep_s.append(time.perf_counter() - t)
            tracer.group("setup.final")
            wl.finish_setup(ctx)
            tracer.group("setup.warm")
            t = time.perf_counter()
            wl.warm(ctx)
            warm_s += time.perf_counter() - t
            conditions["warmed"] = True
            first_op = time.perf_counter()
            setup_s = first_op - proc_start - sum(rep_s) + statistics.median(rep_s)
            result = wl.window(ctx, args.seconds)
        peak_pss_mb = sampler.stop()
        conditions["pss_peak_kb"] = sampler.peak_breakdown()
        conditions["membw_gbps_after"] = membw_gbps()
        conditions["load1_after"] = os.getloadavg()[0]
        tracer.group("check")
        t = time.perf_counter()
        failed_ops = wl.check(ctx, result)
        check_s = time.perf_counter() - t
    finally:
        sampler.stop()
        if spark is not None:
            stop_spark(spark)

    ops = result["ops"]
    lat = [(op["end"] - op["start"]) * 1e3 for op in ops]
    window_s = result["end"] - result["start"]
    op_p75, beyond, p75_ok = p75(lat)
    e2e = {
        "setup_s": setup_s,
        "docs_per_s": result["docs"] / window_s,
        "op_p50_ms": statistics.median(lat),
        "op_p75_ms": op_p75,
        "peak_pss_mb": peak_pss_mb,
    }
    setup = {"session_s": session_s, "warm_s": warm_s, "gen_s": rep_s, "seed": args.seed}
    record = {
        "workload": wl.name,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "conditions": conditions,
        "ops": len(ops),
        "op_p75_samples_beyond": beyond,
        "op_p75_has_ten_beyond": p75_ok,
        "window_s": window_s,
        "check_s": check_s,
        "setup": setup,
        "failed_ops": sorted(failed_ops),
        "metrics": e2e,
    }
    if args.trace:
        groups = fold_event_log(read_event_log(os.path.join(work, "eventlog")))
        record["untraced_op_p50_ms"] = _latest_untraced_p50(wl.name, args.seed)
        metrics = layer_metrics(wl, result, tracer, groups, setup, record["untraced_op_p50_ms"])
        record["layers"] = metrics
        record["spans"] = tracer.spans
    else:
        metrics = e2e
    units = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}
    if set(metrics) != set(units):
        raise RuntimeError(f"metrics differ from BENCHMARK.json: {sorted(set(metrics) ^ set(units))}")
    out = {k: {"value": metrics[k], "unit": units[k]} for k in units}
    os.makedirs(os.path.join(RUN_DIR, "results"), exist_ok=True)
    stamp = f"{wl.name}-s{args.seed}-t{args.trace}-{int(time.time() * 1000)}"
    with open(os.path.join(RUN_DIR, "results", f"{stamp}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(json.dumps({k: record[k] for k in record if k not in ("spans", "layers")}, default=str))
    print(json.dumps({"correct": not failed_ops and bool(ops), "attempted": len(ops),
                      "failed": len(failed_ops), "metrics": out}), flush=True)
    return 0


def main(argv=None) -> int:
    sys.path.insert(0, ROOT)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, help="extract_job, rag_serve or ingest")
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED,
                    help="input seed (default 1; 7919 is held out for confirming a claimed gain)")
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"], help="timed window length")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    def on_alarm(signum, frame):
        raise TimeoutError(f"run exceeded {WATCHDOG_S} s")

    signal.signal(signal.SIGALRM, on_alarm)
    signal.alarm(WATCHDOG_S)
    work = os.path.join(RUN_DIR, f"work-{os.getpid()}")
    try:
        return run(args, spec, work)
    except Exception:  # noqa: BLE001 — report and exit non-zero without a result
        traceback.print_exc()
        return 1
    finally:
        signal.alarm(0)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
