"""Seeded benchmark of the warehouse-build and query engine.

    python3 perfbench/run.py --workload warehouse --seed 1 --seconds 16 --trace 0

Run from the repository root. One process runs one workload with one
client thread on ``local[nproc]``: set-up (inputs from ``--seed``,
session start, index/view registration, one untimed warm-up of every
operation), then batch operations while another fits in the first half
of ``--seconds``, then closed-loop requests until ``--seconds`` are
up, then DuckDB output checks. The last stdout line
is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` — the end-to-end metrics with ``--trace 0``, the per-layer
metrics (from an uncompressed Spark event log and the benchmark's
spans) with ``--trace 1``. Exits non-zero when any output is wrong.
All scratch state lives in one temporary directory under the working
directory, removed at exit; a traced run also writes its spans to
``.perfbench_out/spans-<workload>-seed<seed>.json``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import traceback
import types

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import measure  # noqa: E402
import spans  # noqa: E402

#: per-layer metrics: span name -> counters reported for it
_C = spans.COUNTERS
LAYERS = {
    "session.get_spark": ("wall_s",),
    "readers": ("wall_s",),
    "star_schema.build_warehouse": ("wall_s",),
    "writers.save_tables_concurrent": _C,
    "sql": tuple(c for c in _C if c not in ("python_worker_s", "output_bytes")),
    "training_data.prepare_training_data_neardup": _C,
    "rag_index.rag_index_build_persisted": _C,
    "similarity.ivf_index_search_topk": tuple(c for c in _C if c != "output_bytes"),
}
EXTRA_LAYER = {
    "writers.save_tables_concurrent.output_files": "count",
    "writers.save_tables_concurrent.output_bytes_per_input_byte": "ratio",
    "sql.analyze_ms": "ms",
    "sql.execute_ms": "ms",
    "sql.rows_scanned_per_row_returned": "ratio",
    "trace.unattributed_jobs": "count",
    "trace.op_remainder_frac": "frac",
    "trace.batch_rows_per_s": "rows/s",
    "trace.request_p50_ms": "ms",
    "trace.request_tail_ms": "ms",
    "trace.requests": "count",
    "trace.peak_rss_mb": "MB",
}


#: a phase stops early once this many operations have raised
MAX_RAISED = 3


def counter_unit(counter: str) -> str:
    if counter.endswith("_s"):
        return "s"
    if counter.endswith("_bytes"):
        return "B"
    if counter.endswith("_frac"):
        return "frac"
    return "count"


def pin_environment(tmp: str, cores: int, traced: bool) -> dict[str, str]:
    """Engine settings for this box; every scratch path under ``tmp``.
    The engine's defaults (32 cores, a 16g driver) assume a larger host."""
    with open("/proc/meminfo") as f:
        mem_gb = int(f.readline().split()[1]) // 1024 // 1024
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{max(1, min(4, mem_gb // 4))}g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    extra = []
    if traced:
        os.makedirs(os.path.join(tmp, "eventlog"))
        extra += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{tmp}/eventlog",
            "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=false",
        ]
    os.environ["SPARK_GRAFT_EXTRA_CONF"] = ";".join(extra)
    return {
        "spark.sql.warehouse.dir": os.path.join(tmp, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }


def timed_phases(wl, seconds: float, tracer) -> dict:
    """A batch phase, then a closed-loop request phase, ``seconds`` in
    all. Batch ops run while another one is expected to finish within
    the first half (at least one runs); requests fill the rest. Each op
    is timed from outside; an op that raises is counted, not retried."""
    out = {"batch_s": [], "batch_rows": 0, "request_ms": {}, "attempted": 0, "raised": []}
    give_up = lambda: len(out["raised"]) > MAX_RAISED  # noqa: E731

    def attempt(kind: str, fn):
        out["attempted"] += 1
        t0 = time.perf_counter()
        try:
            with tracer.span(f"op.{kind}", request=out["attempted"]):
                res = fn()
        except Exception:  # counted as a failed operation
            out["raised"].append(traceback.format_exc(limit=3))
            return None
        return time.perf_counter() - t0, res

    start = time.perf_counter()
    while not give_up():
        t0 = time.perf_counter()
        r = attempt("batch", wl.batch)
        if r:
            out["batch_s"].append(r[0])
            out["batch_rows"] += r[1]
        now = time.perf_counter()
        if now + (now - t0) > start + seconds / 2:
            break
    wl.start_requests()
    while time.perf_counter() < start + seconds and not give_up():
        r = attempt("request", wl.request)
        if r:
            out["request_ms"].setdefault(r[1], []).append(r[0] * 1000)
    return out


def end_to_end(setup_s: float, phases: dict) -> dict:
    batch_s = sum(phases["batch_s"])
    by_kind = phases["request_ms"]
    return {
        "setup_s": (setup_s, "s"),
        "batch_rows_per_s": (phases["batch_rows"] / batch_s if batch_s else 0.0, "rows/s"),
        # per request kind (query template) the median, then the
        # geometric mean over kinds: immune to how many of each kind
        # happened to fit in the run
        "request_p50_ms": (
            measure.geomean([measure.median(v) for v in by_kind.values()]) if by_kind else 0.0,
            "ms",
        ),
    }


def per_layer(tracer, tmp: str, cores: int, wl, phases: dict, rss_mb: float) -> dict:
    logs = glob.glob(os.path.join(tmp, "eventlog", "*"))
    with open(logs[0]) as f:
        log = spans.parse_event_log(f)
    sps = [sp for sp in tracer.spans if sp["end"] is not None]
    counters = spans.span_counters(sps, log, cores)
    names = spans.per_name(sps, counters, cores)

    metrics = {}
    for layer, cs in LAYERS.items():
        got = names.get(layer, {})
        for c in cs:
            metrics[f"{layer}.{c}"] = (got.get(c, 0.0), counter_unit(c))
    for key, unit in EXTRA_LAYER.items():
        metrics[key] = (wl.layer_extra.get(key, 0.0), unit)
    for part in ("analyze", "execute"):
        metrics[f"sql.{part}_ms"] = (names.get(f"sql.{part}", {}).get("wall_s", 0.0) * 1000, "ms")
    sql = names.get("sql")
    if sql and wl.request_outputs:
        returned = sum(n for *_, n in wl.request_outputs) / len(wl.request_outputs)
        metrics["sql.rows_scanned_per_row_returned"] = (sql["input_records"] / max(returned, 1), "ratio")
    owners = spans.attribute_jobs(sps, log["jobs"])
    metrics["trace.unattributed_jobs"] = (sum(v is None for v in owners.values()), "count")
    selfs = spans.self_times(sps)
    ops = [sp for sp in sps if sp["name"].startswith("op.")]
    wall = sum(sp["end"] - sp["start"] for sp in ops)
    metrics["trace.op_remainder_frac"] = (sum(selfs[sp["id"]] for sp in ops) / wall if wall else 0.0, "frac")
    e2e = end_to_end(0.0, phases)
    metrics["trace.batch_rows_per_s"] = e2e["batch_rows_per_s"]
    metrics["trace.request_p50_ms"] = e2e["request_p50_ms"]
    requests = [v for vs in phases["request_ms"].values() for v in vs]
    if requests:
        metrics["trace.request_tail_ms"] = (measure.tail(requests)[0], "ms")
    metrics["trace.requests"] = (len(requests), "count")
    metrics["trace.peak_rss_mb"] = (rss_mb, "MB")
    return metrics


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(args, tmp: str) -> tuple[dict, list[str]]:
    import workloads

    cores = len(os.sched_getaffinity(0))
    t0 = time.perf_counter()
    conf = pin_environment(tmp, cores, bool(args.trace))
    tracer = spans.Tracer(enabled=bool(args.trace))
    from build_datawarehouse_demo_spark.session import get_spark

    with tracer.span("session.get_spark"):
        spark = get_spark("perfbench", extra_conf=conf)
    tracer.spark = spark
    try:
        ctx = types.SimpleNamespace(seed=args.seed, tmp=tmp, cores=cores, spark=spark, tracer=tracer)
        wl = workloads.WORKLOADS[args.workload](ctx)
        with tracer.span("setup"):
            wl.setup()
        setup_s = time.perf_counter() - t0

        log(f"set-up {setup_s:.1f}s")
        t1 = time.perf_counter()
        phases = timed_phases(wl, args.seconds, tracer)
        log(
            f"measured {time.perf_counter() - t1:.1f}s: {len(phases['batch_s'])} batch ops, "
            f"{sum(map(len, phases['request_ms'].values()))} requests, "
            f"{len(phases['raised'])} raised"
        )
        rss = measure.peak_rss_mb(measure.java_descendants(os.getpid()))
        t1 = time.perf_counter()
        with tracer.span("check"):
            wrong = wl.check()
        log(f"checked {time.perf_counter() - t1:.1f}s: {len(wrong)} wrong outputs")
    finally:
        stop_spark(spark)

    if args.trace:
        metrics = per_layer(tracer, tmp, cores, wl, phases, rss)
        out = os.path.join(os.getcwd(), ".perfbench_out")
        os.makedirs(out, exist_ok=True)
        tracer.dump(os.path.join(out, f"spans-{args.workload}-seed{args.seed}.json"))
    else:
        metrics = end_to_end(setup_s, phases)
    failures = wrong + [f"raised: {r.strip().splitlines()[-1]}" for r in phases["raised"]]
    result = {
        "correct": not failures,
        "attempted": phases["attempted"],
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, failures


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=("warehouse", "corpus"))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=16)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its scratch dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    # fail fast, before any Spark start, when the engine is not here
    sys.path.insert(0, ROOT)
    try:
        import build_datawarehouse_demo_spark  # noqa: F401
    except ImportError as e:
        print(f"engine package not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    base = os.path.join(os.getcwd(), ".perfbench_tmp")
    os.makedirs(base, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
    try:
        result, fails = run(args, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.listdir(base):
            os.rmdir(base)
    for f in fails:
        print(f"CHECK FAILED: {f}", file=sys.stderr)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
