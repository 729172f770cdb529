"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest_mixed --seed 1 --seconds 20 --trace 0

Run from the repository root. Generates the workload's inputs from the seed
(reused when the seed repeats), starts a Spark session through the package's
session factory, runs the workload, checks every result and prints one JSON
line last: the end-to-end metrics with ``--trace 0``, the per-layer metrics
with ``--trace 1``. A traced run also writes every span to
``.perfbench/traces/``. Exits non-zero when a result is wrong. All scratch
state lives under ``.perfbench/`` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WORK = ROOT / ".perfbench"
DRIVER_HEAP = "2g"
WORKLOADS = ("ingest_mixed", "analytics_mix")
OPERATOR_MODULES = ("relational", "tpch_rest", "textstats", "dedup", "windows")
ENGINE_OPS = {
    "build": "engine.build_index",
    "append": "engine.append_to_index",
    "delete": "engine.delete_from_index",
    "compact": "engine.compact_index",
}


def _median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def _environment(trace: bool) -> None:
    """Keep Spark's scratch space, the JVM's temp dir and the package's
    fixture scratch inside the checkout, and size the session for the host:
    ``local[nproc]`` with a fixed driver heap that fits a small machine."""
    for d in ("spark-local", "tmp", "scratch"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["SPARK_GRAFT_SCRATCH"] = str(WORK / "scratch")
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_HEAP
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")]))
    # every JVM, spark-submit's launcher too: no perf-data files in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), f"-XX:-UsePerfData -Djava.io.tmpdir={WORK / 'tmp'}"])
    )
    # C1 only: a run is too short for C2 to pay back its compile threads.
    # C1 alone defaults to a 48 MB code cache, which Spark's generated code
    # fills within a minute; the sweeper then flushes it and every query
    # slows while the code is compiled again. The heap is pinned and touched
    # up front, so peak RSS does not follow G1's resize timing.
    args = [
        f'--driver-java-options "-Xms{DRIVER_HEAP} -XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=256m -XX:+AlwaysPreTouch"',
        "--conf spark.ui.showConsoleProgress=false",
    ]
    if trace:
        # keep every job and stage of the run for the end-of-run attribution
        args += [f"--conf spark.ui.{k}=1000000" for k in ("retainedJobs", "retainedStages")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])


def best_p50_ms(requests) -> float:
    """Median over the distinct requests of each one's fastest repeat. The
    fastest repeat is the one the host disturbed least: on a shared host a
    slow phase lasts seconds and moves a run's median latency by a fifth,
    its best-of-k much less."""
    best: dict[str, float] = {}
    for r in requests:
        best[r.key] = min(r.ms, best.get(r.key, r.ms))
    return _median(best.values())


def _best_round_s(b, traced: bool) -> float:
    return min((r.s for r in b.rounds if r.traced == traced), default=0.0)


def end_to_end(b, session_s: float) -> dict:
    return {
        "setup_s": (session_s + b.setup_s, "s"),
        "request_best_p50_ms": (best_p50_ms(r for r in b.requests if not r.traced), "ms"),
        "round_best_s": (_best_round_s(b, False), "s"),
        "peak_rss_mb": (b.rss_mb, "MB"),
    }


def per_layer(b, session_s: float, gc_ms: float, extra: dict) -> dict:
    """Layer metrics from the traced rounds. A layer that the workload's
    path does not cross reads 0 (only counts and sizes can; every time
    below is taken on every workload)."""
    traced = [r for r in b.requests if r.traced]
    untraced = [r for r in b.requests if not r.traced]
    spans = b.tracer.spans

    def child_ms(req, name):
        return sum(s.ms for s in spans if s.parent == req.span.id and s.name == name)

    def req_median(key):
        return _median(r.span.counts[key] for r in traced)

    def op_median(op, key):
        return _median(s.counts[key] for s in b.op_spans.get(op, []))

    out = {
        "session.start_s": (session_s, "s"),
        "setup.step_s": (b.setup_step_s, "s"),
        "request.define_ms": (_median(child_ms(r, "define") for r in traced), "ms"),
        "request.plan_ms": (_median(child_ms(r, "plan") for r in traced), "ms"),
        "request.execute_ms": (_median(child_ms(r, "execute") for r in traced), "ms"),
        "request.jobs": (req_median("jobs"), "count"),
        "request.stages": (req_median("stages"), "count"),
        "request.tasks": (req_median("tasks"), "count"),
        "request.py4j_calls": (_median(r.span.py4j_calls for r in traced), "count"),
        "request.shuffle_write_bytes": (req_median("shuffle_write_bytes"), "B"),
        "request.input_rows": (req_median("input_rows"), "count"),
        "request.rows_per_result": (
            _median(r.span.counts["input_rows"] / r.rows_out for r in traced if r.rows_out),
            "ratio",
        ),
        "stage.executor_run_ms": (req_median("executor_run_ms"), "ms"),
        "stage.failed_tasks": (sum(s.counts["failed_tasks"] for s in spans if s.parent is None), "count"),
        "jvm.gc_ms": (gc_ms, "ms"),
    }
    for prefix, op in ENGINE_OPS.items():
        out[f"{prefix}.jobs"] = (op_median(op, "jobs"), "count")
    out["build.tasks"] = (op_median(ENGINE_OPS["build"], "tasks"), "count")
    out["build.shuffle_write_bytes"] = (op_median(ENGINE_OPS["build"], "shuffle_write_bytes"), "B")
    out["build.spill_bytes"] = (op_median(ENGINE_OPS["build"], "spill_bytes"), "B")
    out["compact.bytes_rewritten"] = (op_median(ENGINE_OPS["compact"], "output_bytes"), "B")
    out["append.files_written"] = (extra.get("append.files_written", 0), "count")
    out["append.bytes_written"] = (extra.get("append.bytes_written", 0), "B")
    out["search.files_scanned"] = (extra.get("search.files_scanned", 0), "count")
    last = b.layouts[-1] if b.layouts else {"files": 0, "bytes": 0}
    out["index.files"] = (last["files"], "count")
    out["index.bytes"] = (last["bytes"], "B")
    out["index.bytes_per_text_byte"] = (last["bytes"] / b.text_bytes if b.text_bytes else 0.0, "ratio")
    # operator modules of analytics_mix: totals per traced pass, median over passes
    for module in OPERATOR_MODULES:
        passes: dict[int, list] = {}
        for r in traced:
            if r.kind.startswith(module + ":"):
                passes.setdefault(r.round, []).append(r.span)
        for key in ("jobs", "shuffle_write_bytes"):
            unit = "B" if key.endswith("bytes") else "count"
            out[f"{module}.{key}"] = (_median(sum(s.counts[key] for s in p) for p in passes.values()), unit)
        out[f"{module}.py4j_calls"] = (_median(sum(s.py4j_calls for s in p) for p in passes.values()), "count")
    # tracing overhead: traced minus untraced rounds of the same session
    out["overhead.request_best_p50_ms"] = (best_p50_ms(traced) - best_p50_ms(untraced), "ms")
    out["overhead.round_best_s"] = (_best_round_s(b, True) - _best_round_s(b, False), "s")
    return out


def _trace_dump(b, path: Path) -> None:
    """Every span, plus per-name timing medians the metric line leaves out
    (engine calls, per-module define/plan/execute, layout after each op)."""
    names: dict[str, list[float]] = {}
    for s in b.tracer.spans:
        key = s.name
        if s.parent is not None:
            key = f"{b.tracer.spans[s.parent].name.split(':')[0]}/{s.name}"
        names.setdefault(key, []).append(s.ms)
    doc = {
        "median_ms": {k: _median(v) for k, v in sorted(names.items())},
        "layouts": b.layouts,
        "spans": [
            {
                "id": s.id,
                "name": s.name,
                "request": s.request,
                "parent": s.parent,
                "start": s.start,
                "end": s.end,
                "py4j_calls": s.py4j_calls,
                **s.counts,
            }
            for s in b.tracer.spans
        ],
    }
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(json.dumps(doc))


def _stop_jvm() -> None:
    """End the JVM this process launched and wait for it to exit; its
    stdin closing is what tells the gateway server to shut down."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    # the package comes from the checkout this file sits in
    sys.path[0] = str(ROOT)
    from perfbench import inputs, spans, workloads
    from big_data_assignment2_spark.session import get_spark

    _environment(bool(args.trace))
    in_dir = inputs.ensure_inputs(str(WORK / "inputs"), args.workload, args.seed)
    work = WORK / "run" / f"{args.workload}-{os.getpid()}"
    work.mkdir(parents=True, exist_ok=True)

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    try:
        tracer = spans.Tracer(spark) if args.trace else None
        b = workloads.Bench(spark, in_dir, str(work), args.seconds, tracer)
        b.pids = [os.getpid(), spans.jvm_pid(spark)]
        gc0 = spans.jvm_gc_ms(spark)
        try:
            extra = workloads.WORKLOADS[args.workload](b)
        except Exception:
            traceback.print_exc()
            b.check(False, "workload raised")
            extra = {}
        gc_ms = spans.jvm_gc_ms(spark) - gc0
        if tracer is not None:
            tracer.close()
            tracer.attribute()
            _trace_dump(b, WORK / "traces" / f"{args.workload}-{args.seed}.json")
            metrics = per_layer(b, session_s, gc_ms, extra)
        else:
            metrics = end_to_end(b, session_s)
    finally:
        spark.stop()
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)

    for f in b.failures:
        print(f"FAILED: {f}", file=sys.stderr)
    print(
        json.dumps(
            {
                "session_s": session_s,
                "setup_s": b.setup_s,
                "rounds_s": [r.s for r in b.rounds],
                "requests_ms": [round(r.ms) for r in b.requests],
                "ops_s": b.op_seconds,
            }
        ),
        file=sys.stderr,
    )
    correct = not b.failures and bool(b.requests)
    result = {
        "correct": correct,
        "attempted": max(b.attempted, 1),
        "failed": len(b.failures) if b.attempted else 1,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
