"""The benchmark's workloads: each is one closed-loop client.

Every workload has the same shape, so every run reports the same metrics:

- **set-up**: everything before the first timed operation (the session
  start is timed by the caller);
- **rounds**: a fixed unit of work repeated a fixed number of times (see
  ``ROUNDS_PER_20S``). A round holds *requests* -- the foreground reads a user waits on
  (a search, or a registry query forced through the noop sink) -- and, in
  ``ingest_mixed``, the index writes around them.

With tracing on, traced and untraced rounds interleave in one warm session
and their difference is the tracing overhead.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

from big_data_assignment2_spark import engine
from big_data_assignment2_spark.functions.text import tokenize_query
from big_data_assignment2_spark.registry import build_registry

from .checks import RegistryOracle, SearchOracle, search_rows
from .spans import Span, Tracer, peak_rss_mb

# Rounds per run at 20 s of --seconds; other values scale the count (at
# least one round). On the reference host (4 cores) an ingest round takes
# about 24 s and a pass over the mix about 7 s. The count is fixed rather than
# clock-driven so that every run of a workload does the same work: a count
# that followed the clock would change which rounds -- early and still
# warming, or late -- the statistics are taken over. A traced run does twice
# as many, untraced and traced in an ABBA order.
ROUNDS_PER_20S = {"ingest_mixed": 1, "analytics_mix": 3}
# distinct searches after each write of a round (after the append, after the
# delete), each run REPEATS times in turn: q1 q2 q1 q2
QUERIES_PER_STATE = 2
REPEATS = 2

# The registry queries of analytics_mix: TPC-H shapes from both relational
# modules plus corpus and events operators, one module each at least. None
# of them builds a per-process memoized fixture, so every pass does the same
# work. The mix is sized so that a cold pass and three warm ones fit a run.
MIX = (
    "q1_pricing_summary", "q3_shipping_priority", "q5_nation_revenue", "q6_forecast_revenue",
    "q9_product_profit", "q13_customer_distribution", "q21_waiting_suppliers",
    "text_quality", "token_counts", "span_exact_dedup", "funnel_depths",
)

INDEX_TABLES = ("inverted_index", "forward", "doc_stats", "vocab", "meta", "tombstones")


@dataclass
class Request:
    kind: str  # "search", or "<operator module>:<query>"
    key: str  # the distinct request this one repeats
    ms: float
    traced: bool
    round: int
    rows_out: int
    span: Span | None = None


@dataclass
class Round:
    s: float
    traced: bool


@dataclass
class Bench:
    spark: SparkSession
    inputs: str
    work: str
    seconds: float
    tracer: Tracer | None
    tracing: bool = False
    round: int = -1
    setup_step_s: float = 0.0
    setup_s: float = 0.0
    requests: list[Request] = field(default_factory=list)
    rounds: list[Round] = field(default_factory=list)
    attempted: int = 0
    failures: list[str] = field(default_factory=list)
    layouts: list[dict] = field(default_factory=list)
    text_bytes: int = 0
    op_spans: dict[str, list[Span]] = field(default_factory=dict)
    op_seconds: dict[str, list[float]] = field(default_factory=dict)
    pids: list[int] = field(default_factory=list)
    rss_mb: float = 0.0

    @contextmanager
    def span(self, name: str) -> Iterator[Span]:
        """A span recorded by the tracer while this round is traced, else
        only a clock pair."""
        if self.tracing:
            with self.tracer.span(name) as s:
                yield s
            return
        s = Span(-1, name, None, None, time.perf_counter())
        try:
            yield s
        finally:
            s.end = time.perf_counter()

    def op(self, name: str, fn: Callable[[], object]) -> float:
        """Run one engine call; returns its seconds."""
        with self.span(name) as s:
            fn()
        if self.tracing:
            self.op_spans.setdefault(name, []).append(s)
        self.op_seconds.setdefault(name, []).append(s.ms / 1000.0)
        return s.ms / 1000.0

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failures.append(what)

    def timed_rounds(self, workload: str, run_round: Callable[[int], float]) -> None:
        n = max(1, round(ROUNDS_PER_20S[workload] * self.seconds / 20))
        for i in range(2 * n if self.tracer is not None else n):
            # untraced, traced, traced, untraced, ...: each kind sits as
            # early as the other on average, so warm-up drift cancels
            self.tracing = self.tracer is not None and i % 4 in (1, 2)
            self.round = i
            self.rounds.append(Round(run_round(i), self.tracing))
        self.tracing = False
        self.round = -1
        # read before the result checks, whose DuckDB work is not the program's
        self.rss_mb = peak_rss_mb(self.pids)

    def layout(self, index_dir: str, after: str) -> dict:
        """Parquet file count and bytes per index table, walked from disk."""
        row: dict = {"after": after}
        for t in INDEX_TABLES:
            files = bytes_ = 0
            for dirpath, _, names in os.walk(os.path.join(index_dir, t)):
                for n in names:
                    if n.endswith(".parquet"):
                        files += 1
                        bytes_ += os.path.getsize(os.path.join(dirpath, n))
            row[t] = {"files": files, "bytes": bytes_}
        row["files"] = sum(row[t]["files"] for t in INDEX_TABLES)
        row["bytes"] = sum(row[t]["bytes"] for t in INDEX_TABLES)
        self.layouts.append(row)
        return row


def _request(b: Bench, kind: str, key: str, define: Callable[[], DataFrame], act: Callable[[DataFrame], object],
             probe: tuple[str, Callable[[], object]] | None = None) -> tuple[object, Request]:
    """One foreground request: build the DataFrame, then act on it. Traced,
    it is split into define, plan (forcing the executed plan) and execute
    spans, after *probe* -- a named call worth timing on its own -- if given."""
    if not b.tracing:
        t0 = time.perf_counter()
        out = act(define())
        req = Request(kind, key, (time.perf_counter() - t0) * 1000.0, False, b.round, 0)
    else:
        with b.span(kind) as s:
            if probe is not None:
                with b.span(probe[0]):
                    probe[1]()
            with b.span("define"):
                df = define()
            with b.span("plan"):
                df._jdf.queryExecution().executedPlan()
            with b.span("execute"):
                out = act(df)
        req = Request(kind, key, s.ms, True, b.round, 0, s)
    b.requests.append(req)
    return out, req


# --------------------------------------------------------------------------
# ingest_mixed


def _search(b: Bench, index_dir: str, query: str, key: str) -> tuple[list, Request]:
    load_index = ("engine.load_index", lambda: engine.load_index(b.spark, index_dir))
    rows, req = _request(
        b, "search", key, lambda: engine.search(b.spark, index_dir, query), DataFrame.collect, load_index
    )
    req.rows_out = len(rows)
    return rows, req


def _files_scanned(layout_row: dict, index_dir: str, query: str) -> int:
    """Parquet files a bucket-pruned search opens: the query terms' postings
    buckets plus every file of the small tables it joins."""
    files = 0
    # the benchmark builds every index with the engine's default bucket count
    for bucket in {engine.term_bucket_py(t) for t in tokenize_query(query)}:
        d = os.path.join(index_dir, "inverted_index", f"term_bucket={bucket}")
        if os.path.isdir(d):
            files += sum(n.endswith(".parquet") for n in os.listdir(d))
    return files + sum(layout_row[t]["files"] for t in ("doc_stats", "vocab", "meta", "tombstones"))


def _read_docs(path: str) -> pa.Table:
    return pq.read_table(path, columns=["doc_id", "title", "text"])


def _text_bytes(t: pa.Table) -> int:
    return sum(len(s.encode()) for s in t.column("text").to_pylist())


def ingest_mixed(b: Bench) -> dict:
    manifest = json.load(open(f"{b.inputs}/manifest.json"))
    queries = iter(q["query"] for q in manifest["queries"])
    index_dir = os.path.join(b.work, "index")
    shutil.rmtree(index_dir, ignore_errors=True)
    docs = b.spark.read.parquet(f"{b.inputs}/docs.parquet")

    b.tracing = b.tracer is not None
    t0 = time.perf_counter()
    b.setup_step_s = b.op("engine.build_index", lambda: engine.build_index(docs, index_dir))
    b.tracing = False
    # warm-up: the run's first search compiles the search path's code
    warm_q = next(queries)
    warm_rows = engine.search(b.spark, index_dir, warm_q).collect()
    b.setup_s = time.perf_counter() - t0
    layout = b.layout(index_dir, "build")

    live = _read_docs(f"{b.inputs}/docs.parquet")
    checks: list[tuple[pa.Table, list[tuple[str, list]]]] = [(live, [(warm_q, warm_rows)])]
    files: list[int] = []
    written: dict[str, list[int]] = {"files": [], "bytes": []}

    def searches(state: str) -> float:
        batch = [next(queries) for _ in range(QUERIES_PER_STATE)]
        results = []
        seconds = 0.0
        for _ in range(REPEATS):
            for i, q in enumerate(batch):
                rows, req = _search(b, index_dir, q, f"{state}/{i}")
                results.append((q, rows))
                files.append(_files_scanned(layout, index_dir, q))
                seconds += req.ms / 1000.0
        checks.append((live, results))
        return seconds

    def run_round(r: int) -> float:
        nonlocal live, layout
        batch = f"{b.inputs}/append_{r:03d}.parquet"
        dead = f"{b.inputs}/delete_{r:03d}.parquet"
        total = b.op("engine.append_to_index", lambda: engine.append_to_index(b.spark.read.parquet(batch), index_dir))
        before = layout
        layout = b.layout(index_dir, f"append {r}")
        written["files"].append(layout["files"] - before["files"])
        written["bytes"].append(layout["bytes"] - before["bytes"])
        live = pa.concat_tables([live, _read_docs(batch)])
        total += searches(f"{r}/append")
        total += b.op("engine.delete_from_index", lambda: engine.delete_from_index(b.spark.read.parquet(dead), index_dir))
        layout = b.layout(index_dir, f"delete {r}")
        dead_ids = pq.read_table(dead).column("doc_id")
        live = live.filter(pc.invert(pc.is_in(live.column("doc_id"), value_set=dead_ids)))
        total += searches(f"{r}/delete")
        total += b.op("engine.compact_index", lambda: engine.compact_index(b.spark, index_dir))
        layout = b.layout(index_dir, f"compact {r}")
        return total

    b.timed_rounds("ingest_mixed", run_round)
    b.text_bytes = _text_bytes(live)
    oracle = SearchOracle()
    for docs_live, results in checks:
        oracle.set_live(docs_live)
        for q, rows in results:
            b.check(search_rows(rows) == oracle.expected(q), f"search {q!r}")
    return {
        "search.files_scanned": statistics.median(files) if files else 0,
        "append.files_written": statistics.median(written["files"]) if written["files"] else 0,
        "append.bytes_written": statistics.median(written["bytes"]) if written["bytes"] else 0,
    }


# --------------------------------------------------------------------------
# analytics_mix


def _module(fn) -> str:
    return fn.__module__.rsplit(".", 1)[-1]


def analytics_mix(b: Bench) -> dict:
    reg = build_registry()
    fns = reg.fns()
    oracles = reg.oracles()
    sf = b.inputs

    # set-up: one cold pass that also collects every result for the checks
    collected: dict[str, pd.DataFrame] = {}
    b.tracing = b.tracer is not None
    t0 = time.perf_counter()
    for name in MIX:
        with b.span(f"{_module(fns[name])}:{name}"):
            collected[name] = fns[name](b.spark, sf).toPandas()
    b.setup_step_s = b.setup_s = time.perf_counter() - t0
    b.tracing = False

    def noop(df: DataFrame) -> None:
        df.write.format("noop").mode("overwrite").save()

    def run_round(i: int) -> float:
        total = 0.0
        for name in MIX:
            fn = fns[name]
            _, req = _request(b, f"{_module(fn)}:{name}", name, lambda: fn(b.spark, sf), noop)
            req.rows_out = len(collected[name])
            total += req.ms / 1000.0
        return total

    b.timed_rounds("analytics_mix", run_round)
    oracle = RegistryOracle(sf)
    for name in MIX:
        diff = oracle.mismatch(collected[name], oracles[name])
        b.check(diff is None, f"{name}: {diff}")
    return {}


WORKLOADS = {"ingest_mixed": ingest_mixed, "analytics_mix": analytics_mix}
