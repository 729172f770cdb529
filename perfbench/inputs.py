"""Seeded inputs for the benchmark workloads.

Everything the program under test reads is generated here from one seed and
written as parquet (plus one JSON list of queries) under a directory keyed by
workload and seed, so a repeated seed reuses the files instead of generating
them again. The program receives only those files.

Search corpora are Zipfian (s = 1.07) over a pseudo-word vocabulary with
log-normal document lengths: the fixture tables' ``documents`` corpus has 31
distinct words, so every query term would match most documents and term
selectivity could never show. Queries are drawn in four bands by vocabulary
rank -- head, torso, tail and out-of-vocabulary -- so both broad and
selective lookups are measured.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB_SIZE = 30_000
ZIPF_S = 1.07
MEDIAN_DOC_TOKENS = 150
# rank ranges (0-based, end-exclusive) of the in-vocabulary query bands
BANDS = {"head": (0, 100), "torso": (100, 3_000), "tail": (3_000, VOCAB_SIZE)}
BAND_ORDER = ("head", "torso", "tail", "oov")

_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))
_GOLDEN = (5**0.5 - 1) / 2


def _pseudo_words(rng: np.random.Generator, n: int, taken: set[str] = frozenset()) -> list[str]:
    out: list[str] = []
    seen = set(taken)
    while len(out) < n:
        w = "".join(rng.choice(_LETTERS, int(rng.integers(3, 10))))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


class Zipf:
    """A ranked vocabulary and its Zipf sampler."""

    def __init__(self, rng: np.random.Generator, size: int = VOCAB_SIZE, s: float = ZIPF_S):
        self.words = np.array(_pseudo_words(rng, size))
        p = 1.0 / np.arange(1, size + 1) ** s
        self.p = p / p.sum()

    def docs(self, rng: np.random.Generator, first_id: int, n: int) -> pa.Table:
        lens = np.maximum(5, rng.lognormal(np.log(MEDIAN_DOC_TOKENS), 0.5, n).astype(int))
        toks = self.words[rng.choice(len(self.words), int(lens.sum()), p=self.p)]
        off = np.concatenate([[0], np.cumsum(lens)])
        ids = range(first_id, first_id + n)
        return pa.table(
            {
                "doc_id": [str(i) for i in ids],
                "title": [f"doc_{i}" for i in ids],
                "text": [" ".join(toks[off[i] : off[i + 1]]) for i in range(n)],
            }
        )

    def queries(self, rng: np.random.Generator, n: int) -> list[dict]:
        """*n* queries cycling through the bands and through 1-5 terms, so
        every band holds a quarter of the stream whatever prefix of it a run
        uses. The i-th query has the same band, length and term ranks for
        every seed (ranks spread over the band by a golden-ratio sequence):
        seeds vary the words and documents, not the shape of the work, so a
        run's few searches cost alike from seed to seed."""
        oov = _pseudo_words(rng, 5 * n, taken=set(self.words))
        out = []
        for i in range(n):
            band = BAND_ORDER[i % len(BAND_ORDER)]
            k = 1 + i % 5
            if band == "oov":
                terms = [oov.pop() for _ in range(k)]
            else:
                lo, hi = BANDS[band]
                u = [(5 * i + j) * _GOLDEN % 1.0 for j in range(k)]
                terms = [str(self.words[lo + int(x * (hi - lo))]) for x in u]
            out.append({"band": band, "query": " ".join(terms)})
        return out


def _generate(workload: str, seed: int, out: str) -> None:
    rng = np.random.default_rng([seed, sum(map(ord, workload))])
    if workload == "analytics_mix":
        for name, table in fixture_tables(rng).items():
            pq.write_table(table, f"{out}/{name}.parquet")
        return
    z = Zipf(rng)
    spec = SEARCH_SIZES[workload]
    base = z.docs(rng, 0, spec["docs"])
    pq.write_table(base, f"{out}/docs.parquet")
    manifest = {"queries": z.queries(rng, spec["queries"])}
    live = list(range(spec["docs"]))
    next_id = spec["docs"]
    for r in range(spec["rounds"]):
        pq.write_table(z.docs(rng, next_id, spec["append"]), f"{out}/append_{r:03d}.parquet")
        live.extend(range(next_id, next_id + spec["append"]))
        next_id += spec["append"]
        picks = sorted(rng.choice(len(live), spec["delete"], replace=False), reverse=True)
        dead = [live.pop(i) for i in picks]
        pq.write_table(pa.table({"doc_id": [str(i) for i in sorted(dead)]}), f"{out}/delete_{r:03d}.parquet")
    with open(f"{out}/manifest.json", "w") as f:
        json.dump(manifest, f)


# ingest_mixed sizes; queries and rounds are upper bounds on what a run uses
SEARCH_SIZES = {
    "ingest_mixed": {"docs": 4_000, "queries": 64, "rounds": 8, "append": 200, "delete": 80},
}


def ensure_inputs(root: str, workload: str, seed: int) -> str:
    """Directory holding *workload*'s inputs for *seed*, generated on first
    use. Generation writes to a temporary sibling and renames it into place,
    so an interrupted run never leaves a half-written input set behind."""
    out = os.path.join(root, f"{workload}-{seed}")
    if os.path.isfile(os.path.join(out, "DONE")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(tmp)
    _generate(workload, seed, tmp)
    open(os.path.join(tmp, "DONE"), "w").close()
    os.rename(tmp, out)
    return out


# ---------------------------------------------------------------------------
# Relational, events and corpus fixtures for analytics_mix: the schemas and
# value domains of the package's fixture tables (see FIXTURES.md), at a size
# where a pass over the mix fits in a run.

SF_ROWS = {"customer": 600, "supplier": 40, "part": 800, "orders": 6_000, "events": 6_000, "documents": 400}
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_DOC_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_LANGS = ["de", "en", "es", "fr", "zh"]


def _days(rng, n, start: dt.date, span_days: int) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + rng.integers(0, span_days, n).astype("timedelta64[D]"), pa.timestamp("us"))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Small-vocabulary prose where a fifth of the documents are near copies
    of an earlier one (a few words replaced), so the dedup and span operators
    have pairs and repeated spans to find."""
    words = np.array(_DOC_WORDS)
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.2:
            toks = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(toks), 2):
                toks[j] = str(rng.choice(words))
        else:
            toks = list(rng.choice(words, int(rng.integers(12, 90))))
        texts.append(" ".join(toks))
    return pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": texts,
            "lang": [str(x) for x in rng.choice(_LANGS, n)],
            "source": [f"src{int(x)}" for x in rng.integers(0, 20, n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def fixture_tables(rng: np.random.Generator) -> dict[str, pa.Table]:
    n = SF_ROWS
    i32 = pa.int32()
    i64 = pa.int64()
    nations = 25
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), i32), "r_name": _REGIONS})
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(nations), i32),
            "n_name": [f"NATION_{i}" for i in range(nations)],
            "n_regionkey": pa.array(rng.integers(0, 5, nations), i32),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(range(n["customer"]), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": pa.array(rng.integers(0, nations, n["customer"]), i32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n["customer"]), 2),
            "c_mktsegment": [str(x) for x in rng.choice(_SEGMENTS, n["customer"])],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(range(n["supplier"]), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": pa.array(rng.integers(0, nations, n["supplier"]), i32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n["supplier"]), 2),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(range(n["part"]), i64),
            "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_PART_ADJ, n["part"]), rng.choice(_PART_NOUN, n["part"]))],
            "p_brand": [f"Brand#{int(x)}" for x in rng.integers(1, 26, n["part"])],
            "p_type": [str(x) for x in rng.choice(_PART_TYPES, n["part"])],
            "p_size": pa.array(rng.integers(1, 51, n["part"]), i32),
            "p_retailprice": np.round(900.0 + rng.integers(0, 1000, n["part"]) / 10.0, 2),
        }
    )
    n_orders = n["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(n_orders), i64),
            "o_custkey": pa.array(rng.integers(0, n["customer"], n_orders), i64),
            "o_orderstatus": [str(x) for x in rng.choice(["F", "O", "P"], n_orders)],
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_orders), 2),
            "o_orderdate": _days(rng, n_orders, dt.date(1995, 1, 1), 2404),
            "o_orderpriority": [str(x) for x in rng.choice(_PRIORITIES, n_orders)],
        }
    )
    lines = rng.integers(1, 8, n_orders)
    n_li = int(lines.sum())
    qty = rng.integers(1, 51, n_li).astype(float)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(np.repeat(np.arange(n_orders), lines), i64),
            "l_partkey": pa.array(rng.integers(0, n["part"], n_li), i64),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], n_li), i64),
            "l_linenumber": pa.array(np.concatenate([np.arange(1, k + 1) for k in lines]), i32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": [str(x) for x in rng.choice(["A", "N", "R"], n_li)],
            "l_linestatus": [str(x) for x in rng.choice(["F", "O"], n_li)],
            "l_shipdate": _days(rng, n_li, dt.date(1995, 1, 2), 2499),
        }
    )
    n_ev = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    t["events"] = pa.table(
        {
            "event_id": pa.array(range(n_ev), i64),
            "ts": pa.array(start + np.sort(rng.integers(0, 30 * 86_400 * 10**6, n_ev)).astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 150, n_ev), i64),
            "event_type": [str(x) for x in rng.choice(_EVENT_TYPES, n_ev)],
            "value": np.round(rng.uniform(0.01, 500.0, n_ev), 2),
            "props": [f'{{"k": {int(x)}}}' for x in rng.integers(0, 100, n_ev)],
        }
    )
    t["documents"] = _documents(rng, n["documents"])
    n_emb = 200
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(range(n_emb), i64),
            "embedding": pa.array(list(rng.standard_normal((n_emb, 64)).astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), i32),
        }
    )
    return t
