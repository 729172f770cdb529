"""Randomized BM25 query fuzz: the flagship must match the oracle for
ARBITRARY queries, not just the fixed DEFAULT_QUERY the registry checks --
mixed casing, punctuation noise, unicode (stripped by normalization),
duplicate terms, out-of-vocabulary terms, and multi-term mixes of real
corpus vocabulary. Seeded, so failures reproduce."""

from __future__ import annotations

import glob
import os
import random

import pytest
from pyspark.sql import functions as F

from big_data_assignment2_spark import engine
from big_data_assignment2_spark.functions.text import tokenize_query
from big_data_assignment2_spark.operators import index_build
from big_data_assignment2_spark.operators import search as search_ops
from tests._compare import compare, duck_connection


def test_bm25_random_queries_match_oracle(spark, sf_dir):
    vocab = sorted(
        r["term"] for r in index_build.vocab(spark, sf_dir).select("term").collect()
    )
    assert vocab, "corpus vocabulary unexpectedly empty"
    junk = ["zzz", "qqq7", "ünïcödé", "data-base", "42", "ZZTOP!"]
    rng = random.Random(42)
    queries = []
    for _ in range(8):
        terms = rng.sample(vocab, min(rng.randint(1, 5), len(vocab)))
        terms += rng.sample(junk, rng.randint(0, 2))
        terms += [terms[0]]  # duplicate term: must contribute once
        rng.shuffle(terms)
        q = " ".join(t.upper() if rng.random() < 0.3 else t for t in terms)
        queries.append(q)
    con = duck_connection(sf_dir)
    try:
        for q in queries:
            assert tokenize_query(q), q
            diff = compare(
                search_ops.bm25_search(spark, sf_dir, q),
                con,
                search_ops.sql_bm25(q),
            )
            assert diff is None, (q, diff)
    finally:
        con.close()


@pytest.fixture(scope="module")
def index64(spark, sf_dir, tmp_path_factory) -> str:
    """The corpus persisted with 64 term buckets: the fixture's 31 words
    leave most ``term_bucket=`` directories absent, so pruned reads meet
    missing bucket dirs on most queries."""
    d = str(tmp_path_factory.mktemp("fuzz64") / "idx")
    engine.build_index(index_build.documents_with_title(spark, sf_dir), d, n_buckets=64)
    return d


def _vocab(spark, sf_dir) -> list[str]:
    return sorted(
        r["term"] for r in index_build.vocab(spark, sf_dir).select("term").collect()
    )


def test_bm25_persisted_random_queries_match_oracle(spark, sf_dir, index64):
    """Same fuzz against the PERSISTED index: random term sets must
    survive the crc32 bucket pruning (a pruning bug silently drops
    postings, which the value hash catches)."""
    vocab = _vocab(spark, sf_dir)
    rng = random.Random(7)
    con = duck_connection(sf_dir)
    try:
        for _ in range(4):
            terms = rng.sample(vocab, min(rng.randint(1, 4), len(vocab))) + ["zzz"]
            q = " ".join(terms)
            diff = compare(engine.search(spark, index64, q), con, search_ops.sql_bm25(q))
            assert diff is None, (q, diff)
    finally:
        con.close()


def test_bm25_persisted_read_path_edges_match_oracle(spark, sf_dir, index64):
    """The pruned postings read at its edges, each against the oracle: no
    query terms, only terms whose bucket dirs do not exist, k above the
    hit count, and the ``allowed`` facet."""
    present = {
        int(p.rsplit("=", 1)[1])
        for p in glob.glob(f"{index64}/inverted_index/term_bucket=*")
    }
    assert len(present) < 64
    dirless = [
        w for w in (f"oov{i}" for i in range(1000))
        if engine.term_bucket_py(w, 64) not in present
    ][:3]
    facet = (
        "\n    AND i.doc_id IN (SELECT CAST(doc_id AS VARCHAR)"
        " FROM documents WHERE lang = 'en')"
    )
    allowed = spark.read.parquet(f"{sf_dir}/documents.parquet").where(
        "lang = 'en'"
    ).selectExpr("CAST(doc_id AS STRING) AS doc_id")
    cases = [
        ("?!... --- !!!", 10, None, ""),
        (" ".join(dirless), 10, None, ""),
        (f"{dirless[0]} spark", 10, None, ""),
        ("spark window", 1000, None, ""),  # 500 docs: fewer hits than k
        (search_ops.DEFAULT_QUERY, 10, allowed, facet),
    ]
    con = duck_connection(sf_dir)
    try:
        for q, k, allow, where in cases:
            got = engine.search(spark, index64, q, k, allowed=allow)
            diff = compare(got, con, search_ops.sql_bm25(q, k, extra_where=where))
            assert diff is None, (q, k, diff)
    finally:
        con.close()


def test_bm25_persisted_after_append_delete_matches_oracle(spark, sf_dir, tmp_path):
    """Pruned reads over an index carrying appended files and live
    tombstones equal BM25 over the surviving documents."""
    d = str(tmp_path / "idx")
    docs = index_build.documents_with_title(spark, sf_dir)
    did = F.col("doc_id").cast("long")
    engine.build_index(docs.where(did % 2 == 0), d, n_buckets=64)
    engine.append_to_index(docs.where(did % 2 == 1), d)
    engine.delete_from_index(docs.where(did % 3 == 0).select("doc_id"), d)
    assert glob.glob(f"{d}/tombstones/*.parquet")
    live = index_build.sql_docs_cte_over(
        "SELECT CAST(doc_id AS VARCHAR) AS doc_id,"
        " 'doc_' || CAST(doc_id AS VARCHAR) AS title, text"
        " FROM documents WHERE doc_id % 3 <> 0"
    )
    vocab = _vocab(spark, sf_dir)
    rng = random.Random(11)
    queries = [search_ops.DEFAULT_QUERY, "?!..."] + [
        " ".join(rng.sample(vocab, rng.randint(1, 4))) for _ in range(3)
    ]
    con = duck_connection(sf_dir)
    try:
        for q in queries:
            diff = compare(
                engine.search(spark, d, q), con, search_ops.sql_bm25(q, docs_cte=live)
            )
            assert diff is None, (q, diff)
    finally:
        con.close()


def test_bm25_persisted_search_hadoop_listing(spark, index64, monkeypatch):
    """The non-local branch (one globStatus for the bucket dirs, the
    Spark meta read) returns what the local fast path returns."""
    queries = [search_ops.DEFAULT_QUERY, "spark", "oov1 oov2", "?!..."]
    want = [engine.search(spark, index64, q).collect() for q in queries]
    monkeypatch.setattr(engine, "_DEFAULT_FS_IS_LOCAL", False)
    got = [engine.search(spark, index64, q).collect() for q in queries]
    assert got == want


def test_bm25_persisted_fileless_postings_raise(spark, sf_dir, tmp_path):
    """Postings with no data files left (a rebuild's overwrite window, a
    torn rebuild) fail loudly instead of searching to an empty top-k --
    whether the query's bucket dirs exist or not."""
    d = str(tmp_path / "idx")
    engine.build_index(
        index_build.documents_with_title(spark, sf_dir).limit(50), d, n_buckets=64
    )
    for p in glob.glob(f"{d}/inverted_index/term_bucket=*/*.parquet"):
        os.remove(p)
    for q in (search_ops.DEFAULT_QUERY, "oov1"):
        with pytest.raises(RuntimeError, match="no data files"):
            engine.search(spark, d, q)


def test_bm25_no_valid_terms_returns_empty(spark, sf_dir):
    """A query normalizing to zero terms (all punctuation/whitespace)
    returns an empty top-k, not an error -- the CLI edge a real user
    hits."""
    assert tokenize_query("?!... --- !!!") == []
    rows = search_ops.bm25_search(spark, sf_dir, "?!... --- !!!").collect()
    assert rows == []
