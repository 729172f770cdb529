"""Persisted-index engine facade (SURVEY.md section 7 step 2): build_index
-> parquet layout -> load_index -> bucket-pruned search, vs both the
in-memory flagship and the DuckDB oracle."""

from __future__ import annotations

import zlib

import pytest
from pyspark.sql import functions as F

from big_data_assignment2_spark import engine
from big_data_assignment2_spark.operators import index_build, search as search_ops
from tests._compare import compare, duck_connection


@pytest.fixture(scope="module")
def index_dir(spark, sf_dir, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("index"))
    docs = index_build.documents_with_title(spark, sf_dir)
    engine.build_index(docs, d, n_buckets=8)
    return d


def test_index_layout(spark, index_dir):
    idx = engine.load_index(spark, index_dir)
    assert set(idx.inverted_index.columns) == {"term", "doc_id", "tf", "term_bucket"}
    assert set(idx.vocab.columns) == {"term", "doc_freq"}
    assert set(idx.doc_stats.columns) == {"doc_id", "title", "length"}
    meta = {r["key"]: r["value"] for r in idx.meta.collect()}
    # meta values persisted as strings (reference load_index.py:101-111
    # quirk); n_buckets persisted so search derives the bucket layout;
    # total_dl (exact integer sum of doc lengths) is what makes append's
    # incremental meta possible
    assert set(meta) == {"total_docs", "avg_dl", "total_dl", "n_buckets"}
    assert int(meta["total_dl"]) > 0
    # avg_dl is exactly double(total_dl)/total_docs -- one IEEE division
    # of exactly-converted integers
    assert float(meta["avg_dl"]) == int(meta["total_dl"]) / int(meta["total_docs"])
    assert meta["n_buckets"] == "8"
    assert float(meta["avg_dl"]) > 0
    # every posting's bucket is crc32(term) % n
    bad = idx.inverted_index.where(
        F.col("term_bucket") != F.pmod(F.crc32("term"), F.lit(8))
    ).count()
    assert bad == 0


def test_bucket_pruning_reaches_scan(spark, index_dir):
    """The physical plan must carry the term_bucket partition filter, so the
    parquet source prunes bucket directories (Cassandra partition-key
    analog)."""
    plan = engine.search(spark, index_dir, "data model")._jdf.queryExecution().executedPlan().toString()
    assert "term_bucket" in plan


def test_persisted_matches_inmemory(spark, sf_dir, index_dir):
    got = {
        tuple(r)
        for r in engine.search(spark, index_dir, search_ops.DEFAULT_QUERY).collect()
    }
    want = {tuple(r) for r in search_ops.bm25_search(spark, sf_dir).collect()}
    assert got == want


def test_persisted_matches_oracle(spark, sf_dir, index_dir):
    con = duck_connection(sf_dir)
    diff = compare(
        engine.search(spark, index_dir, search_ops.DEFAULT_QUERY),
        con,
        search_ops.sql_bm25(),
    )
    assert diff is None, diff


def test_python_bucket_matches_spark(spark):
    terms = ["data", "model", "zebra", "q7", "1", ""]
    df = spark.createDataFrame([(t,) for t in terms], "term string")
    rows = df.select("term", engine.term_bucket_col("term", 64).alias("b")).collect()
    for r in rows:
        assert r["b"] == zlib.crc32(r["term"].encode()) % 64


def test_append_then_delete_composes(spark, sf_dir, tmp_path):
    """The maintenance ops must COMPOSE: build on one slice, append a
    second, delete a third -- the searchable state must equal a
    from-scratch index of exactly the surviving documents (same top-k,
    same scores). Registry queries cover append and delete separately;
    this covers the lifecycle a real index lives through."""
    d_lifecycle = str(tmp_path / "lifecycle")
    d_fresh = str(tmp_path / "fresh")
    docs = index_build.documents_with_title(spark, sf_dir)
    even = docs.where(F.col("doc_id").cast("long") % 2 == 0)
    odd = docs.where(F.col("doc_id").cast("long") % 2 == 1)
    doomed = docs.where(F.col("doc_id").cast("long") % 5 == 0).select("doc_id")

    engine.build_index(even, d_lifecycle, n_buckets=8)
    engine.append_to_index(odd, d_lifecycle)
    engine.delete_from_index(doomed, d_lifecycle)

    survivors = docs.where(F.col("doc_id").cast("long") % 5 != 0)
    engine.build_index(survivors, d_fresh, n_buckets=8)

    got = engine.search(spark, d_lifecycle, "spark query window merge").collect()
    want = engine.search(spark, d_fresh, "spark query window merge").collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert len(got) > 0


def test_clone_index_is_faithful_and_isolated(spark, sf_dir, tmp_path):
    """clone_index must (a) produce a search- and stats-identical index,
    (b) isolate the clone from the source: maintenance on the clone must
    not perturb the source, and the mutated clone must equal a
    from-scratch index of the surviving docs (the property the derived
    bench fixtures rely on), and (c) refuse a torn source."""
    d_src = str(tmp_path / "src")
    d_clone = str(tmp_path / "clone")
    d_fresh = str(tmp_path / "fresh")
    docs = index_build.documents_with_title(spark, sf_dir)
    engine.build_index(docs, d_src, n_buckets=8)

    engine.clone_index(spark, d_src, d_clone)
    q = "spark query window merge"
    assert [tuple(r) for r in engine.search(spark, d_clone, q).collect()] == [
        tuple(r) for r in engine.search(spark, d_src, q).collect()
    ]
    assert [tuple(r) for r in engine.index_stats(spark, d_clone).collect()] == [
        tuple(r) for r in engine.index_stats(spark, d_src).collect()
    ]

    doomed = docs.where(F.col("doc_id").cast("long") % 5 == 0).select("doc_id")
    engine.delete_from_index(doomed, d_clone)
    engine.build_index(
        docs.where(F.col("doc_id").cast("long") % 5 != 0), d_fresh, n_buckets=8
    )
    got = engine.search(spark, d_clone, q).collect()
    want = engine.search(spark, d_fresh, q).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert len(got) > 0
    # the source is untouched by the clone's delete
    assert [tuple(r) for r in engine.search(spark, d_src, q).collect()] != [
        tuple(r) for r in got
    ]
    assert not (tmp_path / "src" / "tombstones").exists()

    # dst == src, nested inside it, OR a parent of it (removing dst would
    # remove src and every sibling) is refused BEFORE any delete
    with pytest.raises(ValueError, match="refusing to delete the source"):
        engine.clone_index(spark, d_src, d_src)
    with pytest.raises(ValueError, match="refusing to delete the source"):
        engine.clone_index(spark, d_src, f"{d_src}/sub")
    with pytest.raises(ValueError, match="refusing to delete the source"):
        engine.clone_index(spark, d_src, str(tmp_path))
    assert [tuple(r) for r in engine.search(spark, d_src, q).collect()]

    # a torn source (missing table) is refused loudly
    import shutil as _sh

    _sh.rmtree(f"{d_src}/vocab")
    with pytest.raises(FileNotFoundError, match="not a complete index"):
        engine.clone_index(spark, d_src, str(tmp_path / "clone2"))


def test_delete_then_append_composes(spark, sf_dir, tmp_path):
    """The OTHER maintenance order: build, delete, THEN append. The append
    path must not resurrect deleted docs into vocab/N/avg_dl (it merges a
    df delta into the delete-corrected vocab and recomputes meta from the
    tombstone-masked doc_stats view) -- a full-postings recompute here
    would silently re-count the tombstoned docs and drift every idf."""
    d_lifecycle = str(tmp_path / "lifecycle")
    d_fresh = str(tmp_path / "fresh")
    docs = index_build.documents_with_title(spark, sf_dir)
    even = docs.where(F.col("doc_id").cast("long") % 2 == 0)
    odd = docs.where(F.col("doc_id").cast("long") % 2 == 1)
    # a subset of the docs present at delete time (multiples of 10 are even)
    doomed = docs.where(F.col("doc_id").cast("long") % 10 == 0).select("doc_id")

    engine.build_index(even, d_lifecycle, n_buckets=8)
    engine.delete_from_index(doomed, d_lifecycle)
    engine.append_to_index(odd, d_lifecycle)

    survivors = docs.where(F.col("doc_id").cast("long") % 10 != 0)
    engine.build_index(survivors, d_fresh, n_buckets=8)

    got = engine.search(spark, d_lifecycle, "spark query window merge").collect()
    want = engine.search(spark, d_fresh, "spark query window merge").collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert len(got) > 0


def test_compact_is_result_invariant(spark, sf_dir, tmp_path):
    """Compaction reclaims space only: search results before/after must be
    identical, the tombstone table must be gone afterwards, and a
    previously-deleted doc_id becomes appendable again (its dead postings
    were purged)."""
    d = str(tmp_path / "cpt")
    docs = index_build.documents_with_title(spark, sf_dir)
    doomed = docs.where(F.col("doc_id").cast("long") % 5 == 0)
    engine.build_index(docs, d, n_buckets=8)
    engine.delete_from_index(doomed.select("doc_id"), d)
    before = engine.search(spark, d, "spark query window merge").collect()

    engine.compact_index(spark, d)

    assert not engine._path_exists(spark, f"{d}/tombstones")
    after = engine.search(spark, d, "spark query window merge").collect()
    assert [tuple(r) for r in before] == [tuple(r) for r in after]
    assert len(after) > 0
    # no dead postings left on disk
    live_ids = engine.load_index(spark, d).inverted_index.select("doc_id").distinct()
    dead = live_ids.join(F.broadcast(doomed.select("doc_id")), "doc_id", "left_semi")
    assert dead.count() == 0
    # the freed ids are appendable again: full round-trip back to the
    # original corpus
    engine.append_to_index(doomed, d)
    d_full = str(tmp_path / "full")
    engine.build_index(docs, d_full, n_buckets=8)
    got = engine.search(spark, d, "spark query window merge").collect()
    want = engine.search(spark, d_full, "spark query window merge").collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_append_tombstoned_id_rejected(spark, sf_dir, tmp_path):
    """Appending a doc_id that sits in the tombstone table must raise:
    un-tombstoning would resurrect its dead postings, keeping the
    tombstone would mask the new document -- both silently wrong."""
    d = str(tmp_path / "clash")
    docs = index_build.documents_with_title(spark, sf_dir)
    engine.build_index(docs, d, n_buckets=8)
    victim = docs.orderBy("doc_id").limit(1)
    engine.delete_from_index(victim.select("doc_id"), d)
    with pytest.raises(ValueError, match="tombstoned"):
        engine.append_to_index(victim, d)


def test_append_scans_no_corpus_sized_table(spark, sf_dir, tmp_path, monkeypatch):
    """The append cost model: ONE tokenize pass over the new docs plus
    metadata-sized reads (meta for the incremental N/total_dl add, vocab
    for the df-delta merge). The persisted postings and forward tables --
    the corpus-sized ones -- must never be read, or append degrades to
    O(index) per batch; doc_stats (row-per-corpus-doc) must not be read
    either now that meta updates incrementally from the batch alone."""
    from pyspark.sql.readwriter import DataFrameReader

    d = str(tmp_path / "io")
    docs = index_build.documents_with_title(spark, sf_dir)
    engine.build_index(docs.where(F.col("doc_id").cast("long") % 2 == 0), d, n_buckets=8)

    read_paths: list[str] = []
    orig = DataFrameReader.parquet

    def spy(self, *paths, **kwargs):
        read_paths.extend(str(p) for p in paths)
        return orig(self, *paths, **kwargs)

    monkeypatch.setattr(DataFrameReader, "parquet", spy)
    engine.append_to_index(docs.where(F.col("doc_id").cast("long") % 2 == 1), d)
    corpus_scaled = [
        p
        for p in read_paths
        if "inverted_index" in p or "forward" in p or "doc_stats" in p
    ]
    assert corpus_scaled == [], corpus_scaled


@pytest.mark.parametrize("seed", [11, 23])
def test_maintenance_randomized_lifecycle(spark, sf_dir, tmp_path, seed):
    """Randomized lifecycle soak: a seeded random interleaving of plain
    appends, batched appends, torn-redelivery cycles (ledger removed,
    batch re-applied), deletes, and compactions -- then the searchable
    state must equal a from-scratch index of exactly the live set. The
    fixed soak above pins one composition order; this pins that the
    invariants hold under arbitrary orders, including delete-after-
    batched-append (tombstones vs filename-keyed files) and
    redeliver-after-compact-style interleavings the fixed test can't
    reach. Single-writer contract respected: every redelivery completes
    before the next op."""
    import os
    import random

    rng = random.Random(seed)
    d = str(tmp_path / "rand")
    d_ref = str(tmp_path / "rand_ref")
    docs = index_build.documents_with_title(spark, sf_dir)
    all_ids = sorted(r["doc_id"] for r in docs.select("doc_id").collect())

    init = set(rng.sample(all_ids, len(all_ids) // 3))
    engine.build_index(docs.where(F.col("doc_id").isin(list(init))), d, n_buckets=8)
    live, tombstoned = set(init), set()
    batch_id = 100

    for _ in range(6):
        op = rng.choice(
            ["append", "append_batch", "append_batch_redeliver", "delete", "compact"]
        )
        if op.startswith("append"):
            candidates = [i for i in all_ids if i not in live and i not in tombstoned]
            if not candidates:
                continue
            batch = rng.sample(candidates, min(len(candidates), rng.randint(1, 60)))
            bdf = docs.where(F.col("doc_id").isin(batch))
            if op == "append":
                engine.append_to_index(bdf, d)
            else:
                engine.append_to_index(bdf, d, batch_id=batch_id)
                if op == "append_batch_redeliver":
                    os.remove(engine._ingest_ledger(d, batch_id))
                    engine.append_to_index(bdf, d, batch_id=batch_id)
                batch_id += 1
            live |= set(batch)
        elif op == "delete":
            if not live:
                continue
            dels = rng.sample(sorted(live), min(len(live), rng.randint(1, 40)))
            engine.delete_from_index(
                docs.where(F.col("doc_id").isin(dels)).select("doc_id"), d
            )
            live -= set(dels)
            tombstoned |= set(dels)
        else:
            engine.compact_index(spark, d)
            tombstoned = set()

    engine.build_index(docs.where(F.col("doc_id").isin(list(live))), d_ref, n_buckets=8)
    for query in ("spark query window merge", "data processing engine"):
        got = [tuple(r) for r in engine.search(spark, d, query).collect()]
        want = [tuple(r) for r in engine.search(spark, d_ref, query).collect()]
        assert got == want, (query, got, want)
    assert live  # the comparison must not be vacuous


def test_maintenance_soak_cycles(spark, sf_dir, tmp_path):
    """Soak the maintenance path: three append/delete cycles with a
    compaction in the middle, then verify the searchable state equals a
    from-scratch index of exactly the surviving documents. Single
    lifecycle steps are covered above; this pins that the invariants
    COMPOSE over many cycles (vocab df-deltas are exact integer merges,
    so no drift is possible -- this test is what proves that claim)."""
    d = str(tmp_path / "soak")
    d_fresh = str(tmp_path / "soak_fresh")
    docs = index_build.documents_with_title(spark, sf_dir)
    did = F.col("doc_id").cast("long")

    engine.build_index(docs.where(did % 3 == 0), d, n_buckets=8)
    engine.append_to_index(docs.where(did % 3 == 1), d)
    engine.delete_from_index(docs.where(did % 6 == 0).select("doc_id"), d)
    engine.append_to_index(docs.where(did % 3 == 2), d)
    engine.compact_index(spark, d)
    engine.delete_from_index(docs.where(did % 7 == 1).select("doc_id"), d)
    # doc_id % 6 == 0 ids were purged by the compaction, so they are
    # re-addable -- except the ones the %7 delete just tombstoned, which
    # the append-clash guard would (correctly) reject
    engine.append_to_index(docs.where((did % 6 == 0) & (did % 7 != 1)), d)

    # survivors: everything except (doc_id % 7 == 1), whose delete came
    # after the compaction and is still tombstone-masked
    engine.build_index(docs.where(did % 7 != 1), d_fresh, n_buckets=8)
    got = engine.search(spark, d, "spark query window merge").collect()
    want = engine.search(spark, d_fresh, "spark query window merge").collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert len(got) > 0


def test_delete_delta_prunes_forward_partitions(spark, sf_dir, tmp_path):
    """The delete df-delta must reach the forward table as a
    PartitionFilters entry on doc_bucket -- directory pruning is what
    makes delete cost |batch|/n_buckets of a postings scan instead of
    all of it."""
    from big_data_assignment2_spark.plans.audit import explain_formatted

    d = str(tmp_path / "prune")
    docs = index_build.documents_with_title(spark, sf_dir)
    engine.build_index(docs, d, n_buckets=8)
    ids = docs.orderBy("doc_id").limit(3).select("doc_id").localCheckpoint()
    delta = engine._df_delta_for_ids(spark, d, ids, 8)
    plan = explain_formatted(delta)
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and any("doc_bucket" in l for l in pf), plan
    # and the delta itself is correct: per-term df of exactly those docs
    want = {
        (r["term"], r["doc_freq"])
        for r in index_build.vocab_from_inverted(
            index_build.inverted_from_docs(docs.join(ids, "doc_id", "semi"))
        ).collect()
    }
    got = {(r["term"], r["delta_df"]) for r in delta.collect()}
    assert got == want


def test_delete_requires_forward_table(spark, sf_dir, tmp_path):
    """Deleting from an index that predates the forward-table layout must
    fail with a clear rebuild message, not an opaque path error."""
    d = str(tmp_path / "old_layout")
    docs = index_build.documents_with_title(spark, sf_dir)
    engine.build_index(docs, d, n_buckets=8)
    fs, fwd = engine._fs_and_path(spark, f"{d}/forward")
    fs.delete(fwd, True)  # simulate a pre-forward index
    with pytest.raises(ValueError, match="forward table"):
        engine.delete_from_index(docs.limit(1).select("doc_id"), d)


def test_batched_append_redelivery_is_noop(spark, sf_dir, tmp_path):
    """Exactly-once contract for the streaming ingestion path: applying
    the SAME (batch_id, rows) twice -- the foreachBatch redelivery after
    a mid-batch failure -- must leave the index bit-identical to applying
    it once: same search results, same vocab df sums, same data-file set
    (no doubled postings/doc_stats files), and the committed-batch ledger
    populated."""
    import glob as _glob
    import os

    d = str(tmp_path / "redelivery")
    docs = index_build.documents_with_title(spark, sf_dir)
    even = docs.where(F.col("doc_id").cast("long") % 2 == 0)
    odd = docs.where(F.col("doc_id").cast("long") % 2 == 1)
    engine.build_index(even, d, n_buckets=8)

    def _state():
        files = sorted(
            os.path.relpath(p, d)
            for t in ("inverted_index", "forward", "doc_stats")
            for p in _glob.glob(f"{d}/{t}/**/*.parquet", recursive=True)
        )
        vocab_total = (
            spark.read.parquet(f"{d}/vocab").agg(F.sum("doc_freq")).collect()[0][0]
        )
        hits = [
            tuple(r)
            for r in engine.search(spark, d, "spark query window merge").collect()
        ]
        return files, vocab_total, hits

    engine.append_to_index(odd, d, batch_id=7)
    once = _state()
    assert os.path.exists(f"{d}/ingest_log/batch_7")
    # every appended file carries the batch key (purgeable on redelivery)
    assert any("ingest7-" in f for f in once[0])

    engine.append_to_index(odd, d, batch_id=7)  # redelivered: must no-op
    assert _state() == once

    # a DIFFERENT batch id is new data and must apply (guard that the
    # ledger keys on batch id, not on "any append happened")
    engine.append_to_index(odd.limit(3).withColumn(
        "doc_id", F.concat(F.lit("rd_"), F.col("doc_id"))
    ), d, batch_id=8)
    files2, vocab2, _ = _state()
    assert vocab2 > once[1]
    assert any("ingest8-" in f for f in files2)


def test_batched_append_torn_delivery_recovers(spark, sf_dir, tmp_path):
    """Crash-window recovery: simulate a delivery that died AFTER landing
    its postings files but BEFORE the vocab merge / ledger commit (the
    worst torn state short of the vocab swap, which its marker covers).
    The redelivery must purge the orphaned files and converge to the
    exactly-once state."""
    import glob as _glob
    import os
    import shutil

    d = str(tmp_path / "torn")
    d_ref = str(tmp_path / "torn_ref")
    docs = index_build.documents_with_title(spark, sf_dir)
    even = docs.where(F.col("doc_id").cast("long") % 2 == 0)
    odd = docs.where(F.col("doc_id").cast("long") % 2 == 1)
    engine.build_index(even, d, n_buckets=8)
    shutil.copytree(d, d_ref)

    # torn delivery: rename a stray parquet file in under this batch's
    # ingest key, as if the rename loop died mid-way
    bucket_dir = sorted(_glob.glob(f"{d}/inverted_index/term_bucket=*"))[0]
    src = sorted(_glob.glob(f"{bucket_dir}/*.parquet"))[0]
    shutil.copy(src, f"{bucket_dir}/ingest3-999.parquet")

    engine.append_to_index(odd, d, batch_id=3)
    engine.build_index(docs, d_ref, n_buckets=8)  # clean one-shot reference
    got = [tuple(r) for r in engine.search(spark, d, "spark query window merge").collect()]
    want = [
        tuple(r) for r in engine.search(spark, d_ref, "spark query window merge").collect()
    ]
    assert got == want and len(got) > 0
    # the orphan from the torn attempt was purged, not double-counted
    assert not os.path.exists(f"{bucket_dir}/ingest3-999.parquet")


def test_batched_append_concurrent_torn_interleaving_recovers(
    spark, sf_dir, tmp_path
):
    """Round-8 made the per-batch table applications CONCURRENT, which
    makes a previously-impossible crash state reachable: the vocab
    delta-merge (marker applied) and the doc_stats rename completed while
    postings/forward never landed and the ledger was never written.
    Construct exactly that state by hand, then redeliver the batch: the
    marker must suppress a second vocab merge (else df doubles), the
    doc_stats purge must swallow the earlier delivery's files (else N
    doubles), postings/forward must apply fresh, and the final index must
    hash-equal a clean one-shot build of the full corpus."""
    import glob as _glob
    import os
    import shutil

    d = str(tmp_path / "torn_pool")
    d_ref = str(tmp_path / "torn_pool_ref")
    docs = index_build.documents_with_title(spark, sf_dir)
    even = docs.where(F.col("doc_id").cast("long") % 2 == 0)
    odd = docs.where(F.col("doc_id").cast("long") % 2 == 1)
    engine.build_index(even, d, n_buckets=8)

    bid = 5
    # -- hand-construct the torn state ------------------------------
    # vocab thread finished: delta merged, marker riding the swap
    inv = index_build.inverted_from_docs(odd)
    delta = index_build.vocab_from_inverted(inv).withColumnRenamed(
        "doc_freq", "delta_df"
    )
    merged = (
        spark.read.parquet(f"{d}/vocab")
        .join(delta, "term", "full_outer")
        .select(
            "term",
            (
                F.coalesce(F.col("doc_freq"), F.lit(0))
                + F.coalesce(F.col("delta_df"), F.lit(0))
            ).alias("doc_freq"),
        )
    )
    merged.write.mode("overwrite").parquet(f"{d}/vocab.tmp")
    engine._touch(spark, f"{d}/vocab.tmp/_ingest_applied_{bid}")
    engine._replace_dir(spark, f"{d}/vocab.tmp", f"{d}/vocab")
    # doc_stats thread finished: staged write renamed in under batch keys
    staging = f"{d}/doc_stats.ingest{bid}.tmp"
    index_build.doc_stats_from_docs(odd).write.mode("overwrite").parquet(staging)
    engine._rename_staged_in(spark, staging, f"{d}/doc_stats", bid, False)
    # postings/forward/meta threads died; ledger never written
    assert not os.path.exists(f"{d}/ingest_log/batch_{bid}")
    assert os.path.exists(f"{d}/vocab/_ingest_applied_{bid}")
    assert _glob.glob(f"{d}/doc_stats/ingest{bid}-*.parquet")

    # -- redelivery must converge to exactly-once -------------------
    engine.append_to_index(odd, d, batch_id=bid)
    engine.build_index(docs, d_ref, n_buckets=8)  # clean one-shot reference

    got = [
        tuple(r) for r in engine.search(spark, d, "spark query window merge").collect()
    ]
    want = [
        tuple(r)
        for r in engine.search(spark, d_ref, "spark query window merge").collect()
    ]
    assert got == want and len(got) > 0
    # vocab was NOT merged twice: per-term df equals the clean reference
    vocab_got = {
        r["term"]: r["doc_freq"] for r in spark.read.parquet(f"{d}/vocab").collect()
    }
    vocab_want = {
        r["term"]: r["doc_freq"]
        for r in spark.read.parquet(f"{d_ref}/vocab").collect()
    }
    assert vocab_got == vocab_want
    # doc_stats was not doubled: N and avg_dl in meta equal the reference
    meta_got = {
        r["key"]: r["value"] for r in spark.read.parquet(f"{d}/meta").collect()
    }
    meta_want = {
        r["key"]: r["value"] for r in spark.read.parquet(f"{d_ref}/meta").collect()
    }
    assert meta_got == meta_want
    assert os.path.exists(f"{d}/ingest_log/batch_{bid}")


def test_batched_append_torn_meta_marker_suppresses_readd(spark, sf_dir, tmp_path):
    """The incremental meta add is a read-modify-write, so it carries the
    same marker-through-the-swap protection as the vocab merge: construct
    the torn state where ONLY meta landed (marker present, ledger never
    written), then redeliver -- the marker must suppress a second add,
    else total_docs/total_dl double-count the batch."""
    import os

    d = str(tmp_path / "torn_meta")
    d_ref = str(tmp_path / "torn_meta_ref")
    docs = index_build.documents_with_title(spark, sf_dir)
    even = docs.where(F.col("doc_id").cast("long") % 2 == 0)
    odd = docs.where(F.col("doc_id").cast("long") % 2 == 1)
    engine.build_index(even, d, n_buckets=8)

    bid = 7
    # -- hand-construct: meta thread finished, everything else died ---
    old = engine._read_meta_counts(spark, d)
    dn, ddl = engine._count_and_total_dl(index_build.doc_stats_from_docs(odd))
    engine._write_meta_table(
        spark, d, 8, (old[0] + dn, old[1] + ddl), batch_id=bid
    )
    assert os.path.exists(f"{d}/meta/_ingest_applied_{bid}")
    assert not os.path.exists(f"{d}/ingest_log/batch_{bid}")

    # -- redelivery must converge to exactly-once ---------------------
    engine.append_to_index(odd, d, batch_id=bid)
    engine.build_index(docs, d_ref, n_buckets=8)
    meta_got = {
        r["key"]: r["value"] for r in spark.read.parquet(f"{d}/meta").collect()
    }
    meta_want = {
        r["key"]: r["value"] for r in spark.read.parquet(f"{d_ref}/meta").collect()
    }
    assert meta_got == meta_want
    got = [tuple(r) for r in engine.search(spark, d, "spark query window merge").collect()]
    want = [
        tuple(r) for r in engine.search(spark, d_ref, "spark query window merge").collect()
    ]
    assert got == want and len(got) > 0


def test_append_upgrades_legacy_meta(spark, sf_dir, tmp_path):
    """An index persisted by the pre-total_dl layout (meta = total_docs /
    avg_dl / n_buckets only) must still append correctly: the incremental
    path detects the missing key, falls back to the live-stats recompute,
    and the recompute writes total_dl -- upgrading the meta in place so
    the NEXT append goes incremental."""
    d = str(tmp_path / "legacy")
    d_ref = str(tmp_path / "legacy_ref")
    docs = index_build.documents_with_title(spark, sf_dir)
    did = F.col("doc_id").cast("long")
    engine.build_index(docs.where(did % 3 == 0), d, n_buckets=8)

    # strip total_dl, simulating the old layout (collect first -- an
    # overwrite into a path in the plan's lineage would eat its input)
    legacy = [
        (r["key"], r["value"])
        for r in spark.read.parquet(f"{d}/meta").collect()
        if r["key"] != "total_dl"
    ]
    spark.createDataFrame(legacy, "key string, value string").write.mode(
        "overwrite"
    ).parquet(f"{d}/meta")
    assert engine._read_meta_counts(spark, d) is None

    engine.append_to_index(docs.where(did % 3 == 1), d)
    upgraded = engine._read_meta_counts(spark, d)
    assert upgraded is not None
    engine.append_to_index(docs.where(did % 3 == 2), d)  # incremental now

    engine.build_index(docs, d_ref, n_buckets=8)
    meta_got = {
        r["key"]: r["value"] for r in spark.read.parquet(f"{d}/meta").collect()
    }
    meta_want = {
        r["key"]: r["value"] for r in spark.read.parquet(f"{d_ref}/meta").collect()
    }
    assert meta_got == meta_want


def test_legacy_upgrade_torn_redelivery_not_double_counted(spark, sf_dir, tmp_path):
    """The legacy-meta RECOMPUTE during a batched append writes the
    total_dl key -- which enables the incremental path -- so it must also
    carry the batch marker: a delivery that applied everything but died
    before the ledger touch would otherwise be re-applied incrementally
    on redelivery, double-counting the batch in total_docs/total_dl."""
    import os

    d = str(tmp_path / "legacy_torn")
    d_ref = str(tmp_path / "legacy_torn_ref")
    docs = index_build.documents_with_title(spark, sf_dir)
    even = docs.where(F.col("doc_id").cast("long") % 2 == 0)
    odd = docs.where(F.col("doc_id").cast("long") % 2 == 1)
    engine.build_index(even, d, n_buckets=8)
    # strip total_dl -> the batch append below runs the recompute path
    legacy = [
        (r["key"], r["value"])
        for r in spark.read.parquet(f"{d}/meta").collect()
        if r["key"] != "total_dl"
    ]
    spark.createDataFrame(legacy, "key string, value string").write.mode(
        "overwrite"
    ).parquet(f"{d}/meta")

    bid = 9
    engine.append_to_index(odd, d, batch_id=bid)
    assert os.path.exists(f"{d}/meta/_ingest_applied_{bid}")
    # crash window: everything applied, ledger never written -> redeliver
    os.remove(f"{d}/ingest_log/batch_{bid}")
    engine.append_to_index(odd, d, batch_id=bid)

    engine.build_index(docs, d_ref, n_buckets=8)
    meta_got = {
        r["key"]: r["value"] for r in spark.read.parquet(f"{d}/meta").collect()
    }
    meta_want = {
        r["key"]: r["value"] for r in spark.read.parquet(f"{d_ref}/meta").collect()
    }
    assert meta_got == meta_want


def test_torn_swap_heals_on_next_maintenance(spark, sf_dir, tmp_path):
    """A crash between _replace_dir's delete and rename leaves the table
    missing and its fully-written .tmp orphaned. Every maintenance entry
    point (and load_index) completes the rename first -- a fresh process
    redelivering a batch must converge instead of wedging on the missing
    path (the in-process caches that mask this in-session do not survive
    the crash)."""
    import os
    import shutil

    d = str(tmp_path / "heal")
    d_ref = str(tmp_path / "heal_ref")
    docs = index_build.documents_with_title(spark, sf_dir)
    even = docs.where(F.col("doc_id").cast("long") % 2 == 0)
    odd = docs.where(F.col("doc_id").cast("long") % 2 == 1)
    engine.build_index(even, d, n_buckets=8)

    # torn meta swap + cold process: no cache entry for this index_dir
    shutil.move(f"{d}/meta", f"{d}/meta.tmp")
    engine._N_BUCKETS_CACHE.pop(d, None)
    engine.append_to_index(odd, d, batch_id=4)
    assert os.path.exists(f"{d}/meta") and not os.path.exists(f"{d}/meta.tmp")

    # torn vocab swap before a search: load_index heals it
    shutil.move(f"{d}/vocab", f"{d}/vocab.tmp")
    got = [tuple(r) for r in engine.search(spark, d, "spark query window merge").collect()]
    assert os.path.exists(f"{d}/vocab") and not os.path.exists(f"{d}/vocab.tmp")

    engine.build_index(docs, d_ref, n_buckets=8)
    want = [
        tuple(r) for r in engine.search(spark, d_ref, "spark query window merge").collect()
    ]
    assert got == want and len(got) > 0


def test_replace_dir_tolerates_lost_heal_race(spark, tmp_path, monkeypatch):
    """A reader's _heal_torn_swaps can observe a live writer mid-swap (dst
    deleted, tmp present) and issue the same tmp->dst rename; whichever
    process loses sees fs.rename()==False with the swap already complete.
    _replace_dir must treat that as success (the alternative spuriously
    fails a concurrent search or the writer's own maintenance op) -- but a
    rename failure where the swap did NOT complete must still raise."""
    import os

    real = engine._fs_and_path

    class RacedFS:
        """fs whose rename is beaten to the punch: the competing process's
        rename lands (we perform it), then ours reports failure."""

        def __init__(self, fs):
            self._fs = fs

        def exists(self, p):
            return self._fs.exists(p)

        def delete(self, p, rec):
            return self._fs.delete(p, rec)

        def rename(self, a, b):
            self._fs.rename(a, b)
            return False

    class DeadFS(RacedFS):
        """fs whose rename genuinely fails (nothing moved)."""

        def rename(self, a, b):
            return False

    wrapper = RacedFS
    monkeypatch.setattr(
        engine,
        "_fs_and_path",
        lambda sp, path: (lambda fs_p: (wrapper(fs_p[0]), fs_p[1]))(real(sp, path)),
    )

    src, dst = str(tmp_path / "t.tmp"), str(tmp_path / "t")
    os.makedirs(src)
    open(f"{src}/part-0.parquet", "w").write("x")
    engine._replace_dir(spark, src, dst)  # lost race == success, no raise
    assert os.path.isdir(dst) and not os.path.exists(src)

    wrapper = DeadFS
    src2, dst2 = str(tmp_path / "u.tmp"), str(tmp_path / "u")
    os.makedirs(src2)
    with pytest.raises(IOError):
        engine._replace_dir(spark, src2, dst2)


def test_read_table_retry_absorbs_swap_window(spark, sf_dir, tmp_path):
    """A reader planning a scan inside a swap's delete->rename window
    (milliseconds) must not spuriously fail: load_index's table reads
    retry briefly on a MISSING path. Simulated by installing the table
    from a background thread shortly after the read starts. A path that
    never appears still raises."""
    import os
    import threading
    import time

    docs = index_build.documents_with_title(spark, sf_dir)
    src = str(tmp_path / "src")
    target = str(tmp_path / "tbl")
    docs.limit(5).write.parquet(src)

    t = threading.Thread(target=lambda: (time.sleep(0.06), os.rename(src, target)))
    t.start()
    try:
        assert engine._read_table_retry(spark, target).count() == 5
    finally:
        t.join()

    with pytest.raises(Exception, match="PATH_NOT_FOUND|does not exist"):
        engine._read_table_retry(spark, str(tmp_path / "never"))


def test_tombstones_toctou_returns_none(spark, tmp_path, monkeypatch):
    """A tombstone table that disappears between the existence check and
    the read (compact_index clears it strictly LAST, after the purged
    tables swapped in) must read as 'no tombstones', not raise -- while a
    read failure of a STILL-PRESENT table keeps propagating."""
    import os

    d = str(tmp_path / "idx")
    os.makedirs(d)

    # freeze the STALE observation: exists said True, but the dir is gone
    real_exists = engine._path_exists
    seen = []

    def stale_once(spark_, path):
        if path.endswith("/tombstones") and not seen:
            seen.append(path)
            return True
        return real_exists(spark_, path)

    monkeypatch.setattr(engine, "_path_exists", stale_once)
    assert engine._tombstones(spark, d) is None

    # a present-but-unreadable table still propagates
    monkeypatch.setattr(engine, "_path_exists", real_exists)
    os.makedirs(f"{d}/tombstones")
    open(f"{d}/tombstones/garbage.parquet", "w").write("not parquet")
    with pytest.raises(Exception):
        engine._tombstones(spark, d)


def test_heal_never_deletes_a_winners_table(spark, tmp_path, monkeypatch):
    """The OTHER half of the heal race: a healer that observed the swap
    window (dst missing, tmp present) but acts only AFTER the writer's
    rename installed the table must not destroy it. The heal is
    rename-only -- its rename fails harmlessly (the tmp was consumed by
    the writer) and the now-present destination is recognized as the
    healed state. A delete-then-rename heal would remove the fresh table
    here and then raise with the tmp gone -- the table lost until the
    next full rewrite."""
    import os

    d = str(tmp_path / "idx")
    os.makedirs(f"{d}/meta")
    open(f"{d}/meta/part-0.parquet", "w").write("live")

    # freeze the healer's STALE observation: it saw dst missing and tmp
    # present, but by act time the writer has already swapped tmp -> dst
    real_exists = engine._path_exists

    def stale(spark_, path):
        if path.endswith("/meta"):
            return False
        if path.endswith("/meta.tmp"):
            return True
        return real_exists(spark_, path)

    monkeypatch.setattr(engine, "_path_exists", stale)
    engine._heal_torn_swaps(spark, d)  # must neither raise nor delete
    assert open(f"{d}/meta/part-0.parquet").read() == "live"


def test_meta_readers_survive_swap_window(spark, sf_dir, tmp_path):
    """Torn-meta resilience: with the meta directory absent (the
    delete->rename window of a swap, or a crash mid-rewrite), the cached
    n_buckets keeps serving (maintenance-invariant) and
    _read_meta_counts reports None -- routing the next append to the
    recompute, which rewrites meta (self-heal) instead of wedging every
    redelivery on an unreadable path."""
    import shutil

    d = str(tmp_path / "swapwin")
    docs = index_build.documents_with_title(spark, sf_dir)
    engine.build_index(docs, d, n_buckets=8)
    assert engine._read_n_buckets(spark, d) == 8
    shutil.rmtree(f"{d}/meta")
    assert engine._read_n_buckets(spark, d) == 8  # cached serve: fingerprint None (dir gone)
    assert engine._read_meta_counts(spark, d) is None


def test_n_buckets_cache_invalidates_on_external_rebuild(spark, sf_dir, tmp_path):
    """A long-lived process (streaming driver) must notice when ANOTHER
    process rebuilds the same index_dir with a different n_buckets -- the
    memoized value is validated against the meta directory's child
    listing (fresh part-file UUIDs per write), so an external rewrite
    invalidates it even on filesystems with coarse mtime granularity and
    search cannot silently prune with a stale layout."""
    d = str(tmp_path / "ext")
    docs = index_build.documents_with_title(spark, sf_dir)
    engine.build_index(docs, d, n_buckets=8)
    assert engine._read_n_buckets(spark, d) == 8  # cached + stamped

    # external rebuild: rewrite meta with n_buckets=4 WITHOUT going
    # through this process's engine writers (no cache re-stamp)
    rows = [
        (r["key"], "4" if r["key"] == "n_buckets" else r["value"])
        for r in spark.read.parquet(f"{d}/meta").collect()
    ]
    spark.createDataFrame(rows, "key string, value string").write.mode(
        "overwrite"
    ).parquet(f"{d}/meta")
    # deliberately NO os.utime: the listing fingerprint must catch the
    # rewrite from the fresh part filenames alone, timestamps aside

    assert engine._read_n_buckets(spark, d) == 4


def test_batched_append_hadoop_metadata_path(spark, sf_dir, tmp_path, monkeypatch):
    """The round-8 local-FS fast path short-circuits the Hadoop-gateway
    metadata ops for every local test, which would leave the Hadoop
    branch (the one a real HDFS/object-store deployment runs) untested.
    Force it by faking a non-local fs.defaultFS verdict -- the Hadoop
    FileSystem still resolves these bare paths to the local disk, so the
    branch executes for real -- and run the append + redelivery cycle
    through it."""
    import glob as _glob
    import os

    monkeypatch.setattr(engine, "_DEFAULT_FS_IS_LOCAL", False)
    d = str(tmp_path / "hadoop_branch")
    docs = index_build.documents_with_title(spark, sf_dir)
    even = docs.where(F.col("doc_id").cast("long") % 2 == 0)
    odd = docs.where(F.col("doc_id").cast("long") % 2 == 1)
    engine.build_index(even, d, n_buckets=8)

    engine.append_to_index(odd, d, batch_id=11)
    files_once = sorted(
        os.path.relpath(p, d)
        for t in ("inverted_index", "forward", "doc_stats")
        for p in _glob.glob(f"{d}/{t}/**/*.parquet", recursive=True)
    )
    assert any("ingest11-" in f for f in files_once)
    assert os.path.exists(f"{d}/ingest_log/batch_11")
    hits_once = [
        tuple(r) for r in engine.search(spark, d, "spark query window merge").collect()
    ]

    engine.append_to_index(odd, d, batch_id=11)  # redelivered: must no-op
    files_again = sorted(
        os.path.relpath(p, d)
        for t in ("inverted_index", "forward", "doc_stats")
        for p in _glob.glob(f"{d}/{t}/**/*.parquet", recursive=True)
    )
    hits_again = [
        tuple(r) for r in engine.search(spark, d, "spark query window merge").collect()
    ]
    assert files_again == files_once
    assert hits_again == hits_once and len(hits_once) > 0


def test_lifecycle_readd_equals_fresh(spark, sf_dir, index_dir):
    """build -> delete -> compact -> append-READD of the deleted docs must
    converge back to the from-scratch full-corpus index (compaction freed
    the tombstoned ids; the re-add restores their postings and stats)."""
    from big_data_assignment2_spark.operators.search import ensure_lifecycle_index

    d = ensure_lifecycle_index(spark, sf_dir)
    got = [tuple(r) for r in engine.search(spark, d, "spark query window merge").collect()]
    want = [
        tuple(r)
        for r in engine.search(spark, index_dir, "spark query window merge").collect()
    ]
    assert got == want and len(got) > 0


def test_heal_skips_recreated_tmp_instance(spark, tmp_path, monkeypatch):
    """Round-11 ADVICE: the dst-exists re-check alone does not stop a
    healer whose tmp was CONSUMED and RE-CREATED between its entry check
    and its rename -- the new tmp belongs to a live writer mid-lifecycle
    and is never the healer's to install (on HDFS semantics the rename
    would nest it inside the writer's fresh table). The heal snapshots
    the tmp's child listing at entry (part-file UUIDs make listings
    instance-unique) and must SKIP -- rename never issued -- when the
    listing changed by act time."""
    import os
    import shutil

    d = str(tmp_path / "idx")
    os.makedirs(f"{d}/meta.tmp")
    open(f"{d}/meta.tmp/part-old.parquet", "w").write("old tmp instance")

    real = engine._fs_and_path
    renames = []

    class WriterRacesFS:
        """fs whose dst-exists re-check triggers the concurrent writer:
        it completes the observed swap (consuming the healer's tmp) and
        writes a complete NEW tmp at the same pathname -- then answers
        the healer's question stale (False), exactly the interleaving
        the listing snapshot exists for."""

        def __init__(self, fs):
            self._fs = fs

        def exists(self, p):
            path = p.toString() if hasattr(p, "toString") else str(p)
            if path.rstrip("/").endswith("/meta"):
                if os.path.exists(f"{d}/meta.tmp/part-old.parquet"):
                    shutil.move(f"{d}/meta.tmp", f"{d}/meta")  # writer's swap
                    os.makedirs(f"{d}/meta.tmp")  # writer's NEXT rewrite
                    open(f"{d}/meta.tmp/part-new.parquet", "w").write("new")
                return False  # stale observation
            return self._fs.exists(p)

        def listStatus(self, p):
            return self._fs.listStatus(p)

        def rename(self, a, b):
            renames.append((str(a), str(b)))
            return self._fs.rename(a, b)

    monkeypatch.setattr(
        engine,
        "_fs_and_path",
        lambda sp, path: (lambda fp: (WriterRacesFS(fp[0]), fp[1]))(real(sp, path)),
    )
    engine._heal_torn_swaps(spark, d)  # must skip: not our tmp instance

    assert renames == []  # the healer never touched the writer's new tmp
    assert open(f"{d}/meta/part-old.parquet").read() == "old tmp instance"
    assert open(f"{d}/meta.tmp/part-new.parquet").read() == "new"


def test_tombstones_reappeared_path_retries(spark, tmp_path, monkeypatch):
    """Round-11 ADVICE: a PATH_NOT_FOUND read where the tombstone table
    has REAPPEARED by the re-check (compaction cleared it, then a new
    delete re-created it) must retry and return the now-present table --
    not raise, and never misreport 'no tombstones'."""
    import os

    d = str(tmp_path / "idx")
    os.makedirs(d)
    path = f"{d}/tombstones"

    real_exists = engine._path_exists
    calls = []

    def exists_with_recreate(spark_, p):
        if p == path:
            calls.append(1)
            if len(calls) > 1 and not os.path.exists(path):
                # the handler's re-check: a new delete re-created the
                # table between the failed read and now
                spark.createDataFrame(
                    [("7",)], "doc_id string"
                ).write.parquet(path)
            return True  # entry check answers stale-True (table absent)
        return real_exists(spark_, p)

    monkeypatch.setattr(engine, "_path_exists", exists_with_recreate)
    tomb = engine._tombstones(spark, d)
    assert tomb is not None
    assert [r["doc_id"] for r in tomb.collect()] == ["7"]


def test_error_classification_prefers_structured_condition():
    """Round-11 ADVICE: transient-failure classification must survive a
    Spark release rewording its messages -- the structured error class
    (getCondition / getErrorClass) wins over substrings, which remain
    only as the fallback for exceptions carrying no class."""

    class CondErr(Exception):
        def getCondition(self):
            return "PATH_NOT_FOUND"

    class OtherCondErr(Exception):
        def getCondition(self):
            return "DIVIDE_BY_ZERO"

    class LegacyErr(Exception):
        def getCondition(self):
            return None

        def getErrorClass(self):
            return "PATH_NOT_FOUND"

    # structured class decides, regardless of message wording
    assert engine._is_missing_path_error(CondErr("totally reworded"))
    assert not engine._is_missing_path_error(OtherCondErr("does not exist"))
    # older API fallback
    assert engine._is_missing_path_error(LegacyErr("reworded too"))
    # no structured class at all -> substring fallback
    assert engine._is_missing_path_error(Exception("Path does not exist: /x"))
    assert not engine._is_missing_path_error(Exception("quota exceeded"))
    # a local filesystem miss (the pyarrow meta read) counts too
    assert engine._is_missing_path_error(FileNotFoundError("x"))


def test_meta_fingerprint_propagates_persistent_errors(spark, tmp_path, monkeypatch):
    """Round-11 ADVICE: only the benign momentarily-absent cases
    (FileNotFoundError / NotADirectoryError -- a swap window) may serve
    the cached n_buckets; a persistent local failure such as a
    permission error must PROPAGATE instead of silently serving a cached
    layout forever."""
    import os

    d = str(tmp_path / "idx")
    assert engine._meta_fingerprint(spark, d) is None  # absent dir: benign

    os.makedirs(f"{d}/meta")

    def denied(p):
        raise PermissionError(13, "Permission denied", p)

    monkeypatch.setattr(engine.os, "scandir", denied)
    with pytest.raises(PermissionError):
        engine._meta_fingerprint(spark, d)


def test_load_index_rejects_foreign_dir(spark, tmp_path):
    """Declared read schemas null-fill columns the files lack, so a
    directory whose tables were written by something else (the CLI
    reuses any existing on-disk index_dir) would search to zero hits
    silently where schema inference used to raise -- load_index now
    fails fast on a doc_stats footer that doesn't match the layout."""
    d = str(tmp_path / "foreign")
    spark.range(5).selectExpr("id AS a", "id * 2 AS b").write.parquet(
        f"{d}/doc_stats"
    )
    for t in ("inverted_index", "vocab", "meta"):
        spark.range(1).selectExpr("id AS x").write.parquet(f"{d}/{t}")
    with pytest.raises(ValueError, match="doc_stats"):
        engine.load_index(spark, d)

    # right column NAMES but legacy/foreign TYPES (doc_id bigint was
    # silently accepted by schema inference; declared STRING would now
    # fail at task time with an obscure Parquet conversion error) --
    # the guard turns it into a clear rebuild message
    d2 = str(tmp_path / "legacy")
    spark.range(5).selectExpr(
        "id AS doc_id", "CAST(id AS STRING) AS title", "id AS length"
    ).write.parquet(f"{d2}/doc_stats")
    with pytest.raises(ValueError, match="rebuild"):
        engine._validate_layout(spark, d2)


def test_search_rejects_foreign_tombstones(spark, sf_dir, tmp_path):
    """Tombstones are read under a declared ``doc_id STRING`` schema, which
    would null-fill a foreign table's missing column and mask nothing --
    serving every deleted document. Their footer is checked instead, and
    the search fails naming the table."""
    d = str(tmp_path / "idx")
    engine.build_index(
        index_build.documents_with_title(spark, sf_dir).limit(20), d, n_buckets=8
    )
    spark.range(3).write.parquet(f"{d}/tombstones")  # an `id` column
    with pytest.raises(ValueError, match="tombstones"):
        engine.search(spark, d, search_ops.DEFAULT_QUERY)


def test_dir_signature_distinguishes_gone_from_denied():
    """_dir_signature maps only a MISSING path to None (benign race: the
    tmp was consumed); a persistent listing failure must propagate --
    swallowing it would make the torn-swap healer silently skip forever
    with every subsequent load raising on the missing destination."""

    class DeniedFS:
        def listStatus(self, p):
            raise RuntimeError(
                "org.apache.hadoop.security.AccessControlException: denied"
            )

    class GoneFS:
        def listStatus(self, p):
            raise RuntimeError(
                "java.io.FileNotFoundException: File /x does not exist"
            )

    with pytest.raises(RuntimeError, match="AccessControlException"):
        engine._dir_signature(DeniedFS(), "/x")
    assert engine._dir_signature(GoneFS(), "/x") is None


def test_expected_footer_derives_from_layout_schemas():
    """The validate-layout footer expectations derive from _LAYOUT_SCHEMAS
    (single source of truth): a layout change updating the declared read
    schema cannot silently drift from the guard's expectation."""
    assert engine._expected_footer("doc_stats") == {
        "doc_id": "string",
        "title": "string",
        "length": "int64",
    }
    # partition columns live in directory names, never in footers
    assert "term_bucket" not in engine._expected_footer("inverted_index")
    assert engine._expected_footer("inverted_index")["tf"] == "int64"
    assert "doc_bucket" not in engine._expected_footer("forward")
    assert engine._expected_footer("meta") == {"key": "string", "value": "string"}


def test_validate_layout_checks_every_table(spark, tmp_path):
    """A conforming doc_stats over a FOREIGN vocab must not null-fill to
    zero hits: every table with a declared schema is footer-checked."""
    d = str(tmp_path / "torn")
    spark.createDataFrame(
        [("1", "t", 3)], "doc_id string, title string, length long"
    ).write.parquet(f"{d}/doc_stats")
    spark.range(3).selectExpr("id AS x").write.parquet(f"{d}/vocab")
    with pytest.raises(ValueError, match="vocab"):
        engine._validate_layout(spark, d)


def test_validate_layout_memoizes_conforming_index(spark, index_dir):
    """A fully built index passes the per-table footer check for ALL five
    tables and memoizes each -- pins the partitioned-table glob (bucket
    subdirectories), which would otherwise silently skip validation."""
    engine._LAYOUT_VALIDATED.pop(index_dir, None)
    engine._validate_layout(spark, index_dir)
    assert engine._LAYOUT_VALIDATED.get(index_dir) == set(engine._LAYOUT_SCHEMAS)


def test_validate_layout_memoizes_per_table(spark, tmp_path):
    """An index permanently missing one table (a pre-forward legacy
    layout) must still memoize the tables it CAN check -- an
    all-or-nothing memo would re-glob every bucket directory on every
    search forever."""
    d = str(tmp_path / "noforward")
    spark.createDataFrame(
        [("1", "t", 3)], "doc_id string, title string, length long"
    ).write.parquet(f"{d}/doc_stats")
    spark.createDataFrame([("x", 1)], "term string, doc_freq long").write.parquet(
        f"{d}/vocab"
    )
    spark.createDataFrame([("k", "v")], "key string, value string").write.parquet(
        f"{d}/meta"
    )
    engine._validate_layout(spark, d)
    assert engine._LAYOUT_VALIDATED.get(d) == {"doc_stats", "vocab", "meta"}


def test_read_table_retry_raises_on_fileless_dir(spark, tmp_path):
    """A dir with no data files plans an EMPTY scan under a declared
    schema where inference raised UNABLE_TO_INFER_SCHEMA -- the read must
    restore the loud failure (an in-place rebuild's overwrite window, or
    a never-built table), never return silent zero rows."""
    import os

    d = str(tmp_path / "idx")
    os.makedirs(f"{d}/doc_stats")
    open(f"{d}/doc_stats/_SUCCESS", "w").close()
    with pytest.raises(RuntimeError, match="no data files"):
        engine._read_table_retry(
            spark, f"{d}/doc_stats", engine._LAYOUT_SCHEMAS["doc_stats"]
        )


def test_load_index_raises_loudly_on_fileless_table(spark, tmp_path):
    """load_index during a concurrent rebuild's overwrite window (table
    dir exists, data files deleted by mode('overwrite')) raises instead
    of serving an empty index."""
    import glob as _glob
    import os

    d = str(tmp_path / "midbuild")
    spark.createDataFrame(
        [("1", "t", 3)], "doc_id string, title string, length long"
    ).write.parquet(f"{d}/doc_stats")
    for p in _glob.glob(f"{d}/doc_stats/*.parquet"):
        os.remove(p)
    with pytest.raises(RuntimeError, match="no data files"):
        engine.load_index(spark, d)


def test_maintenance_rejects_foreign_dir(spark, tmp_path):
    """delete/compact/append on a legacy dir (bigint doc_id) fail fast
    with the clear rebuild message -- not an opaque task-side Parquet
    conversion error (or a silently null-filled WRONG df delta)."""
    d = str(tmp_path / "legacy")
    spark.range(5).selectExpr(
        "id AS doc_id", "CAST(id AS STRING) AS title", "id AS length"
    ).write.parquet(f"{d}/doc_stats")
    ids = spark.createDataFrame([("1",)], "doc_id string")
    with pytest.raises(ValueError, match="rebuild"):
        engine.delete_from_index(ids, d)
    with pytest.raises(ValueError, match="rebuild"):
        engine.compact_index(spark, d)
    docs = spark.createDataFrame(
        [("9", "t", "hello world")], "doc_id string, title string, text string"
    )
    with pytest.raises(ValueError, match="rebuild"):
        engine.append_to_index(docs, d)


def test_read_meta_kv_raises_on_fileless_meta(spark, tmp_path):
    """The declared meta schema would read a file-less meta dir as {} --
    and a missing n_buckets silently falls back to the default bucket
    count, mis-pruning every search on an index built with another
    layout. The explicit rows check restores the loud failure."""
    import os

    d = str(tmp_path / "idx")
    os.makedirs(f"{d}/meta")
    with pytest.raises(RuntimeError, match="no rows"):
        engine._read_meta_kv(spark, d)


def test_empty_write_leaves_data_file(spark, tmp_path):
    """Pins the Spark behavior the maintenance guards rely on: an empty
    NON-partitioned write leaves one zero-row schema-bearing data file
    (so vocab/doc_stats/meta are never legitimately file-less once
    written -- file-less == torn/never-built, and the loud guard is
    safe), while an empty PARTITIONED write leaves none (so an
    all-compacted inverted_index/forward is legitimately file-less)."""
    import glob as _glob

    d = str(tmp_path)
    spark.createDataFrame([], "term string, doc_freq long").write.parquet(f"{d}/plain")
    assert _glob.glob(f"{d}/plain/*.parquet")
    spark.createDataFrame(
        [], "doc_id string, term string, doc_bucket int"
    ).write.partitionBy("doc_bucket").parquet(f"{d}/part")
    assert not _glob.glob(f"{d}/part/doc_bucket=*/*.parquet")


def test_append_raises_on_torn_vocab(spark, sf_dir, tmp_path):
    """A torn rebuild leaves vocab file-less; the append-path vocab merge
    must raise loudly instead of silently swapping in a vocab that lost
    every prior term's df (declared schemas would otherwise read the
    dir as EMPTY)."""
    import glob as _glob
    import os

    d = str(tmp_path / "torn")
    docs = index_build.documents_with_title(spark, sf_dir)
    did = F.col("doc_id").cast("long")
    engine.build_index(docs.where(did % 2 == 0), d, n_buckets=8)
    for p in _glob.glob(f"{d}/vocab/*.parquet"):
        os.remove(p)
    with pytest.raises(Exception, match="no data files"):
        engine.append_to_index(docs.where(did % 2 == 1), d)


def test_read_meta_kv_raises_on_zero_row_meta(spark, tmp_path):
    """The local pyarrow fast path must also refuse a zero-row meta (a
    foreign/corrupt table): returning {} would serve the DEFAULT
    n_buckets and silently mis-prune every search."""
    d = str(tmp_path / "idx")
    spark.createDataFrame([], "key string, value string").write.parquet(f"{d}/meta")
    with pytest.raises(RuntimeError, match="no rows"):
        engine._read_meta_kv(spark, d)


def test_delete_all_compact_append_lifecycle(spark, sf_dir, tmp_path):
    """The legitimately-emptied index flow must survive the file-less
    guards end-to-end: delete EVERY document, compact (postings/forward
    become file-less; doc_stats/vocab/meta keep zero-row files), then
    append a fresh corpus -- the result must equal a from-scratch index
    of the appended docs. Searching the fully emptied index in between
    raises the loud no-data-files error (same as schema inference did
    before the declared-schema contract)."""
    import glob as _glob

    d = str(tmp_path / "emptied")
    d_ref = str(tmp_path / "ref")
    docs = index_build.documents_with_title(spark, sf_dir)
    did = F.col("doc_id").cast("long")
    engine.build_index(docs.where(did % 5 == 0), d, n_buckets=8)
    engine.delete_from_index(docs.where(did % 5 == 0).select("doc_id"), d)
    engine.compact_index(spark, d)
    # the non-partitioned tables keep a zero-row data file; the
    # partitioned ones are file-less
    assert _glob.glob(f"{d}/doc_stats/*.parquet")
    assert _glob.glob(f"{d}/vocab/*.parquet")
    assert not _glob.glob(f"{d}/inverted_index/term_bucket=*/*.parquet")
    with pytest.raises(RuntimeError, match="no data files"):
        engine.load_index(spark, d)
    engine.append_to_index(docs.where(did % 5 == 1), d)
    engine.build_index(docs.where(did % 5 == 1), d_ref, n_buckets=8)
    got = engine.search(spark, d, "spark query window merge").collect()
    want = engine.search(spark, d_ref, "spark query window merge").collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert len(got) > 0


def test_delete_raises_on_torn_forward(spark, sf_dir, tmp_path):
    """A torn rebuild's file-less forward table must fail the delete
    loudly: a silently EMPTY df delta would leave vocab's doc_freq
    counting the deleted docs (idf drift) while meta gets corrected."""
    import glob as _glob
    import os

    d = str(tmp_path / "tornfwd")
    docs = index_build.documents_with_title(spark, sf_dir)
    did = F.col("doc_id").cast("long")
    engine.build_index(docs.where(did % 2 == 0), d, n_buckets=8)
    for p in _glob.glob(f"{d}/forward/doc_bucket=*/*.parquet"):
        os.remove(p)
    with pytest.raises(Exception, match="no data files"):
        engine.delete_from_index(
            docs.where(did % 4 == 0).select("doc_id"), d
        )


def test_append_rejects_torn_index(spark, sf_dir, tmp_path):
    """Append is the one op that RE-FILLS the corpus-sized tables: a
    crashed rebuild's file-less doc_stats must not be quietly appended
    into (that would turn the loud load-time failure into a readable
    index whose meta counts documents the table lost)."""
    import glob as _glob
    import os

    d = str(tmp_path / "torndoc")
    docs = index_build.documents_with_title(spark, sf_dir)
    did = F.col("doc_id").cast("long")
    engine.build_index(docs.where(did % 2 == 0), d, n_buckets=8)
    for p in _glob.glob(f"{d}/doc_stats/*.parquet"):
        os.remove(p)
    with pytest.raises(RuntimeError, match="cannot append"):
        engine.append_to_index(docs.where(did % 2 == 1), d)


def test_compact_unwedges_emptied_index(spark, sf_dir, tmp_path):
    """Tombstones acquired on an EMPTIED index (a delete appends them
    before its df delta fails on the file-less forward) must be
    clearable: compact distinguishes that state from a torn rebuild by
    meta's total_docs == 0 and compacts the file-less partitioned
    tables as empty instead of raising -- without this, appending the
    tombstoned ids back stays rejected forever."""
    d = str(tmp_path / "emptied")
    d_ref = str(tmp_path / "ref")
    docs = index_build.documents_with_title(spark, sf_dir)
    did = F.col("doc_id").cast("long")
    engine.build_index(docs.where(did % 7 == 0), d, n_buckets=8)
    engine.delete_from_index(docs.where(did % 7 == 0).select("doc_id"), d)
    engine.compact_index(spark, d)
    # a delete on the emptied index: tombstones land, then the df delta
    # fails loudly on the file-less forward -- the wedge state
    with pytest.raises(Exception, match="no data files"):
        engine.delete_from_index(
            docs.where(did % 7 == 1).limit(3).select("doc_id"), d
        )
    assert engine._path_exists(spark, f"{d}/tombstones")
    # compact must clear it (total_docs == 0 -> file-less partitioned
    # tables are the documented emptied state, not a torn rebuild)
    engine.compact_index(spark, d)
    assert not engine._path_exists(spark, f"{d}/tombstones")
    # and the previously wedged ids are appendable again
    engine.append_to_index(docs.where(did % 7 == 1), d)
    engine.build_index(docs.where(did % 7 == 1), d_ref, n_buckets=8)
    got = engine.search(spark, d, "spark query window merge").collect()
    want = engine.search(spark, d_ref, "spark query window merge").collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert len(got) > 0


def test_validate_layout_rejects_zero_row_meta(spark, tmp_path):
    """A schema-conforming but ZERO-ROW meta (foreign/corrupt -- the
    writer always emits >= 3 keys) would null-fill search's N/avg_dl
    aggregate into silent zero hits; the layout guard refuses it."""
    d = str(tmp_path / "zrm")
    spark.createDataFrame(
        [("1", "t", 3)], "doc_id string, title string, length long"
    ).write.parquet(f"{d}/doc_stats")
    spark.createDataFrame([], "key string, value string").write.parquet(f"{d}/meta")
    with pytest.raises(ValueError, match="zero rows"):
        engine._validate_layout(spark, d)


def test_read_n_buckets_propagates_corruption_over_cache(spark, sf_dir, tmp_path):
    """Only the missing-path race may serve the cached n_buckets; a
    corrupt (zero-row) meta must propagate even when a healthy cached
    value exists -- masking it would hide the corruption until search
    silently mis-scores."""
    import glob as _glob
    import os

    d = str(tmp_path / "idx")
    docs = index_build.documents_with_title(spark, sf_dir)
    engine.build_index(docs.limit(20), d, n_buckets=8)
    assert engine._read_n_buckets(spark, d) == 8  # caches the healthy value
    for p in _glob.glob(f"{d}/meta/*.parquet"):
        os.remove(p)
    spark.createDataFrame([], "key string, value string").write.mode(
        "append"
    ).parquet(f"{d}/meta")
    with pytest.raises(RuntimeError, match="no rows"):
        engine._read_n_buckets(spark, d)


def test_ddl_parser_handles_decimal_and_nesting():
    """The footer-expectation DDL parse must not tear DECIMAL(p,s) or
    nested types on their embedded commas, and an unmapped type must
    raise ValueError at definition time (the module-level eager loop),
    never KeyError inside _validate_layout on the search hot path."""
    assert engine._split_top_level("a DECIMAL(10,2), b STRING") == [
        "a DECIMAL(10,2)",
        "b STRING",
    ]
    assert engine._split_top_level("a ARRAY<STRUCT<x: INT, y: STRING>>, b INT") == [
        "a ARRAY<STRUCT<x: INT, y: STRING>>",
        "b INT",
    ]
    assert engine._arrow_type("DECIMAL(10,2)") == "decimal128(10, 2)"
    assert engine._arrow_type("double") == "double"
    with pytest.raises(ValueError, match="no arrow mapping"):
        engine._arrow_type("ARRAY<STRING>")
    # the guard the eager loop enforces: every current layout type maps
    for table in engine._LAYOUT_SCHEMAS:
        engine._expected_footer(table)


def test_n_input_files_propagates_jvm_failures():
    """Only the no-_jdf surface (Spark Connect) may fall back to
    df.inputFiles() -- which ships the full path array to the driver; a
    transient JVM-call failure must propagate instead of silently paying
    that cost on a huge table."""

    class _JdfBoom:
        def inputFiles(self):
            raise RuntimeError("py4j blip")

    class _DfBroken:
        _jdf = _JdfBoom()

        def inputFiles(self):  # pragma: no cover -- must not be reached
            return ["a"]

    with pytest.raises(RuntimeError, match="py4j blip"):
        engine._n_input_files(_DfBroken())

    class _DfConnect:  # no _jdf attribute at all
        def inputFiles(self):
            return ["a", "b"]

    assert engine._n_input_files(_DfConnect()) == 2


def test_read_table_retry_lazy_fileless_predicate(spark, tmp_path):
    """A callable allow_fileless is evaluated ONLY after a zero-file
    table is actually met -- callers whose opt-out decision itself costs
    a read (compact's meta check) must not pay it when files exist."""
    import os

    d = str(tmp_path / "t")
    spark.createDataFrame([("k", "v")], "key string, value string").write.parquet(d)

    def boom() -> bool:  # pragma: no cover -- must not be reached
        raise AssertionError("predicate ran with files present")

    df = engine._read_table_retry(
        spark, d, engine._LAYOUT_SCHEMAS["meta"], allow_fileless=boom
    )
    assert df.count() == 1

    e = str(tmp_path / "e")
    os.makedirs(e)
    open(f"{e}/_SUCCESS", "w").close()
    ok = engine._read_table_retry(
        spark, e, engine._LAYOUT_SCHEMAS["meta"], allow_fileless=lambda: True
    )
    assert ok.count() == 0
    with pytest.raises(RuntimeError, match="no data files"):
        engine._read_table_retry(
            spark, e, engine._LAYOUT_SCHEMAS["meta"], allow_fileless=lambda: False
        )


def test_compact_reads_meta_lazily(spark, sf_dir, tmp_path, monkeypatch):
    """compact_index's emptied-vs-torn disambiguation reads meta ONLY
    when a file-less partitioned table is actually met -- the common
    all-tables-present compaction must not pay an extra meta read (an
    extra Spark job per compact on a remote index)."""
    d = str(tmp_path / "lazy")
    docs = index_build.documents_with_title(spark, sf_dir)
    engine.build_index(docs.limit(30), d, n_buckets=4)
    engine.delete_from_index(docs.limit(3).select("doc_id"), d)

    calls: list[str] = []
    real = engine._read_meta_kv

    def counting(spark_, index_dir_):
        calls.append(index_dir_)
        return real(spark_, index_dir_)

    monkeypatch.setattr(engine, "_read_meta_kv", counting)
    engine.compact_index(spark, d)
    assert calls == []
    # the compaction itself stayed correct
    assert not engine._path_exists(spark, f"{d}/tombstones")
