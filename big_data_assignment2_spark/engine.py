"""Engine facade: persisted index + search, the reference's index/query
split (SURVEY.md section 7 step 2).

The reference materializes four Cassandra tables (``app/load_index.py:20-53``)
and its query engine scans them with ``isin(query_terms)`` filters that prune
via Cassandra's ``PRIMARY KEY (term, doc_id)`` partition key
(``app/query.py:48-50``, ``load_index.py:35-41``). Here the same split is
Parquet-native:

- ``inverted_index`` is written **partitioned by a term-hash bucket**
  (``term_bucket = crc32(term) % n_buckets``). A query computes its terms'
  buckets driver-side (zlib.crc32 == Spark's ``F.crc32``, both the IEEE
  polynomial) and filters on the partition column, so the scan touches only
  the matching bucket directories — directory-level pruning, the moral
  equivalent of Cassandra's partition-key lookup. Within a bucket the
  ``term IN (...)`` predicate pushes down to parquet row groups.
- At 100 TB the bucket count scales with index size (buckets stay
  ~file-sized); hot terms spread across row groups within their bucket and
  the scan stays pruned to ``len(query_terms)`` directories regardless of
  corpus size.
- ``meta`` stores ``total_docs`` / ``avg_dl`` **as strings**, faithful to the
  reference's quirk (``load_index.py:101-111``), and ``search`` parses them
  back driver-side like ``query.py:37-38`` and scores with them as SQL
  literals.
"""

from __future__ import annotations

import functools
import glob
import os
import re
import shutil
import zlib
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.text import tokenize_query
from .operators import index_build, search as search_ops
from .operators._util import sql_in

N_TERM_BUCKETS = 64

# The index layout's column types, enforced at the write boundary
# (_normalize_docs) and DECLARED at the read boundary: load_index passes
# these to the reader, which skips plan-time footer schema inference
# entirely (measured 425 -> 115 ms per load_index at sf0.1 -- per-SEARCH
# cost, since every search plans a fresh load_index; at cluster scale the
# saved footer reads are remote IO, and production tables pin schemas via
# a catalog for exactly this reason). Partition columns (term_bucket /
# doc_bucket) take their declared type here instead of path inference.
_LAYOUT_SCHEMAS = {
    "doc_stats": "doc_id STRING, title STRING, length BIGINT",
    "inverted_index": "term STRING, doc_id STRING, tf BIGINT, term_bucket INT",
    "vocab": "term STRING, doc_freq BIGINT",
    "meta": "key STRING, value STRING",
    "forward": "doc_id STRING, term STRING, doc_bucket INT",
}
# Tombstones exist only between a delete and the next compaction: declared
# and footer-checked like the layout tables, but never required.
_OPTIONAL_SCHEMAS = {"tombstones": "doc_id STRING"}


def _normalize_docs(docs: DataFrame) -> DataFrame:
    """Pin the layout's input types at the write boundary (doc_id/title
    as STRING -- the reference's Cassandra schema used text keys,
    ``app/load_index.py``): build and append both normalize, so the
    persisted tables always match :data:`_LAYOUT_SCHEMAS` regardless of
    what the caller's frame carried, and the read side may declare the
    schema instead of inferring it."""
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.col("title").cast("string").alias("title"),
        "text",
    )


def _run_concurrently(*thunks: Callable[[], None]) -> None:
    """Run independent maintenance steps in parallel threads, propagating
    the first failure. Used wherever per-table index work touches
    disjoint directories and is independently idempotent -- the single
    definition keeps the failure-propagation semantics in one place."""
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        for f in [pool.submit(t) for t in thunks]:
            f.result()


class IndexTables(NamedTuple):
    """The four persisted index tables (reference ``load_index.py:20-53``)."""

    doc_stats: DataFrame
    inverted_index: DataFrame
    vocab: DataFrame
    meta: DataFrame


def term_bucket_col(term, n_buckets: int = N_TERM_BUCKETS) -> F.Column:
    return F.pmod(F.crc32(F.col(term) if isinstance(term, str) else term), F.lit(n_buckets))


def term_bucket_py(term: str, n_buckets: int = N_TERM_BUCKETS) -> int:
    """Driver-side twin of :func:`term_bucket_col` (same CRC-32)."""
    return zlib.crc32(term.encode("utf-8")) % n_buckets


def build_index(
    docs: DataFrame, index_dir: str, n_buckets: int = N_TERM_BUCKETS
) -> None:
    """Materialize the index tables under *index_dir* (replaces the
    reference's MapReduce -> getmerge -> Cassandra-batch pipeline, S6/S7,
    with direct parquet writes).

    Besides the reference's four tables this also writes a ``forward``
    table -- the postings re-keyed by a ``doc_bucket`` partition column
    (``crc32(doc_id) % n_buckets``). It exists purely for maintenance:
    ``delete_from_index`` needs "which terms did these docs contain?" to
    subtract per-term df deltas, and the term-bucketed postings cannot
    prune by doc. The forward table answers that with a scan of only the
    deleted docs' bucket directories -- the classic docvalues/forward-index
    space-for-maintenance trade, ~doubling index footprint but turning
    delete cost from a full postings scan into a ``|delete batch| /
    n_buckets`` fraction of one."""
    # a build is a fresh index: clear any tombstones a previous index at
    # this path accumulated (delete is idempotent per id, so a stale
    # tombstone would silently swallow the first re-delete of that id)
    spark = docs.sparkSession
    docs = _normalize_docs(docs)
    fs, tomb_path = _fs_and_path(spark, f"{index_dir}/tombstones")
    fs.delete(tomb_path, True)
    inverted = index_build.inverted_from_docs(docs)

    def _write_postings() -> None:
        (
            inverted.withColumn("term_bucket", term_bucket_col("term", n_buckets))
            # one shuffle keyed by the partition column so each bucket
            # directory gets one writer task (no small-file explosion at
            # high parallelism)
            .repartition("term_bucket")
            .write.mode("overwrite")
            .partitionBy("term_bucket")
            .parquet(f"{index_dir}/inverted_index")
        )

    def _write_doc_stats() -> None:
        index_build.doc_stats_from_docs(docs).write.mode("overwrite").parquet(
            f"{index_dir}/doc_stats"
        )

    # postings and doc_stats derive straight from *docs* and write to
    # disjoint dirs -- concurrent (the build is a handful of small jobs
    # whose fixed overhead otherwise serializes)
    _run_concurrently(_write_postings, _write_doc_stats)
    # vocab/forward re-read the persisted postings rather than recomputing
    # the tokenize shuffle a second time; they're independent of each other
    # (declared schema: the build just wrote this layout -- see
    # _LAYOUT_SCHEMAS)
    persisted = spark.read.schema(_LAYOUT_SCHEMAS["inverted_index"]).parquet(
        f"{index_dir}/inverted_index"
    )

    def _write_vocab() -> None:
        index_build.vocab_from_inverted(persisted).write.mode("overwrite").parquet(
            f"{index_dir}/vocab"
        )

    def _write_forward() -> None:
        (
            persisted.select("doc_id", "term")
            .withColumn("doc_bucket", term_bucket_col("doc_id", n_buckets))
            .repartition("doc_bucket")
            .write.mode("overwrite")
            .partitionBy("doc_bucket")
            .parquet(f"{index_dir}/forward")
        )

    def _write_meta() -> None:
        # n_buckets is part of the index layout: persist it so search
        # derives the bucket function from the index itself (a build/search
        # mismatch would silently prune away every matching posting).
        _write_meta_table(
            spark,
            index_dir,
            n_buckets,
            _count_and_total_dl(
                spark.read.schema(_LAYOUT_SCHEMAS["doc_stats"]).parquet(
                    f"{index_dir}/doc_stats"
                )
            ),
        )

    # vocab/forward read the persisted postings, meta reads the persisted
    # doc_stats -- all three inputs are complete after the first phase.
    # (_write_meta_table stamps the n_buckets cache as part of the write.)
    _run_concurrently(_write_vocab, _write_forward, _write_meta)


def _fs_and_path(spark: SparkSession, path: str):
    """Hadoop FileSystem + Path for *path* (works for local and HDFS/object
    stores alike -- the maintenance ops must not assume a local disk)."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def clone_index(spark: SparkSession, src_dir: str, dst_dir: str) -> None:
    """Snapshot a complete index at *src_dir* into *dst_dir* by a
    filesystem-level copy -- the "table clone" primitive: a derived
    index (a delete/compact/append variant of the same corpus) starts
    from one physical build instead of re-running the whole
    tokenize/aggregate/write pipeline per variant. Cost is the index
    bytes moved once, no Spark jobs, no recompute; the clone is
    byte-identical to the source, so every downstream maintenance op
    and search behaves exactly as on a fresh build of the same corpus.

    Loud-guard posture matches the read path: the source must hold all
    five layout tables (a torn/mid-rebuild source must never be
    laundered into a new index); any stray ``*.tmp`` staging dirs are
    healed first so a clone can never capture a torn swap. Tombstones,
    if present, are copied too -- a clone is a faithful snapshot.
    An existing *dst_dir* is replaced."""
    norm_src = _strip_file_scheme(src_dir).rstrip("/")
    norm_dst = _strip_file_scheme(dst_dir).rstrip("/")
    # dst == src (or either nested inside the other) would DELETE the
    # source before copying -- a snapshot primitive must never be able to
    # destroy its own source on a caller typo.  The converse nesting
    # (dst a PARENT of src) is just as destructive: removing dst removes
    # src and every sibling under it.
    if (
        norm_dst == norm_src
        or norm_dst.startswith(norm_src + "/")
        or norm_src.startswith(norm_dst + "/")
    ):
        raise ValueError(
            f"clone_index: destination {dst_dir!r} equals, nests inside, or "
            f"contains source {src_dir!r}; refusing to delete the source"
        )
    _heal_torn_swaps(spark, src_dir)
    missing = [
        t for t in _SWAP_TABLES if not _path_exists(spark, f"{src_dir}/{t}")
    ]
    if missing:
        raise FileNotFoundError(
            f"clone_index: source {src_dir!r} is not a complete index "
            f"(missing tables: {missing}); refusing to clone a torn or "
            "partial source"
        )
    if _is_local_path(spark, src_dir) and _is_local_path(spark, dst_dir):
        lsrc, ldst = _strip_file_scheme(src_dir), _strip_file_scheme(dst_dir)
        if os.path.exists(ldst):
            shutil.rmtree(ldst)
        shutil.copytree(lsrc, ldst)
    else:
        fs_dst, jdst = _fs_and_path(spark, dst_dir)
        fs_dst.delete(jdst, True)
        fs_dst.mkdirs(jdst)
        fs_src, jsrc = _fs_and_path(spark, src_dir)
        futil = spark._jvm.org.apache.hadoop.fs.FileUtil
        conf = spark._jsc.hadoopConfiguration()
        for status in fs_src.listStatus(jsrc):
            futil.copy(
                fs_src,
                status.getPath(),
                fs_dst,
                spark._jvm.org.apache.hadoop.fs.Path(
                    dst_dir + "/" + status.getPath().getName()
                ),
                False,  # deleteSource
                True,  # overwrite
                conf,
            )
    # a reused dst path must not serve a previous instance's cached
    # n_buckets or layout-validation verdict -- pop the verbatim key AND
    # the normalized form (a prior access via a file:-scheme or
    # trailing-slash variant would otherwise keep its stale entry)
    for key in (dst_dir, norm_dst):
        _N_BUCKETS_CACHE.pop(key, None)
        _LAYOUT_VALIDATED.pop(key, None)


# The per-file maintenance ops (purge + staged rename, up to 64 bucket
# files per table per micro-batch) cost 2-4 py4j roundtrips each through
# the Hadoop gateway. When the index genuinely lives on the local
# filesystem, plain os-level calls do the identical metadata work without
# the gateway chatter; any explicit scheme other than file: (or a
# non-local fs.defaultFS for bare paths) keeps the Hadoop path.
# Process-lifetime cache: if a later SparkSession in the same process
# carries a DIFFERENT fs.defaultFS, call invalidate_fs_caches().
_DEFAULT_FS_IS_LOCAL: bool | None = None


_URI_SCHEME_RE = re.compile(r"^([A-Za-z][A-Za-z0-9+.-]*):")
"""RFC-3986 scheme prefix: Hadoop accepts both hdfs://nn/p and the
single-slash hdfs:/p form, so scheme detection must NOT require '://'."""


def _is_local_path(spark: SparkSession, path: str) -> bool:
    m = _URI_SCHEME_RE.match(path)
    if m:
        if m.group(1).lower() != "file":
            return False  # hdfs:/p, s3a://b/p, ... -- never local
        # file://HOST/p carries an authority; leave it to the Hadoop
        # FileSystem rather than guessing what the host means locally
        if path.startswith("file://") and not path.startswith("file:///"):
            return False
        return True
    global _DEFAULT_FS_IS_LOCAL
    if _DEFAULT_FS_IS_LOCAL is None:
        default_fs = spark._jsc.hadoopConfiguration().get("fs.defaultFS", "file:///")
        _DEFAULT_FS_IS_LOCAL = default_fs.lower().startswith("file:")
    return _DEFAULT_FS_IS_LOCAL


def _strip_file_scheme(path: str) -> str:
    """file:///p and file:/p -> /p (only called on paths _is_local_path
    accepted, so an authority-bearing file://host/p never reaches here)."""
    if path.startswith("file://"):
        return path[len("file://"):]
    if path.startswith("file:"):
        return path[len("file:"):]
    return path


def _path_exists(spark: SparkSession, path: str) -> bool:
    if _is_local_path(spark, path):
        return os.path.exists(_strip_file_scheme(path))
    fs, jpath = _fs_and_path(spark, path)
    return fs.exists(jpath)


def _replace_dir(spark: SparkSession, src: str, dst: str) -> None:
    """Swap a fully-written *src* directory into place at *dst*.

    Write-to-temp-then-swap is how every rewrite of a table we are also
    reading from happens here: Spark reads lazily, so ``mode("overwrite")``
    onto a path in the plan's lineage would delete the input mid-job.
    Materialize to ``<table>.tmp`` first (the write action completes before
    the swap), then delete + rename -- both metadata ops.

    A failed rename is re-checked before raising: a reader running
    :func:`_heal_torn_swaps` that observes this swap mid-window (dst
    deleted, tmp not yet renamed) cannot distinguish it from a crash and
    issues the SAME rename. Whichever process loses that race sees
    ``fs.rename() == false`` with the destination already in place and the
    source gone -- the swap it wanted is complete, so that outcome is
    success, not an error. Only a rename failure where the swap is NOT
    complete (src still present, or dst still missing) raises."""
    fs, dst_path = _fs_and_path(spark, dst)
    _, src_path = _fs_and_path(spark, src)
    if fs.exists(dst_path):
        fs.delete(dst_path, True)
    try:
        renamed = fs.rename(src_path, dst_path)
        cause = None
    except Exception as exc:  # noqa: BLE001 -- RawLocalFileSystem raises
        # FileNotFoundException (not false) when src is already gone
        renamed, cause = False, exc
    if not renamed:
        if fs.exists(dst_path) and not fs.exists(src_path):
            return  # a concurrent healer completed this exact swap
        # chain the original failure: an AccessControlException /
        # safe-mode / quota error must stay distinguishable from the
        # benign consumed-src race above
        raise IOError(f"failed to move {src} into place at {dst}") from cause


# every table that is rewritten via write-to-tmp + swap somewhere in the
# maintenance lifecycle (meta/vocab by append+delete, the corpus-sized
# three by compact)
_SWAP_TABLES = ("meta", "vocab", "inverted_index", "forward", "doc_stats")


def _dir_signature(fs, jpath):
    """Identity token for a directory INSTANCE: the (name, length, mtime)
    child listing, or None if the path is gone. Spark part filenames carry
    a fresh UUID per write, so two different write jobs at the same
    pathname can never produce an equal signature -- name equality alone
    would already distinguish instances; length+mtime are belt and
    braces. One listStatus roundtrip.

    Only a MISSING path maps to None (the caller treats it as a benign
    race: the dir was consumed). A persistent listing failure -- e.g. an
    AccessControlException on the tmp -- must PROPAGATE: mapping it to
    None would make the torn-swap healer silently skip forever, leaving
    every subsequent load raising on the missing destination with no
    signal pointing at the unreadable tmp."""
    try:
        return tuple(
            sorted(
                (st.getPath().getName(), st.getLen(), st.getModificationTime())
                for st in fs.listStatus(jpath)
            )
        )
    except Exception as exc:  # noqa: BLE001 -- py4j wraps the Java cause
        msg = str(exc)
        if "FileNotFoundException" in msg or "does not exist" in msg:
            return None
        raise


def _heal_torn_swaps(spark: SparkSession, index_dir: str) -> None:
    """Complete any ``<table>.tmp -> <table>`` swap a crash tore mid-way.

    ``_replace_dir`` is delete-then-rename: a crash between the two
    leaves the destination missing and the fully-written ``.tmp`` (data
    plus any idempotency marker) orphaned beside it. Finishing the
    rename restores a valid state -- the tmp was only ever written
    complete -- so every maintenance entry point and ``load_index`` run
    this first; without it, a torn swap wedges every subsequent
    redelivery on an unreadable path (meta and vocab reads would raise
    forever). A ``.tmp`` next to an EXISTING table (crash before the
    swap's delete) is left alone: the next rewrite overwrites it.
    Existence checks are os.stat locally, two py4j roundtrips per table
    via Hadoop -- negligible against any Spark job.

    The heal is RENAME-ONLY -- deliberately not :func:`_replace_dir`,
    whose delete-then-rename would let a healer that raced a live
    writer's swap DELETE the destination the writer just installed
    (observed-dst-missing -> writer renames -> healer's delete removes
    the fresh table -> healer's rename fails with the tmp consumed --
    the table would be gone until the next full rewrite). A bare rename
    cannot destroy anything: if it fails because a concurrent writer or
    healer completed the same swap first (dst now present), that IS the
    healed state; only a failure with dst still missing -- a genuinely
    unrenameable tmp -- raises. Nor can the rename install a
    partially-written tmp: under the single-writer contract a torn swap
    always leaves a COMPLETE tmp (the write action finishes before the
    swap starts), and a writer mid-tmp-write has the destination table
    still live, so the dst-missing entry check never fires then."""
    for table in _SWAP_TABLES:
        dst = f"{index_dir}/{table}"
        tmp = f"{dst}.tmp"
        if not _path_exists(spark, dst) and _path_exists(spark, tmp):
            fs, dst_path = _fs_and_path(spark, dst)
            _, tmp_path = _fs_and_path(spark, tmp)
            # snapshot the tmp INSTANCE we observed: Spark part filenames
            # embed a fresh UUID per write, so an identical child listing
            # means the same tmp, not a re-created one
            entry_sig = _dir_signature(fs, tmp_path)
            if entry_sig is None:
                continue  # consumed already -- a racing swap healed it
            # re-check IMMEDIATELY before the rename: HDFS-semantics
            # filesystems rename src INTO an existing destination
            # directory (and return true), so a healer acting on a stale
            # dst-missing observation could nest the tmp inside a live
            # table. After this check, any transition to dst-present
            # consumes this same tmp (the only creator of dst under the
            # single-writer contract is a rename OF this tmp), which
            # makes our rename fail src-gone -- the benign race below --
            # rather than nest.
            if fs.exists(dst_path):
                continue
            # ... and that the tmp is still OUR instance: a writer that
            # completed its swap and already wrote a complete NEW tmp at
            # this pathname is mid-lifecycle -- that tmp is the writer's
            # to install, never the healer's. RESIDUAL WINDOW (documented,
            # not closed): a writer completing its swap AND finishing an
            # entire new tmp write between this signature re-check and
            # our rename would still be renamed by us -- that needs a
            # multi-second write job inside a microsecond stat-to-rename
            # gap, and the nested result additionally requires dst to
            # reappear in the same gap; treated as practically
            # unreachable under the single-writer contract.
            if _dir_signature(fs, tmp_path) != entry_sig:
                continue
            try:
                renamed = fs.rename(tmp_path, dst_path)
                cause = None
            except Exception as exc:  # noqa: BLE001 -- local FS raises
                # (not false) when a racing writer consumed the tmp first
                renamed, cause = False, exc
            if not renamed and not fs.exists(dst_path):
                raise IOError(
                    f"failed to heal torn swap {tmp} -> {dst}"
                ) from cause


def _touch(spark: SparkSession, path: str) -> None:
    """Create an empty marker file (parents included) -- metadata-only."""
    if _is_local_path(spark, path):
        local = _strip_file_scheme(path)
        os.makedirs(os.path.dirname(local), exist_ok=True)
        open(local, "w").close()
        return
    fs, p = _fs_and_path(spark, path)
    parent = p.getParent()
    if parent is not None and not fs.exists(parent):
        fs.mkdirs(parent)
    fs.create(p, True).close()


def _glob_status(spark: SparkSession, pattern: str):
    """Hadoop globStatus as a Python list ([] for no match / null)."""
    fs, gp = _fs_and_path(spark, pattern)
    statuses = fs.globStatus(gp)
    return list(statuses) if statuses is not None else []


def _ingest_ledger(index_dir: str, batch_id: int) -> str:
    return f"{index_dir}/ingest_log/batch_{batch_id}"


def _purge_ingest_files(
    spark: SparkSession, table_dir: str, batch_id: int, partitioned: bool
) -> None:
    """Delete any files a previous (possibly torn) delivery of *batch_id*
    renamed into *table_dir* -- the undo half of filename-keyed
    idempotency."""
    sub = "*/" if partitioned else ""
    if _is_local_path(spark, table_dir):
        for p in glob.glob(
            f"{_strip_file_scheme(table_dir)}/{sub}ingest{batch_id}-*.parquet"
        ):
            os.remove(p)
            crc = os.path.join(
                os.path.dirname(p), f".{os.path.basename(p)}.crc"
            )
            if os.path.exists(crc):  # checksum sidecar from a Hadoop rename
                os.remove(crc)
        return
    fs, _ = _fs_and_path(spark, table_dir)
    for st in _glob_status(spark, f"{table_dir}/{sub}ingest{batch_id}-*.parquet"):
        fs.delete(st.getPath(), False)


def _rename_staged_in(
    spark: SparkSession, staging: str, table_dir: str, batch_id: int, partitioned: bool
) -> None:
    """Move a fully-staged batch write into the live table under
    deterministic ``ingest<batch>-<i>.parquet`` names (metadata renames;
    the batch id in the filename is what makes redelivery purgeable)."""
    sub = "*/" if partitioned else ""
    if _is_local_path(spark, staging) and _is_local_path(spark, table_dir):
        import shutil

        staging_local = _strip_file_scheme(staging)
        table_local = _strip_file_scheme(table_dir)
        for i, src in enumerate(sorted(glob.glob(f"{staging_local}/{sub}part-*"))):
            dst_dir = (
                os.path.join(table_local, os.path.basename(os.path.dirname(src)))
                if partitioned
                else table_local
            )
            os.makedirs(dst_dir, exist_ok=True)
            os.replace(src, os.path.join(dst_dir, f"ingest{batch_id}-{i}.parquet"))
        shutil.rmtree(staging_local, ignore_errors=True)
        return
    fs, staging_path = _fs_and_path(spark, staging)
    jpath = spark._jvm.org.apache.hadoop.fs.Path
    # ONE destination-dir listing up front instead of exists+mkdirs py4j
    # roundtrips per file: with 64 bucket dirs per table per batch the
    # per-file metadata chatter dominates the rename itself
    if partitioned:
        known_dirs = {
            st.getPath().getName()
            for st in _glob_status(spark, f"{table_dir}/*")
            if st.isDirectory()
        }
    else:
        known_dirs = None
        _, table_path = _fs_and_path(spark, table_dir)
        if not fs.exists(table_path):
            fs.mkdirs(table_path)
    for i, st in enumerate(_glob_status(spark, f"{staging}/{sub}part-*")):
        src = st.getPath()
        if partitioned:
            bucket = src.getParent().getName()
            dst_dir = f"{table_dir}/{bucket}"
            if bucket not in known_dirs:
                fs.mkdirs(jpath(dst_dir))
                known_dirs.add(bucket)
        else:
            dst_dir = table_dir
        dst = jpath(f"{dst_dir}/ingest{batch_id}-{i}.parquet")
        if not fs.rename(src, dst):
            raise IOError(f"failed to move staged ingest file {src} to {dst}")
    fs.delete(staging_path, True)


# n_buckets is fixed at build time and preserved by every maintenance op
# (append/delete/compact), so it is memoized per (process, index_dir) --
# a streaming ingestion otherwise pays a 1-row parquet-read job per
# micro-batch just to re-learn a constant. The cached value is validated
# against the meta directory's child listing (one os.scandir on the local
# fast path, one listStatus roundtrip elsewhere -- both orders of
# magnitude cheaper than the parquet-read job): an external process
# rebuilding the same index_dir with a different n_buckets writes fresh
# UUID-named part files, which changes the listing and
# invalidates the entry, so a long-lived streaming driver can never keep
# pruning with a stale layout. In-process writers re-stamp the entry
# after every meta write (n_buckets is maintenance-invariant), keeping
# the hot path stat-only.
_N_BUCKETS_CACHE: dict[str, tuple[int, object]] = {}


def invalidate_fs_caches() -> None:
    """Drop every process-lifetime filesystem-derived cache (n_buckets
    per index_dir, the fs.defaultFS locality sniff). Call when a new
    SparkSession may resolve paths differently -- e.g. a different
    ``fs.defaultFS`` -- than the session that populated them."""
    global _DEFAULT_FS_IS_LOCAL
    _N_BUCKETS_CACHE.clear()
    _LAYOUT_VALIDATED.clear()
    _DEFAULT_FS_IS_LOCAL = None


def _meta_fingerprint(spark: SparkSession, index_dir: str):
    """Opaque change-detection token for the meta directory (compared
    only by ==), or None if it doesn't exist. The fingerprint is the
    child listing (name, length, mtime) on every filesystem: Spark part
    filenames embed a fresh UUID per write, so any rewrite changes the
    listing even where timestamps are coarse -- directory mtimes alone
    are NOT trustworthy (S3A fake directories report a constant 0, and
    NFS/overlay mounts round to whole seconds, under which an external
    rebuild landing within the same tick as the cached stamp would serve
    a stale n_buckets forever). One os.scandir / one listStatus
    roundtrip -- still orders of magnitude cheaper than a parquet read."""
    path = f"{index_dir}/meta"
    if _is_local_path(spark, path):
        try:
            with os.scandir(_strip_file_scheme(path)) as it:
                return tuple(
                    sorted(
                        (e.name, st.st_size, st.st_mtime_ns)
                        for e in it
                        for st in (e.stat(),)
                    )
                )
        except (FileNotFoundError, NotADirectoryError):
            # the dir (or a child, mid-swap) is momentarily absent --
            # the caller legitimately serves its cached value through
            # the swap window. Other OSErrors (e.g. a persistent
            # permission failure) PROPAGATE: swallowing them would keep
            # serving a cached n_buckets forever with no signal.
            return None
    fs, p = _fs_and_path(spark, path)
    try:
        return _dir_signature(fs, p)
    except Exception:  # noqa: BLE001 -- pre-existing remote-branch policy:
        # any listing failure (not just missing-path) serves the cached
        # value; n_buckets is maintenance-invariant so that stays correct
        return None


def _stamp_n_buckets_cache(spark: SparkSession, index_dir: str, n_buckets: int) -> None:
    _N_BUCKETS_CACHE[index_dir] = (n_buckets, _meta_fingerprint(spark, index_dir))


def _read_meta_kv(spark: SparkSession, index_dir: str) -> dict[str, str | None]:
    """The meta table as a dict. Local fast path reads the (<= 4 row,
    single-file) table via pyarrow -- microseconds, no Spark job; a
    streaming ingestion otherwise pays a small cluster job per
    micro-batch just to fetch four constants. Non-local paths go through
    the Spark reader as before."""
    path = f"{index_dir}/meta"
    if _is_local_path(spark, path):
        import pyarrow.parquet as pq

        files = sorted(glob.glob(f"{_strip_file_scheme(path)}/*.parquet"))
        if files:
            t = pq.ParquetDataset(files).read(columns=["key", "value"])
            if t.num_rows == 0:
                # a 0-row meta is always foreign/corrupt (_write_meta_table
                # writes >= 3 rows): returning {} would silently serve the
                # DEFAULT n_buckets and mis-prune every search
                raise RuntimeError(
                    f"{path} has data files but no rows -- the meta table "
                    "is corrupt or foreign; rebuild with build_index()"
                )
            return dict(
                zip(t.column("key").to_pylist(), t.column("value").to_pylist())
            )
        # fall through to the Spark reader for a clean error on a
        # genuinely missing/empty meta table
    # declared schema (skips per-call footer inference -- on a cluster
    # this read runs once per micro-batch/search); a missing path still
    # raises PATH_NOT_FOUND, and the explicit rows check below restores
    # the loud failure inference gave on a file-less dir, which the
    # declared schema would otherwise read as silently empty
    rows = spark.read.schema(_LAYOUT_SCHEMAS["meta"]).parquet(path).collect()
    if not rows:
        raise RuntimeError(
            f"{path} exists but has no rows -- the index meta was never "
            "written or a rebuild is in progress; rebuild with build_index()"
        )
    return {r["key"]: r["value"] for r in rows}


def _read_meta_retry(spark: SparkSession, index_dir: str) -> dict[str, str | None]:
    """:func:`_read_meta_kv`, retried briefly while meta is missing (a
    swap's delete->rename window)."""
    import time as _time

    for attempt in range(3):
        try:
            return _read_meta_kv(spark, index_dir)
        except Exception as exc:  # noqa: BLE001 -- only missing-path retries
            if attempt == 2 or not _is_missing_path_error(exc):
                raise
            _time.sleep(0.05)
    raise AssertionError("unreachable")


def _read_n_buckets(spark: SparkSession, index_dir: str) -> int:
    # fingerprint BEFORE the parquet read and stamp with that pre-read
    # value: if a rebuild lands between the two, the conservative stamp
    # just forces one extra re-read next call instead of caching a lie
    fp = _meta_fingerprint(spark, index_dir)
    cached = _N_BUCKETS_CACHE.get(index_dir)
    if cached is not None and (fp is None or cached[1] == fp):
        # fp is None: the meta dir is momentarily absent (a concurrent
        # _replace_dir swap's delete->rename window, or a torn rewrite).
        # n_buckets is invariant under every maintenance op, so the
        # memoized value is still correct -- serving it keeps concurrent
        # searches alive through a swap instead of raising on a path
        # that will exist again milliseconds later.
        return cached[0]
    try:
        val = _read_meta_kv(spark, index_dir).get("n_buckets")
    except Exception as exc:
        # TOCTOU on the re-read branch: the dir existed at fingerprint
        # time but a concurrent swap deleted it before the read. The
        # cached value is still layout-correct (invariant); with no
        # cache, one short re-check distinguishes a live swap (the
        # rename completes in milliseconds) from a genuinely broken
        # index, whose error should propagate from the retry. ONLY the
        # missing-path class is that benign race -- corruption (a
        # zero-row meta) or permission failures must propagate, never
        # be masked by a cached value recorded when meta was healthy.
        if not _is_missing_path_error(exc):
            raise
        if cached is not None:
            return cached[0]
        import time as _time

        _time.sleep(0.05)
        val = _read_meta_kv(spark, index_dir).get("n_buckets")
    n = int(val) if val is not None else N_TERM_BUCKETS
    _N_BUCKETS_CACHE[index_dir] = (n, fp)
    return n


def _count_and_total_dl(live: DataFrame) -> tuple[int, int]:
    """(N, sum of doc lengths) of a doc_stats-shaped frame -- exact
    integer aggregates, one small job."""
    row = live.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum("length"), F.lit(0)).alias("dl"),
    ).collect()[0]
    return int(row["n"]), int(row["dl"])


def _write_meta_table(
    spark: SparkSession,
    index_dir: str,
    n_buckets: int,
    counts: tuple[int, int],
    batch_id: int | None = None,
) -> None:
    """THE meta writer: every meta on disk comes through here so the four
    keys and their string formatting live in one place.

    ``avg_dl`` is DERIVED from the exact integer pair (total_docs,
    total_dl) in Column space -- ``double(total_dl) / total_docs`` is one
    IEEE division of exactly-converted integers, bit-identical to the old
    decimal-sum ``davg`` over the same rows (the decimal sum of integer
    lengths IS total_dl), and identical whether the integers came from a
    full recompute or an incremental add (integer adds commute). The
    integer ``total_dl`` key is what makes exact incremental maintenance
    possible at all; ``avg_dl`` stays persisted for the reference's
    string-quirk read path (``query.py:37-38``).

    EVERY meta write lands via tmp + atomic swap -- markerless for the
    unbatched (build / full-recompute) path, carrying an
    ``_ingest_applied_<batch>`` marker for the batched one (same pattern
    as the vocab merge): a redelivery of a torn batch that already
    applied meta sees the marker and skips, so the incremental add can
    never double-count. The swap on the unbatched path is what makes the
    pyarrow fast path in :func:`_read_meta_kv` safe by construction: a
    plain in-place ``mode("overwrite")`` has a window where the directory
    holds a truncated file set, which a marker-less local read would
    interpret as a silently smaller key dict rather than an error."""
    base = spark.createDataFrame([counts], "total_docs long, total_dl long")
    meta = base.select(
        F.explode(
            F.create_map(
                F.lit("total_docs"), F.col("total_docs").cast("string"),
                F.lit("avg_dl"),
                # guard N == 0 (every document deleted): ANSI division by
                # zero would otherwise crash the delete-path meta
                # recompute; 0.0 is the sentinel for "no live docs", and
                # the N > 0 branch stays the same bit-identical division
                F.when(F.col("total_docs") == 0, F.lit("0.0")).otherwise(
                    (F.col("total_dl").cast("double") / F.col("total_docs")).cast(
                        "string"
                    )
                ),
                F.lit("total_dl"), F.col("total_dl").cast("string"),
                F.lit("n_buckets"), F.lit(str(n_buckets)),
            )
        ).alias("key", "value")
    )
    meta.write.mode("overwrite").parquet(f"{index_dir}/meta.tmp")
    if batch_id is not None:
        _touch(spark, f"{index_dir}/meta.tmp/_ingest_applied_{batch_id}")
    _replace_dir(spark, f"{index_dir}/meta.tmp", f"{index_dir}/meta")
    _stamp_n_buckets_cache(spark, index_dir, n_buckets)


def _read_meta_counts(spark: SparkSession, index_dir: str) -> tuple[int, int] | None:
    """(total_docs, total_dl) from the persisted meta, or None for an
    index written by a pre-total_dl layout OR whose meta directory is
    missing (a crash between a meta swap's delete and rename). None
    routes the caller to the live-stats recompute, which REWRITES meta --
    so a torn meta self-heals on the next append instead of wedging
    every redelivery on an unreadable path. Genuine read failures of an
    existing meta still propagate (same policy as _tombstones)."""
    if not _path_exists(spark, f"{index_dir}/meta"):
        return None
    kv = _read_meta_kv(spark, index_dir)
    if kv.get("total_dl") is None or kv.get("total_docs") is None:
        return None
    return int(kv["total_docs"]), int(kv["total_dl"])


def _write_meta_from_live_stats(
    spark: SparkSession,
    index_dir: str,
    n_buckets: int,
    live: DataFrame | None = None,
    batch_id: int | None = None,
) -> None:
    """Rewrite meta (N, avg_dl, total_dl) from the LIVE doc_stats view --
    persisted rows minus tombstones. Exact (integer count/sum over a
    row-per-doc table), and always tombstone-aware so append-after-delete
    cannot resurrect deleted docs into the BM25 idf statistics. *live*
    lets a caller supply an equivalent row set directly (the concurrent
    append path passes pre-batch files + the batch's own stats).

    *batch_id* MUST be passed when this recompute runs as part of a
    batched append whose result INCLUDES that batch's rows: the written
    meta then carries the ``_ingest_applied_<batch>`` marker, so a torn
    delivery whose meta landed via this recompute (e.g. the legacy-meta
    upgrade path, which also writes the total_dl key) cannot be
    double-counted by the now-enabled INCREMENTAL path on redelivery."""
    if live is None:
        # _read_table_retry: a file-less doc_stats is always abnormal
        # (even an all-compacted index keeps a zero-row schema-bearing
        # file -- Spark writes one for empty non-partitioned frames), so
        # reading it as EMPTY would silently persist a 0-doc meta over a
        # torn rebuild; the zero-row-but-file-present state reads fine
        # and a 0-doc meta is then genuinely correct
        live = _read_table_retry(
            spark, f"{index_dir}/doc_stats", _LAYOUT_SCHEMAS["doc_stats"]
        )
    tomb = _tombstones(spark, index_dir)
    if tomb is not None:
        live = live.join(F.broadcast(tomb), "doc_id", "left_anti")
    _write_meta_table(
        spark, index_dir, n_buckets, _count_and_total_dl(live), batch_id=batch_id
    )


def append_to_index(
    new_docs: DataFrame, index_dir: str, batch_id: int | None = None
) -> None:
    """Incremental index maintenance: add *new_docs* WITHOUT reindexing
    the existing corpus (the reference can only rebuild from scratch --
    its MapReduce+Cassandra pipeline has no append path).

    Cost model -- nothing here scans the existing postings:

    - **postings / forward** (the corpus-sized tables) are strictly
      append-only -- the new docs' rows land as extra files inside the
      existing ``term_bucket=`` / ``doc_bucket=`` directories (layout
      read from the index's own meta), so the append costs one tokenize
      pass over ONLY the new documents;
    - **doc_stats** (row per doc) appends the new rows;
    - **vocab** (df per term) merges a DELTA: per-term df of the new
      docs, full-outer-summed into the persisted vocab. Integer adds --
      exact -- and term-cardinality-sized work instead of the full
      postings scan a recompute would cost;
    - **meta** (N, avg_dl) updates INCREMENTALLY: the persisted exact
      integer pair (total_docs, total_dl) plus this batch's own
      count/length-sum -- O(batch), independent of corpus size, with
      avg_dl derived from the integers at write time (bit-identical to
      a full recompute; see :func:`_write_meta_table`). An index whose
      meta predates the total_dl key falls back to a tombstone-aware
      recompute over live doc_stats, which upgrades the meta in place.

    **Determinism requirement**: *new_docs* is evaluated MULTIPLE times
    (postings, forward, the vocab df-delta, and the meta batch-agg each
    recompute it inside their own concurrent job -- cheaper per
    micro-batch than an extra materialization job, and free of the
    stats-less-LogicalRDD plan gotcha). The frame must therefore be
    deterministic: a non-deterministic source (``sample``/``limit``
    without a seeded order, a non-deterministic UDF) can make the tables
    silently disagree, corrupting df counts and later delete-time df
    subtraction. Pass ``new_docs.localCheckpoint(eager=True)`` (or
    ``cache()`` + an eager count) for such sources; the streaming
    ``foreachBatch`` path always hands in a deterministic materialized
    batch.

    Appending a doc_id that currently sits in the tombstone table is
    rejected: its old postings still exist on disk, so un-tombstoning it
    would resurrect those alongside the new rows (double postings), while
    keeping the tombstone would silently mask the new document. Run
    :func:`compact_index` first -- compaction purges the dead postings
    and clears the tombstones, after which the id is genuinely free.

    Search needs no changes: it reads the same four tables and sees the
    merged corpus -- verified by the oracle computing BM25 over the full
    corpus in one shot (``bm25_search_incremental``).

    **Idempotent redelivery** (*batch_id* set -- the ``foreachBatch``
    streaming path, which redelivers a batch after any mid-batch
    failure): applying the same (batch_id, rows) twice leaves the index
    bit-identical to applying it once. Three mechanisms compose:

    - a **committed-batch ledger** (``ingest_log/batch_<id>`` marker,
      written last): a fully-applied batch short-circuits to a no-op;
    - **filename-keyed appends**: the corpus-sized tables land via
      stage-to-tmp + metadata renames under deterministic
      ``ingest<batch>-<i>.parquet`` names, and redelivery PURGES that
      batch's files before re-adding them -- a torn delivery's partial
      files cannot double-count;
    - **markers that travel with the swaps**: the vocab df-delta merge
      and the incremental meta add are the two read-modify-writes here,
      so each merged dir carries an ``_ingest_applied_<batch>`` marker
      file through its atomic rename (underscore files are invisible to
      parquet scans); redelivery sees the marker and skips the re-apply
      that would otherwise double the delta.

    **At-least-once redelivery is assumed, not optional**: the table
    applications run concurrently, so a crash can leave ANY subset
    applied (e.g. meta/vocab landed, postings did not) -- a state the
    old sequential ordering could not produce, consistent only because
    redelivery of the same (batch_id, rows) completes the remaining
    tables idempotently. A batch that fails mid-apply and is then
    abandoned (never redelivered) leaves derived stats counting rows
    the index lacks; ``foreachBatch`` + checkpointing provides exactly
    this redelivery. Racing readers during an apply can briefly score
    with inflated df/N -- same read-uncommitted window the sequential
    order had, just differently shaped.

    **Single-writer contract**: a failed delivery must be REDELIVERED
    before any other maintenance op (plain append, delete, compact)
    touches the index. The idempotency markers live inside the vocab
    and meta directories and ride their atomic swaps -- an interleaved
    delete or plain append rewrites those directories and destroys the
    markers while keeping the torn batch's landed rows in its counts,
    after which redelivery would re-apply the read-modify-writes
    (doubled df / doubled meta counts). ``foreachBatch`` retries the
    failed batch before anything else in the stream, so the contract
    holds by construction for a single streaming writer; concurrent
    out-of-band maintenance during a redelivery window is out of scope
    (and always has been -- the vocab marker has worked this way since
    it was introduced).
    """
    spark = new_docs.sparkSession
    new_docs = _normalize_docs(new_docs)
    _heal_torn_swaps(spark, index_dir)
    # same fail-fast load_index gets: appending normalized STRING rows
    # into a pre-contract (e.g. bigint doc_id) or foreign dir would
    # otherwise create a mixed layout that fails obscurely at read time
    _validate_layout(spark, index_dir)
    if batch_id is not None and _path_exists(spark, _ingest_ledger(index_dir, batch_id)):
        return  # ledger says fully applied: redelivery is a no-op
    _assert_untorn_for_append(spark, index_dir)
    n_buckets = _read_n_buckets(spark, index_dir)
    tomb = _tombstones(spark, index_dir)
    if tomb is not None:
        clash = (
            new_docs.select("doc_id")  # already STRING via _normalize_docs
            .join(F.broadcast(tomb), "doc_id", "left_semi")
            .limit(1)
            .collect()
        )
        if clash:
            raise ValueError(
                f"doc_id {clash[0]['doc_id']!r} is tombstoned; appending it "
                "would resurrect its dead postings -- compact_index() first"
            )
    # one tokenize DEFINITION over only the new docs; its three consumers
    # (postings, forward, df delta) each recompute it inside their own
    # concurrent job -- for a micro-batch that's cheaper than the extra
    # materialization job a localCheckpoint would cost (and avoids the
    # stats-less-LogicalRDD plan gotcha entirely)
    inverted_new = index_build.inverted_from_docs(new_docs)
    postings = inverted_new.withColumn(
        "term_bucket", term_bucket_col("term", n_buckets)
    ).repartition("term_bucket")
    forward = (
        inverted_new.select("doc_id", "term")
        .withColumn("doc_bucket", term_bucket_col("doc_id", n_buckets))
        .repartition("doc_bucket")
    )
    stats_new = index_build.doc_stats_from_docs(new_docs)

    def _apply_table(df: DataFrame, table: str, part_col: str | None) -> None:
        if batch_id is None:
            w = df.write.mode("append")
            if part_col:
                w = w.partitionBy(part_col)
            w.parquet(f"{index_dir}/{table}")
            return
        # stage the table fully, purge any torn prior delivery's files,
        # then metadata-rename the staged files in under batch-keyed names
        staging = f"{index_dir}/{table}.ingest{batch_id}.tmp"
        w = df.write.mode("overwrite")
        if part_col:
            w = w.partitionBy(part_col)
        w.parquet(staging)
        _purge_ingest_files(spark, f"{index_dir}/{table}", batch_id, bool(part_col))
        _rename_staged_in(
            spark, staging, f"{index_dir}/{table}", batch_id, bool(part_col)
        )

    def _apply_vocab() -> None:
        # vocab: delta merge (exact integer adds), written to .tmp then
        # swapped because the merge reads the vocab it replaces
        vocab_marker = f"{index_dir}/vocab/_ingest_applied_{batch_id}"
        if batch_id is not None and _path_exists(spark, vocab_marker):
            return
        delta = index_build.vocab_from_inverted(inverted_new).withColumnRenamed(
            "doc_freq", "delta_df"
        )
        # _read_table_retry, not a bare declared-schema read: a torn
        # rebuild leaves vocab file-less, and silently merging the delta
        # into an EMPTY frame would swap in a vocab missing every prior
        # term's df (an all-deleted index is NOT file-less -- Spark
        # writes a zero-row schema-bearing file for empty non-partitioned
        # frames, pinned by test_empty_write_leaves_data_file)
        merged = (
            _read_table_retry(spark, f"{index_dir}/vocab", _LAYOUT_SCHEMAS["vocab"])
            .join(delta, "term", "full_outer")
            .select(
                "term",
                (
                    F.coalesce(F.col("doc_freq"), F.lit(0))
                    + F.coalesce(F.col("delta_df"), F.lit(0))
                ).alias("doc_freq"),
            )
        )
        merged.write.mode("overwrite").parquet(f"{index_dir}/vocab.tmp")
        if batch_id is not None:
            # the marker rides the atomic swap: merged data + "batch_id
            # applied" become visible together or not at all
            _touch(spark, f"{index_dir}/vocab.tmp/_ingest_applied_{batch_id}")
        _replace_dir(spark, f"{index_dir}/vocab.tmp", f"{index_dir}/vocab")

    # meta, by preference order:
    # (1) INCREMENTAL -- old meta's exact integer (total_docs, total_dl)
    #     plus this batch's own count/length-sum, one tiny job over ONLY
    #     the batch. O(1) in corpus size (the recompute's doc_stats scan
    #     grows with the index), FS-independent, and exact: integer adds
    #     commute, and avg_dl derives from the integers at write time
    #     (see _write_meta_table). Idempotent under redelivery via the
    #     marker riding the meta swap -- checked here so a redelivered
    #     torn batch whose meta already landed skips the re-add.
    # (2) pre-total_dl meta layout, local FS: agg over a pre-batch
    #     doc_stats file-list snapshot + the batch's stats (snapshotted
    #     BEFORE any writer starts; excludes any torn prior delivery of
    #     THIS batch, whose rows stats_new re-supplies). The recompute
    #     writes total_dl, upgrading the meta for (1) next batch.
    # (3) pre-total_dl meta elsewhere: sequential recompute after the
    #     doc_stats rename, as the pre-round-8 ordering required.
    meta_done = batch_id is not None and _path_exists(
        spark, f"{index_dir}/meta/_ingest_applied_{batch_id}"
    )
    meta_counts = None if meta_done else _read_meta_counts(spark, index_dir)
    meta_live: DataFrame | None = None
    doc_stats_dir = f"{index_dir}/doc_stats"
    if meta_counts is None and not meta_done and _is_local_path(spark, doc_stats_dir):
        pre_files = [
            p
            for p in glob.glob(f"{_strip_file_scheme(doc_stats_dir)}/*.parquet")
            if not (
                batch_id is not None
                and os.path.basename(p).startswith(f"ingest{batch_id}-")
            )
        ]
        if pre_files:
            meta_live = (
                spark.read.schema(_LAYOUT_SCHEMAS["doc_stats"])
                .parquet(*pre_files)
                .unionByName(stats_new)
            )

    def _apply_meta() -> None:
        if meta_counts is not None:
            dn, ddl = _count_and_total_dl(stats_new)
            _write_meta_table(
                spark,
                index_dir,
                n_buckets,
                (meta_counts[0] + dn, meta_counts[1] + ddl),
                batch_id=batch_id,
            )
        else:
            # the recompute's result includes this batch (snapshot+stats),
            # so it must carry the batch marker too -- see
            # _write_meta_from_live_stats
            _write_meta_from_live_stats(
                spark, index_dir, n_buckets, live=meta_live, batch_id=batch_id
            )

    # The table applications touch disjoint directories and are each
    # independently idempotent (filename-keyed purge+rename for the
    # append-only tables, marker-carrying swaps for the vocab merge and
    # the batched meta write), so they run CONCURRENTLY -- per-batch wall time
    # is the slowest application, not the sum of five small Spark jobs'
    # fixed overheads. Any torn interleaving a crash leaves behind is
    # exactly what redelivery already handles table-by-table; ordering
    # never mattered for correctness, only the ledger-last edge (below)
    # and meta-after-doc_stats, the latter removed by the snapshot above.
    # A thunk failure propagates -> the batch retries.
    thunks = [
        lambda: _apply_table(postings, "inverted_index", "term_bucket"),
        lambda: _apply_table(forward, "forward", "doc_bucket"),
        lambda: _apply_table(stats_new, "doc_stats", None),
        _apply_vocab,
    ]
    meta_in_pool = meta_counts is not None or meta_live is not None
    if meta_in_pool:
        thunks.append(_apply_meta)
    _run_concurrently(*thunks)
    if not meta_in_pool and not meta_done:
        # (3): legacy meta on a non-local FS -- recompute must follow the
        # doc_stats rename, the pre-round-8 sequential ordering; the
        # post-rename live view includes this batch, so the marker rides
        _write_meta_from_live_stats(spark, index_dir, n_buckets, batch_id=batch_id)
    if batch_id is not None:
        _touch(spark, _ingest_ledger(index_dir, batch_id))


def delete_from_index(doc_ids: DataFrame, index_dir: str) -> None:
    """Tombstone deletes: the other half of incremental maintenance.

    The corpus-sized tables (postings, forward, doc_stats) are NOT
    rewritten -- deleting by rewrite would re-shuffle the whole index for
    any delete batch. Instead the doc ids append to a ``tombstones``
    table that search anti-joins (broadcast -- tombstone sets are tiny
    relative to an index worth keeping), and the derived global
    statistics are corrected immediately and INCREMENTALLY:

    - per-term df subtracts a delta computed from the ``forward`` table
      pruned to the deleted docs' ``doc_bucket=`` directories -- a
      ``|batch| / n_buckets`` fraction of one postings-sized scan, not
      the full scan a recompute would cost;
    - N / avg_dl recompute from the live doc_stats view (row-per-doc).

    Stats correctness is NOT deferred to compaction -- BM25 idf must
    reflect the live corpus or every score drifts (verified: post-delete
    search hash-equals a from-scratch index of the surviving docs).
    Already-tombstoned ids in the batch are ignored (idempotent), so the
    df delta can never be subtracted twice. :func:`compact_index` is the
    space-reclamation half."""
    spark = doc_ids.sparkSession
    _heal_torn_swaps(spark, index_dir)
    # fail fast on a foreign/legacy dir: the declared forward-table
    # schema below would otherwise die task-side with an opaque Parquet
    # conversion error (or null-fill into a WRONG df delta)
    _validate_layout(spark, index_dir)
    n_buckets = _read_n_buckets(spark, index_dir)
    ids = doc_ids.select(F.col("doc_id").cast("string").alias("doc_id")).distinct()
    prior = _tombstones(spark, index_dir)
    if prior is not None:
        ids = ids.join(F.broadcast(prior), "doc_id", "left_anti")
    # materialize BEFORE appending to the tombstone table the anti-join
    # read from (lazy read + append into own lineage otherwise)
    ids = ids.localCheckpoint(eager=True)
    if ids.isEmpty():
        return
    ids.write.mode("append").parquet(f"{index_dir}/tombstones")

    def _subtract_vocab_delta() -> None:
        delta = _df_delta_for_ids(spark, index_dir, ids, n_buckets)
        # _read_table_retry for the same reason as the append-path merge:
        # a file-less vocab is always torn/never-built, never a legit
        # empty table -- reading it as EMPTY would swap in a vocab that
        # lost every term
        merged = (
            _read_table_retry(spark, f"{index_dir}/vocab", _LAYOUT_SCHEMAS["vocab"])
            .join(delta, "term", "left")
            .select(
                "term",
                (F.col("doc_freq") - F.coalesce(F.col("delta_df"), F.lit(0))).alias(
                    "doc_freq"
                ),
            )
            .where(F.col("doc_freq") > 0)
        )
        merged.write.mode("overwrite").parquet(f"{index_dir}/vocab.tmp")
        _replace_dir(spark, f"{index_dir}/vocab.tmp", f"{index_dir}/vocab")

    # the df-delta subtraction (reads forward+vocab, swaps vocab) and the
    # meta recompute (reads doc_stats+tombstones, overwrites meta) touch
    # disjoint inputs and outputs -- both must only follow the tombstone
    # append above, so they run concurrently
    _run_concurrently(
        _subtract_vocab_delta,
        lambda: _write_meta_from_live_stats(spark, index_dir, n_buckets),
    )


def _df_delta_for_ids(
    spark: SparkSession, index_dir: str, ids: DataFrame, n_buckets: int
) -> DataFrame:
    """Per-term df of the given doc ids, from the forward table
    directory-pruned to the ids' ``doc_bucket=`` partitions (<= |batch|
    distinct buckets, collected driver-side -- the bucket list is what
    turns the delta into a fraction of one postings scan; pruning is
    plan-asserted in tests/test_engine.py)."""
    if not _path_exists(spark, f"{index_dir}/forward"):
        raise ValueError(
            f"{index_dir} has no forward table (built by an older layout?) "
            "-- rebuild with build_index() before using delete_from_index"
        )
    buckets = sorted(
        r["b"]
        for r in ids.select(
            term_bucket_col("doc_id", n_buckets).alias("b")
        ).distinct().collect()
    )
    # _read_table_retry: a torn rebuild's file-less forward would plan an
    # EMPTY delta under the declared schema, silently leaving vocab's
    # doc_freq counting the deleted docs (idf drift) -- same loud-guard
    # policy as every other maintenance read-modify-write
    return (
        _read_table_retry(spark, f"{index_dir}/forward", _LAYOUT_SCHEMAS["forward"])
        .where(F.col("doc_bucket").isin(buckets))
        .join(F.broadcast(ids), "doc_id", "left_semi")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("delta_df"))
    )


def compact_index(spark: SparkSession, index_dir: str) -> None:
    """Space reclamation for tombstone deletes: rewrite the corpus-sized
    tables minus the tombstoned docs, then clear the tombstone table.

    Result-invariant by construction -- vocab and meta were already
    corrected at delete time, so compaction only swaps "mask dead
    postings at search time" for "dead postings gone from disk"
    (verified by ``bm25_search_after_compact`` hash-equaling the
    after-delete oracle). Run it when the tombstone set or dead-posting
    fraction crosses a threshold; at 100 TB with a steady delete stream
    this bounds both the broadcast anti-join set search pays per query
    and the dead bytes every scan reads past. Also the enabler for
    re-adding a previously deleted doc_id (see :func:`append_to_index`).

    Each table is rewritten to ``<table>.tmp`` and swapped in, preserving
    the bucket-partitioned layouts (one writer task per bucket)."""
    _heal_torn_swaps(spark, index_dir)
    _validate_layout(spark, index_dir)  # same fail-fast as load_index/delete
    tomb = _tombstones(spark, index_dir)
    if tomb is None:
        return
    # An EMPTIED index (every doc deleted, then compacted) legitimately
    # has file-less partitioned tables, and compacting it again must
    # succeed -- it is the documented unwedge for tombstones acquired in
    # that state (a delete of bogus ids appends tombstones before its df
    # delta fails, and appending those ids back is rejected until a
    # compact clears them). meta's total_docs == 0 is what distinguishes
    # that state from a torn rebuild (file-less postings while meta
    # counts live docs), which must keep failing loudly. LAZY (matching
    # _assert_untorn_for_append): the meta read runs only if
    # _read_table_retry actually meets a file-less partitioned table --
    # the common all-tables-present compact never pays it. lru_cache
    # memoizes across the three concurrent table threads (a rare
    # duplicate read under race is an idempotent meta scan, harmless).
    _empty_ok = functools.lru_cache(maxsize=1)(
        lambda: _read_meta_kv(spark, index_dir).get("total_docs") == "0"
    )

    def _compact_table(table: str, part_col: str | None) -> None:
        path = f"{index_dir}/{table}"
        # _read_table_retry: compacting a torn-rebuild's file-less table
        # as EMPTY would persist the loss; raises loudly instead (the
        # pre-declared-schema behavior -- inference raised here too)
        df = _read_table_retry(
            spark,
            path,
            _LAYOUT_SCHEMAS[table],
            allow_fileless=_empty_ok if part_col is not None else False,
        ).join(F.broadcast(tomb), "doc_id", "left_anti")
        if part_col:
            df = df.repartition(part_col)
        w = df.write.mode("overwrite")
        if part_col:
            w = w.partitionBy(part_col)
        w.parquet(f"{path}.tmp")
        _replace_dir(spark, f"{path}.tmp", path)

    # the three rewrites read and swap disjoint directories and depend
    # only on the tombstone set, so they run concurrently; the tombstone
    # clear stays last (a crash mid-compaction leaves a mix of compacted
    # and uncompacted tables, which the still-present tombstones keep
    # consistent for search -- same as the sequential ordering)
    _run_concurrently(
        lambda: _compact_table("inverted_index", "term_bucket"),
        lambda: _compact_table("forward", "doc_bucket"),
        lambda: _compact_table("doc_stats", None),
    )
    fs, tomb_path = _fs_and_path(spark, f"{index_dir}/tombstones")
    fs.delete(tomb_path, True)


def _error_condition(exc: Exception) -> str:
    """Spark's structured error class for *exc* ('' if it carries none).

    Prefers ``getCondition()`` (PySpark 4) then the older
    ``getErrorClass()`` -- classifying transient read failures by the
    structured class survives Spark releases rewording the message text,
    which silent-degrades a substring match back into spurious reader
    failures (fails safe -- re-raise -- but the resilience is gone)."""
    for attr in ("getCondition", "getErrorClass"):
        fn = getattr(exc, attr, None)
        if fn is None:
            continue
        try:
            cond = fn()
        except Exception:  # noqa: BLE001 -- classification must not raise
            continue
        if cond:
            return str(cond)
    return ""


def _is_missing_path_error(exc: Exception) -> bool:
    """True iff *exc* is a missing-path failure: Spark's (structured
    error class when present, message substrings as the fallback) or a
    local filesystem one."""
    if isinstance(exc, (FileNotFoundError, NotADirectoryError)):
        return True
    cond = _error_condition(exc)
    if cond:
        return cond.startswith("PATH_NOT_FOUND")
    msg = str(exc)
    return "PATH_NOT_FOUND" in msg or "does not exist" in msg


def _tombstones(spark: SparkSession, index_dir: str) -> DataFrame | None:
    """The tombstone table if any deletes happened, else None.

    Existence is tested explicitly -- a real read failure of an existing
    tombstone table must PROPAGATE, not be swallowed into "no deletes"
    (which would silently serve deleted documents against
    delete-corrected vocab/meta).

    Two narrow transient exceptions, both confined to a racing reader:

    - the table can legitimately DISAPPEAR between the existence check
      and the read -- :func:`compact_index` clears it as its strictly-
      LAST step, after every purged table swap completed, so a
      confirmed-gone-again path means the dead postings are already off
      disk and "no tombstones" is the correct answer;
    - the FIRST delete's ``mode("append")`` is the only in-place write
      to a live table in the layout (every rewrite goes tmp+swap): a
      read inside its commit window sees a directory holding only
      ``_temporary`` (no data files). That state resolves in
      milliseconds, so it retries briefly; pre-commit the consistent
      answer is the old stats with no tombstones, post-commit the retry
      reads the committed batch.

    The schema is declared (no footer-inference job per call), so the
    footer is checked once per index through :func:`_validate_layout`'s
    memo: a foreign tombstones table would otherwise null-fill
    ``doc_id`` and serve every deleted document. A read failure that
    persists with the path still present (a genuinely corrupt table, or
    one that stays file-less) propagates."""
    import time as _time

    path = f"{index_dir}/tombstones"
    if not _path_exists(spark, path):
        return None
    _validate_layout(spark, index_dir, tuple(_OPTIONAL_SCHEMAS))
    for attempt in range(3):
        try:
            df = spark.read.schema(_OPTIONAL_SCHEMAS["tombstones"]).parquet(path)
        except Exception as exc:  # noqa: BLE001 -- see re-checks below
            if not _is_missing_path_error(exc):
                raise
            if not _path_exists(spark, path):
                # confirmed gone again: compaction's strictly-last
                # clear already purged the dead postings
                return None
            # the path REAPPEARED (compaction cleared it, then a new
            # delete re-created it): the now-present table is the
            # correct answer, so retry the read instead of raising
            if attempt < 2:
                _time.sleep(0.05)
                continue
            raise
        if _n_input_files(df):
            return df
        if attempt == 2:
            raise _no_data_files(path)
        _time.sleep(0.05)
    raise AssertionError("unreachable")


def index_stats(spark: SparkSession, index_dir: str) -> DataFrame:
    """Operability report for a persisted index: the numbers that decide
    WHEN to run :func:`compact_index` -- live vs tombstoned docs, total
    vs dead postings (rows still on disk that belong to deleted docs and
    every scan reads past), and the dead fraction. One postings count +
    one broadcast-semi-join count; no tokenize, no full rewrite.

    Returns one row: ``live_docs, n_tombstones, total_postings,
    dead_postings, dead_fraction, n_term_buckets``."""
    idx = load_index(spark, index_dir)
    tomb = _tombstones(spark, index_dir)
    n_buckets = _read_n_buckets(spark, index_dir)
    total_postings = idx.inverted_index.count()
    total_docs = idx.doc_stats.count()
    if tomb is None:
        n_tomb, dead = 0, 0
    else:
        n_tomb = tomb.select("doc_id").distinct().count()
        dead = idx.inverted_index.join(
            F.broadcast(tomb), "doc_id", "left_semi"
        ).count()
    base = spark.createDataFrame(
        [(total_docs - n_tomb, n_tomb, total_postings, dead, n_buckets)],
        "live_docs long, n_tombstones long, total_postings long, "
        "dead_postings long, n_term_buckets int",
    )
    # fraction rounded in Column space (HALF_UP, same as the SQL oracle's
    # round) -- python's banker's rounding could tie-break differently
    return base.select(
        "live_docs",
        "n_tombstones",
        "total_postings",
        "dead_postings",
        F.round(F.col("dead_postings") / F.col("total_postings"), 6).alias(
            "dead_fraction"
        ),
        "n_term_buckets",
    )


def _read_table_retry(
    spark: SparkSession,
    path: str,
    schema: str | None = None,
    allow_fileless: bool | Callable[[], bool] = False,
    partitions: list[str] | None = None,
) -> DataFrame:
    """spark.read.parquet with a short bounded retry on a MISSING path:
    a reader that plans a scan inside a live swap's delete->rename window
    (milliseconds) sees PATH_NOT_FOUND at file-listing time; one
    brief re-check turns that spurious failure into a read of the swapped
    table. Only the missing-path failure retries -- corrupt-footer or
    permission errors propagate on the first attempt; a path still
    missing after the retries (a genuinely broken index) propagates too.
    Task-time failures (files vanishing under an already-running job)
    are out of scope here -- only a versioned table layout can absorb
    those; SCALE.md documents the trade.

    *schema* (a :data:`_LAYOUT_SCHEMAS` entry) skips plan-time footer
    schema inference -- a missing path still raises PATH_NOT_FOUND (the
    file listing happens regardless), so the retry semantics are
    unchanged. A dir with NO data files, however, would plan an EMPTY
    scan under a declared schema where inference raised
    UNABLE_TO_INFER_SCHEMA -- silent zero results during an in-place
    rebuild's overwrite window (``build_index`` over an existing dir is
    the one live write that empties a table dir mid-job). The zero-file
    state is re-checked from the already-planned relation (no extra
    listing) and raises after the same brief retry, restoring the loud
    failure inference used to provide. *allow_fileless* opts a caller
    OUT of that guard where zero files is a state it handles correctly
    (compaction of an emptied index's partitioned tables); a CALLABLE
    is evaluated lazily, only after a zero-file table is actually met,
    so callers whose opt-out decision itself costs a read (compact's
    meta check) never pay it on the all-files-present path.

    *partitions* (``col=value`` subdirectory names) reads only those of
    them that exist, with ``basePath`` so the partition column stays a
    column; the existing set is re-checked on every attempt."""
    import time as _time

    for attempt in range(3):
        try:
            reader = spark.read.schema(schema) if schema else spark.read
            if partitions is None:
                df = reader.parquet(path)
            else:
                dirs = _existing_subdirs(spark, path, partitions)
                df = reader.option("basePath", path).parquet(*dirs)
        except Exception as exc:  # noqa: BLE001 -- AnalysisException
            if not _is_missing_path_error(exc):
                raise
            if attempt == 2:
                raise
            _time.sleep(0.05)
            continue
        fileless_ok = bool(allow_fileless) and not callable(allow_fileless)
        if schema is None or fileless_ok or _n_input_files(df):
            return df
        if callable(allow_fileless) and allow_fileless():
            return df
        if attempt == 2:
            raise _no_data_files(path)
        _time.sleep(0.05)
    raise AssertionError("unreachable")


def _existing_subdirs(spark: SparkSession, path: str, names: list[str]) -> list[str]:
    """The ``path/name`` dirs that exist: one ``isdir`` per name locally,
    one ``globStatus`` elsewhere. A missing *path* raises, so a reader
    retries it as a missing table."""
    if _is_local_path(spark, path):
        local = _strip_file_scheme(path)
        if not os.path.isdir(local):
            raise FileNotFoundError(f"Path does not exist: {path}")
        return [f"{path}/{n}" for n in names if os.path.isdir(f"{local}/{n}")]
    found = {
        st.getPath().getName()
        for st in (_glob_status(spark, f"{path}/{{{','.join(names)}}}") if names else [])
        if st.isDirectory()
    }
    if not found and not _path_exists(spark, path):
        raise FileNotFoundError(f"Path does not exist: {path}")
    return [f"{path}/{n}" for n in names if n in found]


def _no_data_files(path: str) -> RuntimeError:
    return RuntimeError(
        f"{path} exists but contains no data files -- a concurrent "
        "build_index() overwrite in progress (re-run after it "
        "completes), a torn rebuild, a never-built table, or an "
        "index whose every document was deleted and compacted away "
        "(append documents or rebuild). Schema inference raised "
        "UNABLE_TO_INFER_SCHEMA in all of these states; the "
        "declared layout schema would otherwise read them as "
        "silently EMPTY"
    )


def _n_input_files(df: DataFrame) -> int:
    """File count of a just-planned file scan. The listing already
    happened at plan time; asking the JVM for the array LENGTH avoids
    shipping the (possibly huge at cluster scale) path array to the
    driver on every read. Only the no-``_jdf`` surface (Spark Connect)
    falls back to ``df.inputFiles()`` -- which ships the full path array
    -- so a transient JVM-call failure propagates instead of silently
    paying that cost on a huge table."""
    try:
        return len(df._jdf.inputFiles())  # py4j array: length-only roundtrip
    except (AttributeError, NotImplementedError):  # pragma: no cover -- Connect
        return len(df.inputFiles())


_LAYOUT_VALIDATED: dict[str, set[str]] = {}
"""index_dir -> tables whose footers already validated (per-table memo)."""

# Partition columns live in directory names, never in data-file footers.
_LAYOUT_PARTITION = {"inverted_index": "term_bucket", "forward": "doc_bucket"}

_DDL_TO_ARROW = {
    "STRING": "string",
    "BIGINT": "int64",
    "INT": "int32",
    "DOUBLE": "double",
    "FLOAT": "float",
    "BOOLEAN": "bool",
    "DATE": "date32[day]",
}


def _split_top_level(ddl: str) -> list[str]:
    """Split a DDL column list on commas OUTSIDE any (), <> nesting --
    DECIMAL(p,s) and nested types embed commas a naive split would tear."""
    parts: list[str] = []
    depth, cur = 0, []
    for ch in ddl:
        if ch in "(<":
            depth += 1
        elif ch in ")>":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    parts.append("".join(cur))
    return [p.strip() for p in parts if p.strip()]


def _arrow_type(ddl_type: str) -> str:
    """Arrow type-string for a layout DDL type; raises ValueError for a
    type with no mapping (surfaced at MODULE IMPORT by the eager loop
    below _expected_footer, never on the search hot path)."""
    t = ddl_type.strip().upper()
    m = re.fullmatch(r"DECIMAL\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)", t)
    if m:
        return f"decimal128({int(m.group(1))}, {int(m.group(2))})"
    if t not in _DDL_TO_ARROW:
        raise ValueError(
            f"layout DDL type {ddl_type!r} has no arrow mapping -- extend "
            "_DDL_TO_ARROW (or _arrow_type) alongside the _LAYOUT_SCHEMAS "
            "change"
        )
    return _DDL_TO_ARROW[t]


def _expected_footer(table: str) -> dict[str, str]:
    """The pyarrow footer schema a conforming *table* data file carries,
    derived from :data:`_LAYOUT_SCHEMAS` / :data:`_OPTIONAL_SCHEMAS`
    (single source of truth -- a layout change updating one side cannot
    drift from the other) minus the partition column, which lives in the
    directory name."""
    part = _LAYOUT_PARTITION.get(table)
    want: dict[str, str] = {}
    schema = _LAYOUT_SCHEMAS.get(table) or _OPTIONAL_SCHEMAS[table]
    for field in _split_top_level(schema):
        name, ddl = field.split(None, 1)
        if name != part:
            want[name] = _arrow_type(ddl)
    return want


# Definition-time guard: every column in _LAYOUT_SCHEMAS must parse and
# map to an arrow name HERE, at import -- a future layout column using an
# unmapped type would otherwise raise inside _validate_layout on the
# search hot path.
for _layout_table in (*_LAYOUT_SCHEMAS, *_OPTIONAL_SCHEMAS):
    _expected_footer(_layout_table)
del _layout_table


def _data_file_pattern(base: str, table: str) -> str:
    """Glob matching *table*'s data files under the index dir *base*."""
    part = _LAYOUT_PARTITION.get(table)
    return f"{base}/{table}/{part}=*/*.parquet" if part else f"{base}/{table}/*.parquet"


def _has_data_files(spark: SparkSession, index_dir: str, table: str) -> bool:
    """Whether *table* holds any data file: a first-match glob locally,
    one ``globStatus`` elsewhere."""
    if _is_local_path(spark, index_dir):
        pattern = _data_file_pattern(_strip_file_scheme(index_dir), table)
        return next(glob.iglob(pattern), None) is not None
    return bool(_glob_status(spark, _data_file_pattern(index_dir, table)))


def _validate_layout(
    spark: SparkSession, index_dir: str, tables: tuple[str, ...] = tuple(_LAYOUT_SCHEMAS)
) -> None:
    """Fail fast on a FOREIGN directory: declared read schemas null-fill
    columns the files lack instead of erroring, so a dir whose tables
    were written by something else (the CLI reuses any existing on-disk
    index_dir) would otherwise search to zero hits silently where schema
    inference used to raise. EVERY table with a declared schema is
    checked -- a conforming doc_stats over a foreign vocab must not
    null-fill to zero hits either -- one pyarrow footer read per table
    on the local fast path (microseconds), memoized per process; remote
    paths skip: the engine is the only writer of cluster dirs under the
    single-writer contract, and per-load remote footer roundtrips would
    re-pay the plan cost the declared schemas exist to remove.

    Memoization is PER TABLE: a table that is momentarily absent or
    file-less (mid-swap, not yet built, a pre-forward legacy layout, or
    a rebuild's overwrite window) is skipped without memoizing, so the
    next load re-validates just that table -- an all-or-nothing memo
    would re-glob every bucket directory on every search of an index
    permanently missing one table (a searchable pre-forward legacy
    index); the read path reports the file-less state loudly itself
    (see :func:`_read_table_retry`).

    *tables* defaults to every layout table; :func:`_tombstones` checks
    the optional tombstones table through the same memo."""
    done = _LAYOUT_VALIDATED.setdefault(index_dir, set())
    if done.issuperset(tables):
        return
    if not _is_local_path(spark, index_dir):
        return
    import pyarrow.parquet as pq

    base = _strip_file_scheme(index_dir)
    for table in tables:
        if table in done:
            continue
        pattern = _data_file_pattern(base, table)
        try:
            # first match only -- any conforming data file proves the
            # layout, and a full sorted listing of every bucket file
            # would put O(n_files) work on the per-search hot path
            found = next(glob.iglob(pattern), None)
            if found is None:
                continue
            schema = pq.read_schema(found)
        except (FileNotFoundError, NotADirectoryError):
            # the swap's delete->rename window hit between glob and
            # footer read; the table read absorbs it via
            # _read_table_retry, and validation retries on the next
            # un-memoized load
            continue
        got = {
            schema.field(i).name: str(schema.field(i).type) for i in range(len(schema))
        }
        want = _expected_footer(table)
        if got != want:
            raise ValueError(
                f"{index_dir}/{table} does not match the index layout "
                f"(found {got}, expected {want}) -- {index_dir} was "
                "written by another tool or an older layout; rebuild "
                "with build_index()"
            )
        if table == "meta":
            # meta is the one table that must never be zero-row (the
            # writer emits >= 3 keys): a schema-conforming but empty
            # foreign meta would null-fill search's N/avg_dl aggregate
            # into silent zero hits. Footer metadata only -- no data read.
            try:
                n_rows = sum(
                    pq.ParquetFile(f).metadata.num_rows
                    for f in glob.iglob(pattern)
                )
            except (FileNotFoundError, NotADirectoryError):
                continue  # mid-swap; next un-memoized load re-checks
            if n_rows == 0:
                raise ValueError(
                    f"{index_dir}/meta has data files but zero rows -- "
                    "corrupt or foreign meta table; rebuild with "
                    "build_index()"
                )
        done.add(table)


def _assert_untorn_for_append(spark: SparkSession, index_dir: str) -> None:
    """Refuse to append into a torn-rebuild index (local fast path; one
    first-match glob per table). Appending is the one maintenance op that
    RE-FILLS the corpus-sized tables: a crashed rebuild's file-less
    doc_stats/postings would be quietly appended into, turning the loud
    load-time "no data files" failure into a readable index whose
    meta/vocab count documents the tables lost. The single legitimate
    file-less state -- an index whose every doc was deleted and compacted
    away -- is exactly the one where meta counts zero docs, and then only
    the bucket-partitioned tables may be file-less (empty non-partitioned
    writes leave a zero-row file; see test_empty_write_leaves_data_file).
    Remote paths skip, same single-writer rationale as _validate_layout."""
    if not _is_local_path(spark, index_dir):
        return
    missing = [t for t in _LAYOUT_SCHEMAS if not _has_data_files(spark, index_dir, t)]
    if not missing:
        return
    if all(t in _LAYOUT_PARTITION for t in missing):
        # lazily read meta only when the decision is needed
        if _read_meta_kv(spark, index_dir).get("total_docs") == "0":
            return
    raise RuntimeError(
        f"cannot append: {missing} under {index_dir} have no data files -- "
        "a torn rebuild or a never-built index; appending would produce a "
        "readable index whose stats count documents the tables lost. "
        "Rebuild with build_index()"
    )


def load_index(spark: SparkSession, index_dir: str) -> IndexTables:
    """S2: the four index tables back as DataFrames (completing any
    crash-torn table swap first -- see :func:`_heal_torn_swaps`)."""
    _heal_torn_swaps(spark, index_dir)
    _validate_layout(spark, index_dir)
    return IndexTables(
        doc_stats=_read_table_retry(
            spark, f"{index_dir}/doc_stats", _LAYOUT_SCHEMAS["doc_stats"]
        ),
        inverted_index=_read_table_retry(
            spark, f"{index_dir}/inverted_index", _LAYOUT_SCHEMAS["inverted_index"]
        ),
        vocab=_read_table_retry(spark, f"{index_dir}/vocab", _LAYOUT_SCHEMAS["vocab"]),
        meta=_read_table_retry(spark, f"{index_dir}/meta", _LAYOUT_SCHEMAS["meta"]),
    )


def search(
    spark: SparkSession,
    index_dir: str,
    query: str,
    k: int = 10,
    n_buckets: int | None = None,
    allowed: DataFrame | None = None,
) -> DataFrame:
    """BM25 top-k over the **persisted** index (reference ``query.py``
    lifecycle, SURVEY.md section 3.2).

    Building the DataFrame runs no Spark job on a local index: the corpus
    stats and bucket count come from one driver-side ``meta`` read and
    score as literals; the postings are read from only the query's
    existing ``term_bucket=`` directories (listing all of them would be a
    parallel-discovery job); every table has a declared schema. Running
    it takes one job per broadcast (vocab, doc_stats, and the tombstones
    after a delete) plus the scoring job, which adaptive execution splits
    at its one shuffle: at most 4 jobs, 5 with tombstones.

    ``n_buckets`` defaults to the value persisted in the index's meta
    table at build time (passing a different one would prune to the wrong
    directories and silently return no hits).

    ``allowed`` (optional, a ``doc_id`` frame) restricts the CANDIDATES
    to a metadata facet via a broadcast semi join applied after bucket +
    term pruning -- standard faceted-search semantics: idf/avg_dl stay
    corpus-global (the query's notion of term rarity must not change
    with the facet). A facet set is metadata-sized, hence broadcast; at
    100 TB one would persist hot facet columns into doc_stats instead
    (same plan shape, no extra shuffle)."""
    _heal_torn_swaps(spark, index_dir)
    _validate_layout(spark, index_dir)
    meta = _read_meta_retry(spark, index_dir)
    try:
        # meta strings -> numbers, as query.py:37-38 does with float()
        stats = (int(meta["total_docs"]), float(meta["avg_dl"]))
    except (KeyError, TypeError, ValueError) as exc:
        raise RuntimeError(
            f"{index_dir}/meta has no numeric total_docs/avg_dl -- corrupt "
            "or foreign meta table; rebuild with build_index()"
        ) from exc
    if n_buckets is None:
        n_buckets = int(meta.get("n_buckets") or N_TERM_BUCKETS)
    buckets = sorted({term_bucket_py(t, n_buckets) for t in tokenize_query(query)})
    postings = _read_table_retry(
        spark,
        f"{index_dir}/inverted_index",
        _LAYOUT_SCHEMAS["inverted_index"],
        # zero files in the query's buckets is an empty answer only while
        # the table has data files elsewhere
        allow_fileless=lambda: _has_data_files(spark, index_dir, "inverted_index"),
        partitions=[f"term_bucket={b}" for b in buckets],
    )
    # the partition filter is implied by the paths read; it stays in the
    # plan as the pruning contract
    postings = postings.where(sql_in("term_bucket", buckets)).drop("term_bucket")
    # tombstone mask AFTER bucket pruning: the anti join runs over only
    # the query's postings, broadcast against the (tiny) delete set.
    # vocab/meta were corrected at delete time, so masking the postings
    # is the only search-side change deletes need.
    tomb = _tombstones(spark, index_dir)
    if tomb is not None:
        postings = postings.join(F.broadcast(tomb), "doc_id", "left_anti")
    if allowed is not None:
        postings = postings.join(
            F.broadcast(allowed.select("doc_id")), "doc_id", "left_semi"
        )
    return search_ops.bm25_rank_with_stats(
        postings,
        _read_table_retry(spark, f"{index_dir}/vocab", _LAYOUT_SCHEMAS["vocab"]),
        _read_table_retry(spark, f"{index_dir}/doc_stats", _LAYOUT_SCHEMAS["doc_stats"]),
        stats,
        query,
        k,
    )
