"""S4: physical per-document file export -- one ``<doc_id>_<safe_title>.txt``
file per document, holding its cleaned text.

The reference does this with a driver-side loop: ``collect()`` every
document, write a local file, shell out to ``hdfs dfs -put`` per doc
(``app/prepare_data.py:36-50``). Here the writes happen **inside the
executors** via ``foreachPartition`` -- no driver collect, no per-file
subprocess, and the write parallelism is the DataFrame's partitioning. On a
cluster, point ``out_dir`` at a shared filesystem (NFS / fuse-mounted
object store), or swap ``open()`` for ``pyarrow.fs`` to target HDFS/S3
directly; the operator shape is identical.

The registered query is the full roundtrip: export to a scratch directory,
read the files back (wholetext source), and return per-file
``(doc_id, filename, content_md5, n_chars)`` -- which the DuckDB oracle
recomputes from the ``documents`` table alone, so a missing, misnamed, or
corrupted file is a value-hash mismatch, not just a count drift.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..fixtures import fixture
from ..functions.text import SQL_CLEAN_TEXT, clean_text, safe_filename
from ..operators.index_build import documents_with_title
from ..registry import Registry


def export_documents(docs: DataFrame, out_dir: str) -> None:
    """Write one text file per document (columns ``doc_id, title, text``)
    under *out_dir*, named ``<doc_id>_<safe_title>.txt`` and containing the
    cleaned text -- the reference's export, distributed."""
    rows = docs.select(
        F.concat(
            F.col("doc_id"), F.lit("_"), safe_filename("title"), F.lit(".txt")
        ).alias("filename"),
        clean_text("text").alias("content"),
    )

    def write_partition(it) -> None:
        os.makedirs(out_dir, exist_ok=True)
        for r in it:
            with open(os.path.join(out_dir, r["filename"]), "w", encoding="utf-8") as f:
                f.write(r["content"] or "")

    rows.foreachPartition(write_partition)


@fixture("doc_export", scratch=True)
def ensure_exported(spark: SparkSession, sf_dir: str, out: str) -> str:
    """Run the export (once per session) and return its directory --
    separated from the read-back so bench.py times write vs read."""
    import shutil

    shutil.rmtree(out, ignore_errors=True)  # no stale files from prior runs
    export_documents(documents_with_title(spark, sf_dir), out)


def doc_file_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Export + read-back roundtrip over the ``documents`` table.

    The read-back is **manifest-driven**: the directory listing (driver
    side, one listdir) becomes a DataFrame of filenames, and an
    Arrow-batched ``mapInPandas`` kernel opens and hashes each file in the
    executors. Spark's JVM file sources (``text``/``binaryFile``) pay
    ~70 ms of per-file stream overhead on tiny files -- 12+ s for this
    5000-file corpus at sf0.1 -- while the manifest kernel does the same
    read in ~1 s. This is also the honest at-scale shape: massive
    small-file corpora are read from an object-store manifest, not from
    a glob (and per-doc files are the *reference's* layout, kept for S4
    parity -- a 100 TB pipeline stores docs in parquet, as every other
    operator here does)."""
    import os as _os

    out_dir = ensure_exported(spark, sf_dir)
    manifest = spark.createDataFrame(
        [(n,) for n in _os.listdir(out_dir) if n.endswith(".txt")],
        "filename string",
    ).repartition(spark.sparkContext.defaultParallelism)

    def read_files(batches):
        import hashlib as _hashlib

        import pandas as _pd

        for pdf in batches:
            md5s, lens = [], []
            for fn in pdf["filename"]:
                with open(_os.path.join(out_dir, fn), "rb") as f:
                    data = f.read()
                md5s.append(_hashlib.md5(data).hexdigest())
                lens.append(len(data.decode("utf-8")))
            yield _pd.DataFrame(
                {"filename": pdf["filename"], "content_md5": md5s, "n_chars": lens}
            )

    raw = manifest.mapInPandas(
        read_files, "filename string, content_md5 string, n_chars long"
    )
    return raw.select(
        F.regexp_extract("filename", r"^(\d+)_", 1).alias("doc_id"),
        "filename",
        "content_md5",
        "n_chars",
    )


_CLEAN = SQL_CLEAN_TEXT.format(col="text")
# coalesce to '' AFTER cleaning: the Spark writer emits an empty file for
# a NULL text (`r["content"] or ""`), so the oracle must hash/measure the
# empty string too, not propagate NULL through md5/length
_CONTENT = f"coalesce({_CLEAN}, '')"

SQL_DOC_FILE_EXPORT = f"""
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
       CAST(doc_id AS VARCHAR) || '_' ||
       substr(regexp_replace('doc_' || CAST(doc_id AS VARCHAR), '[^A-Za-z0-9]+', '_', 'g'), 1, 50)
       || '.txt' AS filename,
       md5({_CONTENT}) AS content_md5,
       CAST(length({_CONTENT}) AS BIGINT) AS n_chars
FROM documents
"""


def register(reg: Registry) -> None:
    reg.add(
        "python_datasource_textdir",
        python_datasource_textdir,
        SQL_DOC_FILE_EXPORT,
        "Spark 4 Python Data Source: partition-planned text-dir connector",
    )
    reg.add(
        "doc_file_export",
        doc_file_export,
        SQL_DOC_FILE_EXPORT,
        "S4 per-document .txt export + read-back roundtrip",
    )
    reg.add(
        "python_datasource_writer_roundtrip",
        python_datasource_writer_roundtrip,
        SQL_DOC_FILE_EXPORT,
        "Python Data Source WRITER: two-phase commit sink + reader roundtrip",
    )


def python_datasource_textdir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-doc text corpus exposed through Spark 4's **Python Data
    Source API** -- the pluggable-connector surface (``DataSource`` /
    ``DataSourceReader`` / ``InputPartition``): the reader lists the
    directory once at PLANNING time (driver-side, metadata-sized), chunks
    the file list into balanced ``InputPartition``s, and each executor
    task opens only its own chunk -- the same manifest-driven shape as
    ``doc_file_export``, but packaged as a first-class source any query
    can ``spark.read.format(...)`` against. IO stays minimal in Python
    (read bytes); hashing and length run JVM-side on the returned
    column.

    Classes are defined inside this function so cloudpickle ships them
    by value (the registered source is pickled to executors; a
    module-level class would pickle by reference and break under the
    driver's runtime sys.path).

    Oracle: same full per-file reconstruction as ``doc_file_export``
    (filename, md5, length recomputed from the documents table alone).
    """
    import os as _os

    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

    out_dir = ensure_exported(spark, sf_dir)

    class _Chunk(InputPartition):
        def __init__(self, files: list) -> None:
            self.files = files

    class _TextDirReader(DataSourceReader):
        def __init__(self, options: dict) -> None:
            self.path = options["path"]
            self.n_parts = int(options.get("numPartitions", "16"))

        def partitions(self):
            files = sorted(
                n for n in _os.listdir(self.path) if n.endswith(".txt")
            )
            k = max(1, len(files) // self.n_parts + (len(files) % self.n_parts > 0))
            return [_Chunk(files[i : i + k]) for i in range(0, len(files), k)]

        def read(self, part):
            for fn in part.files:
                with open(_os.path.join(self.path, fn), "rb") as f:
                    data = f.read()
                yield (fn, data.decode("utf-8"))

    class _TextDirSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "textdir"

        def schema(self) -> str:
            return "filename STRING, content STRING"

        def reader(self, schema):
            return _TextDirReader(self.options)

    spark.dataSource.register(_TextDirSource)
    raw = (
        spark.read.format("textdir")
        .option("path", out_dir)
        .option("numPartitions", "16")
        .load()
    )
    return raw.select(
        F.regexp_extract("filename", r"^(\d+)_", 1).alias("doc_id"),
        "filename",
        F.md5(F.encode("content", "UTF-8")).alias("content_md5"),
        F.length("content").cast("long").alias("n_chars"),
    )


# --- Python Data Source WRITER: the other half of the connector API ---


def _register_textdirio(spark: SparkSession):
    """Define + register the bidirectional ``textdirio`` Python Data
    Source (reader AND writer). Classes live inside the function so
    cloudpickle ships them by value to executors (module-level classes
    pickle by reference and break under the driver's runtime sys.path).

    The WRITER demonstrates the API's **two-phase commit protocol** --
    the contract every real sink (JDBC, object store, search index)
    needs under task retries and speculative duplicates:

    - ``write(iterator)`` runs per task and stages its rows as files
      under a per-job ``_staging_<uuid>`` dir, names prefixed by
      partition id; it returns a ``WriterCommitMessage`` listing them.
      Nothing is visible to readers yet.
    - ``commit(messages)`` runs on the driver only after EVERY task
      succeeded: it renames exactly the staged files named in the
      messages into place (so a failed/duplicate task attempt's output
      is never published -- ``os.replace`` also makes same-name
      publishes from speculative twins idempotent) and drops a
      ``_MANIFEST`` listing the committed files. Overwrite mode
      publishes the new files FIRST (same-name replaces are atomic)
      and only then removes old files the new set did not replace, so
      a mid-commit failure can never destroy previously committed data.
    - ``abort(messages)`` discards the staging dir; the previously
      committed data stays untouched.
    """
    import os as _os
    import shutil as _shutil
    import uuid as _uuid

    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        DataSourceWriter,
        InputPartition,
        WriterCommitMessage,
    )

    class _Chunk(InputPartition):
        def __init__(self, files: list) -> None:
            self.files = files

    class _Reader(DataSourceReader):
        def __init__(self, options: dict) -> None:
            self.path = options["path"]
            self.n_parts = int(options.get("numPartitions", "16"))

        def partitions(self):
            files = sorted(
                n for n in _os.listdir(self.path) if n.endswith(".txt")
            )
            k = max(1, len(files) // self.n_parts + (len(files) % self.n_parts > 0))
            return [_Chunk(files[i : i + k]) for i in range(0, len(files), k)]

        def read(self, part):
            for fn in part.files:
                with open(_os.path.join(self.path, fn), "rb") as f:
                    yield (fn, f.read().decode("utf-8"))

    class _Staged(WriterCommitMessage):
        def __init__(self, names: list) -> None:
            self.names = names  # [(staged_name, final_name)]

    class _Writer(DataSourceWriter):
        def __init__(self, options: dict, overwrite: bool) -> None:
            self.path = options["path"]
            self.overwrite = overwrite
            self.staging = f"{self.path}/_staging_{_uuid.uuid4().hex[:8]}"

        def write(self, iterator):
            from pyspark import TaskContext

            pid = TaskContext.get().partitionId()
            _os.makedirs(self.staging, exist_ok=True)
            names = []
            for row in iterator:
                staged = f"{pid:05d}-{row.filename}"
                with open(
                    _os.path.join(self.staging, staged), "w", encoding="utf-8"
                ) as f:
                    f.write(row.content or "")
                names.append((staged, row.filename))
            return _Staged(names)

        def commit(self, messages):
            # publish FIRST: os.replace atomically overwrites a
            # same-named predecessor, so a mid-commit failure leaves a
            # mix of old and new files but DESTROYS nothing -- deleting
            # the old set before publishing (the tempting order) would
            # let a failed os.replace + abort() lose the previously
            # committed corpus, violating abort's "previously committed
            # data stays untouched" contract
            committed = {final for m in messages for _, final in m.names}
            for m in messages:
                for staged, final in m.names:
                    _os.replace(
                        _os.path.join(self.staging, staged),
                        _os.path.join(self.path, final),
                    )
            if self.overwrite:
                # only now drop old files the new set did not replace
                for n in _os.listdir(self.path):
                    if n.endswith(".txt") and n not in committed:
                        _os.remove(_os.path.join(self.path, n))
            with open(_os.path.join(self.path, "_MANIFEST"), "w") as f:
                f.write(
                    "\n".join(
                        sorted(final for m in messages for _, final in m.names)
                    )
                )
            _shutil.rmtree(self.staging, ignore_errors=True)

        def abort(self, messages):
            _shutil.rmtree(self.staging, ignore_errors=True)

    class _TextDirIO(DataSource):
        @classmethod
        def name(cls) -> str:
            return "textdirio"

        def schema(self) -> str:
            return "filename STRING, content STRING"

        def reader(self, schema):
            return _Reader(self.options)

        def writer(self, schema, overwrite: bool):
            return _Writer(self.options, overwrite)

    spark.dataSource.register(_TextDirIO)


@fixture("pyds_docs", scratch=True)
def ensure_pyds_written(spark: SparkSession, sf_dir: str, out: str) -> str:
    """Write the per-doc corpus through the ``textdirio`` WRITER (once
    per session; bench charges this to the build phase) and return the
    committed directory."""
    import shutil

    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    _register_textdirio(spark)
    rows = documents_with_title(spark, sf_dir).select(
        F.concat(
            F.col("doc_id"), F.lit("_"), safe_filename("title"), F.lit(".txt")
        ).alias("filename"),
        clean_text("text").alias("content"),
    )
    rows.write.format("textdirio").mode("overwrite").option("path", out).save()


def python_datasource_writer_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full WRITE-side roundtrip of the Python Data Source API: the
    corpus goes out through the ``textdirio`` writer's two-phase commit
    (stage -> commit-rename -> manifest; see :func:`_register_textdirio`)
    and comes back in through the same source's reader -- the registered
    connector is bidirectional, like any production JDBC/object-store
    plugin. The DuckDB oracle reconstructs every (filename, md5, length)
    from the ``documents`` table alone, so a lost, duplicated, or
    un-committed staged file is a value-hash mismatch.

    The reference's closest surface is the driver-side per-doc
    ``hdfs dfs -put`` loop (``app/prepare_data.py:36-50``); this is that
    export as a pluggable sink with crash-safe publication semantics.
    """
    out_dir = ensure_pyds_written(spark, sf_dir)
    _register_textdirio(spark)
    raw = (
        spark.read.format("textdirio")
        .option("path", out_dir)
        .option("numPartitions", "16")
        .load()
    )
    return raw.select(
        F.regexp_extract("filename", r"^(\d+)_", 1).alias("doc_id"),
        "filename",
        F.md5(F.encode("content", "UTF-8")).alias("content_md5"),
        F.length("content").cast("long").alias("n_chars"),
    )
