"""Iceberg-style manifest: scan planning from file METADATA, not data.

The lakehouse table formats (Iceberg manifests, Delta transaction log,
Hudi timeline) all hinge on one idea: keep a tiny table of per-file
statistics (row count, per-column min/max) and plan every scan against
THAT, so a selective predicate selects file paths from kilobytes of
metadata instead of listing/opening the data files. At 100 TB the
manifest is the difference between a planning step that reads a few MB
and one that touches a million footers.

This module reconstructs that mechanism over the range-clustered
lineitem layout (``partitioned_sink.write_lineitem_range_clustered``):

- ``ensure_manifest`` builds the manifest ONCE per (process, sf_dir) by
  reading each file's parquet FOOTER -- row count, row-group count, and
  the ``l_shipdate`` min/max folded across row groups. The footer read
  is distributed (``mapInPandas`` over the file list with pyarrow on the
  executors, metadata only -- no data pages are decoded), which is the
  shape a manifest *build* takes at scale; a real table format would
  instead append these rows transactionally at commit time.
- ``manifest_pruned_scan`` plans a shipdate-range aggregate against the
  manifest: only files whose [min, max] interval overlaps the query
  range are handed to ``spark.read.parquet`` at all. The row-level
  predicate is still applied after the read, so the result is exact
  whatever the file grain -- pruning is a performance contract, not a
  correctness one -- and the DuckDB oracle computes the same aggregate
  over the ORIGINAL table, value-hash-verifying exactly that.

Reference parity note: the reference engine (411-line Hadoop-Streaming
BM25 stack) has no lakehouse layer; this is a beyond-reference operator
motivated by the 100 TB brief. tests/test_manifest.py asserts the
manifest invariants (row counts sum to the table count; the range
clustering makes the selected-file set a strict subset).
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..fixtures import fixture
from ..operators._util import dsum, ntz_lit, sql_dsum
from ..registry import Registry
from .catalog import load_table
from .partitioned_sink import RANGE_HI, RANGE_LO, write_lineitem_range_clustered

MANIFEST_SCHEMA = (
    "file_path string, n_rows long, n_row_groups long, "
    "ship_min_us long, ship_max_us long"
)


def _iso_us(iso: str) -> int:
    """Epoch microseconds of a wall-clock ISO date (NTZ domain: no
    timezone enters -- footer stats of an NTZ column are naive too)."""
    return int((datetime.fromisoformat(iso) - datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def build_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed footer scan of the base clustered layout -> manifest
    DataFrame (see :func:`manifest_over_dir`)."""
    return manifest_over_dir(spark, write_lineitem_range_clustered(spark, sf_dir))


def manifest_over_dir(spark: SparkSession, path: str) -> DataFrame:
    """Distributed footer scan -> manifest DataFrame. One input row per
    data file; executors open only the parquet FOOTER (pyarrow reads
    metadata lazily -- ``ParquetFile(...).metadata`` decodes no data
    pages), emit (path, n_rows, n_row_groups, shipdate min/max in epoch
    micros). Defined-inside generator so cloudpickle ships it by value."""
    import os

    files = sorted(
        f"{path}/{f}" for f in os.listdir(path) if f.endswith(".parquet")
    )
    paths_df = spark.createDataFrame([(p,) for p in files], "file_path string")

    def _footers(batches):
        import pandas as pd
        import pyarrow.parquet as pq

        for pdf in batches:
            rows = []
            for p in pdf["file_path"]:
                md = pq.ParquetFile(p).metadata
                names = [md.schema.column(i).name for i in range(md.num_columns)]
                ci = names.index("l_shipdate")
                lo = hi = None
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(ci).statistics
                    if st is None or not st.has_min_max:
                        # stats absent for this row group: the file's
                        # bounds stay partial/None and planning keeps it
                        continue
                    mn = pd.Timestamp(st.min).value // 1000
                    mx = pd.Timestamp(st.max).value // 1000
                    lo = mn if lo is None else min(lo, mn)
                    hi = mx if hi is None else max(hi, mx)
                rows.append((p, md.num_rows, md.num_row_groups, lo, hi))
            yield pd.DataFrame(
                rows,
                columns=[
                    "file_path",
                    "n_rows",
                    "n_row_groups",
                    "ship_min_us",
                    "ship_max_us",
                ],
            )

    # one footer per task: the build parallelizes across files
    return paths_df.repartition(max(len(files), 1)).mapInPandas(
        _footers, schema=MANIFEST_SCHEMA
    )


@fixture("lineitem_manifest")
def ensure_manifest(spark: SparkSession, sf_dir: str) -> list[dict]:
    """Collected manifest rows, one per data file. The collect is bounded
    by the FILE count (8 here; a manifest is small by construction --
    that is its entire point), mirroring how a real scan planner holds
    manifests driver-side."""
    return [r.asDict() for r in build_manifest(spark, sf_dir).collect()]


def _plan(man: list[dict], lo_iso: str, hi_iso: str) -> list[str]:
    """Pure planning step: overlap-join the query interval against
    manifest rows. A file survives iff [ship_min, ship_max] intersects
    [lo, hi). None bounds (a footer-only file with zero row groups, or
    absent column statistics) mean UNKNOWN: the file is conservatively
    kept -- pruning is a performance contract, the row-level predicate
    downstream keeps the result exact either way."""
    lo, hi = _iso_us(lo_iso), _iso_us(hi_iso)
    return [
        m["file_path"]
        for m in man
        if (m["ship_min_us"] is None or m["ship_min_us"] < hi)
        and (m["ship_max_us"] is None or m["ship_max_us"] >= lo)
    ]


def plan_files(spark: SparkSession, sf_dir: str, lo_iso: str, hi_iso: str) -> tuple[list[str], int]:
    """Plan against the BASE table's manifest: (selected paths, total)."""
    man = ensure_manifest(spark, sf_dir)
    return _plan(man, lo_iso, hi_iso), len(man)


def _read_planned(spark: SparkSession, sf_dir: str, keep: list[str]) -> DataFrame:
    """Read exactly the planned file set. An EMPTY plan (no file interval
    overlaps the query window) is a legitimate outcome of a selective
    predicate, not an error: return a zero-row frame with the full
    lineitem schema -- ``spark.read.parquet()`` with no paths raises --
    so downstream aggregates produce the correct empty result."""
    if not keep:
        return load_table(spark, sf_dir, "lineitem").where(F.lit(False))
    return spark.read.parquet(*keep)


def manifest_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipdate-range aggregate planned against the manifest: only
    overlapping files are passed to the reader, then the exact row-level
    predicate + aggregate runs over just those. Distinct payload from
    ``range_clustered_roundtrip`` (returnflag x linestatus, quantity sum)
    so the two queries cannot mask each other."""
    keep, _ = plan_files(spark, sf_dir, RANGE_LO, RANGE_HI)
    li = _read_planned(spark, sf_dir, keep).where(
        (F.col("l_shipdate") >= ntz_lit(RANGE_LO))
        & (F.col("l_shipdate") < ntz_lit(RANGE_HI))
    )
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum(F.col("l_quantity"), 2).alias("sum_qty"),
    )


SQL_MANIFEST_PRUNED = f"""
SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
       {sql_dsum('l_quantity', 2)} AS sum_qty
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '{RANGE_LO}' AND l_shipdate < TIMESTAMP '{RANGE_HI}'
GROUP BY l_returnflag, l_linestatus
"""


# --- incremental manifest maintenance: append = new footers only ---
#
# A late-arriving slice (the base-range's first quarter, shipdates
# shifted by a FIXED day count -- pure epoch arithmetic, no calendar
# functions) lands as ONE new parquet file in its own directory; the
# manifest is extended by reading only that file's footer. The committed
# table is thereafter the manifest's FILE SET, not a directory listing --
# the defining property of Iceberg/Delta metadata (files can live
# anywhere; old readers of the base directory are untouched, which the
# tests assert).
APPEND_SHIFT_DAYS = 7400  # any disjoint shift works; ~20y keeps it obvious
APPEND_LO, APPEND_HI = RANGE_LO, "1995-04-01"


def _shift_iso(iso: str) -> str:
    from datetime import timedelta

    return (datetime.fromisoformat(iso) + timedelta(days=APPEND_SHIFT_DAYS)).strftime(
        "%Y-%m-%d"
    )


@fixture("lineitem_late", scratch=True)
def ensure_append(spark: SparkSession, sf_dir: str, out: str) -> tuple[str, list[dict]]:
    """Write (once per session) the late-arriving file + its manifest
    rows. Full lineitem schema (so multi-path reads need no schema
    merging); one output file (it IS the unit of commit here)."""
    late = (
        load_table(spark, sf_dir, "lineitem")
        .where(
            (F.col("l_shipdate") >= ntz_lit(APPEND_LO))
            & (F.col("l_shipdate") < ntz_lit(APPEND_HI))
        )
        .withColumn(
            "l_shipdate",
            F.col("l_shipdate") + F.expr(f"INTERVAL {APPEND_SHIFT_DAYS} DAYS"),
        )
    )
    late.coalesce(1).write.mode("overwrite").parquet(out)
    return out, [r.asDict() for r in manifest_over_dir(spark, out).collect()]


def manifest_incremental_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query the shifted (late-data) window through the COMBINED
    manifest (base rows + the appended file's rows): planning selects
    exactly the appended file -- the base files' 1995-2001 intervals
    cannot overlap the shifted range -- so the scan reads one file
    regardless of base table size. Row-level predicate re-applied as
    always; the oracle aggregates the slice's PROVENANCE rows in the
    original table (a fixed-day date shift changes no measure)."""
    base_man = ensure_manifest(spark, sf_dir)
    _, app_man = ensure_append(spark, sf_dir)
    lo, hi = _shift_iso(APPEND_LO), _shift_iso(APPEND_HI)
    keep = _plan(base_man + app_man, lo, hi)
    li = _read_planned(spark, sf_dir, keep).where(
        (F.col("l_shipdate") >= ntz_lit(lo)) & (F.col("l_shipdate") < ntz_lit(hi))
    )
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum(F.col("l_extendedprice"), 2).alias("sum_price"),
    )


SQL_MANIFEST_INCREMENTAL = f"""
SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
       {sql_dsum('l_extendedprice', 2)} AS sum_price
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '{APPEND_LO}' AND l_shipdate < TIMESTAMP '{APPEND_HI}'
GROUP BY l_returnflag, l_linestatus
"""


def register(reg: Registry) -> None:
    reg.add(
        "manifest_pruned_scan",
        manifest_pruned_scan,
        SQL_MANIFEST_PRUNED,
        "Iceberg-style manifest planning: footer-stats file pruning before the scan",
    )
    reg.add(
        "manifest_incremental_scan",
        manifest_incremental_scan,
        SQL_MANIFEST_INCREMENTAL,
        "incremental manifest: late-data append committed by new footers only",
    )
