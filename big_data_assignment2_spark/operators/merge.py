"""MERGE INTO (upsert + delete) over a bucket-partitioned parquet table.

The reference engine has no mutation path at all (its only "update" is the
full index rebuild, ``app/index.sh:1-20``); lakehouse formats solve this
with a transactional MERGE. This module expresses the same operation in
plain Spark over plain parquet, the way Delta/Iceberg implement it under
the hood:

1. the base table is laid out ``partitionBy`` a key bucket
   (``o_orderkey % N_BUCKETS`` -- uniform by construction, so no bucket
   skew), the same layout discipline as the persisted BM25 term buckets;
2. the change set's affected buckets are computed with one tiny distinct
   (<= N_BUCKETS rows collected driver-side, like the ANN probe-cell
   lookup);
3. ONLY those bucket directories are read back (a partition-pruned scan --
   plan-asserted), matched rows are anti-joined out, updated + inserted
   rows unioned in;
4. the rewrite lands via **dynamic partition overwrite**
   (``partitionOverwriteMode=dynamic``), so Spark itself replaces exactly
   the partitions present in the written DataFrame and never touches the
   rest -- at 100 TB a merge of a 0.1% change set rewrites ~0.1% of the
   table instead of all of it (``tests/test_merge.py`` asserts untouched
   bucket files are byte-identical afterwards).

The change set here is a deterministic slice of ``orders`` itself
(``o_orderkey % 13``): 0 -> update (reprice + restatus), 1 -> delete,
2 -> insert under a shifted key. That keeps the DuckDB oracle a pure
SQL reconstruction of the merged table from the ORIGINAL orders, so the
whole write -> prune -> rewrite -> read-back cycle is value-hash-verified.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..fixtures import fixture
from ..registry import Registry
from ..sources.catalog import load_table
from ._util import dsum, sql_dsum

N_BUCKETS = 16
MOD = 13  # o_orderkey % MOD selects: 0 update, 1 delete, 2 insert-source
INSERT_SHIFT = 100_000_000  # re-key inserts outside the existing key range
UPDATE_BUMP = 1000.0  # repriced o_totalprice delta


def _bucket(key: Column) -> Column:
    return (key % N_BUCKETS).cast("int")


def write_base(df: DataFrame, out: str) -> None:
    """Lay out a base table bucket-partitioned by key; one writer task per
    bucket directory (repartition on the partition column first)."""
    (
        df.withColumn("bucket", _bucket(F.col("o_orderkey")))
        .repartition(F.col("bucket"))
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(out)
    )


def change_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic change set: one row per changed key with an ``op``
    tag ('U'pdate / 'D'elete / 'I'nsert) and the full new row for U/I."""
    o = load_table(spark, sf_dir, "orders")
    sel = F.col("o_orderkey") % MOD
    updates = o.where(sel == 0).select(
        F.lit("U").alias("op"),
        "o_orderkey",
        "o_custkey",
        F.lit("U").alias("o_orderstatus"),
        (F.col("o_totalprice") + UPDATE_BUMP).alias("o_totalprice"),
        "o_orderdate",
        "o_orderpriority",
    )
    deletes = o.where(sel == 1).select(
        F.lit("D").alias("op"),
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    )
    inserts = o.where(sel == 2).select(
        F.lit("I").alias("op"),
        (F.col("o_orderkey") + INSERT_SHIFT).alias("o_orderkey"),
        "o_custkey",
        F.lit("N").alias("o_orderstatus"),
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    )
    return updates.unionByName(deletes).unionByName(inserts)


def pruned_base(spark: SparkSession, base_path: str, affected: list[int]) -> DataFrame:
    """Affected bucket partitions only: ``bucket`` is the partition
    column, so the isin lands as a PartitionFilter (directory prune, not
    a row filter) -- plan-asserted in tests/test_merge.py."""
    return spark.read.parquet(base_path).where(F.col("bucket").isin(affected))


def merge_into(spark: SparkSession, base_path: str, changes: DataFrame) -> list[int]:
    """Apply the change set to the bucket-partitioned base table in place.

    Returns the affected bucket ids (for tests). Matched-key semantics:
    'U'/'I' upsert the carried row, 'D' removes the key. Only affected
    bucket partitions are read or rewritten.

    Write-materialize-then-swap discipline (same as ``engine._replace_dir``
    users): the merged buckets are fully written to a sibling ``.tmp`` dir
    FIRST (so the read of *base_path* and the write never share a path --
    no reliance on read-while-overwrite behavior), then each affected
    ``bucket=`` directory is swapped in with metadata-only renames. A
    driver crash mid-swap leaves every not-yet-swapped bucket intact at
    its OLD version and every staged bucket recoverable from ``.tmp`` --
    no data-loss window, unlike a dynamic-partition overwrite of the path
    being read. Cross-bucket atomicity would need a lakehouse commit log
    (Delta/Iceberg); per-bucket rename is the strongest contract plain
    parquet offers.
    """
    from ..engine import _fs_and_path, _replace_dir

    changes = changes.withColumn("bucket", _bucket(F.col("o_orderkey")))
    affected = sorted(
        r["bucket"] for r in changes.select("bucket").distinct().collect()
    )
    base = pruned_base(spark, base_path, affected)
    survivors = base.join(
        F.broadcast(changes.select("o_orderkey").distinct()), "o_orderkey", "left_anti"
    )
    upserts = changes.where(F.col("op") != "D").drop("op")
    out = survivors.unionByName(upserts)
    tmp = f"{base_path}.tmp"
    (
        out.repartition(F.col("bucket"))
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(tmp)
    )  # action completes here: every affected bucket fully materialized
    fs, tmp_path = _fs_and_path(spark, tmp)
    for b in affected:
        _, staged = _fs_and_path(spark, f"{tmp}/bucket={b}")
        if fs.exists(staged):
            _replace_dir(spark, f"{tmp}/bucket={b}", f"{base_path}/bucket={b}")
        else:  # every row in the bucket was deleted: drop the old dir
            _, dst = _fs_and_path(spark, f"{base_path}/bucket={b}")
            fs.delete(dst, True)
    fs.delete(tmp_path, True)
    return affected


@fixture("orders_merged", scratch=True)
def merged_orders_path(spark: SparkSession, sf_dir: str, out: str) -> str:
    """Base build + one merge, once per session (the mutation must
    apply exactly once)."""
    write_base(load_table(spark, sf_dir, "orders"), out)
    merge_into(spark, out, change_set(spark, sf_dir))


def merge_upsert_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read back the merged table; per-(bucket, status) counts + exact
    sums. Sensitive to every merge defect: a lost/duplicated row shifts a
    count, a misapplied update shifts a sum, a row landed in the wrong
    bucket directory shifts two groups."""
    path = merged_orders_path(spark, sf_dir)
    return (
        spark.read.parquet(path)
        .groupBy("bucket", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(F.col("o_totalprice"), 2).alias("total"),
        )
    )


# the merged table's semantics as a DuckDB CTE body (shared by the
# roundtrip oracle and table_diff's oracle)
_SQL_MERGED_CTE = f"""
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
  WHERE o_orderkey % {MOD} NOT IN (0, 1)
  UNION ALL
  SELECT o_orderkey, 'U' AS o_orderstatus, o_totalprice + {UPDATE_BUMP} AS o_totalprice
  FROM orders WHERE o_orderkey % {MOD} = 0
  UNION ALL
  SELECT o_orderkey + {INSERT_SHIFT} AS o_orderkey, 'N' AS o_orderstatus, o_totalprice
  FROM orders WHERE o_orderkey % {MOD} = 2
"""

SQL_MERGE_ROUNDTRIP = f"""
WITH merged AS ({_SQL_MERGED_CTE})
SELECT CAST(o_orderkey % {N_BUCKETS} AS INT) AS bucket, o_orderstatus,
       count(*) AS n_rows, {sql_dsum('o_totalprice', 2)} AS total
FROM merged GROUP BY 1, 2
"""


def table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff (the data-diff tool a migration/CDC pipeline runs
    after every sync): original ``orders`` vs the post-MERGE table,
    classified per key as added / removed / changed / unchanged, with the
    decimal-exact net price delta per class.

    Shape: ONE full-outer equi-join on the key (both snapshots shuffle
    once, co-partitioned -- at 100 TB this is a single pass; a sort-based
    compare would be a cluster-wide sort) followed by a tiny 4-group
    aggregate. Presence flags come from per-side indicator literals, not
    null value columns, so NULLs in data can't masquerade as absence.
    Against this change set the classes are exercised non-vacuously:
    keys %{MOD}==2 shifted +{INSERT_SHIFT} are 'added', %{MOD}==1
    'removed', %{MOD}==0 'changed' (status+price), the rest 'unchanged'.
    """
    key = "o_orderkey"
    old = load_table(spark, sf_dir, "orders").select(
        key, "o_orderstatus", "o_totalprice", F.lit(1).alias("in_old")
    )
    new = (
        spark.read.parquet(merged_orders_path(spark, sf_dir))
        .select(key, "o_orderstatus", "o_totalprice", F.lit(1).alias("in_new"))
    )
    j = old.alias("o").join(new.alias("n"), key, "full_outer")
    changed = (F.col("o.o_orderstatus") != F.col("n.o_orderstatus")) | (
        F.col("o.o_totalprice") != F.col("n.o_totalprice")
    )
    status = (
        F.when(F.col("o.in_old").isNull(), "added")
        .when(F.col("n.in_new").isNull(), "removed")
        .when(changed, "changed")
        .otherwise("unchanged")
    )
    delta = F.coalesce(F.col("n.o_totalprice"), F.lit(0.0)) - F.coalesce(
        F.col("o.o_totalprice"), F.lit(0.0)
    )
    return j.select(status.alias("diff_status"), delta.alias("delta")).groupBy(
        "diff_status"
    ).agg(
        F.count(F.lit(1)).alias("n_keys"),
        dsum(F.col("delta"), 2).alias("net_price_delta"),
    )


SQL_TABLE_DIFF = f"""
WITH merged AS ({_SQL_MERGED_CTE}),
j AS (
  SELECT CASE WHEN o.o_orderkey IS NULL THEN 'added'
              WHEN n.o_orderkey IS NULL THEN 'removed'
              WHEN o.o_orderstatus <> n.o_orderstatus
                   OR o.o_totalprice <> n.o_totalprice THEN 'changed'
              ELSE 'unchanged' END AS diff_status,
         COALESCE(n.o_totalprice, 0.0) - COALESCE(o.o_totalprice, 0.0) AS delta
  FROM orders o FULL OUTER JOIN merged n USING (o_orderkey)
)
SELECT diff_status, count(*) AS n_keys, {sql_dsum('delta', 2)} AS net_price_delta
FROM j GROUP BY diff_status
"""


# --- incremental materialized-view refresh (algebraic aggregate merge) ---

MV_CUTOFF = "1997-01-01"  # base aggregate covers orders before this date


def matview_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view maintenance for an ALGEBRAIC aggregate: the
    per-(status, order-month) revenue view is maintained by aggregating
    ONLY the delta (orders on/after the cutoff) and merging its partials
    into the base aggregate with a group-wise sum -- count and
    decimal-sum are mergeable, so ``merge(agg(base), agg(delta)) ==
    agg(base UNION delta)`` exactly, which is what the oracle (a flat
    full recompute) verifies.

    At 100 TB this is THE refresh pattern: the view updates at
    delta-scan cost plus a |groups|-sized merge, never a base-table
    rescan. It composes with the streaming surface (foreachBatch feeding
    deltas) and is the aggregate twin of ``merge_into``'s row-level
    copy-on-write. Non-algebraic aggregates (exact median, distinct
    counts without sketches) cannot be maintained this way -- the HLL
    sketch in ``approx_distinct_users`` is the mergeable substitute.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderstatus",
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        "o_totalprice",
        "o_orderdate",
    )
    cutoff = F.lit(MV_CUTOFF).cast("timestamp_ntz")

    def agg_view(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderstatus", "month").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("_rev"),
        )

    base = agg_view(o.where(F.col("o_orderdate") < cutoff))
    delta = agg_view(o.where(F.col("o_orderdate") >= cutoff))
    merged = (
        base.unionByName(delta)
        .groupBy("o_orderstatus", "month")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            F.sum("_rev").alias("_rev"),
        )
    )
    return merged.select(
        "o_orderstatus",
        "month",
        "n_orders",
        F.col("_rev").cast("double").alias("revenue"),
        (F.col("_rev").cast("double") / F.col("n_orders")).alias("avg_price"),
    )


SQL_MATVIEW = f"""
SELECT o_orderstatus, strftime(o_orderdate, '%Y-%m') AS month,
       count(*) AS n_orders,
       {sql_dsum('o_totalprice', 2)} AS revenue,
       {sql_dsum('o_totalprice', 2)} / count(*) AS avg_price
FROM orders
GROUP BY 1, 2
"""


def register(reg: Registry) -> None:
    reg.add(
        "merge_upsert_roundtrip",
        merge_upsert_roundtrip,
        SQL_MERGE_ROUNDTRIP,
        "MERGE (upsert+delete) via bucket-pruned dynamic partition overwrite",
    )
    reg.add(
        "matview_incremental_refresh",
        matview_incremental_refresh,
        SQL_MATVIEW,
        "materialized-view refresh by mergeable-partial aggregate merge",
    )
    reg.add(
        "table_diff",
        table_diff,
        SQL_TABLE_DIFF,
        "snapshot diff: added/removed/changed/unchanged + exact net delta",
    )
