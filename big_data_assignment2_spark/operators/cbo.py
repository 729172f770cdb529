"""Cost-based optimization surface: ANALYZE-collected catalog statistics
driving Catalyst's DP join reordering (``spark.sql.cbo.enabled`` +
``spark.sql.cbo.joinReorder.enabled``).

The reference executes joins exactly in the order the code spells them
(its per-row RDD lambdas have no optimizer at all); Spark with column
statistics picks the join ORDER by estimated cardinality. The demo query
deliberately declares the worst order -- the fact table first, the
selective dimension chain last -- and CBO rebuilds the tree to pre-join
the tiny dimensions (nation x region x customer) before the filtered
fact touches anything: measured at sf0.01, the optimized tree is
``((nation ⋈ region) ⋈ customer) ⋈ orders`` vs the declared
``((orders ⋈ customer) ⋈ nation) ⋈ region``. At 100 TB that reorder is
the difference between shuffling the fact table through three
intermediate joins and shuffling it once into an already-reduced
dimension product. ``tests/test_plans.py`` asserts the reorder happens
with stats present and does NOT happen with CBO off.

Stats live in the session catalog: the four tables are registered once
per session as EXTERNAL parquet tables under scratch (explicit
``option("path", ...)`` so the default warehouse dir is never touched)
and ``ANALYZE TABLE ... COMPUTE STATISTICS FOR ALL COLUMNS`` fills
row counts + per-column NDV/min/max -- the same operational step a real
deployment schedules after ingest (or gets for free from parquet footer
aggregation at scan time for plain counts).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..fixtures import fixture
from ..registry import Registry
from ..sources.catalog import load_table
from ._util import sql_dsum

CBO_TABLES = ("orders", "customer", "nation", "region")
PRICE_MIN = 100_000  # fact filter; stats make its selectivity visible


@fixture("cbo_stats_tables", scratch=True)
def ensure_stats_tables(spark: SparkSession, sf_dir: str, out: str) -> str:
    """Register the four join tables as external catalog tables with full
    column statistics, once per session; returns the table-name suffix."""
    import re
    import shutil

    from ._util import scratch_slug

    # table identifiers allow no dots: sanitize the slug (sf0.01 -> sf0_01)
    slug = re.sub(r"[^A-Za-z0-9_]", "_", scratch_slug(sf_dir))
    for t in CBO_TABLES:
        name = f"cbo_{t}_{slug}"
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        shutil.rmtree(f"{out}/{t}", ignore_errors=True)
        (
            load_table(spark, sf_dir, t)
            .write.mode("overwrite")
            .option("path", f"{out}/{t}")
            .saveAsTable(name)
        )
        spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS FOR ALL COLUMNS")
    return slug


def _reorder_sql(slug: str) -> str:
    """The deliberately-worst declared order: fact first, dims last."""
    return f"""
SELECT r.r_name, count(*) AS n_orders,
       {{total}} AS total
FROM cbo_orders_{slug} o
JOIN cbo_customer_{slug} c ON c.c_custkey = o.o_custkey
JOIN cbo_nation_{slug} n ON n.n_nationkey = c.c_nationkey
JOIN cbo_region_{slug} r ON r.r_regionkey = n.n_regionkey
WHERE o.o_totalprice > {PRICE_MIN}
GROUP BY r.r_name
"""


def reorder_plan(spark: SparkSession, sf_dir: str, cbo: bool) -> str:
    """Optimized-plan string of the demo query with CBO on/off (scoped
    confs, session values restored) -- the evidence surface for tests."""
    slug = ensure_stats_tables(spark, sf_dir)
    keys = ("spark.sql.cbo.enabled", "spark.sql.cbo.joinReorder.enabled")
    prev = {k: spark.conf.get(k) for k in keys}
    for k in keys:
        spark.conf.set(k, str(cbo).lower())
    try:
        df = spark.sql(_reorder_sql(slug).format(total="count(*)"))
        return df._jdf.queryExecution().optimizedPlan().toString()
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def cbo_join_reorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-region order counts + exact revenue through the CBO-reordered
    join tree. The plan is FROZEN under the scoped CBO confs (touching
    ``executedPlan`` caches the QueryExecution on the frame, the
    ``runtime_bloom_join`` pattern), then session confs are restored --
    so the returned frame executes the reordered tree even though the
    driver collects it later. Values are order-independent aggregates,
    so the oracle (a flat recompute over the raw parquet views) verifies
    the reordered tree computes exactly what the declared tree would.
    """
    slug = ensure_stats_tables(spark, sf_dir)
    keys = ("spark.sql.cbo.enabled", "spark.sql.cbo.joinReorder.enabled")
    prev = {k: spark.conf.get(k) for k in keys}
    for k in keys:
        spark.conf.set(k, "true")
    try:
        df = spark.sql(_reorder_sql(slug).format(total=sql_dsum("o.o_totalprice", 2)))
        df._jdf.queryExecution().executedPlan()  # freeze under CBO confs
        return df
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


SQL_CBO_REORDER = f"""
SELECT r.r_name, count(*) AS n_orders,
       {sql_dsum('o.o_totalprice', 2)} AS total
FROM orders o
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
JOIN region r ON r.r_regionkey = n.n_regionkey
WHERE o.o_totalprice > {PRICE_MIN}
GROUP BY r.r_name
"""


def register(reg: Registry) -> None:
    reg.add(
        "cbo_join_reorder",
        cbo_join_reorder,
        SQL_CBO_REORDER,
        "ANALYZE column stats + CBO DP join reorder (dims pre-joined, fact last)",
    )
