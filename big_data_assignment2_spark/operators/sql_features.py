"""Declarative SQL surfaces new in Spark 4: recursive CTEs and SQL-body
UDFs -- both consumed through ``spark.sql`` over the engine's own loaders,
both with first-class DuckDB twins (recursive CTE / CREATE MACRO), so the
oracle exercises the SAME language feature on both engines rather than a
flattened rewrite.

The reference has no recursion surface at all (its only iteration is the
driver-side MapReduce job chain) and its scoring formulas live as inline
Python arithmetic (``app/query.py:58-96``); here the same ideas are
catalog objects: a declared function other queries can call, and an
in-engine fixpoint the optimizer schedules.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..fixtures import fixture
from ..registry import Registry
from ..sources.catalog import load_table
from ._util import sql_dsum

RCTE_VIEW = "orders_rcte_v"


def recursive_order_chains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unbounded-depth hierarchy walk with a **recursive CTE** (Spark 4's
    ``WITH RECURSIVE``): the implicit decimal-digit tree over order keys
    (parent(k) = k div 10) is walked from the single-digit roots (1-9: key 0 would be its own
    parent under integer division -- the classic accidental-cycle bug a
    recursive query must guard, left as an explicit exclusion), and
    each reachable order is labeled with its root and depth. The chain
    length is data-dependent (~log10 of the keyspace -- it GROWS with
    scale), which is exactly what a fixed self-join stack cannot express
    and the reason recursive CTEs exist: org charts, BOM explosions,
    graph reachability.

    Execution shape: each iteration is one equi-join of the frontier
    against the orders view plus a union -- the same per-round primitives
    as the hand-rolled iterative operators here (PageRank, connected
    components), but scheduled by the engine with no driver loop. Only
    chains whose every ancestor EXISTS in the table extend (TPC-H order
    keys are sparse -- both engines agree on the reachable set by
    construction). Output: per-depth count and exact key sum.

    Oracle: the IDENTICAL ``WITH RECURSIVE`` in DuckDB.
    """
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(RCTE_VIEW)
    return spark.sql(f"""
WITH RECURSIVE walk(k, root, depth) AS (
  SELECT o_orderkey, o_orderkey, 0 FROM {RCTE_VIEW} WHERE o_orderkey BETWEEN 1 AND 9
  UNION ALL
  SELECT o.o_orderkey, w.root, w.depth + 1
  FROM {RCTE_VIEW} o JOIN walk w ON o.o_orderkey DIV 10 = w.k
)
SELECT depth, count(*) AS n_orders, CAST(sum(k) AS BIGINT) AS sum_keys
FROM walk GROUP BY depth
""")


SQL_RECURSIVE_CHAINS = """
WITH RECURSIVE walk(k, root, depth) AS (
  SELECT o_orderkey, o_orderkey, 0 FROM orders WHERE o_orderkey BETWEEN 1 AND 9
  UNION ALL
  SELECT o.o_orderkey, w.root, w.depth + 1
  FROM orders o JOIN walk w ON o.o_orderkey // 10 = w.k
)
SELECT depth, CAST(count(*) AS BIGINT) AS n_orders, CAST(sum(k) AS BIGINT) AS sum_keys
FROM walk GROUP BY depth
"""


@fixture("sql_udfs")
def _ensure_sql_udfs(spark: SparkSession) -> None:
    """Declare the SQL-body scalar functions once per session: the
    reference's inline revenue arithmetic (``disc_price``/``charged``)
    as catalog objects (``CREATE FUNCTION ... RETURNS ... RETURN expr``,
    Spark 4 SQL UDFs). The body is pure SQL, so Catalyst INLINES it into
    the calling plan -- whole-stage codegen, no Python boundary, unlike
    a ``spark.udf.register`` lambda doing the same arithmetic ~100x
    slower at scale."""
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION disc_price(p DOUBLE, d DOUBLE) "
        "RETURNS DOUBLE RETURN p * (1 - d)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION charged(p DOUBLE, d DOUBLE, t DOUBLE) "
        "RETURNS DOUBLE RETURN disc_price(p, d) * (1 + t)"
    )


SQLUDF_VIEW = "lineitem_udf_v"


def sql_udf_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing-summary aggregation through declared **SQL UDFs** (one
    COMPOSED through the other -- ``charged`` calls ``disc_price``),
    proving the functions inline into codegen instead of black-boxing
    the expressions. Decimal scales follow q1's tie-avoidance rule:
    p*(1-d) has <= 4 exact decimals (scale 4 safe), the charge product
    <= 6 (scale 6 -- scale 4 would sit ON the .xxxx5 rounding tie, where
    Spark's BigDecimal-string HALF_UP and DuckDB's true-binary rounding
    disagree). Oracle: the same bodies inlined (single statement;
    see SQL_UDF_REVENUE note)."""
    _ensure_sql_udfs(spark)
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(SQLUDF_VIEW)
    return spark.sql(f"""
SELECT l_returnflag,
       CAST(sum(CAST(disc_price(l_extendedprice, l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
       CAST(sum(CAST(charged(l_extendedprice, l_discount, l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charged,
       count(*) AS n_items
FROM {SQLUDF_VIEW}
GROUP BY l_returnflag
""")


# Single-statement oracle (the driver executes one SQL string): the
# function bodies are inlined exactly as Catalyst inlines the Spark SQL
# UDFs, so both engines evaluate identical scalar expressions. (DuckDB
# could declare the same pair as MACROs, but that needs a multi-statement
# script -- kept out of the driver contract.)
SQL_UDF_REVENUE = """
SELECT l_returnflag,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charged,
       count(*) AS n_items
FROM lineitem
GROUP BY l_returnflag
"""


LATERAL_K = 3
LATERAL_NATION_V = "nation_lat_v"
LATERAL_CUSTOMER_V = "customer_lat_v"


def lateral_topn_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-K through a **correlated LATERAL subquery** (Spark
    3.2+ SQL): for every nation, its {LATERAL_K} highest-balance customers,
    written as the declarative ``FROM nation, LATERAL (... ORDER BY ...
    LIMIT k)`` form rather than the window-rank idiom
    (``window_rank_topn`` keeps that twin) -- the two canonical spellings
    of top-N-per-group, both in the registry so a user can run whichever
    their SQL dialect habit produces.

    Execution shape (observed physical plan): Catalyst DE-CORRELATES the
    subquery -- nothing per-outer-row survives. Customers flow through a
    Partial ``WindowGroupLimit`` (each map task keeps only its own top-K
    per nation BEFORE the shuffle), one hash exchange on the correlation
    key, a Final WindowGroupLimit + row_number filter, then a broadcast
    hash join back to the tiny outer side. That map-side top-K prune is
    the whole 100 TB story: shuffle volume is K x nations per task, not
    the customer table."""
    load_table(spark, sf_dir, "nation").createOrReplaceTempView(LATERAL_NATION_V)
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(LATERAL_CUSTOMER_V)
    return spark.sql(f"""
SELECT n.n_name, l.c_custkey, l.c_acctbal
FROM {LATERAL_NATION_V} n,
LATERAL (
  SELECT c_custkey, c_acctbal FROM {LATERAL_CUSTOMER_V} c
  WHERE c.c_nationkey = n.n_nationkey
  ORDER BY c_acctbal DESC, c_custkey
  LIMIT {LATERAL_K}
) l
""")


# the IDENTICAL lateral form in DuckDB -- same language feature, not a
# window-function rewrite, so the oracle exercises LATERAL on both engines
SQL_LATERAL_TOPN = f"""
SELECT n.n_name, l.c_custkey, l.c_acctbal
FROM nation n,
LATERAL (
  SELECT c_custkey, c_acctbal FROM customer c
  WHERE c.c_nationkey = n.n_nationkey
  ORDER BY c_acctbal DESC, c_custkey
  LIMIT {LATERAL_K}
) l
"""


SESSVAR_CUSTOMER_V = "cust_sessvar_v"


def sql_session_variables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL **session variables** + **EXECUTE IMMEDIATE**: a
    scalar threshold is computed once into ``DECLARE``d variable state,
    then a parameterized query string executes against it -- the
    script-style workflow (compute config -> run parameterized query)
    that previously forced driver-side string formatting. The threshold
    is the decimal-exact average balance (double avg would be partition-
    order dependent and could flip boundary rows between engines); the
    oracle inlines it as a scalar subquery with identical arithmetic.

    Scale: the variable holds a SCALAR (driver-side, metadata-sized);
    the data path is one scan + one two-phase aggregate -- the variable
    reference compiles to a literal in the plan, so predicate pushdown
    still applies."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(SESSVAR_CUSTOMER_V)
    spark.sql("DECLARE OR REPLACE VARIABLE bal_floor DOUBLE")
    spark.sql(
        "SET VAR bal_floor = (SELECT CAST(avg(CAST(c_acctbal AS DECIMAL(18,2)))"
        f" AS DOUBLE) FROM {SESSVAR_CUSTOMER_V})"
    )
    return spark.sql(
        "EXECUTE IMMEDIATE"
        " 'SELECT c_mktsegment, count(*) AS n_above, CAST(min(c_acctbal) AS DOUBLE)"
        f" AS min_above FROM {SESSVAR_CUSTOMER_V} WHERE c_acctbal > ? GROUP BY"
        " c_mktsegment' USING bal_floor"
    )


SQL_SESSION_VARIABLES = """
WITH floor_v AS (
  SELECT CAST(avg(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal_floor
  FROM customer
)
SELECT c_mktsegment, count(*) AS n_above, CAST(min(c_acctbal) AS DOUBLE) AS min_above
FROM customer, floor_v
WHERE c_acctbal > bal_floor
GROUP BY c_mktsegment
"""


def register(reg: Registry) -> None:
    reg.add(
        "recursive_order_chains",
        recursive_order_chains,
        SQL_RECURSIVE_CHAINS,
        "WITH RECURSIVE hierarchy walk (depth-labeled digit-tree chains)",
    )
    reg.add(
        "sql_udf_revenue",
        sql_udf_revenue,
        SQL_UDF_REVENUE,
        "SQL-body UDFs (composed, codegen-inlined) vs DuckDB macros",
    )
    reg.add(
        "lateral_topn_customers",
        lateral_topn_customers,
        SQL_LATERAL_TOPN,
        "correlated LATERAL top-K per group (de-correlated by Catalyst)",
    )
    reg.add(
        "sql_session_variables",
        sql_session_variables,
        SQL_SESSION_VARIABLES,
        "DECLARE/SET VAR + EXECUTE IMMEDIATE parameterized query",
    )
