"""CSV / JSON-lines / ORC sinks + schema'd read-back: source-format
coverage beyond parquet.

The reference ingests TSV/plain-text corpora (``app/prepare_data.py``
reads tab-separated id/title/text lines); the engine already covers that
shape with the TSV export (S3) and the text-line source (S5,
``reference_corpus.py``). This module closes the remaining format gaps:
delimited text (CSV), newline-delimited JSON, and the other mainstream
columnar format (ORC), each as a SOURCE with an explicit schema,
round-tripped so the oracle can verify value fidelity end-to-end.

Scale notes:

- The read back is ``spark.read.schema(...).csv`` with an EXPLICIT
  schema: schema inference reads the data twice (a full extra pass at
  100 TB) and infers per-run types -- never acceptable in production.
- CSV scans can't push predicates into row groups or prune columns the
  way parquet does (the whole line is parsed either way) -- which is
  exactly why the round-trip's aggregate query costs more than its
  parquet twin and why the engine treats CSV as an INGEST format, not a
  storage format. The write side repartitions to a handful of files so
  the read parallelizes without a tiny-file explosion.
- Timestamps round-trip as ISO-8601 text; the read schema declares
  ``timestamp_ntz`` so the parsed wall-clock is session-timezone-proof
  (same contract as the parquet catalog).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..fixtures import fixture
from ..operators._util import dsum, sql_dsum
from ..registry import Registry
from ..sources.catalog import load_table

CSV_SCHEMA = (
    "l_orderkey bigint, l_linenumber int, l_quantity double,"
    " l_extendedprice double, l_returnflag string, l_shipdate timestamp_ntz"
)


@fixture("lineitem_csv", scratch=True)
def write_lineitem_csv(spark: SparkSession, sf_dir: str, out: str) -> str:
    """Write a lineitem projection as headered CSV."""
    (
        load_table(spark, sf_dir, "lineitem")
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_quantity",
            "l_extendedprice",
            "l_returnflag",
            F.date_format("l_shipdate", "yyyy-MM-dd'T'HH:mm:ss").alias("l_shipdate"),
        )
        .repartition(4)
        .write.mode("overwrite")
        .option("header", "true")
        .csv(out)
    )


def csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip: CSV write, explicit-schema read, per-returnflag
    aggregate. The oracle runs the same aggregate on the ORIGINAL
    parquet table, so any parse/format infidelity (float text
    round-trip, timestamp format, header handling) breaks the value
    hash."""
    path = write_lineitem_csv(spark, sf_dir)
    li = (
        spark.read.schema(CSV_SCHEMA)
        .option("header", "true")
        .option("timestampNTZFormat", "yyyy-MM-dd'T'HH:mm:ss")
        .csv(path)
    )
    return (
        li.where(F.col("l_shipdate") < F.lit("1999-01-01 00:00:00").cast("timestamp_ntz"))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(F.col("l_quantity")).alias("sum_qty"),
            dsum(F.col("l_extendedprice"), 4).alias("sum_price"),
        )
    )


SQL_CSV_ROUNDTRIP = f"""
SELECT l_returnflag, count(*) AS n_rows,
       {sql_dsum('l_quantity')} AS sum_qty,
       {sql_dsum('l_extendedprice', 4)} AS sum_price
FROM lineitem
WHERE l_shipdate < TIMESTAMP '1999-01-01 00:00:00'
GROUP BY 1
"""


JSON_SCHEMA = (
    "event_id bigint, ts_us bigint, user_id bigint,"
    " event_type string, value double, props string"
)


@fixture("events_json", scratch=True)
def write_events_json(spark: SparkSession, sf_dir: str, out: str) -> str:
    """Write events as newline-delimited JSON.
    Timestamps serialize as EPOCH MICROSECOND integers, not ISO text:
    text timestamps render through the writer session's timezone (a
    file written under one zone mis-parses under another), while the
    epoch int64 is the same bytes everywhere -- the standard contract
    for JSONL event feeds. Doubles serialize shortest-round-trip, so
    values survive the text format bit-exactly."""
    (
        load_table(spark, sf_dir, "events")
        .select(
            "event_id",
            F.unix_micros("ts").alias("ts_us"),
            "user_id",
            "event_type",
            "value",
            "props",
        )
        .repartition(4)
        .write.mode("overwrite")
        .json(out)
    )


def json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip: JSONL write, explicit-schema read, per-type aggregate
    verified against the original parquet. Schema inference on JSON
    would re-read the data AND guess types per-run -- the explicit
    schema is the production contract (same rule as the CSV source)."""
    path = write_events_json(spark, sf_dir)
    ev = spark.read.schema(JSON_SCHEMA).json(path)
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum(F.col("value"), 6).alias("sum_value"),
        F.max("ts_us").alias("max_ts_us"),
    )


SQL_JSON_ROUNDTRIP = f"""
SELECT event_type, count(*) AS n_events,
       {sql_dsum('value', 6)} AS sum_value,
       CAST(epoch_us(max(ts)) AS BIGINT) AS max_ts_us
FROM events GROUP BY 1
"""


@fixture("lineitem_orc", scratch=True)
def write_lineitem_orc(spark: SparkSession, sf_dir: str, out: str) -> str:
    """Write lineitem as ORC. ORC keeps binary
    column encodings (no text round-trip), so this exercises the other
    mainstream columnar source with pushdown support."""
    (
        load_table(spark, sf_dir, "lineitem")
        .repartition(4)
        .write.mode("overwrite")
        .orc(out)
    )


def orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip: ORC write, filtered read (the returnflag predicate
    pushes into the ORC reader like parquet), per-status aggregate
    verified against the original table."""
    path = write_lineitem_orc(spark, sf_dir)
    li = spark.read.orc(path)
    return (
        li.where(F.col("l_returnflag") == "R")
        .groupBy("l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(F.col("l_extendedprice"), 4).alias("sum_price"),
        )
    )


SQL_ORC_ROUNDTRIP = f"""
SELECT l_linestatus, count(*) AS n_rows,
       {sql_dsum('l_extendedprice', 4)} AS sum_price
FROM lineitem WHERE l_returnflag = 'R'
GROUP BY 1
"""


CORRUPT_MOD = 97  # rows with l_orderkey % 97 == 0 get a mangled quantity


@fixture("lineitem_corrupt", scratch=True)
def write_corrupt_csv(spark: SparkSession, sf_dir: str, out: str) -> str:
    """Write a lineitem CSV with a deterministic slice of malformed rows
    (quantity = 'N/A' wherever ``l_orderkey % {CORRUPT_MOD} == 0``) --
    the fixture for the malformed-row guard."""
    (
        load_table(spark, sf_dir, "lineitem")
        .select(
            "l_orderkey",
            "l_linenumber",
            F.when(F.col("l_orderkey") % CORRUPT_MOD == 0, F.lit("N/A"))
            .otherwise(F.col("l_quantity").cast("string"))
            .alias("l_quantity"),
            "l_returnflag",
        )
        .repartition(4)
        .write.mode("overwrite")
        .option("header", "true")
        .csv(out)
    )


def csv_corrupt_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The malformed-row guard (reference P6) made real at the source
    layer: read dirty CSV in PERMISSIVE mode with an explicit
    ``_corrupt_record`` column, then report good/bad row counts per
    returnflag. Malformed rows survive the scan as rows (nothing is
    silently dropped -- the 100 TB ingest contract), they're just
    flagged; FAILFAST would kill the job on the first bad byte and
    DROPMALFORMED would silently lose data, both wrong for audit-able
    ingest. The oracle derives the same counts from the clean parquet
    table and the injection rule, so the guard's accounting is
    value-hash-verified."""
    path = write_corrupt_csv(spark, sf_dir)
    li = (
        spark.read.schema(
            "l_orderkey bigint, l_linenumber int, l_quantity double,"
            " l_returnflag string, _corrupt_record string"
        )
        .option("header", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
    )
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.col("_corrupt_record")).alias("n_bad"),
        dsum(F.coalesce(F.col("l_quantity"), F.lit(0.0))).alias("sum_good_qty"),
    )


SQL_CSV_CORRUPT = f"""
SELECT l_returnflag, count(*) AS n_rows,
       CAST(sum(CASE WHEN l_orderkey % {CORRUPT_MOD} = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_bad,
       {sql_dsum(f'CASE WHEN l_orderkey % {CORRUPT_MOD} = 0 THEN 0.0 ELSE l_quantity END')} AS sum_good_qty
FROM lineitem GROUP BY 1
"""


XML_SCHEMA = (
    "l_orderkey bigint, l_linenumber bigint, l_quantity double,"
    " l_extendedprice double, l_returnflag string, l_shipdate_s bigint"
)


@fixture("lineitem_xml", scratch=True)
def write_lineitem_xml(spark: SparkSession, sf_dir: str, out: str) -> str:
    """Write a lineitem projection as XML (Spark 4's NATIVE xml format --
    the spark-xml package folded into the distribution). Same
    text-serialization contract as the JSONL sink: the
    timestamp goes out as epoch-second integers (text timestamps render
    through the writer's session timezone; the epoch int is the same bytes
    everywhere), doubles serialize shortest-round-trip. A projection, not
    all 16 columns: XML carries per-FIELD tag overhead (~3x CSV bytes), so
    a real feed ships only the fields the consumer parses."""
    (
        load_table(spark, sf_dir, "lineitem")
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_quantity",
            "l_extendedprice",
            "l_returnflag",
            F.unix_timestamp("l_shipdate").alias("l_shipdate_s"),
        )
        .repartition(4)
        .write.mode("overwrite")
        .format("xml")
        .option("rootTag", "lineitems")
        .option("rowTag", "item")
        .save(out)
    )


def xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip: XML sink + explicit-schema XML source, per-returnflag
    aggregate verified against the ORIGINAL parquet table -- any tag
    parse/format infidelity (double text round-trip, empty-tag nulls,
    field ordering) breaks the value hash. The explicit schema skips the
    inference pass (at 100 TB, schema inference is a full extra read of
    the feed). XML is a text source with no predicate pushdown, so the
    linenumber filter runs post-parse -- correct, and exactly why parquet
    stays the canonical storage: this connector exists for the feeds that
    arrive as XML, not as a table format."""
    path = write_lineitem_xml(spark, sf_dir)
    li = spark.read.schema(XML_SCHEMA).option("rowTag", "item").format("xml").load(path)
    return (
        li.where(F.col("l_linenumber") <= 4)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(F.col("l_quantity")).alias("sum_qty"),
            dsum(F.col("l_extendedprice"), 4).alias("sum_price"),
            F.sum("l_shipdate_s").alias("sum_ship_s"),
        )
    )


SQL_XML_ROUNDTRIP = f"""
SELECT l_returnflag, count(*) AS n_rows,
       {sql_dsum('l_quantity')} AS sum_qty,
       {sql_dsum('l_extendedprice', 4)} AS sum_price,
       CAST(SUM(CAST(floor(epoch(l_shipdate)) AS BIGINT)) AS BIGINT) AS sum_ship_s
FROM lineitem WHERE l_linenumber <= 4
GROUP BY 1
"""


@fixture("lineitem_nested", scratch=True)
def write_lineitem_nested(spark: SparkSession, sf_dir: str, out: str) -> str:
    """Write lineitem as a NESTED parquet table: one row per order with
    an ``items array<struct<...>>`` column -- the event-log / document
    shape (order header + line array) that columnar formats store as
    repeated groups. The ``collect_list(struct(...))`` agg runs under a
    scoped object-hash fallback threshold (Spark's 128-entries-per-
    partition default demotes every large collect_* to sort-based
    aggregation -- the triangle_count lesson); sort_array on the
    linenumber-first struct makes the array order deterministic."""
    _FBT = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    before = spark.conf.get(_FBT, None)
    try:
        spark.conf.set(_FBT, "1000000")
        (
            load_table(spark, sf_dir, "lineitem")
            .groupBy("l_orderkey")
            .agg(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            "l_linenumber",
                            "l_partkey",
                            "l_returnflag",
                            "l_quantity",
                            "l_extendedprice",
                        )
                    )
                ).alias("items")
            )
            .write.mode("overwrite")
            .parquet(out)
        )
    finally:
        if before is None:
            spark.conf.unset(_FBT)
        else:
            spark.conf.set(_FBT, before)


def nested_lineitems_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip through the nested layout: per-returnflag count and
    exact revenue computed by exploding the ``items`` array back out,
    plus per-order array functions (basket size filter) on the way --
    the query pattern every nested event log serves. Nested SCHEMA
    PRUNING matters at 100 TB: the explode touches only the three
    subfields the query needs, and the scan's ReadSchema must not
    materialize the full struct (plan-asserted in tests/test_plans.py).
    Oracle: the same aggregate over the FLAT table with the basket-size
    predicate spelled as a per-order count."""
    path = write_lineitem_nested(spark, sf_dir)
    # Explicit NARROWED read schema: Catalyst's automatic nested pruning
    # (GeneratorNestedColumnAliasing) only fires when a generator's
    # output has exactly ONE subfield extracted -- measured here: a
    # 3-subfield explode reads the full 5-field struct, and higher-order
    # rewrites (transform to a narrower struct) block pruning entirely
    # because lambda variables hide the access. Pinning the read schema
    # is the reliable way to keep a multi-subfield nested scan narrow,
    # and the plan test asserts the dropped subfields stay out of
    # ReadSchema.
    narrow = (
        "l_orderkey bigint, items array<struct<"
        "l_returnflag:string, l_quantity:double, l_extendedprice:double>>"
    )
    nested = spark.read.schema(narrow).parquet(path).where(F.size("items") >= 2)
    ex = nested.select(F.explode("items").alias("it")).select(
        F.col("it.l_returnflag").alias("l_returnflag"),
        F.col("it.l_quantity").alias("l_quantity"),
        F.col("it.l_extendedprice").alias("l_extendedprice"),
    )
    return ex.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_items"),
        dsum(F.col("l_extendedprice"), 2).alias("revenue"),
        dsum(F.col("l_quantity"), 2).alias("total_qty"),
    )


SQL_NESTED_ROUNDTRIP = f"""
WITH big AS (
  SELECT l_orderkey FROM lineitem GROUP BY 1 HAVING count(*) >= 2
)
SELECT l_returnflag, count(*) AS n_items,
       {sql_dsum('l_extendedprice', 2)} AS revenue,
       {sql_dsum('l_quantity', 2)} AS total_qty
FROM lineitem JOIN big USING (l_orderkey)
GROUP BY l_returnflag
"""


def register(reg: Registry) -> None:
    reg.add(
        "nested_lineitems_roundtrip",
        nested_lineitems_roundtrip,
        SQL_NESTED_ROUNDTRIP,
        "nested array<struct> layout roundtrip with subfield pruning",
    )
    reg.add(
        "schema_evolution_read",
        schema_evolution_read,
        SQL_SCHEMA_EVOLUTION,
        "mergeSchema read over drifted file generations (additive column)",
    )
    reg.add(
        "xml_roundtrip",
        xml_roundtrip,
        SQL_XML_ROUNDTRIP,
        "native XML sink + explicit-schema source round-trip",
    )
    reg.add(
        "csv_roundtrip",
        csv_roundtrip,
        SQL_CSV_ROUNDTRIP,
        "CSV sink + explicit-schema source round-trip",
    )
    reg.add(
        "csv_corrupt_records",
        csv_corrupt_records,
        SQL_CSV_CORRUPT,
        "PERMISSIVE corrupt-record accounting (malformed-row guard)",
    )
    reg.add(
        "json_roundtrip",
        json_roundtrip,
        SQL_JSON_ROUNDTRIP,
        "JSONL sink + explicit-schema source round-trip",
    )
    reg.add(
        "orc_roundtrip",
        orc_roundtrip,
        SQL_ORC_ROUNDTRIP,
        "ORC sink + pushdown-filtered source round-trip",
    )


# --- schema evolution: mergeSchema read over drifted file generations ---

EVOLUT_CUT = "1997-01-01"  # generation boundary (order date)


@fixture("orders_evolved", scratch=True)
def write_orders_evolved(spark: SparkSession, sf_dir: str, out: str) -> str:
    """Two file generations of the same table with DRIFTED schemas:
    generation 1 (orders before the cut) lacks the ``o_priority_rank``
    column that generation 2 carries -- the additive-column drift every
    long-lived ingest accumulates."""
    from ..operators._util import ntz_lit

    o = load_table(spark, sf_dir, "orders")
    cut = ntz_lit(EVOLUT_CUT)
    gen1 = o.where(F.col("o_orderdate") < cut).select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    gen2 = o.where(F.col("o_orderdate") >= cut).select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        F.substring("o_orderpriority", 1, 1).cast("int").alias("o_priority_rank"),
    )
    gen1.write.mode("overwrite").parquet(f"{out}/gen=1")
    gen2.write.mode("overwrite").parquet(f"{out}/gen=2")


def schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read the drifted generations as ONE table with ``mergeSchema``:
    parquet footers are reconciled at planning time, generation-1 rows
    surface the missing column as NULL, and the aggregate treats both
    generations uniformly (null-safe count of the new column per
    status). This is the additive schema-drift story at 100 TB: no
    rewrite of old files, no reader forking -- the merged schema is the
    contract and the engine back-fills. (Type-CHANGING drift still needs
    a migration; mergeSchema only unions compatible fields.)"""
    path = write_orders_evolved(spark, sf_dir)
    df = spark.read.option("mergeSchema", "true").parquet(path)
    return df.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.count("o_priority_rank").alias("n_ranked"),
        # coalesce: a generation-1-only group must be 0 in BOTH engines,
        # and the column must stay integral through pandas (a NULL would
        # float64 the column on one side only)
        F.coalesce(F.sum("o_priority_rank"), F.lit(0)).alias("rank_sum"),
        dsum(F.col("o_totalprice"), 2).alias("total"),
    )


SQL_SCHEMA_EVOLUTION = f"""
SELECT o_orderstatus,
       count(*) AS n_orders,
       count(*) FILTER (o_orderdate >= TIMESTAMP '{EVOLUT_CUT}') AS n_ranked,
       -- BIGINT cast: DuckDB sums INT into HUGEINT, which pandas turns
       -- into float64 and the value hash then sees 1050.0 vs 1050
       COALESCE(CAST(SUM(CAST(substr(o_orderpriority, 1, 1) AS INT))
         FILTER (o_orderdate >= TIMESTAMP '{EVOLUT_CUT}') AS BIGINT), 0) AS rank_sum,
       {sql_dsum('o_totalprice', 2)} AS total
FROM orders GROUP BY o_orderstatus
"""
