"""JDBC sink with idempotent upsert (SURVEY.md §2a ops 5-6, §2c op 16).

Reference: psycopg2 ``execute_values`` batch INSERT with
``ON CONFLICT (order_id, date) DO NOTHING`` for amazon_sale, plain
append for the rest, ``CREATE TABLE IF NOT EXISTS`` DDL
(ecommerce_s3_to_pg.py:423-635).

Spark-first shape:
- plain append → ``df.write.jdbc(mode='append', batchsize=…)``
- DO-NOTHING upsert → anti-join the incoming batch against the target's
  existing keys (column-pruned key scan), then append. The anti-join is
  the scalable idempotency mechanism: only key columns cross the wire,
  and Catalyst broadcasts whichever side is small.
- first load → the reference's ``CREATE TABLE IF NOT EXISTS`` reads no
  table that is not there, and neither does the upsert: one
  ``jdbc_table_exists`` round trip (Spark's own ``JdbcUtils.tableExists``,
  the check the JDBC writer runs before its CREATE) decides, and a
  missing target plans no key scan and no join — the append set is the
  per-key dedup of the batch. Only the dialect's "object not found"
  means missing; any other failure (no such database, refused
  connection, auth) propagates before a Spark job runs.

No Postgres exists in this environment, but the PHYSICAL JDBC path is
exercised for real against embedded Derby (`jdbc:derby:memory:` — the
jars ship on Spark's classpath): append, read-back, DO-NOTHING upsert
idempotency, and typed CREATE TABLE all run through the actual JDBC
writer/reader in tests/test_jdbc_derby.py and the `jdbc_roundtrip`
registry query. Swapping the url/driver to Postgres changes nothing
structurally (the reference's pg.py:423-635 surface).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

from kaggle_ecommerce_etl_spark.operators.dedup import upsert_anti_join

#: embedded Derby (in-memory) — the offline stand-in for Postgres
DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


def derby_memory_url(name: str, create: bool = True) -> str:
    return f"jdbc:derby:memory:{name}" + (";create=true" if create else "")


def jdbc_table_exists(
    spark: SparkSession, url: str, table: str, properties: dict
) -> bool:
    """Whether ``table`` exists at ``url`` — Spark's
    ``JdbcUtils.tableExists`` over a connection from the URL dialect's
    ``createConnectionFactory``, the same check the JDBC writer runs
    before its CREATE TABLE. It is False only when the dialect calls
    the failure "object not found" (SQLState ``42…`` on Derby,
    ``42P01`` on Postgres); any other error — a missing database, a
    refused connection, bad credentials — raises, so no caller can
    mistake it for an empty target. One JDBC round trip, no Spark job.
    Reaches Spark's internal ``execution.datasources.jdbc`` package
    through py4j (pinned by tests/test_jdbc_derby.py)."""
    jvm = spark._jvm
    jdbc = jvm.org.apache.spark.sql.execution.datasources.jdbc
    params = {k: str(v) for k, v in properties.items()}
    opts = jdbc.JdbcOptionsInWrite(url, table, jvm.PythonUtils.toScalaMap(params))
    dialect = jvm.org.apache.spark.sql.jdbc.JdbcDialects.get(url)
    conn = dialect.createConnectionFactory(opts).apply(-1)
    try:
        return jdbc.JdbcUtils.tableExists(conn, opts)
    finally:
        conn.close()


#: Spark-SQL type → JDBC column type for createTableColumnTypes
_JDBC_TYPES = {
    "string": "VARCHAR(255)",
    "int": "INT",
    "double": "DOUBLE",
    "date": "DATE",
    "timestamp": "TIMESTAMP",
}


def jdbc_column_types(table: str, skip_strings: bool = False) -> str:
    """``createTableColumnTypes`` clause for a TABLE_DDL table — the
    typed CREATE TABLE the reference issues (pg.py:450-533), expressed
    as the Spark JDBC writer option so the engine, not hand-SQL, owns
    table creation.

    Derby caveat: Spark's DerbyDialect binds string NULLs as
    ``setNull(CLOB)``, which Derby rejects against VARCHAR columns.
    ``skip_strings=True`` OMITS the string columns from the clause so
    the dialect's default (CLOB on Derby) applies to them — required
    when a Derby table's string columns can carry NULLs, at the cost
    of string-predicate pushdown (Derby can't filter CLOBs). Postgres
    (production) maps strings to TEXT and has neither restriction.
    (The clause only accepts Spark-parseable types, so CLOB can never
    be written INTO it — omission is the only route.)"""
    return ", ".join(
        f"{name} {_JDBC_TYPES[typ]}"
        for name, typ in TABLE_DDL[table]
        if not (skip_strings and typ == "string")
    )

#: target DDL (reference pg.py:450-533), expressed as Spark SQL types —
#: used for createTableColumnTypes and for align_columns targets.
TABLE_DDL: dict[str, list[tuple[str, str]]] = {
    "amazon_sale": [
        ("order_id", "string"), ("date", "date"), ("status", "string"),
        ("fulfillment", "string"), ("sales_channel", "string"),
        ("ship_service_level", "string"), ("sku", "string"),
        ("category", "string"), ("size", "string"), ("asin", "string"),
        ("courier_status", "string"), ("quantity", "int"),
        ("amount", "double"), ("ship_city", "string"),
        ("ship_state", "string"), ("ship_postal_code", "double"),
        ("ship_country", "string"), ("b2b", "string"),
        ("loaded_at", "timestamp"),
    ],
    "amazon_sale_version": [
        ("order_id", "string"), ("date", "date"), ("status", "string"),
        ("fulfillment", "string"), ("sales_channel", "string"),
        ("ship_service_level", "string"), ("sku", "string"),
        ("category", "string"), ("size", "string"), ("asin", "string"),
        ("courier_status", "string"), ("quantity", "int"),
        ("amount", "double"), ("ship_city", "string"),
        ("ship_state", "string"), ("ship_postal_code", "double"),
        ("ship_country", "string"), ("b2b", "string"),
        ("loaded_at", "timestamp"),
    ],
    "sale_report": [
        ("sku_code", "string"), ("design_no", "string"), ("stock", "int"),
        ("category", "string"), ("size", "string"), ("color", "string"),
        ("loaded_at", "timestamp"),
    ],
    "international_sale": [
        ("customer", "string"), ("date", "date"), ("months", "string"),
        ("style", "string"), ("sku", "string"), ("pcs", "int"),
        ("rate", "string"), ("gross_amount", "double"), ("size", "string"),
        ("stock", "string"), ("data_source", "string"),
        ("loaded_at", "timestamp"),
    ],
}

UPSERT_KEYS: dict[str, list[str]] = {"amazon_sale": ["order_id", "date"]}


def write_jdbc_append(
    df: DataFrame, url: str, table: str, properties: dict | None = None,
    batchsize: int = 10_000, column_types: str | None = None,
) -> None:
    """Plain JDBC append (reference's execute_values batching → the
    writer's batchsize option). ``column_types`` types the CREATE
    issued on first load (createTableColumnTypes)."""
    props = dict(properties or {})
    props.setdefault("batchsize", str(batchsize))
    writer = df.write
    if column_types:
        writer = writer.option("createTableColumnTypes", column_types)
    writer.jdbc(url=url, table=table, mode="append", properties=props)


def write_upsert(
    incoming: DataFrame,
    existing: DataFrame | None,
    keys: Sequence[str],
    append_fn,
    order_by: Sequence[str] | None = None,
) -> DataFrame:
    """Idempotent DO-NOTHING upsert: anti-join then append via
    ``append_fn(to_append)``. Returns the appended subset (for tests /
    metrics). Re-running the same batch appends zero rows; duplicate
    keys WITHIN one batch keep one row (``order_by`` picks which —
    see upsert_anti_join). ``existing=None`` is a target that does not
    exist yet: nothing is joined."""
    to_append = upsert_anti_join(incoming, existing, keys, order_by=order_by)
    append_fn(to_append)
    return to_append


def write_upsert_jdbc(
    incoming: DataFrame,
    url: str,
    table: str,
    keys: Sequence[str],
    properties: dict | None = None,
    order_by: Sequence[str] | None = None,
    column_types: str | None = None,
) -> DataFrame:
    """End-to-end idempotent JDBC upsert (the reference's
    ``ON CONFLICT DO NOTHING``, pg.py:544-547, re-expressed scalable):
    read ONLY the key columns back from the target (column pruning
    reaches the JDBC scan — ``ReadSchema`` carries just the keys, so
    a 100 TB-history target ships keys, not payloads, over the wire),
    anti-join the incoming batch, append the remainder. Returns the
    appended subset. A target that :func:`jdbc_table_exists` does not
    find is not read at all: the batch's per-key dedup is appended and
    the first write creates the table (typed via ``column_types`` when
    given)."""
    spark: SparkSession = incoming.sparkSession
    props = dict(properties or {})
    existing = None
    if jdbc_table_exists(spark, url, table, props):
        existing = spark.read.jdbc(url=url, table=table, properties=props)
    to_append = upsert_anti_join(incoming, existing, keys, order_by=order_by)
    # materialize BEFORE writing, with or without a target: the
    # anti-join reads the very table the write appends to, so executing
    # them in one job would race the scan against the insert (and the
    # returned frame would re-run the anti-join against the post-write
    # table, reporting zero appended); on a first load the per-key pick
    # is arbitrary, so the returned frame must be the stored rows that
    # were written, not a re-run that may keep other ones
    to_append = to_append.localCheckpoint(eager=True)
    write_jdbc_append(
        to_append, url, table, properties=props, column_types=column_types
    )
    return to_append


def read_jdbc_partitioned(
    spark: SparkSession,
    url: str,
    table: str,
    partition_column: str,
    lower_bound: int,
    upper_bound: int,
    num_partitions: int,
    properties: dict | None = None,
) -> DataFrame:
    """PARTITIONED JDBC scan — the parallel-ingestion path a 100 TB
    migration needs: Spark issues ``num_partitions`` concurrent range
    queries (``partition_column`` BETWEEN stride bounds) instead of
    one single-threaded cursor, so read throughput scales with
    executors instead of being capped by one connection. Bounds
    outside the real min/max only skew stride sizes, never drop rows
    (Spark's first/last strides are unbounded). The reference's read
    path is a single psycopg2 cursor (pg.py) — this is its scale-out
    replacement."""
    return spark.read.jdbc(
        url=url,
        table=table,
        column=partition_column,
        lowerBound=lower_bound,
        upperBound=upper_bound,
        numPartitions=num_partitions,
        properties=dict(properties or {}),
    )
