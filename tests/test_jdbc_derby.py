"""REAL JDBC integration via embedded Derby (`jdbc:derby:memory:` —
derby/derbyshared/derbytools ship on Spark's classpath), closing the
reference surface that had only been tested correct-by-construction:
the entire load path is batched JDBC inserts + DO-NOTHING upsert +
typed CREATE TABLE (reference pg.py:423-635, README:119-123's
duplicate-Lambda-invocation failure mode).

Each test uses its own in-memory database name: Derby in-memory DBs
live for the JVM lifetime, so a shared name would leak state across
tests.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from kaggle_ecommerce_etl_spark.sinks import jdbc as J
from kaggle_ecommerce_etl_spark.sinks.jdbc import (
    DERBY_DRIVER,
    derby_memory_url,
    jdbc_column_types,
    jdbc_table_exists,
    write_jdbc_append,
    write_upsert_jdbc,
)

PROPS = {"driver": DERBY_DRIVER}


def _types_for(df) -> str:
    """TABLE_DDL column types restricted to the fixture's columns."""
    cols = {f.name for f in df.schema.fields}
    return ", ".join(
        p for p in jdbc_column_types("amazon_sale").split(", ")
        if p.split(" ")[0] in cols
    )


@pytest.fixture()
def batch(spark):
    return spark.createDataFrame(
        [
            ("A1", dt.date(2022, 4, 30), "Shipped", 2, 599.0,
             dt.datetime(2024, 1, 1, 12, 0, 0)),
            ("A2", dt.date(2022, 4, 30), "Cancelled", 0, None,
             dt.datetime(2024, 1, 1, 12, 0, 0)),
            ("A3", dt.date(2022, 5, 1), "Shipped", 1, 399.5,
             dt.datetime(2024, 1, 1, 12, 0, 0)),
        ],
        "order_id string, date date, status string, quantity int, "
        "amount double, loaded_at timestamp",
    )


def test_append_readback_equality(spark, batch):
    url = derby_memory_url("t_append")
    write_jdbc_append(batch, url, "amazon_sale", properties=PROPS)
    back = spark.read.jdbc(url, "amazon_sale", properties=PROPS)
    rows = back.collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, batch.collect()))
    # date/timestamp/null round-trip exactly. (No pushed filter here on
    # purpose: an untyped first load lands Derby CLOBs, which reject
    # pushed '=' — the typed-DDL test below covers predicate pushdown.)
    a2 = next(r for r in rows if r["order_id"] == "A2")
    assert a2["amount"] is None and a2["date"] == dt.date(2022, 4, 30)


def test_upsert_same_batch_twice_is_idempotent(spark, batch):
    """README:119-123: duplicate Lambda invocation re-delivers the same
    batch — the second pass must append ZERO rows (DO NOTHING)."""
    url = derby_memory_url("t_upsert")
    first = write_upsert_jdbc(batch, url, "amazon_sale", ["order_id", "date"],
                              properties=PROPS)
    assert first.count() == 3
    second = write_upsert_jdbc(batch, url, "amazon_sale", ["order_id", "date"],
                               properties=PROPS)
    assert second.count() == 0
    back = spark.read.jdbc(url, "amazon_sale", properties=PROPS)
    assert back.count() == 3


def test_upsert_appends_only_new_keys(spark, batch):
    url = derby_memory_url("t_upsert_new")
    write_upsert_jdbc(batch, url, "amazon_sale", ["order_id", "date"],
                      properties=PROPS, column_types=_types_for(batch))
    nxt = spark.createDataFrame(
        [
            # same key as A1 but different payload — must be DROPPED
            ("A1", dt.date(2022, 4, 30), "CHANGED", 9, 1.0,
             dt.datetime(2024, 2, 2)),
            ("A4", dt.date(2022, 5, 2), "Shipped", 3, 250.0,
             dt.datetime(2024, 2, 2)),
        ],
        batch.schema,
    )
    appended = write_upsert_jdbc(nxt, url, "amazon_sale", ["order_id", "date"],
                                 properties=PROPS)
    assert [r["order_id"] for r in appended.collect()] == ["A4"]
    back = spark.read.jdbc(url, "amazon_sale", properties=PROPS)
    assert back.count() == 4
    # the existing row's payload is untouched (DO NOTHING, not UPDATE)
    a1 = back.filter(F.col("order_id") == "A1").collect()[0]
    assert a1["status"] == "Shipped" and a1["quantity"] == 2


def test_create_table_column_types_ddl(spark, batch):
    """Typed CREATE TABLE via createTableColumnTypes from TABLE_DDL —
    the reference's pg.py:450-533 DDL driven through the JDBC writer.
    VARCHAR (not Derby's default CLOB for StringType) must land, or
    downstream predicates/aggregations on text columns degrade."""
    url = derby_memory_url("t_ddl")
    types = jdbc_column_types("amazon_sale")
    assert "order_id VARCHAR(255)" in types and "quantity INT" in types
    write_jdbc_append(batch, url, "amazon_sale", properties=PROPS,
                      column_types=_types_for(batch))
    back = spark.read.jdbc(url, "amazon_sale", properties=PROPS)
    got = {f.name: f.dataType.simpleString() for f in back.schema.fields}
    assert got == {
        "order_id": "string", "date": "date", "status": "string",
        "quantity": "int", "amount": "double", "loaded_at": "timestamp",
    }
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, batch.collect()))


def test_upsert_key_read_is_column_pruned(spark, batch):
    """The existing-keys scan must ship ONLY key columns over JDBC —
    at 100 TB of target history this is the difference between reading
    keys and re-reading the warehouse."""
    url = derby_memory_url("t_prune")
    write_jdbc_append(batch, url, "amazon_sale", properties=PROPS)
    pruned = spark.read.jdbc(url, "amazon_sale", properties=PROPS).select(
        "order_id", "date"
    )
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema: struct<order_id:string,date:date>" in plan


def test_nullable_string_requires_clob_columns(spark):
    """Derby rule pinned: DerbyDialect binds string NULLs as
    setNull(CLOB), which Derby REJECTS against VARCHAR columns — so
    nullable-string tables must leave string columns out of
    createTableColumnTypes (dialect default CLOB). Both directions
    proven: VARCHAR + NULL string fails, default CLOB round-trips."""
    df = spark.createDataFrame(
        [("k1", None), ("k2", "v")], "k string, s string"
    )
    with pytest.raises(Exception, match="CLOB|VARCHAR"):
        write_jdbc_append(
            df, derby_memory_url("t_nullstr_varchar"), "t",
            properties=PROPS, column_types="k VARCHAR(32), s VARCHAR(32)",
        )
    url = derby_memory_url("t_nullstr_clob")
    write_jdbc_append(df, url, "t", properties=PROPS)  # dialect CLOBs
    back = {r["k"]: r["s"] for r in
            spark.read.jdbc(url, "t", properties=PROPS).collect()}
    assert back == {"k1": None, "k2": "v"}


def test_jdbc_table_exists_is_sparks_writer_check(spark, batch):
    """``jdbc_table_exists`` reaches Spark's ``JdbcUtils.tableExists``
    through py4j (internal API, pinned on PySpark 4.1.2): False for a
    missing table, True once the writer created it, and a missing
    DATABASE raises instead of reading as "no table"."""
    url = derby_memory_url("t_exists")
    assert jdbc_table_exists(spark, url, "amazon_sale", PROPS) is False
    write_jdbc_append(batch, url, "amazon_sale", properties=PROPS)
    assert jdbc_table_exists(spark, url, "amazon_sale", PROPS) is True
    with pytest.raises(Exception, match="not found"):
        jdbc_table_exists(
            spark, derby_memory_url("t_exists_nodb", create=False),
            "amazon_sale", PROPS,
        )


def test_upsert_into_missing_database_raises_before_any_job(spark, batch):
    """Only a missing TABLE is a first load. A missing database (Derby
    XJ004 "Database … not found") must fail the upsert before any Spark
    job runs — not read as an empty target and run the dedup first."""
    sc = spark.sparkContext
    group = "upsert-missing-db"
    sc.setJobGroup(group, group)
    try:
        with pytest.raises(Exception, match="not found"):
            write_upsert_jdbc(
                batch, derby_memory_url("t_nodb", create=False),
                "amazon_sale", ["order_id", "date"], properties=PROPS,
            )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def _append_set_plans(spark, monkeypatch, url, incoming, passes):
    """Run ``passes`` upserts of ``incoming`` and return, per pass, the
    executed plan of the append set the sink checkpointed and the
    number of rows it returned."""
    real, seen = J.upsert_anti_join, []

    def spy(*args, **kwargs):
        seen.append(real(*args, **kwargs))
        return seen[-1]

    monkeypatch.setattr(J, "upsert_anti_join", spy)
    out = []
    for _ in range(passes):
        rows = write_upsert_jdbc(
            incoming, url, "amazon_sale", ["order_id", "date"],
            properties=PROPS,
        ).count()
        out.append((seen[-1]._jdf.queryExecution().executedPlan().toString(), rows))
    return out


def test_upsert_first_load_plans_no_join_and_no_python_scan(spark, monkeypatch):
    """A first load reads no table: the append set is the per-key dedup
    of the batch, with no Join and no Python-backed scan (an empty
    ``createDataFrame([])`` side is an RDD only a Python worker reads).
    The re-delivery still scans only the key columns over JDBC,
    anti-joins, and appends zero rows."""
    incoming = spark.sql(
        "SELECT order_id, CAST(d AS DATE) AS date, amount FROM VALUES "
        "('A1', '2022-04-30', 1.0), ('A1', '2022-04-30', 2.0), "
        "('A2', '2022-05-01', 3.0) AS t(order_id, d, amount)"
    )
    (first_plan, first), (again_plan, again) = _append_set_plans(
        spark, monkeypatch, derby_memory_url("t_first_load"), incoming, 2
    )
    assert first == 2
    assert "Join" not in first_plan, first_plan
    assert "ExistingRDD" not in first_plan, first_plan
    assert "JDBCRelation" not in first_plan, first_plan
    assert again == 0
    assert "LeftAnti" in again_plan, again_plan
    assert "ReadSchema: struct<order_id:string,date:date>" in again_plan, again_plan
