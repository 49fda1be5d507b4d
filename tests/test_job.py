"""End-to-end batch job test: raw drop dir → routed pipelines → cleaned
CSV outputs (the reference's lambda_handler flow, SURVEY.md §3 EP1)."""

from __future__ import annotations

import glob
import uuid

from pyspark.sql import functions as F

from kaggle_ecommerce_etl_spark.pipelines.job import discover_files, run_batch

AMAZON_HEADER = (
    "index,Order ID,Date,Status,Fulfilment,Sales Channel,ship-service-level,"
    "Style,SKU,Category,Size,ASIN,Courier Status,Qty,currency,Amount,"
    "ship-city,ship-state,ship-postal-code,ship-country,promotion-ids,B2B,"
    "fulfilled-by,Unnamed: 22"
)


def _amazon_line(i, oid, date, amount):
    return (
        f"{i},{oid},{date}, Shipped ,Amazon,Amazon.in,Expedited,ST1,sku-{i},"
        f"Set,M,ASIN{i},Shipped,1,INR,{amount},MUMBAI,MAHARASHTRA,400001.0,"
        f"IN,,False,,"
    )


def _write_fixtures(raw):
    amazon = [AMAZON_HEADER]
    amazon += [_amazon_line(i, f"O-{i}", "05-01-22", f"{i + 1}0.00") for i in range(12)]
    amazon.append(_amazon_line(12, "O-3", "05-02-22", "999.00"))  # conflict O-3
    (raw / "Amazon Sale Report_2022-05-01_00-00-00.csv").write_text(
        "\n".join(amazon) + "\n"
    )

    sale = ["index,SKU Code,Design No.,Stock,Category,Size,Color"]
    sale += [f"{i},sku-{i},D-{i},{i},Kurta,M,Red" for i in range(10)]
    (raw / "Sale Report_2022-05-01_00-00-00.csv").write_text("\n".join(sale) + "\n")

    intl = ["index,DATE,Months,CUSTOMER,Style,SKU,Size,PCS,RATE,GROSS AMT"]
    intl += [f"{i},2022-01-0{i + 1},jan,cust-{i},st{i},sku{i},M,2,100,200" for i in range(5)]
    intl.append("idx,CUSTOMER,DATE,Months,Style,SKU,PCS,RATE,GROSS AMT,Stock")
    intl += [f"x,cust-p2-{i},2022-02-0{i + 1},feb,st{i},sku{i},3,55,165,9" for i in range(3)]
    (raw / "International Sale Report_2022-05-01_00-00-00.csv").write_text(
        "\n".join(intl) + "\n"
    )

    (raw / "Expense Report.csv").write_text("a,b\n1,2\n")  # unmatched → skipped


def test_run_batch_end_to_end(spark, tmp_path):
    raw = tmp_path / "raw"
    raw.mkdir()
    _write_fixtures(raw)
    out = tmp_path / "cleaned"

    results = run_batch(spark, str(raw), str(out))

    assert set(results) == {
        "amazon_sale", "amazon_sale_version", "sale_report", "international_sale"
    }
    assert results["amazon_sale"].count() == 11          # 13 rows - 2 conflicted O-3
    assert results["amazon_sale_version"].count() == 2
    assert results["sale_report"].count() == 10
    intl = results["international_sale"].collect()
    assert {r.data_source for r in intl} == {"part1", "part2"}
    assert len(intl) == 8

    # CSV sinks written with header, one file per table
    for table in results:
        files = glob.glob(f"{out}/{table}/*.csv")
        assert len(files) == 1, table
        header = open(files[0]).readline()
        assert "," in header


def test_discover_files_recency(tmp_path):
    import os
    f1 = tmp_path / "a.csv"
    f2 = tmp_path / "b.csv"
    f1.write_text("x\n")
    f2.write_text("x\n")
    old = 0
    os.utime(f2, (old, old))
    assert [p.endswith("a.csv") for p in discover_files(str(tmp_path), minutes=10)] == [True]
    assert len(discover_files(str(tmp_path))) == 2


def test_run_batch_isolates_corrupt_file(spark, tmp_path):
    """One malformed file (an amazon-routed CSV missing the Order ID
    column → unresolvable conflict-split key) must not kill the drop:
    the healthy sale route still loads, the failure lands in errors."""
    raw = tmp_path / "raw2"
    raw.mkdir()
    (raw / "Amazon Sale Report_2022-05-01_00-00-00.csv").write_text(
        "garbage,columns\n1,2\n"
    )
    sale = ["index,SKU Code,Design No.,Stock,Category,Size,Color"]
    sale += [f"{i},sku-{i},D-{i},{i},Kurta,M,Red" for i in range(4)]
    (raw / "Sale Report_2022-05-01_00-00-00.csv").write_text("\n".join(sale) + "\n")

    errors: dict[str, str] = {}
    results = run_batch(spark, str(raw), errors=errors)
    assert "sale_report" in results and results["sale_report"].count() == 4
    assert "amazon_sale" not in results
    assert list(errors) == ["amazon"] and errors["amazon"]


def test_run_batch_tables_are_materialized_once(spark, tmp_path):
    """Every returned table reads its stored rows: writing it again
    (the caller's JDBC sinks) re-runs no cleaning plan — no Exchange,
    no CSV scan."""
    raw = tmp_path / "raw"
    raw.mkdir()
    _write_fixtures(raw)
    results = run_batch(spark, str(raw), str(tmp_path / "cleaned"))
    assert set(results) == {
        "amazon_sale", "amazon_sale_version", "sale_report", "international_sale"
    }
    for table, df in results.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, (table, plan)
        assert "csv" not in plan.lower(), (table, plan)


AMAZON_COLUMNS = [
    "order_id", "date", "status", "fulfillment", "sales_channel",
    "ship_service_level", "sku", "category", "size", "asin", "courier_status",
    "quantity", "amount", "ship_city", "ship_state", "ship_postal_code",
    "ship_country", "b2b",
]


def test_run_batch_on_reports_without_surviving_rows(spark, tmp_path):
    """A header-only drop and a drop whose every row is filtered as
    mostly empty load every table with no rows and no error: each
    route's profiled checkpoint stores zero rows, its gates stay NULL,
    so no coercion applies and no column is dropped."""
    intl_header = "index,DATE,Months,CUSTOMER,Style,SKU,Size,PCS,RATE,GROSS AMT"
    sale_header = "index,SKU Code,Design No.,Stock,Category,Size,Color"

    def report(header, empty_rows):
        blank = "," * header.count(",")
        return "\n".join([header] + [f"{i}{blank}" for i in range(empty_rows)]) + "\n"

    for empty_rows in (0, 5):
        raw = tmp_path / f"raw_{empty_rows}"
        raw.mkdir()
        for name, header in (
            ("Amazon Sale Report", AMAZON_HEADER),
            ("Sale Report", sale_header),
            ("International Sale Report", intl_header),
        ):
            (raw / f"{name}_2022-05-01_00-00-00.csv").write_text(report(header, empty_rows))
        errors: dict[str, str] = {}
        results = run_batch(spark, str(raw), errors=errors)
        assert errors == {}
        assert {t: df.columns for t, df in results.items()} == {
            "amazon_sale": AMAZON_COLUMNS,
            "amazon_sale_version": AMAZON_COLUMNS,
            "sale_report": ["sku_code", "design_no", "stock", "category", "size", "color"],
            "international_sale": [
                "customer", "date", "months", "style", "sku", "pcs", "rate",
                "gross_amount", "size", "stock", "data_source", "loaded_at",
            ],
        }
        assert {t: df.count() for t, df in results.items()} == dict.fromkeys(results, 0)


def test_international_csv_and_jdbc_load_hold_the_same_rows(spark, tmp_path):
    """The CSV sink and a JDBC load of the returned table hold identical
    rows, ``loaded_at`` included: ``current_timestamp()`` is evaluated
    once, when the table is materialized, not once per sink."""
    from kaggle_ecommerce_etl_spark.sinks.jdbc import (
        DERBY_DRIVER,
        derby_memory_url,
        write_jdbc_append,
    )

    raw = tmp_path / "raw"
    raw.mkdir()
    _write_fixtures(raw)
    out = tmp_path / "cleaned"
    table = run_batch(spark, str(raw), str(out))["international_sale"]

    url = derby_memory_url(f"intl_{uuid.uuid4().hex[:8]}")
    props = {"driver": DERBY_DRIVER}
    write_jdbc_append(table, url, "international_sale", properties=props)
    loaded = spark.read.jdbc(url=url, table="international_sale", properties=props)
    # the CSV writer's default timestamp format keeps milliseconds
    loaded = loaded.withColumn("loaded_at", F.date_trunc("millisecond", "loaded_at"))
    csv = spark.read.schema(table.schema).option("header", True).csv(
        str(out / "international_sale")
    )

    assert csv.count() == loaded.count() == 8
    assert csv.exceptAll(loaded).count() == 0
    assert loaded.exceptAll(csv).count() == 0
