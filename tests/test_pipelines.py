"""Golden-output pipeline tests on messy fixtures (SURVEY.md §5.2,
FIXTURES.md A1-A3)."""

from __future__ import annotations

from pyspark.sql import functions as F

from kaggle_ecommerce_etl_spark.operators.structural import with_file_order
from kaggle_ecommerce_etl_spark.pipelines import (
    classify_file,
    clean_amazon_sale,
    clean_international_sale,
    clean_sale,
)

AMAZON_COLS = [
    "index", "Order ID", "Date", "Status", "Fulfilment", "Sales Channel",
    "ship-service-level", "Style", "SKU", "Category", "Size", "ASIN",
    "Courier Status", "Qty", "currency", "Amount", "ship-city", "ship-state",
    "ship-postal-code", "ship-country", "promotion-ids", "B2B",
    "fulfilled-by", "Unnamed: 22",
]


def _amazon_row(i, order_id, date, amount, status=" Shipped ", qty="1"):
    return (
        str(i), order_id, date, status, "Amazon", "Amazon.in", "Expedited",
        "ST1", f"sku-{i}", "Set", "M", f"ASIN{i}", "Shipped", qty, "INR",
        amount, " MUMBAI ", "MAHARASHTRA", "400001.0", "IN", None, "False",
        None, None,
    )


def _amazon_fixture(spark):
    rows = [
        _amazon_row(0, "O-1", "04-30-22", "$1,234.56"),
        _amazon_row(1, "O-2", "04/30/2022", "550.00"),
        _amazon_row(1, "O-2", "04/30/2022", "550.00"),       # exact dup
        _amazon_row(2, "O-3", "05-01-22", "100.10"),
        _amazon_row(3, "O-3", "05-02-22", "200.20"),          # conflicted key
        _amazon_row(4, "O-4", "garbage-date", "NA"),          # fails criticals
        tuple([None] * 10 + ["M"] + [None] * 13),             # ≥50% NA row
        _amazon_row(5, "O-5", "05-03-22", "75.00"),
        # enough valid rows that amount/quantity clear the ≥90% numeric gate
        *[_amazon_row(5 + i, f"O-{5 + i}", "05-03-22", f"{i}0.00") for i in range(1, 11)],
    ]
    schema = ", ".join(f"`{c}` string" for c in AMAZON_COLS)
    return spark.createDataFrame(rows, schema)


def test_clean_amazon_sale(spark):
    clean, flagged = clean_amazon_sale(_amazon_fixture(spark))
    crows = {r.order_id: r for r in clean.collect()}
    frows = sorted(r.order_id for r in flagged.collect())
    # O-3 conflicted (2 rows); O-4 dropped (amount/date unparseable → NULL
    # criticals); dup of O-2 deduped; mostly-null row dropped
    expected = sorted(["O-1", "O-2", "O-5"] + [f"O-{i}" for i in range(6, 16)])
    assert sorted(crows) == expected
    assert frows == ["O-3", "O-3"]
    assert crows["O-1"].amount == 1234.56
    assert crows["O-1"].date == "2022-04-30"
    assert crows["O-1"].status == "shipped"
    assert crows["O-1"].ship_city == "mumbai"
    # dropped noisy columns are gone
    for col in ("style", "currency", "promotion_ids", "fulfilled_by", "index"):
        assert col not in clean.columns


def test_clean_sale(spark):
    rows = [
        ("0", " sku-1 ", "D-1.", "5", "Kurta", " m ", "Red"),
        ("1", "sku-2", "D-2.", "NA", "Top", "L", "Blue"),
        ("1", "sku-2", "D-2.", "NA", "Top", "L", "Blue"),  # dup
        # enough numeric stock values to clear the ≥90% gate
        *[(str(2 + i), f"sku-{3 + i}", f"D-{3 + i}.", str(i), "Top", "L", "Blue")
          for i in range(10)],
    ]
    cols = ["index", "SKU Code", "Design No.", "Stock", "Category", "Size", "Color"]
    out = clean_sale(spark.createDataFrame(rows, cols))
    assert out.count() == 12
    assert "design_no" in out.columns and "index" not in out.columns
    r = {x.design_no: x for x in out.collect()}
    assert r["D-1."].stock == 5.0
    assert r["D-2."].stock is None


def _international_fixture(spark):
    # 'index' is dropped BEFORE the split (reference pg.py:351-355), so the
    # embedded header's meaningful cells start at the second column; the
    # index-cell just needs letters for the is_all_strings detection.
    rows = [
        ("1", "2022-01-05", "jan", "cust-a", "st1", "sku1", "M", "2", "100", "200"),
        ("2", "2022-01-06", "feb", "cust-b", "st2", "sku2", "L", "1", "150", "150"),
        ("idx", "CUSTOMER", "DATE", "Months", "Style", "SKU", "PCS", "RATE",
         "GROSS AMT", "Stock"),
        ("x", "cust-c", "2022-02-01", "feb", "st3", "sku3", "3", "55", "165", "9"),
    ]
    cols = ["index", "DATE", "Months", "CUSTOMER", "Style", "SKU", "Size",
            "PCS", "RATE", "GROSS AMT"]
    return with_file_order(spark.createDataFrame(rows, cols))


def test_clean_international_sale_split(spark):
    out = clean_international_sale(_international_fixture(spark))
    by_src = {(r.data_source, r.customer): r for r in out.collect()}
    assert ("part1", "CUST-A") in by_src
    assert ("part2", "CUST-C") in by_src
    p1 = by_src[("part1", "CUST-A")]
    assert p1.months == "January" and p1.gross_amount == 200.0
    p2 = by_src[("part2", "CUST-C")]
    assert p2.gross_amount == 165.0
    assert out.columns[-2:] == ["data_source", "loaded_at"]


def test_international_keep_first_window_runs_once(spark, monkeypatch):
    """The order-dependent keep-first window runs once per file, in the
    eager checkpoint before the split: the split's header fetch, both
    part profiles and the final materialization read stored rows, so
    no plan after it holds a Window."""
    from kaggle_ecommerce_etl_spark.pipelines import international

    split_inputs = []
    split = international.split_misaligned_rowgroups

    def spy(df):
        split_inputs.append(df)
        return split(df)

    monkeypatch.setattr(international, "split_misaligned_rowgroups", spy)
    out = clean_international_sale(_international_fixture(spark))

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    assert len(split_inputs) == 1
    assert "Window" not in plan(split_inputs[0])
    assert "Window" not in plan(out)
    assert out.count() == 3


def test_classify_file():
    assert classify_file("kaggle/raw/Amazon Sale Report_2022.csv") == "amazon"
    assert classify_file("kaggle/raw/International Sale Report_2022.csv") == "international"
    assert classify_file("kaggle/raw/Sale Report_2022.csv") == "sale"
    assert classify_file("kaggle/raw/Expense Report.csv") is None
