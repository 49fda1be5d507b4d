"""Ingestion utility (op 2, reference s3.py:44-113): landing filter,
encoding normalization, timestamped naming."""

from __future__ import annotations

import datetime as dt

from kaggle_ecommerce_etl_spark.sources.ingest import (
    ingest_raw_files,
    sale_csv_filter,
)


def test_sale_csv_filter():
    assert sale_csv_filter("Amazon Sale Report.csv")
    assert sale_csv_filter("international sale report.csv")
    assert not sale_csv_filter("Amazon%20Sale%20Report.csv")  # URL-mangled dup
    assert not sale_csv_filter("Sale Report.xlsx")
    assert not sale_csv_filter("Expense Report.csv")  # no 'sale'


def test_ingest_filters_reencodes_and_timestamps(spark, tmp_path):
    src = tmp_path / "landing"
    src.mkdir()
    # ISO-8859-1 file with a non-ASCII byte the UTF-8 read garbles
    (src / "Intl Sale Report.csv").write_bytes(
        "sku,city\nA1,Zürich\n".encode("iso-8859-1")
    )
    (src / "Sale%20Report.csv").write_text("a,b\n1,2\n")  # filtered out
    (src / "notes.txt").write_text("not a csv")           # filtered out

    fetched: list[str] = []
    dest = tmp_path / "raw"
    written = ingest_raw_files(
        spark,
        str(src),
        str(dest),
        fetch_fn=fetched.append,  # injectable network step (stubbed)
        now=dt.datetime(2024, 1, 2, 3, 4, 5),
    )
    assert fetched == [str(src)]  # fetch hook invoked with the landing dir
    assert [p.rsplit("/", 1)[1] for p in written] == [
        "Intl Sale Report_2024-01-02_03-04-05.csv"
    ]
    # re-encoded to clean UTF-8, content intact
    text = open(written[0], encoding="utf-8").read()
    assert "Zürich" in text and "�" not in text


def test_ingest_keeps_padded_cells(spark, tmp_path):
    """Re-serialization keeps cell whitespace, as the reference's
    pandas ``to_csv`` does (Spark's CSV writer trims it by default)."""
    src = tmp_path / "landing"
    src.mkdir()
    (src / "Sale Report.csv").write_text("sku,size\n  A1 ,M \n")
    written = ingest_raw_files(
        spark, str(src), str(tmp_path / "raw"), now=dt.datetime(2024, 1, 2)
    )
    assert open(written[0]).read().splitlines() == ["sku,size", "  A1 ,M "]
