"""International Sale Report pipeline (SURVEY.md §2f op 37; reference
ecommerce_s3_to_pg.py:337-421).

dedup → <50%-NA row filter → drop index → rename GROSS AMT →
row-group split (op 35) → transform+standardize each part →
align to the table schema → union tagged part1/part2.

Order sensitivity: the split needs file order, so the input must carry
the ``__row_ordinal`` column (sources attach it via
``structural.with_file_order``). Dedup here is order-preserving
("keep first occurrence", matching pandas drop_duplicates): a window
row_number over the data columns ordered by ordinal — one shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from kaggle_ecommerce_etl_spark.normalize.columns import drop_columns, rename_columns
from kaggle_ecommerce_etl_spark.normalize.sqltext import ident
from kaggle_ecommerce_etl_spark.normalize.tokens import standardize_text_columns
from kaggle_ecommerce_etl_spark.normalize.transform import transform
from kaggle_ecommerce_etl_spark.operators.filters import (
    add_audit_columns,
    align_columns,
    filter_mostly_null_rows,
)
from kaggle_ecommerce_etl_spark.operators.structural import (
    ORDINAL,
    split_misaligned_rowgroups,
)

#: target column order (reference pg.py:584-589, 604-608; DDL pg.py:516-533)
TARGET = [
    ("customer", "string"), ("date", "string"), ("months", "string"),
    ("style", "string"), ("sku", "string"), ("pcs", "double"),
    ("rate", "string"), ("gross_amount", "double"), ("size", "string"),
    ("stock", "string"),
]


def _dedup_keep_first(df: DataFrame) -> DataFrame:
    keys = ", ".join(ident(c) for c in df.columns if c != ORDINAL)
    return (
        df.selectExpr("*", f"row_number() OVER (PARTITION BY {keys} ORDER BY {ORDINAL}) AS __rn")
        .filter("__rn = 1")
        .drop("__rn")
    )


def _clean_part(part: DataFrame, tag: str) -> DataFrame:
    part = transform(part)
    part = standardize_text_columns(part)
    part = rename_columns(part, {"gross_amt": "gross_amount"})
    part = align_columns(part, TARGET)
    return add_audit_columns(part, data_source=tag)


def clean_international_sale(df: DataFrame) -> DataFrame:
    """ordinal-carrying raw all-string frame → unioned cleaned table
    with data_source ∈ {part1, part2}."""
    if ORDINAL not in df.columns:
        raise ValueError("international pipeline needs __row_ordinal; read via with_file_order()")
    df = _dedup_keep_first(df)
    # <50%-NA filter over the data columns only (ordinal excluded)
    df = filter_mostly_null_rows(df, 0.5, [c for c in df.columns if c != ORDINAL])
    df = drop_columns(df, ["index"])
    df = rename_columns(df, {"GROSS AMT": "gross_amount"})
    part1, part2 = split_misaligned_rowgroups(df)
    out = _clean_part(part1, "part1")
    if part2 is not None:
        out = out.unionByName(_clean_part(part2, "part2"))
    return out
