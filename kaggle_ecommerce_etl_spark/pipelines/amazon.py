"""Amazon Sale Report pipeline (SURVEY.md §2f op 37; reference
ecommerce_s3_to_pg.py:216-296).

Step order matches the reference exactly:
drop noisy cols → lower/trim 6 cols → rename → full-row dedup →
<50%-NA row filter → rule-driven transform → critical-column dropna →
order_id conflict split → (clean, flagged).

``transform`` stores the deduplicated, filtered rows in the one job
that profiles them; the rest of the chain is a lazy plan over those
stored rows with a single shuffle (the window in conflict_split).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from kaggle_ecommerce_etl_spark.normalize.columns import (
    drop_columns,
    normalize_column_names,
    rename_columns,
)
from kaggle_ecommerce_etl_spark.normalize.tokens import lower_trim_columns
from kaggle_ecommerce_etl_spark.normalize.transform import transform
from kaggle_ecommerce_etl_spark.operators.dedup import conflict_split, dedup_full_rows
from kaggle_ecommerce_etl_spark.operators.filters import (
    drop_missing_critical,
    filter_mostly_null_rows,
)

DROP_COLS = ["Unnamed: 22", "promotion-ids", "fulfilled-by", "Style", "currency", "index"]
LOWER_COLS = ["Status", "Courier Status", "Fulfilment", "B2B", "ship-state", "ship-city"]
RENAMES = {"fulfilment": "fulfillment", "qty": "quantity"}
CRITICAL = ["order_id", "amount", "date", "quantity", "status", "fulfillment"]


def clean_amazon_sale(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """raw all-string frame → (amazon_sale, amazon_sale_version)."""
    df = drop_columns(df, DROP_COLS)
    df = lower_trim_columns(df, LOWER_COLS)
    df = normalize_column_names(df)
    df = rename_columns(df, RENAMES)
    df = dedup_full_rows(df)
    df = filter_mostly_null_rows(df, 0.5)
    df = transform(df)
    df = drop_missing_critical(df, CRITICAL)
    return conflict_split(df, ["order_id"])
