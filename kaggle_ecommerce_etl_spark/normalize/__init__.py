from kaggle_ecommerce_etl_spark.normalize.columns import (
    drop_columns,
    normalize_column_names,
    normalize_name,
    rename_columns,
)
from kaggle_ecommerce_etl_spark.normalize.tokens import (
    NA_TOKENS,
    canonicalize_na,
    lower_trim_columns,
    standardize_text_columns,
    trim_string_columns,
)
from kaggle_ecommerce_etl_spark.normalize.casts import (
    DATE_FORMATS,
    date_to_iso,
    normalize_month_expr_datetime,
    normalize_month_expr_prefix,
    strip_numeric_noise,
    tolerant_date,
    tolerant_numeric,
)
from kaggle_ecommerce_etl_spark.normalize.profile import (
    drop_all_null_columns,
    null_counts,
    summary_stats,
)
from kaggle_ecommerce_etl_spark.normalize.transform import transform

__all__ = [
    "NA_TOKENS",
    "DATE_FORMATS",
    "canonicalize_na",
    "date_to_iso",
    "drop_all_null_columns",
    "drop_columns",
    "lower_trim_columns",
    "normalize_column_names",
    "normalize_month_expr_datetime",
    "normalize_month_expr_prefix",
    "normalize_name",
    "null_counts",
    "rename_columns",
    "standardize_text_columns",
    "strip_numeric_noise",
    "summary_stats",
    "tolerant_date",
    "tolerant_numeric",
    "transform",
    "trim_string_columns",
]
