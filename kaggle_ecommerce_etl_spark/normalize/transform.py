"""The shared rule-driven normalization pass (SURVEY.md §2f op 37's
inner ``transform()``, reference ecommerce_s3_to_pg.py:123-214).

Execution, made explicit:

1. **Materialize + profile** — ONE job: an eager ``localCheckpoint``
   of the input frame with every data-dependent gate observed on it
   (``profile.checkpoint_column_profile``): per-branch success counts
   (numeric / date / month-prefix) and per-column null counts. The
   input plan (a route's CSV parse, dedup shuffle and filters) runs
   once, for the profile and the consumer alike.
2. **Plan** — emit a single lazy projection over the stored rows
   applying, per column:
   - name contains ``date``  → tolerant parse → ISO ``yyyy-MM-dd`` string
   - name contains ``month`` → month-name normalization (datetime branch
     iff any value parses, else 3-letter-prefix branch)  [pg.py:157-169]
   - ≥90% numeric-parseable  → noise-strip + double cast + round(2)
     [pg.py:175-184]
   - remaining string cols   → trim                      [pg.py:190-192]
   then drop all-null columns [pg.py:202-204] — decided from the SAME
   profile (each branch's success count IS its post-coercion non-null
   count), so no second scan.

The emitted plan is one ``selectExpr`` over the rules' SQL text —
Catalyst fuses it into one codegen stage over the stored rows; total
data reads: the input's one execution + the consumer's scan of the
stored blocks. No UDFs anywhere. The stored blocks are a
``localCheckpoint``: they live on executors and do not survive losing
one (SCALING.md's ledger says why that is enough here).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from kaggle_ecommerce_etl_spark.normalize.columns import normalize_column_names
from kaggle_ecommerce_etl_spark.normalize.casts import (
    date_to_iso_sql,
    month_datetime_sql,
    month_prefix_sql,
    tolerant_numeric_sql,
)
from kaggle_ecommerce_etl_spark.normalize.profile import checkpoint_column_profile
from kaggle_ecommerce_etl_spark.normalize.sqltext import ident
from kaggle_ecommerce_etl_spark.normalize.tokens import na_token_to_null_sql

NUMERIC_GATE = 0.9  # reference: converted.notna().sum() > 0.9*len(df)


def transform(df: DataFrame, numeric_gate: float = NUMERIC_GATE) -> DataFrame:
    """Rule-driven cleanup of a raw all-string frame (see module doc).
    Construction materializes the input once: the profiled checkpoint
    is its only Spark action.

    Emits ONE ``selectExpr`` projection (not layered withColumns passes):
    the coercion branches null out NA tokens inherently ('' / 'NA' fail
    every parse), and the keep-branch composes trim + NA-canonicalize
    at the expression level. A flat projection keeps Catalyst analysis
    cost linear in columns — layered projections made plan compilation
    the dominant cost for wide frames.
    """
    df = normalize_column_names(df)

    string_cols = [
        f.name for f in df.schema.fields if isinstance(f.dataType, T.StringType)
    ]
    df, prof = checkpoint_column_profile(df, string_cols)
    n_rows = prof["__rows__"]

    select_exprs = []
    for c in df.columns:
        info, q = prof[c], ident(c)
        if c not in string_cols:
            expr, nonnull_after = q, n_rows - info["nulls"]
        elif info["role"] == "date":
            expr, nonnull_after = date_to_iso_sql(q), info["date_ok"]
        elif info["role"] == "month":
            if info["date_ok"]:
                expr, nonnull_after = month_datetime_sql(q), info["date_ok"]
            else:
                expr, nonnull_after = month_prefix_sql(q), info["prefix_ok"]
        elif n_rows > 0 and info["numeric_ok"] is not None and (
            info["numeric_ok"] / n_rows > numeric_gate
        ):
            expr, nonnull_after = tolerant_numeric_sql(q), info["numeric_ok"]
        else:
            expr, nonnull_after = na_token_to_null_sql(f"trim({q})"), info["keep_ok"]
        if nonnull_after != 0:  # all-null after coercion → dropped
            select_exprs.append(f"{expr} AS {q}")
    return df.selectExpr(*select_exprs)
