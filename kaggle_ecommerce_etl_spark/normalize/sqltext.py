"""SQL-text plumbing for the per-column cleaning rules.

Each cleaning rule (``casts``, ``tokens``) is written ONCE, as a
function from a column reference's SQL text to the rule's SQL text.
Frame builders splice the rule for every column into one
``selectExpr`` / ``filter`` string, so building a wide projection costs
a handful of JVM calls instead of a py4j round trip per
``pyspark.sql.functions`` call and literal (a 20-column ``transform``
built from Column chains made ~10k round trips). The Column-level
helpers reach the same text through :func:`rule_column`.
"""

from __future__ import annotations

import zlib
from collections.abc import Callable, Mapping

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

#: parameter name of the temporary SQL functions :func:`rule_column` creates
_ARG = "value"


def ident(name: str) -> str:
    """Backtick-quoted identifier: dots, spaces and other specials in
    raw CSV headers (``Design No.``) stay one column name."""
    return "`" + name.replace("`", "``") + "`"


def sql_str(s: str) -> str:
    """Single-quoted SQL string literal. Control characters are kept
    raw: the lexer takes any character between the quotes."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def rewrite_columns(df: DataFrame, exprs: Mapping[str, str]) -> DataFrame:
    """Replace the named columns in place by SQL expressions, in ONE
    projection (``withColumns`` semantics: column order kept)."""
    if not exprs:
        return df
    return df.selectExpr(
        *[f"{exprs[c]} AS {ident(c)}" if c in exprs else ident(c) for c in df.columns]
    )


def rule_column(col: Column, returns: str, rule: Callable[..., str], *args) -> Column:
    """``rule(<col>, *args)`` as a Column, for callers holding an
    arbitrary Column expression (which cannot be spliced into SQL text).

    The rule's text becomes the body of a session-scoped temporary SQL
    function, created on first use in the session; the optimizer
    inlines the body, so the optimized plan is the one the inline text
    gives. The function name carries a checksum of the body, so each
    parameterization gets its own function."""
    body = rule(_ARG, *args)
    name = f"graft_{rule.__name__.removesuffix('_sql')}_{zlib.crc32(body.encode()):08x}"
    spark = SparkSession.active()
    if not spark.catalog.functionExists(name):
        spark.sql(
            f"CREATE OR REPLACE TEMPORARY FUNCTION {name}({_ARG} STRING) "
            f"RETURNS {returns} RETURN {body}"
        )
    return F.call_function(name, col)
