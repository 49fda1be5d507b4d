"""End-to-end batch job — the reference's ``lambda_handler``
(SURVEY.md §3 EP1; ecommerce_s3_to_pg.py:687-750) as one Spark job.

Flow: discover recent files in the drop directory → classify each by
name (op 36) → run its cleaning pipeline (op 37) → write cleaned CSV
per table (op 3) → idempotently upsert into the warehouse tables
(ops 5, 16, here an in-memory/parquet stand-in for JDBC).

Scale notes:
- per-file routing happens on the LISTING (driver metadata), not the
  data; each route's files are read as one multi-file scan.
- materialize-once: every table ``run_batch`` returns is materialized
  exactly once, by an eager ``localCheckpoint`` inside its route's
  ``try``. The CSV sink and the caller's JDBC upsert/append then read
  the same stored rows instead of each re-running the cleaning plan
  (so ``loaded_at`` is one instant per table), and a runtime failure
  of the plan lands in ``errors``. That checkpoint re-runs only the
  cleaning AFTER ``transform``: ``transform`` itself stores its input
  (the route's parsed, deduplicated and filtered raw rows) in the one
  job that profiles it, so each route parses its CSV and runs its dedup
  shuffle once. The international route also checkpoints each file
  once after its keep-first dedup, before the split
  (``clean_international_sale``). Nothing is collected to the driver
  except the 1-row embedded-header fetch of the international split
  (documented in operators.structural).
- the international report needs file order → read single-partition
  per file (these report files are tens of MB; at scale this is the
  one operator that intentionally does not parallelize per file —
  parallelism comes from processing many files at once).
"""

from __future__ import annotations

import datetime as _dt
import logging
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

logger = logging.getLogger(__name__)

from kaggle_ecommerce_etl_spark.operators.structural import with_file_order
from kaggle_ecommerce_etl_spark.pipelines.amazon import clean_amazon_sale
from kaggle_ecommerce_etl_spark.pipelines.dispatch import classify_file
from kaggle_ecommerce_etl_spark.pipelines.international import clean_international_sale
from kaggle_ecommerce_etl_spark.pipelines.sale import clean_sale
from kaggle_ecommerce_etl_spark.sinks.csv_sink import write_csv
from kaggle_ecommerce_etl_spark.sources.csv_source import (
    read_csv_with_encoding_fallback,
)


def discover_files(raw_dir: str, minutes: int | None = None) -> list[str]:
    """List candidate CSVs; optional recency window (op 4 semantics)."""
    out = []
    cutoff = (
        _dt.datetime.now().timestamp() - minutes * 60 if minutes is not None else None
    )
    for name in sorted(os.listdir(raw_dir)):
        if not name.lower().endswith(".csv"):
            continue
        path = os.path.join(raw_dir, name)
        if cutoff is not None and os.path.getmtime(path) < cutoff:
            continue
        out.append(path)
    return out


def run_batch(
    spark: SparkSession,
    raw_dir: str,
    out_dir: str | None = None,
    minutes: int | None = None,
    errors: dict[str, str] | None = None,
) -> dict[str, DataFrame]:
    """Process one drop of raw report files; returns the cleaned tables,
    each already materialized (and writes CSV outputs when out_dir is
    given).

    Output keys mirror the reference's warehouse tables: amazon_sale,
    amazon_sale_version, sale_report, international_sale.

    Error isolation (the reference wraps every step in try/except +
    logging ~30×, e.g. pg.py:139-144, 229-233): one corrupt/malformed
    file must not kill the whole drop. Each route — and within the
    international route, each FILE — is built independently; failures
    are logged and, when the caller passes an ``errors`` dict, recorded
    there (key = route/path, value = message) while healthy routes
    still load. Materializing inside the ``try`` extends that isolation
    from build-time to run-time failures.

    The ``localCheckpoint`` blocks live only on executors and do not
    survive losing one: a sink reading a lost block fails. No reliable
    checkpoint is needed for that, because a failed drop is re-run
    from its raw files: the upsert appends nothing it already loaded
    (DO NOTHING on the key) and the CSV sink overwrites. The plain
    appends keep the reference's at-least-once behavior, which a
    re-delivered drop had before.
    """
    routes: dict[str, list[str]] = {}
    for path in discover_files(raw_dir, minutes):
        route = classify_file(os.path.basename(path))
        if route:
            routes.setdefault(route, []).append(path)

    results: dict[str, DataFrame] = {}
    if errors is None:
        errors = {}

    if "amazon" in routes:
        try:
            raw = read_csv_with_encoding_fallback(spark, routes["amazon"])
            clean, flagged = clean_amazon_sale(raw)
            # both outputs in ONE job: they are cut from the same
            # conflict-split plan, so the tagged union reuses its
            # exchanges and the cleaning plan runs once, not twice
            both = (
                clean.withColumn("__flagged", F.lit(False))
                .unionByName(flagged.withColumn("__flagged", F.lit(True)))
                .localCheckpoint(eager=True)
            )
            results["amazon_sale"] = both.filter("NOT __flagged").drop("__flagged")
            results["amazon_sale_version"] = both.filter("__flagged").drop("__flagged")
        except Exception as e:  # noqa: BLE001 — defensive posture (pg.py:229-233)
            logger.exception("amazon route failed: %s", routes["amazon"])
            errors["amazon"] = str(e)
    if "sale" in routes:
        try:
            raw = read_csv_with_encoding_fallback(spark, routes["sale"])
            results["sale_report"] = clean_sale(raw).localCheckpoint(eager=True)
        except Exception as e:  # noqa: BLE001
            logger.exception("sale route failed: %s", routes["sale"])
            errors["sale"] = str(e)
    if "international" in routes:
        # one file at a time: the row-group split is order-dependent,
        # AND per-file isolation means one malformed report only loses
        # that file, not the route; the table is the union of the
        # materialized per-file parts
        parts = []
        for path in routes["international"]:
            try:
                raw = read_csv_with_encoding_fallback(spark, path)
                part = clean_international_sale(with_file_order(raw))
                parts.append(part.localCheckpoint(eager=True))
            except Exception as e:  # noqa: BLE001
                logger.exception("international file failed: %s", path)
                errors[path] = str(e)
        if parts:
            df = parts[0]
            for p in parts[1:]:
                df = df.unionByName(p)
            results["international_sale"] = df

    if out_dir:
        seen_ids: set[int] = set()  # op 17: skip aliased outputs (pg.py:646-657)
        for table, df in list(results.items()):
            if id(df) in seen_ids:
                continue
            seen_ids.add(id(df))
            try:
                write_csv(df, os.path.join(out_dir, table), single_file=True)
            except Exception as e:  # noqa: BLE001
                logger.exception("writing %s failed", table)
                errors[f"write:{table}"] = str(e)

    return results
