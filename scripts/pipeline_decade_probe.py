"""Decade point for the flagship CSV pipeline (VERDICT r9 #5).

`pipeline_amazon_clean` is the reference's flagship pipeline
(pg.py:216-296) and was the decade curve's most conspicuous absence:
its registry fixture is a small single-file CSV because the ORACLE is
about messy-CSV semantics, not volume. This probe replica-scales the
fixture itself: the amazon fixture derives every noise class
(duplicates, NA tokens, $1,234.56 amounts, mostly-null rows, order-id
conflicts) from `o_orderkey` modular arithmetic, and bench's replica
builder offsets o_orderkey per replica, so a 10x/100x replica dir
yields a 10x/100x messy CSV with identical noise proportions.

Shape choices, both deliberate:
- The fixture lands as REPLICA-COUNT-MANY headered CSV files (the
  landing-zone shape: one file per upstream writer), not one giant
  file — scan parallelism grows with data, same convention as the
  parquet replica dirs.
- Fixture publication is UNTIMED (ADVICE r9's probe discipline) and
  idempotent via the shared ready-marker publisher; the timed window
  is exactly the production chain: encoding-fallback CSV read →
  clean_amazon_sale → noop sink.

Usage: python scripts/pipeline_decade_probe.py [replica_list]
Prints one JSON line shaped like scale_curve.py's output, plus the
CSV rows per point (``fixture_rows``) and their ``rows_ratio``.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench

from kaggle_ecommerce_etl_spark.pipelines.amazon import clean_amazon_sale
from kaggle_ecommerce_etl_spark.queries_common import (
    _fixture_tag,
    _publish_fixture_dir,
)
from kaggle_ecommerce_etl_spark.queries_pipeline import _amazon_fixture
from kaggle_ecommerce_etl_spark.session import get_spark
from kaggle_ecommerce_etl_spark.sources.csv_source import (
    read_csv_with_encoding_fallback,
)
from scripts.replica_sweep import sweep


def publish_amazon_csv_dir(spark, run_dir: str, replicas: int) -> str:
    """Idempotently publish the replica-scaled messy CSV under the temp
    dir, tagged on the replica's orders table; return the directory
    path. One headered part-file per replica."""
    tag = _fixture_tag("amazon_csv:v1", run_dir, "orders")
    dst = f"{tempfile.gettempdir()}/spark_graft_pipeline_decade/{tag}"

    def _build(stage: str) -> None:
        (
            _amazon_fixture(spark, run_dir)
            .drop("__ord")
            .repartition(replicas)
            .write.option("header", True)
            .mode("overwrite")
            .csv(stage)
        )

    _publish_fixture_dir(dst, _build)
    return dst


def run_pipeline(spark, csv_dir: str, side: int) -> None:
    """The timed unit: real ingest path + real pipeline + noop sink.
    side 0 = clean (unique-key) output, side 1 = flagged (conflict)
    output — both sides force the full chain through the order_id
    conflict-split window."""
    raw = read_csv_with_encoding_fallback(spark, csv_dir)
    out = clean_amazon_sale(raw)[side]
    out.write.format("noop").mode("overwrite").save()


def _pipeline_side(side: int):
    """Prepare one output side: publish the point's CSV dir untimed
    (idempotent — a marker stat once ``_csv_rows`` has published it),
    then time the chain over it."""

    def prepare(spark, run_dir: str, replicas: int):
        csv_dir = publish_amazon_csv_dir(spark, run_dir, replicas)
        return lambda: run_pipeline(spark, csv_dir, side)

    return prepare


def _csv_rows(spark, run_dir: str, replicas: int) -> int:
    """The CSV row count per point, recorded as ``fixture_rows`` (the
    data-volume denominator of the ratio readers): the fixture is
    ~row-linear in replicas, but record it so nobody has to trust
    that."""
    csv_dir = publish_amazon_csv_dir(spark, run_dir, replicas)
    return spark.read.option("header", True).csv(csv_dir).count()


def main() -> None:
    replicas = [
        int(r) for r in (sys.argv[1] if len(sys.argv) > 1 else "10,100").split(",")
    ]
    src = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n_runs = int(os.environ.get("SPARK_GRAFT_CURVE_RUNS", "3"))
    spark = get_spark("pipeline-decade-probe")
    spark.range(10).count()

    out = sweep(
        spark,
        src,
        replicas,
        {
            "pipeline_amazon_clean": _pipeline_side(0),
            "pipeline_amazon_flagged": _pipeline_side(1),
        },
        n_runs=n_runs,
        canaries=(bench.trivial_canary, bench.shuffle_canary),
        point_rows=_csv_rows,
    )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
