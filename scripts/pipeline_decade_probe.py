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
Prints one JSON line shaped like scale_curve.py's output.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench

from kaggle_ecommerce_etl_spark.pipelines.amazon import clean_amazon_sale
from kaggle_ecommerce_etl_spark.queries_common import _publish_fixture_dir
from kaggle_ecommerce_etl_spark.queries_pipeline import _amazon_fixture
from kaggle_ecommerce_etl_spark.session import get_spark
from kaggle_ecommerce_etl_spark.sources.csv_source import (
    read_csv_with_encoding_fallback,
)


def publish_amazon_csv_dir(spark, run_dir: str, replicas: int) -> str:
    """Idempotently publish the replica-scaled messy CSV under /tmp;
    return the directory path. One headered part-file per replica."""
    tag = hashlib.md5(f"{run_dir}:amazon_csv:v1".encode()).hexdigest()[:8]
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


def main() -> None:
    replicas = sorted(
        int(r) for r in (sys.argv[1] if len(sys.argv) > 1 else "10,100").split(",")
    )
    src = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n_runs = int(os.environ.get("SPARK_GRAFT_CURVE_RUNS", "3"))
    spark = get_spark("pipeline-decade-probe")
    spark.range(10).count()

    sides = {"pipeline_amazon_clean": 0, "pipeline_amazon_flagged": 1}
    points: dict[str, dict[str, float]] = {}
    run_detail: dict[str, dict[str, list[float]]] = {}
    canaries: dict[str, float] = {}
    shuffle_canaries: dict[str, float] = {}
    fixture_rows: dict[str, int] = {}
    for r in replicas:
        bench.SF1_REPLICAS = r
        run_dir = bench._build_sf1(spark, src)
        csv_dir = publish_amazon_csv_dir(spark, run_dir, r)  # untimed
        # data-volume denominator for the ratio readers: the CSV row
        # count per point (the fixture is ~row-linear in replicas, but
        # print it so nobody has to trust that)
        fixture_rows[str(r)] = spark.read.option("header", True).csv(
            csv_dir
        ).count()
        canaries[str(r)] = min(bench.trivial_canary(spark, src) for _ in range(2))
        shuffle_canaries[str(r)] = min(
            bench.shuffle_canary(spark, src) for _ in range(2)
        )
        timings: dict[str, float] = {}
        detail: dict[str, list[float]] = {}
        for name, side in sides.items():
            runs = []
            for _ in range(n_runs):
                t0 = time.time()
                run_pipeline(spark, csv_dir, side)
                runs.append(time.time() - t0)
            timings[name] = round(min(runs), 3)
            detail[name] = [round(x, 2) for x in runs]
            print(f"# {r}x {name}: {timings[name]}s (runs {detail[name]})",
                  file=sys.stderr)
        points[str(r)] = timings
        run_detail[str(r)] = detail

    out: dict = {"points": points, "unit": "sec", "agg": f"min-of-{n_runs}",
                 "fixture_rows": fixture_rows,
                 "canary_per_point": canaries,
                 "shuffle_canary_per_point": shuffle_canaries,
                 "run_detail": run_detail}
    if len(replicas) >= 2:
        lo, hi = str(replicas[0]), str(replicas[-1])
        out[f"ratio_{hi}_over_{lo}"] = {
            q: round(points[hi][q] / points[lo][q], 2)
            for q in points[lo]
            if points[lo].get(q)
        }
        out["rows_ratio"] = round(
            fixture_rows[hi] / max(fixture_rows[lo], 1), 2
        )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
